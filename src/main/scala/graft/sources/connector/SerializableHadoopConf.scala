package graft.sources.connector

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.conf.Configuration
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession

/** Java-serializable carrier for a session's Hadoop configuration,
  * shipped to tasks inside the broadcast [[SessionHadoopConf]] holds,
  * so per-file code never fabricates a bare `new Configuration()`
  * (which re-parses default XML locally and, on a real cluster,
  * silently drops the session's credentials and filesystem
  * implementations). Same shape as Spark's own
  * `SerializableConfiguration`, which is `private[spark]`.
  *
  * A broadcast deserializes once per executor, and in local mode its
  * `value` is the driver's own object: every task of every job of the
  * session reads ONE shared conf. Read-only use only; anything that
  * sets a key takes a copy first (the readers build theirs as a
  * `JobConf`, `nativeWriter` a `Configuration`). */
final class SerializableHadoopConf(@transient var value: Configuration)
  extends Serializable {

  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }

  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new Configuration(false)
    value.readFields(in)
  }
}

/** The session's Hadoop conf and ONE broadcast of it, built once per
  * session and shared by its metadata calls, scans and write jobs.
  * Building the conf copies the whole context conf, and minting a
  * broadcast costs milliseconds of driver time; with one small commit
  * every few seconds, a mint per scan and per write job took about a
  * tenth of the driver's time in a streamed ingest round.
  *
  * The holder is rebuilt when the session's SQL settings change (they
  * are copied into the conf) or the context's Hadoop conf does (a
  * fingerprint of its entries), so a key set on either is seen by the
  * next scan or commit. A replaced broadcast is dropped, not
  * destroyed: a job still running may read it, and the context cleaner
  * reclaims it once nothing does. */
object SessionHadoopConf {

  private final class Held(val settings: Map[String, String],
      val contextPrint: Long, val conf: Configuration,
      sc: org.apache.spark.SparkContext) {
    lazy val shipped: Broadcast[SerializableHadoopConf] = {
      minted.incrementAndGet()
      sc.broadcast(new SerializableHadoopConf(conf))
    }
  }

  private val held = new java.util.WeakHashMap[SparkSession, Held]()
  private val minted = new AtomicLong()

  /** Conf broadcasts minted in this JVM so far. */
  private[graft] def mints: Long = minted.get

  /** The session's Hadoop conf. Shared: do not set keys on it. */
  def conf(spark: SparkSession): Configuration = current(spark).conf

  /** The session's conf broadcast, minted on first use. */
  def broadcast(spark: SparkSession): Broadcast[SerializableHadoopConf] =
    current(spark).shipped

  private def current(spark: SparkSession): Held = {
    val settings = spark.sessionState.conf.getAllConfs
    val print = fingerprint(spark.sparkContext.hadoopConfiguration)
    held.synchronized {
      val h = held.get(spark)
      if (h != null && h.contextPrint == print && h.settings == settings) h
      else {
        val fresh = new Held(settings, print,
          spark.sessionState.newHadoopConf(), spark.sparkContext)
        held.put(spark, fresh)
        fresh
      }
    }
  }

  private val props = {
    val m = classOf[Configuration].getDeclaredMethod("getProps")
    m.setAccessible(true)
    m
  }

  /** Entry count and the entries' order-free hash sum, so a set, unset
    * or changed value moves it (barring a hash collision). Read off the
    * conf's own `Properties` (`getProps` is protected), which hashes its
    * entries in place: `Configuration.iterator()` copies every entry
    * into a new map first, and a lookup runs on every filesystem
    * resolution. */
  private def fingerprint(c: Configuration): Long = {
    val p = props.invoke(c).asInstanceOf[java.util.Properties]
    (p.size.toLong << 32) ^ (p.hashCode & 0xffffffffL)
  }
}
