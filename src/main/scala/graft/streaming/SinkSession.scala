package graft.streaming

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SQLContext, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.sources.{BaseRelation, TableScan}
import org.apache.spark.sql.types.StructType

/** Runs `foreachBatch` sink bodies on the session that BUILT the sink,
  * not on the per-query clone the micro-batch arrives on.
  *
  * Why: every streaming query start clones its session, and each clone
  * gets its own artifact state, so its tasks run under a fresh
  * per-session classloader on the executors. Spark's codegen cache is
  * keyed on (context classloader, source text), so a sink body whose
  * jobs run on the clone recompiles every generated class it uses on
  * every query start — for an AvailableNow ingest round (one query
  * start per round) that was ~38 Janino compiles per round, 37 of them
  * byte-identical to the previous round's. Run on the owner session,
  * the same jobs hit the cache from the second round on.
  *
  * The micro-batch moves without a row conversion: a `TableScan`
  * relation with `needConversion = false` whose scan is the batch's own
  * `queryExecution.toRdd`, so the micro-batch plan (including any
  * `observe()` metrics the stream reports) runs exactly once per
  * evaluation, as before, only now inside the owner session's jobs. */
object SinkSession {

  /** A `foreachBatch` function that hands `body` the owner session and
    * the micro-batch re-rooted on it, with the owner as the active
    * session while `body` runs. Every job the body starts — the
    * emptiness check, dedup and persist included — runs on `owner`. */
  def foreachBatch(owner: SparkSession)(
      body: (SparkSession, DataFrame, Long) => Unit)
  : (DataFrame, Long) => Unit = (batch, batchId) => {
    val prev = SparkSession.getActiveSession
    SparkSession.setActiveSession(owner)
    // the batch's own size estimate, so join planning over the adopted
    // batch sees the same statistics the clone's plan had
    try body(owner, owner.baseRelationToDataFrame(new RowsRelation(
      owner.sqlContext, batch.schema,
      () => batch.queryExecution.optimizedPlan.stats.sizeInBytes
        .min(BigInt(Long.MaxValue)).toLong,
      () => batch.queryExecution.toRdd)), batchId)
    finally prev.fold(SparkSession.clearActiveSession())(
      SparkSession.setActiveSession)
  }

  /** Rows that are already catalyst rows, scanned as a relation of
    * `sqlContext`'s session: each scan calls `rows`, and each
    * `baseRelationToDataFrame` over it is a new frame with its own
    * attribute ids. `size` is asked only when the planner needs it. */
  private[graft] final class RowsRelation(val sqlContext: SQLContext,
      override val schema: StructType, size: () => Long,
      rows: () => RDD[InternalRow]) extends BaseRelation with TableScan {
    override lazy val sizeInBytes: Long = size()
    override def needConversion: Boolean = false
    // rows stay InternalRow: needConversion = false tells the scan so
    override def buildScan(): RDD[Row] = rows().asInstanceOf[RDD[Row]]
  }
}
