package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Count-Min cell addressing shared by the builder aggregate and the
  * point-query expression — the two MUST hash identically or every
  * estimate is garbage, so the logic lives once, here.
  *
  * Row `d`'s index derives from one 64-bit value hash (the same
  * [[Hll.hashValue]] the HLL family uses) remixed per row with
  * the splitmix finalizer: full-avalanche, so the depth rows are
  * pairwise-independent-enough in practice while costing one multiply
  * chain each — no per-item string hashing beyond the first. */
object Cms {
  val MaxDepth = 16
  val MaxWidth = 1 << 20
  val MaxCells = 1 << 22

  @inline def index(h: Long, d: Int, width: Int): Int =
    java.lang.Math.floorMod(Splitmix.mix(h ^ (d * 0xc2b2ae3d27d4eb4fL)),
      width)

  /** Sketch binary layout: depth:int, width:int, then depth*width
    * big-endian longs. Self-describing so the estimator needs no
    * parameter re-statement (a mismatch would silently misread). */
  def toBytes(depth: Int, width: Int, counts: Array[Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream(8 + counts.length * 8)
    val out = new DataOutputStream(bos)
    out.writeInt(depth); out.writeInt(width)
    var i = 0
    while (i < counts.length) { out.writeLong(counts(i)); i += 1 }
    out.flush()
    bos.toByteArray
  }

  def fromBytes(bytes: Array[Byte]): (Int, Int, Array[Long]) = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val depth = in.readInt(); val width = in.readInt()
    val counts = new Array[Long](depth * width)
    var i = 0
    while (i < counts.length) { counts(i) = in.readLong(); i += 1 }
    (depth, width, counts)
  }
}

/** Mergeable Count-Min frequency sketch:
  * `graft_cms_sketch(col, depth, width)` → BINARY.
  *
  * The point-frequency sibling of the HLL/Misra-Gries family: a fixed
  * depth×width grid of counters, O(1) update, cell-wise-sum merge —
  * the shape that answers "how often does THIS item occur in 100 TB"
  * from a kilobyte of state per group without a full GROUP BY. Unlike
  * Misra-Gries it answers queries about ANY item after the fact (MG
  * keeps only survivors), at the price of overestimation: an estimate
  * is never below the true count and exceeds it by more than
  * 2n/width with probability at most (1/2)^depth — both bounds are
  * spec-pinned. Deterministic by construction (sums commute), so the
  * same data always yields the bit-same sketch regardless of
  * partitioning — also spec-pinned.
  *
  * Item types: STRING, BIGINT, INT (the [[Hll.hashValue]]
  * domain is wider; these are the ones the fixture exercises). */
case class CmsSketchAgg(child: Expression, depth: Int, width: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]]
  with UnaryLike[Expression] {

  override def prettyName: String = "graft_cms_sketch"

  override def dataType: DataType = BinaryType

  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult =
    if (depth < 1 || depth > Cms.MaxDepth)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName depth must be in [1, ${Cms.MaxDepth}]")
    else if (width < 2 || width > Cms.MaxWidth)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName width must be in [2, ${Cms.MaxWidth}]")
    else if (depth.toLong * width > Cms.MaxCells)
      // each GROUP holds a depth*width long grid; per-group state must
      // stay sketch-sized or a wide groupBy OOMs the executors
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName depth*width must be <= ${Cms.MaxCells} " +
          "(32 MB of counters per group)")
    else child.dataType match {
      case StringType | LongType | IntegerType =>
        TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName supports STRING/BIGINT/INT items, got ${t.simpleString}")
    }

  override def createAggregationBuffer(): Array[Long] =
    new Array[Long](depth * width)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v == null) return buf
    val h = Hll.hashValue(v, child.dataType)
    var d = 0
    while (d < depth) {
      buf(d * width + Cms.index(h, d, width)) += 1L
      d += 1
    }
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < buf.length) { buf(i) += other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any =
    Cms.toBytes(depth, width, buf)

  override def serialize(buf: Array[Long]): Array[Byte] =
    Cms.toBytes(depth, width, buf)

  override def deserialize(bytes: Array[Byte]): Array[Long] =
    Cms.fromBytes(bytes)._3

  override def withNewMutableAggBufferOffset(o: Int): CmsSketchAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CmsSketchAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): CmsSketchAgg =
    copy(child = c)
}

/** Point query against a Count-Min sketch:
  * `graft_cms_est(sketch, item)` → BIGINT (min over the depth cells).
  * Reads depth/width from the sketch's own header, so the only way to
  * misuse it is an item type different from the build side — which
  * changes the hash and is on the caller, same as every CMS library.
  * CodegenFallback: runs once per (sketch, probe) pair after the
  * aggregation, never in the scan hot path. */
case class CmsEstimate(left: Expression, right: Expression)
  extends BinaryExpression with CodegenFallback {

  override def prettyName: String = "graft_cms_est"

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != BinaryType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs a BINARY sketch, got ${left.dataType.simpleString}")
    else right.dataType match {
      case StringType | LongType | IntegerType =>
        TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName supports STRING/BIGINT/INT probes, got ${t.simpleString}")
    }

  // decode memo: in every probe shape here the sketch is a broadcast
  // scalar, so consecutive rows see the SAME byte array — re-decoding
  // depth*width longs per row would turn an O(depth) lookup into an
  // O(sketch) allocation storm. Reference equality is the guard: a
  // different array decodes fresh, so a miss only costs what the
  // unmemoized path always paid.
  @transient private[this] var lastSketch: Array[Byte] = _
  @transient private[this] var lastDecoded: (Int, Int, Array[Long]) = _

  override protected def nullSafeEval(sketch: Any, item: Any): Any = {
    val bytes = sketch.asInstanceOf[Array[Byte]]
    if (!(bytes eq lastSketch)) {
      lastDecoded = Cms.fromBytes(bytes)
      lastSketch = bytes
    }
    val (depth, width, counts) = lastDecoded
    val h = Hll.hashValue(item, right.dataType)
    var est = Long.MaxValue
    var d = 0
    while (d < depth) {
      val c = counts(d * width + Cms.index(h, d, width))
      if (c < est) est = c
      d += 1
    }
    est
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): CmsEstimate = copy(newLeft, newRight)
}

/** Mergeable bottom-k (min-wise) distinct sample:
  * `graft_bottomk(col, k)` → ARRAY<item>, the k DISTINCT items with
  * the smallest 64-bit hash, sorted by hash.
  *
  * The deterministic answer to "give me a uniform sample of distinct
  * values at 100 TB": because "smallest k hashes" commutes with union,
  * partial buffers merge exactly and the result is independent of
  * partitioning — a seeded reservoir sample is NOT (merge order leaks
  * into the sample), which is why this engine ships bottom-k instead.
  * Same sketch family as KMV cardinality estimators; with k ≥ NDV it
  * degrades gracefully to the exact distinct set (spec-pinned).
  * Distinct items colliding on the full 64-bit hash would alias; at
  * 2^-64 per pair that is the standard accepted risk. */
case class BottomKAgg(child: Expression, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.TreeMap[Long, Any]]
  with UnaryLike[Expression] {

  override def prettyName: String = "graft_bottomk"

  override def dataType: DataType =
    ArrayType(child.dataType, containsNull = false)

  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult =
    if (k < 1 || k > 100000)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName k must be in [1, 100000]")
    else child.dataType match {
      case StringType | LongType | IntegerType =>
        TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName supports STRING/BIGINT/INT items, got ${t.simpleString}")
    }

  override def createAggregationBuffer(): java.util.TreeMap[Long, Any] =
    new java.util.TreeMap[Long, Any]()

  private def offer(buf: java.util.TreeMap[Long, Any], h: Long,
      v: => Any): Unit = {
    if (buf.containsKey(h)) return
    if (buf.size < k) buf.put(h, v)
    else if (h < buf.lastKey()) { buf.put(h, v); buf.remove(buf.lastKey()) }
  }

  override def update(buf: java.util.TreeMap[Long, Any],
      input: InternalRow): java.util.TreeMap[Long, Any] = {
    val v = child.eval(input)
    if (v == null) return buf
    val h = Hll.hashValue(v, child.dataType)
    // UTF8String from an unsafe row points into a reused buffer — copy
    // before retaining it in the sketch
    offer(buf, h, v match {
      case s: UTF8String => s.clone()
      case other => other
    })
    buf
  }

  override def merge(buf: java.util.TreeMap[Long, Any],
      other: java.util.TreeMap[Long, Any]): java.util.TreeMap[Long, Any] = {
    val it = other.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      offer(buf, e.getKey, e.getValue)
    }
    buf
  }

  override def eval(buf: java.util.TreeMap[Long, Any]): Any =
    new GenericArrayData(buf.values().toArray) // TreeMap: hash-ascending

  override def serialize(buf: java.util.TreeMap[Long, Any]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    val it = buf.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      out.writeLong(e.getKey)
      e.getValue match {
        case s: UTF8String =>
          val b = s.getBytes
          out.writeInt(b.length); out.write(b)
        case l: Long => out.writeLong(l)
        case i: Int => out.writeInt(i)
      }
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte])
  : java.util.TreeMap[Long, Any] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = new java.util.TreeMap[Long, Any]()
    var i = 0
    while (i < n) {
      val h = in.readLong()
      val v: Any = child.dataType match {
        case StringType =>
          val len = in.readInt()
          val b = new Array[Byte](len)
          in.readFully(b)
          UTF8String.fromBytes(b)
        case LongType => in.readLong()
        case IntegerType => in.readInt()
        case t => throw new IllegalStateException(s"bad item type $t")
      }
      buf.put(h, v)
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): BottomKAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): BottomKAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): BottomKAgg =
    copy(child = c)
}
