package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._

/** Log-bucket quantile sketch bookkeeping shared by the builder
  * aggregate, the estimator expression and the union face — all three
  * must bucket identically, so the index math lives once, here.
  *
  * The design is the DDSketch family (Masson, Rim & Lee, "DDSketch: a
  * fast and fully-mergeable quantile sketch with relative-error
  * guarantees", VLDB 2019): a value x > 0 lands in bucket
  * ceil(log_gamma(x)) with gamma = (1+a)/(1-a), so every bucket's
  * midpoint estimate is within relative error `a` of any value it
  * holds; negative values mirror into their own store; zeros count
  * separately. The load-bearing property for this engine: the state
  * is a bucket->count map and MERGE IS ADDITION, which commutes —
  * the same data yields the bit-same sketch under any partitioning,
  * like every sketch shipped here (a t-digest's clusters depend on
  * insertion order; that is why this engine ships DDSketch-style
  * buckets instead).
  *
  * State bound: buckets span the sketch's index range lazily; real
  * data at alpha=1% needs ~2k buckets to cover 18 orders of
  * magnitude, and [[MaxBuckets]] caps the pathological case by
  * collapsing the LOWEST positive (highest-magnitude negative)
  * buckets — quantile error then degrades only at the collapsed tail,
  * the paper's collapsing variant. */
object QSketch {
  val MaxBuckets = 4096

  def gammaFor(alphaPct: Int): Double = {
    val a = alphaPct / 100.0
    (1 + a) / (1 - a)
  }

  def indexOf(x: Double, gamma: Double): Int =
    math.ceil(math.log(x) / math.log(gamma)).toInt

  /** Midpoint-in-log-space estimate for bucket i: within relative
    * error alpha of every value the bucket admits. */
  def valueOf(i: Int, gamma: Double): Double =
    2.0 * math.pow(gamma, i) / (1.0 + gamma)

  /** Buffer: (alphaPct, zeroCount, posBuckets, negBuckets); negative
    * values bucket by |x| into the mirror store. */
  final class Buf(val alphaPct: Int) {
    var zero: Long = 0L
    val pos = new java.util.TreeMap[Int, Long]()
    val neg = new java.util.TreeMap[Int, Long]()

    def total: Long =
      zero + sumOf(pos) + sumOf(neg)

    private def sumOf(m: java.util.TreeMap[Int, Long]): Long = {
      var s = 0L
      val it = m.values().iterator()
      while (it.hasNext) s += it.next()
      s
    }

    def add(x: Double, gamma: Double): Unit = {
      // NaN is ignored like NULL: it orders nowhere, so counting it in
      // ANY bucket would shift every rank (the naive fall-through
      // would bucket it as ~-1, poisoning all-positive data)
      if (x.isNaN) return
      if (x == 0.0 || math.abs(x) < 1e-300) zero += 1
      else if (x > 0) bump(pos, indexOf(x, gamma), 1L)
      else bump(neg, indexOf(-x, gamma), 1L)
      capped()
    }

    def bump(m: java.util.TreeMap[Int, Long], i: Int, n: Long): Unit =
      m.merge(i, n, (a, b) => a + b)

    def mergeFrom(o: Buf): Unit = {
      require(o.alphaPct == alphaPct,
        s"quantile sketch alpha mismatch: $alphaPct vs ${o.alphaPct}")
      zero += o.zero
      o.pos.forEach((i, n) => bump(pos, i, n))
      o.neg.forEach((i, n) => bump(neg, i, n))
      capped()
    }

    /** Collapse beyond [[QSketch.MaxBuckets]]: fold the lowest
      * positive / highest-|x| negative buckets into their surviving
      * neighbor (the tail a capped sketch gives up resolution on).
      * Only a store with >= 2 buckets collapses — folding into an
      * EXISTING neighbor is what makes each step shrink the total, so
      * the loop provably terminates (the old re-insert-at-last-minus-1
      * form kept the size constant on a one-bucket store and spun
      * forever); two single-bucket stores are far under any cap. */
    private def capped(): Unit = {
      while (pos.size + neg.size > MaxBuckets) {
        if (neg.size > 1) {
          val n = neg.remove(neg.lastKey()) // largest |x| negative
          bump(neg, neg.lastKey(), n)
        } else if (pos.size > 1) {
          val n = pos.remove(pos.firstKey()) // smallest positive
          bump(pos, pos.firstKey(), n)
        } else return
      }
    }

    /** Rank-walk quantile estimate, q in [0,1]: negatives ascend from
      * the largest |x|, then zeros, then positives. */
    def quantile(q: Double): Double = {
      val n = total
      if (n == 0) return Double.NaN
      val gamma = gammaFor(alphaPct)
      val rank = math.max(1L, math.ceil(q * n).toLong)
      var seen = 0L
      // negative store: descending bucket index = ascending value
      val negIt = neg.descendingMap().entrySet().iterator()
      while (negIt.hasNext) {
        val e = negIt.next()
        seen += e.getValue
        if (seen >= rank) return -valueOf(e.getKey, gamma)
      }
      seen += zero
      if (seen >= rank) return 0.0
      val posIt = pos.entrySet().iterator()
      while (posIt.hasNext) {
        val e = posIt.next()
        seen += e.getValue
        if (seen >= rank) return valueOf(e.getKey, gamma)
      }
      // only reachable through float edge cases; the max bucket is
      // the right answer for q = 1
      if (pos.size > 0) valueOf(pos.lastKey(), gamma)
      else if (zero > 0) 0.0
      else -valueOf(neg.firstKey(), gamma)
    }
  }

  /** Layout: alphaPct:int, zero:long, nPos:int, nNeg:int, then
    * (index:int, count:long) pairs pos-ascending, neg-ascending —
    * canonical order, so equal sketches are equal bytes. */
  def toBytes(b: Buf): Array[Byte] = {
    val bos = new ByteArrayOutputStream(16 + 12 * (b.pos.size + b.neg.size))
    val out = new DataOutputStream(bos)
    out.writeInt(b.alphaPct); out.writeLong(b.zero)
    out.writeInt(b.pos.size); out.writeInt(b.neg.size)
    b.pos.forEach((i, n) => { out.writeInt(i); out.writeLong(n) })
    b.neg.forEach((i, n) => { out.writeInt(i); out.writeLong(n) })
    out.flush()
    bos.toByteArray
  }

  def fromBytes(bytes: Array[Byte]): Buf = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val b = new Buf(in.readInt())
    b.zero = in.readLong()
    val nPos = in.readInt(); val nNeg = in.readInt()
    var i = 0
    while (i < nPos) { b.pos.put(in.readInt(), in.readLong()); i += 1 }
    i = 0
    while (i < nNeg) { b.neg.put(in.readInt(), in.readLong()); i += 1 }
    b
  }
}

/** Mergeable relative-error quantile sketch:
  * `graft_qsketch(col, alpha_pct)` → BINARY.
  *
  * The quantile sibling of the HLL/CMS/Bloom family: any quantile of
  * 100 TB from KBs of state per group, within `alpha_pct` percent
  * RELATIVE error (DDSketch's guarantee — a p99 latency of 1 s is
  * estimated within ±10 ms at alpha=1, where a rank-error sketch
  * could be off by the whole tail). Build one sketch per
  * partition/day, union across any range with
  * [[QSketchUnionAgg]] — addition commutes, so the result is
  * partition-invariant, spec-pinned like the rest of the family. */
case class QSketchAgg(child: Expression, alphaPct: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[QSketch.Buf]
  with UnaryLike[Expression] {

  override def prettyName: String = "graft_qsketch"

  override def dataType: DataType = BinaryType

  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult =
    if (alphaPct < 1 || alphaPct > 20)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName alpha_pct must be in [1, 20] percent")
    else child.dataType match {
      case DoubleType | FloatType | LongType | IntegerType |
           ShortType | _: DecimalType =>
        TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs a numeric column, got ${t.simpleString}")
    }

  @transient private lazy val gamma = QSketch.gammaFor(alphaPct)

  override def createAggregationBuffer(): QSketch.Buf =
    new QSketch.Buf(alphaPct)

  override def update(buf: QSketch.Buf, input: InternalRow): QSketch.Buf = {
    val v = child.eval(input)
    if (v != null) {
      val x = v match {
        case d: Double => d
        case f: Float => f.toDouble
        case l: Long => l.toDouble
        case i: Int => i.toDouble
        case s: Short => s.toDouble
        case dec: org.apache.spark.sql.types.Decimal => dec.toDouble
      }
      buf.add(x, gamma)
    }
    buf
  }

  override def merge(buf: QSketch.Buf, other: QSketch.Buf): QSketch.Buf = {
    buf.mergeFrom(other)
    buf
  }

  override def eval(buf: QSketch.Buf): Any = QSketch.toBytes(buf)

  override def serialize(buf: QSketch.Buf): Array[Byte] =
    QSketch.toBytes(buf)

  override def deserialize(bytes: Array[Byte]): QSketch.Buf =
    QSketch.fromBytes(bytes)

  override def withNewMutableAggBufferOffset(o: Int): QSketchAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): QSketchAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): QSketchAgg =
    copy(child = c)
}

/** `graft_qsketch_union(sketch)` → BINARY: union partial sketches
  * (persisted per partition/day) into one — the mergeability face
  * that answers a quarter's p99 from day sketches without touching
  * raw data. */
case class QSketchUnionAgg(child: Expression,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Option[QSketch.Buf]]
  with UnaryLike[Expression] {

  override def prettyName: String = "graft_qsketch_union"

  override def dataType: DataType = BinaryType

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName unions BINARY sketches, got ${child.dataType.simpleString}")

  override def createAggregationBuffer(): Option[QSketch.Buf] = None

  override def update(buf: Option[QSketch.Buf],
      input: InternalRow): Option[QSketch.Buf] = {
    val v = child.eval(input)
    if (v == null) buf
    else {
      val incoming = QSketch.fromBytes(v.asInstanceOf[Array[Byte]])
      buf match {
        case None => Some(incoming)
        case Some(b) => b.mergeFrom(incoming); buf
      }
    }
  }

  override def merge(buf: Option[QSketch.Buf],
      other: Option[QSketch.Buf]): Option[QSketch.Buf] =
    (buf, other) match {
      case (Some(a), Some(b)) => a.mergeFrom(b); buf
      case (None, o) => o
      case (o, None) => o
    }

  override def eval(buf: Option[QSketch.Buf]): Any =
    buf.map(QSketch.toBytes).orNull

  override def serialize(buf: Option[QSketch.Buf]): Array[Byte] =
    buf.map(QSketch.toBytes).getOrElse(Array.emptyByteArray)

  override def deserialize(bytes: Array[Byte]): Option[QSketch.Buf] =
    if (bytes.isEmpty) None else Some(QSketch.fromBytes(bytes))

  override def withNewMutableAggBufferOffset(o: Int): QSketchUnionAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): QSketchUnionAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): QSketchUnionAgg =
    copy(child = c)
}

/** `graft_qsketch_quantile(sketch, q)` → DOUBLE. Same decode memo as
  * the CMS/Bloom probes: consecutive rows probe the same broadcast
  * sketch bytes, so reference equality guards the re-decode. */
case class QSketchQuantile(left: Expression, right: Expression)
  extends BinaryExpression with CodegenFallback {

  override def prettyName: String = "graft_qsketch_quantile"

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != BinaryType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs a BINARY sketch, got ${left.dataType.simpleString}")
    else right.dataType match {
      case DoubleType | FloatType | _: DecimalType =>
        TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName quantile must be fractional, got ${t.simpleString}")
    }

  @transient private[this] var lastSketch: Array[Byte] = _
  @transient private[this] var lastDecoded: QSketch.Buf = _

  override protected def nullSafeEval(sketch: Any, q: Any): Any = {
    val bytes = sketch.asInstanceOf[Array[Byte]]
    if (!(bytes eq lastSketch)) {
      lastDecoded = QSketch.fromBytes(bytes)
      lastSketch = bytes
    }
    val qd = q match {
      case d: Double => d
      case f: Float => f.toDouble
      case dec: org.apache.spark.sql.types.Decimal => dec.toDouble
    }
    require(qd >= 0.0 && qd <= 1.0, s"quantile $qd outside [0, 1]")
    lastDecoded.quantile(qd)
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): QSketchQuantile = copy(newLeft, newRight)
}
