package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Mergeable HyperLogLog aggregates (SURVEY §2.7 candidate; the
  * mergeable-sketch path for 100 TB rollups).
  *
  * Three faces of one sketch:
  *  - `graft_hll(col[, p])`         → BIGINT cardinality estimate
  *  - `graft_hll_sketch(col[, p])`  → BINARY registers (persistable)
  *  - `graft_hll_union(sk[, p])`    → BIGINT estimate from sketches
  *
  * The union face is the point: persist one sketch per partition/day,
  * then union across any time range without touching raw data —
  * `TypedImperativeAggregate.merge` is the same register-max whether it
  * merges partial buffers inside one query or day-sketches across a
  * year. Dense layout (2^p byte registers, default p=12 → 4 KB,
  * ~1.6% rel. error), classic bias correction with linear counting for
  * the small range; 64-bit input hash needs no large-range correction.
  */
object Hll {
  val DefaultPrecision = 12

  /** Add one hashed value to the register array (m = regs.length = 2^p). */
  def add(regs: Array[Byte], h: Long): Unit = {
    val p = java.lang.Integer.numberOfTrailingZeros(regs.length)
    val idx = (h >>> (64 - p)).toInt
    val w = h << p
    val rank =
      if (w == 0L) 64 - p + 1
      else java.lang.Long.numberOfLeadingZeros(w) + 1
    if (rank > (regs(idx) & 0xff)) regs(idx) = rank.toByte
  }

  /** Union = element-wise register max, in place on `into`. */
  def merge(into: Array[Byte], from: Array[Byte]): Array[Byte] = {
    require(into.length == from.length,
      s"sketch precision mismatch: ${into.length} vs ${from.length} registers")
    var i = 0
    while (i < into.length) {
      if ((from(i) & 0xff) > (into(i) & 0xff)) into(i) = from(i)
      i += 1
    }
    into
  }

  def estimate(regs: Array[Byte]): Long = {
    val m = regs.length
    var harm = 0.0
    var zeros = 0
    var i = 0
    while (i < m) {
      val r = regs(i) & 0xff
      harm += 1.0 / (1L << r).toDouble
      if (r == 0) zeros += 1
      i += 1
    }
    val alpha = m match {
      case 16 => 0.673
      case 32 => 0.697
      case 64 => 0.709
      case _ => 0.7213 / (1.0 + 1.079 / m)
    }
    var e = alpha * m.toDouble * m.toDouble / harm
    if (e <= 2.5 * m && zeros > 0)
      e = m * math.log(m.toDouble / zeros)
    math.round(e)
  }

  private[graft] val hashableTypes: Set[DataType] = Set(StringType,
    LongType, IntegerType, ShortType, ByteType, BooleanType, DateType,
    TimestampType, DoubleType, FloatType)

  /** The full hashable domain: the exact-type set plus every
    * DecimalType (parametric, so a Set membership can't carry it).
    * Decimals hash by canonical numeric value — scale-normalized, so
    * the same value sketches identically before and after a type
    * widening (decimal(12,2) -> decimal(24,2) is metadata-only and
    * the recorded NDV registers stay mergeable). */
  private[graft] def hashable(dt: DataType): Boolean =
    hashableTypes.contains(dt) || dt.isInstanceOf[DecimalType]

  /** 64-bit hash of a non-null catalyst value of a hashable type. */
  def hashValue(v: Any, dt: DataType): Long = dt match {
    case StringType => XXH64.hashUTF8String(v.asInstanceOf[UTF8String], 42L)
    case LongType | TimestampType => XXH64.hashLong(v.asInstanceOf[Long], 42L)
    case IntegerType | DateType => XXH64.hashLong(v.asInstanceOf[Int].toLong, 42L)
    case ShortType => XXH64.hashLong(v.asInstanceOf[Short].toLong, 42L)
    case ByteType => XXH64.hashLong(v.asInstanceOf[Byte].toLong, 42L)
    case BooleanType => XXH64.hashLong(if (v.asInstanceOf[Boolean]) 1L else 0L, 42L)
    case DoubleType => XXH64.hashLong(
      java.lang.Double.doubleToLongBits(v.asInstanceOf[Double]), 42L)
    case FloatType => XXH64.hashLong(
      java.lang.Float.floatToIntBits(v.asInstanceOf[Float]).toLong, 42L)
    case _: DecimalType =>
      // canonical value hash: strip trailing zeros so 5.10 at scale 2
      // and 5.1 at scale 1 (the same number under widening) collide;
      // plain-string form keeps full precision past 64-bit unscaled.
      // Accepts the external forms too — the initial-default fill
      // hashes rendered literals, not catalyst values.
      val bd = (v match {
        case d: org.apache.spark.sql.types.Decimal => d.toJavaBigDecimal
        case b: java.math.BigDecimal => b
        case b: scala.math.BigDecimal => b.bigDecimal
        case other => throw new IllegalArgumentException(
          s"unhashable decimal representation ${other.getClass}")
      }).stripTrailingZeros()
      XXH64.hashUTF8String(UTF8String.fromString(bd.toPlainString), 42L)
    case t => throw new IllegalArgumentException(s"unhashable type $t")
  }
}

/** Shared shape of the three HLL faces: buffer = raw register bytes. */
abstract class HllAggBase extends TypedImperativeAggregate[Array[Byte]]
  with UnaryLike[Expression] {

  def precision: Int

  /** Analysis-time precision validation — NOT a constructor `require`:
    * executor-side Java deserialization re-runs this superclass
    * constructor before the case-class fields are set, so a body
    * `require(precision...)` sees 0 and kills the task. */
  protected final def checkPrecision(): TypeCheckResult =
    if (precision >= 4 && precision <= 16) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName precision must be in [4, 16], got $precision")

  override def createAggregationBuffer(): Array[Byte] =
    new Array[Byte](1 << precision)

  override def merge(buffer: Array[Byte], input: Array[Byte]): Array[Byte] =
    Hll.merge(buffer, input)

  override def serialize(buffer: Array[Byte]): Array[Byte] = buffer

  override def deserialize(bytes: Array[Byte]): Array[Byte] = bytes

  override def nullable: Boolean = false

  /** Shared value-hashing update for the two sketch-building faces
    * (the union face overrides with sketch-merge semantics). */
  override def update(buffer: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v != null) Hll.add(buffer, Hll.hashValue(v, child.dataType))
    buffer
  }

  override def checkInputDataTypes(): TypeCheckResult = {
    val p = checkPrecision()
    if (p != TypeCheckResult.TypeCheckSuccess) p
    else if (Hll.hashable(child.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName cannot hash ${child.dataType.simpleString}")
  }
}

/** `graft_hll(col, p)` → BIGINT estimated distinct count of col. */
case class HllCardinality(child: Expression, precision: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends HllAggBase {

  override def prettyName: String = "graft_hll"
  override def dataType: DataType = LongType

  override def eval(buffer: Array[Byte]): Any = Hll.estimate(buffer)

  override def withNewMutableAggBufferOffset(o: Int): HllCardinality =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): HllCardinality =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): HllCardinality =
    copy(child = c)
}

/** `graft_hll_sketch(col, p)` → BINARY registers, persistable and
  * unionable later with `graft_hll_union`. */
case class HllSketchAgg(child: Expression, precision: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends HllAggBase {

  override def prettyName: String = "graft_hll_sketch"
  override def dataType: DataType = BinaryType

  override def eval(buffer: Array[Byte]): Any = buffer.clone()

  override def withNewMutableAggBufferOffset(o: Int): HllSketchAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): HllSketchAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): HllSketchAgg =
    copy(child = c)
}

/** `graft_hll_union(sketch[, p])` → BIGINT estimate over unioned BINARY
  * sketches (the cross-partition / cross-day rollup face).
  * `precisionExplicit` records whether the user passed `p`: with a
  * defaulted precision the union ADOPTS the incoming sketches' size,
  * but an explicit `p` that contradicts the data must fail fast, not
  * silently proceed at the sketches' (coarser) accuracy. */
case class HllUnionAgg(child: Expression, precision: Int,
    precisionExplicit: Boolean = false,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends HllAggBase {

  override def prettyName: String = "graft_hll_union"
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = {
    val p = checkPrecision()
    if (p != TypeCheckResult.TypeCheckSuccess) p
    else child.dataType match {
      case BinaryType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires BINARY sketches, got ${t.simpleString}")
    }
  }

  /** Adopt the incoming sketch's size while the buffer is still pristine
    * (all-zero) — only when `p` was defaulted: `graft_hll_union(sketch)`
    * then works on sketches built with any precision. An explicit `p`
    * disagreeing with the data, or a genuine precision mix within one
    * group, still fails fast in Hll.merge. */
  private def adopting(buffer: Array[Byte],
      in: Array[Byte]): Array[Byte] =
    if (!precisionExplicit && in.length != buffer.length &&
        buffer.forall(_ == 0)) in.clone()
    else Hll.merge(buffer, in)

  override def update(buffer: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v == null) buffer
    else adopting(buffer, v.asInstanceOf[Array[Byte]])
  }

  override def merge(buffer: Array[Byte], input: Array[Byte]): Array[Byte] =
    if (input.forall(_ == 0)) buffer // other side never saw a sketch
    else adopting(buffer, input)

  override def eval(buffer: Array[Byte]): Any = Hll.estimate(buffer)

  override def withNewMutableAggBufferOffset(o: Int): HllUnionAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): HllUnionAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): HllUnionAgg =
    copy(child = c)
}

/** `graft_hll_merge(a, b)` → BINARY: elementwise register max of two
  * sketches of EQUAL precision — the SCALAR face of the union, for
  * incremental view maintenance where the old and delta sketches meet
  * in one JOINED ROW (not one aggregation group). Copies the left
  * side first; inputs are never mutated. Mixed precisions fail fast
  * (Hll.merge's contract). */
case class HllMergeScalar(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = BinaryType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, BinaryType) => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (BINARY, BINARY), got (" +
          s"${left.dataType.simpleString}, ${right.dataType.simpleString})")
    }

  override def prettyName: String = "graft_hll_merge"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    Hll.merge(a.asInstanceOf[Array[Byte]].clone(),
      b.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.Hll.merge((byte[]) $a.clone(), $b)")

  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): HllMergeScalar = copy(l, r)
}

/** `graft_hll_estimate(sketch)` → BIGINT: the cardinality estimate of
  * one persisted register array — the scalar read face for sketch
  * COLUMNS (a maintained view's `hll_<c>` → its served `ndv_<c>`). */
case class HllEstimateScalar(child: Expression)
  extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case BinaryType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires BINARY, got ${t.simpleString}")
    }

  override def prettyName: String = "graft_hll_estimate"

  override protected def nullSafeEval(s: Any): Any =
    Hll.estimate(s.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Hll.estimate($c)")

  override protected def withNewChildInternal(c: Expression)
  : HllEstimateScalar = copy(c)
}
