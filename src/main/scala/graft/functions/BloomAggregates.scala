package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._

/** Bloom membership sketch shared by the builder aggregate, the probe
  * expression and the snapshot manifest's per-file secondary index —
  * all three must hash identically, so the bit logic lives once, here.
  *
  * One 64-bit value hash (the same [[Hll.hashValue]] the HLL/CMS
  * family uses) splits into two independent streams; probe `i` uses
  * `h1 + i*h2` (Kirsch–Mitzenbauer double hashing: k independent-
  * enough probes for the price of one hash). Merge is bitwise OR,
  * which commutes — the same data always yields the bit-same filter
  * regardless of partitioning, like every sketch in this engine.
  *
  * The contract that makes it usable for file pruning: NO false
  * negatives, ever — an overfull filter degrades its false-POSITIVE
  * rate (pruning effectiveness), never correctness. */
object Bloom {
  /** Hard cap on filter size: 2^23 bits = 1 MB of words per sketch.
    * Like [[Cms.MaxCells]], per-group state must stay sketch-sized. */
  val MaxBits: Long = 1L << 23

  /** Bits for `n` expected items at false-positive rate `p`, capped,
    * rounded up to the next POWER OF TWO (minimum one 64-bit word).
    * Power-of-two geometry is what makes [[foldOnce]] exact: probe
    * indices are `h & (bits-1)`, and `(h & (2m-1)) & (m-1) == h & (m-1)`,
    * so OR-folding a filter in half yields bit-for-bit the filter that
    * would have been built at the half size. */
  def bitsFor(n: Long, p: Double): Int = {
    val ideal = math.ceil(-n * math.log(p) / (math.log(2) * math.log(2)))
    val capped = math.min(MaxBits.toDouble, math.max(64.0, ideal))
    var b = 64
    while (b < capped) b <<= 1
    b
  }

  /** Optimal probe count for the (possibly capped) geometry. */
  def hashesFor(bits: Int, n: Long): Int =
    math.max(1, math.min(16,
      math.round(bits.toDouble / n * math.log(2)).toInt))

  @inline private def h2of(h: Long): Long = {
    val m = Splitmix.mix(h)
    m | 1L // odd, so successive probes never collapse to one bit
  }

  def add(words: Array[Long], numHashes: Int, h: Long): Unit = {
    val mask = (words.length.toLong << 6) - 1 // bits is a power of two
    val h2 = h2of(h)
    var i = 0
    while (i < numHashes) {
      val bit = (h + i * h2) & mask
      words((bit >> 6).toInt) |= 1L << (bit & 63)
      i += 1
    }
  }

  def mightContain(words: Array[Long], numHashes: Int, h: Long): Boolean = {
    val mask = (words.length.toLong << 6) - 1
    val h2 = h2of(h)
    var i = 0
    while (i < numHashes) {
      val bit = (h + i * h2) & mask
      if ((words((bit >> 6).toInt) & (1L << (bit & 63))) == 0L) return false
      i += 1
    }
    true
  }

  /** OR-fold a power-of-two filter in half. Exact under mask indexing
    * (see [[bitsFor]]): membership is preserved bit-for-bit, only the
    * false-positive rate moves (the fill roughly doubles). */
  def foldOnce(words: Array[Long]): Array[Long] = {
    val half = words.length >> 1
    val out = new Array[Long](half)
    var i = 0
    while (i < half) { out(i) = words(i) | words(i + half); i += 1 }
    out
  }

  private def fillOf(words: Array[Long]): Double = {
    var set = 0L
    var i = 0
    while (i < words.length) {
      set += java.lang.Long.bitCount(words(i)); i += 1
    }
    set.toDouble / (words.length.toLong << 6)
  }

  /** ADAPTIVE SIZING: shrink a filter to the smallest power-of-two
    * geometry whose realized bit load still meets the declared
    * false-positive target. `p = fill^k`, so the largest admissible
    * fill is `p^(1/k)`; fold while the NEXT fold stays under it. A
    * group that carried fewer distinct items than `expectedItems`
    * (small files in the manifest index, sparse groups in SQL) ends up
    * with a proportionally small sketch — sized by what the data
    * actually was, in the same single pass, with zero effect on
    * correctness (folding is exact) and the declared fpp kept. An
    * overfull filter never folds (its fill already exceeds the
    * target) and degrades exactly as before. */
  def shrinkToTarget(words: Array[Long], numHashes: Int,
      fpp: Double): Array[Long] = {
    val targetFill = math.pow(fpp, 1.0 / numHashes)
    var cur = words
    while (cur.length > 1) {
      val folded = foldOnce(cur)
      if (fillOf(folded) > targetFill) return cur
      cur = folded
    }
    cur
  }

  /** Union = bitwise OR, in place on `into`. */
  def merge(into: Array[Long], from: Array[Long]): Array[Long] = {
    require(into.length == from.length,
      s"bloom geometry mismatch: ${into.length} vs ${from.length} words")
    var i = 0
    while (i < into.length) { into(i) |= from(i); i += 1 }
    into
  }

  /** Binary layout: numHashes:int, numWords:int, then the words —
    * self-describing like the CMS layout, so probes need no parameter
    * re-statement. */
  def toBytes(numHashes: Int, words: Array[Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream(8 + words.length * 8)
    val out = new DataOutputStream(bos)
    out.writeInt(numHashes); out.writeInt(words.length)
    var i = 0
    while (i < words.length) { out.writeLong(words(i)); i += 1 }
    out.flush()
    bos.toByteArray
  }

  def fromBytes(bytes: Array[Byte]): (Int, Array[Long]) = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val numHashes = in.readInt()
    val words = new Array[Long](in.readInt())
    var i = 0
    while (i < words.length) { words(i) = in.readLong(); i += 1 }
    (numHashes, words)
  }

  /** JVM value (what a collected Row yields) → the Catalyst value
    * [[Hll.hashValue]] hashes on the write side, so a manifest bloom
    * built by the aggregate and a probe from collected keys agree by
    * construction. */
  def toCatalyst(v: Any): Any = v match {
    case s: String => org.apache.spark.unsafe.types.UTF8String.fromString(s)
    case ts: java.sql.Timestamp =>
      org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(ts)
    case d: java.sql.Date =>
      org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaDate(d)
    // collected decimal Rows are java BigDecimal; catalyst consumers
    // (Literal validation in renderStat, most directly) reject the
    // external form, and Hll.hashValue canonicalizes both identically
    case b: java.math.BigDecimal =>
      org.apache.spark.sql.types.Decimal(b)
    case b: scala.math.BigDecimal =>
      org.apache.spark.sql.types.Decimal(b)
    case other => other
  }

  /** One-shot driver-side probe. For a probe LOOP (many keys against
    * many files), decode each filter once with [[fromBytes]] and hash
    * each key once with [[Hll.hashValue]]∘[[toCatalyst]] instead —
    * this convenience re-decodes the whole filter per call. */
  def mightContainJvm(bytes: Array[Byte], v: Any, dt: DataType): Boolean = {
    val (k, words) = fromBytes(bytes)
    mightContain(words, k, Hll.hashValue(toCatalyst(v), dt))
  }
}

/** Mergeable Bloom membership filter:
  * `graft_bloom_sketch(col, expectedItems, fpp_pct)` → BINARY.
  *
  * The membership sibling of the HLL (cardinality) / CMS (frequency)
  * sketches: answers "might THIS value occur in the group" from a
  * few KB of state. Its load-bearing use is the snapshot manifest's
  * per-file secondary index — group by file, sketch the key column,
  * store the bytes next to the min/max stats — where "no false
  * negatives" is exactly the contract file pruning needs: a probe
  * miss PROVES the file holds no matching row, a hit merely fails to
  * prune. `fpp_pct` is the target false-positive rate in PERCENT
  * (an INT, because the SQL surface passes literal ints; 3 ⇒ 0.03).
  *
  * Item types: the [[Hll.hashableTypes]] domain — join-key shapes. */
case class BloomSketchAgg(child: Expression, expectedItems: Int,
    fppPct: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]]
  with UnaryLike[Expression] {

  override def prettyName: String = "graft_bloom_sketch"

  override def dataType: DataType = BinaryType

  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult =
    if (expectedItems < 1)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName expectedItems must be positive")
    else if (fppPct < 1 || fppPct > 50)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName fpp_pct must be in [1, 50] percent")
    else if (Hll.hashable(child.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName cannot hash ${child.dataType.simpleString}")

  private def numBits: Int = Bloom.bitsFor(expectedItems, fppPct / 100.0)
  private def numHashes: Int = Bloom.hashesFor(numBits, expectedItems)

  override def createAggregationBuffer(): Array[Long] =
    new Array[Long](numBits >> 6)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null)
      Bloom.add(buf, numHashes, Hll.hashValue(v, child.dataType))
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] =
    Bloom.merge(buf, other)

  // Final evaluation shrinks to what the group's data needed (exact
  // fold, declared fpp kept — see Bloom.shrinkToTarget). Partial
  // buffers (serialize/merge) keep the full geometry: OR-merge
  // requires equal sizes, and only the FINAL filter is persisted.
  override def eval(buf: Array[Long]): Any = Bloom.toBytes(numHashes,
    Bloom.shrinkToTarget(buf, numHashes, fppPct / 100.0))

  override def serialize(buf: Array[Long]): Array[Byte] =
    Bloom.toBytes(numHashes, buf)

  override def deserialize(bytes: Array[Byte]): Array[Long] =
    Bloom.fromBytes(bytes)._2

  override def withNewMutableAggBufferOffset(o: Int): BloomSketchAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): BloomSketchAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): BloomSketchAgg =
    copy(child = c)
}

/** `graft_bloom_contains(sketch, item)` → BOOLEAN. False means
  * PROVABLY absent; true means possibly present (the bloom contract).
  * Same decode memo as [[CmsEstimate]]: in every probe shape the
  * sketch is a broadcast scalar, so consecutive rows see the same
  * byte array — reference equality guards the re-decode. */
case class BloomMightContain(left: Expression, right: Expression)
  extends BinaryExpression with CodegenFallback {

  override def prettyName: String = "graft_bloom_contains"

  override def dataType: DataType = BooleanType

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != BinaryType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs a BINARY sketch, got ${left.dataType.simpleString}")
    else if (Hll.hashable(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName cannot hash ${right.dataType.simpleString}")

  @transient private[this] var lastSketch: Array[Byte] = _
  @transient private[this] var lastDecoded: (Int, Array[Long]) = _

  override protected def nullSafeEval(sketch: Any, item: Any): Any = {
    val bytes = sketch.asInstanceOf[Array[Byte]]
    if (!(bytes eq lastSketch)) {
      lastDecoded = Bloom.fromBytes(bytes)
      lastSketch = bytes
    }
    val (k, words) = lastDecoded
    Bloom.mightContain(words, k, Hll.hashValue(item, right.dataType))
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): BloomMightContain = copy(newLeft, newRight)
}
