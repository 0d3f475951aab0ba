package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native sketch expressions for the dedup/ANN family.
  *
  * Why native: the composable formulation (`transform(sequence(0,P), p ->
  * array_min(transform(toks, t -> xxhash64(concat(p,'|',t)))))`) is
  * evaluated INTERPRETED (higher-order functions never enter whole-stage
  * codegen) and allocates a concat'd string per (perm × token) — at
  * sf0.1 that single expression dominated the whole benchmark (841 of
  * 947 s). These expressions do one fused pass per row: hash each token
  * once, derive per-permutation values with a splitmix64 finalizer
  * (O(1) per perm, zero allocation), and fold n-gram shingles as rolling
  * hash chains instead of building shingle strings.
  *
  * All are deterministic pure functions of their input — safe for the
  * driver's rows-only checks; they are intentionally NOT oracle-compared
  * (hash functions are engine-specific).
  */
object Splitmix {
  /** splitmix64 finalizer — full-avalanche 64-bit mixer. */
  @inline final def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
}

/** MinHash signature over an ARRAY<STRING> of tokens.
  * `ngram = 1` sketches the token SET (duplicate tokens cannot change a
  * minimum, so set semantics are automatic); `ngram = k` sketches the
  * set of k-token shingles via rolling hash chains (order-sensitive, no
  * string building). Returns ARRAY<BIGINT> of length `perms`. */
case class TokenMinHash(child: Expression, perms: Int, ngram: Int)
  extends UnaryExpression with CodegenFallback {

  require(perms > 0 && perms <= 512, "perms must be in (0, 512]")
  require(ngram >= 1 && ngram <= 8, "ngram must be in [1, 8]")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_minhash requires ARRAY<STRING>, got ${t.simpleString}")
  }

  override def prettyName: String = "graft_minhash"

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    // 1. hash every token once
    val base = new Array[Long](n)
    var i = 0
    while (i < n) {
      base(i) = XXH64.hashUTF8String(arr.getUTF8String(i), 42L)
      i += 1
    }
    // 2. shingle hashes: rolling chain over ngram consecutive tokens
    val m = if (ngram == 1) n else math.max(n - ngram + 1, 0)
    val unit = if (ngram == 1) base
    else {
      val sh = new Array[Long](m)
      var j = 0
      while (j < m) {
        var h = base(j)
        var k = 1
        while (k < ngram) { h = Splitmix.mix(h ^ base(j + k)); k += 1 }
        sh(j) = h
        j += 1
      }
      sh
    }
    // empty doc => sentinel signature of the empty hash
    val effective = if (unit.length == 0) Array(0x27d4eb2f165667c5L) else unit
    // 3. per-perm minima via splitmix of (unitHash ^ permSeed)
    val sig = new Array[Long](perms)
    var p = 0
    while (p < perms) {
      val seed = Splitmix.mix(p.toLong * 0x9e3779b97f4a7c15L)
      var best = Long.MaxValue
      var u = 0
      while (u < effective.length) {
        val v = Splitmix.mix(effective(u) ^ seed)
        if (v < best) best = v
        u += 1
      }
      sig(p) = best
      p += 1
    }
    new GenericArrayData(sig)
  }

  override protected def withNewChildInternal(newChild: Expression)
  : TokenMinHash = copy(child = newChild)
}

/** 64-bit SimHash over an ARRAY<STRING> of tokens: one pass, 64 bit
  * counters updated per token hash, sign fold at the end. */
case class SimHash64(child: Expression)
  extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_simhash requires ARRAY<STRING>, got ${t.simpleString}")
  }

  override def prettyName: String = "graft_simhash"

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val counters = new Array[Int](64)
    var i = 0
    while (i < arr.numElements()) {
      val h = XXH64.hashUTF8String(arr.getUTF8String(i), 42L)
      var j = 0
      while (j < 64) {
        if (((h >>> j) & 1L) == 1L) counters(j) += 1 else counters(j) -= 1
        j += 1
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 64) {
      if (counters(j) > 0) out |= (1L << j)
      j += 1
    }
    java.lang.Long.valueOf(out)
  }

  override protected def withNewChildInternal(newChild: Expression)
  : SimHash64 = copy(child = newChild)
}

/** Random-hyperplane LSH bucket ids over ARRAY<DOUBLE>: `tables` hash
  * tables of `bits` sign bits each; plane component (p, d) is a
  * deterministic centered pseudo-random double from splitmix64 — no
  * stored model, no strings. Returns ARRAY<BIGINT> of length `tables`. */
case class HyperplaneLsh(child: Expression, tables: Int, bits: Int)
  extends UnaryExpression with CodegenFallback {

  require(tables > 0 && tables <= 64 && bits > 0 && bits <= 32)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_hplsh requires ARRAY<DOUBLE>, got ${t.simpleString}")
  }

  override def prettyName: String = "graft_hplsh"

  override protected def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val dims = v.numElements()
    val out = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var bucket = 0L
      var b = 0
      while (b < bits) {
        val plane = t * bits + b
        var dot = 0.0
        var d = 0
        while (d < dims) {
          // centered uniform in [-0.5, 0.5): high 53 bits as double
          val r = (Splitmix.mix(plane.toLong * 0x100000001bL + d) >>> 11)
            .toDouble / (1L << 53).toDouble - 0.5
          dot += v.getDouble(d) * r
          d += 1
        }
        if (dot > 0) bucket |= (1L << b)
        b += 1
      }
      out(t) = bucket
      t += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression)
  : HyperplaneLsh = copy(child = newChild)
}

/** Exact Jaccard similarity of two ARRAY<STRING> token sets in one
  * pass, no intermediate arrays: the composable form
  * `size(array_intersect(a,b)) / size(array_union(a,b))` allocates two
  * result arrays per pair — at millions of candidate pairs that
  * allocation dominates the dedup verify stage. Duplicate elements are
  * collapsed (set semantics), matching array_intersect/array_union.
  *
  * `failOnDivByZero` mirrors the divisor semantics of the Divide this
  * expression replaces: the registered graft_jaccard function keeps
  * the documented NULL-on-empty-union contract (false), while the
  * optimizer rewrite copies the matched Divide's own eval mode at plan
  * time (ANSI → throw, LEGACY/TRY → NULL) so swapping in for
  * `size(∩)/size(∪)` — or for a try_divide of the same shape —
  * preserves the original's behavior exactly. */
case class JaccardSim(left: Expression, right: Expression,
    failOnDivByZero: Boolean = false)
  extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
  with CodegenFallback {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(_.dataType match {
      case ArrayType(StringType, _) => true
      case _ => false
    })) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two ARRAY<STRING> arguments")

  override def prettyName: String = "graft_jaccard"

  override def nullable: Boolean = true // NULL on empty union

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    // A null ELEMENT is its own set member — the array_intersect /
    // array_union semantics this expression must match bit-for-bit
    // (reading through isNullAt matters: UnsafeArrayData returns an
    // EMPTY STRING for a null slot, which would silently merge null
    // with "").
    val seen = new java.util.HashSet[UTF8String](a.numElements() * 2)
    var aNull = false
    var i = 0
    while (i < a.numElements()) {
      if (a.isNullAt(i)) aNull = true else seen.add(a.getUTF8String(i))
      i += 1
    }
    val nA = seen.size + (if (aNull) 1 else 0)
    val inBoth = new java.util.HashSet[UTF8String]()
    val onlyB = new java.util.HashSet[UTF8String]()
    var bNull = false
    i = 0
    while (i < b.numElements()) {
      if (b.isNullAt(i)) bNull = true
      else {
        val t = b.getUTF8String(i)
        if (seen.contains(t)) inBoth.add(t) else onlyB.add(t)
      }
      i += 1
    }
    val union = nA + onlyB.size + (if (bNull && !aNull) 1 else 0)
    val inter = inBoth.size + (if (aNull && bNull) 1 else 0)
    // Empty union: non-ANSI Divide returns NULL (not IEEE NaN — NaN
    // would sort ABOVE every real similarity under Spark's NaN-largest
    // ordering); ANSI Divide throws. Reproduce whichever the plan
    // captured so the SimilarityRewrite swap is semantics-preserving.
    if (union == 0) {
      if (failOnDivByZero) throw GraftErrors.divideByZero(origin)
      null
    }
    else java.lang.Double.valueOf(inter.toDouble / union)
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): JaccardSim = copy(newLeft, newRight)
}

/** Exact Jaccard over two SORTED-ASCENDING, DISTINCT ARRAY<BIGINT>
  * columns (token hashes): two-pointer merge, O(|a|+|b|), zero
  * allocation per row. The verification fast path for LSH candidate
  * pairs at scale — hashing tokens once per DOC and shuffling 8-byte
  * longs instead of strings cuts the pair-join shuffle several-fold,
  * and the merge needs no hash set. The sorted/distinct contract is the
  * caller's (produce with `sort_array(array_distinct(transform(toks,
  * t -> xxhash64(t))))`); unsorted input yields undefined results. */
case class JaccardSortedLong(left: Expression, right: Expression)
  extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
  with CodegenFallback {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two ARRAY<BIGINT> arguments")

  override def prettyName: String = "graft_jaccard_sorted"

  override def nullable: Boolean = true // NULL on empty union

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val (na, nb) = (a.numElements(), b.numElements())
    var i = 0
    var j = 0
    var inter = 0
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    val union = na + nb - inter
    if (union == 0) null // align with graft_jaccard / Spark Divide-by-0
    else java.lang.Double.valueOf(inter.toDouble / union)
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): JaccardSortedLong = copy(newLeft, newRight)
}

/** Error construction matching Spark's own.
  *
  * ANSI Divide raises `SparkArithmeticException` with error condition
  * DIVIDE_BY_ZERO / SQLSTATE 22012 — which handlers match on
  * (`case e: SparkThrowable if e.getCondition == "DIVIDE_BY_ZERO"`,
  * PySpark's error mapping). The class is Scala-`private[spark]` but
  * its bytecode constructor is public, so build it reflectively; if the
  * shape ever changes, degrade to a plain ArithmeticException with the
  * same message rather than failing differently. */
private[functions] object GraftErrors {
  private lazy val ctor =
    try Some(Class.forName("org.apache.spark.SparkArithmeticException")
      .getConstructor(classOf[String],
        classOf[scala.collection.immutable.Map[String, String]],
        classOf[Array[org.apache.spark.QueryContext]]))
    catch { case _: Throwable => None }

  def divideByZero(origin: org.apache.spark.sql.catalyst.trees.Origin)
  : ArithmeticException = {
    val params: scala.collection.immutable.Map[String, String] =
      Map("config" -> "\"spark.sql.ansi.enabled\"")
    ctor.flatMap { c =>
      try Some(c.newInstance("DIVIDE_BY_ZERO", params,
        origin.getQueryContext).asInstanceOf[ArithmeticException])
      catch { case _: Throwable => None }
    }.getOrElse(new ArithmeticException(
      "[DIVIDE_BY_ZERO] Division by zero. Use `try_divide` to tolerate " +
        "divisor being 0 and return NULL instead. If necessary set " +
        "\"spark.sql.ansi.enabled\" to \"false\" to bypass this error."))
  }
}

/** Count of `chunkLen`-character chunks over the whitespace tokens of a
  * string — the BPE-ish subword count (`Σ ceil(tokenChars / chunkLen)`
  * over tokens split on a single space), equal by construction to
  * `regexp_count(text, '[^ ]{1,chunkLen}')`: each greedy match of that
  * class IS one chunk. One pass over the UTF-8 BYTES, zero allocation,
  * real codegen: a character is a non-continuation byte ((b & 0xC0) !=
  * 0x80 — exactly one per code point, matching the code-point counting
  * of both the Java-regex and RE2 formulations), and the ASCII space
  * 0x20 can never appear inside a multi-byte sequence. The regex form
  * costs a compiled-automaton step per character plus match-object
  * bookkeeping; this is the scan-bound token-census hot path a training
  * pipeline runs over every document, so the constant factor matters. */
case class BpeChunkCount(child: Expression, chunkLen: Int)
  extends UnaryExpression {

  require(chunkLen >= 1 && chunkLen <= 64, "chunkLen must be in [1, 64]")

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_bpe_count requires STRING, got ${t.simpleString}")
  }

  override def prettyName: String = "graft_bpe_count"

  override protected def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    val n = s.numBytes()
    var total = 0
    var run = 0
    var i = 0
    while (i < n) {
      val b = s.getByte(i)
      if (b == 0x20) {
        total += (run + chunkLen - 1) / chunkLen
        run = 0
      } else if ((b & 0xC0) != 0x80) run += 1
      i += 1
    }
    total + (run + chunkLen - 1) / chunkLen
  }

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
  : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    nullSafeCodeGen(ctx, ev, c => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val b = ctx.freshName("b")
      val run = ctx.freshName("run")
      val total = ctx.freshName("total")
      s"""
         |int $n = $c.numBytes();
         |int $total = 0; int $run = 0;
         |for (int $i = 0; $i < $n; $i++) {
         |  byte $b = $c.getByte($i);
         |  if ($b == 0x20) {
         |    $total += ($run + ${chunkLen - 1}) / $chunkLen; $run = 0;
         |  } else if (($b & 0xC0) != 0x80) { $run++; }
         |}
         |${ev.value} = $total + ($run + ${chunkLen - 1}) / $chunkLen;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression)
  : BpeChunkCount = copy(child = newChild)
}

/** Exact longest-repeated-substring via a SUFFIX AUTOMATON — the
  * within-document twin of the cross-document suffix-array pass
  * (Lee et al. 2022 use suffix structures for exact substring dedup;
  * `docs_exact_dup_spans` owns the cross-doc axis, this owns the
  * intra-doc one). O(n) states/time per document, code-point
  * alphabet so the length semantics match SQL `substr`/`length`
  * exactly (DuckDB-oracleable). A state accepts the substrings of
  * one endpos class; a state whose endpos size is >= 2 is a
  * substring occurring at least twice, so the answer is the max
  * `len` over such states. Per-row scalar work: this is exactly the
  * custom-Expression case — no shuffle, rides whole-stage codegen
  * through a static call. */
object Lrs {
  /** Minimal open-addressing int→int map: primitive parallel arrays,
    * multiplicative hash, linear probing, power-of-two growth at 3/4
    * load. Keys are code points (≥ 0), values are automaton state ids
    * (≥ 1), so −1 serves as the absent marker for both. This replaces
    * the boxed `java.util.HashMap[Integer, Integer]` transition
    * tables that made per-row allocation pathological on long
    * documents (2n+2 maps of boxed entries per row): transitions now
    * cost O(n) primitive ints per row, nothing boxed. */
  private final class IntIntMap private (
      private var keys: Array[Int], private var vals: Array[Int],
      private var n: Int) {
    def this(cap: Int) = this(Array.fill(
      Integer.highestOneBit(math.max(4, cap * 2) - 1) << 1)(-1),
      new Array[Int](Integer.highestOneBit(
        math.max(4, cap * 2) - 1) << 1), 0)
    private def mask: Int = keys.length - 1
    private def slot(k: Int): Int = (k * 0x9E3779B9) & mask
    /** The value at `k`, or −1 when absent. */
    def get(k: Int): Int = {
      var i = slot(k)
      while (true) {
        val kk = keys(i)
        if (kk == k) return vals(i)
        if (kk == -1) return -1
        i = (i + 1) & mask
      }
      -1
    }
    def put(k: Int, v: Int): Unit = {
      if ((n + 1) * 4 > keys.length * 3) grow()
      var i = slot(k)
      while (keys(i) != -1 && keys(i) != k) i = (i + 1) & mask
      if (keys(i) == -1) n += 1
      keys(i) = k; vals(i) = v
    }
    private def grow(): Unit = {
      val ok = keys; val ov = vals
      keys = Array.fill(ok.length << 1)(-1)
      vals = new Array[Int](ok.length << 1)
      n = 0
      var i = 0
      while (i < ok.length) {
        if (ok(i) != -1) put(ok(i), ov(i))
        i += 1
      }
    }
    def copy(): IntIntMap =
      new IntIntMap(keys.clone(), vals.clone(), n)
  }

  def longestRepeated(s: UTF8String): Int = {
    val cps = s.toString.codePoints().toArray
    val n = cps.length
    if (n < 2) return 0
    val maxStates = 2 * n + 2
    val len = new Array[Int](maxStates)
    val link = new Array[Int](maxStates)
    val cnt = new Array[Long](maxStates)
    val trans = new Array[IntIntMap](maxStates)
    trans(0) = new IntIntMap(4)
    link(0) = -1
    var size = 1
    var last = 0
    var i = 0
    while (i < n) {
      val c = cps(i)
      val cur = size; size += 1
      len(cur) = len(last) + 1
      cnt(cur) = 1L
      trans(cur) = new IntIntMap(4)
      var p = last
      while (p != -1 && trans(p).get(c) == -1) {
        trans(p).put(c, cur)
        p = link(p)
      }
      if (p == -1) link(cur) = 0
      else {
        val q = trans(p).get(c)
        if (len(p) + 1 == len(q)) link(cur) = q
        else {
          val clone = size; size += 1
          len(clone) = len(p) + 1
          link(clone) = link(q)
          cnt(clone) = 0L
          trans(clone) = trans(q).copy()
          while (p != -1 && trans(p).get(c) == q) {
            trans(p).put(c, clone)
            p = link(p)
          }
          link(q) = clone
          link(cur) = clone
        }
      }
      last = cur
      i += 1
    }
    // endpos sizes: counting-sort states by len (len <= n), then fold
    // each state's count into its suffix link, longest first
    val buckets = new Array[Int](n + 1)
    var v = 1
    while (v < size) { buckets(len(v)) += 1; v += 1 }
    var b = 1
    while (b <= n) { buckets(b) += buckets(b - 1); b += 1 }
    val order = new Array[Int](size - 1)
    v = 1
    while (v < size) {
      buckets(len(v)) -= 1
      order(buckets(len(v))) = v
      v += 1
    }
    var ans = 0
    var k = order.length - 1
    while (k >= 0) {
      val st = order(k)
      if (cnt(st) >= 2L && len(st) > ans) ans = len(st)
      if (link(st) > 0) cnt(link(st)) += cnt(st)
      k -= 1
    }
    ans
  }
}

/** `graft_lrs(text)` → INT: code-point length of the longest substring
  * occurring at least twice in the string (0 when none).
  *
  * Memory: O(n) primitive ints per row (suffix-automaton states plus
  * open-addressing transition arrays — nothing boxed), so the general
  * SQL-registered function is safe on long documents, not just the
  * pipeline's 120-char-capped use. Time O(n · α) with tiny constant
  * (α = probe factor ≈ 1). */
case class LongestRepeatedSubstring(child: Expression)
  extends UnaryExpression {

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_lrs requires STRING, got ${t.simpleString}")
  }

  override def prettyName: String = "graft_lrs"

  override protected def nullSafeEval(input: Any): Any =
    Lrs.longestRepeated(input.asInstanceOf[UTF8String])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
  : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.Lrs.longestRepeated($c)")

  override protected def withNewChildInternal(newChild: Expression)
  : LongestRepeatedSubstring = copy(child = newChild)
}
