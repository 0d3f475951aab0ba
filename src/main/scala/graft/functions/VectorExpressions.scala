package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, QuaternaryExpression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, DoubleType}

/** Native Catalyst expressions for vector math (builder brief: custom
  * `Expression` with `doGenCode` beats a Scala UDF).
  *
  * `CosineSim` computes cosine similarity between two ARRAY<DOUBLE>
  * columns in a single fused loop, with real Java codegen — no
  * boxing/serialization, stays inside whole-stage codegen. The
  * higher-order-function formulation (`zip_with` + `aggregate`, used as
  * the portable baseline in graft.operators.Similarity) allocates an
  * intermediate array and evaluates a lambda per element; this
  * expression is the hot-path replacement when similarity search
  * dominates a job (benchmarked in Bench via knn_bruteforce_native).
  */
case class CosineSim(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    VectorFunctions.checkDoubleArrays(prettyName, left, right)

  override def dataType: DataType = DoubleType

  override def nullable: Boolean = true

  override def prettyName: String = "graft_cosine"

  // NULL contract (same family rule as DotProduct): a dimension
  // mismatch or a null element yields NULL, never a confident number
  // computed from a truncated prefix — dimension bugs in embedding
  // pipelines must surface as visible NULLs. Zero-norm inputs are NULL
  // too (cosine undefined).
  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = a.getDouble(i)
      val y = b.getDouble(i)
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) null else java.lang.Double.valueOf(dot / denom)
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val denom = ctx.freshName("denom")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) { ${ev.isNull} = true; }
         |else {
         |  double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    double $x = $a.getDouble($i);
         |    double $y = $b.getDouble($i);
         |    $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |  }
         |  if (!${ev.isNull}) {
         |    double $denom = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
         |    if ($denom == 0.0) { ${ev.isNull} = true; }
         |    else { ${ev.value} = $dot / $denom; }
         |  }
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): CosineSim = copy(newLeft, newRight)
}

/** Dot product twin of [[CosineSim]] (no normalization) — for
  * pre-normalized vector corpora where cosine == dot.
  *
  * NULL semantics mirror the higher-order formulation
  * `aggregate(zip_with(a,b,*),0,+)` exactly — zip_with null-pads the
  * shorter array and any null element poisons the sum — so the
  * [[graft.plans.SimilarityRewrite]] swap is semantics-preserving:
  * length mismatch or a null element yields NULL, never a number. */
case class DotProduct(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    VectorFunctions.checkDoubleArrays(prettyName, left, right)

  override def dataType: DataType = DoubleType

  override def nullable: Boolean = true

  override def prettyName: String = "graft_dot"

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null
    var dot = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      dot += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    java.lang.Double.valueOf(dot)
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) { ${ev.isNull} = true; }
         |else {
         |  double $dot = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $dot += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $dot; }
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): DotProduct = copy(newLeft, newRight)
}

/** Matrix–vector rotate for the OPQ/PCA family:
  * `graft_rotate(v: ARRAY<DOUBLE>, rot: ARRAY<ARRAY<DOUBLE>>)` →
  * `ARRAY<DOUBLE>` with out[j] = Σ_i v[i]·rot[i][j] (row-major,
  * vector-on-the-left — the [[graft.operators.Similarity]] rotation
  * convention). The higher-order formulation
  * (`transform(seq, j -> aggregate(seq, ...))`) evaluates d²
  * interpreted lambdas PER ROW; this is one fused primitive-double
  * loop with real codegen, which is what makes rotating a full
  * corpus (the OPQ encode pass) a scan-speed operation.
  *
  * NULL contract (family rule): ragged/mismatched shapes or any null
  * element yield NULL, never a number from a truncated prefix. */
case class VecRotate(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _),
            ArrayType(ArrayType(DoubleType, _), _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (ARRAY<DOUBLE>, ARRAY<ARRAY<DOUBLE>>), " +
          s"got (${l.simpleString}, ${r.simpleString})")
    }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def nullable: Boolean = true

  override def prettyName: String = "graft_rotate"

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val v = l.asInstanceOf[ArrayData]
    val rot = r.asInstanceOf[ArrayData]
    val n = v.numElements()
    if (rot.numElements() != n || n == 0) return null
    val dOut = rot.getArray(0).numElements()
    val out = new Array[Double](dOut)
    var i = 0
    while (i < n) {
      if (v.isNullAt(i) || rot.isNullAt(i)) return null
      val xi = v.getDouble(i)
      val ri = rot.getArray(i)
      if (ri.numElements() != dOut) return null
      var j = 0
      while (j < dOut) {
        if (ri.isNullAt(j)) return null
        out(j) += xi * ri.getDouble(j)
        j += 1
      }
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ad = "org.apache.spark.sql.catalyst.util.ArrayData"
    val uad = "org.apache.spark.sql.catalyst.expressions.UnsafeArrayData"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val dout = ctx.freshName("dout")
      val bad = ctx.freshName("bad")
      val out = ctx.freshName("out")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val xi = ctx.freshName("xi")
      val ri = ctx.freshName("ri")
      s"""
         |int $n = $a.numElements();
         |boolean $bad = ($b.numElements() != $n || $n == 0);
         |int $dout = $bad ? 0 : $b.getArray(0).numElements();
         |double[] $out = new double[$dout];
         |for (int $i = 0; $i < $n && !$bad; $i++) {
         |  if ($a.isNullAt($i) || $b.isNullAt($i)) { $bad = true; break; }
         |  double $xi = $a.getDouble($i);
         |  $ad $ri = $b.getArray($i);
         |  if ($ri.numElements() != $dout) { $bad = true; break; }
         |  for (int $j = 0; $j < $dout; $j++) {
         |    if ($ri.isNullAt($j)) { $bad = true; break; }
         |    $out[$j] += $xi * $ri.getDouble($j);
         |  }
         |}
         |if ($bad) { ${ev.isNull} = true; }
         |else { ${ev.value} = $uad.fromPrimitiveArray($out); }
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): VecRotate = copy(newLeft, newRight)
}

/** Map-side argmin over a broadcast centroid model:
  * `graft_nearest(v: ARRAY<DOUBLE>, cents: ARRAY<ARRAY<DOUBLE>>)` →
  * `STRUCT<cid: INT, csim: DOUBLE>` where `cid` is the index of the
  * centroid with the smallest squared Euclidean distance to `v`
  * (ties keep the LOW cid — the same order `min(struct(d2, cid, …))`
  * yields) and `csim` is the cosine of `v` against that winning
  * centroid (NULL on a zero norm, same contract as [[CosineSim]]).
  *
  * This exists so k-means ASSIGNMENT is a pure scan: the r14 plan
  * expanded every row ×k through `crossJoin(broadcast(centroids))`
  * and then shuffled the full corpus through a `groupBy(vec_id)`
  * argmin — an Exchange that at 100 TB dominates the query. The
  * argmin of a row against a k×dim broadcast model is map-side work;
  * this expression computes it in one fused primitive-double loop
  * inside whole-stage codegen, so assignment costs exactly one scan
  * with zero Exchange at any scale.
  *
  * FP order matches the plan it replaces bit-for-bit: d2 accumulates
  * squared diffs in index order (as `aggregate(zip_with(...))` did)
  * and dot/normV/normC accumulate in index order in independent
  * accumulators (as [[CosineSim]] does), so assignments and cosines
  * are unchanged.
  *
  * NULL contract (family rule): an empty model, a dimension mismatch
  * on ANY centroid, or a null element anywhere yields NULL — never a
  * number computed from a truncated prefix. */
case class NearestCentroid(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _),
            ArrayType(ArrayType(DoubleType, _), _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (ARRAY<DOUBLE>, ARRAY<ARRAY<DOUBLE>>), " +
          s"got (${l.simpleString}, ${r.simpleString})")
    }

  override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("cid",
      org.apache.spark.sql.types.IntegerType, nullable = false),
    org.apache.spark.sql.types.StructField("csim", DoubleType,
      nullable = true)))

  override def nullable: Boolean = true

  override def prettyName: String = "graft_nearest"

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val v = l.asInstanceOf[ArrayData]
    val cs = r.asInstanceOf[ArrayData]
    val k = cs.numElements()
    val n = v.numElements()
    if (k == 0) return null
    var na = 0.0
    var i = 0
    while (i < n) {
      if (v.isNullAt(i)) return null
      val x = v.getDouble(i); na += x * x; i += 1
    }
    var best = -1; var bestD = Double.MaxValue
    var bDot = 0.0; var bNb = 0.0
    var c = 0
    while (c < k) {
      if (cs.isNullAt(c)) return null
      val cent = cs.getArray(c)
      if (cent.numElements() != n) return null
      var d2 = 0.0; var dot = 0.0; var nb = 0.0
      var j = 0
      while (j < n) {
        if (cent.isNullAt(j)) return null
        val x = v.getDouble(j); val y = cent.getDouble(j)
        val t = x - y
        d2 += t * t; dot += x * y; nb += y * y
        j += 1
      }
      if (d2 < bestD) { bestD = d2; best = c; bDot = dot; bNb = nb }
      c += 1
    }
    val denom = math.sqrt(na) * math.sqrt(bNb)
    val csim: Any =
      if (denom == 0.0) null else java.lang.Double.valueOf(bDot / denom)
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](best, csim))
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ad = "org.apache.spark.sql.catalyst.util.ArrayData"
    val gir = "org.apache.spark.sql.catalyst.expressions.GenericInternalRow"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val k = ctx.freshName("k")
      val n = ctx.freshName("n")
      val bad = ctx.freshName("bad")
      val na = ctx.freshName("na")
      val i = ctx.freshName("i")
      val c = ctx.freshName("c")
      val j = ctx.freshName("j")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val t = ctx.freshName("t")
      val cent = ctx.freshName("cent")
      val d2 = ctx.freshName("d2")
      val dot = ctx.freshName("dot")
      val nb = ctx.freshName("nb")
      val best = ctx.freshName("best")
      val bestD = ctx.freshName("bestD")
      val bDot = ctx.freshName("bDot")
      val bNb = ctx.freshName("bNb")
      val denom = ctx.freshName("denom")
      val vals = ctx.freshName("vals")
      s"""
         |int $k = $b.numElements();
         |int $n = $a.numElements();
         |boolean $bad = ($k == 0);
         |double $na = 0.0;
         |for (int $i = 0; $i < $n && !$bad; $i++) {
         |  if ($a.isNullAt($i)) { $bad = true; break; }
         |  double $x = $a.getDouble($i); $na += $x * $x;
         |}
         |int $best = -1; double $bestD = Double.MAX_VALUE;
         |double $bDot = 0.0; double $bNb = 0.0;
         |for (int $c = 0; $c < $k && !$bad; $c++) {
         |  if ($b.isNullAt($c)) { $bad = true; break; }
         |  $ad $cent = $b.getArray($c);
         |  if ($cent.numElements() != $n) { $bad = true; break; }
         |  double $d2 = 0.0; double $dot = 0.0; double $nb = 0.0;
         |  for (int $j = 0; $j < $n; $j++) {
         |    if ($cent.isNullAt($j)) { $bad = true; break; }
         |    double $x = $a.getDouble($j);
         |    double $y = $cent.getDouble($j);
         |    double $t = $x - $y;
         |    $d2 += $t * $t; $dot += $x * $y; $nb += $y * $y;
         |  }
         |  if (!$bad && $d2 < $bestD) {
         |    $bestD = $d2; $best = $c; $bDot = $dot; $bNb = $nb;
         |  }
         |}
         |if ($bad) { ${ev.isNull} = true; }
         |else {
         |  double $denom = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($bNb);
         |  Object[] $vals = new Object[2];
         |  $vals[0] = java.lang.Integer.valueOf($best);
         |  $vals[1] = ($denom == 0.0) ? null
         |    : (Object) java.lang.Double.valueOf($bDot / $denom);
         |  ${ev.value} = new $gir($vals);
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): NearestCentroid = copy(newLeft, newRight)
}

/** SQ8 scalar-quantizer ENCODE (the FAISS ScalarQuantizer QT_8bit
  * model): `graft_sq8_encode(v, lo, hi)` → BINARY of |v| bytes, byte i
  * = round(255·(v[i]−lo[i])/(hi[i]−lo[i])) clamped to [0, 255]
  * (values outside the trained range — late adds — saturate; a
  * degenerate dimension hi==lo pins to 0 and decodes back to lo).
  * 8 B/dim doubles become 1 B/dim codes — the 8× storage cut that
  * makes a PERSISTED billion-vector index probe-IO-bound instead of
  * size-bound ([[graft.operators.VectorIndex]]'s coded cells).
  *
  * NULL contract (family rule): shape mismatch between the three
  * arrays or a null element yields NULL, never a code array from a
  * truncated prefix. */
case class Sq8Encode(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(first, second, third).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires three ARRAY<DOUBLE> arguments, got (" +
        children.map(_.dataType.simpleString).mkString(", ") + ")")
  }

  override def dataType: DataType = BinaryType

  override def nullable: Boolean = true

  override def prettyName: String = "graft_sq8_encode"

  override protected def nullSafeEval(v0: Any, lo0: Any, hi0: Any): Any = {
    val v = v0.asInstanceOf[ArrayData]
    val lo = lo0.asInstanceOf[ArrayData]
    val hi = hi0.asInstanceOf[ArrayData]
    val n = v.numElements()
    if (lo.numElements() != n || hi.numElements() != n) return null
    val out = new Array[Byte](n)
    var i = 0
    while (i < n) {
      if (v.isNullAt(i) || lo.isNullAt(i) || hi.isNullAt(i)) return null
      val x = v.getDouble(i)
      val l = lo.getDouble(i)
      val h = hi.getDouble(i)
      val c =
        if (h <= l) 0
        else {
          val r = math.round(255.0 * (x - l) / (h - l)).toInt
          if (r < 0) 0 else if (r > 255) 255 else r
        }
      out(i) = c.toByte
      i += 1
    }
    out
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    nullSafeCodeGen(ctx, ev, (v, lo, hi) => {
      val n = ctx.freshName("n")
      val bad = ctx.freshName("bad")
      val out = ctx.freshName("out")
      val i = ctx.freshName("i")
      val x = ctx.freshName("x")
      val l = ctx.freshName("l")
      val h = ctx.freshName("h")
      val r = ctx.freshName("r")
      s"""
         |int $n = $v.numElements();
         |boolean $bad =
         |  ($lo.numElements() != $n || $hi.numElements() != $n);
         |byte[] $out = new byte[$bad ? 0 : $n];
         |for (int $i = 0; $i < $n && !$bad; $i++) {
         |  if ($v.isNullAt($i) || $lo.isNullAt($i) || $hi.isNullAt($i)) {
         |    $bad = true; break;
         |  }
         |  double $x = $v.getDouble($i);
         |  double $l = $lo.getDouble($i);
         |  double $h = $hi.getDouble($i);
         |  int $r = ($h <= $l) ? 0
         |    : (int) java.lang.Math.round(255.0 * ($x - $l) / ($h - $l));
         |  $out[$i] = (byte) ($r < 0 ? 0 : ($r > 255 ? 255 : $r));
         |}
         |if ($bad) { ${ev.isNull} = true; }
         |else { ${ev.value} = $out; }
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(f: Expression,
      s: Expression, t: Expression): Sq8Encode = copy(f, s, t)
}

/** SQ8 ASYMMETRIC distance: `graft_sq8_adc(q, code, lo, hi)` → the
  * cosine of the EXACT query vector against the DECODED candidate
  * (decoded[i] = lo[i] + (code[i]/255)·(hi[i]−lo[i])) in one fused
  * loop — no intermediate decoded array is ever materialized, which
  * is what keeps a coded-cell probe ([[graft.operators.VectorIndex]])
  * at scan speed inside whole-stage codegen.
  *
  * NULL contract (family rule): shape mismatch, a null element, or a
  * zero norm on either side yields NULL. */
case class Sq8AdcCos(first: Expression, second: Expression,
    third: Expression, fourth: Expression) extends QuaternaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType,
      fourth.dataType) match {
      case (ArrayType(DoubleType, _), BinaryType,
            ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (ARRAY<DOUBLE>, BINARY, ARRAY<DOUBLE>, " +
          "ARRAY<DOUBLE>), got (" +
          children.map(_.dataType.simpleString).mkString(", ") + ")")
    }

  override def dataType: DataType = DoubleType

  override def nullable: Boolean = true

  override def prettyName: String = "graft_sq8_adc"

  override protected def nullSafeEval(q0: Any, c0: Any, lo0: Any,
      hi0: Any): Any = {
    val q = q0.asInstanceOf[ArrayData]
    val code = c0.asInstanceOf[Array[Byte]]
    val lo = lo0.asInstanceOf[ArrayData]
    val hi = hi0.asInstanceOf[ArrayData]
    val n = q.numElements()
    if (code.length != n || lo.numElements() != n ||
      hi.numElements() != n) return null
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      if (q.isNullAt(i) || lo.isNullAt(i) || hi.isNullAt(i)) return null
      val x = q.getDouble(i)
      val l = lo.getDouble(i)
      val h = hi.getDouble(i)
      val y =
        if (h <= l) l
        else l + ((code(i) & 0xFF) / 255.0) * (h - l)
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) null else java.lang.Double.valueOf(dot / denom)
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    nullSafeCodeGen(ctx, ev, (q, code, lo, hi) => {
      val n = ctx.freshName("n")
      val bad = ctx.freshName("bad")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val i = ctx.freshName("i")
      val x = ctx.freshName("x")
      val l = ctx.freshName("l")
      val h = ctx.freshName("h")
      val y = ctx.freshName("y")
      val denom = ctx.freshName("denom")
      s"""
         |int $n = $q.numElements();
         |boolean $bad = ($code.length != $n ||
         |  $lo.numElements() != $n || $hi.numElements() != $n);
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n && !$bad; $i++) {
         |  if ($q.isNullAt($i) || $lo.isNullAt($i) || $hi.isNullAt($i)) {
         |    $bad = true; break;
         |  }
         |  double $x = $q.getDouble($i);
         |  double $l = $lo.getDouble($i);
         |  double $h = $hi.getDouble($i);
         |  double $y = ($h <= $l) ? $l
         |    : $l + (($code[$i] & 0xFF) / 255.0) * ($h - $l);
         |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |}
         |if (!$bad) {
         |  double $denom =
         |    java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
         |  if ($denom == 0.0) { $bad = true; }
         |  else { ${ev.value} = $dot / $denom; }
         |}
         |if ($bad) { ${ev.isNull} = true; }
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(f: Expression,
      s: Expression, t: Expression, q: Expression): Sq8AdcCos =
    copy(f, s, t, q)
}

object VectorFunctions {
  private[functions] def checkDoubleArrays(name: String,
      left: Expression, right: Expression): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$name requires two ARRAY<DOUBLE> arguments, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
}
