package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expression for the dense-vector dot product — the hot
  * kernel of the similarity/dedup operators (d05, s01, s02).
  *
  * Spark's higher-order functions (`aggregate`/`transform`) are evaluated
  * interpretively, element by element, outside whole-stage codegen; on a
  * 2M-pair × 64-dim scan that interpretation dominated the runtime ~10×.
  * This expression generates a primitive `double` loop inside the
  * WholeStageCodegen stage instead — the plan stays one fused pipeline
  * with no UDF serialization and no boxing.
  *
  * Accumulation is strictly left-to-right (identical to the interpreted
  * `aggregate` fold and to the DuckDB oracle's `list_reduce`), so results
  * remain bit-exact across engines and partitionings — required by the
  * hash-compare correctness gate, and a property a tree-reduction or SIMD
  * reassociation would silently break.
  *
  * Inputs must be `array<double>` with no null elements (embedding vectors;
  * enforced upstream by the `vecD` cast). Lengths may differ — the shorter
  * bound wins, matching `zip_with` truncation semantics.
  */
case class DotProductD(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_dot expects (array<double>, array<double>), " +
        s"got (${left.dataType.sql}, ${right.dataType.sql})")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductD =
    copy(left = newLeft, right = newRight)
}

/** Polynomial rolling hash over a string's UNICODE CODEPOINTS:
  * `h := (h * 31 + codepoint) % 2147483647`, strictly left to right —
  * the incremental fingerprint form a streaming ingest maintains per
  * chunk (t04).
  *
  * Pinned to codepoints (not UTF-8 bytes, not UTF-16 units) so the DuckDB
  * oracle (`unicode()` over `string_split(s, '')`) reproduces it for any
  * text, including non-BMP; Spark's `ascii()` diverges on non-ASCII and a
  * per-char HOF fold is interpreted — this is both the correctness and
  * the codegen fix.
  */
case class RollingHash60(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: org.apache.spark.sql.types.StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_rolling_hash expects string, got ${t.sql}")
  }
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "graft_rolling_hash"

  @inline private def hashOf(s: String): Long = {
    var h = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      h = (h * 31 + cp) % 2147483647L
      i += Character.charCount(cp)
    }
    h
  }

  override protected def nullSafeEval(a: Any): Any =
    hashOf(a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val s = ctx.freshName("s")
      val h = ctx.freshName("h")
      val i = ctx.freshName("i")
      val cp = ctx.freshName("cp")
      s"""
         |java.lang.String $s = $a.toString();
         |long $h = 0L;
         |int $i = 0;
         |while ($i < $s.length()) {
         |  int $cp = $s.codePointAt($i);
         |  $h = ($h * 31 + $cp) % 2147483647L;
         |  $i += java.lang.Character.charCount($cp);
         |}
         |${ev.value} = $h;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): RollingHash60 =
    copy(child = newChild)
}

/** Mean-center a dense vector: `cv[i] = v[i] − (Σv)/n`, the pHash
  * preprocessing step (m08/m11 — §7.4-13: raw patch sums are all-positive
  * and cluster near the all-ones direction; centering makes sign patterns
  * discriminative).
  *
  * Exists for the same reason as [[DotProductD]], but the enemy here is
  * expression BLOWUP rather than interpretation: the per-element spelling
  * (`array(v[1] − vbar, …, v[16] − vbar)` under a 16-term `vbar` sum) gets
  * its mean INLINED into every element by `CollapseProject`, the norm
  * `sqrt(dot(cv, cv))` inlines the whole array twice more, and the join's
  * `isnotnull` filter once more — O(d²) generated code that crossed
  * janino's 64 KB method limit at d = 16 and silently dropped the m11
  * verify leg out of whole-stage codegen (interpreted fallback, observed
  * in the round-11 suite logs). As ONE expression node the centering is
  * O(d) generated code however often Catalyst inlines it, and common
  * subexpression elimination collapses repeated copies.
  *
  * Sum is strictly left-to-right (bit-identical to the old
  * `v[1] + v[2] + …` fold and to the DuckDB oracle's
  * `list_aggregate(v, 'sum')`); the divisor is the runtime length n.
  * Input must be `array<double>` with no null elements.
  */
case class CenterArrayD(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_center expects array<double>, got ${t.sql}")
  }
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_center"

  override protected def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i); i += 1 }
    val m = s / n
    val out = new Array[Double](n)
    i = 0
    while (i < n) { out(i) = x.getDouble(i) - m; i += 1 }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val m = ctx.freshName("m")
      val out = ctx.freshName("out")
      s"""
         |int $n = $a.numElements();
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) { $s += $a.getDouble($i); }
         |double $m = $s / $n;
         |double[] $out = new double[$n];
         |for (int $i = 0; $i < $n; $i++) { $out[$i] = $a.getDouble($i) - $m; }
         |${ev.value} = org.apache.spark.sql.catalyst.expressions
         |  .UnsafeArrayData.fromPrimitiveArray($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): CenterArrayD =
    copy(child = newChild)
}

/** Shared scan state of the PQ codebook expressions: one LITERAL
  * codebook (k codewords × d dims, row-major), its labels, and the
  * precomputed ½|c|² terms. Scoring is the L2 surrogate
  * s_j = (Σ_i x_i·c_ji) − hn_j — dot folded LEFT-TO-RIGHT from 0.0 and
  * the subtraction applied once after the fold, exactly the
  * `dotFast(x, c) − hn` association the DuckDB oracle replays — and the
  * argmax keeps the FIRST maximum (strict `>`), which with
  * label-ascending codebooks equals the oracle's
  * `row_number() ... ORDER BY score DESC, clabel` tiebreak.
  *
  * These exist for CODEGEN SIZE, not speed alone: the spelled-out
  * alternative (an array of k dotFast calls chained through
  * per-subspace CASE branches, duplicated again inside
  * `array_position(sc, array_max(sc))`) inflates to hundreds of inlined
  * dot loops at k = 16 and falls out of whole-stage codegen past
  * janino's 64 KB method limit — the m11/CenterArrayD failure class,
  * caught for s28 by CodegenHealthSpec. Here the whole scan is ONE
  * generated j×i loop against reference arrays.
  */
sealed trait PqCodebookScan { self: Expression =>
  def child: Expression
  def cents: IndexedSeq[Double]
  def labels: IndexedSeq[Long]
  def hns: IndexedSeq[Double]

  protected lazy val k: Int = labels.length
  protected lazy val d: Int = if (k == 0) 0 else cents.length / k
  @transient protected lazy val cArr: Array[Double] = cents.toArray
  @transient protected lazy val lArr: Array[Long] = labels.toArray
  @transient protected lazy val hArr: Array[Double] = hns.toArray

  def checkPq(): TypeCheckResult =
    if (k == 0) TypeCheckResult.TypeCheckFailure("empty PQ codebook")
    else if (cents.length != k * d || hns.length != k)
      TypeCheckResult.TypeCheckFailure("codebook shape mismatch")
    else child.dataType match {
      case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"PQ scan expects array<double>, got ${t.sql}")
    }

  /** (best index, best score) of the scan — interpreted path. A row
    * whose vector length differs from the codebook dimension is a data
    * error, not a scoring question: a prefix dot against a d-dim
    * codeword returns a plausible-but-wrong label, so the shape check
    * `checkPq` enforces on the LITERAL codebook is mirrored per row
    * here (and in the generated path) as a hard failure.
    */
  protected def scan(a: Any): (Int, Double) = {
    val x = a.asInstanceOf[ArrayData]
    if (x.numElements() != d)
      throw new IllegalArgumentException(
        s"$prettyName: input vector length ${x.numElements()} != " +
          s"codebook dim $d")
    var bi = -1
    var bs = 0.0
    var j = 0
    while (j < k) {
      var s = 0.0
      var i = 0
      while (i < d) { s += x.getDouble(i) * cArr(j * d + i); i += 1 }
      s -= hArr(j)
      if (bi < 0 || s > bs) { bi = j; bs = s }
      j += 1
    }
    (bi, bs)
  }

  /** Generated j×i scan; `use` consumes (bestIdx, bestScore) vars. */
  protected def genScan(ctx: CodegenContext, a: String,
      use: (String, String) => String): String = {
    val cRef = ctx.addReferenceObj("pqCents", cArr, "double[]")
    val hRef = ctx.addReferenceObj("pqHns", hArr, "double[]")
    val bi = ctx.freshName("bi")
    val bs = ctx.freshName("bs")
    val j = ctx.freshName("j")
    val i = ctx.freshName("i")
    val s = ctx.freshName("s")
    s"""
       |if ($a.numElements() != $d) {
       |  throw new IllegalArgumentException(
       |    "$prettyName: input vector length " + $a.numElements() +
       |    " != codebook dim $d");
       |}
       |int $bi = -1;
       |double $bs = 0.0;
       |for (int $j = 0; $j < $k; $j++) {
       |  double $s = 0.0;
       |  for (int $i = 0; $i < $d; $i++) {
       |    $s += $a.getDouble($i) * $cRef[$j * $d + $i];
       |  }
       |  $s -= $hRef[$j];
       |  if ($bi < 0 || $s > $bs) { $bi = $j; $bs = $s; }
       |}
       |${use(bi, bs)}
     """.stripMargin
  }
}

/** Codeword LABEL of the argmax — `graft_pq_label`. */
case class PqArgLabelD(child: Expression, cents: IndexedSeq[Double],
    labels: IndexedSeq[Long], hns: IndexedSeq[Double])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with PqCodebookScan {
  override def checkInputDataTypes(): TypeCheckResult = checkPq()
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "graft_pq_label"
  override protected def nullSafeEval(a: Any): Any = lArr(scan(a)._1)
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val lRef = ctx.addReferenceObj("pqLabels", lArr, "long[]")
      genScan(ctx, a, (bi, _) => s"${ev.value} = $lRef[$bi];")
    })
  override protected def withNewChildInternal(
      newChild: Expression): PqArgLabelD = copy(child = newChild)
}

/** Label AND best score from ONE scan — `graft_pq_argmax`,
  * struct<clabel, best>. The trainer needs both per row per round;
  * separate label/best expressions scan the identical codebook twice,
  * and project-level common-subexpression elimination evaluates this
  * node once however many fields are extracted from it.
  */
case class PqArgMaxD(child: Expression, cents: IndexedSeq[Double],
    labels: IndexedSeq[Long], hns: IndexedSeq[Double])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with PqCodebookScan {
  override def checkInputDataTypes(): TypeCheckResult = checkPq()
  override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("clabel",
      org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("best", DoubleType,
      nullable = false)))
  override def prettyName: String = "graft_pq_argmax"
  override protected def nullSafeEval(a: Any): Any = {
    val (bi, bs) = scan(a)
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](lArr(bi), bs))
  }
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val lRef = ctx.addReferenceObj("pqLabels", lArr, "long[]")
      genScan(ctx, a, (bi, bs) =>
        s"""${ev.value} = new org.apache.spark.sql.catalyst.expressions
           |  .GenericInternalRow(new Object[]{
           |    java.lang.Long.valueOf($lRef[$bi]),
           |    java.lang.Double.valueOf($bs)});""".stripMargin)
    })
  override protected def withNewChildInternal(
      newChild: Expression): PqArgMaxD = copy(child = newChild)
}

object VectorExpressions {

  private def build(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 2, "graft_dot takes exactly 2 arguments")
    DotProductD(exprs.head, exprs(1))
  }

  /** Fold a foldable literal array argument to primitives at BUILD time
    * (the codebook/label/½|c|² arguments of the PQ scan functions).
    */
  private def foldD(e: Expression, what: String): IndexedSeq[Double] = {
    require(e.foldable, s"graft_pq_*: $what must be a literal array")
    e.eval().asInstanceOf[ArrayData].toDoubleArray().toIndexedSeq
  }
  private def foldL(e: Expression, what: String): IndexedSeq[Long] = {
    require(e.foldable, s"graft_pq_*: $what must be a literal array")
    e.eval().asInstanceOf[ArrayData].toLongArray().toIndexedSeq
  }

  private[plans] def buildPqLabel(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 4,
      "graft_pq_label takes (vec, cents, labels, hns)")
    PqArgLabelD(exprs.head, foldD(exprs(1), "cents"),
      foldL(exprs(2), "labels"), foldD(exprs(3), "hns"))
  }

  private[plans] def buildPqArgMax(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 4,
      "graft_pq_argmax takes (vec, cents, labels, hns)")
    PqArgMaxD(exprs.head, foldD(exprs(1), "cents"),
      foldL(exprs(2), "labels"), foldD(exprs(3), "hns"))
  }

  private def buildRolling(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 1, "graft_rolling_hash takes exactly 1 argument")
    RollingHash60(exprs.head)
  }

  /** Register `graft_dot` / `graft_rolling_hash` in the session's function
    * registry so operators can call them via `call_function` (the public
    * Column-from-Expression path in Spark 4).
    */
  def register(spark: SparkSession): Unit =
    registerMissing(spark,
      ("graft_dot", build),
      ("graft_rolling_hash", buildRolling),
      ("graft_center", buildCenter),
      ("graft_pq_label", buildPqLabel),
      ("graft_pq_argmax", buildPqArgMax),
      ("graft_ncr_decode", buildNcr),
      ("graft_md5_prefix60", buildMd5Prefix60))

  /** Registers each function the session's registry does not have yet —
    * operators call `register` on every run, and a name the session
    * already has (from an earlier run, or [[GraftExtensions]]) is left as
    * it is instead of being replaced.
    */
  private[plans] def registerMissing(spark: SparkSession,
      fns: (String, Seq[Expression] => Expression)*): Unit = {
    val registry = spark.sessionState.functionRegistry
    fns.foreach { case (name, builder) =>
      if (!registry.functionExists(
          org.apache.spark.sql.catalyst.FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }

  private def buildMd5Prefix60(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 1, "graft_md5_prefix60 takes exactly 1 argument")
    Md5Prefix60(exprs.head)
  }

  private def buildNcr(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 1, "graft_ncr_decode takes exactly 1 argument")
    NcrDecode(exprs.head)
  }

  private def buildCenter(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 1, "graft_center takes exactly 1 argument")
    CenterArrayD(exprs.head)
  }
}

/** Session-extensions entry point: deploy cluster-wide with
  * `--conf spark.sql.extensions=graft.plans.GraftExtensions`, making
  * `graft_dot` available to every session (SQL included) without the
  * per-query register() call.
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("graft_dot"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[DotProductD].getName, "graft_dot"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2, "graft_dot takes exactly 2 arguments")
        DotProductD(exprs.head, exprs(1))
      }))
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("graft_rolling_hash"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[RollingHash60].getName, "graft_rolling_hash"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1, "graft_rolling_hash takes exactly 1 argument")
        RollingHash60(exprs.head)
      }))
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("graft_center"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[CenterArrayD].getName, "graft_center"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1, "graft_center takes exactly 1 argument")
        CenterArrayD(exprs.head)
      }))
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("graft_pq_label"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[PqArgLabelD].getName, "graft_pq_label"),
      (exprs: Seq[Expression]) => VectorExpressions.buildPqLabel(exprs)))
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("graft_pq_argmax"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[PqArgMaxD].getName, "graft_pq_argmax"),
      (exprs: Seq[Expression]) => VectorExpressions.buildPqArgMax(exprs)))
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("graft_kmv"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[KmvBottomK].getName, "graft_kmv"),
      (exprs: Seq[Expression]) => SketchAggregates.buildKmv(exprs)))
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("graft_ncr_decode"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[NcrDecode].getName, "graft_ncr_decode"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1, "graft_ncr_decode takes exactly 1 argument")
        NcrDecode(exprs.head)
      }))
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("graft_md5_prefix60"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[Md5Prefix60].getName, "graft_md5_prefix60"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1,
          "graft_md5_prefix60 takes exactly 1 argument")
        Md5Prefix60(exprs.head)
      }))
  }
}
