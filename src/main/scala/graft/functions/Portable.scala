package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Engine-portable column expressions shared by the training-data pipeline
  * operators (dedup, similarity, text analysis).
  *
  * "Portable" means: every function here has a bit-identical counterpart
  * expressible in ANSI-ish SQL (the DuckDB oracle dialect), so operators
  * built from them can be hash-verified across engines. The only hash
  * primitive is md5 (identical everywhere); pseudo-random projections and
  * permutations are derived from it, never from engine-specific hash
  * functions (xxhash64/murmur differ between engines) or RNGs.
  *
  * All functions are Catalyst built-ins — no UDFs — so they stay inside
  * whole-stage codegen and push work to executors with zero driver state.
  */
object Portable {

  /** Exact money/measure sums without per-row Decimal aggregation.
    *
    * `sum(cast(v AS DECIMAL(18,s)))` produces a DECIMAL(28,s) accumulator:
    * precision 28 exceeds Decimal's compact-Long backing (≤18 digits), so
    * every partial add runs through BigDecimal with overflow checks —
    * measured 2.3–2.8× slower than a LONG hash aggregate on the same data
    * (sf0.1 lineitem, bit-identical output). These helpers sum
    * the 10^s-scaled integers as LONG and unscale ONCE per group through
    * exact decimal division, so the decimal arithmetic runs per GROUP, not
    * per row (guide §2.3 "narrower types" + whole-stage-codegen-friendly
    * primitives).
    *
    * Equivalence (verified bit-for-bit on grouped, decimal-typed, window
    * and adversarial >2^53 / negative inputs; ExactSumSpec pins it):
    *  - the input columns these replace are ALREADY at scale s (2- or
    *    4-decimal generated money values; the reference cast never
    *    rounds), so `floor(v·10^s + 0.5)` recovers the exact scaled
    *    integer — the double error of v·10^s is ≤ ~4e-7 ≪ 0.5 for
    *    |v·10^s| < 2^52, and no value sits at a .5 boundary;
    *  - the LONG sum is exact up to ±9.2e18 scaled units — at 100 TB TPC-H
    *    (sf ≈ 100k) the GLOBAL revenue sum is ~3e18 scaled units, inside
    *    the bound with 3× margin, and every use here is grouped far below
    *    it (a DECIMAL(28,s) accumulator overflows-to-null at 1e28 — the
    *    honest failure bound moves, it does not appear);
    *  - unscaling via decimal division (`sumL::DECIMAL(38,0) / 10^s`,
    *    result scale 6 ≥ s, exact) then casting rounds ONCE, exactly like
    *    DECIMAL(28,s)::DOUBLE — a plain `/ 10.0^s` would double-round
    *    above 2^53.
    */
  def scaledLong(e: Column, s: Int): Column =
    floor(e * lit(math.pow(10, s).round) + lit(0.5d)).cast("long")
  private def unscale(sumL: Column, s: Int): Column =
    sumL.cast("decimal(38,0)") / lit(math.pow(10, s).round).cast("decimal(19,0)")
  /** ≡ sum(cast(e AS DECIMAL(18,s))).cast("double") */
  def exactSumDbl(e: Column, s: Int): Column =
    unscale(sum(scaledLong(e, s)), s).cast("double")
  /** ≡ sum(cast(e AS DECIMAL(18,s))) — DECIMAL(28,s) output dtype kept */
  def exactSumDec(e: Column, s: Int): Column =
    unscale(sum(scaledLong(e, s)), s).cast(s"decimal(28,$s)")

  /** 60-bit non-negative hash of a string: the first 15 hex digits of md5.
    * DuckDB twin: `('0x' || substr(md5(x), 1, 15))::BIGINT`.
    * Computed by graft.plans.Md5Prefix60 — bit-identical to
    * `conv(substring(md5(c), 1, 15), 16, 10)::LONG` (Md5Prefix60Spec)
    * without that form's three per-call string materializations.
    */
  def h60(c: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.plans.Md5Prefix60(
        org.apache.spark.sql.GraftColumnBridge.expression(c)))

  /** Whitespace tokens, empty strings dropped.
    * DuckDB twin: `list_filter(string_split(x, ' '), t -> t <> '')`.
    */
  def tokens(c: Column): Column =
    filter(split(c, " "), t => t =!= lit(""))

  /** Distinct word n-grams (shingles) joined with single spaces; empty array
    * when the document has fewer than n tokens.
    * DuckDB twin: `list_distinct(list_transform(range(1, len(t) - (n-2)),
    * i -> t[i] || ' ' || ... ))` (DuckDB range end is exclusive).
    */
  def wordNgrams(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      array_distinct(transform(sequence(lit(1), size(toks) - (n - 1)), i =>
        concat_ws(" ", (0 until n).map(k => element_at(toks, i + k)): _*))))
      .otherwise(array().cast("array<string>"))

  /** Normalized text: lowercase, runs of whitespace collapsed, trimmed. */
  def normText(c: Column): Column =
    trim(regexp_replace(lower(c), "\\s+", " "))

  /** Mersenne-31 modulus used by the MinHash permutation family. Shingle
    * hashes are first reduced mod P, so `a*h + b` stays below 2^62 —
    * overflow-free in any 64-bit engine (DuckDB errors on bigint overflow,
    * the JVM wraps; staying under 2^63 sidesteps the divergence).
    */
  val MinHashP = 2147483647L

  /** Fixed universal-hash coefficients (a, b) for the 30-permutation MinHash
    * family — literal constants so the DuckDB oracle reproduces signatures
    * exactly.
    */
  val MinHashCoeffs: Seq[(Long, Long)] = Seq(
    (114060684L, 143607337L), (658016613L, 1920833000L), (1625018798L, 2115868156L),
    (1839658157L, 1370607935L), (1314768563L, 1516846532L), (899342927L, 1761721495L),
    (1792449689L, 2056989731L), (1252576877L, 638180911L), (516347111L, 86660097L),
    (1034123048L, 390694562L), (1490082987L, 1456092803L), (997229159L, 1263980513L),
    (768208874L, 373428980L), (381249820L, 1284903394L), (434862591L, 97658013L),
    (635475302L, 570517314L), (1522425844L, 334529765L), (1689677234L, 1003823822L),
    (1509779901L, 1177694471L), (385288777L, 1001072043L), (1286760557L, 1140912466L),
    (1555416273L, 1474034036L), (137111195L, 1024637812L), (1326353220L, 494970825L),
    (731651807L, 1540310342L), (993191397L, 888645945L), (1275083899L, 325350617L),
    (1359272704L, 771243134L), (711658337L, 269452704L), (606543125L, 1932692492L))

  /** The k-th permuted hash of a pre-reduced shingle hash g (g in [0, P)). */
  def perm(k: Int, g: Column): Column = {
    val (a, b) = MinHashCoeffs(k)
    (g * a + b) % MinHashP
  }

  /** Embedding as double array (float→double cast pinned so both engines do
    * identical IEEE arithmetic).
    */
  def vecD(c: Column): Column = transform(c, x => x.cast("double"))

  /** Left-to-right dot product of two double arrays of length `dim`.
    * DuckDB twin: `list_reduce(list_transform(range(1, dim+1),
    * i -> a[i] * b[i]), (x, y) -> x + y)` — both engines fold strictly
    * left-to-right, so the sum is bit-identical.
    */
  def dot(a: Column, b: Column, dim: Int): Column =
    aggregate(sequence(lit(1), lit(dim)), lit(0.0),
      (acc, i) => acc + element_at(a, i) * element_at(b, i))

  /** Deterministic pseudo-random hyperplane component in [-1, 1]:
    * plane `j`, coordinate `i` (both small ints). Derived from md5 so the
    * oracle regenerates the same planes with no literal tables.
    */
  def hyperplane(j: Column, i: Column): Column =
    (h60(concat(lit("hp_"), j.cast("string"), lit("_"), i.cast("string")))
      % 2001L - 1000L).cast("double") / 1000.0

  /** JVM twin of h60 — used by the typed shingle kernel and for
    * materializing hyperplanes as literals. The first 15 hex digits of the
    * md5 equal the unsigned big-endian first-8-bytes value shifted right
    * one nibble, so no hex-string round-trip is needed; the MessageDigest
    * is reused per thread (it resets after digest()) — both matter at
    * millions of shingles per partition.
    */
  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  def h60Scala(s: String): Long = {
    val d = md5Local.get().digest(s.getBytes("UTF-8"))
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v >>> 4
  }

  /** JVM twin of Spark's `md5()` column function: lowercase hex of the
    * full 128-bit digest — the exact d01 content-hash key, for callers
    * (the streaming dedup) that must classify duplicate pairs IDENTICALLY
    * to the batch query (a truncated hash would drop distinct documents
    * on collision at crawl scale).
    */
  def md5HexScala(s: String): String = {
    val d = md5Local.get().digest(s.getBytes("UTF-8"))
    val hex = "0123456789abcdef"
    val out = new Array[Char](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = hex((d(i) >> 4) & 0xf)
      out(2 * i + 1) = hex(d(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  /** Driver-side twin of `hyperplane` for plane `j`, coords 1..dim. */
  def hyperplaneArray(j: Int, dim: Int): Array[Double] =
    (1 to dim).map(i =>
      (h60Scala(s"hp_${j}_$i") % 2001L - 1000L).toDouble / 1000.0).toArray

  /** Codegen'd dot product (graft.plans.DotProductD) — call after
    * VectorExpressions.register(spark). Same left-to-right semantics as
    * `dot`, ~10× faster on wide pair scans.
    */
  def dotFast(a: Column, b: Column): Column =
    call_function("graft_dot", a, b)

  /** Codegen'd mean-centering (graft.plans.CenterArrayD) — ONE O(d)
    * expression node, so Catalyst inlining (CollapseProject, join null
    * filters) can never expand it into the O(d²) per-element spelling
    * that broke the 64 KB codegen limit (m11). Left-to-right sum;
    * DuckDB twin: `list_transform(v, x -> x - list_aggregate(v, 'sum') / n)`.
    */
  def centerFast(v: Column): Column =
    call_function("graft_center", v)

  /** Codegen'd PQ codebook argmax — label / best-score of the L2
    * surrogate scan against one LITERAL codebook (graft.plans
    * PqArgLabelD / PqArgMaxD; see there for the codegen-size
    * rationale). `cents` row-major k×d, `hns` the ½|c|² terms.
    */
  def pqLabelFast(sv: Column, cents: Seq[Seq[Double]], labels: Seq[Long],
      hns: Seq[Double]): Column =
    call_function("graft_pq_label", sv,
      org.apache.spark.sql.functions.typedlit(cents.flatten),
      org.apache.spark.sql.functions.typedlit(labels),
      org.apache.spark.sql.functions.typedlit(hns))

  /** One scan yielding struct(clabel, best) — the trainer's per-row
    * form; project-level CSE evaluates it once per row however many
    * fields are read.
    */
  def pqArgMaxFast(sv: Column, cents: Seq[Seq[Double]], labels: Seq[Long],
      hns: Seq[Double]): Column =
    call_function("graft_pq_argmax", sv,
      org.apache.spark.sql.functions.typedlit(cents.flatten),
      org.apache.spark.sql.functions.typedlit(labels),
      org.apache.spark.sql.functions.typedlit(hns))

  /** Bounded-state KMV bottom-k distinct sketch aggregate
    * (graft.plans.KmvBottomK) — call after SketchAggregates.register.
    * Emits the ascending sorted ≤ k smallest distinct values of an
    * [[h60]] hash column; DuckDB twin:
    * `list_sort(list(DISTINCT h))[1:k]`.
    */
  def kmvSketch(h: Column, k: Int): Column =
    call_function("graft_kmv", h, lit(k))

  /** Bounded-heap mergeable grouped top-k aggregate
    * (graft.plans.TopKPairs) — call after SketchAggregates.register.
    * Emits ranks 1..k as array<struct<ord double, id bigint>> ordered by
    * (ord DESC, id ASC); DuckDB twin: `row_number() OVER (PARTITION BY g
    * ORDER BY ord DESC, id) <= k`.
    */
  def topK(ord: Column, id: Column, k: Int): Column =
    call_function("graft_topk", ord, id, lit(k))

  /** Codegen'd numeric-character-reference decode
    * (graft.plans.NcrDecode) — `&#NNNN;`/`&#xHHHH;` → codepoint, one
    * left-to-right pass, invalid references preserved as literal text.
    * Call after VectorExpressions.register(spark). DuckDB twin: the
    * split/extract/reassemble CTE in t45's oracle (sqlNcrDecode).
    */
  def ncrDecode(s: Column): Column =
    call_function("graft_ncr_decode", s)
}
