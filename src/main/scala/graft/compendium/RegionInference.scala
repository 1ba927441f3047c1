package graft.compendium

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.SmithWaterman

/** A7: amplicon hypervariable-region inference (amplicon.py:51-128,
  * db.py:473-516).
  *
  * Per project: align every ASV sequence against the E. coli 16S rRNA gene
  * (J01859, the public sequence hardcoded at amplicon.py:23), keep
  * alignments spanning >70 % of the ASV (amplicon.py:72-73), map the query
  * begin/end coordinates into the 9 hypervariable-region windows
  * (amplicon.py:7-17, boundary semantics of find_region preserved exactly,
  * including the quirk that a boundary-exact start falls through to the
  * next region), and majority-vote (> n/2 of ALL the project's ASVs) the
  * start/end regions, with average-length fallbacks when only one side
  * reaches a majority (amplicon.py:92-107) and rejection of start > end
  * (amplicon.py:111-114). Output formats match the reference exactly —
  * including the literal string "None" for undetermined sides
  * (amplicon.py:116: Python f-string of None).
  *
  * Divergence note (SURVEY §7.3): the reference tallies votes with an
  * order-dependent early exit (amplicon.py:74-89); we count all eligible
  * ASVs. The outcomes are identical whenever a region reaches the > n/2
  * threshold — counts grow monotonically and at most one region can ever
  * cross a strict-majority threshold — so this is a compute-order
  * difference, not a semantic one.
  *
  * Scale: parallelism comes from the project dimension (`groupByKey` →
  * `mapGroups`); per-project ASV sets are small (10²–10⁴ sequences of
  * ~250 bp), and each group runs the O(|16S|·|ASV|) DP kernel locally with
  * one shared Profile. The shuffle partitions by project — the same key
  * the asv_sequences table is partitioned by, so co-partitioned reads skip
  * the exchange.
  */
object RegionInference {

  /** Hypervariable-region windows on J01859 coordinates (amplicon.py:7-17;
    * boundaries from PMC2562909).
    */
  val Boundaries: Seq[(String, (Int, Int))] = Seq(
    "v1" -> (69, 99), "v2" -> (137, 242), "v3" -> (433, 497),
    "v4" -> (576, 682), "v5" -> (822, 879), "v6" -> (986, 1043),
    "v7" -> (1117, 1173), "v8" -> (1243, 1294), "v9" -> (1435, 1465))

  private val BoundaryMap = Boundaries.toMap

  /** E. coli 16S rRNA gene, GenBank J01859 (amplicon.py:23). */
  val Whole16s: String =
    "aaattgaagagtttgatcatggctcagattgaacgctggcggcaggcctaacacatgcaagtcgaacggtaacaggaagaagcttgctctttgctgacgagtggcggacgggtgagtaatgtctgggaaactgcctgatggagggggataactactggaaacggtagctaataccgcataacgtcgcaagaccaaagagggggaccttcgggcctcttgccatcggatgtgcccagatgggattagctagtaggtggggtaacggctcacctaggcgacgatccctagctggtctgagaggatgaccagccacactggaactgagacacggtccagactcctacgggaggcagcagtggggaatattgcacaatgggcgcaagcctgatgcagccatgccgcgtgtatgaagaaggccttcgggttgtaaagtactttcagcggggaggaagggagtaaagttaatacctttgctcattgacgttacccgcagaagaagcaccggctaactccgtgccagcagccgcggtaatacggagggtgcaagcgttaatcggaattactgggcgtaaagcgcacgcaggcggtttgttaagtcagatgtgaaatccccgggctcaacctgggaactgcatctgatactggcaagcttgagtctcgtagaggggggtagaattccaggtgtagcggtgaaatgcgtagagatctggaggaataccggtggcgaaggcggccccctggacgaagactgacgctcaggtgcgaaagcgtggggagcaaacaggattagataccctggtagtccacgccgtaaacgatgtcgacttggaggttgtgcccttgaggcgtggcttccggagctaacgcgttaagtcgaccgcctggggagtacggccgcaaggttaaaactcaaatgaattgacgggggcccgcacaagcggtggagcatgtggtttaattcgatgcaacgcgaagaaccttacctggtcttgacatccacggaagttttcagagatgagaatgtgccttcgggaaccgtgagacaggtgctgcatggctgtcgtcagctcgtgttgtgaaatgttgggttaagtcccgcaacgagcgcaacccttatcctttgttgccagcggtccggccgggaactcaaaggagactgccagtgataaactggaggaaggtggggatgacgtcaagtcatcatggcccttacgaccagggctacacacgtgctacaatggcgcatacaaagagaagcgacctcgcgagagcaagcggacctcataaagtgcgtcgtagtccggattggagtctgcaactcgactccatgaagtcggaatcgctagtaatcgtggatcagaatgccacggtgaatacgttcccgggccttgtacacaccgcccgtcacaccatgggagtgggttgcaaaagaagtaggtagcttaaccttcgggagggcgcttaccactttgtgattcatgactggggtgaagtcgtaacaaggtaaccgtaggggaacctgcggttggatcacctcctta"

  /** find_region(location, 'f') (amplicon.py:25-38): first window the
    * location precedes, or a window it lands inside with >= 50 % of the
    * window still ahead. None when past v9.
    */
  def findRegionForward(location: Double): Option[String] = {
    for ((v, (lo, hi)) <- Boundaries) {
      if (location < lo) return Some(v)
      if (location > lo && location < hi) {
        val covered = (hi - location) / (hi - lo).toDouble
        if (covered >= 0.5) return Some(v)
      }
    }
    None
  }

  /** find_region(location, 'r') (amplicon.py:40-53): scanned v9→v1. */
  def findRegionReverse(location: Double): Option[String] = {
    for ((v, (lo, hi)) <- Boundaries.reverse) {
      if (location > hi) return Some(v)
      if (location > lo && location < hi) {
        val covered = (location - lo) / (hi - lo).toDouble
        if (covered >= 0.5) return Some(v)
      }
    }
    None
  }

  /** process_project (amplicon.py:51-128) with the full-count vote. */
  def processProject(asvs: Seq[String], profile: SmithWaterman.Profile)
      : (String, Double) = {
    val n = asvs.length
    val avgLength = asvs.map(_.length).sum.toDouble / n

    val forwards = scala.collection.mutable.Map.empty[Option[String], Int]
    val reverses = scala.collection.mutable.Map.empty[Option[String], Int]
    for (asv <- asvs) {
      val al = profile.align(asv)
      val alignLength = al.queryEnd - al.queryBegin
      // keep only alignments spanning > 70 % of the ASV (amplicon.py:72-73)
      if (alignLength > asv.length * 0.7) {
        val f = findRegionForward(al.queryBegin.toDouble)
        forwards(f) = forwards.getOrElse(f, 0) + 1
        val r = findRegionReverse(al.queryEnd.toDouble)
        reverses(r) = reverses.getOrElse(r, 0) + 1
      }
    }
    // strict majority over ALL the project's ASVs (amplicon.py:77, 84);
    // None votes can win too — matching the reference, where find_region
    // returning None increments the defaultdict's None key
    def winner(votes: collection.Map[Option[String], Int]): Option[String] =
      votes.collectFirst { case (r, c) if c > n / 2.0 => r }.flatten

    var start = winner(forwards)
    var end = winner(reverses)

    // average-length fallbacks (amplicon.py:92-107)
    if (start.isDefined && end.isEmpty) {
      val startpoint = BoundaryMap(start.get)._1
      end = findRegionReverse(startpoint + avgLength)
    } else if (start.isEmpty && end.isDefined) {
      val endpoint = BoundaryMap(end.get)._2
      start = findRegionForward(endpoint - avgLength)
    }

    // reject inverted spans (amplicon.py:111-114; lexicographic compare is
    // correct for v1..v9 single digits, F9)
    if (start.isDefined && end.isDefined && start.get > end.get) {
      start = None; end = None
    }
    // python f-string formatting, including the literal "None"
    def fmt(o: Option[String]) = o.getOrElse("None")
    val assignment =
      if (end == start) fmt(start) else s"${fmt(start)}-${fmt(end)}"
    (assignment, avgLength)
  }

  /** Distributed inference over an asv_sequences-shaped frame
    * (project, asv, seq) → (project, region, length).
    */
  def infer(seqs: DataFrame): DataFrame = {
    val spark = seqs.sparkSession
    import spark.implicits._
    seqs.select(col("project"), col("seq")).as[(String, String)]
      .groupByKey(_._1)
      .mapGroups { (project, rows) =>
        val asvs = rows.map(_._2).toSeq
        val profile = new SmithWaterman.Profile(Whole16s)
        val (region, length) = processProject(asvs, profile)
        (project, region, length)
      }
      .toDF("project", "region", "length")
  }

  /** find_asv_data (db.py:473-516): pick uninferred projects (J2), infer,
    * append to asv_inference.
    */
  def inferMissing(spark: SparkSession, wh: Warehouse, budget: Int): Long = {
    val seqs = wh.readOrEmpty("asv_sequences", Schemas.asvSequences)
    val inference = wh.readOrEmpty("asv_inference", Schemas.asvInference)
    val todo = Selection.uninferredProjects(seqs, inference, budget)
    wh.appendCounted("asv_inference", infer(seqs.join(
      broadcast(todo.select("project")), Seq("project"), "left_semi")))
  }
}
