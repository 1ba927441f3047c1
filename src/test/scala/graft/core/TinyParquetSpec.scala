package graft.core

import graft.SparkTestBase
import org.apache.hadoop.fs.Path

class TinyParquetSpec extends SparkTestBase {
  import spark.implicits._

  private def conf = spark.sparkContext.hadoopConfiguration

  private val cols: Seq[(String, TinyParquet.ColType)] = Seq(
    "k" -> TinyParquet.StringCol,
    "s" -> TinyParquet.OptStringCol,
    "b" -> TinyParquet.OptBoolCol)

  // null vs "" and null vs false, in every combination that matters
  private val rows: Seq[Seq[Any]] = Seq(
    Seq("r1", null, null),
    Seq("r2", "", false),
    Seq("r3", "x", true),
    Seq("r4", null, false),
    Seq("r5", "", null))

  test("nullable string and boolean columns round-trip: null stays absent, \"\" and false stay values") {
    val dir = new Path(tmpDir(), "t")
    TinyParquet.write(conf, dir, cols, rows)
    val back = TinyParquet.readRows(conf, dir).sortBy(_("k").toString)
    assert(back === Seq(
      Map("k" -> "r1"),
      Map("k" -> "r2", "s" -> "", "b" -> false),
      Map("k" -> "r3", "s" -> "x", "b" -> true),
      Map("k" -> "r4", "b" -> false),
      Map("k" -> "r5", "s" -> "")))
    // and Spark reads the same values, nulls as nulls
    val viaSpark = spark.read.parquet(dir.toString)
      .as[(String, Option[String], Option[Boolean])].collect().sortBy(_._1)
    assert(viaSpark.toSeq === Seq(
      ("r1", None, None), ("r2", Some(""), Some(false)),
      ("r3", Some("x"), Some(true)), ("r4", None, Some(false)),
      ("r5", Some(""), None)))
  }

  test("a Spark-written table with nullable BOOLEAN/STRING columns in two part files reads back") {
    val dir = new Path(tmpDir(), "t")
    Seq(("r1", null: String, null: java.lang.Boolean),
      ("r2", "", java.lang.Boolean.FALSE))
      .toDF("k", "s", "b").coalesce(1).write.parquet(dir.toString)
    Seq(("r3", "x", java.lang.Boolean.TRUE),
      ("r4", null: String, java.lang.Boolean.FALSE))
      .toDF("k", "s", "b").coalesce(1).write.mode("append")
      .parquet(dir.toString)
    val fs = dir.getFileSystem(conf)
    assert(fs.listStatus(dir).count(_.getPath.getName.startsWith("part-")) === 2)
    assert(fs.exists(new Path(dir, "_SUCCESS")))
    val back = TinyParquet.readRows(conf, dir).sortBy(_("k").toString)
    assert(back === Seq(
      Map("k" -> "r1"),
      Map("k" -> "r2", "s" -> "", "b" -> false),
      Map("k" -> "r3", "s" -> "x", "b" -> true),
      Map("k" -> "r4", "b" -> false)))
  }
}
