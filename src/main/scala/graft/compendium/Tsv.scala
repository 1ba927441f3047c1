package graft.compendium

import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.Text
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.hadoop.util.LineReader
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** The header-driven TSV reader behind `summary.tsv`, the counts matrix and
  * the taxonomy file (S3, S4, S6). Spark's header inference finds the
  * first line with a Spark job every time a frame is created; here the
  * driver reads that line through the Hadoop FS and builds the schema the
  * inference would give, so creating the frame starts no job. The rules
  * are Spark's: every column a string; the first line that is not blank
  * once its spaces are trimmed is the header; cells split by univocity
  * under the reader's own options (quotes included); and the names made
  * safe by Spark's `makeSafeHeader` (a blank cell becomes `_c<i>`,
  * duplicates, compared case-insensitively unless the session is
  * case-sensitive, get their index appended). An empty file has no
  * columns.
  */
object Tsv {

  private val options = Map("sep" -> "\t", "header" -> "true")

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.options(options).schema(headerSchema(spark, path)).csv(path)

  def headerSchema(spark: SparkSession, path: String): StructType = {
    val conf = spark.sessionState.conf
    val csv = new CSVOptions(options, conf.csvColumnPruning,
      conf.sessionLocalTimeZone)
    firstLine(spark.sparkContext.hadoopConfiguration, new Path(path))
      .flatMap(l => Option(new CsvParser(csv.asParserSettings).parseLine(l)))
      .fold(StructType(Nil)) { cells =>
        StructType(CSVUtils.makeSafeHeader(cells, conf.caseSensitiveAnalysis,
          csv).toSeq.map(StructField(_, StringType)))
      }
  }

  /** The first line, split at CR, LF or CRLF after a UTF-8 byte-order
    * mark, that holds more than spaces: the line Spark's text scan and
    * its blank-line filter (`length(trim(value)) > 0`) hand to the
    * inference.
    */
  private def firstLine(conf: Configuration, path: Path): Option[String] = {
    val raw = path.getFileSystem(conf).open(path)
    val in = Option(new CompressionCodecFactory(conf).getCodec(path))
      .fold[java.io.InputStream](raw)(_.createInputStream(raw))
    val reader = new LineReader(in, conf)
    try {
      val text = new Text
      var first = true
      var line: Option[String] = None
      while (line.isEmpty && reader.readLine(text) > 0) {
        val b = text.getBytes
        val bom = first && text.getLength >= 3 &&
          b(0) == 0xEF.toByte && b(1) == 0xBB.toByte && b(2) == 0xBF.toByte
        val s = if (bom) Text.decode(b, 3, text.getLength - 3) else text.toString
        if (s.exists(_ != ' ')) line = Some(s)
        first = false
      }
      line
    } finally reader.close()
  }
}
