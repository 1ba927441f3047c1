package graft.core

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.hadoop.api.ReadSupport
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.hadoop.{ParquetFileWriter, ParquetReader}
import org.apache.parquet.io.InputFile
import org.apache.parquet.schema.LogicalTypeAnnotation.stringType
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.parquet.schema.{MessageType, Types}

/** Driver-direct parquet I/O for the engine's TINY bookkeeping sidecars —
  * the replay/forget markers (one row per stream lineage, bounded by
  * restart count). Writing one of these through a Spark write job costs a
  * full job per epoch (plan + schedule + task + commit protocol — measured
  * 0.1–0.5 s on an idle local[32]) and reading one through
  * `spark.read.parquet(...).collect()` costs another, for a table that
  * moves a few dozen bytes. This path writes/reads ONE standard parquet
  * file with parquet-hadoop's example Group API on the driver: the
  * on-disk format is unchanged (Spark and the spec suite read it with
  * `spark.read.parquet`; legacy Spark-written markers read back through
  * here), the directory/rename-swap/manifest disciplines stay the
  * caller's, and the per-epoch Spark job count drops by the read and the
  * write (optimization guide §1.2 step 1: remove work that moves no
  * data).
  *
  * Scale stance: ONLY for row sets the DRIVER already holds and that are
  * bounded by construction: the lineage maps, and the compendium's
  * project `status` table ([[graft.compendium.StateMachine]]) — O(projects),
  * held whole on the driver, and already rewritten whole on every
  * transition. Anything data-sized keeps the distributed write path.
  */
object TinyParquet {

  sealed trait ColType
  case object LongCol extends ColType
  case object StringCol extends ColType
  /** Nullable (OPTIONAL) columns, as Spark writes every column: a null
    * value writes no field and reads back absent from the row's map.
    */
  case object OptStringCol extends ColType
  case object OptBoolCol extends ColType

  private def schemaOf(cols: Seq[(String, ColType)]): MessageType = {
    val b = Types.buildMessage()
    cols.foreach {
      case (n, LongCol) =>
        b.addField(Types.required(PrimitiveTypeName.INT64).named(n))
      case (n, StringCol) =>
        b.addField(Types.required(PrimitiveTypeName.BINARY)
          .as(stringType()).named(n))
      case (n, OptStringCol) =>
        b.addField(Types.optional(PrimitiveTypeName.BINARY)
          .as(stringType()).named(n))
      case (n, OptBoolCol) =>
        b.addField(Types.optional(PrimitiveTypeName.BOOLEAN).named(n))
    }
    b.named("spark_schema")
  }

  /** Write `rows` as `<dir>/part-00000-<token>.parquet`. The caller owns
    * the directory discipline (fresh staging dir, rename-swap or manifest
    * flip); this only puts one complete file there.
    */
  def write(conf: Configuration, dir: Path, cols: Seq[(String, ColType)],
      rows: Seq[Seq[Any]]): Unit = {
    val schema = schemaOf(cols)
    val token = java.util.UUID.randomUUID().toString.take(8)
    val file = new Path(dir, s"part-00000-$token.parquet")
    // ExampleParquetWriter routes the schema through the conf —
    // copy so a shared hadoopConfiguration is never mutated
    val writer = ExampleParquetWriter.builder(file)
      .withConf(new Configuration(conf))
      .withType(schema)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .withWriteMode(ParquetFileWriter.Mode.CREATE)
      .build()
    try rows.foreach { r =>
      val g = new SimpleGroup(schema)
      cols.zip(r).foreach {
        case ((n, LongCol), v)   => g.add(n, v.asInstanceOf[Long])
        case ((n, StringCol), v) => g.add(n, v.asInstanceOf[String])
        case (_, null)              => ()
        case ((n, OptStringCol), v) => g.add(n, v.asInstanceOf[String])
        case ((n, OptBoolCol), v)   => g.add(n, v.asInstanceOf[Boolean])
      }
      writer.write(g)
    } finally writer.close()
  }

  /** A Group reader over `file`'s own conf. `ParquetReader.builder(…,
    * path)` starts from a fresh `new Configuration()` and reads options
    * from it before `withConf` can replace it, so every file read
    * re-parsed Hadoop's default XML resources out of the jar.
    */
  private final class GroupReader(file: InputFile)
      extends ParquetReader.Builder[Group](file) {
    override protected def getReadSupport(): ReadSupport[Group] =
      new GroupReadSupport()
  }

  /** Every row of every data file under `dir` as name→value maps (Long
    * for INT64/INT32, String for BINARY, Boolean for BOOLEAN; a missing
    * optional field is absent from the map). Reads any standard parquet
    * layout, so legacy Spark-written sidecars (optional fields, _SUCCESS
    * markers, crc files, multiple parts) come back exactly as `collect()`
    * would give them. Empty/absent directory → no rows.
    */
  def readRows(conf: Configuration, dir: Path): Seq[Map[String, Any]] = {
    val fs = dir.getFileSystem(conf)
    if (!fs.exists(dir)) return Seq.empty
    val files = fs.listStatus(dir).toSeq
      .filter(f => f.isFile && !f.getPath.getName.startsWith("_") &&
        !f.getPath.getName.startsWith("."))
    files.flatMap { f =>
      val reader =
        new GroupReader(HadoopInputFile.fromPath(f.getPath, conf)).build()
      try Iterator.continually(reader.read()).takeWhile(_ != null).map { g =>
        val mt = g.getType
        (0 until mt.getFieldCount).flatMap { i =>
          val fld = mt.getType(i)
          if (g.getFieldRepetitionCount(i) == 0 || !fld.isPrimitive) None
          else {
            val v: Option[Any] =
              fld.asPrimitiveType().getPrimitiveTypeName match {
                case PrimitiveTypeName.INT64   => Some(g.getLong(i, 0))
                case PrimitiveTypeName.INT32   => Some(g.getInteger(i, 0).toLong)
                case PrimitiveTypeName.BINARY  => Some(g.getString(i, 0))
                case PrimitiveTypeName.BOOLEAN => Some(g.getBoolean(i, 0))
                case _                         => None
              }
            v.map(fld.getName -> _)
          }
        }.toMap
      }.toList
      finally reader.close()
    }
  }
}
