package perfbench

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.compendium._
import org.apache.spark.sql.SparkSession

/** The compendium manager's own loop on a generated compendium:
  * `xml` → `tags` → `runs` → `autoforward` until settled → `asvs` →
  * `compendium` / `summary`, each a timed call through the program's
  * public entry points (`Cli.run` with injected deps, and
  * `Management.autoforward`). Every cycle starts from an empty warehouse
  * and workspace, so cycles are identical.
  *
  * The pipeline runs outside the program: a recording launcher notes each
  * launch, and between calls (untimed) the benchmark plays the finished
  * job by copying that project's pre-generated outputs into its workspace.
  * A single-end re-run launch gets a `running.txt` sentinel instead, so
  * the project stays "running" (see CHANGES.md: completing a re-run makes
  * autoforward append the results again and throw).
  */
final class ManagerCycle(spark: SparkSession, meter: Meter, input: Path,
    trace: Option[Tracer]) {

  private val truthTaxon = "408170"
  private val efetch: Map[String, String] =
    Files.readAllLines(input.resolve("efetch.tsv")).asScala.map { l =>
      val i = l.indexOf('\t'); l.substring(0, i) -> l.substring(i + 1)
    }.toMap
  private val nSamples = efetch.size

  /** In-process eUtils: serves the generated packages for a batch. */
  private object FakeEUtils extends EUtilsClient {
    def fetch(batch: Seq[String]): String =
      batch.flatMap(efetch.get).mkString("<EXPERIMENT_PACKAGE_SET>\n", "\n",
        "\n</EXPERIMENT_PACKAGE_SET>\n")
  }

  private final class RecordingLauncher extends PipelineLauncher {
    val launches: mutable.ArrayBuffer[(String, Boolean)] = mutable.ArrayBuffer.empty
    def initialize(project: String): Unit = ()
    def launch(project: String, rerunAsSingleEnd: Boolean): Unit =
      launches += ((project, rerunAsSingleEnd))
  }

  /** Times every workspace call into `compendium.workspace_s`. */
  private final class TimedWorkspace(ws: ProjectWorkspace) extends ProjectWorkspace {
    private def t[A](f: => A): A = meter.layerOnly("compendium.workspace")(f)
    def isDone(p: String): Boolean = t(ws.isDone(p))
    def isRunning(p: String): Boolean = t(ws.isRunning(p))
    def projectDir(p: String): String = ws.projectDir(p)
    def summaryPath(p: String): String = ws.summaryPath(p)
    def prepareRerun(p: String): Unit = t(ws.prepareRerun(p))
    def archive(p: String): Unit = t(ws.archive(p))
    def delete(p: String): Unit = t(ws.delete(p))
    def writeAccessionList(p: String, srrs: Seq[String]): Unit =
      t(ws.writeAccessionList(p, srrs))
  }

  private def captured(f: => Unit): String = {
    val buf = new ByteArrayOutputStream()
    Console.withOut(new PrintStream(buf, true, StandardCharsets.UTF_8))(f)
    buf.toString(StandardCharsets.UTF_8)
  }

  /** Copies a launched project's outputs into its workspace directory. */
  private def finishJob(wsRoot: Path, project: String, rerun: Boolean): Unit = {
    val dir = wsRoot.resolve(project)
    Files.createDirectories(dir)
    if (rerun) Files.writeString(dir.resolve("running.txt"), "single-end\n")
    else {
      val src = input.resolve("projects").resolve(project)
      Files.list(src).iterator().asScala.foreach { f =>
        Files.copy(f, dir.resolve(f.getFileName), StandardCopyOption.REPLACE_EXISTING)
      }
    }
  }

  /** One cycle in `dir`; returns what the checks need. */
  def cycle(dir: Path): Map[String, Any] = {
    val whRoot = dir.resolve("warehouse")
    val wsRoot = dir.resolve("projects")
    Files.createDirectories(wsRoot)
    val launcher = new RecordingLauncher
    val local = new LocalWorkspace(wsRoot.toString)
    val deps = Management.Deps(new Warehouse(spark, whRoot.toString),
      if (trace.isDefined) new TimedWorkspace(local) else local, launcher,
      EngineConfig.default.copy(eutilsThrottleMs = 0L))
    val xml = input.resolve("samples.xml").toString

    meter.timed("compendium.xml")(Cli.run(spark, Array("xml", truthTaxon, xml), Some(deps)))
    meter.timed("compendium.tags")(Cli.run(spark, Array("tags", truthTaxon, xml), Some(deps)))
    meter.timed("compendium.runs")(Cli.run(spark,
      Array("runs", nSamples.toString), Some(deps), Some(FakeEUtils)))

    // autoforward until a call neither advances nor starts a project
    val rounds = mutable.ArrayBuffer.empty[Map[String, Seq[String]]]
    var settled = false
    while (!settled && rounds.size < 12) {
      launcher.launches.foreach { case (p, rerun) => finishJob(wsRoot, p, rerun) }
      launcher.launches.clear()
      var r = Map.empty[String, Seq[String]]
      val ok = meter.timed("compendium.autoforward") {
        r = Management.autoforward(spark, deps)
      }
      rounds += r
      settled = !ok || Seq("advanced_save", "advanced_re_run",
        "advanced_discard", "started").forall(k => r.getOrElse(k, Nil).isEmpty)
    }

    meter.timed("compendium.asvs")(Cli.run(spark, Array("asvs"), Some(deps)))
    var report = ""
    meter.timed("compendium.reports") {
      report = captured(Cli.run(spark, Array("compendium"), Some(deps)))
    }
    var summary = ""
    meter.timed("compendium.reports") {
      summary = captured(Cli.run(spark, Array("summary"), Some(deps)))
    }

    Map(
      "warehouse" -> whRoot.toString,
      "workspace" -> wsRoot.toString,
      "autoforward_rounds" -> rounds.size,
      "autoforward" -> rounds.map(_.map { case (k, v) => k -> v.sorted }).toSeq,
      "compendium_report" -> report,
      "summary_report" -> summary)
  }
}
