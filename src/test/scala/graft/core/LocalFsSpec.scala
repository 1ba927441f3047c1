package graft.core

import java.io.FileNotFoundException
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, FileAlreadyExistsException,
  FileContext, FileStatus, FileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.RawLocalFs
import org.apache.hadoop.fs.permission.FsPermission

/** [[ForkFreeLocalFileSystem]] / [[ForkFreeLocalFs]] against Hadoop's
  * stock `RawLocalFileSystem` / `RawLocalFs`: the same observable
  * results, without a child process per file.
  */
class LocalFsSpec extends graft.SparkTestBase {

  private def conf(umask: Option[String]): Configuration = {
    val c = new Configuration()
    umask.foreach(c.set("fs.permissions.umask-mode", _))
    c
  }

  // fresh instances: FileSystem.get would cache one per scheme for the
  // whole JVM, whatever the conf
  private def fileSystem(fs: FileSystem, c: Configuration): FileSystem = {
    fs.initialize(URI.create("file:///"), c)
    fs
  }
  private def stockFs(c: Configuration) = fileSystem(new RawLocalFileSystem, c)
  private def forkFreeFs(c: Configuration) =
    fileSystem(new ForkFreeLocalFileSystem, c)

  private def abstractFs(impl: Class[_], c: Configuration) = {
    val cc = new Configuration(c)
    cc.set("fs.AbstractFileSystem.file.impl", impl.getName)
    AbstractFileSystem.get(URI.create("file:///"), cc)
  }

  private def mode(p: String): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(Paths.get(p)))

  private def write(fs: FileSystem, p: String, text: String): Unit = {
    val out = fs.create(new Path(p))
    try out.write(text.getBytes(UTF_8)) finally out.close()
  }

  test("create, mkdirs and setPermission leave the stock permission bits") {
    for (umask <- Seq(None, Some("077"))) {
      val c = conf(umask)
      val modes = Seq(stockFs(c), forkFreeFs(c)).map { fs =>
        val root = tmpDir()
        write(fs, s"$root/f", "x")
        fs.create(new Path(s"$root/g"), new FsPermission("755"), false, 4096,
          1.toShort, 1L << 20, null).close()
        fs.mkdirs(new Path(s"$root/d/e"))
        fs.mkdirs(new Path(s"$root/m"), new FsPermission("750"))
        write(fs, s"$root/h", "x")
        fs.setPermission(new Path(s"$root/h"), new FsPermission("640"))
        Seq("f", "g", "d", "d/e", "m", "h").map(n => n -> mode(s"$root/$n"))
      }
      assert(modes(1) === modes(0), s"umask $umask")
      val expected = umask match {
        case None => Seq("f" -> "rw-r--r--", "g" -> "rwxr-xr-x",
          "d" -> "rwxr-xr-x", "d/e" -> "rwxr-xr-x", "m" -> "rwxr-x---",
          "h" -> "rw-r-----")
        case Some(_) => Seq("f" -> "rw-------", "g" -> "rwx------",
          "d" -> "rwx------", "d/e" -> "rwx------", "m" -> "rwx------",
          "h" -> "rw-r-----")
      }
      assert(modes(1) === expected, s"umask $umask")
    }
  }

  test("a sticky-bit permission keeps Hadoop's path") {
    val fs = forkFreeFs(conf(None))
    val d = new Path(s"${tmpDir()}/sticky")
    fs.mkdirs(d)
    fs.setPermission(d, new FsPermission(Integer.parseInt("1755", 8).toShort))
    val p = fs.getFileStatus(d).getPermission
    assert(p.getStickyBit && p.toShort === Integer.parseInt("1755", 8))
  }

  /** Everything a caller can read off a link status, or the exception. */
  private def describe(st: => FileStatus): String =
    try {
      val s = st
      val kind = if (s.isSymlink) s"link->${s.getSymlink}"
        else if (s.isDirectory) "dir" else "file"
      s"$kind len=${s.getLen} perm=${s.getPermission.toShort} " +
        s"owner=${s.getOwner}:${s.getGroup}"
    } catch { case e: java.io.IOException => e.getClass.getName }

  test("getFileLinkStatus and getLinkTarget match the stock classes") {
    val root = tmpDir()
    val c = conf(None)
    write(stockFs(c), s"$root/f", "hello")
    Files.createDirectory(Paths.get(s"$root/d"))
    Files.createSymbolicLink(Paths.get(s"$root/l"), Paths.get(s"$root/f"))
    Files.createSymbolicLink(Paths.get(s"$root/dl"), Paths.get("nowhere"))
    // unqualified paths name the links; qualified `file:` ones never do
    // (Hadoop reads the link of `new File(path.toString)`)
    val paths = Seq("f", "d", "l", "dl", "missing").flatMap(n =>
      Seq(s"$root/$n", s"file:$root/$n"))

    def fsView(fs: FileSystem): Map[String, (String, String)] =
      paths.map { p =>
        val path = new Path(p)
        p -> (describe(fs.getFileLinkStatus(path)),
          scala.util.Try(fs.getLinkTarget(path)).toString)
      }.toMap
    val stock = fsView(stockFs(c))
    assert(fsView(forkFreeFs(c)) === stock)
    // the comparison covers each case: a link, a dangling link, a
    // qualified path that hides a link, and a missing path
    assert(stock(s"$root/l")._1.startsWith("link->"))
    assert(stock(s"$root/dl")._1.startsWith("link->"))
    assert(stock(s"file:$root/l")._1.startsWith("file "))
    assert(stock(s"$root/missing")._1 ===
      classOf[FileNotFoundException].getName)

    def afsView(impl: Class[_]): Map[String, String] = {
      val afs = abstractFs(impl, c)
      assert(afs.getClass === impl)
      paths.map(p => p -> describe(afs.getFileLinkStatus(new Path(p)))).toMap
    }
    assert(afsView(classOf[ForkFreeLocalFs]) === afsView(classOf[RawLocalFs]))
  }

  test("FileContext.rename with OVERWRITE matches the stock classes") {
    val c = conf(None)
    def outcome(impl: Class[_]): (Boolean, String, String, Seq[String]) = {
      val fc = FileContext.getFileContext(abstractFs(impl, c), c)
      val root = tmpDir()
      Files.writeString(Paths.get(s"$root/src"), "new")
      Files.writeString(Paths.get(s"$root/dst"), "old")
      Files.writeString(Paths.get(s"$root/other"), "other")
      fc.rename(new Path(s"file:$root/src"), new Path(s"file:$root/dst"),
        Options.Rename.OVERWRITE)
      val refused = intercept[FileAlreadyExistsException] {
        fc.rename(new Path(s"file:$root/other"), new Path(s"file:$root/dst"))
      }.getClass.getName
      (Files.exists(Paths.get(s"$root/src")),
        Files.readString(Paths.get(s"$root/dst")), refused,
        Files.list(Paths.get(root)).iterator.asScala
          .map(_.getFileName.toString).toSeq.sorted)
    }
    val stock = outcome(classOf[RawLocalFs])
    assert(outcome(classOf[ForkFreeLocalFs]) === stock)
    assert(stock._2 === "new")
  }

  /** `wchar` of /proc/self/io: every byte this JVM has written so far. */
  private def wchar(): Long =
    Files.readAllLines(Paths.get("/proc/self/io")).asScala
      .collectFirst { case l if l.startsWith("wchar:") =>
        l.stripPrefix("wchar:").trim.toLong }.get

  test("creating 100 files starts no child process") {
    // a child spawn writes the whole environment into jspawnhelper's pipe
    val envBytes = System.getenv.asScala
      .map { case (k, v) => s"$k=$v".getBytes(UTF_8).length + 1 }.sum
    val fs = forkFreeFs(conf(None))
    val root = tmpDir()
    fs.create(new Path(s"$root/warm")).close() // one-time class set-up
    // the fewest bytes of three rounds: other threads of the suite's JVM
    // (a live session's log lines) may write during one round, while a
    // spawn per file would add 100 environments to every round
    val written = (0 until 3).map { r =>
      val before = wchar()
      (0 until 100).foreach(i => fs.create(new Path(s"$root/r${r}_$i")).close())
      wchar() - before
    }.min
    assert(written < envBytes,
      s"creating 100 empty files wrote $written bytes (environment: $envBytes)")
  }

  test("a LocalFs-built session resolves file:// to the fork-free classes") {
    val hc = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(URI.create("file:///"), hc).getClass ===
      classOf[ForkFreeLocalFileSystem])
    assert(FileContext.getLocalFSFileContext(hc).getDefaultFileSystem
      .getClass === classOf[ForkFreeLocalFs])
  }
}
