package graft

import java.net.URI
import java.nio.file.Files

import graft.io.{LocalFs, LocalFsContext}
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

import scala.jdk.CollectionConverters._

/** `GraftExtensions` installs [[graft.io.LocalFs]] as the session's
  * `file://` FileSystem (and [[graft.io.LocalFsContext]] for
  * `FileContext`): files and directories get the stock FS's permission
  * bits without a forked `chmod`, Hive's rename guard holds, and a
  * FileSystem the user configured wins. */
class LocalFsSpec extends SparkSuite {

  private val local = new URI("file:///")
  private def hadoopConf: Configuration = spark.sparkContext.hadoopConfiguration

  /** A new, uncached FileSystem of class `impl` under `umask`. */
  private def fsOf(impl: String, umask: String): FileSystem = {
    val conf = new Configuration(hadoopConf)
    conf.set(LocalFs.FileSystemKey, impl)
    conf.set("fs.permissions.umask-mode", umask)
    FileSystem.newInstance(local, conf)
  }

  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  /** Process starts by this JVM while `body` runs, from JFR's
    * `jdk.ProcessStart` events. */
  private def processStarts(body: => Unit): Int = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withoutStackTrace()
    rec.start()
    try body finally rec.stop()
    val dump = Files.createTempFile("graft-jfr", ".jfr")
    try {
      rec.dump(dump)
      RecordingFile.readAllEvents(dump).asScala
        .count(_.getEventType.getName == "jdk.ProcessStart")
    } finally { rec.close(); Files.deleteIfExists(dump) }
  }

  test("the session's file:// FileSystem and FileContext are LocalFs") {
    assert(FileSystem.get(local, hadoopConf).isInstanceOf[LocalFs])
    val fc = FileContext.getFileContext(local, new Configuration(hadoopConf))
    assert(fc.getDefaultFileSystem.isInstanceOf[LocalFsContext])
    // FileContext writes stay checksummed: a .crc sidecar next to the file
    val dir = Files.createTempDirectory("graft-fc")
    val out = fc.create(new Path(dir.toUri.toString, "part"),
      java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE))
    out.write(42); out.close()
    assert(Files.exists(dir.resolve(".part.crc")))
  }

  test("files and directories get the stock FS's permission bits") {
    for (umask <- Seq("022", "027", "077")) {
      val bits = Seq("org.apache.hadoop.fs.LocalFileSystem", classOf[LocalFs].getName)
        .map { impl =>
          val fs = fsOf(impl, umask)
          val root = Files.createTempDirectory("graft-perm")
          val r = new Path(root.toUri.toString)
          try {
            fs.create(new Path(r, "plain")).close()
            fs.create(new Path(r, "explicit"), new FsPermission("640"), true,
              4096, 1.toShort, 1L << 20, null).close()
            fs.mkdirs(new Path(r, "a/b"))
            fs.mkdirs(new Path(r, "c/d"), new FsPermission("750"))
            fs.create(new Path(r, "set")).close()
            fs.setPermission(new Path(r, "set"), new FsPermission("604"))
            fs.mkdirs(new Path(r, "sticky"))
            fs.setPermission(new Path(r, "sticky"), new FsPermission("1777"))
          } finally fs.close()
          Seq("plain", ".plain.crc", "explicit", ".explicit.crc", "a", "a/b",
            "c", "c/d", "set", "sticky").map(n => n -> mode(root.resolve(n)))
        }
      assert(bits(1) === bits(0), s"umask $umask")
    }
  }

  test("a directory that inherits setgid keeps it, as under the stock chmod") {
    val bits = Seq("org.apache.hadoop.fs.LocalFileSystem", classOf[LocalFs].getName)
      .map { impl =>
        val root = Files.createTempDirectory("graft-setgid")
        val chmod = new ProcessBuilder("chmod", "2755", root.toString).start().waitFor()
        assume(chmod == 0 && (mode(root) & 0x400) != 0, "cannot set setgid here")
        val fs = fsOf(impl, "022")
        try fs.mkdirs(new Path(root.toUri.toString, "child"), new FsPermission("750"))
        finally fs.close()
        mode(root.resolve("child"))
      }
    assert((bits(0) & 0x400) != 0)
    assert(bits(1) === bits(0))
  }

  test("a 50-file write starts no child process") {
    def write50(fs: FileSystem): Int = {
      val dir = new Path(Files.createTempDirectory("graft-fork").toUri.toString)
      processStarts((0 until 50).foreach(i => fs.create(new Path(dir, s"f$i")).close()))
    }
    // the probe sees the stock FS's chmod per file and per .crc sidecar
    val stock = fsOf("org.apache.hadoop.fs.LocalFileSystem", "022")
    try assert(write50(stock) >= 50) finally stock.close()
    assert(write50(FileSystem.get(local, hadoopConf)) === 0)
    // a Spark write of 50 part files through the session's FS
    val out = Files.createTempDirectory("graft-fork-spark").resolve("t").toString
    val sparkStarts = processStarts(
      spark.range(0, 50, 1, 50).write.parquet(out))
    assert(sparkStarts === 0)
  }

  test("a rename onto an existing file fails and leaves both files, as Hive's FS does") {
    val fs = FileSystem.get(local, hadoopConf)
    val dir = Files.createTempDirectory("graft-rename")
    Files.write(dir.resolve("src"), "new".getBytes)
    Files.write(dir.resolve("dst"), "old".getBytes)
    val d = new Path(dir.toUri.toString)
    assert(!fs.rename(new Path(d, "src"), new Path(d, "dst")))
    assert(new String(Files.readAllBytes(dir.resolve("dst"))) === "old")
    assert(new String(Files.readAllBytes(dir.resolve("src"))) === "new")
    assert(fs.rename(new Path(d, "src"), new Path(d, "moved")))
    assert(new String(Files.readAllBytes(dir.resolve("moved"))) === "new")
  }

  test("install keeps a file system the user set and replaces only core-default's") {
    val conf = new Configuration(false)
    conf.addResource("core-default.xml")
    assert(conf.getPropertySources(LocalFs.FileContextKey).toSeq === Seq("core-default.xml"))
    LocalFs.install(conf)
    assert(conf.get(LocalFs.FileSystemKey) === classOf[LocalFs].getName)
    assert(conf.get(LocalFs.FileContextKey) === classOf[LocalFsContext].getName)

    val user = new Configuration(false)
    user.addResource("core-default.xml")
    user.set(LocalFs.FileSystemKey, "org.apache.hadoop.fs.RawLocalFileSystem")
    user.set(LocalFs.FileContextKey, "org.apache.hadoop.fs.local.LocalFs")
    LocalFs.install(user)
    assert(user.get(LocalFs.FileSystemKey) === "org.apache.hadoop.fs.RawLocalFileSystem")
    assert(user.get(LocalFs.FileContextKey) === "org.apache.hadoop.fs.local.LocalFs")
  }

  test("a user-set fs.file.impl on the context wins over the extension") {
    val base = spark
    val sc = base.sparkContext
    val key = LocalFs.FileSystemKey
    val before = sc.hadoopConfiguration.get(key)
    val sources = Option(sc.hadoopConfiguration.getPropertySources(key))
      .flatMap(_.headOption).orNull
    val extensionsBefore = sc.getConf.getOption("spark.sql.extensions")
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    sc.hadoopConfiguration.set(key, "org.apache.hadoop.fs.LocalFileSystem")
    org.apache.spark.sql.GraftBridge.setContextConf(sc,
      "spark.sql.extensions", Some("graft.GraftExtensions"))
    try {
      val injected = SparkSession.builder().getOrCreate()
      assert(injected ne base, "expected a fresh session over the shared context")
      assert(sc.hadoopConfiguration.get(key) === "org.apache.hadoop.fs.LocalFileSystem")
    } finally {
      org.apache.spark.sql.GraftBridge.setContextConf(sc, "spark.sql.extensions",
        extensionsBefore)
      if (before == null) sc.hadoopConfiguration.unset(key)
      else sc.hadoopConfiguration.set(key, before, sources)
      SparkSession.setActiveSession(base)
      SparkSession.setDefaultSession(base)
    }
  }
}
