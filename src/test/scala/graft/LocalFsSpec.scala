package graft

import java.nio.file.{Files, Path => JPath, Paths}
import java.nio.file.attribute.PosixFilePermissions
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, FsConstants, Path, RawLocalFileSystem}
import graft.sinks.{NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem}
import graft.sources.Transcripts
import graft.streaming.StreamingPipeline

/** The `file:` file system `Graft.prep` installs: the modes, renames and
  * link answers of Hadoop's own, without a `chmod` or `readlink`
  * process. */
class LocalFsSpec extends SparkSpec {

  private val root = "/tmp/graft_local_fs_spec"
  private val stockFs = Seq(
    "fs.file.impl" -> classOf[org.apache.hadoop.fs.LocalFileSystem].getName,
    "fs.AbstractFileSystem.file.impl" -> classOf[org.apache.hadoop.fs.local.LocalFs].getName)
  // writers and checkpoints then build their file system from the query's
  // configuration instead of taking the JVM's cached one
  private val uncached = Seq("fs.file.impl.disable.cache" -> "true")

  private def walk(dir: String): Seq[JPath] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.toList finally s.close()
    }
  }

  private def rm(dir: String): Unit = walk(dir).reverse.foreach(Files.delete)

  private lazy val inputs: (String, String) = {
    rm(root)
    val t = Transcripts.load(spark, tiny)
    t.write.parquet(s"$root/in")
    t.repartition(2).write.parquet(s"$root/stream_in")
    (s"$root/in", s"$root/stream_in")
  }

  /** `graft.Main batch` and a two-micro-batch stream drain into `out`. */
  private def runSinks(out: String): Unit = {
    val (batchIn, streamIn) = inputs
    rm(out)
    Main.main(Array("batch", batchIn, s"$out/batch"))
    StreamingPipeline.start(spark, streamIn, s"$out/stream", s"$out/ckpt",
      maxFilesPerTrigger = Some(1)).awaitTermination()
  }

  private def withSessionConf[T](kv: Seq[(String, String)])(body: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  private val uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r

  /** Every path under `out` (write-job UUIDs masked) with its mode. */
  private def modes(out: String): Seq[(String, String)] =
    walk(out).drop(1).map { p =>
      uuid.replaceAllIn(Paths.get(out).relativize(p).toString, "U") ->
        PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    }.sorted

  test("sink and checkpoint files get the stock file system's modes") {
    for ((umask, file, dir) <- Seq(("022", "rw-r--r--", "rwxr-xr-x"),
                                   ("077", "rw-------", "rwx------"))) {
      val conf = uncached :+ ("fs.permissions.umask-mode" -> umask)
      val nio = withSessionConf(conf) { runSinks(s"$root/nio_$umask"); modes(s"$root/nio_$umask") }
      val stock = withSessionConf(conf ++ stockFs) {
        runSinks(s"$root/stock_$umask"); modes(s"$root/stock_$umask")
      }
      for (sub <- Seq("batch/file/", "batch/logstash/", "batch/elastic/", "batch/lineage/",
                      "stream/file/", "ckpt/offsets/", "ckpt/commits/"))
        assert(nio.exists(_._1.startsWith(sub)), s"nothing under $sub")
      assert(nio.exists(_._1.endsWith(".crc")))
      assert(nio == stock, s"umask $umask")
      // the driver writes the lineage files: they get the umask too
      for (sinks <- Seq("batch", "stream")) {
        val lineage = nio.filter(_._1.startsWith(s"$sinks/lineage"))
        assert(lineage.count(_._1.endsWith(".parquet.crc")) >= 1, lineage)
        for ((p, mode) <- lineage)
          assert(mode == (if (p == s"$sinks/lineage") dir else file), s"umask $umask: $p $mode")
      }
      if (umask == "022") {
        val (dirs, files) = nio.partition { case (p, _) => Files.isDirectory(Paths.get(s"$root/nio_$umask/$p")) }
        assert(files.forall(_._2 == file), files.filter(_._2 != file))
        assert(dirs.forall(_._2 == dir), dirs.filter(_._2 != dir))
      } else {
        // the umask reaches what Hadoop creates with a permission
        assert(nio.exists(_._2 == file) && nio.exists(_._2 == dir))
      }
    }
  }

  test("renaming onto an existing file returns false and keeps both files") {
    val fs = FileSystem.get(FsConstants.LOCAL_FS_URI, spark.sessionState.newHadoopConf())
    val (a, b) = (new Path(s"$root/rename/a"), new Path(s"$root/rename/b"))
    rm(s"$root/rename")
    for ((p, s) <- Seq(a -> "A", b -> "B")) {
      val o = fs.create(p); try o.writeBytes(s) finally o.close()
    }
    assert(!fs.rename(a, b))
    assert(Files.readString(Paths.get(a.toString)) == "A")
    assert(Files.readString(Paths.get(b.toString)) == "B")
    assert(fs.rename(a, new Path(s"$root/rename/c")))
  }

  test("getFileLinkStatus answers as Hadoop's on a symlink and a regular file") {
    val dir = Paths.get(s"$root/links")
    rm(dir.toString)
    Files.createDirectories(dir)
    val target = Files.writeString(dir.resolve("target"), "x")
    Files.createSymbolicLink(dir.resolve("link"), target)
    val conf = new Configuration()
    val stock = new RawLocalFileSystem()
    stock.initialize(FsConstants.LOCAL_FS_URI, conf)
    val nio = new NioRawLocalFileSystem()
    nio.initialize(FsConstants.LOCAL_FS_URI, conf)
    for (name <- Seq("target", "link"); qualify <- Seq(false, true)) {
      val raw = new Path(dir.resolve(name).toString)
      val p = if (qualify) stock.makeQualified(raw) else raw
      assert(nio.getFileLinkStatus(p).toString == stock.getFileLinkStatus(p).toString, p)
    }
    assert(nio.getFileLinkStatus(new Path(dir.resolve("link").toString)).isSymlink)
  }

  test("after Graft.prep the file: scheme resolves to the graft file systems") {
    def current = new Path("file:///tmp").getFileSystem(spark.sessionState.newHadoopConf())
    assert(current.isInstanceOf[NioLocalFileSystem])
    val fc = FileContext.getFileContext(FsConstants.LOCAL_FS_URI, spark.sessionState.newHadoopConf())
    assert(fc.getDefaultFileSystem.isInstanceOf[NioLocalFs])
    // a stock file system cached before the install is dropped from the cache
    current.close()
    val stockConf = new Configuration()
    stockFs.foreach { case (k, v) => stockConf.set(k, v) }
    assert(!FileSystem.get(FsConstants.LOCAL_FS_URI, stockConf).isInstanceOf[NioLocalFileSystem])
    sinks.LocalFs.install(new Configuration())
    assert(current.isInstanceOf[NioLocalFileSystem])
  }

  test("a second Graft.prep changes nothing; a user's fs.file.impl stays") {
    val conf = spark.sparkContext.hadoopConfiguration
    val keys = Seq("fs.file.impl", "fs.AbstractFileSystem.file.impl")
    val before = keys.map(conf.get)
    val fs = FileSystem.get(FsConstants.LOCAL_FS_URI, conf)
    Graft.prep(spark)
    assert(keys.map(conf.get) == before)
    assert(FileSystem.get(FsConstants.LOCAL_FS_URI, conf) eq fs)

    val user = classOf[org.apache.hadoop.fs.LocalFileSystem].getName
    conf.set("fs.file.impl", user)
    try {
      Graft.prep(spark)
      assert(conf.get("fs.file.impl") == user)
      assert(FileSystem.get(FsConstants.LOCAL_FS_URI, conf) eq fs)
    } finally conf.set("fs.file.impl", before.head)
  }

  test("no chmod or readlink process starts under the sinks and the checkpoint") {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    val dump = Files.createTempFile("graft_local_fs", ".jfr")
    rec.start()
    try {
      runSinks(s"$root/jfr")
      new ProcessBuilder("true").start().waitFor() // the recording sees process starts
    } finally { rec.stop(); rec.dump(dump); rec.close() }
    val programs = try jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala
      .filter(_.getEventType.getName == "jdk.ProcessStart")
      .map(e => Paths.get(e.getString("command").split(" ").head).getFileName.toString).toList
    finally Files.delete(dump)
    assert(programs.contains("true"), programs)
    val forks = programs.filter(Set("chmod", "readlink"))
    assert(forks.isEmpty, s"${forks.size} starts: ${forks.groupBy(identity).map(kv => kv._1 -> kv._2.size)}")
  }
}
