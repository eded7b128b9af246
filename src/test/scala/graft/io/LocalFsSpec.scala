package graft.io

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem,
  Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions.{col, lit}

import graft.{Main, SparkSpec, TempDirs}
import graft.streaming.StreamingPipeline

/** [[LocalFs]] behaves as Hadoop's local file system does, and the
  * sessions' local I/O runs on it without starting a process.
  */
class LocalFsSpec extends SparkSpec {

  private def raw(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(URI.create("file:///"), spark.sessionState.newHadoopConf())
    fs
  }
  private lazy val stock = raw(new RawLocalFileSystem)
  private lazy val ours = raw(new LocalFs.Raw)

  private def perm(octal: String) =
    new FsPermission(Integer.parseInt(octal, 8).toShort)

  /** Permission bits and the sticky bit of `path`, as `stat` reads them. */
  private def mode(path: String): String =
    Integer.toOctalString(
      Files.getAttribute(Paths.get(path), "unix:mode").asInstanceOf[Int] & 0xfff)

  test("create, mkdirs and setPermission leave the stock POSIX modes") {
    val dir = TempDirs.create("graft-localfs")
    val modes = Seq("600", "640", "755")
    def modesOf(fs: FileSystem, root: String): Map[String, String] =
      modes.flatMap { o =>
        val created = new Path(s"$root/create-$o")
        fs.create(created, perm(o), true, 4096, 1.toShort, 1L << 20, null)
          .close()
        fs.mkdirs(new Path(s"$root/mkdirs-$o/a/b"), perm(o))
        val set = new Path(s"$root/set-$o")
        fs.create(set).close()
        fs.setPermission(set, perm(o))
        Seq(s"create-$o", s"mkdirs-$o", s"mkdirs-$o/a", s"mkdirs-$o/a/b",
          s"set-$o").map(rel => rel -> mode(s"$root/$rel"))
      }.toMap
    val want = modesOf(stock, s"$dir/stock")
    assert(modesOf(ours, s"$dir/ours") == want)
    modes.foreach(o => assert(want(s"set-$o") == o))

    // the sticky bit is beyond NIO: Hadoop sets it
    val sticky = Seq(stock, ours).map { fs =>
      val d = new Path(s"$dir/sticky-${fs.getClass.getSimpleName}")
      fs.mkdirs(d)
      fs.setPermission(d, perm("1777"))
      mode(d.toUri.getPath)
    }
    assert(sticky == Seq("1777", "1777"))
  }

  test("getFileLinkStatus equals the stock status; symlinks keep their target") {
    val dir = TempDirs.create("graft-localfs")
    val file = Paths.get(s"$dir/file")
    Files.writeString(file, "x")
    Files.createDirectory(Paths.get(s"$dir/dir"))
    Files.createSymbolicLink(Paths.get(s"$dir/link"), file)
    Files.createSymbolicLink(Paths.get(s"$dir/dangling"),
      Paths.get(s"$dir/gone"))
    def fields(s: FileStatus) = (s.getPath, s.isDirectory, s.isSymlink,
      s.getLen, s.getModificationTime,
      if (s.isSymlink) Some(s.getSymlink) else None)
    Seq("file", "dir", "link", "dangling").foreach { name =>
      val p = new Path(s"$dir/$name")
      assert(fields(ours.getFileLinkStatus(p)) ==
        fields(stock.getFileLinkStatus(p)), name)
    }
    assert(ours.getFileLinkStatus(new Path(s"$dir/link")).getSymlink ==
      new Path(s"file:$file"))
    Seq(stock, ours).foreach { fs =>
      intercept[java.io.FileNotFoundException](
        fs.getFileLinkStatus(new Path(s"$dir/missing")))
    }
  }

  test("a FileContext rename with overwrite carries the checksum file") {
    val dir = TempDirs.create("graft-localfs")
    val conf = spark.sessionState.newHadoopConf()
    val fc = FileContext.getFileContext(
      new LocalFs.Context(URI.create("file:///"), conf), conf)
    val (src, dst) = (new Path(s"file:$dir/src"), new Path(s"file:$dir/dst"))
    def write(p: Path, s: String): Unit = {
      val out = fc.create(p, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
      try out.write(s.getBytes(UTF_8)) finally out.close()
    }
    write(src, "new")
    write(dst, "old")
    fc.rename(src, dst, Options.Rename.OVERWRITE)
    assert(Seq("src", ".src.crc").forall(n => !Files.exists(Paths.get(s"$dir/$n"))))
    assert(Files.exists(Paths.get(s"$dir/.dst.crc")))
    // the read verifies against .dst.crc; "old"'s checksum would fail it
    val in = fc.open(dst)
    try assert(new String(in.readAllBytes(), UTF_8) == "new") finally in.close()
  }

  test("a tick and a stream drain start no chmod or readlink process") {
    // Hadoop caches FileSystems per scheme, not per conf: a stock instance
    // resolved first would silently win
    val conf = spark.sessionState.newHadoopConf()
    assert(new Path("file:///").getFileSystem(conf).getClass == classOf[LocalFs])
    assert(FileContext.getFileContext(URI.create("file:///"), conf)
      .getDefaultFileSystem.getClass == classOf[LocalFs.Context])

    val dir = TempDirs.create("graft-localfs")
    val log = Paths.get(s"$dir/log.txt")
    Files.writeString(log, "apple pie\napple tart\nbanana\napple pie\n")
    val (state, topK) = (s"$dir/state", s"$dir/topk")
    Main.runOnce(spark, log.toString, state, topK, 3)
    val staged = s"$dir/staged"
    (0 until 4).foreach { i =>
      spark.range(4).select(lit(i.toLong).as("slice"), col("id").as("k"))
        .coalesce(1).write.mode("append").parquet(staged)
    }

    val jfr = Paths.get(s"$dir/process-start.jfr")
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.setDestination(jfr)
    rec.start()
    try {
      Main.runOnce(spark, log.toString, state, topK, 3)
      StreamingPipeline.drainComplete(spark, staged, "localfs")(
        _.groupBy("slice").count())
      // a process the recording must see: the guard is not vacuous
      new ProcessBuilder("true").start().waitFor()
    } finally { rec.stop(); rec.close() }

    val commands = RecordingFile.readAllEvents(jfr).asScala
      .filter(_.getEventType.getName == "jdk.ProcessStart")
      .map(_.getString("command")).toSeq
    assert(commands.contains("true"), commands)
    val forks = commands.filter(_.matches("(.*/)?(chmod|readlink)( .*)?"))
    assert(forks.isEmpty, forks.take(5))
  }
}
