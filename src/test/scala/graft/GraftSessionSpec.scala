package graft

import graft.sources.ManifestTable
import java.nio.file.{Files, Path => JPath}
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.{ChecksumException, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import scala.jdk.CollectionConverters._

/** What [[GraftSession.defaults]] buys every session: tasks run under the
  * application classloader, and `file://` writes fork no process while
  * keeping stock permissions (setgid directories included) and
  * checksums. */
class GraftSessionSpec extends SparkSpec {

  test("tasks run under the application classloader, not a per-session " +
    "ExecutorClassLoader") {
    import spark.implicits._
    val loaders = spark.range(0, 2, 1, 2)
      .mapPartitions(_ => Iterator(Thread.currentThread.getContextClassLoader.getClass.getName))
      .collect()
    assert(loaders.length == 2)
    assert(!loaders.contains("org.apache.spark.executor.ExecutorClassLoader"), loaders.toSeq)
  }

  /** Commands of the processes `body` starts, from an in-process JFR
    * recording of `jdk.ProcessStart` alone. */
  private def processesStartedBy(body: => Unit): Seq[String] = {
    val rec = new Recording()
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      try body finally rec.stop()
      val out = Files.createTempFile("graft-forks", ".jfr")
      rec.dump(out)
      try RecordingFile.readAllEvents(out).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart").map(_.getString("command"))
      finally Files.delete(out)
    } finally rec.close()
  }

  /** The full mode bits (setuid, setgid, sticky, owner/group/other). */
  private def unixMode(p: JPath): String =
    f"${Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xFFF}%04o"

  private def stockFs: RawLocalFileSystem = {
    val fs = new RawLocalFileSystem
    fs.initialize(java.net.URI.create("file:///"), spark.sessionState.newHadoopConf())
    fs
  }

  // "" is a fresh temp directory; 2775 a setgid shared directory, whose
  // setgid bit stock chmod keeps on the directories a write creates
  for (parentMode <- Seq("", "2775")) {
    val under = if (parentMode.isEmpty) "" else " under a setgid directory"
    test(s"a partitioned merge$under forks no process and writes files and " +
      "directories with the permission bits of a stock RawLocalFileSystem write") {
      import spark.implicits._
      val base = Files.createTempDirectory("graft-nofork")
      if (parentMode.nonEmpty) {
        Files.setAttribute(base, "unix:mode", Int.box(Integer.parseInt(parentMode, 8)))
        assert(unixMode(base) == parentMode)
      }
      val root = base.resolve("t").toString
      val forks = processesStartedBy {
        ManifestTable.mergePartitioned(Seq((1L, "d1", "a"), (2L, "d2", "b"))
          .toDF("id", "day", "v"), root, Seq("id", "day"), "day")
      }
      assert(forks.isEmpty, forks)

      val (stockD, stockF) = (base.resolve("stock-d"), base.resolve("stock-f"))
      val fs = stockFs
      fs.mkdirs(new Path(stockD.toUri))
      fs.create(new Path(stockF.toUri), false).close()
      val written = Files.walk(java.nio.file.Paths.get(root, "data")).iterator().asScala.toSeq
      val (dirs, files) = written.partition(Files.isDirectory(_))
      assert(files.exists(_.toString.endsWith(".parquet")) && dirs.size >= 3, written)
      dirs.foreach(d => assert(unixMode(d) == unixMode(stockD), d))
      files.foreach(f => assert(unixMode(f) == unixMode(stockF), f))
    }
  }

  test("the filesystem sets any mode on files and directories the way chmod does") {
    val dir = Files.createTempDirectory("graft-chmod")
    val fs = org.apache.hadoop.fs.FileSystem.get(dir.toUri, spark.sessionState.newHadoopConf())
    assert(fs.isInstanceOf[GraftLocalFileSystem], fs.getClass)
    val stock = stockFs
    for (m <- Seq("640", "751", "404", "000", "1777"); kind <- Seq("file", "dir")) {
      val perm = new FsPermission(m)
      val (ours, theirs) = (dir.resolve(s"ours-$kind-$m"), dir.resolve(s"stock-$kind-$m"))
      Seq(ours, theirs).foreach(p =>
        if (kind == "dir") Files.createDirectory(p) else Files.createFile(p))
      fs.setPermission(new Path(ours.toUri), perm)
      stock.setPermission(new Path(theirs.toUri), perm)
      assert(unixMode(ours) == unixMode(theirs), s"$kind $m")
    }
  }

  test("committed data files keep their .crc checksums, and a flipped byte " +
    "fails the read with a ChecksumException") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-crc").toString
    ManifestTable.mergePartitioned(Seq((1L, "d1", "a"), (2L, "d1", "b"))
      .toDF("id", "day", "v"), root, Seq("id", "day"), "day")
    val parquet = Files.walk(java.nio.file.Paths.get(root, "data")).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).toSeq
    assert(parquet.nonEmpty)
    parquet.foreach { p =>
      assert(Files.exists(p.resolveSibling(s".${p.getFileName}.crc")), p)
    }
    assert(ManifestTable.read(spark, root).collect().length == 2)

    // a byte inside the footer, which every read of the file opens
    val bytes = Files.readAllBytes(parquet.head)
    bytes(bytes.length - 10) = (bytes(bytes.length - 10) ^ 0x01).toByte
    Files.write(parquet.head, bytes)
    val e = intercept[Exception](ManifestTable.read(spark, root).collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[ChecksumException]), e)
  }
}
