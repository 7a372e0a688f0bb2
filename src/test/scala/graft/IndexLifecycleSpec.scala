package graft

import graft.sources.{ClusterIndex, DedupIndex, ManifestTable}
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import scala.jdk.CollectionConverters._

/** Pins the shape of the one index lifecycle
  * ([[graft.sources.IndexLifecycle]]): a fully replayed batch is
  * rejected by its watermarks before any Spark job runs, and the
  * exactly-once protocol, CDC reads and session profile are not copied
  * back into the files that delegate to them. */
class IndexLifecycleSpec extends SparkSpec {

  private val text = "the quick brown fox jumps over the lazy dog again and again"

  /** Spark jobs `body` starts on this thread. A sentinel job started
    * afterwards marks the end: the listener bus delivers events in
    * order, so once the sentinel is seen every earlier job was too. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"lifecycle-${System.nanoTime()}"
    val counted = new AtomicInteger
    @volatile var sentinelSeen = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => counted.incrementAndGet()
          case Some(g) if g == s"$group-end" => sentinelSeen = true
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "measured")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-end", "sentinel")
      try spark.range(1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!sentinelSeen && System.nanoTime() < deadline) Thread.sleep(20)
      assert(sentinelSeen, "the sentinel job never reached the listener")
      counted.get
    } finally sc.removeSparkListener(listener)
  }

  test("a fully replayed DedupIndex / ClusterIndex applyBatch starts no Spark job") {
    import spark.implicits._
    val work = Files.createTempDirectory("graft-lifecycle").toString
    val Seq(corpus, fp, band, cband, memb, rep) =
      Seq("corpus", "fp", "band", "cband", "memb", "rep").map(t => s"$work/$t")
    val v = ManifestTable.merge(Seq((1L, text), (2L, text), (3L, "unrelated words"))
      .toDF("doc_id", "text"), corpus, Seq("doc_id"))
    val ch = ManifestTable.readChanges(spark, corpus, 0, v, Seq("doc_id"), preimages = true)

    val firstDedup = jobsOf(DedupIndex.applyBatch(ch, v.toLong, fp, band))
    val firstCluster = jobsOf(ClusterIndex.applyBatch(ch, v.toLong, cband, memb, rep))
    assert(firstDedup > 0 && firstCluster > 0, "the listener counts this thread's jobs")
    val versions = Seq(fp, band, cband, memb, rep).map(ManifestTable.currentVersion)

    assert(jobsOf(DedupIndex.applyBatch(ch, v.toLong, fp, band)) == 0)
    assert(jobsOf(ClusterIndex.applyBatch(ch, v.toLong, cband, memb, rep)) == 0)
    assert(Seq(fp, band, cband, memb, rep).map(ManifestTable.currentVersion) == versions,
      "a replay commits nothing")
  }

  private def mainSources: Seq[Path] =
    Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala")).toSeq

  private def containing(files: Seq[Path], literal: String): Seq[String] =
    files.filter(p => Files.readString(p).contains(literal)).map(_.toString)

  test("no index file reads CDC or opens a CDC stream itself") {
    val indexes = mainSources.filter(p =>
      p.getParent.endsWith(Paths.get("graft/sources")) &&
        p.getFileName.toString.endsWith("Index.scala"))
    assert(indexes.size >= 10, s"index sources not found: $indexes")
    assert(containing(indexes, "ManifestTable.readChanges(").isEmpty)
    assert(containing(indexes, "\"graft-manifest-cdc\"").isEmpty)
  }

  test("the AQE session profile lives only in GraftSession") {
    val outside = mainSources.filterNot(_.getFileName.toString == "GraftSession.scala")
    assert(containing(outside, "\"spark.sql.adaptive.").isEmpty)
    // every session is built there too, and only the four mains build one
    assert(containing(outside, "SparkSession.builder").isEmpty)
    assert(containing(outside, ".master(").isEmpty)
    val mains = containing(mainSources, "def main(").map(f =>
      """(?m)^object (\w+)""".r.findFirstMatchIn(Files.readString(Paths.get(f))).get.group(1))
    assert(mains.sorted == Seq("PipelineDemo", "Probe", "ScaleProbe", "Verify"), mains)
  }

  test("the retired benchmark and profile env knobs are read nowhere") {
    val knobs = Seq("BENCH_POOL", "SHUFFLE_CONC", "BENCH_ATTEMPTS", "CAL_IO_BASIS",
      "BENCH_OUT", "PARALLELISM_FIRST", "ADVISORY_PART", "AQE_CACHED")
    knobs.foreach(k => assert(containing(mainSources, "SPARK_GRAFT_" + k).isEmpty, k))
  }
}
