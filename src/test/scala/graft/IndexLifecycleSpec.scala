package graft

import graft.sources.{ClusterIndex, DedupIndex, DfIndex, ManifestTable, ModalityIndex}
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
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

  test("building a read, readPartitions or readChanges frame of a committed " +
    "version starts no Spark job: the manifest records the schema") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-lifecycle-read").toString
    val key = Seq("id", "day")
    ManifestTable.mergePartitioned(Seq((1L, "d1", "a"), (2L, "d2", "b"))
      .toDF("id", "day", "v"), root, key, "day")
    ManifestTable.mergePartitioned(Seq((1L, "d1", "A", 0.5))
      .toDF("id", "day", "v", "score"), root, key, "day")
    val frames = scala.collection.mutable.Buffer.empty[org.apache.spark.sql.DataFrame]
    assert(jobsOf {
      frames += ManifestTable.read(spark, root)
      frames += ManifestTable.readVersion(spark, root, 1)
      frames += ManifestTable.readPartitions(spark, root, Set("d1"))
      frames += ManifestTable.readPartitions(spark, root, Set("none"))
      frames += ManifestTable.readChanges(spark, root, 1, 2, key, preimages = true)
      frames += ManifestTable.readChanges(spark, root, 2, 2, key)
      frames.foreach(_.schema)
    } == 0)
    assert(frames.head.columns.toSeq == Seq("id", "day", "v", "score"))
    assert(frames(4).count() == 2, "one update: a pre- and a post-image")
  }

  /** A 12-doc corpus (version 1) with the four measured families
    * bootstrapped from it: the corpus root and every table root by name. */
  private def bootstrapped(prefix: String): (String, Map[String, String]) = {
    import spark.implicits._
    val work = Files.createTempDirectory(prefix).toString
    val roots = Seq("fp", "band", "df", "cband", "memb", "rep", "media")
      .map(t => t -> s"$work/$t").toMap
    val corpus = s"$work/corpus"
    val docs = (1L to 12L).map(i => (i, s"$text number $i of the corpus"))
    ManifestTable.merge(docs.toDF("doc_id", "text"), corpus, Seq("doc_id"))
    val snap = ManifestTable.read(spark, corpus)
    DedupIndex.bootstrapFpIndex(snap, roots("fp"))
    DedupIndex.bootstrapBandIndex(snap, roots("band"))
    DfIndex.bootstrapDfIndex(snap, roots("df"))
    DedupIndex.bootstrapBandIndex(snap, roots("cband"))
    ClusterIndex.bootstrap(snap, roots("memb"), roots("rep"))
    ModalityIndex.bootstrapModalityIndex(
      snap.select($"doc_id", org.apache.spark.sql.functions.length($"text").cast("long")
        .as("n_chars")), roots("media"))
    (corpus, roots)
  }

  /** Jobs of one applyBatch of `ch` as batch `id` per index family. */
  private def familyJobs(ch: DataFrame, id: Long, t: Map[String, String]): Map[String, Int] =
    Map(
      "dedup" -> jobsOf(DedupIndex.applyBatch(ch, id, t("fp"), t("band"))),
      "df" -> jobsOf(DfIndex.applyBatch(ch, id, t("df"))),
      "cluster" -> jobsOf(ClusterIndex.applyBatch(ch, id, t("cband"), t("memb"), t("rep"))),
      "media" -> jobsOf(ModalityIndex.applyBatch(ch, id, t("media"))))

  /** Jobs of one non-replayed applyBatch per index family over a fixed
    * corpus change (inserts, an update, a delete, a near-duplicate).
    * The ceilings are the counts measured when they were set; they may
    * only move down. */
  test("one applyBatch per index family stays within its job ceiling") {
    import spark.implicits._
    val (corpus, t) = bootstrapped("graft-lifecycle-jobs")
    val v = ManifestTable.merge(Seq((3L, "fresh words for doc three"),
        (13L, s"$text number 5 of the corpus"), (14L, "a new unrelated document"))
      .toDF("doc_id", "text"), corpus, Seq("doc_id"))
    ManifestTable.commit(ManifestTable.read(spark, corpus).where($"doc_id" =!= 7L), corpus)
    val ch = ManifestTable.readChanges(spark, corpus, 1, v + 1, Seq("doc_id"), preimages = true)
      .localCheckpoint()
    val jobs = familyJobs(ch, (v + 1).toLong, t)
    val ceilings = Map("dedup" -> 19, "df" -> 11, "cluster" -> 60, "media" -> 8)
    ceilings.foreach { case (family, ceiling) =>
      assert(jobs(family) <= ceiling, s"$family applyBatch ran ${jobs(family)} jobs")
    }
    assert(ClusterIndex.readMembership(spark, t("memb")).where($"doc_id" === 7L).isEmpty,
      "the batch was applied")
  }

  test("an applyBatch whose delta has no rows starts at most one job per family " +
    "and commits nothing") {
    import spark.implicits._
    val (corpus, t) = bootstrapped("graft-lifecycle-empty")
    // an idempotent re-merge: a commit that changes no row
    val v = ManifestTable.merge(ManifestTable.read(spark, corpus).as[(Long, String)]
      .collect().toSeq.toDF("doc_id", "text"), corpus, Seq("doc_id"))
    val ch = ManifestTable.readChanges(spark, corpus, v - 1, v, Seq("doc_id"), preimages = true)
      .localCheckpoint()
    assert(ch.isEmpty)
    val versions = t.view.mapValues(ManifestTable.currentVersion).toMap
    val jobs = familyJobs(ch, v.toLong, t)
    assert(jobs.values.forall(_ <= 1), s"jobs per family: $jobs")
    assert(t.view.mapValues(ManifestTable.currentVersion).toMap == versions,
      "an empty delta commits nothing")
  }

  /** Jobs of one call of each probe on the bootstrapped fixture: those
    * started while its frame is built, and all of them once the frame
    * is materialized through the noop sink (perfbench's probe op). The
    * ceilings are the counts measured when they were set; they may only
    * move down. */
  test("each probe call stays within its job ceiling, building and in total") {
    import spark.implicits._
    val (_, t) = bootstrapped("graft-lifecycle-probe")
    val arrivals = Seq((20L, s"$text number 3 of the corpus"), (21L, "a brand new document"))
      .toDF("doc_id", "text")
    val probes = Seq[(String, () => DataFrame)](
      "exact" -> (() => DedupIndex.probeExact(arrivals, spark, t("fp"))),
      "neardup" -> (() => DedupIndex.probeNearDup(arrivals, spark, t("band"))),
      "tfidf" -> (() => DfIndex.probeTfIdf(arrivals, spark, t("df"))),
      "keepers" -> (() => ClusterIndex.readKeepers(spark, t("memb"))))
    val jobs = probes.map { case (name, probe) =>
      var frame: DataFrame = null
      val build = jobsOf { frame = probe() }
      name -> (build, build + jobsOf(frame.write.format("noop").mode("overwrite").save()))
    }.toMap
    // building: probeExact's bucket-id collect; probeTfIdf's tf aggregate
    // (AQE runs its shuffle when the lazy checkpoint takes the plan's
    // RDD) and its bucket-id collect
    val ceilings = Map("exact" -> (1, 4), "neardup" -> (0, 4), "tfidf" -> (2, 7),
      "keepers" -> (0, 2))
    ceilings.foreach { case (probe, (build, total)) =>
      assert(jobs(probe)._1 <= build && jobs(probe)._2 <= total,
        s"$probe: ${jobs(probe)} (building, total) jobs")
    }
  }

  private def mainSources: Seq[Path] =
    Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala")).toSeq

  private def containing(files: Seq[Path], literal: String): Seq[String] =
    files.filter(p => Files.readString(p).contains(literal)).map(_.toString)

  private def indexSources: Seq[Path] = mainSources.filter(p =>
    p.getParent.endsWith(Paths.get("graft/sources")) &&
      p.getFileName.toString.endsWith("Index.scala"))

  test("no index file reads CDC or opens a CDC stream itself") {
    val indexes = indexSources
    assert(indexes.size >= 10, s"index sources not found: $indexes")
    assert(containing(indexes, "ManifestTable.readChanges(").isEmpty)
    assert(containing(indexes, "\"graft-manifest-cdc\"").isEmpty)
  }

  test("no index file guards an empty delta itself: the lifecycle and " +
    "mergePartitioned hold the one rule") {
    assert(containing(indexSources, "changes.isEmpty").isEmpty)
    assert(containing(indexSources, ".isEmpty) return ManifestTable.currentVersion").isEmpty)
  }

  test("the AQE session profile lives only in GraftSession") {
    val outside = mainSources.filterNot(_.getFileName.toString == "GraftSession.scala")
    assert(containing(outside, "\"spark.sql.adaptive.").isEmpty)
    // so do the artifact-classloader and file:// filesystem defaults
    assert(containing(outside, "\"spark.sql.artifact.").isEmpty)
    assert(containing(outside, "fs.file.impl").isEmpty)
    // every session is built there too, and only the four mains build one
    assert(containing(outside, "SparkSession.builder").isEmpty)
    assert(containing(outside, ".master(").isEmpty)
    val mains = containing(mainSources, "def main(").map(f =>
      """(?m)^object (\w+)""".r.findFirstMatchIn(Files.readString(Paths.get(f))).get.group(1))
    assert(mains.sorted == Seq("PipelineDemo", "Probe", "ScaleProbe", "Verify"), mains)
  }

  test("the retired benchmark and profile env knobs are read nowhere") {
    val knobs = Seq("BENCH_POOL", "SHUFFLE_CONC", "BENCH_ATTEMPTS", "CAL_IO_BASIS",
      "BENCH_OUT", "PARALLELISM_FIRST", "ADVISORY_PART", "AQE_CACHED",
      "MAX_RECORDS_PER_FILE")
    knobs.foreach(k => assert(containing(mainSources, "SPARK_GRAFT_" + k).isEmpty, k))
  }
}
