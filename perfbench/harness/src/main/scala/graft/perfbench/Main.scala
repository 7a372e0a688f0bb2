package graft.perfbench

import graft.{GraftSession, SparkEntry, Tables}
import graft.functions.{CurationOps, EntityOps, TextOps, VectorOps}
import graft.multimodal.Multimodal
import graft.operators.{Extended, Relational, TimeSeries}
import graft.sources.{ClusterIndex, DedupIndex, DfIndex, ManifestTable, ModalityIndex}
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, length}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One timed operation: a query, a commit, a refresh or a probe. */
final case class Op(layer: String, name: String, run: () => Unit)

/** A workload: set-up, a fixed operation list per pass, and the untimed
  * check that writes results for the Python side to compare. */
trait Workload {
  def setup(): Unit
  def warmup: Seq[Op]
  def pass(i: Int): Seq[Op]
  def maxPasses: Int
  def check(out: String): Unit
  /** Untimed bookkeeping after each pass (traced runs only). */
  def afterPass(): Unit = ()
}

/** Benchmark harness: runs one workload in this (fresh) JVM and writes
  * raw measurements as JSON for `perfbench/run.py`.
  *
  * Usage: Main --workload queries|maintain --data DIR --work DIR
  *        --seconds N --trace 0|1 --cpus N --out FILE */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val (data, work, cpus) = (a("data"), a("work"), a("cpus").toInt)
    val spark = GraftSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.local.dir", s"$work/spark-local")
      // the session profile graft.Bench times under
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionMs = System.currentTimeMillis()
    val tracer = new Tracer(spark, a("trace") == "1")
    val wl: Workload = a("workload") match {
      case "queries" => new Queries(spark, tracer, data, s"$work/results",
        // olap: calorista's reporting surface, tables read from parquet
        Queries.sample(Seq(Relational.queries, TimeSeries.queries, Extended.queries)
          .flatMap(_.toSeq.map { case (n, f) => Query("operators", n, f, cached = false) }), 10) ++
        // curation: the LLM-data queries, over cached tables and views
        Queries.sample(Seq(TextOps.queries, CurationOps.queries, VectorOps.queries,
            EntityOps.queries).flatMap(_.toSeq.map { case (n, f) => Query("functions", n, f) }) ++
          Multimodal.queries.toSeq.map { case (n, f) => Query("multimodal", n, f) }, 20))
      case "maintain" => new Maintain(spark, tracer, data, s"$work/maintain")
      case w => sys.error(s"unknown workload $w")
    }
    val out = new Json
    val failures = ArrayBuffer.empty[String]
    val opNames = ArrayBuffer.empty[String]
    var attempted, failed = 0
    def runOp(op: Op, lat: Option[ArrayBuffer[Double]]): Unit = {
      val t0 = System.nanoTime()
      try {
        tracer.span(op.layer)(op.run())
        lat.foreach(_ += (System.nanoTime() - t0) / 1e9)
        if (lat.isDefined) opNames += op.name
      } catch {
        case e: Throwable =>
          failed += 1
          failures += s"${op.name}: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
          System.err.println(s"[perfbench] ${op.name} failed: $e")
      }
      attempted += 1
    }

    wl.setup()
    val warmupStartMs = System.currentTimeMillis()
    wl.warmup.foreach(runOp(_, None))
    val setupEndMs = System.currentTimeMillis()
    val (setupAttempted, setupFailed) = (attempted, failed)
    attempted = 0; failed = 0

    tracer.window = "timed"
    val steal0 = Host.stealTicks()
    val (opS, passWall, passCpu) = (ArrayBuffer.empty[Double], ArrayBuffer.empty[Double],
      ArrayBuffer.empty[Double])
    val t0 = System.nanoTime()
    var passes = 0
    while (passes < wl.maxPasses && (passes == 0 || (System.nanoTime() - t0) / 1e9 < a("seconds").toDouble)) {
      val (w0, c0) = (System.nanoTime(), Clock.processCpuNs)
      wl.pass(passes).foreach(runOp(_, Some(opS)))
      if (tracer.enabled) wl.afterPass()
      passWall += (System.nanoTime() - w0) / 1e9
      passCpu += (Clock.processCpuNs - c0) / 1e9
      passes += 1
    }
    val windowS = (System.nanoTime() - t0) / 1e9
    val stealS = (Host.stealTicks() - steal0) / Host.TicksPerSecond
    tracer.window = "check"
    val counters = tracer.snapshot()

    val checkStart = System.nanoTime()
    wl.check(s"$work/results")
    out("check_s", (System.nanoTime() - checkStart) / 1e9)
    out("setup_end_ms", setupEndMs)
    out("session_ms", sessionMs); out("warmup_start_ms", warmupStartMs)
    out("setup_attempted", setupAttempted); out("setup_failed", setupFailed)
    out("attempted", attempted); out("failed", failed)
    out("failures", failures.toSeq)
    out("passes", passes); out("window_s", windowS); out("steal_s", stealS)
    out("pass_wall_s", passWall.toSeq); out("pass_cpu_s", passCpu.toSeq)
    out("op_s", opS.toSeq); out("op_names", opNames.toSeq)
    out("vm_hwm_kb", Host.vmHwmKb())
    out("trace", counters)
    Files.writeString(Paths.get(a("out")), out.render)
    spark.stop()
  }
}

/** One `SparkEntry` query of the queries workload. `cached` queries run
  * with graft's table and view cache on (`graft.cacheTables`, the
  * switch Bench sets); the others read their tables from parquet. */
final case class Query(layer: String, name: String,
    fn: (SparkSession, String) => DataFrame, cached: Boolean = true)

/** The queries workload: olap queries over parquet and curation queries
  * over cached tables and shared views, each built by its public
  * function and fully materialized through the `noop` sink. */
final class Queries(spark: SparkSession, tracer: Tracer, data: String, results: String,
    queries: Seq[Query]) extends Workload {
  /** A copy of the tables that nothing caches. Spark's cache manager
    * would otherwise answer a fresh parquet read of a cached table's
    * own files from the cache. */
  private val uncached = s"$data/uncached"
  private def build(q: Query): DataFrame = {
    sys.props("graft.cacheTables") = q.cached.toString
    tracer.phase("build")(q.fn(spark, if (q.cached) data else uncached))
  }
  private val ops = queries.map { q =>
    Op(q.layer, q.name, () => {
      val df = build(q)
      tracer.phase("action")(df.write.format("noop").mode("overwrite").save())
    })
  }

  /** Bench's suite cache: every base table persisted, then every shared
    * view built in dependency order, each as a span of its own. */
  def setup(): Unit = {
    Files.createDirectories(Paths.get(uncached))
    Tables.names.foreach(n =>
      Files.copy(Paths.get(s"$data/$n.parquet"), Paths.get(s"$uncached/$n.parquet")))
    sys.props("graft.cacheTables") = "true"
    tracer.span("tables")(Tables.names.foreach(n => Tables(spark, data, n).count()))
    val before = Storage.of(spark)
    val views = TextOps.sharedViewBuilders(spark, data) ++
      VectorOps.sharedViewBuilders(spark, data) ++
      Multimodal.sharedViewBuilders(spark, data)
    views.foreach { case (_, force) => tracer.span("views")(force()) }
    val after = Storage.of(spark)
    tracer.note("views", "cache_b", after._1 - before._1)
    tracer.note("views", "persisted_rdds", after._2 - before._2)
  }

  /** The warm-up pass is the check pass: each query's result goes to
    * parquet under `results`, in the same session, conf and caches the
    * timed passes then use. */
  def warmup: Seq[Op] = queries.map { q =>
    Op(q.layer, q.name, () =>
      build(q).coalesce(1).write.mode("overwrite").parquet(s"$results/${q.name}"))
  }
  def pass(i: Int): Seq[Op] = ops
  def maxPasses: Int = Int.MaxValue

  /** The oracle SQL of every query, beside the results. */
  def check(out: String): Unit = {
    val names = queries.map(_.name).toSet
    val j = new Json
    SparkEntry.oracleSql.filter { case (k, _) => names(k) }.foreach { case (k, v) => j(k, v) }
    Files.writeString(Paths.get(s"$out/oracle_sql.json"), j.render)
  }
}

object Queries {
  /** Every `stride`-th query in name order: a fixed systematic sample
    * of a query surface, small enough that set-up, a cold warm-up pass
    * and a timed pass fit the benchmark's run budget. */
  def sample(qs: Seq[Query], stride: Int): Seq[Query] =
    qs.sortBy(_.name).zipWithIndex.collect { case (q, i) if i % stride == 0 => q }
}

/** maintain: a seeded stream of corpus commits through
  * `ManifestTable.merge`. After each commit every maintained index is
  * refreshed, then the commit's arrivals are probed. */
final class Maintain(spark: SparkSession, tracer: Tracer, data: String, root: String)
    extends Workload {
  private val Seq(corpus, fp, band, df, cband, memb, rep, media) =
    Seq("corpus", "fp", "band", "df", "cband", "memb", "rep", "media").map(t => s"$root/$t")
  private val stream = s"$data/stream"
  private var version = 0
  private def batch(name: String): DataFrame =
    spark.read.parquet(s"$stream/$name.parquet").select(col("doc_id"), col("text"))

  private var roundStart = Map.empty[Path, Long]
  private val probed = ArrayBuffer.empty[DataFrame]
  private def commit(i: Int): Op = Op("sources.commit", s"commit_$i", () => {
    version = ManifestTable.merge(batch(s"commit_$i"), corpus, Seq("doc_id"))
  })

  /** Files and bytes a commit round (merge plus refreshes) added under
    * the corpus and index roots, against the bytes it committed. */
  override def afterPass(): Unit = {
    val now = Storage.files(Paths.get(root))
    val added = now.keySet -- roundStart.keySet
    tracer.note("sources.commit", "files_written", added.size)
    tracer.note("sources.commit", "bytes_written", added.toSeq.map(now).sum.toDouble)
    tracer.note("sources.commit", "batch_b",
      Files.size(Paths.get(s"$stream/commit_$rounds.parquet")).toDouble)
    roundStart = now
    // rows the probes returned, counted outside every measured span
    val rows = tracer.span("aux")(probed.map(_.count()).sum)
    tracer.note("sources.probe", "rows_returned", rows.toDouble)
    probed.clear()
  }

  private def refreshes: Seq[Op] = {
    def r(kind: String)(f: (Int, Int) => Unit) =
      Op(s"sources.refresh.$kind", s"refresh_$kind", () => f(version - 1, version))
    Seq(
      r("dedup")(DedupIndex.refreshIndexes(spark, corpus, fp, band, _, _)),
      r("df")(DfIndex.refresh(spark, corpus, df, _, _)),
      r("cluster")(ClusterIndex.refresh(spark, corpus, cband, memb, rep, _, _)),
      r("media")(ModalityIndex.refresh(spark, corpus, media, _, _)))
  }

  private def probes(i: Int): Seq[Op] = {
    def p(name: String)(f: => DataFrame) = Op("sources.probe", s"${name}_$i", () => {
      val d = tracer.phase("build")(f)
      tracer.phase("action")(d.write.format("noop").mode("overwrite").save())
      if (tracer.enabled) probed += d
    })
    // the arrivals come in two halves, each probed on its own
    val halves = (0 to 1).map(h => batch(s"arrivals_$i").where(col("doc_id") % 2 === h))
    halves.zipWithIndex.flatMap { case (arr, h) =>
      Seq(p(s"probe_exact_$h")(DedupIndex.probeExact(arr, spark, fp)),
        p(s"probe_neardup_$h")(DedupIndex.probeNearDup(arr, spark, band)),
        p(s"probe_tfidf_$h")(DfIndex.probeTfIdf(arr, spark, df)))
    } :+ p("read_keepers")(ClusterIndex.readKeepers(spark, memb))
  }

  private var rounds = 0
  /** Commit 0 bootstraps the corpus; every index is then built in one
    * shot from that snapshot by its public bootstrap function, and the
    * timed rounds maintain them incrementally from version 1 on. */
  def setup(): Unit = {
    tracer.span("sources.commit")(commit(0).run())
    tracer.span("sources.bootstrap") {
      val snap = ManifestTable.read(spark, corpus).select(col("doc_id"), col("text"))
        .localCheckpoint()
      DedupIndex.bootstrapFpIndex(snap, fp)
      DedupIndex.bootstrapBandIndex(snap, band)
      DfIndex.bootstrapDfIndex(snap, df)
      DedupIndex.bootstrapBandIndex(snap, cband)
      ClusterIndex.bootstrap(snap, memb, rep)
      ModalityIndex.bootstrapModalityIndex(
        snap.select(col("doc_id"), length(col("text")).cast("long").as("n_chars")), media)
    }
    if (tracer.enabled) roundStart = Storage.files(Paths.get(root))
  }
  /** No separate warm-up: a round costs as much as the whole set-up,
    * and the bootstrap already runs the index code paths once. */
  def warmup: Seq[Op] = Nil
  def maxPasses: Int =
    Files.list(Paths.get(stream)).iterator().asScala.count(_.getFileName.toString.startsWith("commit_")) - 1
  def pass(i: Int): Seq[Op] = { rounds = i + 1; (commit(i + 1) +: refreshes) ++ probes(i + 1) }

  def check(out: String): Unit = {
    // untimed: the outputs are written four at a time
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val pending = ArrayBuffer.empty[java.util.concurrent.Future[_]]
    def w(name: String, d: => DataFrame): Unit = pending += pool.submit(new Runnable {
      def run(): Unit = d.coalesce(1).write.mode("overwrite").parquet(s"$out/$name")
    })
    val snap = ManifestTable.read(spark, corpus).select(col("doc_id"), col("text")).localCheckpoint()
    w("corpus", snap)
    w("fp_maint", DedupIndex.readFpIndex(spark, fp).select("fp", "n_docs"))
    w("fp_comp", DedupIndex.computeFpIndex(snap).select("fp", "n_docs"))
    w("band_maint", DedupIndex.readBandIndex(spark, band).select("doc_id", "band", "bucket"))
    w("band_comp", DedupIndex.computeBandIndex(snap).select("doc_id", "band", "bucket"))
    w("df_maint", DfIndex.readDfIndex(spark, df))
    w("df_comp", DfIndex.computeDfIndex(snap).where(col("token") =!= DfIndex.MetaToken)
      .select("token", "df_docs"))
    w("df_n", DfIndex.corpusSize(spark, df))
    w("memb_maint", ClusterIndex.readMembership(spark, memb))
    w("memb_comp", ClusterIndex.computeMembership(snap).select("doc_id", "rep"))
    val snapChars = snap.select(col("doc_id"), length(col("text")).cast("long").as("n_chars"))
    w("media_maint", ModalityIndex.readModalityIndex(spark, media).select("bk", "media_id", "hi", "lo"))
    w("media_comp", ModalityIndex.computeModalityIndex(snapChars).select("bk", "media_id", "hi", "lo"))
    val arr = batch(s"arrivals_$rounds")
    w("probe_exact", DedupIndex.probeExact(arr, spark, fp))
    w("probe_neardup", DedupIndex.probeNearDup(arr, spark, band))
    w("probe_tfidf", DfIndex.probeTfIdf(arr, spark, df))
    try pending.foreach(_.get()) finally pool.shutdown()
    val j = new Json
    j("rounds", rounds)
    j("corpus_stored_b", Storage.files(Paths.get(corpus)).values.sum)
    j("q125", SparkEntry.oracleSql("q125_incremental_dedup"))
    j("q126", SparkEntry.oracleSql("q126_incremental_neardup"))
    j("q146", SparkEntry.oracleSql("q146_maintained_tfidf"))
    Files.writeString(Paths.get(s"$out/maintain.json"), j.render)
  }
}

object Storage {
  /** Bytes held by persisted RDDs (memory + disk) and their count. */
  def of(spark: SparkSession): (Double, Double) = {
    val infos = spark.sparkContext.getRDDStorageInfo
    (infos.map(i => i.memSize + i.diskSize).sum.toDouble,
      spark.sparkContext.getPersistentRDDs.size.toDouble)
  }

  /** Every regular file under `dir` with its size. */
  def files(dir: Path): Map[Path, Long] =
    if (!Files.exists(dir)) Map.empty
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(p => p -> Files.size(p)).toMap
      finally s.close()
    }
}

object Host {
  /** USER_HZ: the unit of /proc/stat counters on Linux. */
  val TicksPerSecond = 100.0

  /** Host-wide steal ticks (time this VM's CPUs waited for the host). */
  def stealTicks(): Double =
    scala.util.Try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).asScala
        .find(_.startsWith("cpu ")).get.trim.split("\\s+")
      f(8).toDouble
    }.getOrElse(0.0)

  /** Peak resident set of this JVM (VmHWM). */
  def vmHwmKb(): Long =
    scala.util.Try {
      Files.readAllLines(Paths.get("/proc/self/status")).asScala
        .find(_.startsWith("VmHWM:")).get.split("\\s+")(1).toLong
    }.getOrElse(0L)
}

/** JSON object writer for the harness's output (json4s ships with Spark). */
final class Json {
  private val fields = ArrayBuffer.empty[(String, Any)]
  def apply(k: String, v: Any): Unit = fields += k -> v
  def render: String =
    org.json4s.jackson.Serialization.write(fields.toMap)(org.json4s.DefaultFormats)
}
