package graft.perfbench

import java.lang.management.ManagementFactory
import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

object Clock {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of the whole JVM: driver, executor threads, GC, JIT. */
  def processCpuNs: Long = os.getProcessCpuTime
}

/** Everything measured for one (window, layer) tag. */
final class Counters {
  val n = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
  def add(k: String, v: Double): Unit = n(k) += v
}

/** Marks which (window, layer) the work that follows belongs to. */
final case class TagMark(tag: String) extends SparkListenerEvent

/** Spans around each call into a layer, plus the Spark-side counters
  * of the work each span caused.
  *
  * A span sets the local properties `perfbench.tag` (window|layer) and
  * `perfbench.phase` (build: the public function is building its
  * DataFrame; action: the benchmark is materializing it). Jobs carry
  * both, so job, stage and task counts and task metrics are attributed
  * from the job's properties. Query executions carry no properties, so
  * a [[TagMark]] posted into the listener bus at every span boundary
  * tells the execution listener, which runs on the same bus queue and
  * sees events in order, whose executions it is looking at.
  *
  * Disabled (untraced runs), a span just runs its body and no
  * listener is registered. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val lock = new Object
  val tags = mutable.LinkedHashMap.empty[String, Counters]
  private val stageTag = mutable.Map.empty[Int, String]
  @volatile private var busTag = "none"
  @volatile var window = "setup"

  private def counters(tag: String): Counters = lock.synchronized {
    tags.getOrElseUpdate(tag, new Counters)
  }

  private object Plans extends AdaptiveSparkPlanHelper

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val tag = props.flatMap(p => Option(p.getProperty("perfbench.tag"))).getOrElse("none")
      val c = counters(tag)
      c.add("jobs", 1)
      if (props.flatMap(p => Option(p.getProperty("perfbench.phase"))).contains("build"))
        c.add("eager_jobs", 1)
      lock.synchronized(e.stageIds.foreach(stageTag(_) = tag))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      counters(lock.synchronized(stageTag.getOrElse(e.stageInfo.stageId, "none")))
        .add("stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val c = counters(lock.synchronized(stageTag.getOrElse(e.stageId, "none")))
      c.add("tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        c.add("exec_cpu_s", m.executorCpuTime / 1e9)
        c.add("exec_gc_s", m.jvmGCTime / 1e3)
        c.add("shuffle_write_b", m.shuffleWriteMetrics.bytesWritten.toDouble)
        c.add("shuffle_read_b", m.shuffleReadMetrics.totalBytesRead.toDouble)
        c.add("spill_b", (m.diskBytesSpilled + m.memoryBytesSpilled).toDouble)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case TagMark(t) => busTag = t
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val c = counters(busTag)
      c.add("executions", 1)
      val phases = qe.tracker.phases
      def ms(p: String): Double =
        phases.get(p).map(s => (s.endTimeMs - s.startTimeMs).toDouble).getOrElse(0.0)
      c.add("analysis_ms", ms("analysis"))
      c.add("optimizer_ms", ms("optimization"))
      c.add("physical_ms", ms("planning"))
      val plan: SparkPlan = qe.executedPlan
      Plans.collectWithSubqueries(plan) {
        case f: FileSourceScanExec =>
          (f.relation.location.rootPaths.map(_.toString), f.metrics.get("numOutputRows"))
        case b: BatchScanExec => (Seq.empty[String], b.metrics.get("numOutputRows"))
      }.foreach { case (paths, rows) =>
        val r = rows.map(_.value.toDouble).getOrElse(0.0)
        c.add("file_scans", 1)
        c.add("file_rows", r)
        if (paths.exists(Tracer.isBaseTable)) {
          c.add("table_scans", 1)
          c.add("table_rows", r)
        }
      }
    }
  }

  if (enabled) {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
  }

  private def setTag(layer: String): Unit = {
    val tag = s"$window|$layer"
    sc.setLocalProperty("perfbench.tag", tag)
    ListenerBusAccess.post(sc, TagMark(tag))
  }

  /** Runs `body` as one span of `layer`; records wall and process CPU. */
  def span[T](layer: String)(body: => T): T = {
    if (!enabled) return body
    setTag(layer)
    val (w0, c0) = (System.nanoTime(), Clock.processCpuNs)
    try body
    finally {
      val c = counters(s"$window|$layer")
      c.add("spans", 1)
      c.add("wall_s", (System.nanoTime() - w0) / 1e9)
      c.add("proc_cpu_s", (Clock.processCpuNs - c0) / 1e9)
      setTag("none")
    }
  }

  /** Marks jobs started inside `body` as `build` or `action` jobs. */
  def phase[T](name: String)(body: => T): T = {
    if (!enabled) return body
    sc.setLocalProperty("perfbench.phase", name)
    try body finally sc.setLocalProperty("perfbench.phase", null)
  }

  /** Adds a benchmark-side figure (not from Spark) to a tag. */
  def note(layer: String, key: String, v: Double): Unit =
    if (enabled) counters(s"$window|$layer").add(key, v)

  /** Every counter, once all posted events have been delivered. */
  def snapshot(): Map[String, Map[String, Double]] = {
    if (enabled) ListenerBusAccess.drain(sc)
    lock.synchronized(tags.map { case (t, c) => t -> c.n.toMap }.toMap)
  }
}

object Tracer {
  /** Base-table files are named `<table>.parquet` under the data dir. */
  def isBaseTable(path: String): Boolean =
    graft.Tables.names.exists(n => path.endsWith(s"/$n.parquet"))
}
