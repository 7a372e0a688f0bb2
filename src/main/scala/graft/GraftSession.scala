package graft

import org.apache.spark.sql.SparkSession

/** One place for the session conf every graft entry point shares, so no
  * query path has to mutate session state (the conf a table reader needs
  * is a property of the session, set at build time).
  */
object GraftSession {
  /** Build-time defaults:
    *   - `nanosAsLong`: events.parquet carries TIMESTAMP(NANOS), which
    *     Spark's parquet reader rejects outright; surfacing nanos as long
    *     lets `Tables.load` floor them to micros (DuckDB's own ns→µs
    *     truncation, so oracle results line up exactly).
    *   - UTC + no UI: deterministic dates, no port squatting in CI.
    */
  val defaults: Seq[(String, String)] = Seq(
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // Driver testdata generations differ: some write events.ts as parquet
    // TIMESTAMP(MICROS, isAdjustedToUTC=false), which Spark would surface
    // as TIMESTAMP_NTZ and every timestamp-literal comparison would fail
    // analysis. Reading it as TIMESTAMP_LTZ is value-identical under the
    // UTC session zone AND keeps ts predicates pushable to the scan
    // (a cast(ts) workaround would block parquet filter pushdown).
    "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  /** The AQE partition profile every graft main runs under (perfbench's
    * harness sets the same three values itself):
    *   - `parallelismFirst=false`: with the default `true`, AQE coalesces
    *     shuffle reads only down to the core count, so every KB-sized
    *     aggregate still pays `cpus` reduce tasks (the measured
    *     8-vs-32-core inversions, q98 0.49 and q72 0.55). `false` makes
    *     AQE respect the advisory size, Spark's own production
    *     recommendation: partition counts derive from DATA SIZE at any
    *     scale — KB shuffles collapse to one task, a 100 TB cluster gets
    *     thousands of 64 MB partitions. The advisory default is Spark's
    *     own 64m, not a local tuning.
    *   - `canChangeCachedPlanOutputPartitioning=true`: cached plans (the
    *     suite's persisted shared views) otherwise pin their FINAL
    *     exchange at `spark.sql.shuffle.partitions`, so every consumer
    *     of a KB-sized cached view scans `cpus` cache partitions of
    *     dispatch overhead (q98, q72, q95/q91). Spark reports the
    *     coalesced result as HASH partitioning, which still satisfies
    *     downstream clustering.
    */
  private val benchProfile: Seq[(String, String)] = Seq(
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64m",
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true")

  /** Builder preloaded with the graft defaults; call sites chain their
    * own master/shuffle/extension config on top. */
  def builder(): SparkSession.Builder = {
    val b = SparkSession.builder()
    defaults.foreach { case (k, v) => b.config(k, v) }
    b
  }

  /** The session every graft main builds — Verify, Probe, ScaleProbe,
    * PipelineDemo: `local[cpus]`, one shuffle partition per core, and
    * [[benchProfile]] — so the oracle checks, and the probes time and
    * plan, the configuration the benchmark measures. */
  def benchBuilder(cpus: Int = Runtime.getRuntime.availableProcessors): SparkSession.Builder = {
    val b = builder().master(s"local[$cpus]").config("spark.sql.shuffle.partitions", cpus.toString)
    benchProfile.foreach { case (k, v) => b.config(k, v) }
    b
  }
}
