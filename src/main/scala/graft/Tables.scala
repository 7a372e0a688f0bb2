package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.StructType

/** Loader for the driver's deterministic testdata tables (TESTDATA.md).
  *
  * Each table is a single parquet file under `sfDir`. At cluster scale the
  * same call sites would point at a partitioned table root; every query in
  * this engine is written so that Catalyst can push filters and prune
  * columns down to this scan (verified via `.explain("formatted")` in
  * PlanSpec).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Opt-in table cache for suite runs (Bench sets
    * -Dgraft.cacheTables=true): returns one shared persisted DataFrame
    * per (sfDir, table) so all queries hit the same InMemoryRelation —
    * the engine-side analog of the reference's st.cache_data gold cache
    * (streamlit_app.py:114). Off by default: Verify measures the real
    * scan path. */
  private val cached = scala.collection.concurrent.TrieMap.empty[(String, String), DataFrame]

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (sys.props.get("graft.cacheTables").contains("true"))
      cached.getOrElseUpdate((sfDir, name), load(spark, sfDir, name).persist())
    else load(spark, sfDir, name)

  private def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // Timestamp-bearing columns vary by driver testdata generation, and
    // NOT only in events: orders.o_orderdate and lineitem.l_shipdate are
    // also parquet TIMESTAMP(MICROS, isAdjustedToUTC=false) in some
    // generations. The conf guards therefore run before ANY parquet read
    // (ADVICE r9: guarding only the events branch made the resulting type
    // load-order dependent for externally-built sessions, and with
    // graft.cacheTables=true the wrong NTZ-typed frame stayed cached):
    //   - TIMESTAMP(NANOS): Spark's vectorized reader rejects it, so
    //     GraftSession presets nanosAsLong and we floor ns→µs below (the
    //     same truncation DuckDB applies, so oracle results line up).
    //   - TIMESTAMP(MICROS, isAdjustedToUTC=false): would surface as
    //     TIMESTAMP_NTZ and break every timestamp-literal comparison;
    //     inferTimestampNTZ=false reads it as plain TIMESTAMP
    //     (value-identical under the UTC session zone, and ts predicates
    //     stay pushable to the parquet scan).
    // The guards only fire for externally-built sessions (e.g. the
    // driver's smoke session) that lack GraftSession's presets.
    if (spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true")
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if (spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled", "true") != "false")
      spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    // Both the NTZ-as-LTZ read and the cast(ts as timestamp) fallback are
    // value-identical only under a UTC session zone (ADVICE r9). An
    // externally-built session with a different zone would silently read
    // wall-clock-shifted values — warn loudly instead (not set: mutating
    // a user session's zone mid-flight could skew THEIR other queries).
    if (spark.conf.get("spark.sql.session.timeZone") != "UTC")
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"graft.Tables: session timeZone is ${spark.conf.get("spark.sql.session.timeZone")}, " +
          "not UTC - timestamp columns read from parquet may be wall-clock shifted vs the " +
          "UTC-normalized testdata; set spark.sql.session.timeZone=UTC (GraftSession does)")
    val raw = parquet(spark, s"$sfDir/$name.parquet")
    if (name == "events") {
      raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
        case org.apache.spark.sql.types.TimestampType => raw
        case _ => // NTZ slipped through (conf read too late): identity cast under UTC
          raw.withColumn("ts", expr("cast(ts as timestamp)"))
      }
    } else raw
  }

  /** Inferred schema per (parquet path, modification time). Inference
    * is a Spark job, which every uncached read would otherwise pay
    * while its query is still being built; the conf guards in [[load]]
    * run first, so the memoized types are the ones inference gives. */
  private val schemas = scala.collection.concurrent.TrieMap.empty[(String, Long), StructType]

  private def parquet(spark: SparkSession, path: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val mtime = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getFileStatus(p).getModificationTime
    val schema = schemas.getOrElseUpdate((path, mtime), spark.read.parquet(path).schema)
    spark.read.schema(schema).parquet(path)
  }
}
