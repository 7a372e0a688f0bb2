package graft
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB compare (`tools/check_oracle.py`).
  * Runs on the GraftSession profile the benchmark times, so the oracle
  * checks the timed configuration. A query that fails is reported on
  * stderr as it happens and again in one summary line after every
  * result and oracle_sql.json are written; the exit status is then 1. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query names (dev: check one oracle
    // without the full 20-min dump). Driver passes two args -> full run.
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, Set.empty[String])
      case Array(s, o, f) => (s, o, f.split(',').toSet)
      case _ =>
        System.err.println("usage: graft.Verify <sfDir> <outDir> [q1,q2,...]")
        sys.exit(2)
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.benchBuilder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val (failed, total) = try run(spark, sfDir, outDir, only) finally spark.stop()
    summary(failed, total).foreach { line =>
      System.err.println(line)
      sys.exit(1)
    }
  }

  /** Writes every selected query's result under `outDir/<name>` and the
    * selected oracle texts to `outDir/oracle_sql.json`; returns the names
    * of the queries that failed and how many were selected. An empty
    * `only` selects every query. */
  def run(spark: SparkSession, sfDir: String, outDir: String,
          only: Set[String]): (Seq[String], Int) = {
    new java.io.File(outDir).mkdirs()
    val selected = SparkEntry.queries.filter { case (name, _) => only.isEmpty || only(name) }
    val failed = selected.toSeq.flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name)
      }
    }
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.isEmpty || only(k) }
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    (failed, selected.size)
  }

  /** The summary line, when any query failed. */
  def summary(failed: Seq[String], total: Int): Option[String] =
    if (failed.isEmpty) None
    else Some(s"[verify] failed ${failed.size}/$total: ${failed.mkString(", ")}")

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
