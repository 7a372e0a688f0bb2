package graft

import java.nio.file.{Files, Paths}

/** Dev tool (r20 optimization round): snapshot the FINAL adaptive
  * formatted plan of many queries in ONE JVM, for the before/after plan
  * evidence under plans/rNN/.
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *   sbt "runMain graft.PlanSnap /root/repo/plans/r20 before q99_bigram_perplexity q100_pagerank"
  *
  * Writes <outDir>/<query>_<tag>.txt with the executed (AQE-final)
  * formatted plan. Runs each query's own plan once so AQE finalizes.
  */
object PlanSnap {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanSnap <outDir> <tag> <query>...")
    val outDir = Paths.get(args(0))
    val tag = args(1)
    val names = args.drop(2).toSeq
    Files.createDirectories(outDir)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.benchBuilder("32").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    sys.props("graft.cacheTables") = "true"
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      val df = fn(spark, sfDir)
      // not count(): it builds a SEPARATE derived query execution, so
      // df's own AdaptiveSparkPlan never runs and the dump shows the
      // INITIAL plan. toRdd executes THIS Dataset's plan without pulling
      // rows to the driver, so the dump is the true AQE-final plan.
      df.queryExecution.toRdd.count()
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(outDir.resolve(s"${name}_$tag.txt"), plan)
      println(s"[plansnap] wrote ${name}_$tag.txt (${plan.length} chars)")
    }
    spark.stop()
  }
}
