package graft


/** Dev-loop timing harness: run one named SparkEntry query repeatedly
  * (cold + warm) outside the full Bench suite.
  *
  *   sbt "runMain graft.PerfProbe q31_jaccard_pairs [runs]"
  *
  * Pass `explain` as the runs argument to print the FINAL (AQE-resolved)
  * formatted physical plan after one execution instead of timing — the
  * plan-shape audit loop ("is the exchange reused? did the filter reach
  * the scan?") without writing a scratch main.
  */
object PerfProbe {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("q31_jaccard_pairs")
    val explainOnly = args.length > 1 && args(1) == "explain"
    val runs = if (args.length > 1 && !explainOnly) args(1).toInt else 3
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.benchBuilder("32").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val fn = SparkEntry.queries(name)
    if (explainOnly) {
      val df = fn(spark, sfDir)
      // run THIS Dataset's plan so AQE finalizes it (count() would run
      // a separate derived query and leave df's plan initial), without
      // collecting rows to the driver
      df.queryExecution.toRdd.count()
      df.explain("formatted")
    } else (1 to runs).foreach { i =>
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      println(f"$name run$i: ${(System.nanoTime() - t0) / 1e9}%.3f s ($n rows)")
    }
    spark.stop()
  }
}
