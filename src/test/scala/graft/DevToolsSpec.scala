package graft

import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions.{col, udf}
import scala.jdk.CollectionConverters._

/** The two dev mains' contracts: Verify dumps every selected query and
  * reports each failure instead of exiting clean, and each Probe mode
  * measures what it says (the noop sink materializes every column; the
  * plan is the AQE-final one). */
class DevToolsSpec extends SparkSpec {

  private val cheap = Set("q1_pricing_summary", "q3_revenue_by_nation")

  private def oracleKeys(outDir: String): Set[String] =
    new ObjectMapper().readTree(Files.readString(Paths.get(s"$outDir/oracle_sql.json")))
      .fieldNames().asScala.toSet

  test("Verify.run dumps each selected query and only their oracle texts") {
    val out = Files.createTempDirectory("graft-verify").toString
    val (failed, total) = Verify.run(spark, sf0001, out, cheap)
    assert(failed.isEmpty && total == 2)
    cheap.foreach { q =>
      assert(spark.read.parquet(s"$out/$q").count() ==
        SparkEntry.queries(q)(spark, sf0001).count(), q)
    }
    assert(oracleKeys(out) == cheap)
  }

  test("Verify.run names every query that fails and still writes oracle_sql.json") {
    val out = Files.createTempDirectory("graft-verify").toString
    val missing = Files.createTempDirectory("graft-no-data").resolve("absent").toString
    val (failed, total) = Verify.run(spark, missing, out, cheap)
    assert(failed.toSet == cheap && total == 2)
    assert(oracleKeys(out) == cheap)
  }

  test("Verify's summary line is absent on a clean run and counts K/N otherwise") {
    assert(Verify.summary(Nil, 202).isEmpty)
    assert(Verify.summary(Seq("q7_a", "q9_b"), 5).contains("[verify] failed 2/5: q7_a, q9_b"))
  }

  test("Verify's JSON string escape round-trips quotes, backslashes and control chars") {
    val raw = "SELECT '\"a\"' AS \"x\\y\",\n\tregexp_replace(s, '\\s+', ' ', 'g')\r\u0001\u001f é"
    assert(new ObjectMapper().readTree(Verify.jsonString(raw)).asText() == raw)
  }

  test("Probe.parse accepts the four modes and --out/--tag on plan") {
    assert(Probe.parse(Seq("smoke")).contains(Probe.Command("smoke", "", Nil, None)))
    assert(Probe.parse(Seq("time", "sf", "q1", "q2"))
      .contains(Probe.Command("time", "sf", Seq("q1", "q2"), None)))
    assert(Probe.parse(Seq("twin", "sf", "q147")).map(_.mode).contains("twin"))
    assert(Probe.parse(Seq("plan", "sf", "q1", "--out", "d", "--tag", "before"))
      .contains(Probe.Command("plan", "sf", Seq("q1"), Some(("d", "before")))))
  }

  test("Probe.parse rejects a missing query, an unknown mode and a stray --out") {
    Seq(Nil, Seq("time", "sf"), Seq("bench", "sf", "q1"), Seq("smoke", "extra"),
      Seq("plan", "sf", "q1", "--out", "d"), Seq("plan", "sf", "q1", "--out", "d", "--tag"),
      Seq("time", "sf", "q1", "--out", "d", "--tag", "t")).foreach { args =>
      assert(Probe.parse(args).isEmpty, args)
    }
  }

  test("Probe time runs three times through the noop sink, computing every " +
    "column (count() would prune the UDF column away)") {
    val calls = spark.sparkContext.longAccumulator("probe-udf-calls")
    val tick = udf((x: Long) => { calls.add(1); x })
    val build = () => spark.range(0, 50, 1, 2).select(tick(col("id")).as("t"))
    val secs = Probe.time("tick", build)
    assert(secs.size == 3 && secs.forall(_ >= 0))
    assert(calls.value == 150)
    calls.reset()
    build().count()
    assert(calls.value == 0, "count() evaluated the pruned column")
  }

  test("Probe plan writes the AQE-final plan to <query>_<tag>.txt") {
    val out = Files.createTempDirectory("graft-plans")
    val df = spark.range(0, 100, 1, 4).groupBy((col("id") % 3).as("k")).count()
    val text = Probe.plan("agg", df, Some((out.toString, "before")))
    assert(Files.readString(out.resolve("agg_before.txt")) == text)
    assert(text.contains("AdaptiveSparkPlan") && text.contains("isFinalPlan=true"), text)
  }

  test("Probe twin runs the spark.sql text and the DataFrame side to the same rows") {
    val q = "q3_revenue_by_nation"
    val sqlRows = Probe.phases(s"$q sql", () => SqlSurface.sql(spark, sf0001, Probe.twinText(q)))
    val dfRows = Probe.phases(s"$q df", () => SparkEntry.queries(q)(spark, sf0001))
    assert(sqlRows > 0 && sqlRows == dfRows)
  }
}
