package graft

import graft.operators.{Dedup, Reports}
import graft.sources.Ingest

/** Executable end-to-end slice (SURVEY §7.2): raw per-day JSON envelopes
  * → bronze parse → silver (typed, deduped) → date-partitioned parquet →
  * partition-pruned read-back → the four report queries. Run with
  * `sbt "runMain graft.PipelineDemo"`. */
object PipelineDemo {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.benchBuilder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val work = java.nio.file.Files.createTempDirectory("graft_demo").toString
    // three days of raw envelopes, incl. a dict-not-list day, a duplicate
    // fingerprint, a bad numeric, and a malformed document
    def entry(id: String, dateInt: Int, cal: String, meal: String = "breakfast") =
      s"""{"food_entry_id":"$id","id":"$id","date_int":"$dateInt","timestamp":"1775001600",
         |"meal":"$meal","food_entry_name":"food_$id","food_entry_description":"d",
         |"calories":$cal,"carbohydrate":"30","fat":"10","protein":"20",
         |"fiber":"5","sugar":"1","sodium":"100","number_of_units":"1"}""".stripMargin.replace("\n", "")
    val days = Map(
      "2026-03-30" -> s"""{"food_entries":{"food_entry":[${entry("1", 20542, "\"210\"")},${entry("1", 20542, "\"210\"")},${entry("2", 20542, "\"300\"", "lunch")}]}}""",
      "2026-03-31" -> s"""{"food_entries":{"food_entry":${entry("3", 20543, "\"abc\"")}}}""",
      "2026-04-02" -> s"""{"food_entries":{"food_entry":[${entry("4", 20545, "\"500\"")}]}}""",
      "2026-04-03" -> "{malformed")
    days.foreach { case (day, json) =>
      val dir = java.nio.file.Paths.get(s"$work/raw/day=$day")
      java.nio.file.Files.createDirectories(dir)
      java.nio.file.Files.write(dir.resolve("data.json"), json.getBytes)
    }

    val silver = Dedup.dedupExtract(Ingest.readSilver(spark, s"$work/raw"))
    Ingest.writeSilver(silver, s"$work/silver")
    val gold = Dedup.dedupRead(spark.read.parquet(s"$work/silver")).cache()

    println(s"SILVER_ROWS=${gold.count()}")
    val (summary, detail) = Reports.latestDay(gold)
    println("== latest day =="); summary.show(); detail.show()
    val (densified, rangeSummary) = Reports.dateRange(gold, "2026-03-30", "2026-04-02")
    println("== date range (gaps stay null) =="); densified.orderBy("date").show()
    rangeSummary.show()
    println("== weekly =="); Reports.weekly(gold).show(false)
    println("== monthly =="); Reports.monthly(gold).show(false)
    println("== melt =="); Reports.meltMacros(Reports.dailyTotals(gold), "date").show()
    spark.stop()
  }
}
