package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode

/** Dev tool: probe single SparkEntry queries on the GraftSession profile.
  *
  *   sbt "runMain graft.Probe time  <sfDir> <query>..."
  *   sbt "runMain graft.Probe plan  <sfDir> <query>... [--out DIR --tag T]"
  *   sbt "runMain graft.Probe twin  <sfDir> <query>..."
  *   sbt "runMain graft.Probe smoke"
  *
  *   - `time`: three runs (cold, then warm) of each query, fully
  *     materialized through the `noop` sink as perfbench does — not
  *     `count()`, which Catalyst prunes to the columns it needs.
  *   - `plan`: the AQE-final formatted physical plan, to stdout, or to
  *     `DIR/<query>_<T>.txt` with `--out DIR --tag T`.
  *   - `twin`: analyze / optimize / physical-plan / execute seconds of
  *     the query's spark.sql text (its Spark twin, else its oracle text)
  *     against the same phases of its DataFrame side.
  *   - `smoke`: the row count of `SparkEntry.entry`.
  */
object Probe {
  private val usage =
    "usage: graft.Probe time|plan|twin <sfDir> <query>... [--out DIR --tag T] | graft.Probe smoke"

  /** One parsed invocation: `mode` with its data dir and query names,
    * or `smoke` (empty dir and names). */
  final case class Command(mode: String, sfDir: String, names: Seq[String],
                           outTag: Option[(String, String)])

  /** None when `args` match no mode, so main prints the usage. */
  def parse(args: Seq[String]): Option[Command] = {
    val split = args.indexOf("--out") match {
      case -1 => Some((args, None))
      case i => args.drop(i) match {
        case Seq(_, out, "--tag", tag) => Some((args.take(i), Some((out, tag))))
        case _ => None
      }
    }
    split.collect {
      case (Seq("smoke"), None) => Command("smoke", "", Nil, None)
      case (Seq(mode @ ("time" | "plan" | "twin"), sfDir, names @ _*), outTag)
          if names.nonEmpty && (outTag.isEmpty || mode == "plan") =>
        Command(mode, sfDir, names, outTag)
    }
  }

  def main(args: Array[String]): Unit = {
    val cmd = parse(args.toSeq).getOrElse {
      System.err.println(usage)
      sys.exit(2)
    }
    val spark = GraftSession.benchBuilder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      if (cmd.mode == "smoke") println(s"ENTRY_ROWS=${SparkEntry.entry(spark).count()}")
      cmd.names.foreach { name =>
        val build = () => SparkEntry.queries(name)(spark, cmd.sfDir)
        cmd.mode match {
          case "time" => time(name, build)
          case "plan" => plan(name, build(), cmd.outTag)
          case "twin" =>
            phases(s"$name sql", () => SqlSurface.sql(spark, cmd.sfDir, twinText(name)))
            phases(s"$name df", build)
        }
      }
    } finally spark.stop()
  }

  /** The query's spark.sql text: its Spark twin, else its oracle text. */
  private[graft] def twinText(name: String): String =
    SparkEntry.sparkSql.getOrElse(name, SparkEntry.oracleSql(name))

  private def seconds[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Returns the three runs' seconds. */
  private[graft] def time(name: String, build: () => DataFrame): Seq[Double] =
    (1 to 3).map { i =>
      val (_, s) = seconds(build().write.format("noop").mode("overwrite").save())
      println(f"[probe] $name run$i: $s%.3f s")
      s
    }

  /** `toRdd` executes THIS Dataset's plan, so AQE finalizes it, without
    * pulling rows to the driver; `count()` would run a separate derived
    * query and leave the dumped plan initial. */
  private[graft] def plan(name: String, df: DataFrame, outTag: Option[(String, String)]): String = {
    df.queryExecution.toRdd.count()
    val text = df.queryExecution.explainString(FormattedMode)
    outTag match {
      case None => println(text)
      case Some((out, tag)) =>
        val file = Paths.get(out).resolve(s"${name}_$tag.txt")
        Files.createDirectories(file.getParent)
        Files.writeString(file, text)
        println(s"[probe] wrote $file (${text.length} chars)")
    }
    text
  }

  /** Returns the executed row count. */
  private[graft] def phases(label: String, build: () => DataFrame): Long = {
    val (df, analyze) = seconds(build())
    val qe = df.queryExecution
    val (_, optimize) = seconds(qe.optimizedPlan)
    val (_, physical) = seconds(qe.executedPlan)
    val (rows, execute) = seconds(qe.toRdd.count())
    println(f"[probe] $label: analyze $analyze%.2f s, optimize $optimize%.2f s, " +
      f"plan $physical%.2f s, execute $execute%.2f s ($rows rows)")
    rows
  }
}
