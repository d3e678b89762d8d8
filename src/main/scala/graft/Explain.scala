package graft

import graft.core.{GraftSession, Harness}

/** Plan-inspection main: prints `explain("formatted")` for the named
  * queries (or all) against a fixture dir — the iterate-on-the-plan
  * loop (is the filter pushed? is the dim broadcast? how wide are the
  * codegen stages?).
  *
  * Usage: runMain graft.Explain <sfDir> [queryName ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession.local("explain")
    spark.sparkContext.setLogLevel("ERROR")
    Harness.each(spark, names) { n =>
      println(s"\n========== $n ==========")
      // "exec:<name>" executes the query and prints the FINAL adaptive
      // plan — with AQE on, exchange/stage reuse only appears there,
      // not in the static explain
      if (n.startsWith("exec:")) {
        val df = SparkEntry.queries(n.stripPrefix("exec:"))(spark, sfDir)
        df.collect()
        println(df.queryExecution.executedPlan.toString)
      } else SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }.foreach { case (n, m) => println(s"$n failed: $m") }
    spark.stop()
  }
}
