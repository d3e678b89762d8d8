package graft

import graft.core.{GraftSession, Harness}

/** One-query timer with config toggles, for plan/config experiments:
  * runMain graft.QueryTimer <queryName> <aqe:true|false> [sfDir] [conf=k:v,...]
  */
object QueryTimer {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val aqe = args(1).toBoolean
    val sfDir = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
    val extra = if (args.length > 3)
      args(3).split(",").map { kv => val Array(k, v) = kv.split(":"); (k, v) }.toSeq
    else Seq.empty
    val spark = GraftSession.local("query-timer", extraConf =
      Map("spark.sql.adaptive.enabled" -> aqe.toString) ++ extra)
    (1 to 2).foreach { i =>
      Harness.each(spark, Seq(name), rep = i) { _ =>
        val t0 = System.nanoTime()
        val n = SparkEntry.queries(name)(spark, sfDir).count()
        println(f"RUN$i $name aqe=$aqe rows=$n sec=${(System.nanoTime() - t0) / 1e9}%.2f")
      }.foreach { case (_, m) => println(s"RUN$i $name aqe=$aqe failed: $m") }
    }
    spark.stop()
  }
}
