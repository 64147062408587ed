// Scratch audit main — run with: sbt "runMain graft.tools.ExplainAudit q10_agg_battery ..."
package graft.tools

import graft.{Sessions, SparkEntry}

object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Sessions.local("graft-audit")
    val names = if (args.nonEmpty) args.toSeq else Seq("q04_join_large", "q10_agg_battery")
    // EXPLAIN_EXEC=1: noop-run the query first and print the AQE FINAL
    // plan (ReusedExchange / stage reuse only shows up post-execution).
    val execMode = sys.env.get("EXPLAIN_EXEC").contains("1")
    names.foreach { n =>
      println(s"\n===== $n =====")
      try {
        val df = SparkEntry.queries(n)(spark, sfDir)
        if (execMode) {
          // Execute THIS df's QueryExecution without buffering rows on the
          // driver (r19 ADVICE: collect() OOMs on a large query). Not
          // df.foreach/df.write — those build their OWN QueryExecution
          // (rddQueryExecution / the write's) and leave df's unexecuted;
          // toRdd is df.queryExecution's executedPlan, so AQE finalizes
          // the plan we print below.
          df.queryExecution.toRdd.foreach(_ => ())
          println(df.queryExecution.executedPlan.toString)
        } else println(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      }
      catch { case e: Throwable => println(s"ERR ${e.getMessage}") }
    }
    spark.stop()
  }
}
