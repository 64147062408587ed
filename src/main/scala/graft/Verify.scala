package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Sessions.local("graft-verify")
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_SKIP: comma-separated names excluded from the dump AND
    // from oracle_sql.json (so the DuckDB compare skips them too). Used by
    // the sf10 gate for q05/q100, whose outputs grow quadratically with
    // the derived-fixture copy factor on its fixed key domain — their
    // documented scale path is the q36 linear Σc² rewrite.
    val skipped = sys.env.get("SPARK_GRAFT_SKIP")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet).getOrElse(Set.empty)
    // SPARK_GRAFT_ONLY: restrict to a comma-separated allowlist — re-drive
    // a single fixed query at a big SF without paying for the other 157.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def selected(name: String): Boolean =
      !skipped(name) && only.forall(_.contains(name))
    SparkEntry.queries.foreach { case (name, fn) =>
      if (selected(name))
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      Json(SparkEntry.oracleSql.filter { case (k, _) => selected(k) }))
    // Oracle-less entries are not unchecked: gates.json names each one's
    // ScalaTest property/recall/parity gate so the artifact distinguishes
    // "approximate, gated elsewhere" from "broken" (r9 verdict item 5).
    Files.writeString(Paths.get(s"$outDir/gates.json"),
      Json(SparkEntry.gates.filter { case (k, _) => selected(k) }))
    spark.stop()
  }
}
