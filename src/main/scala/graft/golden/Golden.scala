package graft.golden

import graft.snap.{EgoGraphs, GraphAnalytics}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}

/** Renders the reference's exact output files from the Spark pipeline.
  *
  * Formats replicate `/root/reference/src/main.js`:
  *  - `<ego>.proofs` — header + two counts + percentage + verdict
  *    (`main.js:32-46`; note the trailing space after the header colon).
  *  - `<ego>.metrics` — header + node count + edge count + one clustering
  *    line per friend (`main.js:56,69,80,99`) + centrality lines
  *    (`main.js:115-118`; the reference never managed to produce any —
  *    ours are optional and off by default for golden diffing).
  *
  * The committed reference `.metrics` clustering lines appear in async
  * HTTP completion order — NOT reproducible. Ours are written in
  * friends-map insertion order (`first_seen`); golden tests compare the
  * line multiset.
  *
  * All analytics run distributed; only the final tiny per-ego strings are
  * collected (≤ ~1k lines per ego).
  */
object Golden {

  final case class EgoOutputs(proofs: String, metrics: String)

  def render(graphs: EgoGraphs, withCentrality: Boolean = false): Map[String, EgoOutputs] = {
    val proofRows = GraphAnalytics.proofCounts(graphs).collect()
      .map(r => r.getAs[String]("ego") -> (r.getAs[Long]("denom"), r.getAs[Long]("num")))
      .toMap

    val countRows = GraphAnalytics.counts(graphs).collect()
      .map(r => r.getAs[String]("ego") -> (r.getAs[Long]("node_count"), r.getAs[Long]("edge_count")))
      .toMap

    // One clustering job serves both sections: centrality is the closed
    // form 2·(C(deg,2) − eff) over the same deg/eff columns.
    val ccRows = GraphAnalytics.clustering(graphs.edges)
      .join(graphs.friends, Seq("ego", "name"))
      .orderBy(col("ego"), col("first_seen"))
      .select("ego", "name", "cc", "deg", "eff")
      .collect()
      .groupBy(_.getAs[String]("ego"))

    countRows.keys.map { ego =>
      val (denom, num) = proofRows(ego)
      val pct = num.toDouble / denom.toDouble * 100
      val verdict = if (pct > 50) "proved" else "disproved"
      val proofs =
        "Proof 1 (czhao13-01): \n" +
          s"People having same hometown and same university: $denom\n" +
          s"People having same hometown and same university and who are connected: $num\n" +
          s"Percentage of the latter: ${JsNum.format(pct)}\n" +
          s"Hypothesis 1 $verdict for this ego network.\n"

      val (nodes, edgesC) = countRows(ego)
      val sb = new StringBuilder
      sb.append("Metrics: \n")
      sb.append(s"Node count: $nodes\n")
      sb.append(s"Edge count: $edgesC\n")
      ccRows.getOrElse(ego, Array.empty).foreach { r =>
        sb.append(s"Clustering coefficient for ${r.getAs[String]("name")}: " +
          s"${JsNum.format(r.getAs[Double]("cc"))}\n")
      }
      if (withCentrality) ccRows.getOrElse(ego, Array.empty).foreach { r =>
        val deg = r.getAs[Long]("deg"); val eff = r.getAs[Long]("eff")
        val cent = 2L * (deg * (deg - 1) / 2 - eff)
        sb.append(s"Centrality value for ${r.getAs[String]("name")}: $cent\n")
      }
      ego -> EgoOutputs(proofs, sb.toString)
    }.toMap
  }
}

/** Writes `<ego>.proofs` / `<ego>.metrics` for all ten ego networks to
  * `args(0)` (default `/tmp/golden_out`). Pass `--centrality` to append
  * the centrality section the reference never completed. */
object GoldenMain {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.filterNot(_.startsWith("--")).getOrElse("/tmp/golden_out")
    val withCentrality = args.contains("--centrality")
    val spark: SparkSession = graft.Sessions.local("graft-golden")
    Files.createDirectories(Paths.get(outDir))
    val graphs = EgoGraphs.load(spark, graft.snap.GraphSuite.dataDir)
    Golden.render(graphs, withCentrality).foreach { case (ego, out) =>
      Files.writeString(Paths.get(s"$outDir/$ego.proofs"), out.proofs)
      Files.writeString(Paths.get(s"$outDir/$ego.metrics"), out.metrics)
    }
    println(s"GOLDEN_DONE $outDir")
    spark.stop()
  }
}
