package graft.snap

import graft.SparkSuite
import graft.golden.Golden

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Golden-file replication against the committed reference outputs
  * (`/root/reference/output/{0,107}.{proofs,metrics}`).
  *
  * Proofs files and the metrics header/counts are compared byte-exact.
  * Clustering lines are compared as a MULTISET of byte-exact lines: the
  * reference appended them in async HTTP completion order (one Cypher
  * query per friend, `main.js:90-104`), which is not reproducible.
  * The last test needs no reference data: it renders a handwritten ego.
  */
class GoldenSpec extends SparkSuite {

  private lazy val outputs: Map[String, Golden.EgoOutputs] =
    Golden.render(EgoGraphs.load(spark, GraphSuite.dataDir))

  private def golden(name: String): String =
    Files.readString(Paths.get(s"/root/reference/output/$name"))

  for (ego <- Seq("0", "107")) {
    test(s"$ego.proofs replicates byte-exact") {
      assert(outputs(ego).proofs == golden(s"$ego.proofs"))
    }

    test(s"$ego.metrics: header + node/edge counts byte-exact") {
      assert(outputs(ego).metrics.linesIterator.take(3).toSeq ==
        golden(s"$ego.metrics").linesIterator.take(3).toSeq)
    }

    test(s"$ego.metrics: clustering lines are the exact multiset") {
      def ccLines(s: String) =
        s.linesIterator.filter(_.startsWith("Clustering")).toSeq.sorted
      val ours = ccLines(outputs(ego).metrics)
      val ref = ccLines(golden(s"$ego.metrics"))
      assert(ours.size == ref.size)
      assert(ours == ref)
    }
  }

  test("all ten ego networks produce proofs and metrics") {
    assert(outputs.keySet == Set("0", "107", "348", "414", "686",
      "698", "1684", "1912", "3437", "3980"))
    outputs.values.foreach { o =>
      assert(o.proofs.linesIterator.size == 5)
      assert(o.metrics.linesIterator.size >= 3)
    }
  }

  test("ego 3980 (empty hypothesis set) renders NaN percentage like JS") {
    assert(outputs("3980").proofs.contains("Percentage of the latter: NaN"))
    assert(outputs("3980").proofs.contains("disproved"))
  }

  test("render leaves no cached hypothesis-set plan behind") {
    // Nodes 1 and 2 (and the ego) share hometown and school, so the
    // hypothesis set is non-empty and proofCounts joins it twice.
    val dir = TinyEgo.write(
      edges = Seq("1 2", "2 3", "3 1"),
      featnames = Seq("0 hometown;id;anonymized feature 1",
        "1 hometown;id;anonymized feature 2", "2 education;school;id;anonymized feature 3"),
      feat = Seq("1 1 0 1", "2 1 0 1", "3 0 1 1"),
      egofeat = "1 0 1",
      circles = Seq("circle0\t1\t2"))
    TinyEgo.using(spark, dir) { g =>
      assert(Golden.render(g).keySet == Set("5"))
      val cached = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .sharedState.cacheManager
        .lookupCachedData(GraphAnalytics.hypothesisSet(g.vertices)
          .asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
      assert(cached.isEmpty, "render left the hypothesis set cached")
    }
  }
}
