package graft.snap

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Parser unit tests against the FIXTURES.md §1 per-ego line counts and
  * the reference's parse semantics (first-space split, last-`;` split,
  * trailing-newline guard at main.js:149,162). */
class SnapSourceSpec extends SparkSuite {
  private val dir = GraphSuite.dataDir

  test("edges reader: ego 0 has 5038 raw lines, 333 friends, 2519 unique pairs") {
    val e = SnapSource.edges(spark, dir).filter(col("ego") === "0").cache()
    assert(e.count() == 5038)
    val nodes = e.select(explode(array(col("src"), col("dst"))).as("n"))
      .distinct().count()
    assert(nodes == 333)
    val pairs = e.select(least(col("src"), col("dst")), greatest(col("src"), col("dst")))
      .distinct().count()
    assert(pairs == 2519)
  }

  test("trailing newline guard: no empty src/dst tokens in any ego") {
    val e = SnapSource.edges(spark, dir)
    assert(e.filter(col("src") === "" || col("dst") === "").count() == 0)
  }

  test("featnames: first-space + last-semicolon split (data/0.featnames:25)") {
    val fn = SnapSource.featnames(spark, dir)
      .filter(col("ego") === "0" && col("idx") === 24).collect()
    assert(fn.length == 1)
    assert(fn.head.getAs[String]("key") == "education;school;id")
    assert(fn.head.getAs[String]("value") == "anonymized feature 24")
    assert(SnapSource.featnames(spark, dir).filter(col("ego") === "0").count() == 224)
  }

  test("feat: superset of materialized nodes (347 rows for ego 0)") {
    assert(SnapSource.feat(spark, dir).filter(col("ego") === "0").count() == 347)
  }

  test("egofeat: one bits row per ego, width matches featnames count") {
    val widths = SnapSource.egofeat(spark, dir)
      .select(col("ego"), size(col("bits")).as("w"))
      .filter(col("ego") === "0").collect()
    assert(widths.length == 1)
    assert(widths.head.getAs[Int]("w") == 224)
  }

  test("circles: ego 0 has 24 circles") {
    assert(SnapSource.circles(spark, dir).filter(col("ego") === "0")
      .select("circle").distinct().count() == 24)
  }

  test("bit decode is last-wins: highest set bit of a duplicate key wins") {
    import spark.implicits._
    val feats = Seq(("x", "n1", Seq("1", "0", "1"))).toDF("ego", "node", "bits")
    val fn = Seq(("x", 0, "k", "v0"), ("x", 1, "k", "v1"), ("x", 2, "k", "v2"))
      .toDF("ego", "idx", "key", "value")
    val props = EgoGraphs.decode(feats, fn).collect()
    assert(props.length == 1)
    val m = props.head.getAs[Map[String, String]]("properties")
    assert(m == Map("k" -> "v2")) // bit 1 unset, bits 0 and 2 set, 2 wins
  }

  test("circles: a member listed twice in a circle loads as if listed once") {
    // (name, is_ego, properties, circles) per vertex of the tiny ego.
    def vertices(circleLine: String): Map[String, (Boolean, Map[String, String], Seq[String])] = {
      val dir = TinyEgo.write(
        edges = Seq("1 2", "2 1", "2 3", "3 2", "3 1"),
        featnames = Seq("0 gender;anonymized feature 77", "1 locale;anonymized feature 127"),
        feat = Seq("1 1 0", "2 0 1", "3 1 1"),
        egofeat = "0 1",
        circles = Seq(circleLine, "circle1\t3"))
      TinyEgo.using(spark, dir) { g =>
        g.vertices.collect().map(r => r.getString(1) ->
          (r.getBoolean(2), r.getMap[String, String](3).toMap, r.getSeq[String](4))).toMap
      }
    }
    val asSet = vertices("circle0\t1\t2")
    assert(vertices("circle0\t1\t2\t1") == asSet)
    assert(asSet.keySet == Set("5", "1", "2", "3"))
    assert(asSet("1") == ((false,
      Map("gender" -> "anonymized feature 77", "circle0" -> "yes"), Seq("circle0"))))
    assert(asSet("3")._3 == Seq("circle1"))
  }
}
