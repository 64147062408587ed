package graft.ext

import graft.SparkSuite
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSuite {
  private val sf = "/root/testdata/sf0.001"

  test("minhash recalls planted near-duplicates") {
    import spark.implicits._
    // Plant: for 20 docs, a copy with ONE token dropped -> token-set
    // Jaccard very close to 1, far inside the 0.3-distance threshold.
    val base = graft.Tables(spark, sf, "documents")
      .select(col("doc_id"), expr("filter(split(text, ' '), x -> x <> '')").as("toks"))
      .filter(col("doc_id") < 20 && size(col("toks")) > 5)
    val planted = base.select((col("doc_id") + 100000).as("doc_id"),
      expr("slice(toks, 1, size(toks) - 1)").as("toks"))
    val all = base.unionByName(planted)

    val pairs = DedupSuite.minhashPairs(spark, sf, distThreshold = 0.3, docs = all)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val expected = base.select("doc_id").as[Long].collect()
      .map(id => (id, id + 100000)).toSet
    val recalled = expected.count(pairs.contains)
    assert(recalled >= (expected.size * 0.9).toInt,
      s"recall $recalled/${expected.size}")
  }

  test("minhash LSH join fans a single-split input out to cluster parallelism (r10 sf10 lesson)") {
    import spark.implicits._
    // A 1-partition input reproduces the failure shape: the bucket join's
    // candidate verification (exact keyDistance per collision) inherits
    // the stream side's partitioning, so without the explicit fan-out the
    // whole quadratic-per-bucket verification runs in ONE task (43
    // CPU-minutes at the sf10 gate). Pin that minhashPairs repartitions
    // the vectorized corpus on doc_id to >= defaultParallelism.
    val words = (1 to 30).map(i => s"w$i")
    val docs = (1L to 40L).map(i => (i, words.take(12 + (i % 5).toInt)))
      .toDF("doc_id", "toks").coalesce(1)
    val pairs = DedupSuite.minhashPairs(spark, sf, 0.5, docs = docs)
    val plan = pairs.queryExecution.executedPlan.toString
    // Anchor the assertion BENEATH the similarity join (r10 advice): the
    // tree prints top-down, so an exchange feeding the join's inputs
    // starts after the join operator's line — a doc_id exchange added
    // above the join (some future agg) cannot keep this green if the
    // fan-out repartition is removed.
    val joinIdx = plan.indexOf("Join")
    assert(joinIdx >= 0, s"no join operator in LSH plan:\n$plan")
    val fanouts = """hashpartitioning\(doc_id#\d+L?, (\d+)\)""".r
      .findAllMatchIn(plan).filter(_.start > joinIdx).map(_.group(1).toInt).toSeq
    assert(fanouts.nonEmpty, s"no doc_id repartition beneath the LSH join in plan:\n$plan")
    assert(fanouts.max >= spark.sparkContext.defaultParallelism,
      s"LSH join fan-out ${fanouts.max} < ${spark.sparkContext.defaultParallelism}")
  }

  test("q139 composed LSH cosine dedup: identical to exact all-pairs q68, no cartesian") {
    val composed = DedupSuite.lshCosineDedup(spark, sf, tau = 0.3, idBound = 100L)
    val plan = composed.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"candidate generation must be the bucket join, not an all-pairs product:\n$plan")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val exact = DedupSuite.specs.find(_.name == "q68_cosine_neardup_dedup").get
      .run(spark, sf)
    assert(rows(composed) == rows(exact),
      "LSH candidate set missed a qualifying pair on the oracle slice")
  }

  test("minhash pairs agree with exact token-set Jaccard (no false accepts far over threshold)") {
    import spark.implicits._
    val pairs = DedupSuite.minhashPairs(spark, sf, distThreshold = 0.3)
      .select("a_id", "b_id").as[(Long, Long)].collect()
    val sets = graft.Tables(spark, sf, "documents")
      .select(col("doc_id"), expr("array_distinct(filter(split(text, ' '), x -> x <> ''))").as("s"))
      .as[(Long, Seq[String])].collect().toMap
    pairs.foreach { case (a, b) =>
      val (sa, sb) = (sets(a).toSet, sets(b).toSet)
      val j = sa.intersect(sb).size.toDouble / sa.union(sb).size
      // LSH is approximate: accepted pairs must at least be near the
      // threshold, not arbitrary.
      assert(j >= 0.5, s"pair ($a,$b) accepted with exact J=$j")
    }
  }

  test("dedup clusters: planted A≈B≈C chain collapses to ONE cluster keeping the lowest id") {
    import spark.implicits._
    // Sliding 12-token windows over a 16-word vocabulary:
    //   A = w1..w12, B = w3..w14, C = w5..w16
    // J(A,B) = J(B,C) = 10/14 ≈ 0.714 (inside the 0.3-distance threshold),
    // J(A,C) = 8/16 = 0.5 (outside). Only the transitive closure links A
    // to C — a pair list would keep C's cluster split.
    val words = (1 to 16).map(i => s"w$i")
    val docs = Seq(
      (11L, words.slice(0, 12)),
      (12L, words.slice(2, 14)),
      (13L, words.slice(4, 16))).toDF("doc_id", "toks")

    val pairs = DedupSuite.minhashPairs(spark, sf, 0.3, docs = docs)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(pairs.contains((11L, 12L)) && pairs.contains((12L, 13L)),
      s"chain links missing from $pairs")
    assert(!pairs.contains((11L, 13L)),
      "A-C must be OUTSIDE the pair threshold for the chain to be a real transitivity test")

    val clusters = DedupSuite.dedupClusters(spark, sf, 0.3, docs = docs).collect()
    assert(clusters.length == 1, s"expected one cluster, got ${clusters.toSeq}")
    assert(clusters.head.getAs[Long]("keep_id") == 11L)
    assert(clusters.head.getAs[Long]("n_members") == 3L)
  }

  test("dedup clusters: depth-20 planted chain (pair graph = a 19-hop path) collapses to one cluster") {
    import spark.implicits._
    // 20 sliding 12-token windows at step 2 over w1..w50: adjacent docs
    // share 10/14 tokens (J ≈ 0.714, inside the 0.3-distance threshold),
    // docs two apart share 8/16 (J = 0.5, outside) — so the pair graph is
    // EXACTLY a path of 19 hops. This is the long-dedup-family shape the
    // cluster step's router must stay bounded on: at this KB volume
    // componentLabelsWithStats takes the GraphX branch, whose 25-round cap plus
    // star-contraction finish bounds ANY chain depth (a 19-hop path
    // converges under the cap; deeper families would finish on the
    // contracted label graph) — GraphxAnalyticsSpec pins both regimes.
    val words = (1 to 50).map(i => s"w$i")
    val docs = (0 until 20).map { k =>
      (300L + k, words.slice(2 * k, 2 * k + 12))
    }.toDF("doc_id", "toks")

    val pairs = DedupSuite.minhashPairs(spark, sf, 0.3, docs = docs)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val path = (0 until 19).map(k => (300L + k, 301L + k)).toSet
    assert(pairs == path,
      s"pair graph must be exactly the 19-hop path; extra=${pairs -- path} missing=${path -- pairs}")

    val clusters = DedupSuite.dedupClusters(spark, sf, 0.3, docs = docs).collect()
    assert(clusters.length == 1, s"expected one cluster, got ${clusters.toSeq}")
    assert(clusters.head.getAs[Long]("keep_id") == 300L)
    assert(clusters.head.getAs[Long]("n_members") == 20L)
  }

  test("dedup clusters: disjoint docs produce zero clusters, not a crash") {
    import spark.implicits._
    // Token sets with no overlap at all: the LSH join yields no pairs,
    // so CC runs on an EMPTY edge list — the pipeline must return an
    // empty keep-list, not throw on the degenerate graph.
    val docs = Seq(
      (1L, Seq("aa", "bb", "cc", "dd", "ee", "ff")),
      (2L, Seq("gg", "hh", "ii", "jj", "kk", "ll")),
      (3L, Seq("mm", "nn", "oo", "pp", "qq", "rr"))).toDF("doc_id", "toks")
    assert(DedupSuite.dedupClusters(spark, sf, 0.3, docs = docs).count() == 0)
  }

  test("exact dedup groups: fingerprint grouping finds planted exact copies") {
    import spark.implicits._
    val docs = graft.Tables(spark, sf, "documents").select("doc_id", "text")
    val dup = docs.filter(col("doc_id") < 5)
      .select((col("doc_id") + 200000).as("doc_id"), col("text"))
    docs.unionByName(dup).createOrReplaceTempView("docs_with_dups")
    val groups = spark.table("docs_with_dups")
      .groupBy(conv(expr("substring(md5(text), 1, 15)"), 16, 10).cast("bigint").as("fp64"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") > 1)
    assert(groups.count() == 5)
  }
}
