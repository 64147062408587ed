package graft.ext

import graft.{QuerySpec, Tables}
import graft.graphx.GraphxAnalytics
import org.apache.spark.ml.feature.{BucketedRandomProjectionLSH, BucketedRandomProjectionLSHModel, HashingTF, MinHashLSH}
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for a training-data pipeline, each at the
  * grain it scales at:
  *  - exact dedup: hash-groupBy on a 60-bit fingerprint (q20/q43);
  *  - n-gram Jaccard: the exact refine step (quadratic — only ever run
  *    within a candidate bucket);
  *  - SimHash: linear map-reduce signature, near-dups collide in prefix
  *    buckets;
  *  - MinHash+LSH (MLlib): banded signatures, join on band bucket —
  *    the scale path for corpus-level near-dup detection.
  */
object DedupSuite {

  /** (doc_id, token-array) with empty tokens dropped. */
  private def toks(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "documents")
      .select(col("doc_id"), expr("filter(split(text, ' '), x -> x <> '')").as("toks"))

  /** MinHash-LSH near-dup pairs over binary token-set vectors.
    * `distThreshold` is Jaccard DISTANCE (1 − J). Deterministic via seed. */
  def minhashPairs(s: SparkSession, d: String, distThreshold: Double,
      docs: DataFrame = null): DataFrame = {
    val base = Option(docs).getOrElse(toks(s, d))
    val tf = new HashingTF().setInputCol("toks").setOutputCol("features")
      .setNumFeatures(1 << 16).setBinary(true)
    // The bucket join's candidate VERIFICATION (an exact keyDistance per
    // bucket collision) is the hot loop, and its work is quadratic per
    // dense bucket — not proportional to the input row count. The join
    // pipeline inherits the input's partitioning (the broadcast self-join
    // keeps the stream side's splits), so a heavily-filtered input that
    // arrives in one or two file splits serializes ALL verification into
    // one task (r10: the sf10 recall gate's 100-copy families spent 43
    // CPU-minutes in a single task this way). Fan the vectorized corpus
    // out to at least the cluster's parallelism before the join; a big
    // corpus that already has more splits keeps them.
    val v0 = tf.transform(base)
    // Under-split inputs are fanned out to cluster parallelism (hash on
    // doc_id); a corpus already at or above it KEEPS its existing splits —
    // no redistribution shuffle at scale (r11: the fan-out was previously
    // unconditional, a full extra shuffle of a big corpus for nothing).
    val vPar = s.sparkContext.defaultParallelism
    val v = if (v0.rdd.getNumPartitions < vPar)
      v0.repartition(vPar, col("doc_id")) else v0
    val mh = new MinHashLSH().setInputCol("features").setOutputCol("hashes")
      .setNumHashTables(8).setSeed(42)
    val model = mh.fit(v)
    model.approxSimilarityJoin(v, v, distThreshold, "dist")
      .select(col("datasetA.doc_id").as("a_id"),
        col("datasetB.doc_id").as("b_id"),
        round(col("dist"), 6).as("dist"))
      .filter(col("a_id") < col("b_id"))
  }

  /** End-to-end dedup: near-dup PAIRS become duplicate CLUSTERS with one
    * canonical survivor each. A≈B and B≈C must drop B AND C even when
    * A≉C directly — pair lists alone under-delete — so the banded MinHash
    * pairs are fed to connected components (label = min member id) and
    * each component keeps its lowest doc_id.
    *
    * The cluster step is REGIME-ROUTED through
    * [[graft.graphx.GraphxAnalytics.componentLabelsWithStats]] (the r15
    * verdict's parked decision, made in r16): below GraphxCcMaxPairs the pair graph
    * is KB-sized and GraphX label propagation costs milliseconds per
    * round — even a worst-case dedup chain (A≈B≈…≈Z where only adjacent
    * docs overlap enough to pair) is bounded there by the router's
    * 25-round cap + star-contraction finish, so the r15 star-always form's
    * ~+2.1 s of per-round scheduler cost at toy scale bought nothing.
    * Above the volume threshold the router takes star contraction
    * outright — the log-round, diameter-independent 100 TB shape — and
    * g13 keeps the pure star path exercised under the oracle gate every
    * round regardless. Labels are identical on every route (component-min
    * ids): DedupSpec's planted chains (incl. a depth-20 path) and the
    * RECALL family-collapse gates pin it.
    *
    * 100 TB shape: the edge list is the LSH bucket join's output (linear
    * in candidate pairs, never all-pairs), the at-volume CC rounds are
    * hash-agg + join passes over a SHRINKING pair list with a round count
    * ~log(component size) regardless of chain depth, and the final
    * keep-list is one groupBy on the component label. */
  def dedupClusters(s: SparkSession, d: String, distThreshold: Double,
      docs: DataFrame = null): DataFrame = {
    import s.implicits._
    val base = Option(docs).getOrElse(toks(s, d))
    // componentLabelsWithStats caches this RDD for its route count + CC
    // passes (one LSH-join execution total) and releases it before
    // returning.
    val pairs = minhashPairs(s, d, distThreshold, base)
      .select(col("a_id").as("u"), col("b_id").as("v"))
      .as[(Long, Long)].rdd
    val (labels, _, _) = GraphxAnalytics.componentLabelsWithStats(s, pairs)
    // The returned DataFrame is cached and eagerly materialized so the
    // iterative lineage never re-executes. This idiom is right HERE
    // because the output is cluster-count-sized — do NOT copy it into an
    // operator whose output is data-sized: a 100 TB keep-list must
    // stream, not pin itself in block storage. Contract: callers holding
    // it long-term may unpersist() it when done; otherwise Spark's
    // ContextCleaner drops the cached blocks when the DataFrame's RDD is
    // garbage-collected.
    val out = labels
      .groupBy(col("label").as("cluster_id"))
      .agg(min("id").as("keep_id"), count(lit(1)).as("n_members"))
      .orderBy("cluster_id")
      .cache()
    out.count()
    labels.unpersist(blocking = false)
    out
  }

  /** The q139 corpus in MLlib shape: original float embedding + norm kept
    * for the exact refine, L2-normalized double vector as the LSH input.
    * `vecsIn` (a (vec_id, embedding) frame) overrides the idBound slice —
    * the RecallGate passes a copy-family slice of a derived fixture. */
  private def cosineCorpus(s: SparkSession, d: String, idBound: Long,
      vecsIn: DataFrame): DataFrame = {
    import s.implicits._
    // An explicit frame REPLACES the idBound slice entirely — but idBound
    // still feeds the model-memo key and the model-selection branch, so a
    // caller passing both a meaningful bound and a frame would get an
    // unbounded-looking contract silently (ADVICE r12). Make the override
    // explicit at the call site.
    require(vecsIn == null || idBound == Long.MaxValue,
      s"vecsIn overrides the idBound slice — pass idBound = Long.MaxValue " +
        s"with an explicit corpus frame (got idBound = $idBound)")
    val base = Option(vecsIn).getOrElse(
      Tables(s, d, "embeddings").filter(col("vec_id") < idBound))
    base.select(col("vec_id"), col("embedding"),
        sqrt(expr("array_dot(embedding, embedding)")).as("nrm"))
      .select(col("vec_id"), col("embedding"), col("nrm"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE) / nrm)").as("u"))
      .as[(Long, Seq[Float], Double, Seq[Double])]
      .map { case (id, emb, nrm, u) => (id, emb, nrm, Vectors.dense(u.toArray)) }
      .toDF("vec_id", "embedding", "nrm", "features")
  }

  // Fit-once / serve-many memo for the q139 LSH model (same discipline as
  // SimilaritySuite's cachedIvf/cachedPq, r11 verdict item 3): a BRP-LSH
  // fit only draws the seeded random projection vectors for the input
  // DIMENSION — it is deterministic and data-independent beyond dim — so
  // a memoized model is bit-identical to a refit. Bench times the fit
  // separately (`ann_fit_sec.q139_fit_lsh`); the q139 median measures the
  // candidate join + exact refine, the serve path.
  private val cosLshMemo =
    scala.collection.mutable.Map.empty[(String, Long), BucketedRandomProjectionLSHModel]

  def fitCosineLsh(s: SparkSession, d: String, idBound: Long,
      vecsIn: DataFrame = null): BucketedRandomProjectionLSHModel = {
    val lsh = new BucketedRandomProjectionLSH()
      .setInputCol("features").setOutputCol("hashes")
      .setBucketLength(4.0).setNumHashTables(14).setSeed(42)
    lsh.fit(cosineCorpus(s, d, idBound, vecsIn))
  }

  def cachedCosineLsh(s: SparkSession, d: String, idBound: Long): BucketedRandomProjectionLSHModel =
    cosLshMemo.synchronized(
      cosLshMemo.getOrElseUpdate((d, idBound), fitCosineLsh(s, d, idBound)))

  /** q139: the COMPOSED form of q68 — candidate pairs come out of an LSH
    * bucket join instead of an all-pairs product, then the exact cosine
    * refine + keep-lowest-id policy run unchanged on the candidates.
    * Embeddings are L2-normalized so cosine ≥ tau ↔ euclidean distance ≤
    * √(2−2·tau), which is exactly what `approxSimilarityJoin` verifies
    * per bucket collision (its refine is EXACT distance — LSH only
    * bounds which pairs get checked). The final `cos >= tau` filter
    * re-decides the boundary on the ORIGINAL float vectors, so the
    * output is oracle-comparable wherever the candidate set is complete
    * (verified: identical to the exact all-pairs q68 on the fixture
    * slice at every SF — DedupSpec pins the equivalence; 14 hash tables
    * at bucket length 4 make near-threshold misses vanishingly rare).
    * Same fan-out and no-cartesian disciplines as [[minhashPairs]]. */
  def lshCosineDedup(s: SparkSession, d: String, tau: Double,
      idBound: Long, vecsIn: DataFrame = null,
      modelIn: BucketedRandomProjectionLSHModel = null): DataFrame = {
    val unit = cosineCorpus(s, d, idBound, vecsIn)
    val par = s.sparkContext.defaultParallelism
    val v = if (unit.rdd.getNumPartitions < par)
      unit.repartition(par, col("vec_id")) else unit
    val model =
      if (modelIn != null) modelIn
      else if (vecsIn == null) cachedCosineLsh(s, d, idBound)
      else fitCosineLsh(s, d, idBound, vecsIn)
    // The join's distance bound is padded by a relative 1e-6 (ADVICE r11):
    // approxSimilarityJoin verifies dist < t STRICTLY on the re-normalized
    // doubles, while the refine below decides cos >= tau on the original
    // floats — unpadded, a pair landing within rounding of the boundary
    // could pass the oracle yet be dropped from the candidates. The pad
    // keeps the exact refine the SOLE decider of the boundary.
    model.approxSimilarityJoin(v, v, math.sqrt(2.0 - 2.0 * tau) * (1.0 + 1e-6), "dist")
      .select(col("datasetA.vec_id").as("a_id"),
        col("datasetB.vec_id").as("b_id"),
        (expr("array_dot(datasetA.embedding, datasetB.embedding)") /
          (col("datasetA.nrm") * col("datasetB.nrm"))).as("cos"))
      .filter(col("a_id") < col("b_id") && col("cos") >= tau)
      .groupBy(col("b_id").as("dropped_id"))
      .agg(min(col("a_id")).as("dup_of"), count(lit(1)).as("n_earlier_dups"))
      .orderBy("dropped_id")
  }

  /** Exact keep-lowest-id cosine dedup (tau 0.3) on the vec_id < 100
    * slice — the one truth for q68 (exact pairs) and q139 (LSH bucket
    * join as the candidate generator). */
  private val cosineDedupOracle =
    "WITH e AS (SELECT vec_id, embedding, " +
      "sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm " +
      "FROM embeddings WHERE vec_id < 100) " +
      "SELECT b.vec_id AS dropped_id, min(a.vec_id) AS dup_of, count(*) AS n_earlier_dups " +
      "FROM e a JOIN e b ON a.vec_id < b.vec_id " +
      "WHERE list_sum(list_transform(list_zip(a.embedding, b.embedding), " +
      "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) / (a.nrm * b.nrm) >= 0.3 " +
      "GROUP BY b.vec_id ORDER BY dropped_id"

  val specs: Seq[QuerySpec] = Seq(

    // Exact 3-gram shingle Jaccard on a candidate set — the refine step
    // of every banded near-dup pipeline, and an oracle-checkable one.
    QuerySpec("q44_ngram_jaccard",
      (s, d) => {
        // Guard docs with < 3 tokens explicitly: sequence(1, 0) is [1, 0]
        // (auto-steps -1), and element_at(toks, 0) always throws.
        val sh = toks(s, d).filter(col("doc_id") < 60)
          .select(col("doc_id"), expr(
            "array_distinct(IF(size(toks) >= 3, " +
              "transform(sequence(1, size(toks) - 2), " +
              "i -> concat_ws(' ', element_at(toks, i), element_at(toks, i + 1), " +
              "element_at(toks, i + 2))), CAST(array() AS ARRAY<STRING>)))").as("sh"))
        sh.as("a").join(sh.as("b"), col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
            expr("round(size(array_intersect(a.sh, b.sh)) / " +
              "size(array_union(a.sh, b.sh)), 6)").as("j"))
          .filter(col("j") >= 0.02)
          .orderBy("a_id", "b_id")
      },
      Some("WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks " +
        "FROM documents WHERE doc_id < 60), " +
        "sh AS (SELECT doc_id, list_distinct(list_transform(" +
        "generate_series(1, greatest(len(toks) - 2, 0)), " +
        "i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS sh FROM t) " +
        "SELECT a.doc_id AS a_id, b.doc_id AS b_id, " +
        "round(len(list_intersect(a.sh, b.sh)) / " +
        "len(list_distinct(list_concat(a.sh, b.sh))), 6) AS j " +
        "FROM sh a JOIN sh b ON a.doc_id < b.doc_id " +
        "WHERE len(list_intersect(a.sh, b.sh)) / " +
        "len(list_distinct(list_concat(a.sh, b.sh))) >= 0.02 ORDER BY a_id, b_id")),

    // SimHash: 60-bit signature as a pure linear aggregation — per-token
    // md5 -> signed bit votes -> sign. Near-dup docs differ in few bits.
    QuerySpec("q45_simhash",
      // ONE shuffle on doc_id, no row amplification: the 60 bit votes are
      // 60 codegen'd partial-sum columns (map-side combine makes each
      // pre-shuffle record a single 60-long vector per doc per partition),
      // not an explode(sequence(0,59)) that shuffles 60x the token rows.
      (s, d) => {
        val votes = (0 until 60).map(b =>
          sum(expr(s"(shiftright(h, $b) % 2) * 2 - 1")).as(s"v$b"))
        val sig = (0 until 60)
          .map(b => when(col(s"v$b") > 0, lit(1L << b)).otherwise(0L))
          .reduce(_ + _)
        toks(s, d)
          .select(col("doc_id"), explode(col("toks")).as("tok"))
          .select(col("doc_id"),
            conv(expr("substring(md5(tok), 1, 15)"), 16, 10).cast("bigint").as("h"))
          .groupBy("doc_id")
          .agg(votes.head, votes.tail: _*)
          .select(col("doc_id"), sig.as("simhash"))
          .orderBy("doc_id").limit(200)
      },
      Some("WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents), " +
        "h AS (SELECT doc_id, CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS h " +
        "FROM tk WHERE tok <> ''), " +
        "bits AS (SELECT doc_id, h, unnest(generate_series(0, 59)) AS b FROM h), " +
        "v AS (SELECT doc_id, b, sum(((h >> b) & 1) * 2 - 1) AS v FROM bits GROUP BY 1, 2) " +
        "SELECT doc_id, CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) " +
        "AS BIGINT) AS simhash FROM v GROUP BY doc_id ORDER BY doc_id LIMIT 200")),

    // Cross-corpus chunk-level dedup (the C4/RefinedWeb "exact substring"
    // pass): slice every document into non-overlapping 8-token chunks,
    // keep only the FIRST occurrence of each chunk corpus-wide (lowest
    // (doc_id, chunk_idx)), report per-doc survival. The global keep-first
    // decision shuffles ONLY a 60-bit chunk fingerprint — never the text —
    // so the exchange carries 8-byte keys at any corpus size; a fingerprint
    // collision merges two chunks identically on both engines, so the
    // oracle still matches (and at 1e-18/pair is noise in a quality pass).
    QuerySpec("q75_chunk_dedup",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("fp").orderBy("doc_id", "ci")
        Tables(s, d, "documents")
          .withColumn("tk", expr("filter(split(text, ' '), x -> x <> '')"))
          .filter(expr("size(tk) >= 8"))
          .select(col("doc_id"), explode(expr(
            "transform(sequence(1, size(tk) div 8), i -> named_struct(" +
              "'ci', i, " +
              "'fp', CAST(conv(substring(md5(array_join(slice(tk, (i-1)*8+1, 8), ' ')), " +
              "1, 15), 16, 10) AS BIGINT)))")).as("c"))
          .select(col("doc_id"), col("c.ci").as("ci"), col("c.fp").as("fp"))
          .withColumn("rn", row_number().over(w))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_chunks"),
            sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"))
          .orderBy("doc_id").limit(300)
      },
      Some("WITH t AS (SELECT doc_id, " +
        "list_filter(string_split(text, ' '), x -> x <> '') AS tk FROM documents), " +
        "c AS (SELECT doc_id, tk, unnest(generate_series(1, len(tk) // 8)) AS ci " +
        "FROM t WHERE len(tk) >= 8), " +
        "h AS (SELECT doc_id, ci, CAST(concat('0x', substr(md5(" +
        "array_to_string(tk[(ci-1)*8+1 : (ci-1)*8+8], ' ')), 1, 15)) AS BIGINT) AS fp " +
        "FROM c), " +
        "r AS (SELECT doc_id, ci, row_number() OVER " +
        "(PARTITION BY fp ORDER BY doc_id, ci) AS rn FROM h) " +
        "SELECT doc_id, count(*) AS n_chunks, " +
        "CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept " +
        "FROM r GROUP BY doc_id ORDER BY doc_id LIMIT 300")),

    // MinHash+LSH banded near-dup join (MLlib) — approximate, so no SQL
    // oracle; recall is property-tested against planted duplicates and
    // the exact token-set Jaccard (DedupSpec). Candidate set bounded: the
    // synthetic fixture's tiny shared vocabulary makes token-set Jaccard
    // degenerately high, so an unbounded self-join is quadratic noise.
    QuerySpec("q46_minhash_neardup",
      (s, d) => minhashPairs(s, d, distThreshold = 0.3,
        docs = Tables(s, d, "documents").filter(col("doc_id") < 200)
          .select(col("doc_id"), expr("filter(split(text, ' '), x -> x <> '')").as("toks")))
        .orderBy("a_id", "b_id"),
      None,
      gate = Some("property:DedupSpec/planted near-dup recall + exact-Jaccard agreement")),

    // Pairs -> transitive clusters -> keep-list: what a pipeline actually
    // drops. Approximate upstream (MinHash), so no SQL oracle; the planted
    // A≈B≈C chain property (one cluster, lowest id kept, even with A≉C)
    // is asserted in DedupSpec.
    QuerySpec("q69_dedup_clusters",
      (s, d) => dedupClusters(s, d, distThreshold = 0.3,
        docs = Tables(s, d, "documents").filter(col("doc_id") < 200)
          .select(col("doc_id"), expr("filter(split(text, ' '), x -> x <> '')").as("toks"))),
      None,
      gate = Some("property:DedupSpec/planted chains (A≈B≈C and a depth-20 path) collapse to one cluster, lowest id kept")),

    // Embedding-cosine near-dup dedup: drop every vector with an EARLIER
    // (lower-id) neighbour at cosine >= threshold, reporting the earliest
    // such duplicate. The exact pair scan is candidate-bounded (the refine
    // step); at corpus scale the candidate pairs come out of the LSH
    // bucket join instead of a<b — that composed pipeline IS q139 below,
    // same policy, same oracle. Counts/min only in the output — no float
    // hashing. Dot products via the native array_dot expression.
    //
    // Threshold-margin note: the 0.3 gate relies on Spark and DuckDB
    // agreeing on which side of it each pair falls. Verified margin: the
    // closest fixture pair cosine to 0.3 is ≥ 1.9e-4 away at every SF
    // (sf0.001/0.01/0.1, vec_id < 100) — ~9 orders of magnitude above any
    // double summation-order drift for 64-term dot products (≤ ~1e-13),
    // so the comparison is stable to reformulation on either engine.
    QuerySpec("q68_cosine_neardup_dedup",
      (s, d) => {
        val e = Tables(s, d, "embeddings").filter(col("vec_id") < 100)
          .select(col("vec_id"), col("embedding"),
            sqrt(expr("array_dot(embedding, embedding)")).as("nrm"))
        e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
          .filter(expr("array_dot(a.embedding, b.embedding)") /
            (col("a.nrm") * col("b.nrm")) >= 0.3)
          .groupBy(col("b.vec_id").as("dropped_id"))
          .agg(min(col("a.vec_id")).as("dup_of"),
            count(lit(1)).as("n_earlier_dups"))
          .orderBy("dropped_id")
      },
      Some(cosineDedupOracle)
    ),

    // The composed pipeline q68's comment promises: LSH bucket join as
    // the candidate generator, exact cosine refine + keep-lowest-id on
    // the candidates. Same oracle slice and same exact SQL as q68 — the
    // bucket join must therefore recover EVERY qualifying pair on the
    // slice (it does, deterministically: fixed seed, and DedupSpec pins
    // q139 ≡ q68 plus the no-cartesian plan shape).
    QuerySpec("q139_lsh_cosine_dedup",
      (s, d) => lshCosineDedup(s, d, tau = 0.3, idBound = 100L),
      Some(cosineDedupOracle)
    )
  )
}
