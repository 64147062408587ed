package graft.ext

import graft.{QuerySpec, Tables}
import org.apache.spark.ml.clustering.{KMeans, KMeansModel}
import org.apache.spark.ml.feature.BucketedRandomProjectionLSH
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Vector-similarity operators over the `embeddings` table
  * (`ARRAY<FLOAT>`, dim 64):
  *  - exact cosine via pure Catalyst higher-order functions (codegen'd,
  *    no UDF) — the correctness baseline (q26 is the single-probe form);
  *  - embedding near-dup pairs (exact, candidate-bounded) — the refine
  *    step;
  *  - BucketedRandomProjectionLSH ANN — the scale path: hash both sides,
  *    join on bucket, refine; validated by recall against the exact
  *    top-k (SimilaritySpec).
  */
object SimilaritySuite {

  // Native codegen'd expression (graft.functions.ArrayDot) — bit-identical
  // to the zip_with/aggregate HOF chain but a tight primitive loop, so the
  // oracled queries using it still hash-match.
  private def dot(a: String, b: String) = expr(s"array_dot($a, $b)")

  /** (vec_id, embedding, nrm) with the L2 norm precomputed. */
  private def withNorm(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "embeddings")
      .select(col("vec_id"), col("embedding"),
        sqrt(dot("embedding", "embedding")).as("nrm"))

  /** The corpus as (vec_id, arr DOUBLE[]): `vecsIn` (vec_id, embedding)
    * when given, else the `embeddings` table — the one reader every ANN,
    * dedup and fit path (and tools.RecallGate's exact scoring) runs on. */
  private[graft] def corpus(s: SparkSession, d: String, vecsIn: DataFrame = null): DataFrame =
    (if (vecsIn != null) vecsIn else Tables(s, d, "embeddings"))
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("arr"))

  /** [[corpus]] rows as (vec_id, features ml.Vector), cached — the input
    * form of the LSH and KMeans fits. */
  private def vectorized(corpus: DataFrame): DataFrame = {
    import corpus.sparkSession.implicits._
    corpus.as[(Long, Seq[Double])]
      .map { case (id, a) => (id, Vectors.dense(a.toArray)) }
      .toDF("vec_id", "features")
      .cache()
  }

  /** The KMeans coarse quantizer over [[vectorized]] rows, shared by q53,
    * q91 and q135: fixed seed, fit on a 10 % sample (decoupled from corpus
    * size; the full corpus is then assigned), falling back to the whole
    * corpus when the sample is under 10·nlist rows so tiny fixtures stay
    * trainable. */
  private def fitCoarse(vecs: DataFrame, nlist: Int): KMeansModel = {
    val km = new KMeans()
      .setK(nlist).setSeed(42).setFeaturesCol("features").setPredictionCol("cell")
    val sampled = vecs.sample(withReplacement = false, 0.1, seed = 42)
    km.fit(if (sampled.limit(10 * nlist).count() < 10L * nlist) vecs else sampled)
  }

  /** Dot product of two local arrays, accumulated left to right. */
  private def dotArr(a: Array[Double], b: Array[Double]): Double = {
    var s0 = 0.0; var i = 0
    while (i < a.length) { s0 += a(i) * b(i); i += 1 }; s0
  }

  /** `embeddings` with the symmetric int8 scale `m` (the corpus max |x|, a
    * one-scalar aggregate broadcast back) on every row — q78/q79's first
    * pass. */
  private def withInt8Scale(s: SparkSession, d: String): DataFrame = {
    val emb = Tables(s, d, "embeddings")
    emb.crossJoin(broadcast(emb.agg(
      max(expr("array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))")).as("m"))))
  }

  /** ANN top-k for one probe via LSH: deterministic with fixed seed.
    * `vecsIn` (vec_id, embedding ARRAY&lt;FLOAT&gt;) substitutes the corpus —
    * used by the clustered-fixture recall gate in SimilaritySpec. */
  def annTopK(s: SparkSession, d: String, probeId: Long, k: Int,
      vecsIn: DataFrame = null): DataFrame = {
    val vecs = vectorized(corpus(s, d, vecsIn))
    val lsh = new BucketedRandomProjectionLSH()
      .setInputCol("features").setOutputCol("hashes")
      .setBucketLength(2.0).setNumHashTables(6).setSeed(42)
    val model = lsh.fit(vecs)
    val probe = vecs.filter(col("vec_id") === probeId).head().getAs[org.apache.spark.ml.linalg.Vector]("features")
    model.approxNearestNeighbors(vecs.filter(col("vec_id") =!= probeId), probe, k, "dist")
      .select(col("vec_id"), round(col("dist"), 6).as("dist"))
  }

  // ---- fit-once / serve-many memos (r9 verdict item 6) -----------------
  // The production 100 TB split is an offline fit job + many serving
  // queries. The q53/q134/q135 entries serve from a model fitted once per
  // (dataset, params) — every fit here is deterministic (fixed seeds,
  // md5-ordered init, decimal accumulation), so a memoized model yields
  // bit-identical results to a refit. Bench times the fits separately
  // (`ann_fit_sec`), so the per-query medians measure the SERVE path.
  private val pqMemo = scala.collection.mutable.Map.empty[String, PqModel]
  private val ivfMemo =
    scala.collection.mutable.Map.empty[(String, Int), KMeansModel]
  private val ivfPqMemo = scala.collection.mutable.Map.empty[(String, Int), IvfPqModel]

  def cachedPq(s: SparkSession, d: String): PqModel =
    pqMemo.synchronized(pqMemo.getOrElseUpdate(d, fitPq(s, d)))

  def cachedIvf(s: SparkSession, d: String, nlist: Int): KMeansModel =
    ivfMemo.synchronized(ivfMemo.getOrElseUpdate((d, nlist), fitIvf(s, d, nlist)))

  def cachedIvfPq(s: SparkSession, d: String, nlist: Int): IvfPqModel =
    ivfPqMemo.synchronized(ivfPqMemo.getOrElseUpdate((d, nlist), fitIvfPq(s, d, nlist)))

  /** q53's coarse quantizer ([[fitCoarse]]) as a standalone fit job. */
  def fitIvf(s: SparkSession, d: String, nlist: Int = 16,
      vecsIn: DataFrame = null): KMeansModel = {
    val vecs = vectorized(corpus(s, d, vecsIn))
    try fitCoarse(vecs, nlist) finally { vecs.unpersist(); () }
  }

  /** IVF-style ANN: a KMeans coarse quantizer (nlist cells) assigns every
    * vector to a cell; the probe searches only its `nprobe` nearest cells
    * with the exact dot product. The scale path: the quantizer fit is a
    * sample-sized job, assignment is one linear pass, and each query scans
    * nprobe/nlist of the corpus. `modelIn` serves from a pre-fitted
    * (memoized or loaded) quantizer — the fit-once path; refit when absent. */
  def ivfTopK(s: SparkSession, d: String, probeId: Long, k: Int,
      nlist: Int = 16, nprobe: Int = 4, vecsIn: DataFrame = null,
      modelIn: KMeansModel = null): DataFrame = {
    val base = corpus(s, d, vecsIn)
    // KMeans.transform is one linear pass, but probe extraction + the
    // cell-filtered refine share it — cache the vectorized form.
    val vecs = vectorized(base)
    val model = if (modelIn != null) modelIn else fitCoarse(vecs, nlist)
    val probe = vecs.filter(col("vec_id") === probeId)
      .head().getAs[org.apache.spark.ml.linalg.Vector]("features")
    // Probe the cells whose centroids have max INNER PRODUCT with the
    // query — the refine metric is the dot product, and for
    // non-normalized vectors euclidean-nearest cells are the wrong ones.
    val cells = model.clusterCenters.zipWithIndex
      .sortBy { case (c, _) => -dotArr(c.toArray, probe.toArray) }
      .take(nprobe).map(_._2).toSeq
    val probeArr = typedLit(probe.toArray.toSeq)
    model.transform(vecs).select("vec_id", "cell")
      .join(base, "vec_id")
      .filter(col("cell").isin(cells: _*) && col("vec_id") =!= probeId)
      .withColumn("pvec", probeArr)
      .select(col("vec_id"),
        round(expr("array_dot(arr, pvec)"), 6).as("dot"))
      .orderBy(col("dot").desc, col("vec_id")).limit(k)
  }

  /** Batch ANN — ALL probes against the corpus in one job, the shape a
    * 100 TB similarity-search pass actually runs (vs [[annTopK]]'s one
    * probe per job). Both sides get `nTables` random-projection bucket
    * keys (each table concatenates `hyperplanesPerTable` quantized
    * projections of the L2-NORMALIZED vector, so euclidean buckets align
    * with cosine); candidates come from an equi-join on the bucket struct,
    * are deduped across tables, refined with the exact codegen'd dot
    * product, and `row_number` keeps the top k per probe.
    *
    * Every shuffle is keyed (bucket struct, then vec_id, then the window's
    * probe_id) — no all-pairs product anywhere. Projections are
    * deterministic (fixed seed at plan-build). Bucket width/table count
    * trade recall vs candidate volume and are corpus-specific; recall@10
    * vs exact brute force is asserted in SimilaritySpec. Defaults are
    * tuned for the synthetic fixture, which is near-adversarial for ANN
    * (top-10 neighbours at cos≈0.3 vs random≈0.0, so any LSH family
    * separates candidates weakly); a real embedding corpus with cluster
    * structure prunes far harder at the same recall. */
  def annBatchTopK(s: SparkSession, d: String, k: Int,
      probeLimit: Long = Long.MaxValue, nTables: Int = 16,
      hyperplanesPerTable: Int = 3, bucketLen: Double = 1.5,
      vecsIn: DataFrame = null): DataFrame = {
    val rnd = new scala.util.Random(42)
    val dim = 64
    val unit = corpus(s, d, vecsIn)
      .select(col("vec_id"),
        expr("transform(arr, x -> x / sqrt(array_dot(arr, arr)))").as("unit"))
    def projLit(): String =
      "array(" + Seq.fill(dim)(rnd.nextGaussian())
        .map(x => s"CAST($x AS DOUBLE)").mkString(",") + ")"
    val tables = (0 until nTables).map { t =>
      val bs = (0 until hyperplanesPerTable).map { i =>
        floor(expr(s"array_dot(unit, ${projLit()})") / bucketLen)
          .cast("long").as(s"b$i")
      }
      struct(lit(t).as("t") +: bs: _*)
    }
    // Narrow (vec_id, bucket) rows through the bucket join; the wide
    // embedding arrays are re-joined only after the candidate dedup.
    val hashed = unit.select(col("vec_id"), explode(array(tables: _*)).as("bucket"))
    val cand = hashed.as("p").join(hashed.as("c"), col("p.bucket") === col("c.bucket"))
      .filter(col("p.vec_id") =!= col("c.vec_id") && col("p.vec_id") < probeLimit)
      .select(col("p.vec_id").as("probe_id"), col("c.vec_id").as("cand_id"))
      .distinct()
    val refined = cand
      .join(unit.select(col("vec_id").as("probe_id"), col("unit").as("pu")), "probe_id")
      .join(unit.select(col("vec_id").as("cand_id"), col("unit").as("cu")), "cand_id")
      .select(col("probe_id"), col("cand_id"), expr("array_dot(pu, cu)").as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("probe_id").orderBy(col("cos").desc, col("cand_id"))
    refined.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
      .select(col("probe_id"), col("cand_id"), round(col("cos"), 6).as("cos"), col("rnk"))
      .orderBy("probe_id", "rnk")
  }

  /** SemDeDup-style semantic dedup: a KMeans coarse quantizer assigns
    * every vector to a cell (sample-sized fit + one linear assignment
    * pass, same shape as [[ivfTopK]]); exact cosine runs only WITHIN
    * cells, so the pairwise work is Σ|cell|², not n²; any vector with a
    * lower-id cell-mate at cosine >= tau is dropped (keep-first, same
    * policy as q68/q69). Deterministic for the fixed seed but not
    * SQL-expressible (KMeans) → rows-only gate + the planted-cluster
    * test in SimilaritySpec. The one-row summary is collected eagerly so
    * the cached vectorized input can be unpersisted before returning.
    *
    * At 100 TB the cell assignment replaces the LSH banding as the
    * candidate generator: cells are the shuffle key, cell sizes are
    * bounded by nlist tuning, and the refine stays candidate-local. */
  def semanticDedup(s: SparkSession, d: String, tau: Double, nlist: Int = 16,
      vecsIn: DataFrame = null): DataFrame = {
    import s.implicits._
    val base = corpus(s, d, vecsIn)
    val vecs = vectorized(base)
    try {
      val asg = fitCoarse(vecs, nlist).transform(vecs).select(col("vec_id"), col("cell"))
        .join(base, "vec_id")
        .withColumn("nrm", sqrt(expr("array_dot(arr, arr)")))
      val a = asg.select(col("cell").as("c1"), col("vec_id").as("a_id"),
        col("arr").as("a_arr"), col("nrm").as("a_nrm"))
      val b = asg.select(col("cell").as("c2"), col("vec_id").as("b_id"),
        col("arr").as("b_arr"), col("nrm").as("b_nrm"))
      val dropped = a.join(b, col("c1") === col("c2") && col("a_id") < col("b_id"))
        .filter(expr("array_dot(a_arr, b_arr)") / (col("a_nrm") * col("b_nrm")) >= tau)
        .select(col("b_id")).distinct()
      val row = asg.join(dropped, asg("vec_id") === dropped("b_id"), "left_anti")
        .agg(count(lit(1)).as("n_survivors"), sum("vec_id").as("survivor_checksum"))
        .crossJoin(broadcast(dropped.agg(count(lit(1)).as("n_dropped"))))
        .select(col("n_survivors"), col("n_dropped"), col("survivor_checksum"))
        .head()
      Seq((row.getLong(0), row.getLong(1), row.getLong(2)))
        .toDF("n_survivors", "n_dropped", "survivor_checksum")
    } finally { vecs.unpersist(); () }
  }

  /** Product-quantization model: `m` subspaces of `sub` dims, `ksub`
    * centroids per subspace. `codebooks(j)(c)` is subspace j's centroid c.
    * At dim 64 / m 16 / ksub 16 every vector compresses from 256 B of
    * floats to 16 four-bit codes — 16–32× less memory than raw and 2× less
    * than q78's int8, which is what lets a 100 TB corpus's index stay
    * RAM-resident for the ADC scan. */
  final case class PqModel(m: Int, sub: Int, ksub: Int,
      codebooks: Array[Array[Array[Double]]]) {
    def codebookLit = typedLit(codebooks.map(_.map(_.toSeq).toSeq).toSeq)
  }

  /** The q135 IVF-PQ index parameters: `centers` is the coarse quantizer
    * (nlist cells over the RAW vectors), `pq` the product quantizer fit on
    * the RESIDUALS (vec − center[cell]). Together they are everything a
    * serving job needs — fit once, serve many (the production 100 TB
    * shape). */
  final case class IvfPqModel(centers: Array[Array[Double]],
      pq: PqModel)

  /** Deterministic nearest-center assignment (squared euclidean, strict-<
    * argmin, lowest index wins ties — plain left-to-right accumulation, no
    * norm-expansion shortcut, so assignment is a pure function of the
    * persisted center doubles and identical across fit-then-serve and
    * load-then-serve). A UDF rather than the HOF argmin because filter
    * pushdown substitutes the `cell` alias into the probed-cells IN
    * predicate: a compact `UDF(arr) IN (…)` there costs one extra argmin
    * per row, while the inlined HOF chain would re-evaluate a full
    * interpreted fold (the q134 CollapseProject lesson). */
  private def nearestCenterUdf(centers: Array[Array[Double]]) =
    udf { (arr: Seq[Double]) =>
      var best = Double.PositiveInfinity
      var bestC = -1
      var c = 0
      while (c < centers.length) {
        val cent = centers(c)
        var d = 0.0
        var i = 0
        while (i < cent.length) { val diff = arr(i) - cent(i); d += diff * diff; i += 1 }
        if (d < best) { best = d; bestC = c }
        c += 1
      }
      bestC
    }

  /** The codegen'd per-subspace nearest-centroid argmin (lowest index wins
    * ties): one HOF fold over the `ksub` centroids, no UDF. */
  private def nearestCode(sv: org.apache.spark.sql.Column,
      cents: org.apache.spark.sql.Column, ksub: Int) =
    aggregate(
      sequence(lit(0), lit(ksub - 1)),
      struct(lit(Double.PositiveInfinity).as("best"), lit(-1).as("idx")),
      (acc, c) => {
        val dist = aggregate(
          zip_with(sv, element_at(cents, c + 1), (x, y) => (x - y) * (x - y)),
          lit(0.0), (a, v) => a + v)
        when(dist < acc("best"), struct(dist.as("best"), c.as("idx")))
          .otherwise(acc)
      })("idx")

  /** Fit PQ codebooks with a distributed Lloyd's loop run over ALL `m`
    * subspaces in ONE pipeline (explode each sampled vector into its m
    * subvectors; every iteration is one assignment-and-average job over
    * the sample), instead of m separate ml.KMeans fits — same sample
    * discipline as [[fitCoarse]], m× fewer jobs.
    *
    * Deterministic by construction: md5-ordered initial centroids, a fixed
    * iteration count, and DECIMAL(28,12) mean accumulation so the
    * codebooks are independent of partial-aggregation order (double sums
    * are not); empty cells keep their previous centroid. */
  def fitPq(s: SparkSession, d: String, m: Int = 16, ksub: Int = 16,
      iters: Int = 4, vecsIn: DataFrame = null): PqModel = {
    val base = corpus(s, d, vecsIn)
    val sampled = base.sample(withReplacement = false, 0.1, seed = 42)
    val fitInput =
      (if (sampled.limit(10 * ksub).count() < 10L * ksub) base else sampled).cache()
    try {
      // Init: the md5-first ksub sample vectors' slices (deterministic
      // pseudo-random pick, the repo's md5-gate discipline); the corpus
      // dim rides along on the same collect instead of its own job.
      val seed = fitInput
        .orderBy(md5(concat(lit("pq"), col("vec_id").cast("string"))), col("vec_id"))
        .limit(ksub).select(col("arr")).collect()
        .map(_.getSeq[Double](0).toArray)
      require(seed.length == ksub, s"corpus smaller than ksub=$ksub")
      val dim = seed(0).length
      require(dim % m == 0, s"dim $dim not divisible by m=$m")
      val sub = dim / m

      // (j, sv): every sampled vector exploded into its m subvectors.
      val subRows = fitInput.select(posexplode(
        transform(sequence(lit(0), lit(m - 1)),
          j => slice(col("arr"), j * lit(sub) + 1, lit(sub)))).as(Seq("j", "sv")))

      var cb: Array[Array[Array[Double]]] =
        Array.tabulate(m, ksub)((j, c) => seed(c).slice(j * sub, j * sub + sub))

      for (_ <- 1 to iters) {
        val cbLit = typedLit(cb.map(_.map(_.toSeq).toSeq).toSeq)
        val means = subRows
          .withColumn("c", nearestCode(col("sv"), element_at(cbLit, col("j") + 1), ksub))
          .select(col("j"), col("c"), posexplode(col("sv")).as(Seq("pos", "v")))
          .groupBy("j", "c", "pos")
          .agg((sum(col("v").cast("decimal(28,12)")) / count(lit(1)))
            .cast("double").as("mean"))
          .collect()
        val next = cb.map(_.map(_.clone())) // empty cells keep old centroid
        means.foreach(r => next(r.getInt(0))(r.getInt(1))(r.getInt(2)) = r.getDouble(3))
        cb = next
      }
      PqModel(m, sub, ksub, cb)
    } finally { fitInput.unpersist(); () }
  }

  /** Encode a corpus against a fitted [[PqModel]]: one linear pass →
    * (vec_id, codes ARRAY&lt;INT&gt; of length m) through the NATIVE
    * `pq_encode` kernel (graft.functions.PqEncodeExpr) — the HOF argmin
    * chain is interpreted and allocation-heavy, which at corpus scale
    * makes encode the bottleneck; the native expression is a tight
    * codegen'd triple loop, bit-identical (PqEncodeSpec parity). */
  def pqEncode(vecs: DataFrame, model: PqModel): DataFrame =
    vecs.select(col("vec_id"),
      call_function("pq_encode", col("arr"), model.codebookLit).as("codes"))

  /** The interpreted HOF formulation of [[pqEncode]] — kept as the parity
    * reference for PqEncodeSpec (same distance accumulation order, same
    * strict-&lt; argmin → bit-identical codes). */
  def pqEncodeHof(vecs: DataFrame, model: PqModel): DataFrame = {
    val cbLit = model.codebookLit
    vecs.select(col("vec_id"),
      transform(sequence(lit(0), lit(model.m - 1)), j =>
        nearestCode(slice(col("arr"), j * lit(model.sub) + 1, lit(model.sub)),
          element_at(cbLit, j + 1), model.ksub)).as("codes"))
  }

  /** Probe `probeId`'s vector from a [[corpus]] frame. */
  private def probeVec(base: DataFrame, probeId: Long): Array[Double] =
    base.filter(col("vec_id") === probeId).head().getSeq[Double](1).toArray

  /** Estimated ⟨probe, vec⟩ of a row's PQ `codes` by asymmetric distance
    * computation: an m×ksub table of INNER PRODUCTS ⟨probe_sub_j,
    * codebook_j,c⟩, computed locally and broadcast as a literal, and Σ_j
    * dt[j][code_j] as one codegen'd fold — so the candidate ranking lives
    * in the SAME metric as the exact rerank (euclidean ADC on
    * non-normalized vectors ranks a different neighbourhood than the dot
    * product and costs real recall).
    *
    * `codes` is referenced exactly ONCE: HOFs are interpreted, and
    * CollapseProject inlines the encode projection into this lambda — an
    * element_at(codes, j) per fold step would re-evaluate the whole m×ksub
    * argmin encode m times per row (measured 8× slower). Zipping codes
    * with the subspace indices keeps one evaluation per row. */
  private def adcScore(probe: Array[Double], pq: PqModel): org.apache.spark.sql.Column = {
    val dt = Array.tabulate(pq.m, pq.ksub) { (j, c) =>
      dotArr(probe.slice(j * pq.sub, j * pq.sub + pq.sub), pq.codebooks(j)(c))
    }
    val dtLit = typedLit(dt.map(_.toSeq).toSeq)
    aggregate(
      zip_with(col("codes"), sequence(lit(0), lit(pq.m - 1)),
        (c, j) => element_at(element_at(dtLit, j + 1), c + 1)),
      lit(0.0), (acc, v) => acc + v)
  }

  /** The exact refine shared by the PQ entries: the ADC top rerank·k rows
    * of `adc` (vec_id, adc), reranked by their exact dot with `probe`. */
  private def exactRerank(adc: DataFrame, base: DataFrame, probe: Array[Double],
      k: Int, rerank: Int): DataFrame =
    adc.orderBy(col("adc").desc, col("vec_id")).limit(rerank * k)
      .join(base, "vec_id")
      .withColumn("pvec", typedLit(probe.toSeq))
      .select(col("vec_id"), round(col("adc"), 6).as("adc"),
        round(expr("array_dot(arr, pvec)"), 6).as("dot"))
      .orderBy(col("dot").desc, col("vec_id")).limit(k)

  /** PQ-ADC ANN: fit codebooks on a sample, encode the corpus to m small
    * codes, then answer a probe by ASYMMETRIC DISTANCE COMPUTATION — the
    * probe's per-subspace inner products with every centroid form an
    * m×ksub table, broadcast as a literal, and each row's estimated dot
    * is m table lookups summed in one codegen'd fold (no vector math on
    * the scan side at all). The ADC top `rerank`·k candidates are then
    * reranked with the exact dot product, like [[ivfTopK]]'s refine.
    *
    * This is the 100 TB memory-bound path: the scan touches 16 B/vector
    * (codes) instead of 256 B (floats), the codebooks+table are O(m·ksub)
    * scalars, and the exact refine touches only rerank·k rows. At scale
    * it composes with q53's coarse quantizer (IVF-PQ: cells bound the
    * scan, codes bound its bytes). Approximate → rows-only entry;
    * recall and ADC-consistency gates live in SimilaritySpec. */
  def pqTopK(s: SparkSession, d: String, probeId: Long, k: Int,
      m: Int = 16, ksub: Int = 16, rerank: Int = 8,
      vecsIn: DataFrame = null, modelIn: PqModel = null): DataFrame = {
    val base = corpus(s, d, vecsIn)
    // Serve from a pre-fitted model when provided — the fit-once path;
    // refit only when absent.
    val model = if (modelIn != null) modelIn else fitPq(s, d, m, ksub, vecsIn = vecsIn)
    val probe = probeVec(base, probeId)
    val adc = pqEncode(base, model)
      .filter(col("vec_id") =!= probeId)
      .select(col("vec_id"), adcScore(probe, model).as("adc"))
    exactRerank(adc, base, probe, k, rerank)
  }

  /** Fit the q135 IVF-PQ index: q53's sample-disciplined KMeans coarse
    * quantizer over the raw vectors, then [[fitPq]] over the residuals
    * (assignment via [[nearestCenterUdf]], so refit-vs-reload serving is
    * identical). Returns the persistable [[IvfPqModel]] — the offline half
    * of the fit-once / serve-many production split. */
  def fitIvfPq(s: SparkSession, d: String, nlist: Int = 16, m: Int = 16,
      ksub: Int = 16, vecsIn: DataFrame = null): IvfPqModel = {
    val base = corpus(s, d, vecsIn)
    val vecs = vectorized(base)
    var residuals: DataFrame = null
    try {
      // Coarse quantizer — q53's exact discipline (sample-sized fit).
      val centers = fitCoarse(vecs, nlist).clusterCenters.map(_.toArray)
      val centersLit = typedLit(centers.map(_.toSeq).toSeq)

      // Residuals: arr − center[cell]; `arr` and the center literal are
      // each referenced once (CollapseProject discipline). Cached: the PQ
      // fit's sample/seed/iteration actions each re-execute their input.
      residuals = base
        .withColumn("cell", nearestCenterUdf(centers)(col("arr")))
        .select(col("vec_id"),
          zip_with(col("arr"), element_at(centersLit, col("cell") + 1),
            (x, c) => x - c).as("embedding")).cache()

      // Product quantizer over residuals (fitPq reads `embedding`).
      IvfPqModel(centers, fitPq(s, d, m, ksub, vecsIn = residuals))
    } finally {
      vecs.unpersist()
      if (residuals != null) residuals.unpersist()
      ()
    }
  }

  /** IVF-PQ ANN — the two quantizers COMPOSED into the production index
    * shape: q53's KMeans coarse quantizer bounds WHICH rows a probe scans
    * (nprobe/nlist of the corpus), q134's product quantizer bounds the
    * BYTES each scanned row costs (m codes over the RESIDUAL vector —
    * within-cell offsets are small, so the same ksub centroids spend
    * their resolution where the data actually is). Since ⟨probe, vec⟩ =
    * ⟨probe, center_cell⟩ + ⟨probe, residual⟩, one m×ksub lookup table of
    * probe·residual-codebook inner products serves every cell and the
    * cell adds only a constant term; the scan is a cell-filtered
    * lookup-table fold over `pq_encode`d codes, then the ADC top
    * rerank·k rows are reranked with the exact dot product.
    * Approximate → rows-only entry; recall gates in SimilaritySpec next
    * to q49/q53/q70/q134. */
  def ivfPqTopK(s: SparkSession, d: String, probeId: Long, k: Int,
      nlist: Int = 16, nprobe: Int = 4, m: Int = 16, ksub: Int = 16,
      rerank: Int = 8, vecsIn: DataFrame = null,
      modelIn: IvfPqModel = null): DataFrame = {
    val base = corpus(s, d, vecsIn)
    // Serve from a pre-fitted model when provided; refit only when
    // absent. Serving itself is ONE linear
    // chain over the corpus — assign cell, residual-encode — with no
    // re-attach join (the r8 shape joined codes back to cells; keeping
    // `cell` in the chain drops that shuffle entirely).
    val model = if (modelIn != null) modelIn
      else fitIvfPq(s, d, nlist, m, ksub, vecsIn = vecsIn)
    val centers = model.centers
    val pq = model.pq
    val centersLit = typedLit(centers.map(_.toSeq).toSeq)
    val encoded = base
      .withColumn("cell", nearestCenterUdf(centers)(col("arr")))
      .select(col("vec_id"), col("cell"),
        call_function("pq_encode",
          zip_with(col("arr"), element_at(centersLit, col("cell") + 1),
            (x, c) => x - c),
          pq.codebookLit).as("codes"))

    val probe = probeVec(base, probeId)
    val probedCells = centers.zipWithIndex
      .sortBy { case (c, _) => -dotArr(c, probe) }.take(nprobe).map(_._2)

    // ⟨probe, vec⟩ = ⟨probe, center_cell⟩ + ⟨probe, residual⟩ — so ONE
    // m×ksub lookup table of ⟨probe_sub, residual-codebook⟩ serves every
    // cell (q134's table, probe taken raw), and the cell contributes
    // only the constant ⟨probe, center_cell⟩ term.
    val centerDotLit = typedLit(centers.map(c => dotArr(c, probe)).toSeq)
    val adc = encoded
      .filter(col("cell").isin(probedCells.map(Integer.valueOf): _*) &&
        col("vec_id") =!= probeId)
      .select(col("vec_id"),
        (element_at(centerDotLit, col("cell") + 1) + adcScore(probe, pq)).as("adc"))
    exactRerank(adc, base, probe, k, rerank)
  }

  val specs: Seq[QuerySpec] = Seq(

    // Exact cosine near-dup pairs on a candidate subset — oracle-checked.
    QuerySpec("q47_cosine_pairs",
      (s, d) => {
        val e = withNorm(s, d).filter(col("vec_id") < 100)
        e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
          .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"),
            round(dot("a.embedding", "b.embedding") / (col("a.nrm") * col("b.nrm")), 6)
              .as("cos"))
          .filter(col("cos") >= 0.3)
          .orderBy("a_id", "b_id")
      },
      Some("WITH e AS (SELECT vec_id, embedding, " +
        "sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm " +
        "FROM embeddings WHERE vec_id < 100) " +
        "SELECT a.vec_id AS a_id, b.vec_id AS b_id, " +
        "round(list_sum(list_transform(list_zip(a.embedding, b.embedding), " +
        "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) / (a.nrm * b.nrm), 6) AS cos " +
        "FROM e a JOIN e b ON a.vec_id < b.vec_id " +
        "WHERE list_sum(list_transform(list_zip(a.embedding, b.embedding), " +
        "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) / (a.nrm * b.nrm) >= 0.3 " +
        "ORDER BY a_id, b_id")),

    // Per-label summary stats over the embedding column (count + exact
    // mean of dimension 1) — the cheap cluster-profile aggregation.
    QuerySpec("q48_label_centroids",
      // Decimal-sum mean: exact accumulation, so the result is independent
      // of Spark's partial-aggregation order (double summation isn't).
      (s, d) => Tables(s, d, "embeddings")
        .select(col("label"),
          expr("CAST(element_at(embedding, 1) AS DECIMAL(18,9))").as("d1"))
        .groupBy("label")
        .agg(count(lit(1)).as("n"),
          round(sum(col("d1")).cast("double") / count(lit(1)), 6).as("dim1_mean"))
        .orderBy("label"),
      Some("SELECT label, count(*) AS n, " +
        "round(CAST(sum(CAST(embedding[1] AS DECIMAL(18,9))) AS DOUBLE) / count(*), 6) AS dim1_mean " +
        "FROM embeddings GROUP BY label ORDER BY label")),

    // LSH-bucketed ANN — approximate; recall@10 vs exact q26 asserted in
    // SimilaritySpec, rows-only here.
    QuerySpec("q49_ann_lsh",
      (s, d) => annTopK(s, d, probeId = 0L, k = 10).orderBy(col("dist"), col("vec_id")),
      None,
      gate = Some("property:SimilaritySpec/LSH recall@10 >= 0.6 fixture, >= 0.9 clustered")),

    // IVF-style ANN (KMeans coarse quantizer + exact refine in nprobe
    // cells) — approximate; recall@10 asserted in SimilaritySpec. Serves
    // from the fit-once memoized quantizer (identical results — the fit
    // is seed-deterministic); Bench times the fit separately.
    QuerySpec("q53_ann_ivf",
      (s, d) => ivfTopK(s, d, probeId = 0L, k = 10, modelIn = cachedIvf(s, d, 16)),
      None,
      gate = Some("property:SimilaritySpec/IVF recall@10 >= 0.6 fixture, >= 0.9 clustered")),

    // Batch ANN: every probe's top-10 in ONE bucketed job — approximate;
    // mean recall@10 over sampled probes asserted in SimilaritySpec.
    QuerySpec("q70_ann_batch",
      (s, d) => annBatchTopK(s, d, k = 10, probeLimit = 100L),
      None,
      gate = Some("property:SimilaritySpec/batch mean recall@10 >= 0.6 fixture, >= 0.9 clustered")),

    QuerySpec("q91_semantic_dedup",
      (s, d) => semanticDedup(s, d, tau = 0.92),
      None,
      gate = Some("property:SimilaritySpec/planted tight trio collapses to lowest id")),

    // Product-quantization ANN (ADC scan over 16-code rows + exact
    // rerank) — approximate; recall + ADC-consistency gates in
    // SimilaritySpec, rows-only here.
    QuerySpec("q134_pq_adc",
      (s, d) => pqTopK(s, d, probeId = 0L, k = 10, modelIn = cachedPq(s, d)),
      None,
      gate = Some("property:SimilaritySpec/PQ recall + ADC-consistency; PqEncodeSpec parity")),

    // IVF-PQ ANN: both quantizers composed (cells bound the rows a probe
    // scans, residual codes bound the bytes per row) — approximate;
    // recall gates in SimilaritySpec, rows-only here.
    QuerySpec("q135_ann_ivfpq",
      (s, d) => ivfPqTopK(s, d, probeId = 0L, k = 10, nlist = 8, nprobe = 4,
        modelIn = cachedIvfPq(s, d, 8)),
      None,
      gate = Some("property:SimilaritySpec/IVF-PQ recall@10")),

    // Hard-negative mining — the contrastive-training pair generator:
    // for each anchor, the highest-cosine SAME-label vector (positive)
    // and the highest-cosine DIFFERENT-label vector (the "hard" negative
    // that actually teaches the margin). Anchors are a bounded probe set
    // broadcast against the corpus (q26's no-shuffled-cartesian shape);
    // at 100 TB the candidate set comes from the q70 bucket join instead
    // of the full corpus and this exact ranking runs unchanged as the
    // refine step. Cosines are rounded to 6 dp BEFORE ranking with a
    // vec_id tie-break, so the argmax is stable across engines.
    QuerySpec("q105_hard_negatives",
      (s, d) => {
        val base = Tables(s, d, "embeddings")
          .select(col("vec_id"), col("label"), col("embedding"),
            sqrt(dot("embedding", "embedding")).as("nrm"))
        val anchors = base.filter(col("vec_id") < 50)
          .select(col("vec_id").as("a_id"), col("label").as("a_label"),
            col("embedding").as("a_emb"), col("nrm").as("a_nrm"))
        val pairs = base.join(broadcast(anchors), col("vec_id") =!= col("a_id"))
          .withColumn("cos",
            round(expr("array_dot(embedding, a_emb)") / (col("nrm") * col("a_nrm")), 6))
          .withColumn("same", (col("label") === col("a_label")).cast("int"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("a_id", "same").orderBy(col("cos").desc, col("vec_id"))
        pairs.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .groupBy("a_id")
          .agg(max(when(col("same") === 1, col("vec_id"))).as("pos_id"),
            max(when(col("same") === 1, col("cos"))).as("pos_cos"),
            max(when(col("same") === 0, col("vec_id"))).as("neg_id"),
            max(when(col("same") === 0, col("cos"))).as("neg_cos"))
          .orderBy("a_id")
      },
      Some("WITH e AS (SELECT vec_id, label, embedding, " +
        "sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm " +
        "FROM embeddings), " +
        "a AS (SELECT * FROM e WHERE vec_id < 50), " +
        "p AS (SELECT a.vec_id AS a_id, e.vec_id AS v_id, " +
        "CASE WHEN e.label = a.label THEN 1 ELSE 0 END AS same, " +
        "round(list_sum(list_transform(list_zip(e.embedding, a.embedding), " +
        "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) / (e.nrm * a.nrm), 6) AS cos " +
        "FROM e JOIN a ON e.vec_id <> a.vec_id), " +
        "r AS (SELECT *, row_number() OVER (PARTITION BY a_id, same " +
        "ORDER BY cos DESC, v_id) AS rn FROM p) " +
        "SELECT a_id, max(CASE WHEN same = 1 THEN v_id END) AS pos_id, " +
        "max(CASE WHEN same = 1 THEN cos END) AS pos_cos, " +
        "max(CASE WHEN same = 0 THEN v_id END) AS neg_id, " +
        "max(CASE WHEN same = 0 THEN cos END) AS neg_cos " +
        "FROM r WHERE rn = 1 GROUP BY a_id ORDER BY a_id")),

    // Int8 scalar quantization — the 4x storage/bandwidth reduction pass
    // run before shipping embeddings to an ANN index. Symmetric global
    // scale (corpus max-|x|, a one-scalar aggregate broadcast back), then
    // per-row HOF quantize + exact reconstruction error via a left-fold
    // sum (list_reduce on the oracle side — same summation order, so the
    // doubles match bit-for-bit). Linear scan, no shuffle of the vectors.
    QuerySpec("q78_embedding_quantize",
      (s, d) => withInt8Scale(s, d)
        .withColumn("q", expr(
          "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 127.0 / m, 0) AS INT))"))
        .select(col("vec_id"),
          expr("array_min(q)").as("q_min"), expr("array_max(q)").as("q_max"),
          expr("round(aggregate(zip_with(embedding, q, " +
            "(x, qi) -> pow(CAST(x AS DOUBLE) - qi * m / 127.0, 2)), " +
            "CAST(0.0 AS DOUBLE), (a, e) -> a + e), 10)").as("err"))
        .orderBy("vec_id").limit(200),
      Some("WITH m AS (SELECT max(list_max(list_transform(embedding, " +
        "x -> abs(CAST(x AS DOUBLE))))) AS m FROM embeddings), " +
        "q AS (SELECT vec_id, embedding, m.m, list_transform(embedding, " +
        "x -> CAST(round(CAST(x AS DOUBLE) * 127.0 / m.m, 0) AS INT)) AS q " +
        "FROM embeddings CROSS JOIN m) " +
        "SELECT vec_id, list_min(q) AS q_min, list_max(q) AS q_max, " +
        "round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
        "list_transform(generate_series(1, len(embedding)), " +
        "i -> pow(CAST(embedding[i] AS DOUBLE) - q[i] * m / 127.0, 2))), " +
        "(a, e) -> a + e), 10) AS err " +
        "FROM q ORDER BY vec_id LIMIT 200")),

    QuerySpec("q79_embedding_quantize_reconstruct",
      // Round-trip check of the same quantization as an aggregate: corpus
      // MSE and the worst per-vector error — the acceptance metric a
      // pipeline actually gates deployment on. Shares q78's arithmetic.
      (s, d) => withInt8Scale(s, d)
        .select(expr("round(aggregate(transform(embedding, " +
          "x -> pow(CAST(x AS DOUBLE) - CAST(round(CAST(x AS DOUBLE) * 127.0 / m, 0) AS INT) * m / 127.0, 2)), " +
          "CAST(0.0 AS DOUBLE), (a, e) -> a + e) / size(embedding), 12)").as("mse"))
        .agg(count(lit(1)).as("n_vecs"),
          max(col("mse")).as("worst_mse"),
          // decimal-cast before the cross-partition sum: double += is
          // order-sensitive, decimal is exact (repo oracle rule)
          sum(col("mse").cast("decimal(28,14)")).cast("double").as("sum_mse")),
      Some("WITH m AS (SELECT max(list_max(list_transform(embedding, " +
        "x -> abs(CAST(x AS DOUBLE))))) AS m FROM embeddings), " +
        "e AS (SELECT round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
        "list_transform(embedding, " +
        "x -> pow(CAST(x AS DOUBLE) - CAST(round(CAST(x AS DOUBLE) * 127.0 / m.m, 0) AS INT) * m.m / 127.0, 2))), " +
        "(a, e) -> a + e) / len(embedding), 12) AS mse FROM embeddings CROSS JOIN m) " +
        "SELECT count(*) AS n_vecs, max(mse) AS worst_mse, " +
        "CAST(sum(CAST(mse AS DECIMAL(28,14))) AS DOUBLE) AS sum_mse FROM e"))
  )
}
