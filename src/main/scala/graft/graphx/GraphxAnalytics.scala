package graft.graphx

import graft.snap.EgoGraphs
import org.apache.spark.graphx.{Graph, PartitionStrategy, TripletFields, VertexId}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** GraphX library analytics (SURVEY §2.2 row 45 — the stretch beyond the
  * reference's own surface): connected components of the FRIEND-only
  * graphs (without the ego center every network is no longer trivially
  * connected) and PageRank over G⁺.
  *
  * All ten ego networks run as ONE GraphX job: vertex ids are composited
  * as `egoIndex * OFFSET + snapNodeId` (SNAP ids are small numerics and
  * the ego never appears in `.edges`), so per-ego graphs stay disjoint in
  * a single union graph.
  */
object GraphxAnalytics {

  private val Offset = 100000000L
  val egoOrder: Seq[String] =
    Seq("0", "107", "1684", "1912", "3437", "348", "3980", "414", "686", "698")

  /** Composite-id edge RDD, ONE tuple per undirected pair, built entirely
    * on the executors (the spoke dedup is a distributed `distinct`, the
    * id compositing a map over the DataFrame's row RDD — no edge ever
    * touches the driver, so this survives a 100× edge count unchanged).
    * Ego center gets in-network id Offset-1 (never a SNAP node id). */
  private[graphx] def compositeEdges(s: SparkSession, dataDir: String,
      egos: Seq[String], withEgoCenter: Boolean): RDD[(VertexId, VertexId)] = {
    val idx = egos.zipWithIndex.toMap
    val e = EgoGraphs.load(s, dataDir).edges
      .filter(col("ego").isin(egos: _*))
      .select(col("ego"),
        col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
    val withSpokes =
      if (!withEgoCenter) e
      else {
        val members = e.select(col("ego"), col("src").as("n"))
          .unionByName(e.select(col("ego"), col("dst").as("n"))).distinct()
        e.unionByName(
          members.select(col("ego"), lit(-1L).as("src"), col("n").as("dst")))
      }
    // Cached across the sizing count AND the downstream graph build —
    // uncached, the text parse + dedup lineage ran twice per call (r13:
    // the second scan was a fixed tax on every g07–g12 invocation). The
    // handful-of-KB cache is held by the returned RDD's lineage and
    // reclaimed by the ContextCleaner when the result is GC'd — the same
    // contract as pagerankFixed's cached output frame. Repeated bench
    // invocations therefore drift the persistent-RDD count up by one
    // small entry each until the cleaner runs (ADVICE r13) — bounded by
    // GC cadence, and deliberately NOT memoized per (dataDir, egos): a
    // memo would make the g07–g12 bench medians measure a warm-cache
    // path the entry's first caller never sees.
    val tuples = withSpokes.rdd.map { r =>
      val i = idx(r.getString(0))
      def vid(n: Long): VertexId = i * Offset + (if (n == -1L) Offset - 1 else n)
      (vid(r.getLong(1)), vid(r.getLong(2)))
    }.cache()
    // Right-size partitions to edge VOLUME before anything iterates:
    // GraphX pays per-partition task scheduling on every Pregel round, so
    // a toy-sized graph spread over the full shuffle grid spends more on
    // near-empty tasks than on data (measured: CC over the ten-ego union
    // runs ~2x faster on volume-sized partitions). ~50k edges/partition,
    // never exceeding the inherited parallelism — a 100 TB edge list
    // keeps every partition of the grid.
    val parts = math.max(2,
      math.min(tuples.getNumPartitions, (tuples.count() / 50000L).toInt + 1))
    tuples.coalesce(parts)
  }

  /** The ten-ego G⁺ union as composite-id edge tuples (ONE tuple per
    * undirected pair, ego spokes included) — the public seed for
    * tools.GraphScale's derived large graph. */
  def unionEdgeTuples(s: SparkSession, dataDir: String): RDD[(VertexId, VertexId)] =
    compositeEdges(s, dataDir, egoOrder, withEgoCenter = true)

  private def friendGraph(s: SparkSession, dataDir: String,
      egos: Seq[String], withEgoCenter: Boolean): Graph[Unit, Int] = {
    // Undirected semantics: materialize both directions (PageRank follows
    // edge direction; CC would not care, but symmetry is harmless there).
    val tuples = compositeEdges(s, dataDir, egos, withEgoCenter)
      .flatMap(t => Iterator(t, t.swap))
    Graph.fromEdgeTuples(tuples, ())
      .partitionBy(PartitionStrategy.EdgePartition2D)
  }

  /** Stress centrality (g07/g10) over the composite union graph G⁺ of the
    * given egos, distributed end-to-end: edge build, BFS path counting and
    * the σ-combination all stay on the executors. Ego centers are interior
    * but never counted (the reference counts friends only).
    *
    * `batchSize = Some(b)` routes through the Brandes-style source-batched
    * implementation (O(b) per-vertex state — the general-graph scale path)
    * instead of the all-pairs join form; both are gated by the same
    * closed-form oracle. */
  def egoStress(s: SparkSession, dataDir: String, egos: Seq[String],
      batchSize: Option[Int] = None): DataFrame = {
    val edges = compositeEdges(s, dataDir, egos, withEgoCenter = true)
    val countable = (vid: VertexId) => vid % Offset != Offset - 1
    val raw = batchSize match {
      case Some(b) => StressCentrality.batchedStress(s, edges, countable, b)
      case None => StressCentrality.stress(s, edges, countable)
    }
    raw
      .select(element_at(typedLit(egos), expr(s"CAST(id div $Offset AS INT)") + 1).as("ego"),
        (col("id") % Offset).cast("string").as("name"), col("centrality"))
      .orderBy("ego", "name")
  }

  /** Above this many undirected pairs [[componentLabels]] routes CC
    * through star contraction instead of GraphX label propagation (the
    * [[LazyChainMaxNodes]] regime-split pattern applied to CC). Below it
    * GraphX's per-round constant is small and social-shaped fixtures
    * converge in ≤~11 rounds, while star contraction's relational rounds
    * each pay hash-aggs + joins + a localCheckpoint of scheduler
    * overhead (~0.2-0.5 s on KB-sized data); above it the log-round,
    * diameter-independent star shape wins — 13× at 22.3M pairs / 1M
    * nodes (47 s vs GraphX's 608 s, GRAPH_SCALE_r14), unboundedly more
    * on long-diameter data. The threshold is VOLUME-based, so the
    * GraphX branch additionally caps its rounds at [[GraphxCcMaxRounds]]
    * and finishes any still-unconverged region on star contraction —
    * a small-but-deep graph (a 100k-node path) is bounded-rounds here
    * too, not diameter-bound (r15 verdict item 2). */
  private[graft] val GraphxCcMaxPairs = 1000000L

  /** Round cap for the GraphX branch of [[componentLabels]]: label
    * propagation pays one synchronized Pregel round per hop of component
    * eccentricity, so an uncapped run on a small-but-deep graph (a
    * 100k-node path is well under [[GraphxCcMaxPairs]]) would schedule
    * one round per hop. Social-shaped fixtures converge in ≤~11 rounds,
    * so 25 never triggers for them; a graph still unconverged at the cap
    * has every label region already ≥cap hops wide, and the star finish
    * runs on the CONTRACTED label graph, not the input. */
  private[graft] val GraphxCcMaxRounds = 25

  /** (id, label = component-min vertex id) for an undirected pair RDD,
    * regime-routed per [[GraphxCcMaxPairs]]; returns the labels (cached
    * and materialized — ContextCleaner reclaims them when the frame is
    * GC'd, the pagerankFixed contract) and the branch taken ("graphx" |
    * "star"). Both branches produce IDENTICAL labels (component-min ids;
    * StarComponentsSpec and GRAPH_SCALE_r14's 1M-node `starcc_check`
    * pin it), so the route is behavior-invisible — only the
    * round/shuffle shape changes. One
    * tuple per undirected pair suffices on both branches: GraphX CC
    * propagates min labels along BOTH triplet directions, and star
    * contraction symmetrizes internally.
    *
    * Diameter robustness (r15 verdict item 2): the GraphX branch caps
    * label propagation at [[GraphxCcMaxRounds]] Pregel rounds, then
    * checks true convergence (every edge joins equal labels — one
    * triplets pass). A still-unconverged graph finishes on star
    * contraction over the LABEL GRAPH — the edges (label(u), label(v))
    * of the unconverged regions. That composition is exact: after k
    * capped rounds label(v) = min id within k hops, so every label is a
    * vertex id of its own component, the component-min vertex m always
    * keeps label m, label-graph connectivity equals component
    * connectivity restricted to label values, and the star root of any
    * label is therefore exactly m; labels in already-converged
    * components never appear in the label graph and pass through
    * unchanged. Branch tags: "graphx" (converged under the cap),
    * "graphx+star" (cap hit, star finish), "star" (volume route).
    *
    * Input cache contract (ADVICE r15): an UNPERSISTED `pairs` is cached
    * here for the route count + the CC passes and released before
    * returning; a pair RDD the CALLER already persisted is left exactly
    * as it was (previously it was silently unpersisted, stealing the
    * caller's cache). Note one side effect of the routing count: a
    * caller-persisted-but-not-yet-materialized input pays its full
    * lineage here, and that materialization lands in the CALLER's cache. */
  def componentLabels(s: SparkSession, pairs: RDD[(VertexId, VertexId)])
      : (DataFrame, String) = {
    val (labels, branch, _) = componentLabelsWithStats(s, pairs)
    (labels, branch)
  }

  /** [[componentLabels]] plus the [[StarComponents.StarStats]] of any
    * star-contraction leg taken (None on the pure "graphx" branch) and
    * a per-star-round wall callback passed through to
    * [[StarComponents.runWithStats]] — the at-scale tools record star
    * rounds / peak group / guard-trip index in their artifacts through
    * this (r17 verdict item 7: the 1e7 super-hub threshold accumulates
    * observed headroom data for free on every star-routed run). */
  def componentLabelsWithStats(s: SparkSession, pairs: RDD[(VertexId, VertexId)],
      onRound: (String, Double) => Unit = (_, _) => ())
      : (DataFrame, String, Option[StarComponents.StarStats]) = {
    import s.implicits._
    val callerCached = pairs.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE
    val cached = if (callerCached) pairs else pairs.cache()
    // Narrow over the caller's cache or this one (see the contract note
    // above for the caller-persisted-but-unmaterialized case).
    val n = cached.count()
    val (labels0, branch, spill, stats) =
      if (n <= GraphxCcMaxPairs) {
        val ccg = Graph.fromEdgeTuples(cached, ())
          .partitionBy(PartitionStrategy.EdgePartition2D)
          .connectedComponents(GraphxCcMaxRounds)
        val base = ccg.vertices.toDF("id", "label")
        // Label-graph edges of any UNCONVERGED region: empty ⟺ the cap
        // was enough (the usual case — social-shaped graphs converge in
        // ≤~11 rounds); non-empty becomes the star finish's input, one
        // edge per label-region boundary pair.
        val labelEdges = ccg.triplets
          .flatMap(t => if (t.srcAttr != t.dstAttr)
            Iterator((t.srcAttr, t.dstAttr)) else Iterator.empty)
          .cache()
        if (labelEdges.isEmpty()) (base, "graphx", Some(labelEdges), None)
        else {
          val (rootLabels, st) = StarComponents.runWithStats(
            s, labelEdges.toDF("u", "v"), onRound = onRound)
          val roots = rootLabels
            .select(col("id").as("lbl"), col("label").as("root"))
          val composed = base.join(roots, base("label") === roots("lbl"), "left")
            .select(col("id"), coalesce(col("root"), col("label")).as("label"))
          (composed, "graphx+star", Some(labelEdges), Some(st))
        }
      } else {
        val (labels, st) = StarComponents.runWithStats(
          s, cached.toDF("u", "v"), onRound = onRound)
        (labels, "star", None, Some(st))
      }
    val labels = labels0.cache()
    labels.count()
    spill.foreach(_.unpersist(blocking = false))
    if (!callerCached) cached.unpersist(blocking = false)
    (labels, branch, stats)
  }

  /** (egoIdx-decoded) component stats from a composite-id label frame. */
  private def componentStatsOf(labels: DataFrame, egos: Seq[String]): DataFrame =
    labels
      .groupBy((col("id") / Offset).cast("int").as("egoIdx"), col("label"))
      .agg(count(lit(1)).as("sz"))
      .groupBy("egoIdx")
      .agg(count(lit(1)).as("n_components"), max("sz").as("largest"))
      .select(element_at(typedLit(egos), col("egoIdx") + 1).as("ego"),
        col("n_components"), col("largest"))
      .orderBy("ego")

  /** (ego, n_components, largest) of the friend-only graph — the
    * PRODUCTION CC entry, regime-routed via [[componentLabels]]: the
    * ego fixtures take the GraphX branch, a ≥1M-pair graph takes star
    * contraction (GraphScale's g08 phase asserts it did). */
  def componentStats(s: SparkSession, dataDir: String, egos: Seq[String]): DataFrame = {
    val pairs = compositeEdges(s, dataDir, egos, withEgoCenter = false)
    val (labels, _) = componentLabels(s, pairs)
    componentStatsOf(labels, egos)
  }

  /** (ego, n_components, largest) of the friend-only graph via
    * STAR-CONTRACTION CC ([[StarComponents]]) UNCONDITIONALLY — the
    * log-round, diameter-independent relational path, oracled by the
    * SAME DuckDB reachability closure as [[componentStats]] (g13 vs g08:
    * the two CC implementations must agree under the driver's gate, the
    * g07/g10 dual-implementation discipline; at 1M nodes star
    * contraction took 5 rounds / 47 s vs GraphX label propagation's
    * 608 s, GRAPH_SCALE_r14.json `starcc_check`). The
    * toy wall this entry pays at ego scale is per-round scheduler cost
    * (one probe-materialized lazy checkpoint action per round on
    * KB-sized data), not data volume — it is the price of keeping the
    * at-scale shape exercised under the oracle gate every round; the
    * routed g08 entry is what production callers get at this size. */
  def componentStatsStar(s: SparkSession, dataDir: String, egos: Seq[String]): DataFrame = {
    import s.implicits._
    val pairs = compositeEdges(s, dataDir, egos, withEgoCenter = false).toDF("u", "v")
    componentStatsOf(StarComponents.run(s, pairs), egos)
  }

  /** (name, rank) — personalized PageRank on one ego's friend-only graph
    * from its minimum node id: random walks teleport back to the SOURCE
    * instead of everywhere, so rank measures proximity to it — the
    * "related accounts" / local-relevance primitive. Deterministic source
    * choice (min vertex id), fixed iterations; no SQL oracle (iterative
    * personalized mass distribution) — invariants are pinned in
    * GraphxAnalyticsSpec: the source dominates, ranks are non-negative,
    * and mass stays strictly inside the source's connected component. */
  def personalizedRanks(s: SparkSession, dataDir: String, ego: String,
      iters: Int = 10): DataFrame = {
    import s.implicits._
    val g = friendGraph(s, dataDir, Seq(ego), withEgoCenter = false)
    val src = g.vertices.map(_._1).min()
    val pr = g.staticPersonalizedPageRank(src, iters).vertices
      .map { case (vid, r) => ((vid % Offset).toString, r) }
    pr.toDF("name", "rank")
      .select(col("name"), round(col("rank"), 6).as("rank"))
      .orderBy("name")
  }

  /** Fixed-point scale for [[pagerankFixed]] / [[personalizedRankFixed]]:
    * ranks are BIGINT multiples of 1e-12. Integer addition is associative
    * and integer division truncates identically in every engine, so a
    * fixed-iteration power iteration in this representation is BIT-EXACT
    * reproducible — the property that lets g09/g12 carry full DuckDB
    * oracles (unrolled-CTE power iteration) instead of rows-only checks,
    * where double arithmetic would drift with summation order. */
  val RankScale = 1000000000000L
  private val RankReset = 15L * RankScale / 100L

  /** ENFORCED form of the fixed-point magnitude bound (r11 verdict item
    * 4 — previously Scaladoc prose, silent Long overflow past it): total
    * rank mass is conserved at ≤ nodeCount·scale, every aggregated
    * message is ≤ that mass, and the update multiplies by 85 — so
    * `100·nodeCount·scale` (margin over 85) must fit in a Long. At the
    * default scale (1e-12 fixed point) that admits ~9.2e4 nodes; each
    * dropped scale digit buys a 10× larger graph. */
  private[graphx] def requireFixedPointBounds(nodeCount: Long,
      scale: Long = RankScale): Unit = {
    val maxNodes = Long.MaxValue / 100L / scale
    require(nodeCount <= maxNodes,
      s"fixed-point PageRank overflow risk: $nodeCount nodes at scale $scale " +
        s"admits at most $maxNodes nodes (85·Σranks ≤ 85·n·scale must stay in " +
        "Long range) — drop a RankScale digit per 10× node count")
  }

  /** Below this node count [[iterateFixed]] runs the whole fixed-iteration
    * chain LAZILY — one materializing job at the end instead of a
    * barrier job per round. The barrier exists to stop cross-stage
    * recompute of the narrow vertex/edge-view chains, whose cost is
    * O(iters²·E) row-zips reading from shuffle files; below ~50k nodes
    * (E ≲ 1M on social-shaped graphs) that is milliseconds, while each
    * barrier is a full job-scheduling round trip — measured as the r12
    * g09/g12 regression (~11 jobs × ~25 ms on the ego fixtures, median
    * 0.70 → 0.97 s). Above the threshold the per-round Pregel discipline
    * is the scale-correct shape and its job overhead is noise. */
  private[graphx] val LazyChainMaxNodes = 50000L

  /** One fixed-point power-iteration round: messages are
    * `rank div outdeg` along each directed edge, summed exactly as Longs
    * on the executors (aggregateMessages — map-side combined, no driver
    * state), then `reset(v) + (85·msg) div 100`. Magnitude bound: msg ≤
    * Σranks ≤ N·scale, so 85·msg stays in Long range while
    * [[requireFixedPointBounds]] holds — at a larger graph the `scale`
    * knob drops a digit per 10× node count.
    *
    * Cache discipline (ADVICE r11, rebalanced r13): in BOTH regimes at
    * most TWO graphs are ever cached mid-loop.
    *  - ≤ [[LazyChainMaxNodes]]: only round 0 is cached; the rounds chain
    *    lazily and ONE job at the end materializes the final graph's
    *    vertices (intermediate rounds live in that job's shuffle files,
    *    reclaimed by the ContextCleaner), then round 0 is released.
    *  - above it: GraphX's own Pregel pattern — each round's messages are
    *    cached and counted (which materializes the current graph's edge
    *    view), and only THEN are the predecessor round's
    *    vertices/edges/messages released, so nothing unpersisted is ever
    *    recomputed.
    *
    * @return the final-round graph, cached, with its VERTICES
    *         materialized — and only its vertices: the edge view is not
    *         forced, so a caller touching `.edges` (e.g. a further
    *         aggregateMessages pass) would recompute it from the
    *         still-available shuffle outputs (lazy regime) or from the
    *         base graph (barrier regime, where the predecessor's edge
    *         cache is already released). Callers read vertices once and
    *         `unpersist()` the graph; none touch edges. */
  private def iterateFixed(g0: Graph[Unit, Int], iters: Int,
      reset: VertexId => Long, init: VertexId => Long,
      scale: Long = RankScale): Graph[(Long, Long), Int] = {
    val rg0: Graph[(Long, Long), Int] = g0.outerJoinVertices(g0.outDegrees) {
      (vid, _, d) => (math.max(d.getOrElse(0).toLong, 1L), init(vid))
    }.cache()
    // Counting the CACHED graph's vertices both enforces the bound and
    // materializes round 0 — no separate pass over the uncached base.
    val nodes = rg0.vertices.count()
    requireFixedPointBounds(nodes, scale)
    if (iters <= 0) return rg0
    // `send` reads ONLY srcAttr, so the per-round vertex ship into the
    // edge partitions is declared TripletFields.Src: GraphX's
    // ReplicatedVertexView then ships each round's updated (deg, rank)
    // to the src-replica positions only, instead of src AND dst — the
    // same declaration staticPageRank makes. Bit-identical results (the
    // declaration only bounds what is shipped); Src won both same-JVM
    // A/B sessions against All at 1M nodes (GRAPH_SCALE_r15.json
    // `pagerank_ab`).
    val send = (ctx: org.apache.spark.graphx.EdgeContext[(Long, Long), Int, Long]) =>
      ctx.sendToDst(ctx.srcAttr._2 / ctx.srcAttr._1)
    if (nodes <= LazyChainMaxNodes) {
      // Lazy chain: no per-round action — a FIXED-iteration loop has no
      // convergence test to run, so nothing needs the barrier. Every
      // aggregateMessages / vertex-ship shuffle inside the one job below
      // is written once and re-read from shuffle files by later stages.
      var rg = rg0
      var i = 0
      while (i < iters) {
        val msgs = rg.aggregateMessages[Long](send, _ + _, TripletFields.Src)
        rg = rg.outerJoinVertices(msgs) { case (vid, (d, _), m) =>
          (d, reset(vid) + 85L * m.getOrElse(0L) / 100L)
        }
        i += 1
      }
      rg.cache()
      rg.vertices.count() // the single materializing job for all rounds
      rg0.unpersistVertices(blocking = false)
      rg0.edges.unpersist(blocking = false)
      rg
    } else {
      var rg = rg0
      var msgs = rg.aggregateMessages[Long](send, _ + _, TripletFields.Src).cache()
      msgs.count() // forces + caches rg's edges before the first join
      var i = 0
      while (i < iters) {
        val prev = rg
        val prevMsgs = msgs
        rg = prev.outerJoinVertices(msgs) { case (vid, (d, _), m) =>
          (d, reset(vid) + 85L * m.getOrElse(0L) / 100L)
        }.cache()
        if (i + 1 < iters) {
          // Next round's messages force + cache the new graph's edge view
          // (derived from prev's edge partitions) before prev is released.
          msgs = rg.aggregateMessages[Long](send, _ + _, TripletFields.Src).cache()
          msgs.count()
        } else {
          rg.vertices.count() // final round: callers read vertices only
        }
        prev.unpersistVertices(blocking = false)
        prev.edges.unpersist(blocking = false)
        prevMsgs.unpersist(blocking = false)
        i += 1
      }
      rg
    }
  }

  /** (ego, name, rank_fp) — deterministic PageRank over G⁺ in fixed-point
    * integer arithmetic (rank_fp = rank · 1e12, 10 iterations, reset
    * 0.15). Engine-independent by construction (see [[RankScale]]), so
    * g09 hash-matches a DuckDB unrolled power-iteration oracle.
    * Cross-validated against the double-arithmetic library
    * [[pageranks]] in GraphxAnalyticsSpec. */
  def pagerankFixed(s: SparkSession, dataDir: String, egos: Seq[String],
      iters: Int = 10): DataFrame = {
    import s.implicits._
    val g = friendGraph(s, dataDir, egos, withEgoCenter = true)
    val rg = iterateFixed(g, iters, _ => RankReset, _ => RankScale)
    // Materialize the (ego-network-sized) output, then release the final
    // iteration's cached graph — same contract as DedupSuite.dedupClusters
    // (the ContextCleaner reclaims the small cached DF when it's GC'd).
    val out = rg.vertices
      .map { case (vid, (_, r)) =>
        val i = (vid / Offset).toInt
        val n = vid % Offset
        (i, if (n == Offset - 1) "ego" else n.toString, r)
      }
      .toDF("egoIdx", "name", "rank_fp")
      .select(element_at(typedLit(egos), col("egoIdx") + 1).as("ego"),
        col("name"), col("rank_fp"))
      .orderBy("ego", "name")
      .cache()
    out.count()
    rg.unpersist(blocking = false)
    out
  }

  /** (name, rank_fp) — deterministic PERSONALIZED PageRank on one ego's
    * friend-only graph from its minimum node id, fixed-point (teleport
    * mass returns to the SOURCE only; nodes outside the source's
    * component stay at exactly 0). Same bit-exact contract as
    * [[pagerankFixed]]; g12's DuckDB oracle unrolls the same iteration. */
  def personalizedRankFixed(s: SparkSession, dataDir: String, ego: String,
      iters: Int = 10): DataFrame = {
    import s.implicits._
    val g = friendGraph(s, dataDir, Seq(ego), withEgoCenter = false)
    val src = g.vertices.map(_._1).min()
    val rg = iterateFixed(g, iters,
      reset = vid => if (vid == src) RankReset else 0L,
      init = vid => if (vid == src) RankScale else 0L)
    val out = rg.vertices
      .map { case (vid, (_, r)) => ((vid % Offset).toString, r) }
      .toDF("name", "rank_fp")
      .orderBy("name")
      .cache()
    out.count()
    rg.unpersist(blocking = false)
    out
  }

  /** Fixed-point PageRank over an ARBITRARY directed edge-tuple RDD —
    * the scale entry point (tools.GraphScale runs it on a ≥1M-node
    * derived graph). Same bit-exact iteration as [[pagerankFixed]], with
    * the `scale` knob explicit: [[requireFixedPointBounds]] enforces
    * nodeCount·scale·100 ≤ Long.MaxValue, so a 1M-node graph runs at
    * scale = 1e10 (rank_fp = rank·1e10). Returns (id, rank_fp),
    * materialized; the iteration graph is released before returning. */
  def pagerankFixedEdges(s: SparkSession, edges: RDD[(VertexId, VertexId)],
      iters: Int, scale: Long): DataFrame = {
    import s.implicits._
    val g = Graph.fromEdgeTuples(edges, ())
      .partitionBy(PartitionStrategy.EdgePartition2D)
    val rg = iterateFixed(g, iters,
      reset = _ => 15L * scale / 100L, init = _ => scale, scale = scale)
    val out = rg.vertices.map { case (vid, (_, r)) => (vid, r) }
      .toDF("id", "rank_fp").cache()
    out.count()
    rg.unpersist(blocking = false)
    out
  }

  /** Fixed-point PERSONALIZED PageRank over an arbitrary directed
    * edge-tuple RDD from an explicit source — the scale sibling of
    * [[personalizedRankFixed]]. */
  def personalizedRankFixedEdges(s: SparkSession, edges: RDD[(VertexId, VertexId)],
      src: VertexId, iters: Int, scale: Long): DataFrame = {
    import s.implicits._
    val g = Graph.fromEdgeTuples(edges, ())
      .partitionBy(PartitionStrategy.EdgePartition2D)
    val rg = iterateFixed(g, iters,
      reset = vid => if (vid == src) 15L * scale / 100L else 0L,
      init = vid => if (vid == src) scale else 0L, scale = scale)
    val out = rg.vertices.map { case (vid, (_, r)) => (vid, r) }
      .toDF("id", "rank_fp").cache()
    out.count()
    rg.unpersist(blocking = false)
    out
  }

  /** (ego, name, rank) — static PageRank over G⁺ (ego spokes included). */
  def pageranks(s: SparkSession, dataDir: String, egos: Seq[String],
      iters: Int = 10): DataFrame = {
    import s.implicits._
    val pr = friendGraph(s, dataDir, egos, withEgoCenter = true)
      .staticPageRank(iters).vertices
      .map { case (vid, rank) =>
        val i = (vid / Offset).toInt
        val n = vid % Offset
        (i, if (n == Offset - 1) "ego" else n.toString, rank)
      }
    pr.toDF("egoIdx", "name", "rank")
      .select(element_at(typedLit(egos), col("egoIdx") + 1).as("ego"),
        col("name"), round(col("rank"), 6).as("rank"))
      .orderBy("ego", "name")
  }
}
