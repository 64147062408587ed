package graft.snap

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference's four analytics + hypothesis proof, re-expressed as
  * single set-oriented Spark jobs. Formulas are the golden-verified
  * contract from SURVEY.md §2.3 (each validated bit-exact against
  * `/root/reference/output/{0,107}.*`).
  *
  * The reference issues ONE Cypher round trip per friend for clustering
  * (`/root/reference/src/main.js:90-104` — 1034 HTTP calls for ego 107)
  * and one per edge line for dedup; every operator here is one shuffle-
  * bounded DataFrame job over all ten ego networks at once.
  */
object GraphAnalytics {

  /** Symmetric closure of the friend-friend edge set: (ego, v, u). */
  def adjacency(edges: DataFrame): DataFrame =
    edges.select(col("ego"), col("src").as("v"), col("dst").as("u"))
      .unionByName(edges.select(col("ego"), col("dst").as("v"), col("src").as("u")))

  /** k-core decomposition of the friend-only graphs: iteratively peel
    * every node with degree < k until a fixpoint — the standard
    * community-density filter. Runs as AT MOST `rounds` relational peel
    * passes so the semantics stay oracle-expressible as an unrolled SQL
    * pipeline; the fixture's ten egos converge in ≤5 rounds (validated),
    * so rounds=8 IS the fixpoint there, and extra rounds past convergence
    * are no-ops by construction.
    *
    * Each round removes the DEAD node set (degree < k) via two anti-joins
    * rather than keeping the alive set via semi-joins — set-identical per
    * round (every adjacency row's endpoint has a degree, so dropping
    * dead-endpoint rows ≡ keeping alive-endpoint rows), but the dead set
    * is SMALL after the first round (only nodes newly dragged under k),
    * while the keep set is node-count-sized forever. `dead` is cached and
    * counted before the joins, so its in-memory stats let Spark broadcast
    * it: the big adjacency is never shuffled by the joins — each round
    * costs ONE full-volume exchange (the degree hash-agg) instead of the
    * three the semi-join form paid (AQE-final plans probed at a
    * 1M-node/44.6M-edge derived graph: the keep semi-joins stay SMJ —
    * the keep set exceeds the broadcast threshold — while the dead
    * anti-joins broadcast; see GRAPH_SCALE_r14 kcore_plan_probe). The
    * exchange-count reduction is the CLUSTER claim, where exchanges are
    * network-bound; on local[32] the two forms are WALL-EQUIVALENT (two
    * same-JVM A/B sessions, 8 samples, GRAPH_SCALE_r14.json `kcore_ab`
    * and bench/results-2026-08-15-r15.md: each arm spreads ~2.5-3×
    * within a JVM and the best-draw ordering flips between sessions —
    * local exchanges run at memory speed, so never claim a local wall
    * win for this class without a repeated same-JVM A/B). The count
    * doubles as the fixpoint test: an empty dead set exits BEFORE the
    * no-op rewrite. Each round localCheckpoints: the iterate stays
    * shallow instead of stacking `rounds` of join lineage (the q97
    * staging discipline), and per-round state is the edge list itself —
    * nothing driver-side. At 100 TB this is the same shape CC takes: a
    * handful of shuffle-bounded passes over a shrinking edge list, with
    * AQE free to demote the anti-joins to shuffles if a pathological
    * first-round dead set outgrows the broadcast threshold. */
  def kcore(edges: DataFrame, k: Int, rounds: Int, parts: Int = 4): DataFrame = {
    // Volume-sized partitions before iterating (the GraphxAnalytics
    // lesson): the ten-ego adjacency is ~60k rows, and every peel round
    // pays per-partition scheduling on its shuffle. `parts` is the
    // volume knob — the g11 entry keeps the 4 that fits the ten-ego
    // fixture; tools.GraphScale passes the core count for its ~46M-row
    // derived adjacency (r13).
    var adj = adjacency(edges)
      .select(col("ego"), col("v").cast("long").as("v"), col("u").cast("long").as("u"))
      .coalesce(parts).localCheckpoint()
    var r = 0
    var converged = false
    // Early exit at the fixpoint is result-identical to running all
    // `rounds` rounds (a converged peel is a no-op), so the unrolled
    // oracle still matches; the bound caps the oracle's CTE depth.
    while (r < rounds && !converged) {
      val (dead, nDead, next) = peelRound(adj, k)
      if (nDead == 0L) converged = true
      else adj = next.localCheckpoint()
      dead.unpersist(blocking = false)
      r += 1
    }
    adj.select(col("ego"), col("v").as("node")).distinct().orderBy("ego", "node")
  }

  /** One k-core peel round over a symmetric adjacency: returns the
    * CACHED dead node set (degree < k), its count (the count both
    * materializes the cache — giving the planner in-memory size stats,
    * which is what lets the anti-joins broadcast — and is the caller's
    * fixpoint test), and the rewritten-adjacency PLAN (unexecuted: the
    * caller checkpoints it). Exposed for GraphAnalyticsPlanSpec, which
    * pins the broadcast-anti shape so the 3-shuffles-per-round
    * regression class fails `sbt test`, not the hour-long 1M-node run. */
  private[graft] def peelRound(adj: DataFrame, k: Int)
      : (DataFrame, Long, DataFrame) = {
    val dead = adj.groupBy("ego", "v").agg(count(lit(1)).as("deg"))
      .filter(col("deg") < k).select("ego", "v").cache()
    val nDead = dead.count()
    val next = adj
      .join(dead, Seq("ego", "v"), "left_anti")
      .join(dead.withColumnRenamed("v", "u"), Seq("ego", "u"), "left_anti")
    (dead, nDead, next)
  }

  /** Adjacency of G⁺ = friend edges + ego spokes, both directions.
    * Spokes exist in the reference DB (`main.js:254,261`) but not in
    * `.edges`; they are derived here. */
  def adjacencyPlus(edges: DataFrame, friends: DataFrame): DataFrame = {
    val spokes = friends.select(col("ego"), col("ego").as("v"), col("name").as("u"))
    adjacency(edges)
      .unionByName(spokes)
      .unionByName(spokes.select(col("ego"), col("u").as("v"), col("v").as("u")))
  }

  /** (ego, name, deg) — degree within the friend-friend edge set. */
  def degrees(edges: DataFrame): DataFrame =
    adjacency(edges).groupBy(col("ego"), col("v").as("name"))
      .agg(count(lit(1)).as("deg"))

  /** (ego, name, eff): E_ff(v) = friend-friend edges with BOTH endpoints
    * adjacent to v — the numerator core of the clustering coefficient
    * (`main.js:87-105`). One edge ⋈ adjacency ⋈ adjacency self-join,
    * shuffling on (ego, node id) only. */
  def friendFriendWedges(edges: DataFrame): DataFrame = {
    val adj = adjacency(edges)
    edges.as("e")
      .join(adj.as("x"), col("e.ego") === col("x.ego") && col("x.u") === col("e.src"))
      .join(adj.as("y"),
        col("e.ego") === col("y.ego") && col("y.u") === col("e.dst")
          && col("y.v") === col("x.v"))
      .groupBy(col("e.ego").as("ego"), col("x.v").as("name"))
      .agg(count(lit(1)).as("eff"))
  }

  /** (ego, name, deg, eff, cc): local clustering coefficient of v in G⁺,
    * ego-inclusive (SURVEY §2.3(3), verified 333/333 + 1034/1034 golden):
    * CC(v) = (E_ff(v) + deg(v)) / C(deg(v)+1, 2). The +deg(v) term is the
    * ego-spoke edges among v's neighbours; the +1 is the ego itself. */
  def clustering(edges: DataFrame): DataFrame =
    degrees(edges)
      .join(friendFriendWedges(edges), Seq("ego", "name"), "left_outer")
      .select(col("ego"), col("name"), col("deg"),
        coalesce(col("eff"), lit(0L)).as("eff"))
      .withColumn("cc",
        (col("eff") + col("deg")).cast("double") /
          ((col("deg") + 1) * col("deg") / lit(2.0)))

  /** (ego, name, centrality): the reference's stress-centrality query
    * (`main.js:108-125`) on an ego network collapses to the closed form
    * (SURVEY §2.3(4)): every s↔d shortest path of length 2 runs through a
    * common neighbour, so
    * centrality(x) = 2 · |{unordered {s,d} ⊆ N(x) in E : {s,d} ∉ E}|
    *               = 2 · (C(deg(x), 2) − E_ff(x)).
    * The reference never completed this query ("takes a long time to
    * execute!", docs p.2); this is O(wedges) with no path enumeration. */
  def centralityClosedForm(edges: DataFrame): DataFrame =
    clustering(edges)
      .select(col("ego"), col("name"),
        (lit(2L) * (col("deg") * (col("deg") - 1) / 2 - col("eff")))
          .cast("bigint").as("centrality"))

  /** (ego, node_count, edge_count): |F|+1 nodes (`main.js:65-73`) and
    * |E|+|F| stored-once edges — deduped friend pairs + ego spokes
    * (`main.js:76-84`; verified 334/2852 and 1035/27783). */
  def counts(g: EgoGraphs): DataFrame = {
    val f = g.friends.groupBy("ego").agg(count(lit(1)).as("n_friends"))
    val e = g.edges.groupBy("ego").agg(count(lit(1)).as("n_edges"))
    f.join(e, Seq("ego"))
      .select(col("ego"),
        (col("n_friends") + 1).as("node_count"),
        (col("n_edges") + col("n_friends")).as("edge_count"))
  }

  /** Vertices holding BOTH hypothesis keys, with their (single-valued,
    * last-wins) hometown and school: (ego, name, hometown, school). */
  def hypothesisSet(vertices: DataFrame): DataFrame =
    vertices
      .select(col("ego"), col("name"),
        col("properties")("hometown;id").as("hometown"),
        col("properties")("education;school;id").as("school"))
      .filter(col("hometown").isNotNull && col("school").isNotNull)

  /** (ego, denom, num) for the hypothesis proof (`main.js:29-51`):
    *  - denom: ORDERED pairs INCLUDING the diagonal with equal
    *    (hometown, school) — computed as Σ groupsize² per key pair, one
    *    linear shuffle instead of the reference's self-join blowup.
    *  - num: same pairs, m ≠ n, adjacent in G⁺ (undirected ⇒ both orders
    *    counted) — a join of the symmetric G⁺ adjacency against the
    *    hypothesis set on both endpoints.
    * Verified: 153/64 (ego 0), 8378/2920 (ego 107). */
  def proofCounts(g: EgoGraphs): DataFrame = {
    val s = hypothesisSet(g.vertices).cache()

    val denom = s.groupBy("ego", "hometown", "school")
      .agg(count(lit(1)).as("c"))
      .groupBy("ego").agg(sum(col("c") * col("c")).as("denom"))

    val adjP = adjacencyPlus(g.edges, g.friends)
    val num = adjP
      .join(s.select(col("ego"), col("name").as("v"),
        col("hometown").as("h1"), col("school").as("s1")), Seq("ego", "v"))
      .join(s.select(col("ego"), col("name").as("u"),
        col("hometown").as("h2"), col("school").as("s2")), Seq("ego", "u"))
      .filter(col("h1") === col("h2") && col("s1") === col("s2"))
      .groupBy("ego").agg(count(lit(1)).as("num"))

    // Every ego gets a row even when no vertex holds both keys (ego 3980):
    // the reference would emit 0/0 there (percentage NaN, "disproved").
    g.friends.select("ego").distinct()
      .join(denom, Seq("ego"), "left_outer")
      .join(num, Seq("ego"), "left_outer")
      .select(col("ego"),
        coalesce(col("denom"), lit(0L)).as("denom"),
        coalesce(col("num"), lit(0L)).as("num"))
  }
}
