package graft.graphx

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Connected components via alternating large-star / small-star
  * contractions (the MapReduce CC algorithm of Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14 — public
  * literature), expressed relationally: each round is two WINDOW-MIN
  * passes (one full-volume exchange per star) over a SHRINKING edge
  * list, and the round count grows ~logarithmically in component size,
  * INDEPENDENT OF GRAPH DIAMETER.
  *
  * Why this exists next to GraphX `connectedComponents` (g08): label
  * propagation needs one synchronized round per hop of the component
  * eccentricity — measured on the r14 long-diameter chain fixture it
  * took a 63-round fixpoint, and on the 1M-node tree fixture ~600 s of
  * wall that halving the edge volume did not move (per-round cost is
  * vertex-ship/round-bound). At 100 TB a diameter-bound round count is
  * the wrong contract for path-shaped data (supply chains, citation
  * chains, long dedup families); star contraction is the
  * shuffle-bounded, log-round shape. Both converge to the SAME labels
  * (component-min vertex id), so the two implementations cross-oracle
  * each other bit-exactly — StarComponentsSpec pins that on random and
  * chain graphs, and at 1M nodes every star label matched the GraphX
  * labels (GRAPH_SCALE_r14.json `starcc_check`: 0 mismatches).
  *
  * Semantics per round (E is a set of undirected pairs, kept oriented
  * child > parent):
  *  - large-star: for every vertex u over the SYMMETRIC neighborhood,
  *    m = min(Γ(u) ∪ u); emit (v → m) for each neighbor v > u.
  *    (Strictly-greater neighbors hook onto u's minimum — connectivity
  *    preserved because (u,v) itself is re-derivable from v's side.)
  *  - small-star: orient every edge child > parent; for every u,
  *    m = min(N(u)) over its parents; emit (v → m) for each parent
  *    v ≠ m and (u → m). (All parents and u collapse onto the minimum.)
  * The fixpoint is a forest of depth-1 stars rooted at component
  * minima; labels read off as child → root, roots labeling themselves.
  *
  * Fixpoint detection: a cheap (count, modular-checksum) probe per
  * round, CONFIRMED by an exact anti-join only when the probe repeats —
  * the checksum never declares convergence on its own (q103 discipline:
  * modular sums, not raw BIGINT sums, and probabilistic equality is
  * never trusted as set equality).
  *
  * Scale posture: no driver-side state (the probe is a 2-long
  * aggregate); per-round results localCheckpoint so lineage stays
  * shallow (the q97/kcore staging discipline); every shuffle keys on
  * vertex ids; the edge list only shrinks (large-star drops settled
  * edges, small-star dedups onto minima).
  */
object StarComponents {

  /** Drop the cached blocks behind a localCheckpointed frame (the
    * materialize-then-release Pregel/kcore discipline, ADVICE r14: the
    * loop previously accumulated up to maxRounds edge-list snapshots in
    * block storage). Only safe once nothing will read the frame again —
    * a localCheckpoint has no lineage to recompute from. */
  private def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }.foreach(_.unpersist(false))

  /** Execution stats for one [[runWithStats]] invocation: rounds run,
    * the largest per-vertex group observed across ALL rounds — window
    * rounds report it via the count column riding the min's window,
    * fallback rounds via a count riding each star's partial aggregate
    * (r18, ADVICE r17: previously fallback rounds carried no group
    * observation, so a guarded run reported the pre-switch maximum
    * while the fixpoint mega-star kept growing past it; now maxGroup is
    * the run's true peak, e.g. component size − 1 at the fixpoint) —
    * and the 0-based round index from which the combiner-friendly
    * groupBy+join fallback took over (-1 = never, the normal path). */
  final case class StarStats(rounds: Int, maxGroup: Long, combinerFromRound: Int)

  /** DANGER group size for the window round: a window min has no
    * map-side combine, so one vertex's whole neighborhood lands in a
    * single task's sort — fine to ~1e7 rows (~240 MB of longs,
    * seconds), a straggler-then-spill risk past it. Two ways to get
    * there: an input super-hub, and — inherent to star contraction —
    * the FIXPOINT MEGA-STAR: a giant component's root collects the
    * whole component as direct children in the last rounds, so its
    * group approaches the component size regardless of input degree
    * structure. Group sizes are observed for free on every round
    * (metrics riding the materializing job, no extra action). */
  val DefaultSuperHubDegree = 10000000L

  /** Margin divisor for the guard trip: rounds switch to the fallback
    * once a group exceeds `superHubDegree / SuperHubMargin`, NOT the
    * danger size itself (r18, ADVICE r17). The guard is reactive — the
    * round that DETECTS a crossing has already sorted that group in one
    * task — and star sizes grow multiplicatively per round, so a trip
    * AT the danger size could mean the detection round itself ran at
    * many times it. Tripping a 10× margin below keeps the worst
    * detected window group around the danger size even under a 10×
    * per-round jump; an INPUT super-hub above the margin still pays its
    * one detection round at full size (measured with a 2e7-spoke hub:
    * a 62 s round 0, then six fallback rounds, bench/superhub_r18.json),
    * which no reactive guard can avoid without a pre-pass. */
  val SuperHubMargin = 10L

  /** (id, label) for every vertex of `pairs` — one row per distinct
    * endpoint; label = component-min vertex id (bit-identical to GraphX
    * connectedComponents on the same pairs). `pairs` columns: (u, v),
    * one row per undirected pair (self-loops ignored). */
  def run(spark: SparkSession, pairs: DataFrame, maxRounds: Int = 64): DataFrame =
    runWithStats(spark, pairs, maxRounds)._1

  /** [[run]] plus [[StarStats]] — `superHubDegree` is the guard DANGER
    * size (the trip fires a [[SuperHubMargin]] below it; tests pass a
    * small value to force the fallback; production callers keep
    * [[DefaultSuperHubDegree]]). Labels are bit-identical on both round
    * forms: each computes the same exact neighborhood minima. The round
    * count IS the scale claim (log in component size, not diameter).
    * `onRound` is invoked after each round with (`"r<i>_window"` |
    * `"r<i>_fallback"`, wall seconds) — the at-scale tools record
    * per-round walls through it. */
  def runWithStats(spark: SparkSession, pairs: DataFrame, maxRounds: Int = 64,
      superHubDegree: Long = DefaultSuperHubDegree,
      onRound: (String, Double) => Unit = (_, _) => ()): (DataFrame, StarStats) = {
    // The probe RIDES the eager checkpoint's materializing job as
    // observed metrics (CollectMetricsExec = accumulators, no exchange,
    // no extra plan node cost): one job materializes the round AND
    // yields its (count, checksum), where the pre-r16 loop ran an eager
    // checkpoint job followed by a separate probe aggregate that
    // RE-SCANNED the checkpointed output — at toy scale that was one of
    // two scheduler round trips per round, at 1M nodes a full extra pass
    // over the edge list per round (r15 verdict item 3).
    def probed(d: DataFrame): (DataFrame, (Long, Long)) = {
      val obs = new Observation()
      val out = d.observe(obs,
        count(lit(1)).as("n"),
        coalesce(sum(expr(
          "((u % 1000000007) * 31 + (v % 1000000007)) % 1000000007")), lit(0L)).as("cks"))
        .localCheckpoint() // EAGER — the materialization fires the metrics
      val m = obs.get
      (out, (m("n").asInstanceOf[Long], m("cks").asInstanceOf[Long]))
    }

    val (e0, probe0) = probed(pairs
      .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      .where(col("u") =!= col("v")).distinct())
    var e = e0
    // All vertices, captured BEFORE contraction (interior nodes vanish
    // from the edge list as they hook onto roots). EAGER: the input
    // frame is fully read here, preserving the entry-time-materialization
    // contract callers rely on when they release their input after run().
    val vertices = pairs.select(col("u").as("id"))
      .unionAll(pairs.select(col("v").as("id"))).distinct().localCheckpoint()

    // Per-vertex neighborhood minima as WINDOW aggregates, not
    // groupBy + join back (the pre-r16 shape): a window partitioned on
    // the vertex id gives every row its group's min in the SAME exchange
    // that groups it, so each star costs ONE full-volume exchange where
    // groupBy+join cost two (agg + SMJ re-shuffle) or an agg + broadcast
    // build — fewer AQE stage jobs per round at toy scale (pinned in
    // StarComponentsSpec) and strictly fewer full-volume exchanges at
    // 100 TB. Tradeoff: a window min has no map-side combine, so a
    // pathological super-hub group serializes into one task's sort — at
    // that extreme the groupBy+join form (combiner-friendly) is the
    // right variant, and since r17 the loop GUARDS it: window group
    // sizes are observed on every round's materializing job and rounds
    // switch to the fallback once one crosses a SuperHubMargin below
    // `superHubDegree` (see DefaultSuperHubDegree/SuperHubMargin — this
    // also covers the fixpoint mega-star a giant component inherently
    // becomes).
    //
    // Every round runs under the session's AQE conf at every size. A
    // toy-size variant (two rounds per checkpoint, AQE off) cut the
    // scheduler jobs 2.3-3.5x but left walls at parity
    // (bench/star_toy_ab_r18_s*.json), so there is one round shape.
    val w = Window.partitionBy("u")
    var prevProbe = probe0
    var converged = prevProbe._1 == 0L
    var r = 0
    var maxGroup = 0L
    var combinerFrom = -1
    while (!converged && r < maxRounds) {
      val roundT0 = System.nanoTime()
      val fallback = combinerFrom >= 0
      val sym = e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
      val largeObs = new Observation()
      val smallObs = new Observation()
      val (next, probe) = if (fallback) {
        // ---- super-hub fallback round (combiner-friendly) ---------------
        // groupBy+join per-vertex minima: partial aggregation combines
        // map-side, so no single task ever holds a whole neighborhood —
        // the right shape once a group crossed the guard margin (see
        // DefaultSuperHubDegree/SuperHubMargin: input super-hubs AND the
        // fixpoint mega-star of a giant component both land here). Costs
        // more exchanges per round than the window form (agg + join-back
        // per star + a mid-round distinct), which is why it is the
        // guarded exception, not the default. Group sizes keep being
        // observed here too (a count riding each star's partial agg —
        // same exchange; the metrics fire with the downstream
        // materialization per the r17 intermediate-Observation idiom), so
        // StarStats.maxGroup is the run's TRUE peak: the mega-star keeps
        // growing after the switch (ADVICE r17).
        val mins = sym.groupBy("u").agg(min("v").as("m"), count(lit(1)).as("grp"))
          .observe(largeObs, coalesce(max("grp"), lit(0L)).as("maxgrp"))
          .select(col("u"), least(col("m"), col("u")).as("m"))
        val large = sym.join(mins, "u").where(col("v") > col("u"))
          .select(col("v").as("u"), col("m").as("v"))
          .where(col("u") =!= col("v")).distinct()
        // `o` feeds TWO consumers (the small-star agg and the join-back):
        // checkpoint it so the large-star join+distinct subplan runs once
        // instead of recomputing per consumer (ADVICE r17 — on the
        // multi-GB groups that reach this path the recompute IS the
        // cost); blocks released right after the round materializes.
        val o = large
          .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
          .localCheckpoint()
        val mins2 = o.groupBy("u").agg(min("v").as("m"), count(lit(1)).as("grp"))
          .observe(smallObs, coalesce(max("grp"), lit(0L)).as("maxgrp"))
          .select(col("u"), col("m"))
        val out = probed(o.join(mins2, "u")
          .select(explode(array(col("v"), col("u"))).as("c"), col("m"))
          .where(col("c") =!= col("m"))
          .select(col("c").as("u"), col("m").as("v"))
          .distinct())
        releaseCheckpoint(o)
        out
      } else {
        // ---- window form, the normal round ------------------------------
        // No intermediate distinct on the large-star output: duplicates
        // ((v,m) reached via two hooks) are bounded by the per-EDGE
        // emission (≤ one row per symmetric entry with v > u, so ≤ |E|
        // rows) and the round-final distinct removes them anyway — a
        // mid-round dedup was a full extra exchange of the same volume
        // every round at every scale (removed r16). The `grp` column is
        // the super-hub guard: count over the SAME window spec rides the
        // min's WindowExec (same exchange, same sort), and the max is
        // collected as observed metrics on the materializing job — zero
        // extra actions, zero extra exchanges (observed BEFORE the v > u
        // filter so a neighborhood-max vertex still reports its group).
        val large = sym
          .select(col("u"), col("v"), least(min("v").over(w), col("u")).as("m"),
            count(lit(1)).over(w).as("grp"))
          .observe(largeObs, coalesce(max("grp"), lit(0L)).as("maxgrp"))
          .where(col("v") > col("u"))
          .select(col("v").as("u"), col("m").as("v"))
          .where(col("u") =!= col("v"))
        probed(large
          .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
          .select(col("u"), col("v"), min("v").over(w).as("m"),
            count(lit(1)).over(w).as("grp"))
          .observe(smallObs, coalesce(max("grp"), lit(0L)).as("maxgrp"))
          .select(explode(array(col("v"), col("u"))).as("c"), col("m"))
          .where(col("c") =!= col("m"))
          .select(col("c").as("u"), col("m").as("v"))
          .distinct())
      }
      val grp = Seq(largeObs, smallObs).map(_.get("maxgrp").asInstanceOf[Long]).max
      maxGroup = math.max(maxGroup, grp)
      // Trip a SuperHubMargin below the danger size (see SuperHubMargin:
      // sizes grow multiplicatively, so waiting for the danger size
      // itself means the detection round already ran well past it).
      if (!fallback && grp > superHubDegree / SuperHubMargin) combinerFrom = r + 1
      onRound(s"r${r}_${if (fallback) "fallback" else "window"}",
        (System.nanoTime() - roundT0) / 1e9)
      if (probe == prevProbe) {
        // Exact confirmation: equal counts + empty one-direction
        // difference ⟹ equal sets (both sides are post-distinct).
        converged = next.join(e, Seq("u", "v"), "left_anti").isEmpty
      }
      prevProbe = probe
      // `next` is materialized (the probed() checkpoint) and the convergence
      // join was the last read of the prior round — release its
      // checkpoint blocks before reassigning, so the loop holds at most
      // two snapshots at any time instead of one per round (ADVICE r14).
      // The INITIAL e shares no blocks with `vertices`, which stays
      // checkpointed for the label read-off.
      releaseCheckpoint(e)
      e = next
      r += 1
    }
    require(converged, s"star contraction did not converge in $maxRounds rounds")
    // Children point at their root; roots (and isolated vertices — any
    // vertex never appearing as a child) label themselves.
    val labels = vertices.join(e.withColumnRenamed("u", "id"), Seq("id"), "left")
      .select(col("id"), coalesce(col("v"), col("id")).as("label"))
    (labels, StarStats(r, maxGroup, combinerFrom))
  }
}
