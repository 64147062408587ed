package graft.graphx

import graft.SparkSuite
import org.apache.spark.graphx.Graph

/** Star-contraction CC must agree bit-exactly with GraphX
  * connectedComponents (both converge to component-min labels) — the
  * two implementations cross-oracle each other, the g07/g10 discipline
  * applied to CC. Topologies chosen for the failure modes: random
  * multi-component (hook-order bugs), a long chain (the diameter case
  * star contraction exists for), a star (already-converged input), and
  * duplicate/reversed pairs (orientation/dedup bugs). */
class StarComponentsSpec extends SparkSuite {

  private def gxLabels(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val rdd = spark.sparkContext.parallelize(pairs, 2)
      .flatMap(t => Iterator(t, t.swap))
    Graph.fromEdgeTuples(rdd, ()).connectedComponents()
      .vertices.collect().toMap // bounded-collect: test-sized graphs
  }

  private def starLabels(pairs: Seq[(Long, Long)]): (Map[Long, Long], Int) = {
    import spark.implicits._
    val df = pairs.toDF("u", "v")
    val (labels, stats) = StarComponents.runWithStats(spark, df)
    (labels.as[(Long, Long)].collect().toMap, stats.rounds) // bounded-collect: test-sized graphs
  }

  test("random multi-component graph: labels match GraphX exactly") {
    val rnd = new scala.util.Random(42)
    // ~3 components by id band, random edges within each band.
    val pairs = (0 until 3).flatMap { band =>
      val base = band * 1000L
      (0 until 400).map { _ =>
        (base + rnd.nextInt(300), base + rnd.nextInt(300))
      }.filter(t => t._1 != t._2)
    }
    val (star, rounds) = starLabels(pairs)
    assert(star == gxLabels(pairs))
    assert(rounds <= 8, s"random graph should converge in few rounds, took $rounds")
  }

  test("long chain (diameter = n-1): log-ish rounds, labels still exact") {
    val n = 2048L
    val pairs = (0L until n - 1).map(i => (i, i + 1))
    val (star, rounds) = starLabels(pairs)
    // Closed-form oracle, NOT gxLabels: GraphX label propagation on a
    // 2048-path needs ~2047 Pregel rounds — the exact pathology this
    // operator exists to avoid (running it here hung the suite for
    // minutes). On a path every label is the global min, analytically.
    assert(star == (0L until n).map(i => i -> 0L).toMap)
    // The entire point: label propagation needs ~n rounds here; star
    // contraction must stay logarithmic (generous 4x log2 margin).
    assert(rounds <= 4 * 11, s"chain of $n took $rounds rounds — diameter-bound?")
  }

  test("already-star input and duplicate/reversed pairs") {
    val star = (1L to 50L).map(i => (0L, i))
    val withDups = star ++ star.map(_.swap) ++ star.take(10)
    val (labels, rounds) = starLabels(withDups)
    assert(labels == (0L to 50L).map(i => i -> 0L).toMap)
    assert(rounds <= 2)
  }

  test("per-round job shape: window mins + observed-metrics probe (r16 constant cut)") {
    // The per-round constant at toy scale is job-SCHEDULING cost (AQE
    // materializes every exchange as its own stage job), so the r16
    // round shape minimizes exchanges: per-vertex minima as WINDOW
    // aggregates (no groupBy+join — one full-volume exchange per star),
    // no mid-round distinct, and the probe riding the eager checkpoint's
    // job as observed metrics instead of a separate re-scan. Measured on
    // this fixture: 48 jobs / 10 rounds (~4.8 per round: two window
    // stages + the distinct stage + the checkpoint final, plus entry/
    // confirm constants); the pre-r16 groupBy+join+probe shape ran 94.
    // Walls on this box swing ~2.5-3× with zero code change, so the JOB
    // COUNT is the stable evidence; 6·rounds + 12 separates the shapes
    // with margin on both sides (AQE bookkeeping drift should not trip
    // it, a return of the join/probe passes will).
    import spark.implicits._
    val sc = spark.sparkContext
    val df = (0L until 512L).map(i => (i, i + 1)).toDF("u", "v")
    sc.setJobGroup("star-jobcount", "spec", interruptOnCancel = false)
    val (labels, rounds) = try {
      val (l, st) = StarComponents.runWithStats(spark, df)
      (l.as[(Long, Long)].collect().toMap, st.rounds) // bounded-collect: test-sized graph
    } finally sc.clearJobGroup()
    def jobCount(): Int = sc.statusTracker.getJobIdsForGroup("star-jobcount").length
    var (prev, jobs, spins) = (-1, jobCount(), 0)
    while (jobs != prev && spins < 50) { Thread.sleep(100); prev = jobs; jobs = jobCount(); spins += 1 }
    assert(jobs > 0, "job-group tracking returned nothing — the test harness is broken")
    assert(labels == (0L to 512L).map(_ -> 0L).toMap)
    assert(rounds >= 3, s"a 513-node path should need several rounds, got $rounds")
    assert(jobs <= 6 * rounds + 12,
      s"star contraction scheduled $jobs jobs for $rounds rounds — the r16 round-shape regressed")
  }

  test("super-hub guard: mega-hub group trips the combiner fallback, labels identical") {
    // r17 (verdict item 5): a window min has no map-side combine, so a
    // group past `superHubDegree` must flip subsequent rounds to the
    // groupBy+join form. Fixture: a degree-1000 hub (trips a small
    // threshold on round 0) plus a 65-node chain grafted on so the run
    // needs several MORE rounds — the fallback rounds actually execute
    // and must converge to the same component-min labels (closed form:
    // one component, min id 0).
    import spark.implicits._
    val spokes = (100L until 1100L).map(i => (10L, i))
    val chain = (0L until 64L).map(i => (i, i + 1))
    val df = ((10L, 0L) +: (spokes ++ chain)).toDF("u", "v")
    val (labels, stats) = StarComponents.runWithStats(spark, df, superHubDegree = 100L)
    val expect = ((0L to 64L) ++ Seq(10L) ++ (100L until 1100L)).map(_ -> 0L).toMap
    assert(labels.as[(Long, Long)].collect().toMap == expect) // bounded-collect: test-sized graph
    assert(stats.maxGroup > 100L, s"guard metric never saw the hub: $stats")
    assert(stats.combinerFromRound >= 0, s"guard never fired: $stats")
    assert(stats.rounds > stats.combinerFromRound,
      s"fallback rounds must actually have run: $stats")
    // The production threshold must NOT fire on the same input — the
    // guard is for genuine super-hubs, not every well-connected vertex.
    val (_, statsDefault) = StarComponents.runWithStats(spark, df)
    assert(statsDefault.combinerFromRound == -1, s"default threshold fired: $statsDefault")
  }

  test("guard margin: the trip fires a SuperHubMargin below the danger size") {
    // r18 (ADVICE r17): star sizes grow multiplicatively per round, so a
    // guard that waits for the danger size itself detects the crossing
    // only AFTER a window round already sorted that group in one task.
    // The trip now fires at superHubDegree / SuperHubMargin. Fixture: a
    // degree-1002 hub with danger size 10000 — the old ( > danger )
    // condition would never fire here; the margin trip (> 1000) must.
    import spark.implicits._
    val df = (100L until 1102L).map(i => (10L, i)).toDF("u", "v")
    val (labels, stats) = StarComponents.runWithStats(spark, df, superHubDegree = 10000L)
    assert(labels.as[(Long, Long)].collect().toMap ==
      ((10L +: (100L until 1102L)).map(_ -> 10L).toMap)) // bounded-collect: test-sized graph
    assert(stats.maxGroup > 1000L, s"guard metric never saw the hub: $stats")
    assert(stats.combinerFromRound >= 0,
      s"margin trip (10000/${StarComponents.SuperHubMargin}) never fired: $stats")
  }

  test("fallback rounds keep observing group sizes: maxGroup reaches the fixpoint mega-star") {
    // r18 (ADVICE r17): pre-r18 the group observation rode only WINDOW
    // rounds, so a guarded run's maxGroup froze at the pre-switch
    // maximum while the fixpoint mega-star kept growing. Fixture: a
    // 20-spoke hub trips a tiny margin on round 0 (group 21 > 100/10);
    // the grafted 65-chain forces several fallback rounds; at the
    // fixpoint the component root 0 holds all n-1 = 85 other vertices
    // as direct children, and the last fallback round's aggregate must
    // observe exactly that group.
    import spark.implicits._
    val spokes = (100L until 120L).map(i => (10L, i))
    val chain = (0L until 64L).map(i => (i, i + 1))
    val df = ((10L, 0L) +: (spokes ++ chain)).toDF("u", "v")
    val (labels, stats) = StarComponents.runWithStats(spark, df, superHubDegree = 100L)
    val n = 20 + 65 // spokes + chain(0..64); the hub 10 IS a chain node
    assert(labels.as[(Long, Long)].collect().toMap ==
      ((0L to 64L) ++ (100L until 120L)).map(_ -> 0L).toMap) // bounded-collect
    assert(stats.combinerFromRound >= 0 && stats.rounds > stats.combinerFromRound,
      s"fallback rounds must actually have run: $stats")
    assert(stats.maxGroup == n - 1,
      s"maxGroup must track the fixpoint mega-star (want ${n - 1}): $stats")
  }

  test("per-round exchange shape: window rounds shuffle exactly 3× (AQE-final plans)") {
    // Version-robust form of the round-shape pin (r16 verdict item 6):
    // the scheduler JOB count below encodes AQE's job accounting, which
    // a Spark bump can shift; the cluster-posture claim is the SHUFFLE
    // count — one full-volume exchange per star (the window) plus the
    // round-final distinct = 3 per round, vs 5+ for the pre-r16
    // groupBy+join shape (agg + join + mid-round distinct per star).
    // Captured from the AQE-final physical plans of each round's
    // materializing checkpoint via a QueryExecutionListener; round plans
    // are the ones containing a Window (entry/vertex checkpoints have
    // none). Reused exchanges count 0 — a reuse ships nothing new.
    import spark.implicits._
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec, ShuffleQueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    val captured = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        captured.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val rounds = try {
      val df = (0L until 512L).map(i => (i, i + 1)).toDF("u", "v")
      val r = StarComponents.runWithStats(spark, df)._2.rounds
      // The listener bus is async — poll until the capture count is
      // stable (same idiom as the job-count test below).
      var (prev, cur, spins) = (-1, captured.size, 0)
      while (cur != prev && spins < 50) { Thread.sleep(100); prev = cur; cur = captured.size; spins += 1 }
      r
    } finally spark.listenerManager.unregister(listener)

    def shuffles(p: SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => shuffles(a.executedPlan)
      case s: ShuffleQueryStageExec => s.plan match {
        case _: ReusedExchangeExec => 0
        case inner => 1 + shuffles(inner)
      }
      // Spark 4 wraps the AQE-final plan in ResultQueryStageExec (and
      // materialized subtrees in other stage nodes) whose subtree hangs
      // off .plan, not .children.
      case s: QueryStageExec => shuffles(s.plan)
      case other => other.children.map(shuffles).sum
    }
    def windows(p: SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => windows(a.executedPlan)
      case s: QueryStageExec => s.plan match {
        case _: ReusedExchangeExec => 0
        case inner => windows(inner)
      }
      case w: org.apache.spark.sql.execution.window.WindowExec =>
        1 + w.children.map(windows).sum
      case other => other.children.map(windows).sum
    }
    import scala.jdk.CollectionConverters._
    val roundPlans = captured.asScala.toList
      .filter(qe => qe.analyzed.toString.contains("Window") &&
        qe.analyzed.toString.contains("CollectMetrics"))
    assert(roundPlans.nonEmpty, "listener captured no round materializations — harness broken")
    assert(roundPlans.size == rounds,
      s"expected one round plan per round ($rounds), saw ${roundPlans.size}")
    roundPlans.foreach { qe =>
      assert(qe.executedPlan.isInstanceOf[AdaptiveSparkPlanExec],
        s"round plan must be AQE-final:\n${qe.executedPlan}")
      val w = windows(qe.executedPlan)
      assert(w == 2, s"round plan must hold one round (2 windows), saw $w:\n${qe.executedPlan}")
      val n = shuffles(qe.executedPlan)
      assert(n == 3,
        s"round plan shuffled $n× (want 3: one per star + the round-final distinct) — " +
          s"the round shape regressed:\n${qe.executedPlan}")
    }
  }

  test("guard trips after round 0: fallback engages, labels exact") {
    // A path's groups GROW round over round (star contraction doubles
    // hook distances), so with a threshold the input degrees don't
    // reach, the trip must fire after round 0 (whose path-groups are
    // ~3), fallback rounds must actually run, and labels stay the
    // closed form.
    import spark.implicits._
    val n = 512L
    val df = (0L until n - 1).map(i => (i, i + 1)).toDF("u", "v")
    val roundNames = scala.collection.mutable.ArrayBuffer.empty[String]
    val (labels, stats) = StarComponents.runWithStats(spark, df,
      superHubDegree = 300L, onRound = (name, _) => roundNames += name)
    assert(labels.as[(Long, Long)].collect().toMap ==
      (0L until n).map(_ -> 0L).toMap) // bounded-collect: test-sized graph
    assert(stats.combinerFromRound >= 1,
      s"trip must fire after round 0 (path groups ~3): $stats / $roundNames")
    assert(stats.rounds > stats.combinerFromRound && roundNames.exists(_.endsWith("_fallback")),
      s"fallback rounds must actually have run: $stats / $roundNames")
  }

  test("two isolated edges and a triangle: component minima as labels") {
    val pairs = Seq((10L, 11L), (20L, 21L), (5L, 6L), (6L, 7L), (7L, 5L))
    val (labels, _) = starLabels(pairs)
    assert(labels == Map(10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L,
      5L -> 5L, 6L -> 5L, 7L -> 5L))
  }
}
