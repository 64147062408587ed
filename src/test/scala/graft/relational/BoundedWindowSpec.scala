package graft.relational

import graft.SparkSuite
import org.apache.spark.sql.GraftPlanProbe
import org.apache.spark.sql.catalyst.plans.logical.Window

import scala.util.control.NonFatal

/** The no-new-scale-killer gate: a `Window` with an EMPTY partition spec
  * moves its entire input through ONE task (the q116 lesson), so every
  * such window anywhere in the surface must read a table whose size is
  * bounded by something other than the data volume — a shard-grain,
  * partition-grain, or vocab-grain input — and that bound must be named
  * here. This spec walks every batch entry's optimized plan, collects
  * all partition-less windows, and fails on any query not in the
  * allowlist below (or whose supposedly-bounded input outgrew its
  * bound), so the next global window cannot land silently.
  *
  * Global `Sort`s are deliberately NOT policed: Spark executes a global
  * sort as a range exchange + parallel per-partition sorts — it never
  * serializes onto one task, and every query ends in one for oracle
  * determinism (QuerySpec contract).
  *
  * Streaming (`s_*`) entries are skipped: their returned frame is a
  * memory-sink scan (the windows run inside the streaming engine, whose
  * aggregations are state-store hash aggs keyed by window+group — no
  * partition-less WindowExec exists on that path).
  */
class BoundedWindowSpec extends SparkSuite {
  private val sf = "/root/testdata/sf0.001"

  /** query -> (documented bounding grain, max input rows at sf0.001).
    * Bounds sit well under every corpus-grain table at sf0.001
    * (documents 500, events 1000, orders 1500), so a window that drifts
    * from its grain onto the corpus trips the bound — if a fixture tweak
    * pushes past one, re-derive the bound, don't bump it blindly.
    *
    * Earlier DistributedRank offset windows in a multi-rank fold (q116
    * ranks three ways) execute inside the helper's localCheckpoint and
    * are invisible to the final plan; DistributedRankSpec covers the
    * helper itself, and each instance has the same partition-count
    * grain the final one shows here. */
  private lazy val allow: Map[String, (String, Long)] = Map(
    // DistributedRank offset rebase: one row per range-shuffle partition.
    // Derived from the session's shuffle-partition count (itself sized to
    // SPARK_GRAFT_CPUS), not a constant: running with more CPUs grows the
    // offsets-window input with it, and a hardcoded 64 would trip spuriously
    // (2x headroom covers AQE coalesce/split drift around the setting).
    "q116_rfm" -> (("shuffle-partition grain",
      2L * spark.conf.get("spark.sql.shuffle.partitions").toLong)),
    // First-touch daily cohort: one row per calendar day with activity.
    "q127_running_users" -> (("calendar-day grain", 366L)),
    // Leading-digit distribution: at most 9 rows, ever.
    "q131_benford" -> (("leading-digit grain (1-9)", 9L)),
    // Sharded prefix sum: one row per doc-id shard (corpus / shardSize).
    "q72_sequence_packing" -> (("shard grain (corpus/100)", 64L)),
    // Vocab running total: one row per distinct token (Heaps-law
    // sublinear — documented as the deliberate bounded global sort).
    "q102_vocab_coverage" -> (("vocab grain (distinct tokens)", 256L)))

  test("every partition-less Window reads a named bounded-grain input") {
    val violations = Seq.newBuilder[String]
    // A spec that fails to build or plan is recorded and the walk goes on,
    // so one failure cannot hide every later spec in allSpecs.
    for (spec <- graft.SparkEntry.allSpecs if !spec.name.startsWith("s_")) try {
      val df = spec.run(spark, sf)
      val globals = df.queryExecution.optimizedPlan.collect {
        case w: Window if w.partitionSpec.isEmpty => w
      }
      for (w <- globals) {
        allow.get(spec.name) match {
          case None =>
            violations += s"${spec.name}: UNLISTED global window " +
              s"${w.windowExpressions.map(_.name).mkString(",")} over " +
              s"${GraftPlanProbe.countRows(spark, w.child)} rows"
          case Some((grain, maxRows)) =>
            val n = GraftPlanProbe.countRows(spark, w.child)
            if (n > maxRows)
              violations += s"${spec.name}: global window input $n rows " +
                s"exceeds the documented $grain bound $maxRows"
        }
      }
    } catch { case NonFatal(e) => violations += s"${spec.name}: ${SparkSuite.cause(e)}" }
    val v = violations.result()
    assert(v.isEmpty, v.mkString("\n", "\n", ""))
  }
}
