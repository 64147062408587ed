package graft

import org.apache.spark.sql.DataFrame

import scala.collection.immutable.ListMap

/** Benchmark main — BASELINE.md protocol: 1 warm-up pass, then
  * median-of-5 wall-clock per query, deterministic (sorted) query order.
  *
  * The action is a noop-format write, not `count()`: a count lets Catalyst
  * drop ORDER BY / projection work, a noop write materializes every output
  * row without any sink I/O.
  *
  * Contention forensics (round-3 lesson: BENCH_r03 recorded 68.4 s under
  * concurrent machine load vs 39.7 s on a quiet host; round-6 lesson: a
  * ~45% inflated run slipped past a 3-sample sentinel with spread 1.74):
  *   - every query's 5 raw run times and their min are emitted alongside
  *     the median, so a contaminated round is diagnosable from the artifact
  *     (median >> min on unchanged plans = external load, not a plan change);
  *   - a fixed calibration sentinel (the cheapest stable query) is re-timed
  *     every ~20 queries through the timed phase (not just 3 points);
  *     `sentinel.spread` (trimmed: 2nd-highest/2nd-lowest sample) flags
  *     shifting machine conditions — rule [[spreadTrip]];
  *   - `inflation_index` = median over substantial queries (min ≥ 0.15 s)
  *     of their median/min run ratio. On a quiet host this sits near 1.0–1.1
  *     regardless of plans; a round inflated by ambient load shows > ~1.4
  *     even when the sentinel got lucky — rule [[inflationTrip]];
  *   - `shared27_retime` (r11): the headline queries run once more at the
  *     very END; `ratio_vs_median` = retime sum / sum of timed medians.
  *     Early-run load that lifts mid-run leaves the medians inflated but
  *     the retime fast, the shape the r10 artifact missed — rule
  *     [[earlyLoadTrip]].
  *     `contaminated` = any of the three rules trips; each rule is one
  *     function next to its thresholds.
  *
  * Artifact plumbing (round-6 lesson: the driver records only the LAST
  * ~2000 chars of stdout; the full 15 KB JSON line never parsed in ANY
  * round): the full JSON is still printed after the first marker and
  * written to `bench_out.json`, and a COMPACT summary JSON (total,
  * shared-27 sums vs BASELINE.md, sentinel, inflation, slowest queries)
  * small enough to survive the tail window is printed after a second
  * marker at the very end. Tail-window parsers get the compact record;
  * full-stdout parsers get the full one; `bench_out.json` stays canonical.
  *
  * Failures are NOT swallowed: a failing query records -1 and the process
  * exits nonzero.
  */
object Bench {
  /** The 27 round-1 queries whose 35.36 s total is BASELINE.md's bench
    * anchor (extracted from BENCH_r01.json); the judge's "shared-27". */
  val shared27: Set[String] = (1 to 27).map(i => f"q$i%02d_").toSet

  /** One query's timed runs reduced once: the median of its successful
    * runs (-1 with fewer than 3 — sorting -1 failures to the front would
    * pick an optimistic percentile of the survivors) and their min (-1
    * with none). */
  private[graft] final case class RunStats(median: Double, min: Double)

  private[graft] def runStats(runs: Seq[Double]): RunStats = {
    val ok = runs.filter(_ >= 0).sorted
    RunStats(if (ok.size >= 3) ok(ok.size / 2) else -1.0, ok.headOption.getOrElse(-1.0))
  }

  /** Inflation trip: the inflation index (median over substantial queries
    * of median/min) above 1.4 — the r6 failure mode the 3-point sentinel
    * missed — stands on its own. */
  private[graft] def inflationTrip(inflation: Double): Boolean = inflation > 1.4

  /** Corroborated sentinel-spread trip. The threshold scales with the
    * sentinel's magnitude (r9): the relative spread of a sub-second timing
    * is dominated by its own GC/page-cache jitter — at sf1 a quiet host
    * measured 0.23–0.84 s — so below a 1 s median the gate is 3.0, else
    * 1.5. A spread trip counts only with mild corroboration from the
    * plan-insensitive inflation index (> 1.15; the r7 sf1 false trip had
    * inflation 1.08), or when no query yields an inflation ratio at all
    * (a tiny-SF smoke run), where the spread must stand on its own rather
    * than be silently discarded. */
  private[graft] def spreadTrip(spread: Double, sentinelMedian: Double,
      inflation: Double, hasRatios: Boolean): Boolean = {
    val gate = if (sentinelMedian > 0 && sentinelMedian < 1.0) 3.0 else 1.5
    spread > gate && (!hasRatios || inflation > 1.15)
  }

  /** Early-load trip: the end-of-run shared-27 pass sums well below the
    * timed medians (ratio in (0, 0.7)), so the timed phase was inflated by
    * load that has since lifted. Armed only when the headline sum is
    * substantial (≥ 2 s) — a sub-second 27-sum is scheduler noise. */
  private[graft] def earlyLoadTrip(shared27MedianSum: Double, retimeRatio: Double): Boolean =
    shared27MedianSum >= 2.0 && retimeRatio > 0 && retimeRatio < 0.7

  private def exec(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Host conditions at run start/end (r11 verdict item 7): two
    // `contaminated:false` artifacts on identical code still differed 12%;
    // the 1-minute load average lets cross-run deltas be adjudicated from
    // the artifacts alone (a loaded-but-not-tripping host is visible).
    def loadAvg(): Double =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    val loadStart = loadAvg()
    val spark = Sessions.local("graft-bench")

    // Excluded from the timed set: streaming queries (they measure
    // micro-batch trigger latency over a temp-dir file replay, not engine
    // throughput — see StreamBench for their dedicated harness) and
    // g07/g10 (dual-implementation validation gates — many tiny iterative
    // jobs on toy graphs, not engine plans).
    val excluded = Set("g07_centrality_pregel", "g10_centrality_batched")
    // SPARK_GRAFT_SKIP: comma-separated names excluded from this run — a
    // generic escape hatch for one-off protocols, recorded in the
    // artifact. Since r13 the sf10 gate runs with an EMPTY skip list:
    // derive_scale.py perturbs cloned c_mktsegment per copy so q05's join
    // output stays linear in the copy factor, and q100 is the
    // fact×broadcast-dim null-safe shape.
    val skipped = sys.env.get("SPARK_GRAFT_SKIP")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet).getOrElse(Set.empty)
    // SPARK_GRAFT_BENCH_RUNS: timed runs per query (default 5). The sf10
    // protocol uses 3 — per-run cost is ~10× and the median-of-3 still
    // rides above the min for the inflation forensics.
    val runsPerQuery = sys.env.get("SPARK_GRAFT_BENCH_RUNS").map(_.toInt).getOrElse(5)
    val names = SparkEntry.queries.keys.toSeq
      .filterNot(_.startsWith("s_")).filterNot(excluded).filterNot(skipped).sorted
    // Distinct queries that failed during a TIMED run; warm-up failures are
    // logged but do not fail the round (a fully-measured median stands).
    val failed = scala.collection.mutable.Set.empty[String]

    def timeOne(name: String, timed: Boolean): Double = {
      val fn = SparkEntry.queries(name)
      try {
        val t0 = System.nanoTime()
        exec(fn(spark, sfDir))
        (System.nanoTime() - t0) / 1e9
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name FAILED (timed=$timed): ${e.getMessage}")
          if (timed) failed += name
          -1.0
      }
    }

    // Warm-up pass: absorbs JVM/codegen/parquet-footer warm-up so the timed
    // runs measure steady state.
    names.foreach(timeOne(_, timed = false))

    // Calibration sentinel: a fixed cheap query re-timed every ~20 queries
    // through the timed phase. Its own timed measurement below is
    // unaffected — these extra runs only probe machine conditions.
    val sentinelName = "q01_filter_agg"
    val sentinelEvery = 20
    val sentinelTimes = scala.collection.mutable.ArrayBuffer.empty[Double]
    def sentinelRun(): Unit = { val t = timeOne(sentinelName, timed = false); if (t >= 0) sentinelTimes += t }

    sentinelRun()
    val raw = names.zipWithIndex.map { case (n, i) =>
      if (i > 0 && i % sentinelEvery == 0) sentinelRun()
      val runs = (1 to runsPerQuery).map(_ => timeOne(n, timed = true))
      n -> runs
    }
    sentinelRun()

    // Shared-27 re-time (r10: the driver's r10 artifact burned the
    // shared-27 headline 1.5× under early-run host load without tripping
    // the detector): one more single pass over the headline queries at
    // the very END of the run. If the timed phase ran under ambient load
    // that later lifted, this sum comes out well BELOW the sum of the
    // earlier medians — a second, position-shifted sentinel block that
    // catches exactly the early-load shape the q01 sentinel can miss.
    def isShared(n: String): Boolean = shared27.exists(n.startsWith)
    val retimes = names.filter(isShared).map(n => n -> timeOne(n, timed = false))
    val retimeSum = retimes.collect { case (_, t) if t >= 0 => t }.sum

    val stats = raw.map { case (n, runs) => n -> runStats(runs) }

    // Suspect re-time (r13 verdict item 5): last round THREE artifacts were
    // needed to refute two phantom per-query regressions — elevated medians
    // that were host noise, visible only by cross-running the same HEAD.
    // Any query whose timed median exceeded its own min by >1.4×
    // (substantial queries only — the floor is 0.3 s, raised from 0.15 at
    // r15: sub-0.3 s graph entries like g05/g06 tripped on pure GC/page
    // jitter, padding the suspect list with rows no reader acts on) gets
    // one more run at the very end: a retime near the MIN says the timed phase
    // rode ambient load (ignore the median delta); a retime near the
    // MEDIAN says the cost is real. One artifact now adjudicates its own
    // outliers. The set is empty on a quiet host and usually < 10 rows.
    val suspectRetimes = stats.collect {
      case (n, st) if st.min >= 0.3 && st.median / st.min > 1.4 =>
        (n, st, timeOne(n, timed = false))
    }

    // Fit-vs-serve split (r9 verdict item 6): the q53/q134/q135 ANN
    // entries serve from per-JVM memoized models — the warm-up pass
    // populates the memo, so their timed medians above measure the SERVE
    // path. The one-time model-fit cost is recorded here as its own line,
    // timed as a fresh fit (bypassing the memo). A fit failure records -1
    // without failing the round (the serve entries above are the gate).
    val annFitTimes: Seq[(String, Double)] = Seq[(String, () => Any)](
      "q53_fit_ivf" -> (() => ext.SimilaritySuite.fitIvf(spark, sfDir, 16)),
      "q134_fit_pq" -> (() => ext.SimilaritySuite.fitPq(spark, sfDir)),
      "q135_fit_ivfpq" -> (() => ext.SimilaritySuite.fitIvfPq(spark, sfDir, 8)),
      "q139_fit_lsh" -> (() => ext.DedupSuite.fitCosineLsh(spark, sfDir, 100L))
    ).map { case (n, f) =>
      try {
        val t0 = System.nanoTime()
        f()
        n -> (System.nanoTime() - t0) / 1e9
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $n FAILED: ${e.getMessage}")
          n -> -1.0
      }
    }

    // Side-channel timings for the two dual-implementation centrality
    // cross-checks (r12 verdict item 7): g07/g10 stay excluded from the
    // timed medians (many tiny iterative jobs on fixed toy graphs, not
    // engine plans — and they ignore sfDir entirely), but the perf ledger
    // should still cover them; one wall-clock run each, like ann_fit_sec.
    val sideTimes: Seq[(String, Double)] = excluded.toSeq.sorted
      .filter(SparkEntry.queries.contains).map(n => n -> timeOne(n, timed = false))

    val total = stats.map(_._2.median).filter(_ >= 0).sum
    val totalMin = stats.map(_._2.min).filter(_ >= 0).sum
    val s27med = stats.collect { case (n, st) if isShared(n) && st.median >= 0 => st.median }.sum
    val s27min = stats.collect { case (n, st) if isShared(n) && st.min >= 0 => st.min }.sum
    val retimeRatio = if (s27med > 0 && retimeSum > 0) retimeSum / s27med else -1.0
    val earlyLoad = earlyLoadTrip(s27med, retimeRatio)

    // Trimmed spread (2nd-highest / 2nd-lowest of the ~9 samples): raw
    // max/min on a sub-second sentinel is scheduler noise — a single
    // 0.11 s outlier reads as spread 1.7 on an idle host. One outlier per
    // end is discarded; a genuine mid-run condition shift inflates several
    // samples and still trips the gate.
    val sentinelOk = sentinelTimes.filter(_ > 0).sorted
    val spread =
      if (sentinelOk.size >= 4) sentinelOk(sentinelOk.size - 2) / sentinelOk(1)
      else if (sentinelOk.size >= 2) sentinelOk.last / sentinelOk.head
      else -1.0
    val sentinelMedian = if (sentinelOk.nonEmpty) sentinelOk(sentinelOk.size / 2) else -1.0
    // Inflation index: median/min ratio per substantial query, then the
    // median of those ratios. Load-sensitive but plan-insensitive — a
    // changed plan moves median AND min together; ambient load moves only
    // the median. Tiny queries (< 0.15 s min) are excluded: their ratios
    // are timer noise.
    val ratios = stats.collect {
      case (_, st) if st.median >= 0 && st.min >= 0.15 => st.median / st.min
    }.sorted
    val inflation = if (ratios.nonEmpty) ratios(ratios.size / 2) else -1.0
    val contaminated = inflationTrip(inflation) ||
      spreadTrip(spread, sentinelMedian, inflation, hasRatios = ratios.nonEmpty) || earlyLoad

    def f4(d: Double) = Json.Fixed(d, 4)
    def secs(xs: Seq[(String, Double)]) = ListMap(xs.map { case (k, v) => k -> f4(v) }: _*)
    val envMeta = ListMap[String, Any](
      "sf" -> sfDir, "protocol" -> s"warmup+median-of-$runsPerQuery",
      "failed" -> failed.size, "n_queries" -> names.size, "skipped" -> skipped.toSeq.sorted,
      "shared27_median_sec" -> f4(s27med), "shared27_min_sec" -> f4(s27min),
      "total_min_sec" -> f4(totalMin), "inflation_index" -> f4(inflation),
      "contaminated" -> contaminated,
      "host" -> ListMap("load_avg_start" -> f4(loadStart), "load_avg_end" -> f4(loadAvg()),
        "cpus" -> Runtime.getRuntime.availableProcessors),
      "shared27_retime" -> ListMap("sum_sec" -> f4(retimeSum),
        "ratio_vs_median" -> f4(retimeRatio), "early_load_trip" -> earlyLoad),
      "suspect_retime" -> ListMap(suspectRetimes.map { case (n, st, rt) =>
        n -> ListMap("median" -> f4(st.median), "min" -> f4(st.min), "retime" -> f4(rt),
          "ratio_vs_median" -> f4(if (rt > 0 && st.median > 0) rt / st.median else -1.0))
      }: _*),
      "ann_fit_sec" -> secs(annFitTimes), "side_queries_sec" -> secs(sideTimes),
      "sentinel" -> ListMap("query" -> sentinelName, "times" -> sentinelTimes.map(f4),
        "spread" -> f4(spread)))
    val head = ListMap[String, Any]("metric" -> "total_median_sec", "value" -> f4(total), "unit" -> "sec")
    val fullJson = Json(head ++ ListMap("queries" -> secs(stats.map { case (n, st) => n -> st.median })) ++
      envMeta ++ ListMap("queries_min" -> secs(stats.map { case (n, st) => n -> st.min }),
        "runs" -> ListMap(raw.map { case (n, runs) => n -> runs.map(f4) }: _*)))
    val slowest = stats.map { case (n, st) => n -> st.median }.filter(_._2 >= 0).sortBy(-_._2).take(8)
    val compactJson = Json(head ++ envMeta ++
      ListMap("slowest" -> secs(slowest), "full" -> "bench_out.json"))

    java.nio.file.Files.writeString(java.nio.file.Paths.get("bench_out.json"), fullJson)
    println("GRAFT_BENCH_JSON")
    println(fullJson)
    // Repeated marker + compact record, sized to fit the driver's ~2000-char
    // stdout tail window (see Scaladoc). Last marker wins for tail parsers.
    println("GRAFT_BENCH_JSON")
    println(compactJson)
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
