package e2ebench

import graft.{Sessions, Tables}

import java.nio.file.{Files, Paths}
import scala.collection.immutable.ListMap
import scala.collection.mutable

/** One benchmark run: one workload, one JVM, one operation at a time.
  *
  * Untraced run (`--trace 0`), which gives the end-to-end metrics:
  *  1. generate the seeded inputs (timed apart, reported as `gen_s`);
  *  2. set up once, JVM-cold: create the SparkSession and do the workload's
  *     per-session work;
  *  3. run the first, cold pass. `setup_s` is the set-up plus this cold
  *     pass: what a one-shot user pays, with the session start-up, the
  *     pass's JIT warm-up and any per-JVM memoized model fits. A JVM is cold
  *     once, so neither part can be repeated in one run;
  *  4. run the workload's `warmups` untimed passes, then warm passes
  *     until `--seconds` have elapsed (at least one);
  *     `wall_s` is their median, `op_p50_ms`/`op_p90_ms` are taken over
  *     the workload's operation latencies (`Workload.latencies`);
  *  5. run the output checks once, untimed.
  *
  * `live_heap_mb` is the heap in use after a full collection that follows
  * the cold pass.
  *
  * Traced run (`--trace 1`), which gives the per-layer metrics: the same
  * set-up, cold pass and untimed passes, then two untraced and two traced
  * warm passes in turn (the job listener attached for the traced ones);
  * the traced median wall time minus the untraced median is the tracing
  * overhead. The per-layer metrics come from the last traced pass plus one
  * timed `Tables.apply` per table the workload reads. The spans are
  * written to `<results>/<tag>-spans.json`.
  *
  * Metric names and units are read from `BENCHMARK.json` (`--benchmark`);
  * a run fails if it computes a metric that file does not list, or lacks
  * an end-to-end one it does.
  */
object Main {
  def missing(path: String): Nothing = {
    System.err.println(s"e2ebench: missing input $path")
    System.out.flush()
    sys.exit(3)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Percentile by linear interpolation between order statistics: with the
    * few dozen operations of a run, nearest rank would jump between the
    * largest samples. */
  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) return 0.0
    val x = p * (s.size - 1)
    val i = x.toInt
    if (i + 1 >= s.size) s(i) else s(i) + (x - i) * (s(i + 1) - s(i))
  }

  def main(args: Array[String]): Unit = {
    val a = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    if (a.contains("dump-oracle")) { dumpOracle(a("dump-oracle")); return }
    val smoke = args.contains("--smoke")
    val w = Workloads.byName(a("workload"))
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val results = a("results")
    val tag = a("tag")
    Expected.setDir(a("expected"))
    val hostStart = Host.sample()
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "1").toInt
    val (endToEnd, perLayer) = Catalogue.load(a("benchmark"))
    val tr = new Tracer
    val ctx = new Ctx(tr, Paths.get("").toAbsolutePath, seed, smoke, a("data"), cores)
    if (!Files.isDirectory(Paths.get(ctx.data))) missing(ctx.data)
    w.inputs(ctx).foreach(p => if (!Files.exists(Paths.get(p))) missing(p))
    // The stored expected values are read at check time; fail early if absent.
    if (w == Batch) Expected.batch("sf0.1") else if (w == StreamReplay) Expected.stream("sf0.1")

    val g0 = System.nanoTime()
    w.generate(ctx)
    val genS = (System.nanoTime() - g0) / 1e9

    val allOps = mutable.ArrayBuffer.empty[Op]
    val s0 = System.nanoTime()
    ctx.spark = tr.span("Sessions.local", "sessions")(Sessions.local("e2ebench"))
    val sessionSpan = tr.spans.last
    w.session(ctx)
    val setupS = (System.nanoTime() - s0) / 1e9
    w.beforePass(ctx)
    val c0 = System.nanoTime()
    allOps ++= w.pass(ctx)
    val coldPass = (System.nanoTime() - c0) / 1e9
    w.afterPass(ctx)
    // Measured at a fixed point, after the same work in every run: a full
    // collection leaves what the workload keeps alive.
    val liveHeap = if (traced) 0.0 else Host.liveHeapMb()

    def timedPass(): (Double, Seq[Op], Span) = {
      w.beforePass(ctx)
      val p0 = System.nanoTime()
      val ops = tr.span("pass", "bench")(w.pass(ctx))
      val wall = (System.nanoTime() - p0) / 1e9
      val span = tr.spans.filter(s => s.name == "pass" && s.parent == -1).last
      w.afterPass(ctx)
      allOps ++= ops
      (wall, ops, span)
    }

    // Untimed passes that finish the JIT warm-up the cold pass began.
    val warmupWalls = (0 until w.warmups).map(_ => timedPass()._1)

    val values = mutable.Map.empty[String, Double]
    val info = mutable.LinkedHashMap.empty[String, Any]
    info("warmup_walls_s") = warmupWalls
    if (!traced) {
      val walls = mutable.ArrayBuffer.empty[Double]
      val timedOps = mutable.ArrayBuffer.empty[Op]
      val start = System.nanoTime()
      while ((System.nanoTime() - start) / 1e9 < seconds) {
        val (wall, ops, _) = timedPass()
        walls += wall; timedOps ++= ops
      }
      val lat = w.latencies(timedOps.filter(_.ok).toSeq)
      values ++= Seq("setup_s" -> (setupS + coldPass), "wall_s" -> median(walls.toSeq),
        "op_p50_ms" -> pct(lat, 0.5), "op_p90_ms" -> pct(lat, 0.9))
      info ++= Seq("session_setup_s" -> setupS, "cold_pass_s" -> coldPass,
        "pass_walls_s" -> walls.toSeq, "timed_ops" -> timedOps.size,
        "op_ms" -> timedOps.groupMap(_.name)(_.ms).map { case (k, v) => k -> median(v.toSeq) })
    } else {
      // Untraced and traced passes alternate, so JIT warm-up over the run
      // does not pass for tracing overhead.
      val (untraced, tracedPasses) = (0 until 2).map { _ =>
        val u = timedPass()._1
        tr.attach(ctx.spark)
        val t = timedPass()
        tr.detach()
        (u, t)
      }.unzip
      val last = tracedPasses.last._3
      tr.attach(ctx.spark)
      val tableSpans = w.tables.map { t =>
        tr.span(s"Tables.apply $t", "tables")(Tables(ctx.spark, ctx.sfDir, t).schema)
        tr.spans.last
      }
      tr.detach()
      val layers = mutable.Map.empty[String, Double] ++ w.layers(ctx, last)
      layers("tables.load_ms") = tableSpans.map(_.ms).sum
      layers("tables.load_jobs") = tableSpans.map(s => tr.countersOf(s.id).jobs).sum.toDouble
      val self = (Seq(sessionSpan.id, last.id) ++ tableSpans.map(_.id))
        .flatMap(id => tr.selfTimeMs(id).toSeq)
      Catalogue.SelfLayers.foreach { l =>
        layers(s"self.${l}_ms") = self.filter(_._1.split('.').head.toLowerCase == l).map(_._2).sum
      }
      layers("trace.overhead_s") = median(tracedPasses.map(_._1)) - median(untraced)
      values ++= layers
      info ++= Seq("untraced_walls_s" -> untraced, "traced_walls_s" -> tracedPasses.map(_._1),
        "untagged_jobs" -> tr.untaggedJobs)
      Files.writeString(Paths.get(results, s"$tag-spans.json"), Json(Map(
        "workload" -> w.name, "seed" -> seed, "spans" -> tr.toJson(cores))))
    }

    val checks = w.checks(ctx) ++ (if (traced && w == Batch) Seq(Check(
      "build+plan+exec account for each query's wall within 5 ms",
      values("phases.unaccounted_ms") <= 5.0, s"${values("phases.unaccounted_ms")} ms"))
    else Nil)
    checks.filterNot(_.ok).foreach(c => System.err.println(s"e2ebench: CHECK FAILED ${c.name}: ${c.detail}"))
    val attempted = allOps.size + checks.size
    val failed = allOps.count(!_.ok) + checks.count(!_.ok)
    if (!traced) {
      values("ok_rate") = 1.0 - failed.toDouble / attempted
      values("live_heap_mb") = liveHeap
      info("vm_hwm_mb") = Host.peakRssMb()
    }
    // Every listed per-layer metric is reported, 0 where the workload does
    // not touch the layer; every end-to-end one must have been measured.
    val listed = if (traced) perLayer else endToEnd
    val unlisted = values.keySet -- listed.map(_._1)
    require(unlisted.isEmpty, s"metrics not listed in BENCHMARK.json: ${unlisted.toSeq.sorted.mkString(", ")}")
    val metrics = listed.map { case (k, u) =>
      k -> (if (traced) values.getOrElse(k, 0.0)
        else values.getOrElse(k, sys.error(s"end-to-end metric $k was not measured")), u)
    }
    val sparkVersion = ctx.spark.version
    ctx.spark.stop()

    val host = Host.facts(hostStart, Host.sample(), sparkVersion)
    info ++= Seq("workload" -> w.name, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "smoke" -> smoke, "gen_s" -> genS, "checks" -> checks.map(c =>
        Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)))
    val result = Map("correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "metrics" -> ListMap(metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }: _*))
    Files.writeString(Paths.get(results, s"$tag.json"),
      Json(Map("host" -> host, "info" -> info, "result" -> result)))
    println("E2EBENCH_HOST " + Json(host ++ Map("gen_s" -> genS)))
    println(Json(result))
  }

  /** Writes the DuckDB oracle SQL of the batch workload's queries, the input
    * of expected/make_batch_expected.py. */
  private def dumpOracle(path: String): Unit =
    Files.writeString(Paths.get(path), Json(graft.SparkEntry.oracleSql
      .filter { case (q, _) => Batch.Queries.contains(q) }))
}
