package e2ebench

import graft.{QuerySpec, Tables}
import graft.golden.Golden
import graft.graphx.{GraphxAnalytics, StarComponents}
import graft.snap.{EgoGraphs, GraphAnalytics}
import graft.streaming.{StatefulSessions, Streams}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** State shared by a run's workload and its protocol. */
final class Ctx(val tr: Tracer, val work: Path, val seed: Long, val smoke: Boolean,
    val data: String, val cores: Int) {
  var spark: SparkSession = _
  def sfDir: String = s"$data/${if (smoke) "sf0.001" else "sf0.1"}"
}

/** One timed call into the engine: a query, a pipeline step or a
  * micro-batch trigger. */
final case class Op(name: String, ms: Double, ok: Boolean)

/** A named output check, made once per run outside the timed passes. */
final case class Check(name: String, ok: Boolean, detail: String = "")

abstract class Workload {
  def name: String
  /** Input files the run needs before anything starts. */
  def inputs(ctx: Ctx): Seq[String] = Nil
  /** The benchmark's own input generation, once per run, timed apart. */
  def generate(ctx: Ctx): Unit = ()
  /** Work a user pays once per session before the first pass; part of
    * set-up time. */
  def session(ctx: Ctx): Unit = ()
  /** Untimed preparation right before a pass. */
  def beforePass(ctx: Ctx): Unit = ()
  /** One pass: its operations, each timed. */
  def pass(ctx: Ctx): Seq[Op]
  /** Untimed work after a pass: fingerprints for the checks, unpersisting. */
  def afterPass(ctx: Ctx): Unit = ()
  def checks(ctx: Ctx): Seq[Check]
  /** Per-layer metrics of one traced pass (the catalogue fills the rest
    * with 0). */
  def layers(ctx: Ctx, passSpan: Span): Map[String, Double]
  /** Tables whose `Tables.apply` the traced run times. */
  def tables: Seq[String] = Nil
  /** Untimed passes between the cold pass and the timed ones. */
  def warmups: Int = 0
  /** The latencies `op_p50_ms`/`op_p90_ms` are taken over, from the
    * successful operations of the warm passes: each operation by default. */
  def latencies(ops: Seq[Op]): Seq[Double] = ops.map(_.ms)

  protected def op(ctx: Ctx, name: String, layer: String)(body: => Unit): Op = {
    val t0 = System.nanoTime()
    val ok =
      try { ctx.tr.span(name, layer)(body); true }
      catch {
        case e: Throwable =>
          System.err.println(s"e2ebench: $name FAILED: $e")
          e.printStackTrace()
          false
      }
    Op(name, (System.nanoTime() - t0) / 1e6, ok)
  }

  protected def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

object Workloads {
  val all: Seq[Workload] = Seq(Batch, EgoPipeline, StreamReplay)
  def byName(n: String): Workload =
    all.find(_.name == n).getOrElse(sys.error(s"unknown workload $n"))

  def copyDir(from: Path, to: Path): Unit = {
    Files.createDirectories(to)
    Files.list(from).iterator().asScala.foreach(f => Files.copy(f, to.resolve(f.getFileName)))
  }
}

/** A fixed, representative slice of the batch QuerySpec suite at sf0.1:
  * each op is one query (build, plan, noop-write execute), in a seeded
  * order per pass. */
object Batch extends Workload {
  val name = "batch-sf0.1"

  /** One or two queries per module of the suite, chosen to keep one warm
    * pass near 3 s on 4 cores (README.md gives the reasons per query). */
  val Queries: Seq[String] = Seq(
    "q01_filter_agg", "q14_window_rank", "q40_text_stats", "q44_ngram_jaccard",
    "q47_cosine_pairs", "q49_ann_lsh", "q50_multimodal_binary",
    "q137_file_skipping", "q61_json_roundtrip")

  /** Suite module of each spec list, as the per-layer metrics name them
    * (`graphx.paths`, whose one query is left out, is not listed). */
  val Modules: Seq[(String, Seq[QuerySpec])] = {
    import graft._
    Seq("relational" -> relational.RelationalSuite.specs,
      "ext.text" -> ext.TextSuite.specs, "ext.dedup" -> ext.DedupSuite.specs,
      "ext.similarity" -> ext.SimilaritySuite.specs,
      "ext.multimodal" -> ext.Multimodal.specs, "ext.scaleops" -> ext.ScaleOps.specs,
      "sources" -> (sources.SourceFormats.specs ++ sources.ZOrderLayout.specs))
  }
  private def moduleOf(q: String): (String, QuerySpec) =
    Modules.iterator.flatMap { case (m, ss) => ss.find(_.name == q).map(m -> _) }
      .nextOption().getOrElse(sys.error(s"no QuerySpec named $q"))

  override def tables: Seq[String] = Tables.names
  override def inputs(ctx: Ctx): Seq[String] = Tables.names.map(t => s"${ctx.sfDir}/$t.parquet")

  /** The first two passes after the cold one are still 20-30 % slower than
    * the later ones (JIT); timing them made `wall_s` depend on how many
    * passes fit in `--seconds`. */
  override def warmups: Int = 2

  private var passNo = 0
  def pass(ctx: Ctx): Seq[Op] = {
    passNo += 1
    new scala.util.Random(ctx.seed * 7919 + passNo).shuffle(Queries).map { q =>
      val (module, spec) = moduleOf(q)
      op(ctx, q, "bench") {
        val df = ctx.tr.span("build", module)(spec.run(ctx.spark, ctx.sfDir))
        ctx.tr.span("plan", module)(df.queryExecution.executedPlan)
        ctx.tr.span("exec", module)(noop(df))
      }
    }
  }

  /** Row count and digest of every query against `expected/batch.tsv`. */
  def checks(ctx: Ctx): Seq[Check] = {
    val sf = if (ctx.smoke) "sf0.001" else "sf0.1"
    val expected = Expected.batch(sf)
    Queries.map { q =>
      try {
        val (rows, digest) = Digest.of(moduleOf(q)._2.run(ctx.spark, ctx.sfDir))
        val want = expected.get(q)
        Check(s"$q rows+digest", want.contains((rows, digest)),
          s"got $rows $digest, expected ${want.getOrElse("none")}")
      } catch { case e: Throwable => Check(s"$q rows+digest", ok = false, e.toString) }
    }
  }

  def layers(ctx: Ctx, passSpan: Span): Map[String, Double] = {
    val phases = for {
      qs <- ctx.tr.children(passSpan.id); ph <- ctx.tr.children(qs.id)
    } yield (ph.layer, ph.name, ph.ms, ctx.tr.countersOf(ph.id).jobs.toDouble)
    val perModule = phases.groupBy(_._1).toSeq.flatMap { case (m, ps) =>
      def ms(n: String) = ps.filter(_._2 == n).map(_._3).sum
      Seq(s"$m.build_ms" -> ms("build"), s"$m.build_jobs" -> ps.filter(_._2 == "build").map(_._4).sum,
        s"$m.plan_ms" -> ms("plan"), s"$m.exec_ms" -> ms("exec"))
    }
    val execMs = phases.filter(_._2 == "exec").map(_._3).sum
    val unaccounted = ctx.tr.children(passSpan.id)
      .map(q => math.abs(q.ms - ctx.tr.children(q.id).map(_.ms).sum)).maxOption.getOrElse(0.0)
    (perModule ++ ctx.tr.subtree(passSpan.id).metrics(execMs, ctx.cores)
      .map { case (k, v) => s"exec.$k" -> v } :+ ("phases.unaccounted_ms" -> unaccounted)).toMap
  }
}

/** The paper's pipeline on ten generated ego networks: parse + load,
  * render the proofs and metrics files (centrality included), fixed-point
  * PageRank, star-contraction CC, the k-core peel and, timed on its own,
  * the wedge-join clustering that `Golden.render` also runs inside. */
object EgoPipeline extends Workload {
  val name = "ego-pipeline"
  private def src(ctx: Ctx) = ctx.work.resolve("snap-src")
  private def sizes(ctx: Ctx) = SnapGen.scaled(if (ctx.smoke) 20 else 10)

  override def generate(ctx: Ctx): Unit = SnapGen.write(src(ctx), ctx.seed, sizes(ctx))

  /** One latency per step, its median over the warm passes. The steps take
    * 0.5-2.5 s each and their order by time changes from run to run, so a
    * percentile over single step runs would follow whichever step happened
    * to land in the middle; a percentile over per-step medians moves only
    * when a step does. */
  override def latencies(ops: Seq[Op]): Seq[Double] =
    ops.groupMap(_.name)(_.ms).values.map(Main.median).toSeq

  private var passNo = 0
  private var dir: Path = _
  private var g: EgoGraphs = _
  private var pr: DataFrame = _
  private var out: Map[String, Golden.EgoOutputs] = Map.empty
  private val rendered = mutable.ArrayBuffer.empty[Map[String, Golden.EgoOutputs]]
  private val ccRounds = mutable.ArrayBuffer.empty[Int]

  /** A fresh copy per pass: EgoGraphs.load memoizes per (session, dir), so
    * a reused dir would skip the parse. */
  override def beforePass(ctx: Ctx): Unit = {
    passNo += 1
    dir = ctx.work.resolve(s"snap-pass-$passNo")
    Workloads.copyDir(src(ctx), dir)
  }

  def pass(ctx: Ctx): Seq[Op] = {
    val s = ctx.spark; val d = dir.toString
    Seq(
      op(ctx, "snap.load", "snap") {
        g = EgoGraphs.load(s, d)
        g.edges.count(); g.friends.count(); g.vertices.count()
      },
      op(ctx, "golden.render", "golden") { out = Golden.render(g, withCentrality = true) },
      op(ctx, "graphx.pagerank", "graphx") {
        pr = GraphxAnalytics.pagerankFixed(s, d, GraphxAnalytics.egoOrder)
      },
      op(ctx, "graphx.cc", "graphx") {
        val idx = typedLit(GraphxAnalytics.egoOrder.zipWithIndex.toMap)
        def vid(c: String) = element_at(idx, col("ego")).cast("long") * 100000000L + col(c).cast("long")
        val (labels, st) = StarComponents.runWithStats(s, g.edges.select(vid("src").as("u"), vid("dst").as("v")))
        noop(labels)
        ccRounds += st.rounds
      },
      op(ctx, "snap.kcore", "snap")(noop(GraphAnalytics.kcore(g.edges, k = 10, rounds = 8))),
      op(ctx, "snap.clustering", "snap")(noop(GraphAnalytics.clustering(g.edges))))
  }

  override def afterPass(ctx: Ctx): Unit = {
    rendered += out
    Seq(g.edges, g.friends, g.vertices, pr).filter(_ != null).foreach(_.unpersist(blocking = true))
    out = Map.empty; pr = null
    graft.TmpFiles.deleteRecursively(dir.toString)
  }

  def checks(ctx: Ctx): Seq[Check] = {
    val first = rendered.headOption.getOrElse(Map.empty)
    val same = Check("rendered bytes identical across passes",
      rendered.nonEmpty && rendered.forall(_ == first), s"${rendered.size} passes")
    val perEgo = sizes(ctx).map { sz =>
      val ego = sz.ego.toString
      val (nodes, edges, cc) = SnapGen.reference(src(ctx), sz.ego)
      val m = first.get(ego).map(_.metrics.split("\n").toSeq).getOrElse(Nil)
      val got = m.collect { case l if l.startsWith("Clustering coefficient for ") =>
        val Array(n, v) = l.stripPrefix("Clustering coefficient for ").split(": ")
        n -> v.toDouble
      }
      val ok = m.contains(s"Node count: $nodes") && m.contains(s"Edge count: $edges") &&
        got.size == cc.size && got.forall { case (n, v) => cc.get(n).contains(v) }
      Check(s"ego $ego counts and clustering", ok,
        s"nodes $nodes edges $edges friends ${cc.size}, rendered ${got.size} lines")
    }
    val emptyHyp = Check(s"ego ${SnapGen.NoHypothesisEgo} has an empty hypothesis set",
      first.get(SnapGen.NoHypothesisEgo.toString)
        .exists(_.proofs.contains("same university: 0\n")))
    same +: emptyHyp +: perEgo
  }

  /** Per-step time and counters of the traced pass (`<step>_s`,
    * `<step>.<counter>`), plus the pass's execute counters. */
  def layers(ctx: Ctx, passSpan: Span): Map[String, Double] = {
    val steps = ctx.tr.children(passSpan.id).flatMap { s =>
      val k = ctx.tr.subtree(s.id).metrics(s.ms, ctx.cores).toMap
      (s"${s.name}_s" -> s.ms / 1000.0) +: Catalogue.StepCounters.map(c => s"${s.name}.$c" -> k(c))
    }
    (steps ++ ctx.tr.subtree(passSpan.id).metrics(passSpan.ms, ctx.cores)
      .map { case (k, v) => s"exec.$k" -> v }).toMap + ("graphx.cc_rounds" -> ccRounds.last.toDouble)
  }
}

/** `events` replayed as time-ordered parquet chunks, one chunk per
  * micro-batch, through sessionize, intervalJoinFrame and
  * windowedTopkFrame into memory sinks. Each op is one data-carrying
  * trigger. */
object StreamReplay extends Workload {
  val name = "stream-replay"
  /** Micro-batches per stream: few enough that one pass of the three
    * streams fits the run budget on 4 cores. */
  val Chunks = 4
  val StreamNames: Seq[String] = Seq("s_stateful_sessions", "s_stream_join", "s_windowed_topk")
  override def tables: Seq[String] = Seq("events")
  override def inputs(ctx: Ctx): Seq[String] = Seq(s"${ctx.sfDir}/events.parquet")

  private var sessDir: String = _
  private var eventsDir: String = _
  private var schema: org.apache.spark.sql.types.StructType = _
  /** Per pass: stream -> (out_rows, state_rows_max). */
  private val results = mutable.ArrayBuffer.empty[Map[String, (Long, Long)]]
  private val progress = mutable.ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]

  /** Writes `df` as `Chunks` parquet files of equal event-time width, one
    * append per chunk, and stamps their modification times 1 s apart in
    * time order: FileStreamSource ingests in modification-time order, and
    * files of one parallel write share a clock tick. Chunk boundaries are
    * computed here, not by `repartitionByRange`, whose sampled bounds depend
    * on the RDD id and so on everything the session ran before. */
  private def writeChunks(df: DataFrame, dir: String, stampFrom: Long): Long = {
    val r = df.agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head()
    val (lo, width) = (r.getLong(0), (r.getLong(1) - r.getLong(0)) / Chunks + 1)
    val chunk = ((unix_micros(col("ts")) - lit(lo)) / lit(width)).cast("int")
    (0 until Chunks).foldLeft(stampFrom) { (t, c) =>
      val before = Option(new java.io.File(dir).list()).map(_.toSet).getOrElse(Set.empty[String])
      df.filter(chunk === c).coalesce(1).sortWithinPartitions("ts")
        .write.mode("append").parquet(dir)
      stamp(dir, before, t)
    }
  }

  private def stamp(dir: String, before: Set[String], t: Long): Long = {
    new java.io.File(dir).listFiles().filter(f => f.getName.startsWith("part-") && !before(f.getName))
      .foreach(f => require(f.setLastModified(t + 1000L), s"cannot set mtime on $f"))
    t + 1000L
  }

  /** The replay chunks are the session's set-up, written from the table
    * through Tables, as a user of the streams would. */
  override def session(ctx: Ctx): Unit = ctx.tr.span("stream.replay_setup", "streaming") {
    val s = ctx.spark; import s.implicits._
    val events = Tables(s, ctx.sfDir, "events")
    schema = events.schema
    val t0 = System.currentTimeMillis()
    sessDir = Files.createTempDirectory(ctx.work, "replay-sessions").toString
    val ev = events.select("user_id", "ts")
    val last = writeChunks(ev, sessDir, t0)
    // Flush sentinel far past the last event, ingested last: every open
    // session times out and is emitted.
    val maxTs = ev.agg(max("ts")).head().getTimestamp(0).getTime
    val chunkFiles = new java.io.File(sessDir).list().toSet
    Seq((-1L, new java.sql.Timestamp(maxTs + 24 * 3600 * 1000L))).toDF("user_id", "ts")
      .coalesce(1).write.mode("append").parquet(sessDir)
    stamp(sessDir, chunkFiles, last + 60000L)
    eventsDir = Files.createTempDirectory(ctx.work, "replay-events").toString
    writeChunks(events, eventsDir, t0)
  }

  override def beforePass(ctx: Ctx): Unit = { progress.clear(); sinks.clear() }

  /** Memory-sink table and state high-water mark of each stream of the
    * current pass, read after the pass. */
  private val sinks = mutable.ArrayBuffer.empty[(String, String, Long)]

  def pass(ctx: Ctx): Seq[Op] = {
    val s = ctx.spark
    def stream(dir: String, sch: org.apache.spark.sql.types.StructType) =
      s.readStream.schema(sch).option("maxFilesPerTrigger", 1).parquet(dir)
    val sessionEvents = org.apache.spark.sql.types.StructType.fromDDL("user_id LONG, ts TIMESTAMP")
    val runs = Seq[(String, () => DataFrame, String)](
      ("s_stateful_sessions",
        () => StatefulSessions.sessionize(stream(sessDir, sessionEvents)).toDF(), "append"),
      ("s_stream_join", () => Streams.intervalJoinFrame(stream(eventsDir, schema)), "append"),
      ("s_windowed_topk", () => Streams.windowedTopkFrame(stream(eventsDir, schema)), "complete"))
    runs.flatMap { case (name, frame, mode) =>
      val mem = "e2e_" + java.util.UUID.randomUUID().toString.replace("-", "")
      var prog = Array.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
      val whole = op(ctx, name, "streaming") {
        val q = frame().writeStream.format("memory").queryName(mem).outputMode(mode).start()
        try { q.processAllAvailable(); prog = q.recentProgress } finally q.stop()
      }
      sinks += ((name, mem, (0L +: prog.toSeq.map(_.stateOperators.map(_.numRowsTotal).sum)).max))
      progress ++= prog
      if (!whole.ok) Seq(whole.copy(name = s"$name trigger"))
      else prog.filter(_.numInputRows > 0).toSeq.map(p => Op(s"$name trigger",
        Option(p.durationMs.get("triggerExecution")).map(_.toDouble).getOrElse(0.0), ok = true))
    }
  }

  override def afterPass(ctx: Ctx): Unit = results += sinks.map { case (name, mem, stateMax) =>
    val out = ctx.spark.table(mem).count()
    ctx.spark.catalog.dropTempView(mem)
    name -> (out, stateMax)
  }.toMap

  def checks(ctx: Ctx): Seq[Check] = {
    val want = Expected.stream(if (ctx.smoke) "sf0.001" else "sf0.1")
    StreamNames.map { name =>
      val seen = results.map(_.get(name))
      Check(s"$name out_rows/state_rows_max", seen.nonEmpty && seen.forall(s => s.isDefined && s == want.get(name)),
        s"expected ${want.get(name)}, seen ${seen.flatten.distinct.mkString(" ")}")
    }
  }

  def layers(ctx: Ctx, passSpan: Span): Map[String, Double] = {
    val data = progress.filter(_.numInputRows > 0).toSeq
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sorted.apply(xs.size / 2)
    def phase(k: String) = med(data.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)))
    val ops = data.map(_.stateOperators.toSeq)
    Map(
      "stream.trigger_ms" -> phase("triggerExecution"), "stream.addBatch_ms" -> phase("addBatch"),
      "stream.queryPlanning_ms" -> phase("queryPlanning"), "stream.walCommit_ms" -> phase("walCommit"),
      "stream.latestOffset_ms" -> phase("latestOffset"),
      "state.rows_total" -> (0L +: ops.map(_.map(_.numRowsTotal).sum)).max.toDouble,
      "state.commit_ms" -> med(ops.filter(_.nonEmpty).map(_.map(_.commitTimeMs).sum.toDouble)),
      "state.memory_bytes" -> (0L +: ops.map(_.map(_.memoryUsedBytes).sum)).max.toDouble,
      "state.partitions" -> (0L +: ops.map(_.map(_.numStateStoreInstances.toLong).sum)).max.toDouble) ++
      ctx.tr.subtree(passSpan.id).metrics(passSpan.ms, ctx.cores).map { case (k, v) => s"exec.$k" -> v }
  }
}
