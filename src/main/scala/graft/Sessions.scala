package graft

import org.apache.spark.sql.SparkSession

/** Single construction point for every entry point (Verify, Bench, tests).
  *
  * Scale posture (designed for a multi-executor cluster, tested at
  * local[N]):
  *  - AQE on with skew-join + partition coalescing: runtime re-planning
  *    replaces hand-tuned shuffle sizing when real data is skewed (the
  *    in-repo example is ego 107 vs ego 3980 — 1034 vs 52 friends).
  *  - `spark.sql.shuffle.partitions` sized to the local core count; on a
  *    real cluster this is overridden and AQE right-sizes post-shuffle
  *    partitions anyway.
  *  - `nanosAsLong` set once at build time (events.ts is TIMESTAMP(NANOS),
  *    which Spark cannot read natively — see [[Tables]]).
  */
object Sessions {
  /** Local core count: `SPARK_GRAFT_CPUS` when set (the deployment
    * override), else every core the JVM sees. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors.toString)

  /** `spark.network.timeout` for freeze-tolerant entry points (see
    * [[local]]'s `freezeTolerant`). Overridable per-invocation via the
    * `SPARK_GRAFT_NETWORK_TIMEOUT` env var (e.g. a long `sbt test` run
    * on this box can opt in without code changes). */
  private def networkTimeout(freezeTolerant: Boolean): Option[String] =
    sys.env.get("SPARK_GRAFT_NETWORK_TIMEOUT")
      .orElse(if (freezeTolerant) Some("900s") else None)

  def local(appName: String = "graft", freezeTolerant: Boolean = false): SparkSession = {
    val builder = SparkSession.builder()
      .appName(appName)
      .master(s"local[$cpus]")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // mapKeyDedupPolicy stays at the EXCEPTION default: duplicate map
      // keys are bugs everywhere except the circle overlay, which spells
      // its overwrite semantics out explicitly (EgoGraphs.vertices).
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
    // freezeTolerant (scoped per r16 verdict — NOT a library default):
    // this VM guest freezes wholesale for minutes at a time under the
    // hypervisor (dmesg: hrtimer interrupt overruns; observed driver
    // heartbeat gaps of 373 s and 607 s during at-scale runs). Spark's
    // default 120 s network timeout then kills the local executor and
    // the whole run. 900 s rides out those freezes; heartbeats still
    // flow every 10 s (default), so a REAL hang is detected — just
    // 15 min later, which on a single-JVM local box costs nothing (a
    // dead JVM fails the run regardless of this timeout). Only the
    // long-running mains of THIS repo (Verify/Bench/golden/at-scale
    // tools) opt in; the bare factory keeps Spark's default so a
    // library consumer on a real cluster keeps sane lost-executor
    // detection.
    networkTimeout(freezeTolerant).foreach(t => builder.config("spark.network.timeout", t))
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
