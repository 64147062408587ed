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
  *  - one network timeout for every session, 900 s by default (see
  *    [[networkTimeout]]).
  */
object Sessions {
  /** Local core count: `SPARK_GRAFT_CPUS` when set (the deployment
    * override), else every core the JVM sees. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors.toString)

  /** `spark.network.timeout`: 900 s unless `SPARK_GRAFT_NETWORK_TIMEOUT`
    * names another value. Spark's 120 s default kills the local executor
    * whenever the host stalls for longer, and virtualized hosts have
    * frozen for minutes (driver heartbeat gaps of 373 s and 607 s during
    * at-scale runs). Heartbeats still flow every 10 s, so a real hang is
    * still detected, 15 min later; in one local JVM that costs nothing,
    * since a dead JVM fails the run regardless of this timeout. A
    * deployment that wants faster lost-executor detection sets the
    * variable. */
  private def networkTimeout: String =
    sys.env.getOrElse("SPARK_GRAFT_NETWORK_TIMEOUT", "900s")

  def local(appName: String = "graft"): SparkSession = {
    val spark = SparkSession.builder()
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
      .config("spark.network.timeout", networkTimeout)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
