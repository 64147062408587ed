package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated parquet tables (see TESTDATA.md /
  * FIXTURES.md §2). One parquet file per table under the given sf dir.
  *
  * All queries go through here so that scans stay plain
  * `spark.read.parquet` — Catalyst then gets predicate pushdown, column
  * pruning and partition pruning on every plan for free.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    // events.ts is TIMESTAMP(NANOS) in the driver fixture, which Spark
    // cannot read as a timestamp; read it as ns-since-epoch LONG and
    // truncate to µs exactly like DuckDB does (integer division — ns
    // values exceed 2^53 so this must never round-trip through DOUBLE).
    // Dispatch on the PHYSICAL type, not the fixture name: re-materialized
    // copies of the table (e.g. the derive_scale.py sf1 fixture, or any
    // user re-write through a µs-precision engine) arrive as TIMESTAMP /
    // TIMESTAMP_NTZ already, and `ts div 1000` on those is a type error.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.parquet(s"$dir/$name.parquet")
    if (name == "events") {
      import org.apache.spark.sql.functions.{col, expr}
      import org.apache.spark.sql.types.{LongType, TimestampNTZType}
      df.schema("ts").dataType match {
        case LongType => // TIMESTAMP(NANOS) read as ns-long: truncate to µs
          df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
        case TimestampNTZType => // µs wall-clock; session TZ is UTC so this
          // cast is an exact reinterpretation, not a zone shift
          df.withColumn("ts", col("ts").cast("timestamp"))
        case _ => df
      }
    } else df
  }
}
