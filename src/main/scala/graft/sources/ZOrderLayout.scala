package graft.sources

import graft.{QuerySpec, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Z-order (Morton) multi-dimensional layout — the file-skipping lever
  * for 100 TB tables queried on MORE THAN ONE column: interleaving the
  * bits of two sort keys gives every range-partitioned file a bounded
  * rectangle in BOTH dimensions, so min/max zone maps prune on either
  * predicate (a plain sort bounds only its leading column). The
  * interleave is a handful of flat codegen'd shift/mask ops — no UDF, no
  * shuffle beyond the final repartitionByRange write.
  *
  * Production note: 16-bit coordinates cover the fixture's key ranges;
  * at real scale the inputs are first rank-bucketed (ntile or
  * approx_percentile cuts) into 2^16 cells each, which also equalizes
  * skewed dimensions before interleaving.
  */
object ZOrderLayout {

  /** Morton-interleave of the low 16 bits of two BIGINT columns: bit i of
    * x lands at z-bit 2i, bit i of y at 2i+1. Implemented as the 4-step
    * magic-mask bit spread (5 shift/mask ops per coordinate) instead of a
    * 16-iteration per-bit fold — same values, ~16× less per-row work, all
    * flat codegen'd integer ops. The DuckDB oracle keeps the independent
    * per-bit-loop formulation, so the two sides derive the interleave two
    * different ways and must still agree bit-for-bit. */
  def withZ(df: DataFrame, x: String, y: String): DataFrame = {
    def spread(src: String, out: String)(d: DataFrame): DataFrame = d
      .withColumn(out, expr(s"$src & 65535"))
      .withColumn(out, expr(s"($out | shiftleft($out, 8)) & 16711935"))     // 0x00FF00FF
      .withColumn(out, expr(s"($out | shiftleft($out, 4)) & 252645135"))    // 0x0F0F0F0F
      .withColumn(out, expr(s"($out | shiftleft($out, 2)) & 858993459"))    // 0x33333333
      .withColumn(out, expr(s"($out | shiftleft($out, 1)) & 1431655765"))   // 0x55555555
    spread(y, "zy")(spread(x, "zx")(df))
      .withColumn("z", expr("zx + 2 * zy"))
      .drop("zx", "zy")
  }

  val specs: Seq[QuerySpec] = Seq(
    // The interleave itself, oracled exactly: per z-region (top bits of
    // the Morton code) both engines must agree on row counts and the
    // min/max bounding box of each dimension — integer bit arithmetic,
    // bit-exact by construction. The bounded per-region boxes ARE the
    // zone-map property the layout exists for; ZOrderSpec additionally
    // proves the file-skipping effect on written parquet.
    QuerySpec("q117_zorder",
      (s, d) => withZ(
        Tables(s, d, "lineitem")
          .select((col("l_partkey") % 65536).as("x"),
            (col("l_suppkey") % 65536).as("y")),
        "x", "y")
        .groupBy(expr("z div 65536").as("z_region"))
        .agg(count(lit(1)).as("n"),
          min("x").as("min_x"), max("x").as("max_x"),
          min("y").as("min_y"), max("y").as("max_y"))
        .orderBy("z_region"),
      Some("WITH c AS (SELECT l_partkey % 65536 AS x, l_suppkey % 65536 AS y " +
        "FROM lineitem), " +
        "zc AS (SELECT x, y, CAST(list_sum(list_transform(generate_series(0, 15), " +
        "i -> (((x >> i) & 1) << (2*i)) + (((y >> i) & 1) << (2*i+1)))) AS BIGINT) AS z " +
        "FROM c) " +
        "SELECT z // 65536 AS z_region, count(*) AS n, " +
        "min(x) AS min_x, max(x) AS max_x, min(y) AS min_y, max(y) AS max_y " +
        "FROM zc GROUP BY 1 ORDER BY z_region"))
  )
}
