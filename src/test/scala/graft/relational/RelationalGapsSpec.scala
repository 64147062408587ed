package graft.relational

import graft.{SparkSuite, Tables}
import org.apache.spark.sql.functions._

import scala.util.control.NonFatal

class RelationalGapsSpec extends SparkSuite {
  private val sf = "/root/testdata/sf0.001"

  test("q34 approx_count_distinct within 5% of exact per group") {
    val apx = RelationalSuite.byName("q34_approx_distinct").run(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = Tables(spark, sf, "orders")
      .groupBy("o_orderstatus").agg(countDistinct(col("o_custkey")).as("u"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(apx.keySet == exact.keySet)
    exact.foreach { case (k, ex) =>
      val a = apx(k)
      assert(math.abs(a - ex).toDouble / ex <= 0.05, s"$k: apx=$a exact=$ex")
    }
  }

  test("q133 approx profile: exact fields equal q115 verbatim, distincts within 5%") {
    // profileApprox shares q115's type-stable min/max cast discipline
    // (decimal for doubles, date for temporals), so the exact fields of
    // the two profilers must match VERBATIM — rendering included — and
    // only n_distinct (the HLL estimate) gets a tolerance.
    def byCol(name: String) =
      RelationalSuite.byName(name).run(spark, sf).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getString(3), r.getString(4)))
        .toMap
    // The swap-in's plan contract, updated in r19: q115's exact distincts
    // now run as one single-distinct aggregate per column, unioned — no
    // Expand anywhere (the old wide-agg form's 6 COUNT(DISTINCT)s forced
    // an Expand ×7 whose string-buffered aggs sort-aggregated the
    // amplified rows; measured 5.5× slower, query_ab_r19_q115). The HLL
    // profiler's remaining contrast is pass count: q133 profiles in ONE
    // scan, q115 pays one column-pruned scan per profiled column. Pin
    // both sides.
    val apxPlan = RelationalSuite.byName("q133_profile_approx").run(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!apxPlan.contains("Expand"),
      s"q133 must profile in ONE un-expanded scan:\n$apxPlan")
    assert(apxPlan.split("Scan parquet").length - 1 == 1,
      s"q133 must profile in ONE scan:\n$apxPlan")
    val exactPlan = RelationalSuite.byName("q115_profile").run(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!exactPlan.contains("Expand"),
      s"q115 regressed to the Expand shape (r19 union-of-single-distincts):\n$exactPlan")
    assert(exactPlan.split("Scan parquet").length - 1 == 6,
      s"q115 must profile as 6 column-pruned scans:\n$exactPlan")
    val apx = byCol("q133_profile_approx")
    val exact = byCol("q115_profile")
    assert(apx.keySet == exact.keySet)
    exact.foreach { case (c, (nn, nd, mn, mx)) =>
      val (ann, and, amn, amx) = apx(c)
      assert(ann == nn, s"$c n_nonnull")
      assert(amn == mn && amx == mx, s"$c min/max: apx=($amn,$amx) exact=($mn,$mx)")
      assert(math.abs(and - nd).toDouble / nd <= 0.05, s"$c: apx=$and exact=$nd")
    }
  }

  test("q66 approx_percentile within rank-error bound of the exact quantile") {
    // accuracy=1000 bounds the RANK error at n/1000; convert to a value
    // bound by comparing against exact quantiles at p ± 2/1000.
    val apx = RelationalSuite.byName("q66_approx_percentiles").run(spark, sf)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    val bounds = Tables(spark, sf, "lineitem")
      .groupBy("l_returnflag")
      .agg(expr("percentile(l_quantity, 0.498)").as("p50_lo"),
        expr("percentile(l_quantity, 0.502)").as("p50_hi"),
        expr("percentile(l_quantity, 0.948)").as("p95_lo"),
        expr("percentile(l_quantity, 0.952)").as("p95_hi"),
        expr("percentile(l_extendedprice, 0.248)").as("p25_lo"),
        expr("percentile(l_extendedprice, 0.252)").as("p25_hi"))
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4),
          r.getDouble(5), r.getDouble(6))).toMap
    assert(apx.keySet == bounds.keySet)
    bounds.foreach { case (k, (l50, h50, l95, h95, l25, h25)) =>
      val (p50, p95, p25) = apx(k)
      assert(p50 >= l50 && p50 <= h50, s"$k p50=$p50 not in [$l50,$h50]")
      assert(p95 >= l95 && p95 <= h95, s"$k p95=$p95 not in [$l95,$h95]")
      assert(p25 >= l25 && p25 <= h25, s"$k price_p25=$p25 not in [$l25,$h25]")
    }
  }

  test("q89 per-group HLL sketches union to the whole-corpus estimate") {
    // The property that makes sketches the 100 TB answer: union of the
    // per-group sketches must equal a sketch built over the whole corpus
    // in one pass (no loss from partial/merge), and both must estimate
    // the true cardinality within 5%.
    val rows = RelationalSuite.byName("q89_hll_merge").run(spark, sf).collect()
    val merged = rows.find(_.getString(0) == "__merged__").get.getLong(1)
    val direct = Tables(spark, sf, "events")
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("e"))
      .head().getLong(0)
    assert(merged == direct, s"merged=$merged direct=$direct")
    val exact = Tables(spark, sf, "events")
      .select(countDistinct(col("user_id"))).head().getLong(0)
    assert(math.abs(merged - exact).toDouble / exact <= 0.05,
      s"merged=$merged exact=$exact")
  }

  test("q112 builtin corr/regr agree with the exact-moment closed forms") {
    // The oracled query derives corr/slope/intercept from exact integer
    // moments; Spark's builtin streaming aggregates (corr, regr_slope,
    // regr_intercept) use a different merge order and may drift ~1e-12 —
    // they must agree with the exact values to 1e-9 relative.
    val exact = RelationalSuite.byName("q112_stats_moments").run(spark, sf)
      .collect().map(r => r.getString(0) ->
        (r.getDouble(4), r.getDouble(5), r.getDouble(6))).toMap
    val builtin = Tables(spark, sf, "lineitem")
      .select(col("l_returnflag"),
        col("l_quantity").as("x"),
        (col("l_extendedprice") * 100).as("y_cents"))
      .groupBy("l_returnflag")
      .agg(corr(col("x"), col("y_cents")).as("c"),
        regr_slope(col("y_cents"), col("x")).as("sl"),
        regr_intercept(col("y_cents"), col("x")).as("ic"))
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(exact.keySet == builtin.keySet)
    def close(a: Double, b: Double): Boolean =
      math.abs(a - b) <= 1e-9 * math.max(1.0, math.max(math.abs(a), math.abs(b)))
    exact.foreach { case (k, (c, sl, ic)) =>
      val (bc, bsl, bic) = builtin(k)
      assert(close(c, bc), s"$k corr exact=$c builtin=$bc")
      assert(close(sl, bsl), s"$k slope exact=$sl builtin=$bsl")
      assert(close(ic, bic), s"$k intercept exact=$ic builtin=$bic")
    }
  }

  test("every declared query runs at sf0.001 and respects its schema") {
    // Every spec is checked even after one fails, and the failure names
    // all of them: stopping at the first would leave every later suite
    // in allSpecs unchecked behind an already-known failure.
    val failures = graft.SparkEntry.allSpecs.flatMap { spec =>
      try {
        val df = spec.run(spark, sf)
        if (df.columns.isEmpty) Some(s"${spec.name}: no output columns")
        else { df.limit(1).count(); None }
      } catch { case NonFatal(e) => Some(s"${spec.name}: ${SparkSuite.cause(e)}") }
    }
    assert(failures.isEmpty, failures.mkString(s"${failures.size} specs failed:\n", "\n", ""))
  }
}
