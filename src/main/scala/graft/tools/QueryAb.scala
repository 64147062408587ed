package graft.tools

import graft.{Json, Sessions, SparkEntry}

import scala.collection.immutable.ListMap

/** Query timing in one session — the iteration loop for plan tuning and
  * the same-JVM A/B for declared-query reshapes. Cross-JVM walls swing
  * with page-cache/heap/ambient state, so an A/B times both arms back to
  * back, alternating (a,b,a,b,...), in ONE session — same JIT, same page
  * cache — after asserting both arms produce IDENTICAL sorted result
  * rows. Each timed run is a noop write, the Bench action (materializes
  * every row, no sink I/O); one untimed warm-up run per arm comes first.
  *
  * Usage: QueryAb <query> [<query2>] [rounds]   (rounds defaults to 4)
  *   One query: times it. Two: row-identity check, then the A/B.
  *   Queries are `SparkEntry.queries` names; to A/B a reshape, declare the
  *   candidate as a query. SPARK_GRAFT_SF_DIR selects the fixture.
  * Prints one JSON line after the GRAFT_QUERYAB_JSON marker. The r19
  * reshape results (q115 union form, q93 stream-side repartition) are in
  * bench/query_ab_r19_*.json.
  */
object QueryAb {
  def main(args: Array[String]): Unit = {
    val queries = SparkEntry.queries
    val (names, rest) = args.toSeq.span(queries.contains)
    require(names.nonEmpty && names.size <= 2 && rest.size <= 1 && rest.forall(_.toIntOption.isDefined),
      s"usage: QueryAb <query> [<query2>] [rounds], queries named as in SparkEntry.queries; " +
        s"got: ${args.mkString(" ")}")
    val rounds = rest.headOption.fold(4)(_.toInt)
    val arms = names.map(queries)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local("graft-query-ab")

    // A/B result identity first (outside any timed window): sorted row strings.
    if (arms.size == 2) {
      val Seq(a, b) = arms.map(_(spark, sfDir).collect().map(_.toString).sorted.toSeq)
      require(a == b, s"${names.mkString(" and ")} disagree: ${a.size} vs ${b.size} rows; " +
        s"first diff: ${a.zip(b).find(p => p._1 != p._2)}")
    }

    def timeArm(i: Int): Double = {
      val t0 = System.nanoTime()
      arms(i)(spark, sfDir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    arms.indices.foreach(timeArm)
    val walls = (1 to rounds).map(_ => arms.indices.map(timeArm)).transpose

    def f3(d: Double) = Json.Fixed(d, 3)
    val perArm = names.zip(walls).map { case (n, w) =>
      n -> ListMap("walls_sec" -> w.map(f3), "min" -> f3(w.min), "median" -> f3(w.sorted.apply(w.size / 2)))
    }
    val speedup =
      if (walls.size == 2) Seq("speedup_min_over_min" -> f3(walls(0).min / walls(1).min)) else Nil
    println("GRAFT_QUERYAB_JSON")
    println(Json(ListMap[String, Any]("metric" -> "query_ab", "sf_dir" -> sfDir) ++ perArm ++ speedup))
    spark.stop()
  }
}
