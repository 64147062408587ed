package graft.snap

import graft.QuerySpec
import org.apache.spark.sql.functions._

/** The reference's own analytics (SURVEY §2.1 O1-O17) exposed as
  * oracle-checked QuerySpecs over all ten ego networks at once.
  *
  * Unusually, these have FULL DuckDB oracles: the SQL re-reads the SNAP
  * text files with `read_csv` and re-derives the same semantics (canonical
  * edge dedup, last-wins bit decode, ego-inclusive clustering, ordered
  * pair counting) independently of the Spark implementation. Every formula
  * below was validated against the committed reference outputs
  * (`/root/reference/output/{0,107}.*`): node/edge counts 334/2852 and
  * 1035/27783, all 1367 clustering values, proof counts 153/64 and
  * 8378/2920.
  */
object GraphSuite {

  /** SNAP data ships inside the read-only reference checkout. */
  val dataDir = "/root/reference/data"

  // Shared DuckDB CTE fragments ------------------------------------------

  private val duckEdges =
    "e0 AS (SELECT regexp_extract(filename, '([0-9]+)\\.edges', 1) AS ego, a, b " +
      s"FROM read_csv('$dataDir/*.edges', delim=' ', header=false, " +
      "columns={'a':'VARCHAR','b':'VARCHAR'}, filename=true)), " +
      "f AS (SELECT DISTINCT ego, a AS name FROM e0 UNION SELECT DISTINCT ego, b AS name FROM e0)"

  /** DuckDB recursive reachability closure over the five small egos —
    * ONE oracle shared by g08 (GraphX label propagation) and g13 (star
    * contraction): two independent engine implementations, one truth.
    * Restricted to the small egos because the closure is O(V²). */
  private val ccOracle: String =
    "WITH RECURSIVE e0 AS (" +
      "SELECT regexp_extract(filename, '([0-9]+)\\.edges', 1) AS ego, a, b " +
      s"FROM read_csv('$dataDir/*.edges', delim=' ', header=false, " +
      "columns={'a':'VARCHAR','b':'VARCHAR'}, filename=true) " +
      "WHERE regexp_extract(filename, '([0-9]+)\\.edges', 1) " +
      "IN ('348', '3980', '414', '686', '698')), " +
      "adj AS (SELECT DISTINCT ego, a AS v, b AS u FROM e0 " +
      "UNION SELECT DISTINCT ego, b, a FROM e0), " +
      "n AS (SELECT DISTINCT ego, v FROM adj), " +
      "r AS (SELECT ego, v, v AS reach FROM n " +
      "UNION SELECT adj.ego, adj.v, r.reach FROM r " +
      "JOIN adj ON r.ego = adj.ego AND r.v = adj.u), " +
      "comp AS (SELECT ego, v, min(reach) AS lbl FROM r GROUP BY 1, 2) " +
      "SELECT ego, count(DISTINCT lbl) AS n_components, " +
      "CAST(max(sz) AS BIGINT) AS largest FROM " +
      "(SELECT ego, lbl, count(*) AS sz FROM comp GROUP BY 1, 2) " +
      "GROUP BY ego ORDER BY ego"

  private val duckCanonical =
    "e AS (SELECT DISTINCT ego, least(a,b) AS s, greatest(a,b) AS d FROM e0), " +
      "adj AS (SELECT ego, s AS v, d AS u FROM e UNION ALL SELECT ego, d AS v, s AS u FROM e), " +
      "deg AS (SELECT ego, v AS name, count(*) AS deg FROM adj GROUP BY 1,2), " +
      "eff AS (SELECT x.ego AS ego, x.v AS name, count(*) AS eff " +
      "FROM e JOIN adj x ON x.ego = e.ego AND x.u = e.s " +
      "JOIN adj y ON y.ego = e.ego AND y.u = e.d AND y.v = x.v GROUP BY 1,2)"

  /** The diameter-2 closed-form stress-centrality oracle, over every ego
    * or only `egos` — one truth for g04 (closed form), g07 (GraphX
    * all-pairs BFS) and g10 (source-batched BFS). */
  private def centralityOracle(egos: Seq[String]): String =
    s"WITH $duckEdges, $duckCanonical " +
      "SELECT deg.ego AS ego, deg.name AS name, " +
      "CAST(2 * (deg.deg * (deg.deg - 1) / 2 - coalesce(eff.eff, 0)) AS BIGINT) AS centrality " +
      "FROM deg LEFT JOIN eff ON deg.ego = eff.ego AND deg.name = eff.name " +
      (if (egos.isEmpty) "" else egos.map(e => s"'$e'").mkString("WHERE deg.ego IN (", ", ", ") ")) +
      "ORDER BY ego, name"

  private val g07Egos = Seq("3980", "698", "414")
  private val g10Egos = Seq("3980", "698")

  /** Featnames + feat + egofeat decode down to the two hypothesis keys —
    * independently re-implements SURVEY §1.3 last-wins semantics. */
  private val duckDecode =
    "fnl AS (SELECT regexp_extract(filename, '([0-9]+)\\.featnames', 1) AS ego, line " +
      s"FROM read_csv('$dataDir/*.featnames', delim='|', header=false, " +
      "columns={'line':'VARCHAR'}, filename=true) WHERE strpos(line, ' ') > 0), " +
      "fn AS (SELECT ego, CAST(substr(line, 1, strpos(line, ' ') - 1) AS INT) AS idx, " +
      "substr(line, strpos(line, ' ') + 1) AS rest FROM fnl), " +
      "fn2 AS (SELECT ego, idx, " +
      "substr(rest, 1, length(rest) - length(string_split(rest, ';')[-1]) - 1) AS key, " +
      "string_split(rest, ';')[-1] AS value FROM fn), " +
      "il AS (SELECT regexp_extract(filename, '([0-9]+)\\.feat', 1) AS ego, " +
      "string_split(line, ' ') AS parts " +
      s"FROM read_csv('$dataDir/*.feat', delim='|', header=false, " +
      "columns={'line':'VARCHAR'}, filename=true) WHERE strpos(line, ' ') > 0), " +
      "ib AS (SELECT ego, parts, parts[1] AS node, " +
      "unnest(generate_series(2, len(parts))) AS i FROM il), " +
      "bits AS (SELECT ego, node, i - 2 AS idx FROM ib WHERE parts[i] = '1'), " +
      "el AS (SELECT regexp_extract(filename, '([0-9]+)\\.egofeat', 1) AS ego, " +
      "string_split(line, ' ') AS parts " +
      s"FROM read_csv('$dataDir/*.egofeat', delim='|', header=false, " +
      "columns={'line':'VARCHAR'}, filename=true)), " +
      "eb AS (SELECT ego, parts, unnest(generate_series(1, len(parts))) AS i FROM el), " +
      "ebits AS (SELECT ego, ego AS node, i - 1 AS idx FROM eb WHERE parts[i] = '1'), " +
      "allbits AS (SELECT b.ego, b.node, b.idx FROM bits b " +
      "JOIN f ON b.ego = f.ego AND b.node = f.name UNION ALL SELECT * FROM ebits), " +
      "dec AS (SELECT b.ego, b.node, n.key, arg_max(n.value, n.idx) AS value " +
      "FROM allbits b JOIN fn2 n ON b.ego = n.ego AND b.idx = n.idx GROUP BY 1,2,3), " +
      "hv AS (SELECT ego, node, " +
      "max(CASE WHEN key = 'hometown;id' THEN value END) AS hometown, " +
      "max(CASE WHEN key = 'education;school;id' THEN value END) AS school " +
      "FROM dec GROUP BY 1,2)"

  /** g09's DuckDB oracle: fixed-point PageRank over G⁺ of `egos`,
    * unrolled `iters` rounds. Exact integer replication of
    * GraphxAnalytics.iterateFixed: contrib = rank // outdeg (truncating
    * on non-negative values in both engines), new = 0.15·1e12 +
    * (85·Σcontrib) // 100; DuckDB's integer sums widen to HUGEINT so no
    * overflow discipline is needed on the oracle side. Every per-round
    * CTE is MATERIALIZED (g11 lesson: the recursive chain references the
    * previous round per join leg — default inlining goes exponential). */
  private def pagerankOracle(egos: Seq[String], iters: Int): String = {
    val egoList = egos.map("'" + _ + "'").mkString(", ")
    val sb = new StringBuilder
    sb ++= "WITH e0 AS (SELECT regexp_extract(filename, '([0-9]+)\\.edges', 1) AS ego, a, b " +
      s"FROM read_csv('$dataDir/*.edges', delim=' ', header=false, " +
      "columns={'a':'VARCHAR','b':'VARCHAR'}, filename=true) " +
      s"WHERE regexp_extract(filename, '([0-9]+)\\.edges', 1) IN ($egoList)), " +
      "ec AS (SELECT DISTINCT ego, least(a,b) AS s, greatest(a,b) AS d FROM e0), " +
      "mem AS (SELECT DISTINCT ego, s AS name FROM ec UNION SELECT DISTINCT ego, d FROM ec), " +
      // G⁺ directed edge list: both directions of every canonical friend
      // pair, plus ego-center spokes both ways ('ego' is not a SNAP id).
      "dir AS MATERIALIZED (SELECT ego, s AS u, d AS v FROM ec " +
      "UNION ALL SELECT ego, d, s FROM ec " +
      "UNION ALL SELECT ego, 'ego', name FROM mem " +
      "UNION ALL SELECT ego, name, 'ego' FROM mem), " +
      "deg AS MATERIALIZED (SELECT ego, u, count(*) AS dg FROM dir GROUP BY 1, 2), " +
      "nodes AS MATERIALIZED (SELECT ego, u AS v FROM deg), " +
      "r0 AS MATERIALIZED (SELECT ego, v, CAST(1000000000000 AS BIGINT) AS r FROM nodes), "
    for (i <- 1 to iters) {
      sb ++= s"m$i AS MATERIALIZED (SELECT dir.ego, dir.v AS v, sum(p.r // deg.dg) AS m " +
        s"FROM dir JOIN r${i - 1} p ON p.ego = dir.ego AND p.v = dir.u " +
        "JOIN deg ON deg.ego = dir.ego AND deg.u = dir.u GROUP BY 1, 2), "
      sb ++= s"r$i AS MATERIALIZED (SELECT n.ego, n.v, " +
        "CAST(150000000000 + (85 * coalesce(m.m, 0)) // 100 AS BIGINT) AS r " +
        s"FROM nodes n LEFT JOIN m$i m ON m.ego = n.ego AND m.v = n.v), "
    }
    sb.setLength(sb.length - 2)
    sb ++= s" SELECT ego, v AS name, r AS rank_fp FROM r$iters ORDER BY ego, name"
    sb.toString
  }

  /** g12's DuckDB oracle: fixed-point PERSONALIZED PageRank on one ego's
    * friend-only graph, teleporting to the minimum numeric node id only —
    * the same unrolled integer iteration as [[pagerankOracle]] with the
    * reset mass confined to the source row. */
  private def pprOracle(ego: String, iters: Int): String = {
    val sb = new StringBuilder
    sb ++= s"WITH e0 AS (SELECT a, b FROM read_csv('$dataDir/$ego.edges', " +
      "delim=' ', header=false, columns={'a':'VARCHAR','b':'VARCHAR'})), " +
      "ec AS (SELECT DISTINCT least(a,b) AS s, greatest(a,b) AS d FROM e0), " +
      "dir AS MATERIALIZED (SELECT s AS u, d AS v FROM ec UNION ALL SELECT d, s FROM ec), " +
      "deg AS MATERIALIZED (SELECT u, count(*) AS dg FROM dir GROUP BY 1), " +
      "nodes AS MATERIALIZED (SELECT u AS v FROM deg), " +
      "src AS MATERIALIZED (SELECT CAST(min(CAST(v AS BIGINT)) AS VARCHAR) AS sv FROM nodes), " +
      "r0 AS MATERIALIZED (SELECT v, CASE WHEN v = (SELECT sv FROM src) " +
      "THEN CAST(1000000000000 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS r FROM nodes), "
    for (i <- 1 to iters) {
      sb ++= s"m$i AS MATERIALIZED (SELECT dir.v AS v, sum(p.r // deg.dg) AS m " +
        s"FROM dir JOIN r${i - 1} p ON p.v = dir.u " +
        "JOIN deg ON deg.u = dir.u GROUP BY 1), "
      sb ++= s"r$i AS MATERIALIZED (SELECT n.v, " +
        "CAST(CASE WHEN n.v = (SELECT sv FROM src) THEN 150000000000 ELSE 0 END " +
        "+ (85 * coalesce(m.m, 0)) // 100 AS BIGINT) AS r " +
        s"FROM nodes n LEFT JOIN m$i m ON m.v = n.v), "
    }
    sb.setLength(sb.length - 2)
    sb ++= s" SELECT v AS name, r AS rank_fp FROM r$iters ORDER BY name"
    sb.toString
  }

  val specs: Seq[QuerySpec] = Seq(

    // O1/O2/O6/O10/O11: scans + canonical edge dedup + node/edge counts.
    QuerySpec("g01_graph_counts",
      (s, _) => GraphAnalytics.counts(EgoGraphs.load(s, dataDir)).orderBy("ego"),
      Some(s"WITH $duckEdges, " +
        "fc AS (SELECT ego, count(*) AS n_friends FROM f GROUP BY ego), " +
        "ec AS (SELECT ego, count(*) AS n_edges FROM " +
        "(SELECT DISTINCT ego, least(a,b), greatest(a,b) FROM e0) GROUP BY ego) " +
        "SELECT fc.ego AS ego, fc.n_friends + 1 AS node_count, " +
        "ec.n_edges + fc.n_friends AS edge_count " +
        "FROM fc JOIN ec ON fc.ego = ec.ego ORDER BY ego")),

    // O3/O4/O12/O13/O14/O15: decode + property filter + hypothesis proof.
    QuerySpec("g02_proof_counts",
      (s, _) => GraphAnalytics.proofCounts(EgoGraphs.load(s, dataDir)).orderBy("ego"),
      Some(s"WITH $duckEdges, $duckDecode, " +
        "s AS (SELECT * FROM hv WHERE hometown IS NOT NULL AND school IS NOT NULL), " +
        "denom AS (SELECT ego, CAST(sum(c * c) AS BIGINT) AS denom FROM " +
        "(SELECT ego, hometown, school, count(*) AS c FROM s GROUP BY 1,2,3) GROUP BY ego), " +
        "adjp AS (SELECT ego, a AS u, b AS v FROM e0 UNION SELECT ego, b AS u, a AS v FROM e0 " +
        "UNION SELECT ego, ego AS u, name AS v FROM f " +
        "UNION SELECT ego, name AS u, ego AS v FROM f), " +
        "num AS (SELECT adjp.ego, count(*) AS num FROM adjp " +
        "JOIN s m ON m.ego = adjp.ego AND m.node = adjp.u " +
        "JOIN s n ON n.ego = adjp.ego AND n.node = adjp.v " +
        "WHERE m.hometown = n.hometown AND m.school = n.school GROUP BY 1), " +
        "egos AS (SELECT DISTINCT ego FROM e0) " +
        "SELECT egos.ego AS ego, coalesce(denom.denom, 0) AS denom, " +
        "coalesce(num.num, 0) AS num FROM egos " +
        "LEFT JOIN denom ON egos.ego = denom.ego " +
        "LEFT JOIN num ON egos.ego = num.ego ORDER BY ego")),

    // O16/O17: ego-inclusive local clustering coefficient, closed form.
    QuerySpec("g03_clustering",
      (s, _) => GraphAnalytics.clustering(EgoGraphs.load(s, dataDir).edges)
        .select("ego", "name", "cc").orderBy("ego", "name"),
      Some(s"WITH $duckEdges, $duckCanonical " +
        "SELECT deg.ego AS ego, deg.name AS name, " +
        "CAST(coalesce(eff.eff, 0) + deg.deg AS DOUBLE) / ((deg.deg + 1) * deg.deg / 2.0) AS cc " +
        "FROM deg LEFT JOIN eff ON deg.ego = eff.ego AND deg.name = eff.name " +
        "ORDER BY ego, name")),

    // O18/O19: stress centrality via the diameter-2 closed form — the
    // query the reference could never finish (docs p.2: "takes a long
    // time to execute!").
    QuerySpec("g04_centrality",
      (s, _) => GraphAnalytics.centralityClosedForm(EgoGraphs.load(s, dataDir).edges)
        .orderBy("ego", "name"),
      Some(centralityOracle(Nil))),

    // O8: circle overlay — membership filtered to materialized friends.
    QuerySpec("g05_circle_sizes",
      (s, _) => {
        val g = EgoGraphs.load(s, dataDir)
        SnapSource.circles(s, dataDir)
          .join(g.friends.select(col("ego"), col("name").as("member")),
            Seq("ego", "member"), "left_semi")
          .groupBy("ego", "circle").agg(count(lit(1)).as("members"))
          .orderBy("ego", "circle")
      },
      Some(s"WITH $duckEdges, " +
        "cl AS (SELECT regexp_extract(filename, '([0-9]+)\\.circles', 1) AS ego, " +
        "string_split(line, chr(9)) AS parts " +
        s"FROM read_csv('$dataDir/*.circles', delim='|', header=false, " +
        "columns={'line':'VARCHAR'}, filename=true) WHERE strpos(line, chr(9)) > 0), " +
        "cm AS (SELECT ego, parts, parts[1] AS circle, " +
        "unnest(generate_series(2, len(parts))) AS i FROM cl), " +
        "m AS (SELECT ego, circle, parts[i] AS member FROM cm WHERE parts[i] <> '') " +
        "SELECT m.ego AS ego, m.circle AS circle, count(*) AS members FROM m " +
        "JOIN f ON m.ego = f.ego AND m.member = f.name " +
        "GROUP BY 1, 2 ORDER BY ego, circle")),

    // O18 via the INDEPENDENT general-graph implementation: GraphX
    // multi-source BFS path counting (graft.graphx.StressCentrality) on
    // the three smallest egos, checked against the same closed-form
    // oracle as g04 — a dual-implementation correctness gate.
    QuerySpec("g07_centrality_pregel",
      // One distributed GraphX job over the composite union graph of the
      // three egos — edge build, BFS and σ-combination all executor-side.
      (s, _) => graft.graphx.GraphxAnalytics.egoStress(s, dataDir, g07Egos),
      Some(centralityOracle(g07Egos))),

    // O18 via the THIRD independent implementation — the Brandes-style
    // source-batched BFS (O(batch) per-vertex state, the general-graph
    // scale path) — against the same closed-form oracle: closed form,
    // all-pairs join form (g07) and batched accumulation (g10) must all
    // agree on real data under the driver's gate.
    QuerySpec("g10_centrality_batched",
      (s, _) => graft.graphx.GraphxAnalytics.egoStress(
        s, dataDir, g10Egos, batchSize = Some(48)),
      Some(centralityOracle(g10Egos))),

    // Row 45 stretch: GraphX ConnectedComponents on the friend-only
    // graphs (non-trivial without the ego hub). Oracle: DuckDB recursive
    // reachability closure — restricted to the five small egos because
    // the closure is O(V²).
    QuerySpec("g08_connected_components",
      (s, _) => graft.graphx.GraphxAnalytics.componentStats(
        s, dataDir, Seq("348", "3980", "414", "686", "698")),
      Some(ccOracle)),

    // Row 45 stretch, r14: the SAME component stats via star-contraction
    // CC (graphx/StarComponents — log-round, diameter-independent, the
    // 100 TB CC shape) against the SAME oracle as g08: label propagation
    // and star contraction must agree under the driver's gate, the
    // g07/g10 dual-implementation discipline applied to CC. At 1M nodes
    // the star path runs 5 rounds / 54 s vs GraphX's 608 s
    // (GRAPH_SCALE_r14.json `starcc_check`, 0 label mismatches).
    QuerySpec("g13_cc_star",
      (s, _) => graft.graphx.GraphxAnalytics.componentStatsStar(
        s, dataDir, Seq("348", "3980", "414", "686", "698")),
      Some(ccOracle)),

    // Row 43-45 stretch: k-core decomposition (k=10) of the friend-only
    // graphs — iterative degree peel (degree agg + two semi-joins per
    // round, localCheckpointed) run to the fixpoint with an 8-round cap;
    // the oracle unrolls 8 rounds as CTE stages. Early exit at the
    // fixpoint is result-identical (a converged peel is a no-op), and
    // the fixture converges in ≤5 rounds (validated offline), so both
    // sides sit at the same fixpoint.
    QuerySpec("g11_kcore",
      (s, _) => GraphAnalytics.kcore(EgoGraphs.load(s, dataDir).edges,
        k = 10, rounds = 8),
      Some {
        val sb = new StringBuilder
        sb ++= s"WITH $duckEdges, "
        sb ++= "ec AS (SELECT DISTINCT ego, least(a,b) AS s, greatest(a,b) AS d FROM e0), "
        sb ++= "a0 AS (SELECT ego, CAST(s AS BIGINT) AS v, CAST(d AS BIGINT) AS u FROM ec " +
          "UNION ALL SELECT ego, CAST(d AS BIGINT), CAST(s AS BIGINT) FROM ec), "
        // AS MATERIALIZED is load-bearing: DuckDB inlines CTEs by default,
        // and each round references the previous one three times — the
        // unrolled 8-round chain would otherwise expand 3^8 copies of the
        // base scan (observed as an OOM). Materializing makes it linear,
        // exactly like the engine's per-round localCheckpoint.
        for (i <- 1 to 8) {
          sb ++= s"k$i AS MATERIALIZED (SELECT ego, v FROM a${i - 1} GROUP BY ego, v HAVING count(*) >= 10), "
          sb ++= s"a$i AS MATERIALIZED (SELECT x.ego, x.v, x.u FROM a${i - 1} x " +
            s"JOIN k$i p ON p.ego = x.ego AND p.v = x.v " +
            s"JOIN k$i q ON q.ego = x.ego AND q.v = x.u), "
        }
        sb.setLength(sb.length - 2) // drop trailing ", "
        sb ++= " SELECT DISTINCT ego, v AS node FROM a8 ORDER BY ego, node"
        sb.toString
      }),

    // Row 45 stretch: PERSONALIZED PageRank (proximity to a fixed source
    // node on ego 698's friend graph), now FULLY ORACLED (r11): the
    // engine iterates in fixed-point BIGINT (rank·1e12, truncating
    // division — bit-exact in any engine, see GraphxAnalytics.RankScale)
    // and the oracle unrolls the same 10 power-iteration rounds as
    // MATERIALIZED CTE stages (the g11 k-core pattern — each round
    // references the previous twice, so default inlining would blow up
    // exponentially). The library double-arithmetic PPR keeps its
    // invariant coverage in GraphxAnalyticsSpec.
    QuerySpec("g12_ppr",
      (s, _) => graft.graphx.GraphxAnalytics.personalizedRankFixed(s, dataDir, "698"),
      Some(pprOracle("698", iters = 10))),

    // Row 45 stretch: PageRank over G⁺, FULLY ORACLED (r11) via the same
    // fixed-point discipline as g12 — 10 deterministic integer rounds,
    // DuckDB unrolls them; the double staticPageRank stays spec-gated.
    QuerySpec("g09_pagerank",
      (s, _) => graft.graphx.GraphxAnalytics.pagerankFixed(
        s, dataDir, Seq("3980", "698")),
      Some(pagerankOracle(Seq("3980", "698"), iters = 10))),

    // Map-typed property bag: map_contains_key / element_at over the
    // decoded MAP<STRING,STRING> column (operator row 34).
    QuerySpec("g06_property_stats",
      (s, _) => {
        val v = EgoGraphs.load(s, dataDir).vertices
        v.groupBy("ego").agg(
          sum(when(map_contains_key(col("properties"), "hometown;id"), 1L)
            .otherwise(0L)).as("n_hometown"),
          sum(when(map_contains_key(col("properties"), "education;school;id"), 1L)
            .otherwise(0L)).as("n_school"),
          sum(when(element_at(col("properties"), "hometown;id").isNotNull
            && element_at(col("properties"), "education;school;id").isNotNull, 1L)
            .otherwise(0L)).as("n_both"))
          .orderBy("ego")
      },
      Some(s"WITH $duckEdges, $duckDecode, " +
        "egos AS (SELECT DISTINCT ego FROM e0), " +
        "stats AS (SELECT ego, " +
        "CAST(count(hometown) AS BIGINT) AS n_hometown, " +
        "CAST(count(school) AS BIGINT) AS n_school, " +
        "CAST(sum(CASE WHEN hometown IS NOT NULL AND school IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_both " +
        "FROM hv GROUP BY ego) " +
        "SELECT egos.ego AS ego, coalesce(n_hometown, 0) AS n_hometown, " +
        "coalesce(n_school, 0) AS n_school, coalesce(n_both, 0) AS n_both " +
        "FROM egos LEFT JOIN stats ON egos.ego = stats.ego ORDER BY ego"))
  )
}
