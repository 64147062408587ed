package graft.ext

import graft.{QuerySpec, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a large-scale training-data pipeline, over
  * the `documents` table: per-doc stats, heuristic language ID, quality
  * scoring, and document fingerprinting. Everything is built-in Catalyst
  * expressions (no UDFs) — codegen'd, pushdown-friendly, linear scans —
  * and each query carries a DuckDB oracle with identical arithmetic.
  */
object TextSuite {

  // q104 chunk geometry (must precede `specs`: the SQL strings interpolate
  // these at object construction).
  private val chunkSize = 64
  private val chunkStride = 16

  private val enList = "('the','a','of','and','to','in','is')"
  private val deList = "('der','die','das','und','ist','nicht')"
  private val frList = "('le','la','les','et','est','une')"

  /** Distinct (doc_id, h) 60-bit md5 trigram fingerprints of `docs`
    * (doc_id, text) — the shingler behind q73, q107 and q136. Tokenize
    * ONCE, then shingle: the transform lambda must not re-split the text
    * per position. Docs under 3 tokens are dropped BEFORE the sequence:
    * Spark's sequence(1, 0) descends to [1, 0] and slice(tk, 0, 3) throws
    * under ANSI, while DuckDB's generate_series(1, 0) is empty — the
    * filter pins the shared absent-doc semantics. */
  private[ext] def trigramHashes(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), expr("filter(split(text, ' '), x -> x <> '')").as("tk"))
      .filter(expr("size(tk) >= 3"))
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(tk) - 2), " +
          "i -> CAST(conv(substring(md5(concat_ws(' ', slice(tk, i, 3))), 1, 15), 16, 10) AS BIGINT))"))
        .as("h"))
      .distinct()

  /** The DuckDB trigram CTEs (`toks`, `g`) over docs with doc_id < 200,
    * shared by the q73 and q136 oracles. */
  private[ext] val duckTrigrams =
    "WITH toks AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk " +
      "FROM documents WHERE doc_id < 200), " +
      "g AS (SELECT DISTINCT doc_id, CAST(concat('0x', substr(md5(concat_ws(' ', " +
      "tk[i], tk[i+1], tk[i+2])), 1, 15)) AS BIGINT) AS h " +
      "FROM (SELECT doc_id, tk, unnest(generate_series(1, greatest(len(tk) - 2, 0))) AS i FROM toks)) "

  /** `documents` with its source's row count `cnt`, the smallest source's
    * `min_cnt` (tiny per-source aggregates broadcast back) and the md5
    * hash gate on doc_id in [0, 1) — the same rows survive on any engine
    * or cluster layout. q76 and q106 differ only in the acceptance rate
    * they compare `gate` against. */
  private def mixGated(s: SparkSession, d: String): DataFrame = {
    val docs = Tables(s, d, "documents")
    val cnts = docs.groupBy("source").agg(count(lit(1)).as("cnt"))
    val target = cnts.agg(min("cnt").as("min_cnt"))
    docs.join(broadcast(cnts), "source").crossJoin(broadcast(target))
      .withColumn("gate",
        (conv(expr("substring(md5(CAST(doc_id AS STRING)), 1, 4)"), 16, 10)
          .cast("int") % 10000) / lit(10000.0))
  }

  /** q42's quality score in [0,1] as (doc_id, score): length saturation +
    * lexical diversity + stopword density — the standard cheap
    * pre-filter shape for corpus cleaning, shared by q42 and q83. */
  private def qualityScores(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "documents")
      .withColumn("toks", expr("split(text, ' ')"))
      .withColumn("n", expr("size(toks)"))
      .withColumn("en_c", expr(s"size(filter(toks, x -> x IN $enList))"))
      .withColumn("score", expr(
        "round(0.4 * least(1.0, n / 100.0) " +
          "+ 0.3 * (size(array_distinct(toks)) / n) " +
          "+ 0.3 * least(1.0, en_c * 5.0 / n), 6)"))
      .select("doc_id", "score")

  /** [[qualityScores]]' score in DuckDB, arithmetic identical. */
  private val duckQualityScore =
    "round(0.4 * least(1.0, len(string_split(text, ' ')) / 100.0) " +
      "+ 0.3 * (len(list_distinct(string_split(text, ' '))) / len(string_split(text, ' '))) " +
      s"+ 0.3 * least(1.0, len(list_filter(string_split(text, ' '), x -> x IN $enList)) " +
      "* 5.0 / len(string_split(text, ' '))), 6) AS score "

  val specs: Seq[QuerySpec] = Seq(

    QuerySpec("q40_text_stats",
      (s, d) => Tables(s, d, "documents")
        .select(col("doc_id"),
          expr("size(split(text, ' '))").as("n_tokens"),
          length(col("text")).as("n_bytes"),
          expr("round(length(replace(text, ' ', '')) / size(split(text, ' ')), 6)")
            .as("avg_tok"))
        .orderBy("doc_id").limit(200),
      Some("SELECT doc_id, CAST(len(string_split(text, ' ')) AS INT) AS n_tokens, " +
        "CAST(length(text) AS INT) AS n_bytes, " +
        "round(length(replace(text, ' ', '')) / len(string_split(text, ' ')), 6) AS avg_tok " +
        "FROM documents ORDER BY doc_id LIMIT 200")),

    // n-gram-free stopword-vote language ID — the deterministic heuristic
    // flavour of langid: count stopword hits per candidate language, pick
    // the argmax (ties resolve en > de > fr, none -> 'und').
    QuerySpec("q41_lang_id",
      (s, d) => Tables(s, d, "documents")
        .withColumn("toks", expr("split(text, ' ')"))
        .withColumn("en_c", expr(s"size(filter(toks, x -> x IN $enList))"))
        .withColumn("de_c", expr(s"size(filter(toks, x -> x IN $deList))"))
        .withColumn("fr_c", expr(s"size(filter(toks, x -> x IN $frList))"))
        .withColumn("pred", expr("CASE " +
          "WHEN en_c >= de_c AND en_c >= fr_c AND en_c > 0 THEN 'en' " +
          "WHEN de_c >= fr_c AND de_c > 0 THEN 'de' " +
          "WHEN fr_c > 0 THEN 'fr' ELSE 'und' END"))
        .groupBy("pred").agg(count(lit(1)).as("c"),
          sum(when(col("pred") === col("lang"), 1L).otherwise(0L)).as("agree"))
        .orderBy("pred"),
      Some("WITH x AS (SELECT lang, " +
        s"len(list_filter(string_split(text, ' '), x -> x IN $enList)) AS en_c, " +
        s"len(list_filter(string_split(text, ' '), x -> x IN $deList)) AS de_c, " +
        s"len(list_filter(string_split(text, ' '), x -> x IN $frList)) AS fr_c " +
        "FROM documents), y AS (SELECT lang, CASE " +
        "WHEN en_c >= de_c AND en_c >= fr_c AND en_c > 0 THEN 'en' " +
        "WHEN de_c >= fr_c AND de_c > 0 THEN 'de' " +
        "WHEN fr_c > 0 THEN 'fr' ELSE 'und' END AS pred FROM x) " +
        "SELECT pred, count(*) AS c, " +
        "CAST(sum(CASE WHEN pred = lang THEN 1 ELSE 0 END) AS BIGINT) AS agree " +
        "FROM y GROUP BY pred ORDER BY pred")),

    // Quality score in [0,1] ([[qualityScores]]), arithmetic identical in
    // both engines.
    QuerySpec("q42_quality_score",
      (s, d) => qualityScores(s, d)
        .orderBy(col("score").desc, col("doc_id")).limit(50),
      Some("SELECT doc_id, " + duckQualityScore +
        "FROM documents ORDER BY score DESC, doc_id LIMIT 50")),

    // TF-IDF top terms per document, pure SQL: tf from one explode+agg,
    // df from a second agg, smoothed idf, row_number top-3 — the linear
    // two-shuffle plan (no vocabulary collected to the driver).
    QuerySpec("q52_tfidf",
      (s, d) => {
        val docs = Tables(s, d, "documents")
        // Corpus size as a 1-row broadcast cross join, not an eager
        // driver-side count() at plan-build time.
        val n = docs.agg(count(lit(1)).cast("double").as("n"))
        val tf = docs.filter(col("doc_id") < 20)
          .select(col("doc_id"), explode(expr("filter(split(text, ' '), x -> x <> '')")).as("tok"))
          .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
        val df = docs
          .select(col("doc_id"), explode(expr("array_distinct(filter(split(text, ' '), x -> x <> ''))")).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("df"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy(col("score").desc, col("tok"))
        tf.join(df, "tok").crossJoin(broadcast(n))
          .withColumn("score", round(col("tf") * log((col("n") + 1.0) / (col("df") + 1.0)), 6))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select("doc_id", "tok", "score", "rn")
          .orderBy("doc_id", "rn")
      },
      Some("WITH toks AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), " +
        "x -> x <> '')) AS tok FROM documents WHERE doc_id < 20), " +
        "tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2), " +
        "alltoks AS (SELECT doc_id, unnest(list_distinct(list_filter(" +
        "string_split(text, ' '), x -> x <> ''))) AS tok FROM documents), " +
        "df AS (SELECT tok, count(*) AS df FROM alltoks GROUP BY tok), " +
        "n AS (SELECT count(*) AS n FROM documents), " +
        "scored AS (SELECT tf.doc_id, tf.tok, " +
        "round(tf.tf * ln((n.n + 1.0) / (df.df + 1.0)), 6) AS score " +
        "FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n), " +
        "ranked AS (SELECT doc_id, tok, score, row_number() OVER " +
        "(PARTITION BY doc_id ORDER BY score DESC, tok) AS rn FROM scored) " +
        "SELECT doc_id, tok, score, rn FROM ranked WHERE rn <= 3 " +
        "ORDER BY doc_id, rn")),

    // BPE-style pre-tokenization counting: a GPT-2-ish regex (word pieces,
    // digits, punctuation runs, leading-space variants) instead of plain
    // whitespace split — the token-budget estimator of an LLM pipeline.
    // ASCII corpus => Java and RE2 regex classes agree, so it oracles.
    QuerySpec("q54_regex_tokens",
      (s, d) => Tables(s, d, "documents")
        .select(col("doc_id"),
          expr("size(regexp_extract_all(text, ' ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+', 0))")
            .as("n_bpe_tokens"),
          expr("size(filter(split(text, ' '), x -> x <> ''))").as("n_ws_tokens"))
        .orderBy("doc_id").limit(200),
      Some("SELECT doc_id, " +
        "CAST(len(regexp_extract_all(text, ' ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+')) AS INT) AS n_bpe_tokens, " +
        "CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS INT) AS n_ws_tokens " +
        "FROM documents ORDER BY doc_id LIMIT 200")),

    // Rolling-hash document fingerprinting: full-doc polynomial hash plus
    // the winnowing-style min k-gram (k=8) Rabin–Karp hash. The min-kgram
    // column runs through the native `rolling_minhash` Expression — ONE
    // O(n) rolling pass per document inside whole-stage codegen — while
    // the DuckDB oracle recomputes every window independently (O(n·k))
    // with identical (base 31, mod 1e9+7) arithmetic; ASCII corpus makes
    // byte codes and ascii() agree. The poly_hash column doubles as the
    // HOF-chain cross-check of the same arithmetic (aggregate fold).
    QuerySpec("q67_rolling_fingerprint",
      (s, d) => Tables(s, d, "documents")
        .select(col("doc_id"),
          expr("aggregate(filter(split(text, ''), c -> c <> ''), 0L, " +
            "(acc, c) -> (acc * 31 + ascii(c)) % 1000000007)").as("poly_hash"),
          expr("rolling_minhash(text, 8)").as("min_kgram"))
        .orderBy("doc_id").limit(200),
      Some("SELECT doc_id, " +
        "list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        "list_transform(string_split_regex(text, ''), c -> CAST(ascii(c) AS BIGINT))), " +
        "(acc, c) -> (acc * 31 + c) % 1000000007) AS poly_hash, " +
        "CASE WHEN length(text) >= 8 THEN list_min(list_transform(" +
        "generate_series(1, length(text) - 7), i -> " +
        "list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        "list_transform(string_split_regex(substr(text, i, 8), ''), c -> CAST(ascii(c) AS BIGINT))), " +
        "(acc, c) -> (acc * 31 + c) % 1000000007))) END AS min_kgram " +
        "FROM documents ORDER BY doc_id LIMIT 200")),

    // Intra-document repetition ratio — the duplicate-trigram fraction
    // used as a "degenerate text" quality gate (boilerplate, keyword
    // stuffing, decode loops all score high). Pure per-row HOF arithmetic
    // inside whole-stage codegen: no explode, no shuffle beyond the
    // top-k sort, linear in corpus size.
    QuerySpec("q74_repetition_ratio",
      (s, d) => Tables(s, d, "documents")
        .withColumn("tk", expr("filter(split(text, ' '), x -> x <> '')"))
        .filter(expr("size(tk) >= 3"))
        .withColumn("tg", expr("transform(sequence(0, size(tk) - 3), " +
          "i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2]))"))
        .select(col("doc_id"),
          expr("round(1.0 - size(array_distinct(tg)) / size(tg), 6)").as("rep"))
        .orderBy(col("rep").desc, col("doc_id")).limit(100),
      Some("WITH t AS (SELECT doc_id, " +
        "list_filter(string_split(text, ' '), x -> x <> '') AS tk FROM documents), " +
        "g AS (SELECT doc_id, list_transform(generate_series(1, len(tk) - 2), " +
        "i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2])) AS tg FROM t WHERE len(tk) >= 3) " +
        "SELECT doc_id, round(1.0 - len(list_distinct(tg)) / len(tg), 6) AS rep " +
        "FROM g ORDER BY rep DESC, doc_id LIMIT 100")),

    // Domain-mix resampling — rebalance the corpus so every source
    // contributes equally (downsample each source to the smallest one),
    // deterministically: the per-source acceptance rate is min_cnt/cnt and
    // the accept decision is the q56 md5 hash gate on doc_id, so the same
    // rows survive on any engine or cluster layout. Two-pass plan: a tiny
    // per-source count aggregate (broadcast back), then one linear
    // filtered scan — no shuffle of the corpus itself.
    QuerySpec("q76_domain_mix",
      (s, d) => mixGated(s, d)
        .filter(col("gate") < col("min_cnt") / col("cnt"))
        .groupBy("source")
        .agg(max("cnt").as("cnt"), count(lit(1)).as("kept"))
        .orderBy("source"),
      Some("WITH c AS (SELECT source, count(*) AS cnt FROM documents GROUP BY source), " +
        "m AS (SELECT min(cnt) AS min_cnt FROM c) " +
        "SELECT d.source AS source, max(c.cnt) AS cnt, count(*) AS kept " +
        "FROM documents d JOIN c ON d.source = c.source CROSS JOIN m " +
        "WHERE (CAST(concat('0x', substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4)) AS INT) " +
        "% 10000) / 10000.0 < CAST(m.min_cnt AS DOUBLE) / c.cnt " +
        "GROUP BY d.source ORDER BY source")),

    // Temperature-flattened domain mixing — the N_s^alpha rebalancing
    // used for multilingual / multi-source training mixes: with
    // alpha = 0.5 the per-source acceptance rate is sqrt(min_cnt/cnt),
    // so small sources are upweighted relative to q76's uniform
    // downsample (alpha = 0). sqrt and division are IEEE correctly
    // rounded, so the double threshold is bit-identical on both engines
    // and the md5 gate keeps the same rows everywhere. Same two-pass
    // shape as q76: tiny per-source stats broadcast back, one linear
    // filtered scan — the corpus itself never shuffles.
    QuerySpec("q106_temperature_mix",
      (s, d) => mixGated(s, d)
        .filter(col("gate") < sqrt(col("min_cnt") / col("cnt")))
        .groupBy("source")
        .agg(max("cnt").as("cnt"), count(lit(1)).as("kept"),
          sum("doc_id").as("keep_checksum"))
        .orderBy("source"),
      Some("WITH c AS (SELECT source, count(*) AS cnt FROM documents GROUP BY source), " +
        "m AS (SELECT min(cnt) AS min_cnt FROM c) " +
        "SELECT d.source AS source, max(c.cnt) AS cnt, count(*) AS kept, " +
        "CAST(sum(d.doc_id) AS BIGINT) AS keep_checksum " +
        "FROM documents d JOIN c ON d.source = c.source CROSS JOIN m " +
        "WHERE (CAST(concat('0x', substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4)) AS INT) " +
        "% 10000) / 10000.0 < sqrt(CAST(m.min_cnt AS DOUBLE) / c.cnt) " +
        "GROUP BY d.source ORDER BY source")),

    // Per-document importance sampling — acceptance probability
    // proportional to a per-ROW weight (length, capped to [100, 2000]),
    // complementing the per-GROUP rates of q76/q106. The gate stays in
    // exact INTEGER arithmetic end to end: bucket = md5 mod 10000,
    // accept iff bucket < 5·w — no doubles anywhere, so the kept set is
    // identical on any engine at any scale. One linear scan, one hash
    // agg; checksums are modular (the q103 ANSI-overflow lesson).
    QuerySpec("q120_weighted_sample",
      (s, d) => Tables(s, d, "documents")
        .withColumn("w", expr("least(greatest(n_chars, 100), 2000)"))
        .withColumn("bk",
          conv(expr("substring(md5(CAST(doc_id AS STRING)), 1, 4)"), 16, 10)
            .cast("int") % 10000)
        .groupBy("source")
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("bk") < col("w") * 5, 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("bk") < col("w") * 5, col("w")).otherwise(0L)).as("kept_weight"),
          (sum(when(col("bk") < col("w") * 5, col("doc_id") % 1000000007L)
            .otherwise(0L)) % 1000000007L).as("keep_checksum"))
        .orderBy("source"),
      Some("WITH b AS (SELECT source, doc_id, " +
        "least(greatest(n_chars, 100), 2000) AS w, " +
        "CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INT) % 10000 AS bk " +
        "FROM documents) " +
        "SELECT source, count(*) AS n_total, " +
        "CAST(sum(CASE WHEN bk < w * 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept, " +
        "CAST(sum(CASE WHEN bk < w * 5 THEN w ELSE 0 END) AS BIGINT) AS kept_weight, " +
        "CAST(sum(CASE WHEN bk < w * 5 THEN doc_id % 1000000007 ELSE 0 END) " +
        "% 1000000007 AS BIGINT) AS keep_checksum " +
        "FROM b GROUP BY source ORDER BY source")),

    // Token co-occurrence lift (association mining): for the top-20
    // corpus tokens, how much more often do two tokens share a document
    // than independence predicts. lift = (c_xy·N)/(c_x·c_y) — ONE
    // correctly-rounded division of exact integer products, so the
    // doubles are bit-identical without rounding. The top-20 cut uses
    // the q27 total order (count desc, token asc). Shape: the postings
    // list is semi-joined down to 20 tokens BEFORE the doc_id self-join,
    // so pairs are bounded at C(20,2) per doc — never a corpus-wide
    // token cross product.
    QuerySpec("q123_cooccurrence_lift",
      (s, d) => {
        val docs = Tables(s, d, "documents")
        val postings = docs
          .select(col("doc_id"), explode(expr("array_distinct(filter(split(text, ' '), x -> x <> ''))")).as("tok"))
        val top = postings.groupBy("tok").agg(count(lit(1)).as("df"))
          .orderBy(col("df").desc, col("tok")).limit(20)
        val p = postings.join(broadcast(top), "tok")
        val n = docs.agg(count(lit(1)).as("n_docs"))
        p.as("a").join(p.as("b"), col("a.doc_id") === col("b.doc_id") &&
            col("a.tok") < col("b.tok"))
          .groupBy(col("a.tok").as("tok_a"), col("b.tok").as("tok_b"))
          .agg(count(lit(1)).as("c_xy"),
            max(col("a.df")).as("c_x"), max(col("b.df")).as("c_y"))
          .crossJoin(broadcast(n))
          .select(col("tok_a"), col("tok_b"), col("c_xy"),
            // DECIMAL(38,0) products: c_xy·N and c_x·c_y square past BIGINT
            // at web-corpus doc counts (the q103/q112 overflow discipline).
            expr("CAST(CAST(c_xy AS DECIMAL(38,0)) * n_docs AS DOUBLE) / " +
              "CAST(CAST(c_x AS DECIMAL(38,0)) * c_y AS DOUBLE)").as("lift"))
          .orderBy(col("lift").desc, col("tok_a"), col("tok_b"))
          .limit(30)
      },
      Some("WITH po AS (SELECT DISTINCT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok " +
        "FROM documents), " +
        "top AS (SELECT tok, count(*) AS df FROM po GROUP BY tok " +
        "ORDER BY df DESC, tok LIMIT 20), " +
        "p AS (SELECT po.doc_id, po.tok, top.df FROM po JOIN top ON po.tok = top.tok), " +
        "n AS (SELECT count(*) AS n_docs FROM documents), " +
        "pairs AS (SELECT a.tok AS tok_a, b.tok AS tok_b, count(*) AS c_xy, " +
        "max(a.df) AS c_x, max(b.df) AS c_y FROM p a JOIN p b " +
        "ON a.doc_id = b.doc_id AND a.tok < b.tok GROUP BY 1, 2) " +
        "SELECT tok_a, tok_b, c_xy, " +
        "CAST(CAST(c_xy AS DECIMAL(38,0)) * n_docs AS DOUBLE) / " +
        "CAST(CAST(c_x AS DECIMAL(38,0)) * c_y AS DOUBLE) AS lift " +
        "FROM pairs CROSS JOIN n ORDER BY lift DESC, tok_a, tok_b LIMIT 30")),

    // Sketch-based heavy hitters — approx_top_k (Spark 4's frequent-items
    // sketch) over the token stream: the one-pass, mergeable answer to
    // "top tokens" that survives cardinalities where the exact hash agg
    // (q27) would blow memory. No cross-engine oracle (sketch tie order
    // is internal); TextGapsSpec pins that with capacity ≥ the fixture
    // vocabulary the estimated counts equal q27's exact counts.
    QuerySpec("q128_approx_topk",
      (s, d) => Tables(s, d, "documents")
        .select(explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") =!= "")
        .agg(expr("approx_top_k(tok, 20, 100000)").as("top"))
        .select(explode(col("top")).as("e"))
        .select(col("e.item").as("tok"), col("e.count").as("est"))
        .orderBy(col("est").desc, col("tok")),
      None,
      gate = Some("property:TextGapsSpec/exact when capacity covers the vocabulary")),

    // parse_url scalar battery — host/path/single-query-param extraction,
    // the first stage of every web-corpus provenance pipeline. URLs are
    // derived deterministically from doc_id/source on BOTH engines (the
    // q88 appended-PII discipline: the clean fixture still exercises
    // every row); DuckDB re-derives the parts with regexes, so the
    // extraction itself is cross-checked, not just echoed.
    QuerySpec("q129_url_parse",
      (s, d) => Tables(s, d, "documents")
        .withColumn("url", expr(
          "concat('https://', element_at(array('alpha.example.com','beta.example.org'," +
            "'cdn.example.net','docs.example.io','www.example.dev'), " +
            "CAST(doc_id % 5 + 1 AS INT)), '/p/', doc_id, '?src=', source, '&id=', doc_id)"))
        .select(
          expr("parse_url(url, 'HOST')").as("host"),
          expr("parse_url(url, 'QUERY', 'src')").as("src_param"))
        .groupBy("host", "src_param").agg(count(lit(1)).as("n"))
        .orderBy("host", "src_param"),
      Some("WITH u AS (SELECT 'https://' || " +
        "(['alpha.example.com','beta.example.org','cdn.example.net'," +
        "'docs.example.io','www.example.dev'])[CAST(doc_id % 5 + 1 AS INT)] || " +
        "'/p/' || doc_id || '?src=' || source || '&id=' || doc_id AS url FROM documents) " +
        "SELECT regexp_extract(url, 'https://([^/]+)', 1) AS host, " +
        "regexp_extract(url, '[?&]src=([^&]*)', 1) AS src_param, " +
        "count(*) AS n FROM u GROUP BY 1, 2 ORDER BY 1, 2")),

    // Canonical text normalization — the cleaning stage every dedup key
    // is computed from: lowercase, strip non-alphanumerics, collapse
    // whitespace, and (for the near-dup key) mask digit runs. Emits both
    // digests; per-row codegen'd regex, no shuffle. DuckDB needs the 'g'
    // flag to match Spark's replace-all default.
    QuerySpec("q77_text_normalize",
      (s, d) => Tables(s, d, "documents")
        .withColumn("norm", trim(regexp_replace(
          regexp_replace(lower(col("text")), "[^a-z0-9 ]+", ""), " +", " ")))
        .select(col("doc_id"),
          length(col("norm")).as("n_norm"),
          md5(col("norm")).as("digest"),
          md5(regexp_replace(col("norm"), "[0-9]+", "0")).as("masked_digest"))
        .orderBy("doc_id").limit(200),
      Some("WITH n AS (SELECT doc_id, trim(regexp_replace(regexp_replace(" +
        "lower(text), '[^a-z0-9 ]+', '', 'g'), ' +', ' ', 'g')) AS norm FROM documents) " +
        "SELECT doc_id, CAST(length(norm) AS INT) AS n_norm, md5(norm) AS digest, " +
        "md5(regexp_replace(norm, '[0-9]+', '0', 'g')) AS masked_digest " +
        "FROM n ORDER BY doc_id LIMIT 200")),

    // PII redaction — the compliance pass every training corpus ships
    // through: detect + mask emails, phone numbers, and IPv4 addresses.
    // The fixture text is clean lowercase prose, so each row deterministically
    // appends synthetic PII derived from doc_id (identically on both
    // engines) — the redactor is exercised on every row and the oracle
    // stays a genuine independent re-derivation. Per-row codegen'd
    // regexes, no shuffle, linear scan — the 100 TB shape. Redaction
    // order (email → IP → phone) is fixed so digests agree.
    QuerySpec("q88_pii_redaction",
      (s, d) => {
        val emailPat = "[a-z0-9._]+@[a-z0-9.]+[a-z]"
        val phonePat = "555-[0-9]{4}"
        val ipPat = "[0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+"
        Tables(s, d, "documents")
          .withColumn("aug", concat(col("text"),
            lit(" contact user"), col("doc_id").cast("string"),
            lit("@mail.example.com call 555-"),
            lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
            lit(" from 10.0."), pmod(col("doc_id"), lit(256)).cast("string"),
            lit("."), expr("(doc_id div 256) % 256").cast("string")))
          .select(col("doc_id"),
            regexp_count(col("aug"), lit(emailPat)).as("n_email"),
            regexp_count(col("aug"), lit(phonePat)).as("n_phone"),
            regexp_count(col("aug"), lit(ipPat)).as("n_ip"),
            md5(regexp_replace(regexp_replace(regexp_replace(col("aug"),
              emailPat, "<EMAIL>"), ipPat, "<IP>"), phonePat, "<PHONE>"))
              .as("digest"))
          .orderBy("doc_id").limit(200)
      },
      Some("WITH a AS (SELECT doc_id, text || ' contact user' || " +
        "CAST(doc_id AS VARCHAR) || '@mail.example.com call 555-' || " +
        "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' from 10.0.' || " +
        "CAST(doc_id % 256 AS VARCHAR) || '.' || " +
        "CAST((doc_id // 256) % 256 AS VARCHAR) AS aug FROM documents) " +
        "SELECT doc_id, " +
        "CAST(len(regexp_extract_all(aug, '[a-z0-9._]+@[a-z0-9.]+[a-z]')) AS INT) AS n_email, " +
        "CAST(len(regexp_extract_all(aug, '555-[0-9]{4}')) AS INT) AS n_phone, " +
        "CAST(len(regexp_extract_all(aug, '[0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+')) AS INT) AS n_ip, " +
        "md5(regexp_replace(regexp_replace(regexp_replace(aug, " +
        "'[a-z0-9._]+@[a-z0-9.]+[a-z]', '<EMAIL>', 'g'), " +
        "'[0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+', '<IP>', 'g'), " +
        "'555-[0-9]{4}', '<PHONE>', 'g')) AS digest " +
        "FROM a ORDER BY doc_id LIMIT 200")),

    // Sparse cosine similarity via an INVERTED-INDEX join — the sparse
    // twin of q47's dense pairs: docs become (doc, term, tf) postings,
    // pairs meet on the term (equi-join, shuffle keyed by term), partial
    // products sum per pair, norms join back. No dense vectors anywhere;
    // at 100 TB the skew point is stop-term postings lists (cap df or
    // drop top-df terms) and the pair space is candidate-bounded
    // upstream — the doc_id cap here is the fixture's stand-in, like
    // q47/q68. Weights are integer term frequencies, so every dot is an
    // exact BIGINT and cos = dot/(sqrt·sqrt) is IEEE-identical on both
    // engines — no float-summation-order hazard (swap in q52's idf
    // weighting at deployment, where an oracle isn't hashing doubles).
    QuerySpec("q92_sparse_cosine",
      (s, d) => {
        val tf = Tables(s, d, "documents").filter(col("doc_id") < 300)
          .select(col("doc_id"),
            explode(expr("filter(split(text, ' '), x -> x <> '')")).as("term"))
          .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        val nrm = tf.groupBy("doc_id").agg(sum(col("tf") * col("tf")).as("ss"))
        val a = tf.select(col("doc_id").as("a_id"), col("term"), col("tf").as("tfa"))
        val b = tf.select(col("doc_id").as("b_id"), col("term"), col("tf").as("tfb"))
        a.join(b, "term").filter(col("a_id") < col("b_id"))
          .groupBy("a_id", "b_id").agg(sum(col("tfa") * col("tfb")).as("dot"))
          .join(nrm.select(col("doc_id").as("a_id"), col("ss").as("ssa")), "a_id")
          .join(nrm.select(col("doc_id").as("b_id"), col("ss").as("ssb")), "b_id")
          .withColumn("cos", round(col("dot") / (sqrt(col("ssa")) * sqrt(col("ssb"))), 6))
          .orderBy(col("cos").desc, col("a_id"), col("b_id")).limit(50)
          .select("a_id", "b_id", "dot", "cos")
      },
      Some("WITH toks AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), " +
        "x -> x <> '')) AS term FROM documents WHERE doc_id < 300), " +
        "tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2), " +
        "nrm AS (SELECT doc_id, sum(tf * tf) AS ss FROM tf GROUP BY 1), " +
        "dots AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, " +
        "CAST(sum(a.tf * b.tf) AS BIGINT) AS dot FROM tf a JOIN tf b " +
        "ON a.term = b.term AND a.doc_id < b.doc_id GROUP BY 1, 2) " +
        "SELECT d.a_id, d.b_id, d.dot, " +
        "round(d.dot / (sqrt(na.ss) * sqrt(nb.ss)), 6) AS cos " +
        "FROM dots d JOIN nrm na ON d.a_id = na.doc_id " +
        "JOIN nrm nb ON d.b_id = nb.doc_id " +
        "ORDER BY cos DESC, a_id, b_id LIMIT 50")),

    // The full cleaning funnel as ONE declarative query — the composition
    // a pipeline actually ships: normalize (q77) → quality gate → exact
    // dedup on the digit-masked digest (keep lowest doc_id) → repetition
    // gate (q74). Emits per-stage survivor counts plus doc_id/token
    // checksums of the final keep-set (a far stronger gate than counts).
    //
    // Shape: ONE scan, ONE shuffle. Stage flags become conditional
    // aggregates over the digest groupBy (map-side combined), and the
    // keep-list totals fold out of the same pass — no second scan, no
    // cross join. Deliberately NOT a `.filter(pass)` before the groupBy:
    // Catalyst pushes that filter below the projections and inlines the
    // whole normalize+split chain into every `tk[i]` access of the
    // trigram lambda — O(n_tokens · |doc|) regex work per document
    // (measured 33 s vs 1 s at sf0.1). Conditional aggregation keeps the
    // expensive columns materialized exactly once per row.
    QuerySpec("q80_pipeline_funnel",
      (s, d) => Tables(s, d, "documents")
        .withColumn("norm", trim(regexp_replace(
          regexp_replace(lower(col("text")), "[^a-z0-9 ]+", ""), " +", " ")))
        .withColumn("tk", expr("filter(split(norm, ' '), x -> x <> '')"))
        .withColumn("n_tok", expr("size(tk)"))
        .withColumn("pass_quality", col("n_tok") >= 30)
        .withColumn("tg", expr("transform(sequence(0, greatest(size(tk) - 3, 0)), " +
          "i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2]))"))
        .withColumn("pass", col("pass_quality") &&
          expr("n_tok >= 3 AND 1.0 - size(array_distinct(tg)) / size(tg) < 0.5"))
        .withColumn("digest", md5(regexp_replace(col("norm"), "[0-9]+", "0")))
        .groupBy("digest")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("pass_quality"), 1L).otherwise(0L)).as("n_q"),
          sum(when(col("pass"), 1L).otherwise(0L)).as("n_c"),
          min(when(col("pass"), col("doc_id"))).as("keep_id"),
          // masking preserves token alignment, so n_tok is constant
          // within a digest group — min over survivors is exact
          min(when(col("pass"), col("n_tok"))).as("nt"))
        .agg(sum("n_docs").as("n_raw"),
          sum("n_q").as("n_quality"),
          sum("n_c").as("n_clean"),
          coalesce(sum(when(col("keep_id").isNotNull, 1L)), lit(0L)).as("n_kept"),
          sum("keep_id").as("keep_id_sum"),
          sum(when(col("keep_id").isNotNull, col("nt"))).cast("bigint")
            .as("kept_tokens")),
      Some("WITH n AS (SELECT doc_id, trim(regexp_replace(regexp_replace(" +
        "lower(text), '[^a-z0-9 ]+', '', 'g'), ' +', ' ', 'g')) AS norm FROM documents), " +
        "t AS (SELECT doc_id, norm, list_filter(string_split(norm, ' '), x -> x <> '') AS tk FROM n), " +
        "st AS (SELECT doc_id, len(tk) AS ntok, len(tk) >= 30 AS pass_quality, " +
        "len(tk) >= 3 AND 1.0 - len(list_distinct(list_transform(" +
        "generate_series(1, greatest(len(tk) - 2, 1)), " +
        "i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2])))) / " +
        "greatest(len(tk) - 2, 1) < 0.5 AS pass_rep, " +
        "md5(regexp_replace(norm, '[0-9]+', '0', 'g')) AS digest FROM t), " +
        "k AS (SELECT digest, min(doc_id) AS keep_id, min(ntok) AS n_tok FROM st " +
        "WHERE pass_quality AND pass_rep GROUP BY digest), " +
        "tot AS (SELECT count(*) AS n_raw, " +
        "CAST(sum(CASE WHEN pass_quality THEN 1 ELSE 0 END) AS BIGINT) AS n_quality, " +
        "CAST(sum(CASE WHEN pass_quality AND pass_rep THEN 1 ELSE 0 END) AS BIGINT) AS n_clean FROM st), " +
        "kt AS (SELECT count(*) AS n_kept, CAST(sum(keep_id) AS BIGINT) AS keep_id_sum, " +
        "CAST(sum(n_tok) AS BIGINT) AS kept_tokens FROM k) " +
        "SELECT * FROM tot CROSS JOIN kt")),

    // Stratified exact-k sampling — exactly 20 docs per source, chosen by
    // the deterministic md5 order (any engine, any cluster layout → the
    // same sample). The rn <= 20 predicate qualifies for Spark's
    // WindowGroupLimit pushdown, so each partition keeps a 20-row heap
    // per source instead of fully sorting — the per-stratum top-k plan
    // that survives 100 TB.
    QuerySpec("q81_stratified_sample",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("source")
          .orderBy(expr("md5(CAST(doc_id AS STRING))"), col("doc_id"))
        Tables(s, d, "documents")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 20)
          .groupBy("source")
          .agg(count(lit(1)).as("n_sampled"), sum("doc_id").as("id_checksum"))
          .orderBy("source")
      },
      Some("WITH r AS (SELECT source, doc_id, row_number() OVER " +
        "(PARTITION BY source ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn " +
        "FROM documents) " +
        "SELECT source, count(*) AS n_sampled, CAST(sum(doc_id) AS BIGINT) AS id_checksum " +
        "FROM r WHERE rn <= 20 GROUP BY source ORDER BY source")),

    // Context-length clipping — truncate every document to its first 256
    // tokens (the budget-enforcement step before packing); emits the
    // post-clip token count and a digest of the clipped text. Per-row
    // slice, linear scan.
    QuerySpec("q82_token_truncate",
      (s, d) => Tables(s, d, "documents")
        .withColumn("tk", expr("filter(split(text, ' '), x -> x <> '')"))
        .select(col("doc_id"),
          least(expr("size(tk)"), lit(256)).as("n_out"),
          md5(expr("array_join(slice(tk, 1, 256), ' ')")).as("digest"))
        .orderBy("doc_id").limit(200),
      Some("WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), " +
        "x -> x <> '') AS tk FROM documents) " +
        "SELECT doc_id, CAST(least(len(tk), 256) AS INT) AS n_out, " +
        "md5(array_to_string(tk[1:256], ' ')) AS digest " +
        "FROM t ORDER BY doc_id LIMIT 200")),

    // Adaptive quality threshold — keep everything at or above the
    // corpus's own P25 of the q42 quality score: the data-dependent
    // filter a pipeline uses when an absolute threshold won't transfer
    // across corpora. Two-phase: exact interpolated percentile (one tiny
    // aggregate, broadcast back), then conditional aggregation — NOT a
    // row filter, which pushdown would re-inline through the score's
    // HOF chain (the q80 lesson).
    QuerySpec("q83_adaptive_quality",
      (s, d) => {
        val scored = qualityScores(s, d)
        val thr = scored.agg(expr("round(percentile(score, 0.25), 6)").as("thr"))
        scored.crossJoin(broadcast(thr))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("score") >= col("thr"), 1L).otherwise(0L)).as("n_kept"),
            sum(when(col("score") >= col("thr"), col("doc_id"))).as("kept_id_sum"),
            max("thr").as("thr"))
      },
      Some("WITH sc AS (SELECT doc_id, " + duckQualityScore + "FROM documents), " +
        "t AS (SELECT round(quantile_cont(score, 0.25), 6) AS thr FROM sc) " +
        "SELECT count(*) AS n_docs, " +
        "CAST(sum(CASE WHEN score >= thr THEN 1 ELSE 0 END) AS BIGINT) AS n_kept, " +
        "CAST(sum(CASE WHEN score >= thr THEN doc_id END) AS BIGINT) AS kept_id_sum, " +
        "max(thr) AS thr FROM sc CROSS JOIN t")),

    // Document fingerprints: full md5 plus a 60-bit integer prefix (the
    // join-key form used for exact dedup at scale — group by fp64, not by
    // the full text).
    QuerySpec("q43_fingerprint",
      (s, d) => Tables(s, d, "documents")
        .select(col("doc_id"), md5(col("text")).as("digest"),
          conv(expr("substring(md5(text), 1, 15)"), 16, 10).cast("bigint").as("fp64"))
        .orderBy("doc_id").limit(200),
      Some("SELECT doc_id, md5(text) AS digest, " +
        "CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT) AS fp64 " +
        "FROM documents ORDER BY doc_id LIMIT 200")),

    // Concat-and-chunk sequence packing — the GPT-pretraining layout:
    // documents are concatenated in doc_id order and sliced into
    // fixed-budget context windows. The exclusive prefix sum is SHARDED
    // (the 100 TB form): per-shard partial sums run partitioned in
    // parallel, only the shard-grain total table (corpus/shardSize rows,
    // the one unpartitioned window here — bounded, and two-levelable the
    // same way if shards themselves got huge) is globally rebased, and
    // the tiny offset table broadcasts back. Same arithmetic as the
    // single-sort form, no single-task WindowExec over the corpus.
    // Emits where each doc lands: first window, offset within it, and
    // how many windows it straddles. Oracle derived columns are CAST to
    // BIGINT: DuckDB sum()/'//' yield HUGEINT and the driver hashes
    // typed values (the q93 checksum discipline).
    QuerySpec("q72_sequence_packing",
      (s, d) => {
        val budget = 2048L
        val shardSize = 100L
        val W = org.apache.spark.sql.expressions.Window
        val intra = W.partitionBy("shard").orderBy("doc_id")
          .rowsBetween(W.unboundedPreceding, -1)
        val shardOff = W.orderBy("shard").rowsBetween(W.unboundedPreceding, -1)
        val base = Tables(s, d, "documents")
          .select(col("doc_id"),
            expr("size(filter(split(text, ' '), x -> x <> ''))").cast("bigint").as("n_tok"))
          .withColumn("shard", expr(s"doc_id div $shardSize"))
        val offsets = base.groupBy("shard").agg(sum("n_tok").as("shard_tok"))
          .withColumn("off", coalesce(sum("shard_tok").over(shardOff), lit(0L)))
          .select("shard", "off")
        base
          .withColumn("intra", coalesce(sum("n_tok").over(intra), lit(0L)))
          .join(broadcast(offsets), "shard")
          .withColumn("tok_start", col("off") + col("intra"))
          .select(col("doc_id"), col("n_tok"), col("tok_start"),
            (col("tok_start") / budget).cast("bigint").as("first_window"),
            (col("tok_start") % budget).as("window_offset"),
            (((col("tok_start") + col("n_tok") - 1) / budget).cast("bigint")
              - (col("tok_start") / budget).cast("bigint") + 1).as("windows_spanned"))
          .orderBy("doc_id")
      },
      Some("WITH t AS (SELECT doc_id, " +
        "CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tok " +
        "FROM documents), " +
        "p AS (SELECT doc_id, n_tok, coalesce(sum(n_tok) OVER (ORDER BY doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tok_start FROM t) " +
        "SELECT doc_id, n_tok, CAST(tok_start AS BIGINT) AS tok_start, " +
        "CAST(tok_start // 2048 AS BIGINT) AS first_window, " +
        "CAST(tok_start % 2048 AS BIGINT) AS window_offset, " +
        "CAST((tok_start + n_tok - 1) // 2048 - tok_start // 2048 + 1 AS BIGINT) AS windows_spanned " +
        "FROM p ORDER BY doc_id")),

    // Eval-set decontamination — the industry shape: hash every n-gram
    // shingle of train and eval docs, join train against eval on the
    // hash, report per-train-doc contamination (distinct shared shingles
    // + which eval docs). The join is keyed on the 60-bit shingle
    // fingerprint — at 100 TB the eval side is tiny and broadcasts; no
    // text ever crosses the shuffle. n = 3 here: real pipelines use
    // 8-13-gram shingles, but the fixture's short random-word docs share
    // no 5-gram across the split at any SF (verified), and the operator
    // shape is n-independent.
    QuerySpec("q73_contamination",
      (s, d) => {
        val grams = trigramHashes(Tables(s, d, "documents").filter(col("doc_id") < 200))
        val eval_ = grams.filter(col("doc_id") >= 190)
          .select(col("doc_id").as("eval_id"), col("h"))
        // eval_ids is a comma-joined STRING (sorted numerically BEFORE the
        // string cast), not an ARRAY: the driver's hash layer sorts rows
        // through pandas, which cannot hash list cells — same semantics,
        // hashable row.
        grams.filter(col("doc_id") >= 10 && col("doc_id") < 190).as("t")
          .join(broadcast(eval_), "h")
          .groupBy(col("doc_id"))
          .agg(countDistinct(col("h")).as("shared_grams"),
            array_sort(collect_set(col("eval_id"))).as("ids"))
          .select(col("doc_id"), col("shared_grams"),
            expr("array_join(transform(ids, x -> CAST(x AS STRING)), ',')").as("eval_ids"))
          .orderBy("doc_id")
      },
      Some(duckTrigrams +
        "SELECT t.doc_id AS doc_id, count(DISTINCT t.h) AS shared_grams, " +
        "array_to_string(list_sort(list(DISTINCT e.doc_id)), ',') AS eval_ids " +
        "FROM g t JOIN g e ON t.h = e.h AND t.doc_id >= 10 AND t.doc_id < 190 " +
        "AND e.doc_id >= 190 GROUP BY t.doc_id ORDER BY doc_id")),

    // Vocabulary coverage (Zipf curve) — how many distinct tokens cover
    // 50/90/99% of all token occurrences: the sizing question every
    // tokenizer/vocab decision starts from. Corpus-sized work is one
    // explode + hash-agg; the running-total window then runs over the
    // VOCAB-sized table only (distinct tokens, orders of magnitude
    // smaller than the corpus — the global sort is deliberate and
    // bounded). Thresholds compare integer cross-products (cum*100 vs
    // total*p), so the knee points are exact on both engines.
    QuerySpec("q102_vocab_coverage",
      (s, d) => {
        val counts = Tables(s, d, "documents")
          .select(explode(split(col("text"), " ")).as("tok"))
          .filter(col("tok") =!= "")
          .groupBy("tok").agg(count(lit(1)).as("c"))
        val W = org.apache.spark.sql.expressions.Window
        val byFreq = W.orderBy(col("c").desc, col("tok"))
        val w = byFreq.rowsBetween(W.unboundedPreceding, W.currentRow)
        val tot = counts.agg(sum(col("c")).as("total"))
        counts
          .withColumn("r", row_number().over(byFreq).cast("long"))
          .withColumn("cum", sum(col("c")).over(w))
          .crossJoin(broadcast(tot))
          .agg(max(col("total")).as("n_tokens"),
            count(lit(1)).as("vocab_size"),
            min(when(col("cum") * 2 >= col("total"), col("r"))).as("v50"),
            min(when(col("cum") * 10 >= col("total") * 9, col("r"))).as("v90"),
            min(when(col("cum") * 100 >= col("total") * 99, col("r"))).as("v99"))
      },
      Some("WITH tokc AS (SELECT tok, count(*) AS c FROM " +
        "(SELECT unnest(string_split(text, ' ')) AS tok FROM documents) " +
        "WHERE tok <> '' GROUP BY tok), " +
        "r AS (SELECT c, CAST(row_number() OVER (ORDER BY c DESC, tok) AS BIGINT) AS r, " +
        "sum(c) OVER (ORDER BY c DESC, tok ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum " +
        "FROM tokc), t AS (SELECT sum(c) AS total FROM tokc) " +
        "SELECT CAST(max(total) AS BIGINT) AS n_tokens, count(*) AS vocab_size, " +
        "CAST(min(CASE WHEN cum * 2 >= total THEN r END) AS BIGINT) AS v50, " +
        "CAST(min(CASE WHEN cum * 10 >= total * 9 THEN r END) AS BIGINT) AS v90, " +
        "CAST(min(CASE WHEN cum * 100 >= total * 99 THEN r END) AS BIGINT) AS v99 " +
        "FROM r CROSS JOIN t")),

    // Per-document n-gram novelty — the memorization-risk / boilerplate
    // metric: the fraction of a doc's distinct trigrams that appear in NO
    // other document. Corpus-wide work is two shuffles, both keyed on the
    // 60-bit trigram fingerprint (document-frequency count, then the
    // join back) — text never crosses the wire, the q75 discipline.
    // Docs with < 3 tokens are filtered identically on both engines (the
    // empty-sequence corner differs between Spark and DuckDB otherwise).
    QuerySpec("q107_novelty",
      (s, d) => {
        val grams = trigramHashes(Tables(s, d, "documents"))
        val freq = grams.groupBy("h").agg(count(lit(1)).as("df"))
        grams.join(freq, "h")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_grams"),
            sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_unique"))
          .withColumn("novelty",
            round(col("n_unique").cast("double") / col("n_grams"), 6))
          .orderBy("doc_id").limit(300)
      },
      Some("WITH toks AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk " +
        "FROM documents), " +
        "g AS (SELECT DISTINCT doc_id, CAST(concat('0x', substr(md5(concat_ws(' ', " +
        "tk[i], tk[i+1], tk[i+2])), 1, 15)) AS BIGINT) AS h " +
        "FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 2)) AS i " +
        "FROM toks WHERE len(tk) >= 3)), " +
        "f AS (SELECT h, count(*) AS df FROM g GROUP BY h) " +
        "SELECT doc_id, count(*) AS n_grams, " +
        "CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique, " +
        "round(CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS novelty " +
        "FROM g JOIN f USING (h) GROUP BY doc_id ORDER BY doc_id LIMIT 300")),

    // Overlapping sliding-window chunking (RAG-style retrieval-corpus
    // prep): every doc becomes 64-token windows at a 16-token stride, so
    // context stays continuous across chunk boundaries. One explode per
    // chunk START (n/stride rows per doc, not n per token); the chunk
    // text never leaves the operator — only its token count and 60-bit
    // fingerprint do, which is what keeps the pass shuffle-light at
    // 100 TB.
    QuerySpec("q104_overlap_chunks",
      (s, d) => Tables(s, d, "documents")
        .filter(col("doc_id") < 100)
        .select(col("doc_id"),
          expr("filter(split(text, ' '), x -> x <> '')").as("tk"))
        .select(col("doc_id"), col("tk"),
          explode(expr(s"sequence(0, size(tk) - 1, $chunkStride)")).as("start"))
        .select(col("doc_id"),
          (col("start") / chunkStride).cast("int").as("chunk_idx"),
          expr(s"slice(tk, start + 1, $chunkSize)").as("chunk"))
        .select(col("doc_id"), col("chunk_idx"),
          size(col("chunk")).as("n_tokens"),
          expr("CAST(conv(substring(md5(concat_ws(' ', chunk)), 1, 15), 16, 10) AS BIGINT)")
            .as("chunk_fp"))
        .orderBy("doc_id", "chunk_idx"),
      Some("WITH toks AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk " +
        s"FROM documents WHERE doc_id < 100), " +
        s"c AS (SELECT doc_id, CAST(start / $chunkStride AS INT) AS chunk_idx, " +
        s"list_slice(tk, start + 1, start + $chunkSize) AS chunk FROM " +
        s"(SELECT doc_id, tk, unnest(generate_series(0, len(tk) - 1, $chunkStride)) AS start FROM toks)) " +
        "SELECT doc_id, chunk_idx, CAST(len(chunk) AS INT) AS n_tokens, " +
        "CAST(concat('0x', substr(md5(array_to_string(chunk, ' ')), 1, 15)) AS BIGINT) AS chunk_fp " +
        "FROM c ORDER BY doc_id, chunk_idx"))
  )
}
