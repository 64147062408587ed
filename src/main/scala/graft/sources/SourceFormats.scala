package graft.sources

import graft.{QuerySpec, Tables}
import org.apache.spark.sql.functions._

/** Source-format coverage beyond parquet and SNAP text: CSV (with header,
  * schema'd read), JSON-lines, and ORC (built-in — orc-core ships with
  * Spark), exercised as write→read round trips whose results must equal
  * the parquet originals — so the oracle is just the parquet-table SQL
  * and the round trip itself is the operator under test. (Avro stays
  * uncovered: the spark-avro DATASOURCE module is not on the classpath —
  * only the avro library jar Spark uses internally.)
  */
object SourceFormats {

  // Round-trip files must outlive the query (the returned DataFrame reads
  // them lazily), so they live under one JVM-lifetime root instead of
  // leaking a dir per invocation.
  private lazy val root = graft.TmpFiles.jvmRoot("graft-roundtrip")

  private def roundTripDir(prefix: String): String =
    root.resolve(prefix).toString

  val specs: Seq[QuerySpec] = Seq(

    QuerySpec("q60_csv_roundtrip",
      (s, d) => {
        val dir = roundTripDir("graft-csv")
        val src = Tables(s, d, "customer")
        src.write.mode("overwrite").option("header", "true").csv(dir)
        s.read.option("header", "true").schema(src.schema).csv(dir)
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("c"),
            sum(col("c_acctbal").cast("decimal(18,2)")).cast("double").as("bal"))
          .orderBy("c_mktsegment")
      },
      Some("SELECT c_mktsegment, count(*) AS c, " +
        "CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal " +
        "FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment")),

    QuerySpec("q61_json_roundtrip",
      (s, d) => {
        val dir = roundTripDir("graft-json")
        val src = Tables(s, d, "part")
        src.write.mode("overwrite").json(dir)
        s.read.schema(src.schema).json(dir)
          .groupBy("p_brand")
          .agg(count(lit(1)).as("c"), max("p_size").as("max_size"))
          .orderBy("p_brand")
      },
      Some("SELECT p_brand, count(*) AS c, max(p_size) AS max_size " +
        "FROM part GROUP BY p_brand ORDER BY p_brand")),

    // Schema evolution — the data-lake reality: files written before a
    // column existed sit next to files written after. Half of `orders`
    // lands with the v1 schema (no o_totalprice), half with v2; a
    // mergeSchema read reconciles them (v1 rows surface NULL), and the
    // aggregate must equal the original table's arithmetic.
    QuerySpec("q84_schema_evolution",
      (s, d) => {
        val dir = roundTripDir("graft-evolve")
        val src = Tables(s, d, "orders")
        src.filter(col("o_orderkey") % 2 === 0)
          .select("o_orderkey", "o_custkey")
          .write.mode("overwrite").parquet(dir + "/v1")
        src.filter(col("o_orderkey") % 2 === 1)
          .select("o_orderkey", "o_custkey", "o_totalprice")
          .write.mode("overwrite").parquet(dir + "/v2")
        s.read.option("mergeSchema", "true").parquet(dir + "/v1", dir + "/v2")
          .agg(count(lit(1)).as("n"),
            count(col("o_totalprice")).as("n_priced"),
            sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("sp"))
      },
      Some("SELECT count(*) AS n, " +
        "CAST(sum(CASE WHEN o_orderkey % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_priced, " +
        "CAST(sum(CASE WHEN o_orderkey % 2 = 1 " +
        "THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS sp FROM orders")),

    // Hive-style partitioned layout — write `documents` partitioned by
    // source, read back with a partition predicate. The filter must
    // resolve at PLANNING time from directory names (PartitionFilters in
    // the scan, pinned in PlanSpec): at 100 TB this is the difference
    // between listing one directory and scanning the corpus.
    QuerySpec("q85_partitioned_pruning",
      (s, d) => {
        val dir = roundTripDir("graft-partitioned")
        Tables(s, d, "documents")
          .write.partitionBy("source").mode("overwrite").parquet(dir)
        s.read.parquet(dir)
          .filter(col("source") === "src1")
          .agg(count(lit(1)).as("n"),
            sum("n_chars").as("chars"),
            sum("doc_id").as("id_checksum"))
      },
      Some("SELECT count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars, " +
        "CAST(sum(doc_id) AS BIGINT) AS id_checksum " +
        "FROM documents WHERE source = 'src1'")),

    QuerySpec("q71_orc_roundtrip",
      (s, d) => {
        val dir = roundTripDir("graft-orc")
        val src = Tables(s, d, "supplier")
        src.write.mode("overwrite").orc(dir)
        s.read.schema(src.schema).orc(dir)
          .groupBy("s_nationkey")
          .agg(count(lit(1)).as("c"),
            sum(col("s_acctbal").cast("decimal(18,2)")).cast("double").as("bal"))
          .orderBy("s_nationkey")
      },
      Some("SELECT s_nationkey, count(*) AS c, " +
        "CAST(sum(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal " +
        "FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey")),

    // Small-file compaction — the operational pass every streaming sink's
    // landing zone needs: 64 tiny files (stand-in for per-micro-batch
    // output) are rewritten into a few large RANGE-SORTED files.
    // repartitionByRange gives each output file a disjoint ts range, so
    // downstream time-filtered scans skip whole files/row-groups on
    // parquet zone maps; maxRecordsPerFile bounds file size without a
    // second shuffle. Content must survive the rewrite exactly (this
    // oracle); CompactionSpec asserts the layout contract — fewer files,
    // pairwise-disjoint per-file time ranges.
    QuerySpec("q103_compaction",
      (s, d) => {
        val frag = roundTripDir("graft-frag")
        val compact = roundTripDir("graft-compact")
        val src = Tables(s, d, "events")
        src.repartition(64).write.mode("overwrite").parquet(frag)
        s.read.parquet(frag)
          .repartitionByRange(4, col("ts"), col("event_id"))
          .sortWithinPartitions("ts", "event_id")
          .write.mode("overwrite")
          .option("maxRecordsPerFile", 20000)
          .parquet(compact)
        s.read.parquet(compact)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(18,6)")).cast("double").as("value_sum"),
            // µs-epoch terms are ~1.7e15, so a raw sum overflows BIGINT
            // past ~5k rows per group under ANSI mode; a modular sum is
            // the overflow-proof row-identity checksum at any scale.
            sum(expr("unix_micros(ts) % 1000000007")).as("ts_checksum"))
          .orderBy("event_type")
      },
      Some("SELECT event_type, count(*) AS n, " +
        "CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum, " +
        "CAST(sum(epoch_us(CAST(ts AS TIMESTAMP)) % 1000000007) AS BIGINT) AS ts_checksum " +
        "FROM events GROUP BY event_type ORDER BY event_type"))
  )
}
