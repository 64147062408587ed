package graft.sources

import graft.{SparkSuite, Tables, TmpFiles}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class ZOrderSpec extends SparkSuite {
  private val sf = "/root/testdata/sf0.01"

  /** Write `df` z-ordered on (x, y): range-partition + sort by the
    * interleaved key, so each output file owns a contiguous z range — a
    * bounded rectangle in (x, y) space for the reader's zone maps. */
  private def writeZOrdered(df: DataFrame, x: String, y: String, files: Int,
      path: String): Unit =
    ZOrderLayout.withZ(df, x, y)
      .repartitionByRange(files, col("z"))
      .sortWithinPartitions("z")
      .drop("z")
      .write.mode("overwrite").parquet(path)

  test("z-ordered files bound BOTH dimensions; key-sorted files bound only one") {
    // The property zone-map file skipping depends on: after a z-ordered
    // write, every parquet file's (x, y) min/max box is a bounded
    // rectangle, so a predicate on EITHER column prunes files. A plain
    // sort on x leaves y unbounded (every file spans ~the full y range).
    val dir = java.nio.file.Files.createTempDirectory("graft-zorder").toString
    try {
      val src = Tables(spark, sf, "lineitem")
        .select((col("l_partkey") % 256).as("x"), (col("l_suppkey") % 256).as("y"))
      val files = 16
      writeZOrdered(src, "x", "y", files, s"$dir/z")
      src.repartitionByRange(files, col("x")).sortWithinPartitions("x")
        .write.mode("overwrite").parquet(s"$dir/byx")

      def spans(path: String): Seq[(Long, Long)] =
        spark.read.parquet(path)
          .groupBy(input_file_name()).agg(
            (max("x") - min("x")).as("xs"), (max("y") - min("y")).as("ys"))
          .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq

      val zSpans = spans(s"$dir/z")
      val xSpans = spans(s"$dir/byx")
      assert(zSpans.size > 4 && xSpans.size > 4)
      val fullY = 99L // suppkeys 1..100 at sf0.01
      def avg(s: Seq[Long]): Double = s.sum.toDouble / s.size
      val zAvgY = avg(zSpans.map(_._2))
      val xAvgY = avg(xSpans.map(_._2))
      // x-sorted files each see ~every supplier; z-ordered files must cut
      // the y span substantially while keeping x bounded too.
      assert(xAvgY > fullY * 0.8, s"x-sorted yspan=$xAvgY")
      assert(zAvgY < xAvgY * 0.7, s"z yspan=$zAvgY vs x-sorted $xAvgY")
      val zAvgX = avg(zSpans.map(_._1))
      assert(zAvgX < 256 * 0.7, s"z xspan=$zAvgX not bounded")
    } finally TmpFiles.deleteRecursively(dir)
  }
}
