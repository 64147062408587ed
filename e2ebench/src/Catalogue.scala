package e2ebench

import scala.jdk.CollectionConverters._

/** The metric names and units come from `BENCHMARK.json` alone (METRICS.md
  * explains each one); this object holds only the parts of the names the
  * workloads compose them from. */
object Catalogue {
  /** Modules of the batch suite that the batch workload's queries come from. */
  val BatchModules: Seq[String] = Seq("relational", "ext.text", "ext.dedup",
    "ext.similarity", "ext.multimodal", "ext.scaleops", "sources")

  /** The counters kept per graph step; the rest are in the span file. */
  val StepCounters: Seq[String] =
    Seq("jobs", "stages", "tasks", "task_ms", "core_util", "shuffle_write_bytes")

  val SelfLayers: Seq[String] = Seq("sessions", "tables", "relational", "ext",
    "sources", "snap", "golden", "graphx", "streaming")

  /** (end-to-end, per-layer) metrics of a benchmark definition, each a
    * name and its unit, in file order. */
  def load(path: String): (Seq[(String, String)], Seq[(String, String)]) = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) Main.missing(path)
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(p.toFile)
    def list(key: String) = root.get(key).elements().asScala.toSeq
      .map(m => m.get("name").asText() -> m.get("unit").asText())
    (list("end_to_end"), list("per_layer"))
  }
}

/** Stored expected outputs; their provenance is in the header of
  * `expected/stream.tsv`, in `expected/make_batch_expected.py` and in
  * README.md ("Output checks"). */
object Expected {
  private var dir: String = "e2ebench/expected"
  def setDir(d: String): Unit = dir = d

  private def rows(file: String): Seq[Array[String]] = {
    val p = java.nio.file.Paths.get(dir, file)
    if (!java.nio.file.Files.exists(p)) Main.missing(p.toString)
    java.nio.file.Files.readAllLines(p).asScala.toSeq
      .filterNot(l => l.isEmpty || l.startsWith("#")).map(_.split("\t"))
  }

  /** query -> (rows, digest) at a scale factor. */
  def batch(sf: String): Map[String, (Long, String)] =
    rows("batch.tsv").filter(_(0) == sf).map(r => r(1) -> (r(2).toLong, r(3))).toMap

  /** stream -> (out_rows, state_rows_max) at a scale factor. */
  def stream(sf: String): Map[String, (Long, Long)] =
    rows("stream.tsv").filter(_(0) == sf).map(r => r(1) -> (r(2).toLong, r(3).toLong)).toMap
}
