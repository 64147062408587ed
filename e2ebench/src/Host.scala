package e2ebench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Facts about the host a result was measured on. Load and CPU steal are
  * sampled at the start and the end of a run: a loaded or throttled host
  * shows in the record even when the figures look plausible. */
object Host {
  private def read(path: String): String =
    try Files.readString(Paths.get(path)) catch { case _: java.io.IOException => "" }

  def loadAvg1(): Double =
    read("/proc/loadavg").split(' ').headOption.flatMap(_.toDoubleOption).getOrElse(-1.0)

  /** (steal, total) jiffies of the aggregate `cpu` line of /proc/stat;
    * steal is its 8th value column. */
  def stealJiffies(): (Long, Long) =
    read("/proc/stat").linesIterator.find(_.startsWith("cpu ")) match {
      case Some(l) =>
        val v = l.split("\\s+").drop(1).flatMap(_.toLongOption)
        (if (v.length > 7) v(7) else 0L, v.sum)
      case None => (0L, 0L)
    }

  /** Heap still in use after a full collection, in MiB: the data a run
    * keeps alive (cached blocks, memoized schemas and models, leaked
    * frames, Spark's job history), free of the GC-timing noise that makes a
    * JVM's resident-set peak vary by 20-40 % between identical runs. */
  def liveHeapMb(): Double = {
    // Spark's ContextCleaner frees the blocks of collected RDDs on its own
    // thread, after a collection: give it time, then collect again.
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb(): Double =
    read("/proc/self/status").linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)

  final case class Sample(load1: Double, steal: Long, total: Long)
  def sample(): Sample = { val (s, t) = stealJiffies(); Sample(loadAvg1(), s, t) }

  def facts(start: Sample, end: Sample, sparkVersion: String): Map[String, Any] = {
    val dTotal = math.max(1L, end.total - start.total)
    Map(
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "SPARK_GRAFT_CPUS" -> sys.env.getOrElse("SPARK_GRAFT_CPUS", "unset"),
      "jvm_xmx" -> java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.asScala.filter(_.startsWith("-Xmx")).mkString(" "),
      "jdk" -> System.getProperty("java.version"),
      "spark" -> sparkVersion,
      "scala" -> scala.util.Properties.versionNumberString,
      "load1_start" -> start.load1, "load1_end" -> end.load1,
      "steal_jiffies_start" -> start.steal, "steal_jiffies_end" -> end.steal,
      "steal_share_during_run" -> (end.steal - start.steal).toDouble / dTotal)
  }
}
