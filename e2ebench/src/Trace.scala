package e2ebench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** Work counted for one span: the Spark jobs, stages and tasks its calls
  * launched, summed from task metrics. */
final class Counters {
  var jobs = 0L; var stages = 0L; var tasks = 0L; var taskMs = 0L; var maxTaskMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L; var input = 0L; var gcMs = 0L

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; taskMs += o.taskMs
    maxTaskMs = math.max(maxTaskMs, o.maxTaskMs); shuffleWrite += o.shuffleWrite
    shuffleRead += o.shuffleRead; spill += o.spill; input += o.input; gcMs += o.gcMs
  }

  /** The execute counters of the catalogue; `busyMs` is the wall time the
    * core-utilisation ratio is taken against. */
  def metrics(busyMs: Double, cores: Int): Seq[(String, Double)] = Seq(
    "jobs" -> jobs.toDouble, "stages" -> stages.toDouble, "tasks" -> tasks.toDouble,
    "task_ms" -> taskMs.toDouble,
    "core_util" -> (if (busyMs > 0) taskMs / (busyMs * cores) else 0.0),
    "max_task_ms" -> maxTaskMs.toDouble,
    "shuffle_write_bytes" -> shuffleWrite.toDouble,
    "shuffle_read_bytes" -> shuffleRead.toDouble,
    "spill_bytes" -> spill.toDouble, "input_bytes" -> input.toDouble,
    "gc_ms" -> gcMs.toDouble)
}

final case class Span(id: Int, name: String, layer: String, parent: Int,
    startNs: Long, var endNs: Long = -1L) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spans around the benchmark's calls into the engine, plus the listener
  * that counts the work each span caused.
  *
  * Every job is tagged with the innermost open span through a Spark local
  * property (inherited by the threads a query or a stream starts), so a
  * task is charged to the call that caused it, not to whatever ran at the
  * same time. Spans and counters stay in memory until the run ends.
  *
  * Between `attach` and `detach` jobs are tagged and counted; outside, the
  * tracer only keeps the span tree (a few objects per operation). */
final class Tracer {
  private var enabled = false
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private val counters = mutable.HashMap.empty[Int, Counters]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  @volatile private var markerSeen = -1
  private var sc: SparkContext = _
  private val Key = "e2ebench.span"
  private val MarkerBase = 1000000000

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val id = Option(e.properties).flatMap(p => Option(p.getProperty(Key)))
        .map(_.toInt).getOrElse(-1)
      if (id >= MarkerBase) markerSeen = id
      else Tracer.this.synchronized {
        e.stageIds.foreach(stageSpan(_) = id)
        c(id).jobs += 1
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Tracer.this.synchronized {
        stageSpan.get(e.stageInfo.stageId).foreach(id => c(id).stages += 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      stageSpan.get(e.stageId).foreach { id =>
        val k = c(id); val m = e.taskMetrics
        k.tasks += 1
        if (m != null) {
          k.taskMs += m.executorRunTime
          k.maxTaskMs = math.max(k.maxTaskMs, m.executorRunTime)
          k.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          k.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          k.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          k.input += m.inputMetrics.bytesRead
          k.gcMs += m.jvmGCTime
        }
      }
    }
  }

  private def c(id: Int): Counters = counters.getOrElseUpdate(id, new Counters)

  /** Start counting: register the listener and tag jobs with spans. */
  def attach(spark: SparkSession): Unit = if (!enabled) {
    sc = spark.sparkContext
    sc.addSparkListener(listener)
    enabled = true
  }

  /** Stop counting (after draining, so no event is lost). */
  def detach(): Unit = if (enabled) {
    drain()
    sc.removeSparkListener(listener)
    sc.setLocalProperty(Key, null)
    enabled = false
  }

  def span[T](name: String, layer: String)(body: => T): T = {
    val s = Span(spans.size, name, layer, open.headOption.map(_.id).getOrElse(-1), System.nanoTime())
    spans += s
    open = s :: open
    if (enabled && sc != null) sc.setLocalProperty(Key, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      open = open.tail
      if (enabled && sc != null)
        sc.setLocalProperty(Key, open.headOption.map(_.id.toString).orNull)
    }
  }

  /** Wait until the listener bus has delivered every event posted so far:
    * a tagged no-op job is posted after them, and events reach a listener
    * in the order they were posted. */
  def drain(): Unit = if (enabled && sc != null) {
    val marker = MarkerBase + spans.size
    val prev = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, marker.toString)
    try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(Key, prev)
    val deadline = System.nanoTime() + 30000000000L
    while (markerSeen < marker && System.nanoTime() < deadline) Thread.sleep(2)
  }

  def countersOf(spanId: Int): Counters = synchronized(counters.getOrElse(spanId, new Counters))

  def children(id: Int): Seq[Span] = spans.filter(_.parent == id).toSeq

  /** Counters of a span and all its descendants. */
  def subtree(id: Int): Counters = synchronized {
    val total = new Counters
    def go(i: Int): Unit = { counters.get(i).foreach(total.add); children(i).foreach(s => go(s.id)) }
    go(id)
    total
  }

  def descendants(id: Int): Seq[Span] = children(id).flatMap(s => s +: descendants(s.id))

  /** Self time per layer under `root`: each span's duration minus the part
    * of it its children cover (children never overlap: one call at a time). */
  def selfTimeMs(root: Int): Map[String, Double] =
    (spans.find(_.id == root).toSeq ++ descendants(root))
      .groupMapReduce(_.layer)(s => s.ms - children(s.id).map(_.ms).sum)(_ + _)

  def untaggedJobs: Long = synchronized(counters.get(-1).map(_.jobs).getOrElse(0L))

  def toJson(cores: Int): Seq[Map[String, Any]] = synchronized {
    spans.toSeq.map { s =>
      val k = counters.get(s.id)
      Map[String, Any]("id" -> s.id, "name" -> s.name, "layer" -> s.layer,
        "parent" -> s.parent, "start_ns" -> s.startNs, "end_ns" -> s.endNs) ++
        k.map(x => "counters" -> x.metrics(s.ms, cores).toMap)
    }
  }
}
