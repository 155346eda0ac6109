package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}
import scala.collection.mutable

object Span {
  def apply(pass: Int, index: Int, call: Call): Span =
    new Span(s"p$pass.c$index", pass, call.layer, call.name)
}

/** One timed call into one layer. Times are epoch milliseconds, the
  * clock Spark stamps listener events with. The listener fills the
  * counters from the jobs run under this span's job groups.
  */
final class Span(val id: String, val pass: Int, val layer: String,
    val call: String) {
  var start = 0L
  var buildEnd = 0L
  var end = 0L
  var outRows = 0L
  /** (start, end, started before the operator returned) per job. */
  val jobs = mutable.ArrayBuffer.empty[(Long, Long, Boolean)]
  var tasks = 0L
  var cpuNs = 0L
  var maxTaskMs = 0L
  var shuffleBytes = 0L
  var shuffleRecords = 0L
  var spillBytes = 0L
  var gcMs = 0L

  def wallS: Double = (end - start) / 1e3
  def buildS: Double = (buildEnd - start) / 1e3

  /** Span time during which none of its jobs ran. */
  def driverS: Double = {
    val ivs = jobs.map { case (s, e, _) => (s max start, e min end) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L
    var cur = Long.MinValue
    for ((s, e) <- ivs) {
      val from = s max cur
      if (e > from) covered += e - from
      cur = cur max e
    }
    (end - start - covered) / 1e3
  }
}

/** Attributes jobs, tasks and task metrics to the span whose job group
  * was active when the job started. Groups are "<span id>/build" while
  * the operator call runs and "<span id>/force" while its output is
  * forced. Listener callbacks arrive on one bus thread; readers call
  * [[flush]] first, which waits until every earlier event is handled.
  */
final class SpanListener(sc: SparkContext) extends SparkListener {
  private val FlushGroup = "perfbench-flush-"
  private val open = mutable.LinkedHashMap.empty[String, Span]
  private val jobSpan = mutable.Map.empty[Int, (Span, Long, Boolean)]
  private val stageSpan = mutable.Map.empty[Int, Span]
  private val flushJobs = mutable.Map.empty[Int, Int]
  private var flushes = 0
  private var flushed = 0

  def register(s: Span): Unit = synchronized { open(s.id) = s }
  def spans: Seq[Span] = synchronized(open.values.toList)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    if (group.startsWith(FlushGroup))
      flushJobs(e.jobId) = group.stripPrefix(FlushGroup).toInt
    val slash = group.lastIndexOf('/')
    if (slash > 0) open.get(group.substring(0, slash)).foreach { s =>
      jobSpan(e.jobId) = (s, e.time, group.endsWith("/build"))
      e.stageIds.foreach(stageSpan(_) = s)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach { case (s, t0, inBuild) =>
      s.jobs += ((t0, e.time, inBuild))
    }
    flushJobs.remove(e.jobId).foreach { n =>
      flushed = flushed max n
      notifyAll()
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { s =>
      s.tasks += 1
      s.maxTaskMs = s.maxTaskMs max e.taskInfo.duration
      Option(e.taskMetrics).foreach { m =>
        s.cpuNs += m.executorCpuTime
        s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        s.gcMs += m.jvmGCTime
      }
    }
  }

  /** Runs a one-task job and waits until its end event arrives; the bus
    * delivers in order, so every event posted before it is handled.
    */
  def flush(): Unit = {
    val n = synchronized { flushes += 1; flushes }
    sc.setJobGroup(s"$FlushGroup$n", "perfbench listener flush", false)
    sc.parallelize(Seq(1), 1).count()
    sc.clearJobGroup()
    synchronized {
      val deadline = System.currentTimeMillis() + 30000
      while (flushed < n && System.currentTimeMillis() < deadline) wait(50)
      require(flushed >= n, "listener events did not arrive within 30 s")
    }
  }
}

/** Per-layer figures of one traced pass, and their medians over passes. */
object LayerStats {
  val Layers: Seq[String] =
    Seq("GroupBy", "Rolling", "Reshape", "Joins", "Dedup", "Pq", "TextFunctions")
  val Metrics: Seq[(String, String)] = Seq(
    "calls" -> "count", "wall_s" -> "s", "build_s" -> "s", "driver_s" -> "s",
    "jobs" -> "count", "build_jobs" -> "count", "tasks" -> "count",
    "exec_cpu_s" -> "s", "cpu_util" -> "ratio", "max_task_s" -> "s",
    "shuffle_write_mb" -> "MB", "spill_mb" -> "MB", "gc_s" -> "s")
  /** Layers whose shuffle volume is compared with their output rows. */
  val WasteLayers: Seq[String] = Seq("Dedup", "Joins", "Pq")

  /** Metric values of `layer` over the spans of one pass. */
  def of(spans: Seq[Span], layer: String, cores: Int): Map[String, Double] = {
    val ss = spans.filter(_.layer == layer)
    val wall = ss.map(_.wallS).sum
    val cpu = ss.map(_.cpuNs).sum / 1e9
    Map(
      "calls" -> ss.size.toDouble,
      "wall_s" -> wall,
      "build_s" -> ss.map(_.buildS).sum,
      "driver_s" -> ss.map(_.driverS).sum,
      "jobs" -> ss.map(_.jobs.size).sum.toDouble,
      "build_jobs" -> ss.map(_.jobs.count(_._3)).sum.toDouble,
      "tasks" -> ss.map(_.tasks).sum.toDouble,
      "exec_cpu_s" -> cpu,
      "cpu_util" -> (if (wall > 0) cpu / (wall * cores) else 0.0),
      "max_task_s" -> (if (ss.isEmpty) 0.0 else ss.map(_.maxTaskMs).max / 1e3),
      "shuffle_write_mb" -> ss.map(_.shuffleBytes).sum / 1e6,
      "spill_mb" -> ss.map(_.spillBytes).sum / 1e6,
      "gc_s" -> ss.map(_.gcMs).sum / 1e3,
      "shuffle_rows" -> ss.map(_.shuffleRecords).sum.toDouble,
      "out_rows" -> ss.map(_.outRows).sum.toDouble)
  }

  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}
