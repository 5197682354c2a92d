package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced span: workload → call → E1 stage → Spark job → Spark stage.
  * Times are epoch milliseconds. */
final case class Span(id: String, parent: String, name: String, start: Long, end: Long,
                      attrs: Map[String, Double] = Map.empty)

/** Spark-side counters of one call, summed over the tasks of every job the
  * call's job group launched. */
final class CallStats {
  var jobs = 0
  var tasks = 0
  var failedTasks = 0
  var cpuNs = 0L
  var runMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]
  val jobSpans = mutable.ArrayBuffer.empty[(Int, Long, Long)] // (jobId, start, end)
  val stageSpans = mutable.ArrayBuffer.empty[(Int, Int, String, Long, Long, Int)] // (job, stage, name, start, end, tasks)
}

/** Outside-in tracer: a SparkListener plus per-call job groups. Job groups
  * are thread-local properties, so concurrent dashboard clients each
  * attribute their own jobs. Nothing here is installed unless the
  * benchmark runs in traced mode. */
final class Tracer(sc: SparkContext) extends SparkListener {
  private val stats = new ConcurrentHashMap[String, CallStats]()
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val jobStart = new ConcurrentHashMap[Int, Long]()
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val seq = new java.util.concurrent.atomic.AtomicLong()

  sc.addSparkListener(this)

  private def statsOf(g: String) = stats.computeIfAbsent(g, _ => new CallStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.foreach { g =>
      jobGroup.put(e.jobId, g)
      jobStart.put(e.jobId, e.time)
      e.stageIds.foreach { s => stageGroup.put(s, g); stageJob.put(s, e.jobId) }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobGroup.get(e.jobId)).foreach { g =>
      val s = statsOf(g)
      s.synchronized { s.jobs += 1; s.jobSpans += ((e.jobId, jobStart.get(e.jobId), e.time)) }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    Option(stageGroup.get(i.stageId)).foreach { g =>
      val s = statsOf(g)
      s.synchronized {
        s.stageSpans += ((stageJob.get(i.stageId), i.stageId, i.name,
          i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L), i.numTasks))
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageGroup.get(e.stageId)).foreach { g =>
      val s = statsOf(g)
      val m = e.taskMetrics
      s.synchronized {
        s.tasks += 1
        if (!e.taskInfo.successful) s.failedTasks += 1
        s.taskMs += e.taskInfo.duration
        if (m != null) {
          s.cpuNs += m.executorCpuTime
          s.runMs += m.executorRunTime
          s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          s.spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
          s.inputBytes += m.inputMetrics.bytesRead
          s.inputRecords += m.inputMetrics.recordsRead
        }
      }
    }

  /** Run `body` as one call under its own job group on this thread; returns
    * the call's span id with the body's result. */
  def call[T](parent: String, name: String)(body: => T): (String, T) = {
    val id = s"c${seq.incrementAndGet()}"
    sc.setJobGroup(id, name, interruptOnCancel = false)
    val t0 = System.currentTimeMillis()
    try {
      val r = body
      spans.add(Span(id, parent, name, t0, System.currentTimeMillis()))
      (id, r)
    } finally sc.clearJobGroup()
  }

  /** The counters of call `id`, after the listener bus has caught up. */
  def statsFor(id: String): CallStats = {
    org.apache.spark.perfbench.Bus.drain(sc)
    Option(stats.get(id)).getOrElse(new CallStats)
  }

  def span(s: Span): Unit = spans.add(s)

  /** Spans of one call's Spark jobs and stages, children of `parentOf(t)`. */
  def addSparkSpans(callId: String, st: CallStats, parentOf: Long => String): Unit = {
    st.jobSpans.foreach { case (j, a, b) =>
      spans.add(Span(s"$callId/j$j", parentOf(a), s"job $j", a, b)) }
    st.stageSpans.foreach { case (j, s, n, a, b, t) =>
      spans.add(Span(s"$callId/s$s", s"$callId/j$j", n, a, b, Map("tasks" -> t.toDouble))) }
  }

  def allSpans: Seq[Span] = spans.asScala.toSeq
}

object Tracer {
  /** Milliseconds of [t0, t1] covered by at least one of `ivs`. */
  def covered(ivs: Seq[(Long, Long)], t0: Long, t1: Long): Long = {
    val clipped = ivs.map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var cur = (-1L, -1L)
    clipped.foreach { case (a, b) =>
      if (a > cur._2) { if (cur._2 > cur._1) total += cur._2 - cur._1; cur = (a, b) }
      else cur = (cur._1, math.max(cur._2, b))
    }
    if (cur._2 > cur._1) total += cur._2 - cur._1
    total
  }

  /** Self time of every span: its duration minus the part its children cover. */
  def selfTimes(spans: Seq[Span]): Map[String, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      s.id -> ((s.end - s.start) -
        covered(kids.getOrElse(s.id, Nil).map(k => (k.start, k.end)), s.start, s.end))
    }.toMap
  }

  /** Data files of a lake: path → (size, mtime). */
  def listFiles(root: Path): Map[String, (Long, Long)] =
    if (!Files.exists(root)) Map.empty
    else {
      val st = Files.walk(root)
      try st.iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
        .map(p => root.relativize(p).toString ->
          (Files.size(p), Files.getLastModifiedTime(p).toMillis)).toMap
      finally st.close()
    }

  /** What one call wrote to a lake, from two listings: new or changed files,
    * their bytes, the partition directories they landed in, and the most data
    * files any one partition holds afterwards. */
  def diff(before: Map[String, (Long, Long)],
           after: Map[String, (Long, Long)]): Map[String, Double] = {
    val written = after.filter { case (p, v) => !before.get(p).contains(v) }
    def partOf(p: String) = p.split('/').dropRight(1).mkString("/")
    val perPart = after.keys.groupBy(partOf).map(_._2.size)
    Map(
      "bytes_written" -> written.values.map(_._1).sum.toDouble,
      "files_written" -> written.size.toDouble,
      "partitions_rewritten" -> written.keys.map(partOf).toSet.size.toDouble,
      "files_per_partition_max" -> (if (perPart.isEmpty) 0.0 else perPart.max.toDouble))
  }
}
