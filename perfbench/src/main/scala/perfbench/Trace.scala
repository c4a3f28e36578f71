package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.perfbench.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import scala.collection.mutable

/** One timed call into the library, recorded from the benchmark side.
  * Times are epoch nanoseconds (nanoTime shifted by a fixed offset), so
  * they line up with Spark's epoch-millisecond stage timestamps. */
final case class Span(id: Int, parent: Int, trace: String, name: String,
                      start: Long, end: Long) {
  def seconds: Double = (end - start) / 1e9
}

/** Stage metrics as Spark reports them when the stage completes. */
final case class StageRec(group: String, submitMs: Long, completeMs: Long,
                          cpuNs: Long, gcMs: Long, shuffleWriteBytes: Long,
                          shuffleWriteNs: Long, fetchWaitMs: Long, spillBytes: Long,
                          inputBytes: Long, tasks: Array[Long])

/** Aggregated Spark-side cost of one span (its subtree). */
final case class SpanStats(wallS: Double, executorCpuS: Double, gcS: Double,
                           shuffleWriteBytes: Long, shuffleWriteS: Double, fetchWaitS: Double,
                           spillBytes: Long, inputBytes: Long, taskSkew: Double,
                           stages: Int, inputScans: Int)

/** Collects per-stage metrics and per-SQL-execution input-scan counts,
  * keyed by job group. Callers read it only after [[Bus.drain]], so no
  * late task-end event of an earlier job can land in a later reading. */
final class StageListener(inputMarker: String, tablePath: String) extends SparkListener {
  private val stageGroup = mutable.Map.empty[Int, String]
  private val taskTimes = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  val stages = mutable.ArrayBuffer.empty[StageRec]
  /** (job group, start epoch ms, number of input scans) per SQL execution. */
  val scans = mutable.ArrayBuffer.empty[(String, Long, Int)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    e.stageIds.foreach(id => stageGroup.getOrElseUpdate(id, g))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.taskInfo != null && e.taskInfo.successful)
      taskTimes.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null) stages += StageRec(stageGroup.getOrElse(i.stageId, ""),
      i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L),
      m.executorCpuTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleWriteMetrics.writeTime, m.shuffleReadMetrics.fetchWaitTime,
      m.diskBytesSpilled, m.inputMetrics.bytesRead,
      taskTimes.remove(i.stageId).map(_.toArray).getOrElse(Array.empty))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      val n = inputScans(s.sparkPlanInfo)
      synchronized { scans += ((s.jobGroupId.getOrElse(""), s.time, n)) }
    case _ =>
  }

  /** Leaf reads of the benchmark's input: a scan of the cached input
    * (whose columns include `inputMarker`) counts once and is not
    * descended into; otherwise a parquet scan of the input table. */
  private def inputScans(p: SparkPlanInfo): Int =
    if (p.nodeName.startsWith("InMemoryTableScan")) {
      if (p.simpleString.contains(inputMarker)) 1 else 0
    } else if (p.nodeName.startsWith("Scan ")) {
      if (p.metadata.get("Location").exists(_.contains(tablePath))) 1 else 0
    } else p.children.map(inputScans).sum
}

/** Records spans around library calls when enabled; a no-op wrapper
  * otherwise, so the untraced runs pay nothing. Each span that may run
  * Spark jobs becomes the job group while it is open, which is how the
  * [[StageListener]] attributes stages to it. */
final class Tracer(val enabled: Boolean, traceId: String) {
  private val offset = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private var sc: SparkContext = _
  private var listener: StageListener = _
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var nextId = 0
  private val synthesized = mutable.Set.empty[Int]

  def now: Long = System.nanoTime() + offset

  def attach(context: SparkContext, l: StageListener): Unit = {
    sc = context
    listener = l
    context.addSparkListener(l)
  }

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack.push(id)
      if (sc != null) sc.setJobGroup(s"pb-$id", name)
      val t0 = now
      try f
      finally {
        val t1 = now
        stack.pop()
        if (sc != null) {
          if (stack.isEmpty) sc.clearJobGroup()
          else sc.setJobGroup(s"pb-${stack.head}", "")
        }
        spans += Span(id, parent, traceId, name, t0, t1)
      }
    }

  /** Adds a child span whose bounds are known only from the library's
    * own result (a phase inside one public call). Stages of the parent
    * submitted inside these bounds are attributed to the child. */
  def addChild(parent: Span, name: String, start: Long, end: Long): Unit =
    if (enabled) {
      synthesized += nextId
      spans += Span(nextId, parent.id, traceId, name, start, end)
      nextId += 1
    }

  def byName(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  private def children(id: Int): Seq[Span] = spans.filter(_.parent == id).toSeq

  private def subtree(s: Span): Seq[Span] = s +: children(s.id).flatMap(subtree)

  /** Self time: the span minus the part of it that its children cover. */
  def selfSeconds(s: Span): Double = {
    val cs = children(s.id).map(c => (c.start max s.start, c.end min s.end))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = 0L
    var curB = 0L
    for ((a, b) <- cs) {
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = curB max b
    }
    covered += curB - curA
    (s.end - s.start - covered) / 1e9
  }

  /** The span a stage is charged to: the span whose job group it ran
    * under, or that span's synthesized child holding its submission. */
  private def ownerOf(group: String, atMs: Long): Int =
    spans.find(p => group == s"pb-${p.id}") match {
      case None => -1
      case Some(p) =>
        val t = atMs * 1000000L
        children(p.id).find(c => synthesized(c.id) && t >= c.start && t < c.end)
          .map(_.id).getOrElse(p.id)
    }

  /** Stages charged to `s` or any span below it. */
  def stagesOf(s: Span): Seq[StageRec] = {
    Bus.drain(sc)
    val ids = subtree(s).map(_.id).toSet
    listener.synchronized(listener.stages.filter(r => ids(ownerOf(r.group, r.submitMs))).toSeq)
  }

  def stats(s: Span): SpanStats = {
    val st = stagesOf(s)
    val ids = subtree(s).map(_.id).toSet
    val nScans = listener.synchronized(
      listener.scans.filter(x => ids(ownerOf(x._1, x._2))).map(_._3).sum)
    val skew = st.filter(_.tasks.length >= 2).map { r =>
      val sorted = r.tasks.sorted
      sorted.last / (sorted(sorted.length / 2).toDouble max 1.0)
    }.maxOption.getOrElse(1.0)
    SpanStats(s.seconds, st.map(_.cpuNs).sum / 1e9, st.map(_.gcMs).sum / 1e3,
      st.map(_.shuffleWriteBytes).sum, st.map(_.shuffleWriteNs).sum / 1e9,
      st.map(_.fetchWaitMs).sum / 1e3, st.map(_.spillBytes).sum, st.map(_.inputBytes).sum,
      skew, st.length, nScans)
  }
}
