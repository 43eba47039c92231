package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** Spans recorded around calls into the program's layers, plus counters
  * from a SparkListener and a QueryExecutionListener. Everything stays in
  * memory until the run reads it back (`allSpans`, `c.snapshot`); while
  * `on` is false nothing is kept.
  */
final class Tracer(sc: SparkContext) {
  import Tracer._

  @volatile var on = false
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val jobs = new ConcurrentLinkedQueue[Span]()
  private val ids = new java.util.concurrent.atomic.AtomicLong()
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  // epoch-ms clock of listener events mapped onto the nanoTime clock of spans
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis()
  private def msToNs(ms: Long): Long = nano0 + (ms - epoch0) * 1000000L

  val c = new Counters

  /** Times `body` as a span named `name`, child of the enclosing span on
    * this thread. Spark jobs launched inside it name it as their parent.
    */
  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0L)
      stack.set(id :: stack.get)
      sc.setLocalProperty(SpanProp, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, name, t0, System.nanoTime()))
        stack.set(stack.get.tail)
        sc.setLocalProperty(SpanProp, if (parent == 0) null else parent.toString)
      }
    }

  val sparkListener: SparkListener = new SparkListener {
    private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long)]()
    override def onJobStart(e: SparkListenerJobStart): Unit = if (on) {
      val parent = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
        .map(_.toLong).getOrElse(0L)
      jobStart.put(e.jobId, (e.time, parent))
      c.jobs.add(1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (t0, parent) =>
        jobs.add(Span(-e.jobId.toLong - 1, parent, "exec.job", msToNs(t0), msToNs(e.time)))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (on) c.stages.add(1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on && e.taskMetrics != null) {
      val m = e.taskMetrics
      c.tasks.add(1)
      c.taskRunMs.add(m.executorRunTime)
      c.taskCpuNs.add(m.executorCpuTime)
      c.inputRecords.add(m.inputMetrics.recordsRead)
      c.inputBytes.add(m.inputMetrics.bytesRead)
      c.shuffleWriteBytes.add(m.shuffleWriteMetrics.bytesWritten)
      c.spillBytes.add(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (on) {
        val ph = qe.tracker.phases
        def phase(n: String): Long = ph.get(n).map(_.durationMs).getOrElse(0L)
        c.trackerAnalyzeMs.add(phase("analysis"))
        c.trackerOptimizeMs.add(phase("optimization"))
        c.trackerPlanMs.add(phase("planning"))
        walk(qe.executedPlan)
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private def metric(p: SparkPlan, n: String): Long = p.metrics.get(n).map(_.value).getOrElse(0L)

  private def walk(p: SparkPlan): Unit = p match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
    case q: QueryStageExec => walk(q.plan)
    case r: CommandResultExec => walk(r.commandPhysicalPlan)
    case w: DataWritingCommandExec =>
      c.rowsWritten.add(metric(w, "numOutputRows"))
      c.bytesWritten.add(metric(w, "numOutputBytes"))
      c.filesWritten.add(metric(w, "numFiles"))
      walk(w.child)
    case s: FileSourceScanExec =>
      val rows = metric(s, "numOutputRows")
      c.scanRows.add(rows)
      c.scanFiles.add(metric(s, "numFiles"))
      if (s.relation.fileFormat.toString.toLowerCase.contains("parquet")) c.parquetRows.add(rows)
    case other =>
      other.children.foreach(walk)
      other.subqueries.foreach(walk)
  }

  def install(): Unit = {
    sc.addSparkListener(sparkListener)
    org.apache.spark.sql.SparkSession.active.listenerManager.register(queryListener)
  }

  /** Waits until every listener event posted so far has been handled. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  def allSpans: Seq[Span] = (spans.asScala ++ jobs.asScala).toSeq
}

object Tracer {
  val SpanProp = "perfbench.span"

  final case class Span(id: Long, parent: Long, name: String, t0: Long, t1: Long) {
    def ns: Long = t1 - t0
  }

  final class Counters {
    private def a = new java.util.concurrent.atomic.LongAdder
    val jobs, stages, tasks, taskRunMs, taskCpuNs, inputRecords, inputBytes,
      shuffleWriteBytes, spillBytes, trackerAnalyzeMs, trackerOptimizeMs,
      trackerPlanMs, rowsWritten, bytesWritten, filesWritten, scanRows,
      scanFiles, parquetRows = a
    def snapshot: Map[String, Long] = Map(
      "jobs" -> jobs.sum, "stages" -> stages.sum, "tasks" -> tasks.sum,
      "task_run_ms" -> taskRunMs.sum, "task_cpu_ns" -> taskCpuNs.sum,
      "input_records" -> inputRecords.sum, "input_bytes" -> inputBytes.sum,
      "shuffle_write_bytes" -> shuffleWriteBytes.sum, "spill_bytes" -> spillBytes.sum,
      "tracker_analyze_ms" -> trackerAnalyzeMs.sum,
      "tracker_optimize_ms" -> trackerOptimizeMs.sum,
      "tracker_plan_ms" -> trackerPlanMs.sum, "rows_written" -> rowsWritten.sum,
      "bytes_written" -> bytesWritten.sum, "files_written" -> filesWritten.sum,
      "scan_rows" -> scanRows.sum, "scan_files" -> scanFiles.sum,
      "parquet_rows" -> parquetRows.sum)
  }

  /** Length of the union of `ivs` clipped to [lo, hi]. */
  def covered(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var end = lo
    ivs.map { case (a, b) => (a max lo, b min hi) }.filter(iv => iv._2 > iv._1)
      .sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { total += b - (a max end); end = b }
      }
    total
  }

  /** Self time of every span: its length minus what its children cover.
    * Returns (span, self ns) for the spans under the roots named `root`.
    */
  def selfTimes(all: Seq[Span], root: String): Seq[(Span, Long)] = {
    val kids = all.groupBy(_.parent)
    def under(s: Span): Seq[Span] = s +: kids.getOrElse(s.id, Nil).flatMap(under)
    all.filter(_.name == root).flatMap(under).filter(_.name != root).map { s =>
      val ch = kids.getOrElse(s.id, Nil).map(k => (k.t0, k.t1))
      (s, s.ns - covered(ch, s.t0, s.t1))
    }
  }
}
