package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory spans around the benchmark's calls into the program.
  * A span holds name, start, end, parent, run id and the JVM's GC time
  * inside it; the listener counts jobs and stages against the innermost
  * span. With tracing off, `span` only runs its body, so the untraced
  * run pays nothing for it. */
final class Tracer(val enabled: Boolean, val runId: String) {
  final class Span(val id: Int, val name: String, val parent: Int, val op: Int,
                   val startNs: Long) {
    var endNs = 0L
    var gcMs = 0L
  }
  val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  var sc: SparkContext = null
  var op = 0

  /** Property carried by every Spark job submitted inside a span, so
    * the listener attributes jobs and stages to the innermost span. */
  val SpanProp = "perfbench.span"

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = new Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1), op,
        System.nanoTime())
      spans += s
      stack = s :: stack
      val gc0 = Jvm.gcMs
      if (sc != null) sc.setLocalProperty(SpanProp, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        if (sc != null)
          sc.setLocalProperty(SpanProp, stack.headOption.map(_.id.toString).orNull)
        s.gcMs = Jvm.gcMs - gc0
      }
    }

  def toJson(t0Ns: Long): Seq[Json.J] = spans.toSeq.map { s =>
    Json.obj("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run" -> runId,
      "op" -> s.op, "start_ms" -> (s.startNs - t0Ns) / 1e6, "end_ms" -> (s.endNs - t0Ns) / 1e6,
      "gc_ms" -> s.gcMs)
  }
}

/** Spark listener plus `QueryExecutionListener`: per-job and per-stage
  * records (span, job group, stage walls, task CPU, shuffle, spill,
  * GC) and per-write records for parquet writes (the bus delivers
  * those on its own thread, so they are matched to layers by output
  * path). Kept raw; the metrics are derived from them after the run. */
final class LayerListener(tracer: Tracer) extends SparkListener with QueryExecutionListener {
  final case class JobRec(id: Int, span: Int, group: String, desc: String, startMs: Long,
                          stages: Seq[Int], var endMs: Long = -1)
  final case class StageRec(id: Int, attempt: Int, submitMs: Long, doneMs: Long, tasks: Int,
                            runMs: Long, cpuMs: Double, shuffleWrite: Long, shuffleRead: Long,
                            spillDisk: Long, spillMem: Long, gcMs: Long, inputBytes: Long)
  final case class WriteRec(path: String, ms: Double, bytes: Long, rows: Long)

  val jobs = scala.collection.concurrent.TrieMap.empty[Int, JobRec]
  val stages = scala.collection.concurrent.TrieMap.empty[(Int, Int), StageRec]
  val writes = new java.util.concurrent.ConcurrentLinkedQueue[WriteRec]()

  private def prop(p: java.util.Properties, k: String): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty(k)))

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.put(e.jobId, JobRec(e.jobId,
      prop(e.properties, tracer.SpanProp).flatMap(_.toIntOption).getOrElse(-1),
      prop(e.properties, "spark.jobGroup.id").getOrElse(""),
      prop(e.properties, "spark.job.description").getOrElse(""),
      e.time, e.stageInfos.map(_.stageId)))

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.get(e.jobId).foreach(_.endMs = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val m = si.taskMetrics
    stages.put((si.stageId, si.attemptNumber()), StageRec(si.stageId, si.attemptNumber(),
      si.submissionTime.getOrElse(-1L), si.completionTime.getOrElse(-1L), si.numTasks,
      if (m == null) 0 else m.executorRunTime,
      if (m == null) 0 else m.executorCpuTime / 1e6,
      if (m == null) 0 else m.shuffleWriteMetrics.bytesWritten,
      if (m == null) 0 else m.shuffleReadMetrics.totalBytesRead,
      if (m == null) 0 else m.diskBytesSpilled,
      if (m == null) 0 else m.memoryBytesSpilled,
      if (m == null) 0 else m.jvmGCTime,
      if (m == null) 0 else m.inputMetrics.bytesRead))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    qe.executedPlan.collectFirst { case w: DataWritingCommandExec => w }.foreach { w =>
      val path = w.cmd match {
        case i: org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand =>
          i.outputPath.toString
        case other => other.nodeName
      }
      val ms = w.cmd.metrics
      def m(k: String) = ms.get(k).map(_.value).getOrElse(0L)
      writes.add(WriteRec(path, durationNs / 1e6, m("numOutputBytes"), m("numOutputRows")))
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(spark: SparkSession): Unit = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  def toJson(t0Ms: Long): Json.J = Json.obj(
    "jobs" -> Json.arr(jobs.values.toSeq.sortBy(_.id).map(j => Json.obj(
      "id" -> j.id, "span" -> j.span, "group" -> j.group, "desc" -> j.desc,
      "start_ms" -> (j.startMs - t0Ms), "end_ms" -> (if (j.endMs < 0) -1L else j.endMs - t0Ms),
      "stages" -> Json.arr(j.stages.map(Json.any))))),
    "stages" -> Json.arr(stages.values.toSeq.sortBy(s => (s.id, s.attempt)).map(s => Json.obj(
      "id" -> s.id, "attempt" -> s.attempt,
      "submit_ms" -> (if (s.submitMs < 0) -1L else s.submitMs - t0Ms),
      "done_ms" -> (if (s.doneMs < 0) -1L else s.doneMs - t0Ms),
      "tasks" -> s.tasks, "run_ms" -> s.runMs, "cpu_ms" -> s.cpuMs,
      "shuffle_write_bytes" -> s.shuffleWrite, "shuffle_read_bytes" -> s.shuffleRead,
      "spill_disk_bytes" -> s.spillDisk, "spill_mem_bytes" -> s.spillMem,
      "gc_ms" -> s.gcMs, "input_bytes" -> s.inputBytes))),
    "writes" -> Json.arr(writes.asScala.toSeq.map(w => Json.obj(
      "path" -> w.path, "ms" -> w.ms, "bytes" -> w.bytes, "rows" -> w.rows)))
  )
}

/** JVM-wide counters: local mode runs driver and executors in this one
  * JVM, so these cover all of the program's work. */
object Jvm {
  private lazy val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  def gcMs: Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum
  def jitMs: Long = Option(ManagementFactory.getCompilationMXBean)
    .filter(_.isCompilationTimeMonitoringSupported).map(_.getTotalCompilationTime).getOrElse(0L)
  def startMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime
  def maxHeapMb: Double = Runtime.getRuntime.maxMemory / 1048576.0

  /** Largest heap in use right after a full collection, over the full
    * collections `collect` forces between ops (outside any timed
    * region): the live set the run holds at op boundaries. */
  @volatile var peakLiveBytes = 0L
  def collect(): Unit = {
    System.gc()
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    if (used > peakLiveBytes) peakLiveBytes = used
  }
}
