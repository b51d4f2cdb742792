package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBridge
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's calls into each layer, plus the engine
  * counts attributed to them.
  *
  * Every span sets the Spark job group to its own id, so jobs land on the
  * innermost open span. A span with a timeout also adds a job tag, which
  * its child spans keep, so the per-operation watchdog cancels every job
  * of a hung operation. SQL actions are placed by time instead (see
  * perfbench/spans.py).
  * With `enabled = false` only the job groups and the watchdog remain: no
  * listener is registered and nothing is recorded, so untraced runs measure
  * the program alone.
  *
  * Spans and counts stay in memory and are written as JSON lines by
  * [[writeJsonLines]] when the run ends; self times and per-layer sums are
  * computed from that file (perfbench/spans.py).
  */
final class Tracer(spark: SparkSession, val enabled: Boolean, runId: String) {
  private val sc = spark.sparkContext
  private val t0Ns = System.nanoTime()
  private val t0Ms = System.currentTimeMillis()

  final class Span(val id: Int, val name: String, val parent: Int, val startNs: Long) {
    var endNs: Long = -1L
    var codegen: Long = 0L
    var gcMs: Long = 0L
    val attrs: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  }

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  // job groups that are not span ids (a streaming query's run id) → span
  private val aliases = new ConcurrentHashMap[String, Integer]()
  private val watchdog = Executors.newSingleThreadScheduledExecutor { r =>
    val t = new Thread(r, "perfbench-watchdog"); t.setDaemon(true); t
  }

  // the run id keeps another tracer's jobs (a later untraced window) off these spans
  private val groupPrefix = s"perfbench-$runId-"
  private def groupOf(id: Int): String = groupPrefix + id
  private val timeouts = new AtomicLong()

  /** Run `body` inside a span; cancels its jobs, and those of the spans
    * inside it, after `timeoutS`.
    */
  def span[T](name: String, timeoutS: Double = 0)(body: => T): T = {
    val parent = stack.headOption.map(_.id).getOrElse(-1)
    val s = new Span(spans.size, name, parent, System.nanoTime())
    if (enabled) spans += s
    stack = s :: stack
    sc.setJobGroup(groupOf(s.id), name, interruptOnCancel = true)
    val tag = if (timeoutS > 0) Some(s"perfbench-timeout-${timeouts.incrementAndGet()}") else None
    tag.foreach(sc.addJobTag)
    val cancel = tag.map(t => watchdog.schedule(new Runnable {
      def run(): Unit = sc.cancelJobsWithTag(t, "perfbench operation timed out")
    }, (timeoutS * 1000).toLong, TimeUnit.MILLISECONDS))
    val cg0 = codegenCount
    val gc0 = gcMs
    try body
    finally {
      cancel.foreach(_.cancel(false))
      tag.foreach(sc.removeJobTag)
      s.endNs = System.nanoTime()
      s.codegen = codegenCount - cg0
      s.gcMs = gcMs - gc0
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(groupOf(p.id), p.name, interruptOnCancel = true)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Attach a measured value to the innermost open span; `value` is only
    * evaluated when tracing is on.
    */
  def attr(key: String, value: => Double): Unit =
    if (enabled) stack.headOption.foreach(_.attrs(key) = value)

  /** Jobs whose group is `group` (a streaming run id) belong to the open span. */
  def alias(group: String): Unit =
    stack.headOption.foreach(s => aliases.put(group, s.id))

  private def codegenCount: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def spanOfGroup(group: String): Int =
    if (group == null) -1
    else if (group.startsWith(groupPrefix)) group.stripPrefix(groupPrefix).toInt
    else Option(aliases.get(group)).map(_.intValue).getOrElse(-1)

  // ---- listener side: written by the listener-bus thread ----

  private final class Job(val id: Int, val span: Int, val startMs: Long) {
    var endMs: Long = -1L
    var tasks = 0L; var runMs = 0L; var gcMs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L; var input = 0L
    var failed = false
  }
  /** `scans`: each file scan of the executed plan, with its root path,
    * the columns it reads and the rows it returned.
    */
  private final class Sql(val func: String, val durationNs: Long, val failed: Boolean,
                          val phases: Map[String, (Long, Long)], val scans: Seq[Map[String, Any]])
  private final class Batch(val span: Int, val ms: Map[String, Long], val rows: Long)

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val sqls = new java.util.concurrent.ConcurrentLinkedQueue[Sql]()
  private val batches = new java.util.concurrent.ConcurrentLinkedQueue[Batch]()

  if (enabled) {
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
        jobs.put(e.jobId, new Job(e.jobId, spanOfGroup(g), e.time))
        e.stageIds.foreach(stageJob.put(_, e.jobId))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobs.get(e.jobId)).foreach { j =>
          j.endMs = e.time
          j.failed = e.jobResult != JobSucceeded
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val j = Option(stageJob.get(e.stageId)).flatMap(id => Option(jobs.get(id)))
        val m = e.taskMetrics
        j.foreach { j =>
          j.tasks += 1
          if (m != null) {
            j.runMs += m.executorRunTime
            j.gcMs += m.jvmGCTime
            j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
            j.input += m.inputMetrics.bytesRead
          }
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener with AdaptiveSparkPlanHelper {
      // an action carries no job group here (this runs on the listener
      // thread), so it is placed by time: its planning phases' timestamps
      private def record(func: String, qe: QueryExecution, ns: Long, failed: Boolean): Unit = {
        val scans = if (failed) Nil else collectWithSubqueries(qe.executedPlan) {
          case f: FileSourceScanExec => Map(
            "path" -> f.relation.location.rootPaths.mkString(","),
            "columns" -> f.requiredSchema.fieldNames.toSeq,
            "rows" -> f.metrics.get("numOutputRows").map(_.value).getOrElse(0L))
        }
        sqls.add(new Sql(func, ns, failed, qe.tracker.phases.map { case (k, v) =>
          k -> (v.startTimeMs, v.endTimeMs) }, scans))
      }
      def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit =
        record(func, qe, durationNs, failed = false)
      def onFailure(func: String, qe: QueryExecution, ex: Exception): Unit =
        record(func, qe, 0L, failed = true)
    })
    spark.streams.addListener(new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        batches.add(new Batch(spanOfGroup(p.runId.toString),
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap, p.numInputRows))
      }
    })
  }

  private def sec(ns: Long): Double = (t0Ms + (ns - t0Ns) / 1e6) / 1e3

  /** Spans, jobs, SQL executions and micro-batches as JSON lines. */
  def writeJsonLines(path: java.nio.file.Path): Unit = {
    if (!enabled) return
    PerfbenchBridge.drainListeners(sc)
    val out = new StringBuilder
    def obj(fields: (String, Any)*): Unit = {
      out ++= fields.map { case (k, v) => s"${Json.str(k)}:${Json.value(v)}" }.mkString("{", ",", "}\n")
    }
    spans.foreach { s =>
      obj("type" -> "span", "run" -> runId, "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start" -> sec(s.startNs), "end" -> sec(s.endNs), "codegen_compiles" -> s.codegen,
        "gc_s" -> s.gcMs / 1e3, "attrs" -> s.attrs.toMap)
    }
    jobs.values.asScala.toSeq.sortBy(_.id).foreach { j =>
      obj("type" -> "job", "run" -> runId, "id" -> j.id, "span" -> j.span, "start" -> j.startMs / 1e3,
        "end" -> j.endMs / 1e3, "tasks" -> j.tasks, "task_s" -> j.runMs / 1e3, "gc_s" -> j.gcMs / 1e3,
        "shuffle_write_bytes" -> j.shuffleWrite, "shuffle_read_bytes" -> j.shuffleRead,
        "spill_bytes" -> j.spill, "input_bytes" -> j.input, "failed" -> j.failed)
    }
    sqls.asScala.foreach { x =>
      obj("type" -> "sql", "run" -> runId, "func" -> x.func, "duration_s" -> x.durationNs / 1e9,
        "failed" -> x.failed, "phases" -> x.phases.map { case (k, (a, b)) => k -> Seq(a / 1e3, b / 1e3) },
        "scans" -> x.scans)
    }
    batches.asScala.foreach { b =>
      obj("type" -> "batch", "run" -> runId, "span" -> b.span, "ms" -> b.ms, "rows" -> b.rows)
    }
    java.nio.file.Files.writeString(path, out.toString)
  }
}

/** The few JSON shapes the harness writes, without pulling one of Spark's
  * internal JSON libraries into the harness.
  */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => s"${str(k.toString)}:${value(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
