package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{GraftListenerBridge, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The one diagnosis harness: after a `p02_tokens_full` warm-up (as Bench),
  * runs the named queries interleaved for three rounds in one JVM and writes
  * a host line, then one JSON line per (query, round) with the layers it
  * spent its time in (perfbench's `query.*` names). Usage:
  *   sbt "runMain graft.Profile <sfDir> <out.jsonl> <q1,q2,...>"
  */
object Profile {
  val Rounds = 3
  type Record = Seq[(String, Any)]
  // set while the query builds its frame, so eager jobs carry it: construct_jobs
  private val PhaseKey = "graft.profile.phase"

  final class Counts { // one query's engine counts, written on the listener-bus thread
    var constructJobs, stages, tasks = 0
    var taskMs, shuffleRead, shuffleWrite, spill, peakMem = 0L
    val phaseMs: mutable.Map[String, Long] = mutable.Map.empty.withDefaultValue(0L)
    val jobSpans: mutable.Map[Int, (Long, Long)] = mutable.Map.empty
  }

  final class Listener extends SparkListener with QueryExecutionListener {
    @volatile var counts = new Counts
    private def add(f: Counts => Unit): Unit = synchronized(f(counts))
    override def onJobStart(e: SparkListenerJobStart): Unit = add { c =>
      if (Option(e.properties).exists(_.getProperty(PhaseKey) != null)) c.constructJobs += 1
      c.jobSpans(e.jobId) = (e.time, e.time)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      add(_.jobSpans.updateWith(e.jobId)(_.map(_._1 -> e.time)))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add(_.stages += 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = add { c =>
      c.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        c.taskMs += m.executorRunTime
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.peakMem = math.max(c.peakMem, m.peakExecutionMemory)
      }
    }
    // every SQL action of the query, construction's eager ones included
    def onSuccess(func: String, qe: QueryExecution, ns: Long): Unit = add { c =>
      qe.tracker.phases.foreach { case (k, p) => c.phaseMs(k) += p.endTimeMs - p.startTimeMs }
    }
    def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Emits the host record, then one per (query, round); removes its listener before returning. */
  def record(spark: SparkSession, sfDir: String, names: Seq[String])(emit: Record => Unit): Unit = {
    require(names.forall(SparkEntry.queries.contains), s"unknown query in ${names.mkString(",")}")
    emit(Seq("type" -> "host", "nproc" -> Runtime.getRuntime.availableProcessors,
      "probe_rate" -> oneCoreProbe(), "jdk" -> System.getProperty("java.version"),
      "spark" -> spark.version, "sf" -> sfDir))
    val l = new Listener
    spark.sparkContext.addSparkListener(l)
    spark.listenerManager.register(l)
    try {
      SparkEntry.queries("p02_tokens_full")(spark, sfDir).count()
      for (round <- 1 to Rounds; n <- names)
        emit(Seq("type" -> "query", "query" -> n, "round" -> round) ++ once(spark, l, sfDir, n))
    } finally {
      spark.sparkContext.removeSparkListener(l)
      spark.listenerManager.unregister(l)
    }
  }

  private def once(spark: SparkSession, l: Listener, sfDir: String, name: String): Record = {
    val sc = spark.sparkContext
    GraftListenerBridge.drain(sc)
    l.counts = new Counts
    val (cg0, w0, t0) = (codegen, System.currentTimeMillis(), System.nanoTime())
    sc.setLocalProperty(PhaseKey, "construct")
    val df = try SparkEntry.queries(name)(spark, sfDir) finally sc.setLocalProperty(PhaseKey, null)
    val (t1, rows) = (System.nanoTime(), df.count())
    val (w1, wall) = (System.currentTimeMillis(), (System.nanoTime() - t0) / 1e9)
    GraftListenerBridge.drain(sc)
    val c = l.counts
    l.synchronized {
      // driver gap: wall time not covered by the union of job [start, end]s
      val covered = c.jobSpans.values.toSeq.sorted.foldLeft((0L, w0)) { case ((cov, reach), (s, e)) =>
        (cov + math.max(0L, math.min(e, w1) - math.max(s, reach)), math.max(reach, e)) }._1
      Seq("construct_s" -> (t1 - t0) / 1e9, "construct_jobs" -> c.constructJobs) ++
        Seq("analysis", "optimization", "planning").map(p => s"${p}_ms" -> c.phaseMs(p)) ++
        Seq("codegen_compiles" -> (codegen - cg0), "jobs" -> c.jobSpans.size, "stages" -> c.stages,
          "tasks" -> c.tasks, "task_s" -> c.taskMs / 1e3, "driver_gap_s" -> math.max(0.0, wall - covered / 1e3),
          "shuffle_read_bytes" -> c.shuffleRead, "shuffle_write_bytes" -> c.shuffleWrite, "spill_bytes" -> c.spill,
          "peak_exec_mem_bytes" -> c.peakMem, "rows" -> rows, "wall_s" -> wall)
    }
  }

  private def codegen: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** ~0.3 s single-thread xorshift loop (perfbench's probe): ops/s of one core. */
  def oneCoreProbe(): Double = {
    var x = 0x9E3779B97F4A7C15L; var n = 0L; val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < 300000000L) {
      var i = 0
      while (i < 100000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      n += 100000
    }
    if (x == 42) println(x) // keeps the loop live
    n / ((System.nanoTime() - t0) / 1e9)
  }

  def json(r: Record): String = r.map {
    case (k, s: String) => s"\"$k\":\"${s.replace("\\", "\\\\").replace("\"", "\\\"")}\""
    case (k, d: Double) if d.isNaN || d.isInfinite => s"\"$k\":null"
    case (k, x) => s"\"$k\":$x"
  }.mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: graft.Profile <sfDir> <out.jsonl> <q1,q2,...>")
    val Array(sfDir, out, queries) = args
    val spark = Sessions.local(Runtime.getRuntime.availableProcessors, "profile")
    val w = Files.newBufferedWriter(Paths.get(out))
    try record(spark, sfDir, queries.split(",").toSeq) { r => w.write(json(r)); w.newLine(); w.flush() }
    finally { w.close(); spark.stop() }
  }
}
