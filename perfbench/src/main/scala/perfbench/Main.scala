package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Sessions, SparkEntry}
import graft.operators.{Dedup, Enrich, Parse, Report, Route}
import graft.plans.Pipeline
import graft.sources.Tables
import graft.streaming.StreamPipeline
import graft.table.SinkTable

/** The benchmark's JVM side: one workload over inputs that perfbench/gen.py
  * wrote, closed loop with one client, at local[cores].
  *
  * Usage: Main --workload W --work DIR --seconds S --trace 0|1
  *
  * It writes DIR/result.json (raw samples, set-up parts, host context and
  * the paths the output checks read) and, traced, DIR/spans.jsonl. The
  * metrics themselves are computed by perfbench/run.py.
  */
object Main {

  /** Seconds an operation may take before it is cancelled and counted failed. */
  val OpTimeoutS = 60.0

  /** Staged stream files; StreamPipeline reads 8 per trigger → 3 batches a
    * drain, short enough that a window holds several drains. A drain's
    * first batch is its slowest, so p75 reads first batches and p50 the
    * others, away from the boundary between them.
    */
  val StreamFiles = 24

  /** The query_suite subset: one query for each of the eight ops modules,
    * Positional/ProtoSynth, ParseVendors, plans.Pipeline and SQL, chosen
    * on the cold times of a full 212-query pass at sf0.1 (BENCH_full.json):
    * for each module, the query nearest the lower quartile of the cold
    * times of the queries that call it. Two queries stand for two modules
    * each, to keep the cold pass inside one run's budget: i10 (in the lower
    * half of both Ann's and Retrieval's times) and k10 (CurationOps'
    * median, which also calls TextOps). These 10 take ~20 s cold on the
    * benchmark's tables; the per-module medians took 34 s, all 212
    * queries ~125 s.
    */
  val Suite: Seq[String] = Seq(
    "d05_simhash", // DedupOps
    "i10_retrieve_rerank", // Ann + Retrieval
    "k10_token_budget", // CurationOps + TextOps
    "k11_len_batches", // Packing
    "y12_file_delete", // Positional + ProtoSynth
    "v07_parse_sonicwall", // ParseVendors
    "p14_pipeline", // plans.Pipeline: Parse, Dedup, Enrich, Route, Report
    "q06_rollup", // SQL
    "s03_hll_distinct", // Sketches
    "m01_media_meta") // Multimodal

  /** Query families as the per-layer metrics group them (first letters). */
  val Families: Seq[String] = Seq("d", "ai", "tk", "gyzw", "v", "pf", "qesm")

  def family(query: String): String = Families.find(_.contains(query.head)).get

  final case class Op(seconds: Double, units: Long)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val work = Paths.get(opts("work")).toAbsolutePath
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val cores = Runtime.getRuntime.availableProcessors

    val probeRate = oneCoreProbe()
    val spark = Sessions.local(cores, "perfbench")
    val sessionS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val bench = new Bench(spark, work, seconds)
    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "cores" -> cores, "trace" -> traced, "session_s" -> sessionS,
      "probe_rate" -> probeRate, "jdk" -> System.getProperty("java.version"),
      "spark" -> spark.version)
    try {
      result ++= (workload match {
        case "ingest_tail" => bench.ingestTail(traced)
        case "ingest_stream" => bench.ingestStream(traced)
        case "query_suite" => bench.querySuite(traced)
        case other => sys.error(s"unknown workload $other")
      })
      if (traced && workload == "ingest_tail") {
        // the 1->N-core scaling diagnostic: the same commits on one core,
        // in a new session of this (warm) JVM
        spark.stop()
        val one = Sessions.local(1, "perfbench-one-core")
        try result ++= new Bench(one, work, Double.PositiveInfinity).tailOneCore(2) finally one.stop()
      }
      result("peak_rss_mb") = peakRssMb()
      Files.writeString(work.resolve("result.json"), Json.value(result.toMap) + "\n")
    } finally spark.stop()
  }

  /** Single-thread integer mixing loop for ~0.3 s: operations per second
    * of one core, recorded beside every result as host context.
    */
  def oneCoreProbe(): Double = {
    var x = 0x9E3779B97F4A7C15L
    var n = 0L
    val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < 300000000L) {
      var i = 0
      while (i < 100000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      n += 100000
    }
    if (x == 42) println(x) // keeps the loop live
    n / ((System.nanoTime() - t0) / 1e9)
  }

  /** VmHWM of this process in MB (Linux). */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
}

final class Bench(spark: SparkSession, work: Path, seconds: Double) {
  import Main.{Op, OpTimeoutS}

  private val in = work.resolve("in")

  private def now: Double = System.nanoTime() / 1e9

  /** Runs `op` until `seconds` have passed (at least once) or it yields
    * nothing (its input is used up). An op yields one
    * sample per operation it attempted, None for one that failed; a throw
    * fails the whole op. Failed operations are counted and their time is
    * dropped.
    */
  private def loop(op: Int => Seq[Option[Op]]): (Seq[Op], Int, Int) = {
    val ok = mutable.ArrayBuffer.empty[Op]
    var attempted = 0
    var failed = 0
    val t0 = now
    var i = 0
    var more = true
    while (more && (i == 0 || now - t0 < seconds)) {
      try {
        val xs = op(i)
        more = xs.nonEmpty
        ok ++= xs.flatten
        attempted += xs.size
        failed += xs.count(_.isEmpty)
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] op $i failed: $e")
          attempted += 1
          failed += 1
      }
      i += 1
    }
    (ok.toSeq, attempted, failed)
  }

  /** The cold first op, whose time is the warm-up part of set-up, then
    * `more` untimed ops: op times keep falling for ~5 ops after the first
    * while the JIT settles, and a window that starts inside that slope
    * reads differently depending on how many ops it holds.
    */
  private def warmUp(more: Int)(op: (Tracer, Int) => Seq[Option[Op]]): Double = {
    val t = new Tracer(spark, enabled = false, "warmup")
    val (_, cold) = timed(op(t, 0))
    (1 to more).foreach(op(t, _))
    cold
  }

  private def timed[T](body: => T): (T, Double) = {
    val t0 = now
    val r = body
    (r, now - t0)
  }

  private def ls(dir: Path): Seq[Path] =
    Using.resource(Files.list(dir))(_.iterator().asScala.toSeq.sortBy(_.toString))

  private def rmrf(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p).iterator().asScala.toSeq.reverse
      all.foreach(Files.delete)
    }

  private def opsJson(ops: Seq[Op]): Seq[Seq[Double]] = ops.map(o => Seq(o.seconds, o.units.toDouble))

  /** The untraced window; a traced run adds a traced window and then a
    * second untraced one ("after_"), in the same JVM. The tracing overhead
    * compares the traced window with both untraced ones, which bracket it,
    * so residual warm-up drift cancels. `extra` is read (and reset) after
    * each window.
    */
  private def windows(traced: Boolean, extra: () => Map[String, Any] = () => Map.empty)(
      op: (Tracer, Int) => Seq[Option[Op]]): (Map[String, Any], Tracer) = {
    def window(tr: Tracer, prefix: String): Map[String, Any] = {
      val (ops, attempted, failed) = loop(op(tr, _))
      (Map("ops" -> opsJson(ops), "attempted" -> attempted, "failed" -> failed) ++ extra())
        .map { case (k, v) => (prefix + k) -> v }
    }
    val plain = new Tracer(spark, enabled = false, "untraced")
    val base = window(plain, "")
    if (!traced) (base, plain)
    else {
      val tr = new Tracer(spark, enabled = true, "traced")
      val traced = window(tr, "traced_")
      (base ++ traced ++ window(plain, "after_"), tr)
    }
  }

  private def writeRows(rows: Array[Row], like: DataFrame, dir: Path): Unit =
    spark.createDataFrame(rows.toSeq.asJava, like.schema).coalesce(1)
      .write.mode("overwrite").parquet(dir.toString)

  private def finish(tr: Tracer, result: Map[String, Any]): Map[String, Any] =
    if (!tr.enabled) result
    else {
      val p = work.resolve("spans.jsonl")
      tr.writeJsonLines(p)
      result + ("spans" -> p.toString)
    }

  // ----------------------------------------------------------------- tail

  private val tailTable = work.resolve("tail")
  private val tailDocs = tailTable.resolve("documents.parquet")
  private val tailOut = tailTable.resolve("out").toString
  private lazy val increments = ls(in.resolve("increments"))
  private lazy val incRows = spark.read.parquet(in.resolve("increments").toString)
    .groupBy(input_file_name()).count().collect()
    .map(r => Paths.get(new java.net.URI(r.getString(0))).getFileName.toString -> r.getLong(1)).toMap
  private var lastTail: (Array[Row], DataFrame) = null

  /** One ingest_tail op: the next increment lands as a new file in the
    * documents table, then the next commit; its latency runs from the
    * landing to the returned report. Yields nothing once all have landed.
    */
  private def tailOp(tr: Tracer): Seq[Option[Op]] = {
    val landed = ls(tailDocs).size - 1 // the base file
    if (landed == increments.size) return Seq.empty
    val inc = increments(landed)
    val n = incRows(inc.getFileName.toString)
    Files.copy(inc, tailDocs.resolve(inc.getFileName))
    val ((rows, report), s) = timed {
      tr.span("op", OpTimeoutS) {
        val report = tr.span("pipeline.run")(Pipeline.run(spark, tailTable.toString, tailOut, landed + 2L))
        val rows = tr.span("report.collect")(report.collect())
        tr.attr("committed_rows", new SinkTable(tailOut).manifests.last.rows.toDouble)
        (rows, report)
      }
    }
    lastTail = (rows, report)
    Seq(Some(Op(s, n)))
  }

  private def tailChecks(): Map[String, Any] = {
    writeRows(lastTail._1, lastTail._2, work.resolve("check/report"))
    Map("kind" -> "report", "oracle" -> "p13_report", "oracle_sql" -> SparkEntry.oracleSql("p13_report"),
      "docs" -> tailDocs.resolve("*.parquet").toString,
      "report" -> work.resolve("check/report").toString, "sink" -> tailOut,
      "expected_rows" -> Tables.documents(spark, tailTable.toString).count(), "unique_doc_ids" -> true)
  }

  def ingestTail(traced: Boolean): Map[String, Any] = {
    Files.createDirectories(tailDocs)
    Files.copy(in.resolve("base.parquet"), tailDocs.resolve("part-base.parquet"))
    val (_, baseCommit) = timed(Pipeline.run(spark, tailTable.toString, tailOut, 1L).collect())
    val warmup = warmUp(4)((tr, _) => tailOp(tr))
    val (w, tr) = windows(traced)((tr, _) => tailOp(tr))
    var result = w ++ Map("warmup_s" -> warmup, "staging_s" -> Seq(baseCommit), "checks" -> tailChecks())
    if (traced) result ++= compose(tr, tailTable, work.resolve("compose"), lastTail._1)
    finish(tr, result)
  }

  /** After ingestTail, in a one-core session (and a Bench without a time
    * limit): one untimed op, then `n` timed ones continuing the same
    * table. The checks are rewritten so they cover these commits too.
    */
  def tailOneCore(n: Int): Map[String, Any] = {
    val plain = new Tracer(spark, enabled = false, "one-core")
    val (ops, attempted, failed) = loop(i => if (i > n) Seq.empty else tailOp(plain))
    val result = Map("one_core_s" -> ops.drop(1).map(_.seconds),
      "one_core_attempted" -> attempted, "one_core_failed" -> failed)
    if (lastTail == null) result // every increment had landed already
    else result + ("checks" -> tailChecks())
  }

  // --------------------------------------------------------------- stream

  def ingestStream(traced: Boolean): Map[String, Any] = {
    val stage = work.resolve("stage")
    val docs = Tables.documents(spark, in.toString).count()
    val (_, staging) = timed {
      Tables.rawEvents(spark, in.toString)
        .repartitionByRange(Main.StreamFiles, col("line_no"))
        .write.mode("overwrite").parquet(stage.toString)
    }
    var lastOut: Path = null
    val batchMs = mutable.ArrayBuffer.empty[Double]
    /** One op = one drain of every staged file into a fresh table. */
    def op(tr: Tracer, i: Int): Seq[Option[Op]] = {
      if (lastOut != null) rmrf(lastOut.getParent)
      val dir = work.resolve(s"stream/run-$i")
      lastOut = dir.resolve("out")
      val (progress, s) = timed {
        tr.span("op", OpTimeoutS) {
          val q = StreamPipeline.run(spark, stage.toString, lastOut.toString, dir.resolve("ckpt").toString)
          tr.alias(q.runId.toString)
          val done = try q.awaitTermination((OpTimeoutS * 1000).toLong) finally q.stop()
          q.exception.foreach(e => throw e)
          if (!done) sys.error("stream drain timed out")
          tr.attr("committed_rows", new SinkTable(lastOut.toString).manifests.map(_.rows).sum.toDouble)
          q.recentProgress.filter(_.numInputRows > 0)
        }
      }
      val rows = progress.map(_.numInputRows).sum
      if (rows != docs) sys.error(s"stream drained $rows of $docs rows")
      batchMs ++= progress.map(_.durationMs.get("triggerExecution").doubleValue)
      Seq(Some(Op(s, rows)))
    }
    val warmup = warmUp(1)(op)
    batchMs.clear()
    val (w, tr) = windows(traced, () => {
      val b = batchMs.toList; batchMs.clear(); Map("batch_ms" -> b)
    })(op)
    val drained = new SinkTable(lastOut.toString).read(spark)
    val routed = drained.groupBy("sink").agg(count(lit(1)).as("records"))
    writeRows(routed.collect(), routed, work.resolve("check/report"))
    var result = w ++ Map("warmup_s" -> warmup, "staging_s" -> Seq(staging), "checks" -> Map(
      "kind" -> "report", "oracle" -> "p12_route", "oracle_sql" -> SparkEntry.oracleSql("p12_route"),
      "docs" -> in.resolve("documents.parquet").toString,
      "report" -> work.resolve("check/report").toString, "sink" -> lastOut.toString,
      "expected_rows" -> docs, "unique_doc_ids" -> true))
    if (traced) result ++= composeStream(tr, stage, work.resolve("compose"), Report.perSink(drained).collect())
    finish(tr, result)
  }

  // ---------------------------------------------------------------- query

  def querySuite(traced: Boolean): Map[String, Any] = {
    val names = Main.Suite
    val dir = in.toString
    val qout = work.resolve("check/queries")
    // cold pass = warm-up; it also writes each result for the oracle check
    val cold = names.map { n =>
      val (ok, s) = timed {
        try {
          SparkEntry.queries(n)(spark, dir).coalesce(1).write.mode("overwrite")
            .parquet(qout.resolve(n).toString)
          true
        } catch {
          case e: Throwable => System.err.println(s"[perfbench] $n failed: $e"); false
        }
      }
      (n, ok, s)
    }
    val oracles = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    Files.writeString(qout.resolve("oracle_sql.json"), Json.value(oracles))
    /** One op = one full pass over the subset, so every window holds whole
      * passes and the per-query sample mix is the same in every run.
      */
    def op(tr: Tracer, i: Int): Seq[Option[Op]] = names.map { n =>
      val t0 = now
      try {
        tr.span(s"q:$n", OpTimeoutS) {
          val df = tr.span("construct")(SparkEntry.queries(n)(spark, dir))
          tr.span("count")(df.count())
          tr.attr("cached_bytes", spark.sparkContext.getRDDStorageInfo
            .map(r => r.memSize + r.diskSize).sum.toDouble)
        }
        Some(Op(now - t0, 1))
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] $n failed: $e")
          None
      }
    }
    // two untimed warm passes: the second pass runs ~1.8x slower than the
    // third, the cold one having compiled and written the results
    val warm = new Tracer(spark, enabled = false, "warmup")
    (1 to 2).foreach(op(warm, _))
    val (w, tr) = windows(traced)(op)
    finish(tr, w ++ Map("warmup_s" -> cold.map(_._3).sum, "staging_s" -> Seq.empty[Double],
      "suite" -> names, "families" -> names.map(n => n -> Main.family(n)).toMap,
      "cold_s" -> cold.map { case (n, _, s) => n -> s }.toMap, "cold_failed" -> cold.count(!_._2),
      "checks" -> Map("kind" -> "queries", "results" -> qout.toString, "data" -> dir)))
  }

  // ------------------------------------------------------------- compose

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** The slim projection Pipeline.run hands to the sink table. */
  private def slim(routed: DataFrame): DataFrame = routed.select(
    col("doc_id"), col("tokens"), col("n_tok"), col("source"), col("line_no"),
    col("ts_ns"), col("level"), col("src_ip"), col("status_code"),
    col("vendor"), col("log_type"), col("version"), col("bytes"),
    when(col("sink") === Route.Quarantine, encode(col("raw_line"), "UTF-8")).as("raw_log"),
    col("parse_ok"), col("sink"))
    .repartition(col("sink"), pmod(xxhash64(col("doc_id")), lit(8)))

  private val PrefixReps = 3

  /** Traced only: the public functions Pipeline.run calls, composed the same
    * way. Each prefix is materialised with a noop sink PrefixReps times (a
    * layer's self time is the difference of neighbouring prefix medians);
    * then the commit, the read-back and the report. The composed report
    * must equal the one Pipeline.run returned.
    */
  private def compose(tr: Tracer, docsDir: Path, out: Path, expected: Array[Row]): Map[String, Any] =
    tr.span("compose") {
      rmrf(out)
      val dir = docsDir.toString
      val raw = Tables.rawEvents(spark, dir)
      val parsed = Parse.parsed(raw)
      val deduped = Dedup.timestampDedup(parsed, col("ts_raw_ns"), Seq(col("source")), col("line_no"))
      val enriched = Enrich.withDim(deduped, Tables.sourceDim(spark, dir), "source")
      val routed = slim(Route.routed(enriched))
      prefixes(tr, Seq("sources" -> raw, "parse" -> parsed, "dedup" -> deduped,
        "enrich" -> enriched, "route" -> routed))
      val rows = raw.count()
      val miss = enriched.where(col("vendor").isNull).count()
      val broadcast = enriched.queryExecution.executedPlan.toString.contains("BroadcastHashJoin")
      val report = commitAndReport(tr, routed, out, m => new SinkTable(out.toString).appendResumable(m, 1L))
      Map("composed_report_matches" -> sameRows(report, expected), "layer" -> Map(
        "sources.rows" -> rows, "enrich.miss_rows" -> miss, "enrich.broadcast" -> (if (broadcast) 1 else 0)))
    }

  /** The stream's per-batch path run as one batch over the staged files:
    * the stream's file read, Parse, Route, then the commit (no dedup or
    * enrich: the stream path skips them). Its report must equal the report
    * over the table the stream drained into.
    */
  private def composeStream(tr: Tracer, stage: Path, out: Path, expected: Array[Row]): Map[String, Any] =
    tr.span("compose") {
      rmrf(out)
      val raw = spark.read.schema(StreamPipeline.rawSchema).parquet(stage.toString)
      val parsed = Parse.parsed(raw)
      val routed = Route.routed(parsed).repartition(col("sink"), pmod(xxhash64(col("doc_id")), lit(8)))
      prefixes(tr, Seq("read" -> raw, "parse" -> parsed, "route" -> routed))
      val report = commitAndReport(tr, routed, out, m => new SinkTable(out.toString).commit(m, 0L))
      Map("composed_report_matches" -> sameRows(report, expected))
    }

  private def prefixes(tr: Tracer, chain: Seq[(String, DataFrame)]): Unit =
    chain.foreach { case (name, df) => (1 to PrefixReps).foreach(_ => tr.span(s"prefix.$name")(noop(df))) }

  private def commitAndReport(tr: Tracer, routed: DataFrame, out: Path,
                              commit: DataFrame => graft.table.Manifest): Array[Row] = {
    val table = new SinkTable(out.toString)
    tr.span("sinktable.commit") {
      val m = commit(routed)
      val files = Files.walk(out.resolve("data")).iterator().asScala
        .filter(p => p.getFileName.toString.endsWith(".parquet")).toSeq
      tr.attr("files", files.size)
      tr.attr("bytes", files.map(Files.size(_)).sum.toDouble)
      tr.attr("rows", m.rows.toDouble)
    }
    tr.span("sinktable.read")(noop(table.read(spark)))
    tr.span("report.collect")(Report.perSink(table.read(spark)).collect())
  }

  private def sameRows(a: Array[Row], b: Array[Row]): Boolean =
    a.map(_.toString).sorted.sameElements(b.map(_.toString).sorted)
}
