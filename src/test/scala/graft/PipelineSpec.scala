package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import scala.util.Using
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, GraftListenerBridge}
import org.apache.spark.sql.functions._

import graft.operators.Report
import graft.plans.Pipeline
import graft.sources.Tables
import graft.table.SinkTable

/** End-to-end invariants from BASELINE.md:
  *   - routed-row sets equal the oracle by token-array equality per doc_id
  *     (exceptAll both directions empty),
  *   - per-sink (records, bytes) match independent recomputation,
  *   - resume from a rolled-back manifest reproduces identical sinks.
  */
class PipelineSpec extends SparkSpec {

  private def freshDir(): String =
    Files.createTempDirectory("graft-pipe").toString

  test("north rule: routed rows equal oracle by (doc_id, tokens) — exceptAll both ways empty") {
    val out = freshDir()
    Pipeline.run(spark, Sf, out, 1L)
    val routed = new SinkTable(out).read(spark)
      .select(col("sink"), col("doc_id"), col("tokens"))
    // independent oracle: re-derive expected routing straight from the source
    val expected = graft.operators.Route.routed(
      graft.operators.Parse.parsed(Tables.rawEvents(spark, Sf)))
      .select(col("sink"), col("doc_id"), col("tokens"))
    assert(routed.exceptAll(expected).isEmpty)
    assert(expected.exceptAll(routed).isEmpty)
  }

  test("per-sink (records, sum_bytes) match independent recomputation") {
    val out = freshDir()
    val report = Pipeline.run(spark, Sf, out, 1L)
      .select("sink", "records", "sum_bytes")
    val expected = graft.operators.Parse.parsed(Tables.rawEvents(spark, Sf))
      .withColumn("sink", graft.operators.Route.sinkCol(col("kind"), col("parse_ok")))
      .groupBy("sink").agg(count(lit(1)).as("records"), sum(col("bytes")).as("sum_bytes"))
    assert(report.exceptAll(expected).isEmpty && expected.exceptAll(report).isEmpty)
  }

  test("resume: rollback last manifest + re-run → identical sink contents, no dupes/gaps") {
    val out = freshDir()
    Pipeline.run(spark, Sf, out, 1L)
    val t = new SinkTable(out)
    val before = t.read(spark).orderBy("doc_id")
      .select("sink", "doc_id", "n_tok", "ts_ns").collect().toSeq
    t.rollbackLast()
    assert(t.read(spark).count() === 0L) // uncommitted data invisible
    Pipeline.run(spark, Sf, out, 2L)
    val after = t.read(spark).orderBy("doc_id")
      .select("sink", "doc_id", "n_tok", "ts_ns").collect().toSeq
    assert(after === before)
  }

  test("appendResumable skips already-committed line_no range (no dupes on overlap)") {
    import spark.implicits._
    val out = freshDir()
    val t = new SinkTable(out)
    val part1 = (0L until 100L).map(i => (i, s"r$i")).toDF("line_no", "v")
    t.commit(part1, 1L)
    // re-offer an overlapping window [50, 150): only (100,150) may land
    val part2 = (50L until 150L).map(i => (i, s"r$i")).toDF("line_no", "v")
    val m = t.appendResumable(part2, 2L)
    assert(m.rows === 50L)
    assert(t.read(spark).count() === 150L)
    assert(t.read(spark).select("line_no").distinct().count() === 150L)
  }

  test("quarantine sink receives exactly the corrupt rows (did % 97 == 0)") {
    val out = freshDir()
    Pipeline.run(spark, Sf, out, 1L)
    val q = new SinkTable(out).read(spark).where(col("sink") === "quarantine")
    assert(q.count() > 0)
    assert(q.where(col("line_no") % 97 =!= 0).count() === 0L)
    // raw-log fallback: every quarantined row keeps its whole line as bytes
    // (Log{kind, log} — reference log.rs:129-149); parsed sinks carry null
    assert(q.where(col("raw_log").isNull).count() === 0L)
    assert(q.where(decode(col("raw_log"), "UTF-8").startsWith("CORRUPT")).count() === q.count())
    val ok = new SinkTable(out).read(spark).where(col("sink") =!= "quarantine")
    assert(ok.where(col("raw_log").isNotNull).count() === 0L)
  }

  /** Jobs submitted while `body` runs (listener bus drained on both ends). */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    GraftListenerBridge.drain(sc)
    sc.addSparkListener(l)
    try { body; GraftListenerBridge.drain(sc) } finally sc.removeSparkListener(l)
    jobs.get
  }

  /** Same schema and the same rows, compared as perfbench does (Row.toString). */
  private def assertSameReport(got: DataFrame, want: DataFrame): Unit = {
    assert(got.schema === want.schema)
    assert(got.collect().map(_.toString).sorted.toSeq === want.collect().map(_.toString).sorted.toSeq)
  }

  /** The merged report equals perSink over the committed rows, Σ manifest
    * rows equals the committed row count, and collecting the report runs no job.
    */
  private def assertConserved(report: DataFrame, t: SinkTable): Unit = {
    assertSameReport(report, Report.perSink(t.read(spark)))
    assert(t.manifests.map(_.rows).sum === t.read(spark).count())
    assert(jobsDuring(report.collect()) === 0)
  }

  private val TailCols = Seq("sink", "doc_id", "tokens", "ts_ns", "bytes")

  test("conservation: tail commits report from their manifests, equal to one commit over all rows") {
    val tail = freshDir(); val out = freshDir()
    val docs = Paths.get(tail, "documents.parquet").toString
    def land(where: String): Unit =
      Tables.documents(spark, Sf).where(where).coalesce(1).write.mode("append").parquet(docs)
    val t = new SinkTable(out)
    val increments = Seq("doc_id < 300", "doc_id >= 300 AND doc_id < 400", "doc_id >= 400")
    val reports = increments.zipWithIndex.map { case (where, i) =>
      land(where)
      val report = Pipeline.run(spark, tail, out, i + 1L)
      assertConserved(report, t)
      report
    }
    assert(t.manifests.map(_.rows) === Seq(300L, 100L, 100L))

    val whole = freshDir()
    Pipeline.run(spark, Sf, whole, 1L)
    val one = new SinkTable(whole).read(spark).select(TailCols.map(col): _*)
    val three = t.read(spark).select(TailCols.map(col): _*)
    assert(three.exceptAll(one).isEmpty && one.exceptAll(three).isEmpty)

    // nothing new landed: an empty commit, the report unchanged
    val idle = Pipeline.run(spark, tail, out, 4L)
    val last = t.manifests.last
    assert((last.commitId, last.rows, last.maxLineNo) === ((4L, 0L, -1L)))
    assertSameReport(idle, reports.last)
    assertConserved(idle, t)

    t.rollbackLast() // the empty commit
    assertConserved(Report.merged(spark, t.manifests), t)
    t.rollbackLast() // the third increment
    val two = Report.merged(spark, t.manifests)
    assertConserved(two, t)
    assertSameReport(two, reports(1))
  }

  test("report partials keep nulls: a sink whose bytes are all null merges like perSink") {
    import spark.implicits._
    val out = freshDir()
    val t = new SinkTable(out)
    val b1 = Seq((0L, "oplog", Some(10L), true), (1L, "oplog", None, false), (2L, "fgt", None, true),
      (3L, "quarantine", Some(7L), false)).toDF("line_no", "sink", "bytes", "parse_ok")
    val b2 = Seq((4L, "oplog", Some(3L), true), (5L, "fgt", None, false))
      .toDF("line_no", "sink", "bytes", "parse_ok")
    t.commit(b1, 1L, Report.partials, Report.check)
    t.commit(b2, 2L, Report.partials, Report.check)
    val report = Report.merged(spark, t.manifests)
    assertSameReport(report, Report.perSink(t.read(spark)))
    val fgt = report.where(col("sink") === "fgt").head()
    assert(fgt.isNullAt(fgt.fieldIndex("sum_bytes")) && fgt.isNullAt(fgt.fieldIndex("avg_bytes_floor")))
    assert(report.where(col("sink") === "nginx").isEmpty)
  }

  test("a commit with a row routed to an undeclared sink throws before its manifest lands") {
    import spark.implicits._
    val out = freshDir()
    val t = new SinkTable(out)
    val bad = Seq((0L, "oplog", 5L, true), (1L, "nowhere", 5L, true)).toDF("line_no", "sink", "bytes", "parse_ok")
    val e = intercept[IllegalStateException](t.commit(bad, 1L, Report.partials, Report.check))
    assert(e.getMessage.contains("2 rows written but 1 routed"))
    assert(!t.isCommitted(1L) && t.manifests.isEmpty && t.currentCommit.isEmpty)
  }

  test("manifests closes its directory handle: 500 listings leave fewer than 50 new fds") {
    val t = new SinkTable(freshDir())
    def fds(): Long = Using.resource(Files.list(Paths.get("/proc/self/fd")))(_.count())
    val before = fds()
    (1 to 500).foreach(_ => t.manifests)
    assert(fds() - before < 50)
  }

  test("rollbackLast swaps CURRENT to the previous commit and leaves no temp file") {
    import spark.implicits._
    val out = freshDir()
    val t = new SinkTable(out)
    t.commit(Seq(0L, 1L).toDF("line_no"), 1L)
    t.commit(Seq(2L).toDF("line_no"), 2L)
    assert(t.currentCommit === Some(2L) && t.isCommitted(2L))
    t.rollbackLast()
    assert(t.currentCommit === Some(1L))
    assert(!t.isCommitted(2L) && t.isCommitted(1L))
    val left = Using.resource(Files.list(Paths.get(out, "_manifests")))(_.iterator().asScala.toList)
    assert(!left.exists(_.getFileName.toString.startsWith(".tmp-")), left)
  }

  test("entry() returns non-empty flagship result") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
