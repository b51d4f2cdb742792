package graft.operators

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.table.Manifest

/** Per-sink transfer report: count + byte statistics, the reference's only
  * aggregation (/root/reference/src/bin/reproduce/report.rs:77-213 — per-run
  * count, sum/min/max/avg record bytes, throughput).
  *
  * groupBy(sink) is a hash aggregate with map-side partial aggregation —
  * at 10^12 rows each of ~32k shuffle partitions only ships one row per
  * sink value, so the shuffle is O(sinks × partitions), not O(rows).
  *
  * The pipeline does not run that aggregate over its sinks. Like the
  * reference, which counts while records flow (report.rs:131-211), each
  * commit computes the same numbers per declared sink while it writes
  * ([[partials]], kept in the commit's manifest), and [[merged]] folds the
  * manifests on the driver: the report of a table costs no job however many
  * commits it holds.
  */
object Report {

  def perSink(df: DataFrame, sink: Column = col("sink"), bytes: Column = col("bytes")): DataFrame =
    df.groupBy(sink.as("sink"))
      .agg(
        count(lit(1)).as("records"),
        sum(bytes).as("sum_bytes"),
        min(bytes).as("min_bytes"),
        max(bytes).as("max_bytes"),
        // integer avg (floor) keeps the oracle comparison exact — no
        // float-order nondeterminism across engines
        floor(sum(bytes) / count(lit(1))).cast("long").as("avg_bytes_floor"),
        sum(when(col("parse_ok"), 1L).otherwise(0L)).as("success_cnt"),
        sum(when(!col("parse_ok"), 1L).otherwise(0L)).as("failed_cnt")
      )

  private def key(sink: String, field: String): String = s"$sink.$field"

  /** perSink's aggregates for each declared sink, as conditional aggregates
    * over a routed frame (sink, bytes, parse_ok): the stats a commit keeps.
    */
  def partials: Seq[Column] = Route.Sinks.flatMap { s =>
    val in = col("sink") === s
    val bytes = when(in, col("bytes"))
    Seq(
      count(when(in, 1)).as(key(s, "records")),
      sum(bytes).as(key(s, "sum_bytes")),
      min(bytes).as(key(s, "min_bytes")),
      max(bytes).as(key(s, "max_bytes")),
      count(when(in && col("parse_ok"), 1)).as(key(s, "success_cnt")),
      count(when(in && !col("parse_ok"), 1)).as(key(s, "failed_cnt")))
  }

  /** Conservation: every row of the commit went to a declared sink. */
  def check(m: Manifest): Unit = {
    val routed = Route.Sinks.map(s => m.stats.getOrElse(key(s, "records"), 0L)).sum
    if (routed != m.rows) throw new IllegalStateException(
      s"commit ${m.commitId}: ${m.rows} rows written but $routed routed to the declared sinks " +
        Route.Sinks.mkString(", "))
  }

  /** perSink over the union of `manifests`' commits, from their [[partials]]:
    * same schema, same rows (none for a sink with no records). A local
    * relation, so collecting it runs no job.
    */
  def merged(spark: SparkSession, manifests: Seq[Manifest]): DataFrame = {
    manifests.foreach(check)
    def box(v: Option[Long]): java.lang.Long = v.map(Long.box).orNull
    val rows = Route.Sinks.flatMap { s =>
      def all(field: String): Seq[Long] = manifests.flatMap(_.stats.get(key(s, field)))
      val records = all("records").sum
      Option.when(records > 0) {
        val sumBytes = all("sum_bytes").reduceOption(_ + _)
        Row(s, records, box(sumBytes), box(all("min_bytes").minOption), box(all("max_bytes").maxOption),
          // perSink's double division and floor, so the two agree bit for bit
          box(sumBytes.map(b => math.floor(b.toDouble / records.toDouble).toLong)),
          all("success_cnt").sum, all("failed_cnt").sum)
      }
    }
    val schema = perSink(spark.createDataFrame(java.util.List.of[Row](), StructType(Seq(
      StructField("sink", StringType), StructField("bytes", LongType),
      StructField("parse_ok", BooleanType))))).schema
    spark.createDataFrame(rows.asJava, schema)
  }
}
