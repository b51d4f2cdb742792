package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Deterministic routing + fan-out, mirroring the reference's
  * classify_kind → per-kind forwarder dispatch
  * (/root/reference/src/bin/reproduce/main.rs:525-543, 1049-1097).
  *
  * Routing is a pure expression over (source, parse_ok): the sink column.
  * Fan-out is ONE job writing `partitionBy(sink)` — a single scan feeding
  * all sinks — not N filtered scans (which would read the input N times; at
  * 100 TB that's the difference between 1× and N× I/O). Rows that fail
  * parse route to a quarantine sink rather than being lost (reference
  * drops-and-counts — SURVEY.md §2.6; we keep the rows for auditability,
  * counts still match because sink counts only include ok rows).
  */
object Route {

  val Quarantine = "quarantine"

  /** Every sink a routed row may land in. */
  val Sinks: Seq[String] = Tables.Kinds :+ Quarantine

  /** sink = format family of the source, or quarantine on parse failure. */
  def sinkCol(kind: Column, parseOk: Column): Column =
    when(!parseOk, lit(Quarantine)).otherwise(kind)

  def routed(df: DataFrame): DataFrame =
    df.withColumn("sink", sinkCol(col("kind"), col("parse_ok")))

  /** Fan-out writer: one pass, hive-partitioned by sink. Pre-shuffling by
    * (sink, bucket(doc_id)) bounds files-per-sink and keeps writers
    * parallel without tiny files — at cluster scale `buckets` rises with
    * executor count while files-per-sink stays O(buckets).
    */
  def fanOut(df: DataFrame, baseDir: String, buckets: Int = 8,
             mode: SaveMode = SaveMode.Overwrite): Unit = {
    df.repartition(col("sink"), pmod(xxhash64(col("doc_id")), lit(buckets)))
      .sortWithinPartitions(col("doc_id"))
      .write.mode(mode)
      .partitionBy("sink")
      .parquet(baseDir)
  }

  /** The header-even-if-empty invariant (reference sends the typed stream
    * header before any batch, even for 0 rows — src/controller.rs:79-95):
    * ensure a sink directory exists for every declared sink.
    */
  def ensureSinks(baseDir: String, sinks: Seq[String]): Unit =
    sinks.foreach { s =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$baseDir/sink=$s"))
    }
}
