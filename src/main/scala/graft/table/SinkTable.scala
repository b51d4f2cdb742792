package graft.table

import java.nio.file.{Files, Paths, Path, StandardCopyOption}
import scala.jdk.CollectionConverters._
import scala.util.Using
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** Iceberg-style table-with-snapshots on plain Parquet: a tiny
  * snapshot + per-partition lineage manifest layer giving the pipeline
  * checkpoint-resume, mirroring the reference's two-phase checkpoint
  * (position advances only after the batch is acked —
  * /root/reference/src/collector/zeek.rs:92-94,155-161; src/checkpoint.rs:44-116).
  *
  * Layout:
  *   base/data/commit=<id>/...parquet        (immutable per-commit data)
  *   base/_manifests/<id>.json               (committed only AFTER data lands)
  *   base/_manifests/CURRENT                 (atomic pointer, rename swap)
  *
  * A manifest is one JSON object:
  *   {"commit_id":7,"rows":500,"max_line_no":5499,
  *    "partitions":["base/data/commit=000000000007"],
  *    "stats":{"fgt.records":125,...}}
  * `rows` and `max_line_no` (−1 for an empty commit) are the commit's input
  * lineage; `stats` holds the caller's named aggregates over the same rows
  * (a null aggregate is left out). All of them are taken from the write
  * itself by one Observation, so a commit never reads its files back.
  *
  * A crashed write leaves data files but no manifest → invisible to readers,
  * re-run re-does only uncommitted input (idempotent, no dupes/gaps). The
  * sandbox has no Iceberg jars; this layer keeps the same contract behind a
  * small API so a real catalog drops in.
  */
final case class Manifest(commitId: Long, rows: Long, maxLineNo: Long, partitions: Seq[String],
                          stats: Map[String, Long] = Map.empty)

final class SinkTable(base: String) {
  private val dataDir = Paths.get(base, "data")
  private val manDir = Paths.get(base, "_manifests")
  Files.createDirectories(dataDir); Files.createDirectories(manDir)

  private def manPath(id: Long): Path = manDir.resolve(f"$id%012d.json")
  private def commitDir(id: Long): Path = dataDir.resolve(f"commit=$id%012d")
  private def currentPath: Path = manDir.resolve("CURRENT")

  def currentCommit: Option[Long] =
    if (Files.exists(currentPath)) Some(Files.readString(currentPath).trim.toLong) else None

  def manifests: Seq[Manifest] =
    Using.resource(Files.list(manDir))(_.iterator().asScala.toList)
      .filter(_.getFileName.toString.endsWith(".json"))
      .sortBy(_.getFileName.toString)
      .map(p => parse(Files.readString(p)))

  /** Whether commit `id` has landed: one existence check, no manifest parse. */
  def isCommitted(id: Long): Boolean = Files.exists(manPath(id))

  /** Two-phase commit: write data for this commit, THEN write the manifest,
    * THEN swap CURRENT atomically. df must carry a `line_no` column.
    *
    * `rows`, `max_line_no` and the named aggregates in `stats` come from one
    * Observation on top of df. When df ends in a shuffle (the fan-out
    * repartition), the metrics accumulate in the write's result stage, which
    * counts each partition once even when a task is retried. `check` sees
    * the manifest before it lands; throwing there aborts the commit (the
    * data stays invisible, as after a crash).
    */
  def commit(df: DataFrame, commitId: Long, stats: Seq[Column] = Nil,
             check: Manifest => Unit = _ => ()): Manifest = {
    val dir = commitDir(commitId).toString
    val obs = Observation()
    df.observe(obs, count(lit(1)).as(SinkTable.Rows),
        (coalesce(max(col("line_no")), lit(-1L)).cast("long").as(SinkTable.MaxLineNo) +: stats): _*)
      .write.mode("overwrite").parquet(dir)
    val values = obs.get
    require(values.size == stats.size + 2,
      s"stats need unique names other than ${SinkTable.Rows} and ${SinkTable.MaxLineNo}")
    val named = (values - SinkTable.Rows - SinkTable.MaxLineNo).collect {
      case (k, v: Long) => k -> v
      case (k, v) if v != null => throw new IllegalArgumentException(s"stat $k is not a long: $v")
    }
    val m = Manifest(commitId, values(SinkTable.Rows).asInstanceOf[Long],
      values(SinkTable.MaxLineNo).asInstanceOf[Long], Seq(dir), named)
    check(m)
    val tmp = manDir.resolve(s".tmp-$commitId")
    Files.writeString(tmp, render(m))
    Files.move(tmp, manPath(commitId), StandardCopyOption.ATOMIC_MOVE)
    swapCurrent(commitId)
    m
  }

  /** Append only the rows past the committed resume point. Returns rows written. */
  def appendResumable(df: DataFrame, commitId: Long): Manifest =
    commit(df.where(col("line_no") > SinkTable.resumePoint(manifests)), commitId)

  /** Read = union of committed commits only (uncommitted data invisible). */
  def read(spark: SparkSession): DataFrame = {
    val dirs = manifests.map(m => commitDir(m.commitId)).filter(Files.isDirectory(_)).map(_.toString)
    if (dirs.isEmpty) spark.emptyDataFrame else spark.read.parquet(dirs: _*)
  }

  /** Roll back: drop the last manifest (data stays, becomes invisible). */
  def rollbackLast(): Unit = manifests.lastOption.foreach { m =>
    Files.deleteIfExists(manPath(m.commitId))
    manifests.lastOption match {
      case Some(prev) => swapCurrent(prev.commitId)
      case None => Files.deleteIfExists(currentPath)
    }
  }

  /** Point CURRENT at `id`: write a temp file, then rename it over CURRENT,
    * so a crash leaves either the old pointer or the new one.
    */
  private def swapCurrent(id: Long): Unit = {
    val tmp = manDir.resolve(".tmp-CURRENT")
    Files.writeString(tmp, id.toString)
    Files.move(tmp, currentPath, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  private def render(m: Manifest): String =
    s"""{"commit_id":${m.commitId},"rows":${m.rows},"max_line_no":${m.maxLineNo},""" +
      s""""partitions":[${m.partitions.map(p => "\"" + p + "\"").mkString(",")}],""" +
      s""""stats":{${m.stats.toSeq.sorted.map { case (k, v) => s""""$k":$v""" }.mkString(",")}}}"""

  private def parse(s: String): Manifest = {
    def num(k: String): Long =
      s"""\"$k\":(-?\\d+)""".r.findFirstMatchIn(s).map(_.group(1).toLong)
        .getOrElse(sys.error(s"bad manifest: $s"))
    val parts = "\"partitions\":\\[([^\\]]*)\\]".r.findFirstMatchIn(s)
      .map(_.group(1).split(",").toSeq.filter(_.nonEmpty).map(_.replaceAll("\"", "")))
      .getOrElse(Seq.empty)
    val stats = "\"stats\":\\{([^}]*)\\}".r.findFirstMatchIn(s).map { m =>
      "\"([^\"]+)\":(-?\\d+)".r.findAllMatchIn(m.group(1)).map(e => e.group(1) -> e.group(2).toLong).toMap
    }.getOrElse(Map.empty[String, Long])
    Manifest(num("commit_id"), num("rows"), num("max_line_no"), parts, stats)
  }
}

object SinkTable {
  private val Rows = "rows"
  private val MaxLineNo = "max_line_no"

  /** Highest line_no in `committed`, −1 when none: the resume point, rows
    * above it are new (analog of the reference's decimal line-count
    * checkpoint, src/collector.rs:28-30).
    */
  def resumePoint(committed: Seq[Manifest]): Long = committed.map(_.maxLineNo).foldLeft(-1L)(math.max)
}
