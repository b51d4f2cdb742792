package graft

import org.apache.spark.sql.functions._

import org.apache.spark.sql.Column

import graft.operators.Parse
import graft.operators.Parse.{NginxRe, OplogRe, nsFromSecFrac}
import graft.sources.Tables

/** The production one-regex-pass parsers ([[Parse.oplog]]/[[Parse.nginx]],
  * on the RegexpExtractStruct codegen Expression) must be drop-ins for the
  * builtin regexp_extract bank kept here as the reference: identical
  * structs on every raw line (including corrupt ones), and identical under
  * both codegen and interpreted eval paths.
  */
object BuiltinParse {
  /** Reference form of [[Parse.oplog]]: one `regexp_extract` per group. */
  def oplog(line: Column): Column = struct(
    nsFromSecFrac(regexp_extract(line, OplogRe, 1), regexp_extract(line, OplogRe, 2)).as("ts_ns"),
    regexp_extract(line, OplogRe, 3).as("level"),
    regexp_extract(line, OplogRe, 4).as("contents"),
    (regexp_extract(line, OplogRe, 3) =!= "").as("ok"))

  /** Reference form of [[Parse.nginx]]. */
  def nginx(line: Column): Column = struct(
    (regexp_extract(line, NginxRe, 2).cast("long") * lit(1000000000L)).as("ts_ns"),
    regexp_extract(line, NginxRe, 1).as("src_ip"),
    regexp_extract(line, NginxRe, 3).as("method"),
    regexp_extract(line, NginxRe, 4).as("path"),
    regexp_extract(line, NginxRe, 5).cast("int").as("status"),
    regexp_extract(line, NginxRe, 6).cast("long").as("resp_bytes"),
    (regexp_extract(line, NginxRe, 5) =!= "").as("ok"))
}

class ParseFastSpec extends SparkSpec {

  private def diff(fast: Column, slow: Column): Long = {
    val raw = Tables.rawEvents(spark, Sf).select(col("raw_line"))
    raw.select(fast.as("f"), slow.as("s")).where(col("f") =!= col("s")).count()
  }

  test("oplog fast == builtin on all raw lines (incl. corrupt)") {
    assert(diff(Parse.oplog(col("raw_line")), BuiltinParse.oplog(col("raw_line"))) === 0)
  }

  test("nginx fast == builtin on all raw lines") {
    assert(diff(Parse.nginx(col("raw_line")), BuiltinParse.nginx(col("raw_line"))) === 0)
  }

  test("interpreted eval path matches codegen (whole-stage codegen off)") {
    val prev = spark.conf.get("spark.sql.codegen.wholeStage")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try assert(diff(Parse.oplog(col("raw_line")), BuiltinParse.oplog(col("raw_line"))) === 0)
    finally spark.conf.set("spark.sql.codegen.wholeStage", prev)
  }

  test("null-group regex yields empty string, not null") {
    import spark.implicits._
    val r = Seq("ab").toDF("l")
      .select(graft.functions.RegexpExtractStruct.of(col("l"), "(a)(x)?(b)", 3).as("m"))
      .select("m.g1", "m.g2", "m.g3", "m.matched")
      .as[(String, String, String, Boolean)].head()
    assert(r === (("a", "", "b", true)))
  }
}
