package graft

import org.apache.spark.sql.functions._
import graft.operators.Parse

/** Per-format parse unit tests in the reference's style: one literal line →
  * exact field and nanosecond-timestamp asserts (the reference embeds
  * expected values the same way, e.g.
  * /root/reference/src/parser/operation_log.rs:80-290).
  * Each case runs the parser `Parse.parsed` itself uses.
  */
class ParseSpec extends SparkSpec {

  private def parseOne(line: String, parser: org.apache.spark.sql.Column => org.apache.spark.sql.Column) = {
    import spark.implicits._
    Seq(line).toDF("raw_line").select(parser(col("raw_line")).as("o")).select("o.*").head()
  }

  test("oplog line parses to exact ns timestamp, level, contents") {
    val r = parseOne("1700000123.250000 WARN job-5 took 441ms", Parse.oplog)
    assert(r.getAs[Long]("ts_ns") === 1700000123250000000L)
    assert(r.getAs[String]("level") === "WARN")
    assert(r.getAs[String]("contents") === "job-5 took 441ms")
    assert(r.getAs[Boolean]("ok"))
  }

  test("oplog rejects unknown level (whitelist is part of the regex)") {
    val r = parseOne("1700000123.250000 DEBUG nope", Parse.oplog)
    assert(!r.getAs[Boolean]("ok"))
  }

  test("nginx access line parses method/path/status/bytes") {
    val r = parseOne("10.1.2.3 - - [1700000500] \"GET /p/42 HTTP/1.1\" 404 1427", Parse.nginx)
    assert(r.getAs[Long]("ts_ns") === 1700000500000000000L)
    assert(r.getAs[String]("src_ip") === "10.1.2.3")
    assert(r.getAs[String]("method") === "GET")
    assert(r.getAs[String]("path") === "/p/42")
    assert(r.getAs[Int]("status") === 404)
    assert(r.getAs[Long]("resp_bytes") === 1427L)
  }

  test("fgt key=value line parses addresses and ports") {
    val r = parseOne("date=1700000900 srcip=10.0.0.7 dstip=10.0.0.1 proto=6 srcport=1031 dstport=443 action=ERROR", Parse.fgt)
    assert(r.getAs[Long]("ts_ns") === 1700000900000000000L)
    assert(r.getAs[String]("src_ip") === "10.0.0.7")
    assert(r.getAs[Int]("src_port") === 1031)
    assert(r.getAs[Int]("dst_port") === 443)
    assert(r.getAs[String]("action") === "ERROR")
  }

  test("zeek TSV positional parse: '-' duration sentinel → 0, else rounded ns") {
    // shape mirrors the reference conn fixture (/root/reference/src/collector/zeek.rs:237)
    val line = "1669773412.689790\tuid001aaa\t192.168.1.77\t57655\t209.197.168.151\t1024\ttcp\t2.256935"
    val r = parseOne(line, Parse.zeek)
    assert(r.getAs[Long]("ts_ns") === 1669773412689790000L)
    assert(r.getAs[String]("uid") === "uid001aaa")
    assert(r.getAs[Int]("src_port") === 57655)
    assert(r.getAs[Long]("duration_ns") === 2256935000L)
    val s = parseOne("1669773412.689790\tu\t1.1.1.1\t1\t2.2.2.2\t2\ttcp\t-", Parse.zeek)
    assert(s.getAs[Long]("duration_ns") === 0L)
  }

  test("malformed line drops to parse_ok=false, never throws (ref drop-and-count)") {
    Seq(Parse.oplog _, Parse.nginx _, Parse.fgt _, Parse.zeek _).foreach { p =>
      val r = parseOne("CORRUPT 42", p)
      assert(!r.getAs[Boolean]("ok"))
    }
  }

  test("parsed() over synthetic rawEvents: every non-corrupt row parses ok") {
    val df = Parse.parsed(graft.sources.Tables.rawEvents(spark, Sf))
    val bad = df.where(!col("parse_ok") && col("line_no") % 97 =!= 0).count()
    val corrupt = df.where(col("line_no") % 97 === 0).count()
    assert(bad === 0)
    assert(df.where(col("line_no") % 97 === 0 && col("parse_ok")).count() === 0)
    assert(corrupt > 0)
  }
}
