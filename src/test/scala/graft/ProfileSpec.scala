package graft

import scala.collection.mutable

import org.apache.spark.sql.{GraftListenerBridge, ListenerProbe}

/** graft.Profile's record function: one host record, one record per
  * (query, round) carrying every layer field, result rows equal to the
  * query's own count(), and no listener left on the session afterwards.
  */
class ProfileSpec extends SparkSpec {

  private val Fields = Seq("construct_s", "construct_jobs", "analysis_ms", "optimization_ms",
    "planning_ms", "codegen_compiles", "jobs", "stages", "tasks", "task_s", "driver_gap_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "peak_exec_mem_bytes", "rows")

  test("record: host line + one line per (query, round), every field, rows = count(), listener removed") {
    val names = Seq("p03_parse_oplog", "d09_dup_clusters")
    val recs = mutable.ArrayBuffer.empty[Map[String, Any]]
    Profile.record(spark, Sf, names)(r => recs += r.toMap)

    assert(recs.size === 1 + 2 * Profile.Rounds)
    assert(recs.head("type") === "host")
    assert(recs.head("nproc").asInstanceOf[Int] >= 1)
    val qs = recs.tail.toSeq
    assert(qs.map(r => (r("query"), r("round"))) ===
      (for (round <- 1 to Profile.Rounds; n <- names) yield (n, round)))
    qs.foreach { r =>
      Fields.foreach(f => assert(r.contains(f), s"${r("query")} lacks $f"))
      assert(r("jobs").asInstanceOf[Int] >= 1)
      assert(r("tasks").asInstanceOf[Int] >= 1)
    }
    names.foreach { n =>
      val expected = SparkEntry.queries(n)(spark, Sf).count()
      qs.filter(_("query") == n).foreach(r => assert(r("rows") === expected, n))
    }
    // d09 checkpoints its edge list while building the frame
    qs.filter(_("query") == "d09_dup_clusters").foreach { r =>
      assert(r("construct_jobs").asInstanceOf[Int] >= 1)
      assert(r("construct_jobs").asInstanceOf[Int] < r("jobs").asInstanceOf[Int])
    }
    // every line is one JSON object
    recs.foreach(r => assert(Profile.json(r.toSeq).matches("""\{"[a-z_]+":.*\}""")))

    // a job after record() returns reaches no Profile listener
    spark.range(100).count()
    GraftListenerBridge.drain(spark.sparkContext)
    assert(recs.size === 1 + 2 * Profile.Rounds)
    assert(!ListenerProbe.sparkListeners(spark).exists(_.isInstanceOf[Profile.Listener]))
    assert(!ListenerProbe.queryListeners(spark).exists(_.isInstanceOf[Profile.Listener]))
  }
}
