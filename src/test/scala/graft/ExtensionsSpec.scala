package graft

import org.apache.spark.sql.SparkSession

/** Deployment-path check for the custom codegen Expressions: a session
  * created with `spark.sql.extensions=graft.functions.GraftExtensions`
  * (the spark-submit deployment config — no runtime register call) must
  * resolve both SQL functions, and their values must match the documented
  * fold laws. The suite session's SparkContext is reused (one context per
  * JVM); only the session-level extension injection is exercised, and the
  * suite session is restored afterwards.
  */
class ExtensionsSpec extends SparkSpec {

  test("spark.sql.extensions=GraftExtensions resolves both custom SQL functions") {
    val prevActive = SparkSession.getActiveSession
    val prevDefault = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // withExtensions = the same injection hook `spark.sql.extensions=
      // graft.functions.GraftExtensions` runs through at spark-submit; the
      // string conf is STATIC and cannot take effect when this test reuses
      // the suite's already-running SparkContext, so the builder form is
      // the in-JVM way to exercise it
      val s2 = SparkSession.builder().master("local[2]")
        .withExtensions(new graft.functions.GraftExtensions)
        .getOrCreate()
      // token_fingerprint: acc = (acc·31 + t) mod 1e9+7 over the array
      val fp = s2.sql("SELECT token_fingerprint(array(1, 2, 3)) AS f")
        .head().getLong(0)
      val exp = Seq(1L, 2L, 3L).foldLeft(0L)((a, b) => (a * 31 + b) % 1000000007L)
      assert(fp === exp)
      // window_hashes: one hash per n-char window, len - n + 1 of them
      val wh = s2.sql("SELECT window_hashes('abcd', 2) AS h")
        .head().getSeq[Long](0)
      assert(wh.length === 3)
      val h0 = (('a'.toLong * 31 + 'b'.toLong) % 1000000007L)
      assert(wh.head === h0)
      // (no negative control on a sibling session: builder options leak
      // into the shared SparkContext conf, so a context-sharing session
      // created afterwards would inherit the extensions config anyway)
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      prevActive.foreach(SparkSession.setActiveSession)
      prevDefault.foreach(SparkSession.setDefaultSession)
    }
  }

  test("SparkEntry queries register each function once: later queries keep the first builder") {
    val registry = spark.sessionState.functionRegistry
    def registered = graft.functions.GraftFunctions.fns.map { case (id, _, _) =>
      (registry.lookupFunction(id).get, registry.lookupFunctionBuilder(id).get)
    }
    SparkEntry.queries("t04_fingerprint_roll")(spark, Sf)
    val first = registered
    SparkEntry.queries("t04_fingerprint_roll")(spark, Sf)
    SparkEntry.queries("p01_tokenize")(spark, Sf)
    registered.zip(first).foreach { case ((info, builder), (info0, builder0)) =>
      assert(info eq info0)
      assert(builder eq builder0)
    }
  }
}
