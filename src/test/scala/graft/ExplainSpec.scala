package graft

import org.apache.spark.sql.SparkSession

/** The inspection main's two modes, called as functions on the suite's
  * session, and its usage gate. */
class ExplainSpec extends SparkSpec {

  test("an unknown mode fails with the usage line before a session starts") {
    val before = SparkSession.getDefaultSession
    val e = intercept[IllegalArgumentException](Explain.main(Array("bogus", sf001)))
    assert(e.getMessage.contains(Explain.Usage))
    assert(SparkSession.getDefaultSession == before)
    assert(before.forall(!_.sparkContext.isStopped))
  }

  test("profile records rows, Catalyst phases, scheduler counters and scan input") {
    Seq("knn_search", "curate_corpus_staged").foreach { name =>
      val p = Explain.profile(spark, sf001, name)
      assert(p.query == name)
      assert(p.rows == SparkEntry.queries(name)(spark, sf001).count(), p.json)
      assert(p.wallS > 0 && p.actions >= 1, p.json)
      assert(p.jobs >= 1 && p.stages >= 1 && p.tasks >= p.stages, p.json)
      assert(p.inputBytes > 0 && p.inputRecords > 0, p.json)
      assert(p.analysisMs >= 0 && p.optimizationMs >= 0 && p.planningMs >= 0, p.json)
      assert(p.jobWallMaxMs >= p.jobWallP50Ms && p.jobWallP50Ms >= 0, p.json)
      assert(p.json.startsWith(s"""{"query":"$name","rows":${p.rows},"""), p.json)
    }
  }

  test("plan prints the formatted physical plan with the scan's ReadSchema") {
    val plan = Explain.plan(spark, sf001, "knn_search")
    assert(plan.contains("ReadSchema"), plan)
  }
}
