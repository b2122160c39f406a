package graft

import org.scalatest.funsuite.AnyFunSuite

/** The cross-process probe's mode list and output merge — no Spark, no
  * workers. */
class CrossProcProbeSpec extends AnyFunSuite {

  test("mergeProbeLines keeps every finished mode's keys and skips cut, " +
      "foreign and error lines") {
    val out = Seq(
      "26/10/18 05:10:00 WARN NativeCodeLoader: noise",
      """{"probe":"crossproc","sf":"/d/sf0.1","mode":"float","crossproc_closed_p50_ms":31.5,"crossproc_correct":1.0}""",
      "crossproc_mode_error: int8: java.io.IOException: No space left on device",
      """{"probe":"graph_edges","shard":0,"edges":123}""",
      """{"probe":"crossproc","sf":"/d/sf0.1","mode":"ivf","crossproc_ivf_closed_qps":1209.8,"crossproc_ivf_recall_at_k":9.5E-1}""",
      """{"probe":"crossproc","sf":"/d/sf0.1","mode":"graph","crossproc_graph_closed_qps":3""")
    assert(CrossProcProbe.mergeProbeLines(out.iterator) == Map(
      "crossproc_closed_p50_ms" -> 31.5, "crossproc_correct" -> 1.0,
      "crossproc_ivf_closed_qps" -> 1209.8, "crossproc_ivf_recall_at_k" -> 0.95))
    assert(CrossProcProbe.mergeProbeLines(out.filterNot(_.contains("\"mode\":\"")).iterator)
      .isEmpty)
  }

  test("parseList takes the five known modes in order and rejects an " +
      "unknown or empty list") {
    import CrossProc.Mode
    val all = Mode.parseList(" float,int8 ,ivf,ivf8,graph")
    assert(all.map(_.name) == Seq("float", "int8", "ivf", "ivf8", "graph"))
    assert(all.map(_.prefix) == Seq("crossproc", "crossproc_int8",
      "crossproc_ivf", "crossproc_ivf8", "crossproc_graph"))
    assert(all.map(m => (m.int8, m.ivf, m.graph)) == Seq((false, false, false),
      (true, false, false), (false, true, false), (true, true, false),
      (false, false, true)))
    assert(Mode.parseList("ivf8,float").map(_.name) == Seq("ivf8", "float"))
    Seq("ivf9", "float,ivf9", "Float", "", " , ").foreach { list =>
      val ex = intercept[IllegalArgumentException](Mode.parseList(list))
      assert(ex.getMessage.contains("usage: GRAFT_XPROC_MODES=") &&
        ex.getMessage.contains(s"got '$list'"), ex.getMessage)
    }
  }
}
