package graft.tools

import graft.{SparkEntry, SparkSpec}

/** [[Inspect]]'s three modes over registered queries at sf0.001. */
class InspectSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def query(name: String) = SparkEntry.queries(name)(spark, sf)

  test("--shuffle: q04's broadcast anti-join writes no shuffle bytes") {
    assert(Inspect.shuffle(spark, query("q04_anti_join")).written == 0L)
  }

  test("--shuffle: q01's aggregate shuffles, so the listener counts bytes") {
    val s = Inspect.shuffle(spark, query("q01_pricing_summary"))
    assert(s.written > 0L && s.read > 0L, s)
  }

  test("--codegen: one row per query under the header") {
    val names = Seq("q01_pricing_summary", "q04_anti_join")
    val lines = Inspect.report(spark, sf, "--codegen", names)
    assert(lines.size == 1 + names.size)
    assert(lines.head.startsWith("query"))
    names.zip(lines.tail).foreach { case (n, l) =>
      assert(l.startsWith(n + " "), l)
    }
  }

  test("--plan: q04's finalized plan names its BroadcastHashJoin") {
    val lines = Inspect.report(spark, sf, "--plan", Seq("q04_anti_join"))
    assert(lines.head == "==== q04_anti_join")
    assert(lines.mkString("\n").contains("BroadcastHashJoin"), lines)
  }
}
