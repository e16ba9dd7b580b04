package graft

import graft.tools.ScaleBench
import org.scalatest.funsuite.AnyFunSuite

/** ScaleBench's command line and gate verdict, checked without Spark. */
class ScaleGateSpec extends AnyFunSuite {

  private def rejected(args: String*): String =
    intercept[IllegalArgumentException](ScaleBench.parse(args)).getMessage

  test("a factor that is not an integer >= 1 is rejected before any session") {
    assert(rejected("tpch", "abc").contains("factor must be an integer >= 1, got 'abc'"))
    assert(rejected("heavy", "0").contains("factor must be an integer >= 1, got '0'"))
    assert(rejected("gate", "1", "-2").contains("fB must be an integer >= 1, got '-2'"))
    assert(rejected("gate", "x", "2").contains("fA must be an integer >= 1, got 'x'"))
  }

  test("a gate whose fB does not exceed fA is rejected") {
    assert(rejected("gate", "2", "2").contains("fB must exceed fA, got fA=2 fB=2"))
    assert(rejected("gate", "3", "1").contains("fB must exceed fA, got fA=3 fB=1"))
  }

  test("a row set that does not exist is rejected") {
    assert(rejected("tpcx", "1").contains("row set 'tpcx'"))
    assert(rejected("tpch").contains("usage"))
  }

  test("command lines parse into a row set, factors, source dir and entries") {
    assert(ScaleBench.parse(Seq("heavy", "2", "/d", "q1_agg", "op_kmeans_i8")) ==
      ScaleBench.Args("heavy", Seq(2), "/d", Seq("q1_agg", "op_kmeans_i8")))
    assert(ScaleBench.parse(Seq("gate", "1", "2", "/d")) ==
      ScaleBench.Args("gate", Seq(1, 2), "/d", Nil))
    assert(rejected("gate", "1", "2", "/d", "q1_agg").contains("usage"))
  }

  private def verdict(name: String, tA: Double, tB: Double, tagged: Boolean) =
    ScaleBench.verdict(name, 10, Some(tA), 30, Some(tB), tagged)

  test("gate: within 2x proportional is linear-ok") {
    val (lines, fails) = verdict("q1_agg", 1.0, 6.0, tagged = false)
    assert(!fails)
    assert(lines == Seq("[scale-gate] q1_agg                   " +
      "x10=1.00s x30=6.00s ratio=6.0 budget=6.0 linear-ok"))
  }

  test("gate: over budget fails unless tagged") {
    val (untagged, fails) = verdict("q1_agg", 1.0, 6.5, tagged = false)
    assert(fails && untagged.head.endsWith("SUPER-LINEAR — FAIL"))
    val (tagged, allowed) = verdict("q_dedup_minhash_lsh", 1.0, 6.5, tagged = true)
    assert(!allowed && tagged.head.endsWith("super-linear (tagged, allowed)"))
  }

  test("gate: the denominator is floored at 0.25s") {
    // 0.05s -> 1.5s reads 30x raw; over the floor it is 6.0x, the budget
    val (lines, fails) = verdict("q1_agg", 0.05, 1.5, tagged = false)
    assert(!fails && lines.head.contains("ratio=6.0 ") && lines.head.endsWith("linear-ok"))
    assert(verdict("q1_agg", 0.05, 1.6, tagged = false)._2)
  }

  test("gate: an adjudication prints only above 2.0x") {
    assert(verdict("q_graph_triangles", 1.0, 2.0, tagged = false)._1.size == 1)
    val (lines, fails) = verdict("q_graph_triangles", 1.0, 2.1, tagged = false)
    assert(!fails && lines.size == 2)
    assert(lines(1) == "[scale-gate]   adjudicated: " +
      ScaleBench.adjudications("q_graph_triangles"))
    // above 2.0x with no adjudication on record: the verdict line alone
    assert(verdict("q1_agg", 1.0, 3.0, tagged = false)._1.size == 1)
  }

  test("gate: a row that failed at either factor fails the gate, tagged or not") {
    val (lines, fails) = ScaleBench.verdict("q_dedup_minhash_lsh", 1, Some(0.5),
      2, None, tagged = true)
    assert(fails)
    assert(lines == Seq("[scale-gate] q_dedup_minhash_lsh      " +
      "x1=0.50s x2=failed budget=4.0 FAILED TO RUN — FAIL"))
  }
}
