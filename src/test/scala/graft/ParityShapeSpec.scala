package graft

import org.scalatest.funsuite.AnyFunSuite

/** The parityShape contract (VERDICT r4 #4): queries tagged as reference
  * planner shapes are parity pins, not scale paths — each must have a
  * scale-safe twin in the registry covering the same semantics, and the
  * `Ops` facade must never route through one.
  */
class ParityShapeSpec extends AnyFunSuite {

  private val byName = SparkEntry.registry.map(q => q.name -> q).toMap
  private val parity = SparkEntry.registry.filter(_.parityShape).map(_.name)

  test("the parity-shape set is exactly the declared four") {
    assert(parity.sorted === Seq("q_dedup_embedding", "q_ds_exists_selfjoin",
      "q_sim_topk_brute", "q_tpch_q21"))
  }

  test("q_tpch_q21_fast is pinned to the ORIGINAL q21 oracle") {
    assert(byName("q_tpch_q21_fast").oracle === byName("q_tpch_q21").oracle)
    assert(!byName("q_tpch_q21_fast").parityShape)
  }

  test("q_ds_exists_selfjoin_fast is pinned to the self-join oracle") {
    assert(byName("q_ds_exists_selfjoin_fast").oracle ===
      byName("q_ds_exists_selfjoin").oracle)
    assert(!byName("q_ds_exists_selfjoin_fast").parityShape)
  }

  test("every parity shape has an untagged scale twin in the registry") {
    val twins = Map(
      "q_tpch_q21" -> "q_tpch_q21_fast",
      "q_ds_exists_selfjoin" -> "q_ds_exists_selfjoin_fast",
      "q_dedup_embedding" -> "q_dedup_embedding_lsh",
      "q_sim_topk_brute" -> "q_sim_ann_lsh")
    parity.foreach { p =>
      val t = twins(p)
      assert(byName.contains(t), s"scale twin $t missing for $p")
      assert(!byName(t).parityShape, s"twin $t must not itself be a parity shape")
    }
  }

  test("the Ops facade never routes through a parity shape") {
    // source lint: the facade file must not reference a parity query by its
    // registry slug or by the val identifiers that build one
    val src = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/main/scala/graft/Ops.scala")), "UTF-8")
    val forbidden = parity ++ Seq("embeddingNearDup", "bruteForceTopK",
      "TpchFull.q21", "existsSelfJoin")
    forbidden.foreach { tok =>
      assert(!src.contains(tok), s"Ops.scala references parity shape: $tok")
    }
  }

  test("ScaleBench's gate exemptions are documented and minimal") {
    assert(tools.ScaleBench.gateExempt ===
      Set("q_dedup_clusters", "q_dedup_minhash_lsh"))
    // exempted queries must still be in the heavy list, i.e. measured
    tools.ScaleBench.gateExempt.foreach(q =>
      assert(tools.ScaleBench.heavy.contains(q)))
  }
}
