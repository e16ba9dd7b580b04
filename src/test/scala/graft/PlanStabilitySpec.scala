package graft

import java.nio.file.Files

import graft.operators.Verbatim
import graft.tools.{PlanDump, PlanSignature, ScaleBench}

/** Plan-stability gate (VERDICT r4 #7; reference: PlanStabilitySuite +
  * resources/tpcds-plan-stability/): every headline query's normalized
  * physical-plan signature is pinned under
  * `src/test/resources/plan-signatures/`. A planner change that alters any
  * operator tree fails here with the diff; if the new plan is intentional,
  * regenerate with
  *
  *   GRAFT_REGEN_PLAN_SIGS=1 sbt "testOnly graft.PlanStabilitySpec"
  *
  * and review the signature diff in git like any other golden change.
  */
class PlanStabilitySpec extends GraftSpecBase {

  private val sigDir = PlanSignature.pinDir
  private val regen = sys.env.contains("GRAFT_REGEN_PLAN_SIGS")

  // Pin set = the PLANS.md headline queries ∪ every scale-gate heavy
  // entry (VERDICT r8 #5): the signature-size recompute detector (a
  // subtree repeating 2-3× = a missing persist on a multi-consumer
  // frame, the round-7 triangle flaw) now runs systematically over the
  // whole set the gate times, op_* scale-only runners included.
  // op_leakage_split_deduped is excluded: its runner dedups through a
  // localCheckpoint'd frame (Scan ExistingRDD), and the planner's join-
  // side choice around that RDD flips between sessions (same tree, BHJ
  // inputs swapped — observed regen-vs-test) because a checkpointed
  // RDD carries no stable stats. Its SCALE behavior is still gated
  // (ScaleBench heavy) and its logic is oracle-checked via
  // q_sample_leakage_split; only the plan PIN is non-reproducible.
  // q_tpcds_verbatim_q23b is the one verbatim text whose pin is
  // non-reproducible even over the materialized fixture (its
  // best-customer HAVING legs are same-sized aggregates of the same
  // scan; the broadcast-side pick between them flips run to run —
  // observed pass/fail across identical back-to-back executions). Its
  // VALUES stay oracle-checked every round.
  // The verbatim rows are pinned in registry order (tpcds, tpch, ssb):
  // suite order moves AQE's side picks, so it must not change. They are
  // NOT dumped into PLANS.md (fixture-derived plans would drown the
  // reviewable headline set).
  // q_ds_above_group_avg is the same disease on the composite-shape
  // side: it joins a per-group aggregate against the group-average
  // aggregate of the SAME scan — two similar-sized legs whose
  // broadcast-side pick flipped once in a full-suite run while passing
  // in isolation before and after (r11). Values stay oracle-checked
  // via its CORRECTNESS row; only the plan PIN is non-reproducible.
  // The LSH rows outside the headline and heavy sets (SimHash chunk join,
  // sign-projection hard negatives and semantic decontamination) come last,
  // so the earlier rows keep their suite order.
  private val pinned =
    (PlanDump.headline ++ ScaleBench.heavy ++
      Verbatim.all.flatMap(_.all.map(_.name)) ++
      Seq("q_dedup_simhash", "q_sim_hard_negatives", "q_decontaminate_semantic"))
      .distinct.filterNot(Set("op_leakage_split_deduped",
        "q_tpcds_verbatim_q23b", "q_ds_above_group_avg"))

  pinned.foreach { name =>
    test(s"plan signature pinned: $name") {
      // other suites persist fixture subplans; CacheManager would swap
      // InMemoryTableScan into any matching fragment and change the
      // signature depending on suite ORDER — clear for determinism
      spark.catalog.clearCache()
      // and sign inside a DETACHED session: a fresh SessionState (conf,
      // catalog, experimental strategies) makes the signature immune to
      // whatever planner-relevant state other suites leaked into the
      // shared session (broadcast thresholds, files.* scan confs, temp
      // views...). The SparkContext and the now-cleared cache are shared;
      // everything planner-visible is per-session and starts clean here.
      val signer = spark.newSession()
      val sig = PlanSignature.executedSignature(
        ScaleBench.runner(name)(signer, sfDir))
      val f = sigDir.resolve(s"$name.sig")
      if (regen) {
        Files.createDirectories(sigDir)
        Files.writeString(f, sig)
      } else {
        assert(Files.exists(f),
          s"no committed signature for $name — run GRAFT_REGEN_PLAN_SIGS=1 " +
            "sbt 'testOnly graft.PlanStabilitySpec' and commit the file")
        val expected = Files.readString(f)
        assert(sig == expected,
          s"""plan drift for $name.
             |--- committed ---
             |$expected
             |--- current ---
             |$sig
             |If intentional: GRAFT_REGEN_PLAN_SIGS=1 sbt 'testOnly """.stripMargin +
            "graft.PlanStabilitySpec' and commit the diff.")
      }
    }
  }
}
