package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** Normalized physical-plan signatures — the repo's plan-stability gate
  * (reference: PlanStabilitySuite.scala + resources/tpcds-plan-stability/,
  * which pins every TPC-DS query's plan and fails on drift).
  *
  * A signature is the operator TREE minus everything run-dependent: no
  * expression ids, no statistics, no partition counts, no codegen stage
  * ids. AQE wrappers (query stages, shuffle reads) and codegen collapse
  * nodes are transparent — the signature records which operators run in
  * which order, which is exactly what a planner regression changes.
  * ReusedExchange expands to its referenced subtree — AQE stage reuse is
  * timing-dependent, so a reused and a recomputed twin sign identically
  * (the reuse property is pinned separately in PlanAuditSpec).
  */
object PlanSignature {

  /** Unwrap AQE/codegen shells, then lift a leading exchange off a join
    * child: returns (exchange kind, subtree under it). */
  private def stripExchange(n: SparkPlan): (String, SparkPlan) = n match {
    case a: AdaptiveSparkPlanExec => stripExchange(a.executedPlan)
    case q: QueryStageExec => stripExchange(q.plan)
    case w: WholeStageCodegenExec => stripExchange(w.child)
    case i: InputAdapter => stripExchange(i.child)
    case r: ReusedExchangeExec => stripExchange(r.child)
    case s if s.nodeName == "AQEShuffleRead" => stripExchange(s.children.head)
    case e if e.nodeName == "BroadcastExchange" => ("broadcast", e.children.head)
    // a join-input SHUFFLE is orientation noise too: when AQE converts a
    // planned shuffle join to broadcast at runtime, the probe side keeps
    // its already-materialized shuffle; the statically-planned orientation
    // has none. The join's nodeName already pins the strategy, so under a
    // join only broadcast-vs-not is signed.
    case e if e.nodeName == "Exchange" => ("plain", e.children.head)
    case other => ("plain", other)
  }

  def signature(plan: SparkPlan): String = {
    def walk(n: SparkPlan, d: Int): Seq[String] = n match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan, d)
      case q: QueryStageExec => walk(q.plan, d)
      case w: WholeStageCodegenExec => walk(w.child, d)
      case i: InputAdapter => walk(i.child, d)
      case r: ReusedExchangeExec =>
        // whether AQE reuses a twin exchange or recomputes it is a RACE
        // (two identical stages submitted concurrently may both run before
        // reuse registration) — expand to the referenced subtree so either
        // outcome signs identically; the reuse property itself is asserted
        // separately (PlanAuditSpec's q2 ReusedExchange pin)
        walk(r.child, d)
      case other if other.nodeName == "AQEShuffleRead" =>
        // partition coalescing/skew splitting is a runtime stat decision,
        // not a plan shape — transparent for stability purposes
        other.children.flatMap(walk(_, d))
      case other if other.children.length == 2 &&
          other.nodeName.contains("Join") =>
        // join children sort lexicographically by subtree, and the
        // per-child exchange wrapper is lifted into a SORTED annotation on
        // the join line: AQE's build-side pick between two broadcastable
        // sides is a runtime-stats tie-break (suite order shifts it via
        // which stage's exact size lands first), and a flip moves the
        // BroadcastExchange wrapper to the other child — semantically
        // neutral, so both orientations must sign identically. A real
        // strategy regression still fails: broadcast→shuffle changes the
        // join nodeName AND this annotation.
        val parts = other.children.map { c =>
          val (kind, inner) = stripExchange(c)
          (kind, walk(inner, d + 1))
        }
        val kinds = parts.map(_._1).sorted.mkString(",")
        val blocks = parts.map(_._2).sortBy(_.mkString("\n"))
        (("  " * d) + other.nodeName + s" [$kinds]") +: blocks.flatten
      case other =>
        (("  " * d) + other.nodeName) +: other.children.flatMap(walk(_, d + 1))
    }
    normalize(walk(plan, 0).mkString("\n") + "\n")
  }

  /** The verbatim fixture sessions catalog their micro-schema in a
    * database named by the fixture-SQL version hash
    * ([[graft.Sessions.fixture]]), and scan
    * nodes carry that name. The hash is DATA provenance, not plan shape —
    * without this, any fixture edit rewrites every signature in its corpus
    * and drowns the one diff that matters (r13: the q34 ticket lane
    * touched 103 sig files, 0 plan changes). */
  private[graft] def normalize(sig: String): String =
    sig.replaceAll(fixtureDb, "$1_v")

  private lazy val fixtureDb =
    graft.operators.Verbatim.all.map(_.tag).mkString("(graft_(?:", "|", "))_[0-9a-f]{16}")

  /** The committed pins, one `<query name>.sig` per pinned registry row
    * (PlanStabilitySpec). */
  val pinDir: java.nio.file.Path =
    java.nio.file.Paths.get("src/test/resources/plan-signatures")

  /** `sig` against `name`'s committed pin: PINNED, DIFFERS-FROM-PIN or
    * NO-PIN-FILE. */
  def pinStatus(name: String, sig: String): String = {
    val pin = pinDir.resolve(s"$name.sig")
    if (!java.nio.file.Files.exists(pin)) "NO-PIN-FILE"
    else if (java.nio.file.Files.readString(pin) == sig) "PINNED"
    else "DIFFERS-FROM-PIN"
  }

  /** Execute the frame (so AQE finalizes) and return the signature of the
    * final plan. */
  def executedSignature(df: DataFrame): String = {
    df.collect()
    signature(df.queryExecution.executedPlan)
  }
}
