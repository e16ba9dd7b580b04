package graft

import graft.operators.GoldenCoercion

/** Error pins + inventory for the typeCoercion/native golden port
  * (operators/GoldenCoercion.scala). Statements whose Spark 4.1 outcome is
  * a RAISED ERROR (ANSI strictness: string→numeric cast failures,
  * boolean/numeric comparison rejections, interval-on-integral arithmetic,
  * …) are pinned by exception class through [[BatteryPinSpec]]. The
  * inventory test pins the partition: every statement of every file is a
  * setup, a value TC in the oracle matrix, or an error pin — nothing drops
  * out silently. */
class GoldenCoercionSpec extends BatteryPinSpec {

  private val battery = GoldenCoercion.battery

  for (base <- GoldenCoercion.bases) {
    test(s"$base: error TCs raise the pinned exception class in order") {
      pinErrors(battery, base)
    }
  }

  test("inventory: every statement of every file is accounted for") {
    // reference file sizes (statement counts from the golden .out files,
    // results/typeCoercion/native): setups + value TCs + error TCs must
    // partition each file's statement list
    val expectedTotals = Map(
      "arrayJoin" -> 11, "binaryComparison" -> 265,
      "booleanEquality" -> 97, "caseWhenCoercion" -> 145,
      "concat" -> 14, "dateTimeOperations" -> 40,
      "decimalPrecision" -> 1145, "division" -> 145, "elt" -> 6,
      "ifCoercion" -> 145, "implicitTypeCasts" -> 44,
      "inConversion" -> 289, "mapZipWith" -> 16, "mapconcat" -> 8,
      "promoteStrings" -> 316, "stringCastAndExpressions" -> 32,
      "widenSetOperationTypes" -> 145, "windowFrameCoercion" -> 25)
    assert(GoldenCoercion.bases.toSet == expectedTotals.keySet)
    for (base <- GoldenCoercion.bases) {
      val (_, stmts) = battery.load(base)
      val (total, valueTcs, errorTcs) = battery.declaredCounts(base)
      assert(total == expectedTotals(base),
        s"$base: header total $total != reference ${expectedTotals(base)}")
      assert(stmts.length == total,
        s"$base: ${stmts.length} statements in tsv, header says $total")
      val byKind = stmts.groupBy(s =>
        if (s.kind.startsWith("err:")) "err" else s.kind)
      assert(byKind.getOrElse("tc", Nil).length == valueTcs)
      assert(byKind.getOrElse("err", Nil).length == errorTcs)
      assert(byKind.getOrElse("setup", Nil).length ==
        total - valueTcs - errorTcs)
    }
  }
}
