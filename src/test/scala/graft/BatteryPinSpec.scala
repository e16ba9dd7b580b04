package graft

import graft.operators.Battery

/** The error-pin replay shared by Golden{Coercion,Pg,Core}Spec. The oracle
  * comparator only sees row sets, so statements whose Spark 4.1 outcome is
  * a RAISED error are pinned here by exception class: one file's stream
  * replays in file order in the runtime's battery session
  * ([[Battery.open]]) through its one executor, so mid-file SETs and table
  * DML apply to the statements after them exactly as in the reference
  * run. Setups, value TCs and `skip:` TCs must run clean at their stream
  * position; every `err:` TC must raise its pinned class, and the pins
  * must cover the count the tsv header declares. */
abstract class BatteryPinSpec extends GraftSpecBase {

  protected def pinErrors(battery: Battery, base: String): Unit = {
    val replay = Battery.open(spark)
    var checked = 0
    battery.load(base)._2.foreach {
      case Battery.Stmt(id, kind, s) if kind.startsWith("err:") =>
        val expected = kind.stripPrefix("err:")
        val e = intercept[Throwable] { replay.execute(s).foreach(_.collect()) }
        assert(e.getClass.getSimpleName == expected,
          s"$base/$id: expected $expected, got " +
            s"${e.getClass.getSimpleName}: ${e.getMessage.take(120)}")
        checked += 1
      case Battery.Stmt(_, _, s) =>
        replay.execute(s).foreach(_.collect())
    }
    val (_, _, declaredErrs) = battery.declaredCounts(base)
    assert(checked == declaredErrs,
      s"$base: pinned $checked error TCs, header declares $declaredErrs")
  }
}
