package graft

import graft.operators.{Battery, GoldenCore}
import graft.tools.CoercionProbe

/** One replay for every golden battery family (graft.operators.Battery):
  * a replay leaves its caller's session as it found it, the oracle probe
  * replays exactly as the runtime does, and the one query-or-setup
  * classifier agrees with the statement kinds the probe wrote. */
class BatterySpec extends GraftSpecBase {

  test("a battery replay leaves its caller untouched") {
    // concat flips spark.sql.function.concatBinaryAsString mid-file;
    // tablesample-negative runs USE mydb1 and then drops that database
    val caller = spark.newSession()
    val conf = caller.conf.getAll
    val db = caller.catalog.currentDatabase
    val rows = Battery.all.flatMap(_.all).map(q => q.name -> q).toMap
    Seq("q_golden_coerce_concat", "q_golden_core_tablesample_negative")
      .foreach(n => rows(n).run(caller, sfDir).collect())
    assert(caller.conf.getAll == conf)
    assert(caller.catalog.currentDatabase == db)
  }

  test("the probe sees what the runtime sees") {
    // core group-by t013's SKEWNESS: the oracle's last digit is the
    // battery session's, whatever the caller's core count (local[4] here)
    val stmts = GoldenCore.battery.load("group-by")._2
      .filter(s => s.id == "t000" || s.id == "t013").map(s => s.id -> s.sql)
    val Seq(setup, tc) = CoercionProbe.replay(spark, stmts)
    assert(setup.take(2) == Seq("t000", "SETUP"))
    assert(tc.take(2) == Seq("t013", "OK"))
    assert(tc(4).split('\u001f').head == "S-0.2723801058145728")
  }

  test("the classifier agrees with every statement kind in the resources") {
    // four query statements were tagged `setup` by the generator before
    // the classifier stripped leading comments and knew DESC; each replay
    // runs them to completion and pins no value
    val taggedSetup = Set("core_cast/t031", "core_cast/t032",
      "pg_text/t010", "pg_text/t019")
    for {
      battery <- Battery.all
      base <- battery.bases
      Battery.Stmt(id, kind, sql) <- battery.load(base)._2
      if !kind.startsWith("err:")
      stmt = s"${battery.file(base)}/$id"
    } assert(Battery.isQuery(sql) == (kind != "setup" || taggedSetup(stmt)),
      s"$stmt ($kind)")
  }
}
