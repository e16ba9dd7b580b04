package graft

import graft.operators.SsbVerbatim

/** Meaningfulness pins for the verbatim SSB port
  * (operators/SsbVerbatim.scala): every one of the 13 reference texts
  * returns rows at the sf0.01 gate scale, the star's shape invariants
  * hold (calendar-grid closure of lo_orderdate, the UNITED KI1/KI5 city
  * pairs, the Dec1997 lane), and the shipped texts are unmodified. */
class SsbVerbatimSpec extends GraftSpecBase {

  private val sp = TestSpark.spark
  private val gateDir = "/root/testdata/sf0.01"
  private val corpus = SsbVerbatim.corpus

  test("every verbatim SSB text returns rows at the sf0.01 gate scale") {
    corpus.queryNames.foreach { q =>
      val n = corpus.run(sp, gateDir, q).count()
      assert(n > 0, s"ssb $q returned no rows — fixture no longer hits it")
    }
  }

  test("star fixture shape invariants at sf0.01") {
    val s = sp.newSession()
    Tables.registerAll(s, gateDir)
    corpus.baseTables.foreach(t =>
      s.table(t).createOrReplaceTempView(s"tpch_$t"))
    corpus.fixtures.foreach { case (n, sql) =>
      s.sql(sql).createOrReplaceTempView(s"fx_$n") }
    assert(s.table("fx_date").count() == 2556)
    assert(s.table("fx_customer").count() == 1500)
    assert(s.table("fx_supplier").count() == 100)
    assert(s.table("fx_part").count() == 600)
    assert(s.table("fx_lineorder").count() == s.table("lineitem").count())
    // calendar closure: every fact date key is a real grid day
    val dangling = s.sql("""SELECT count(*) FROM fx_lineorder lo
      LEFT JOIN fx_date d ON lo.lo_orderdate = d.d_datekey
      WHERE d.d_datekey IS NULL""").head.getLong(0)
    assert(dangling == 0L, s"$dangling lineorder dates outside the grid")
    // the 3.3/3.4 city literals exist on BOTH dimensions
    Seq("fx_customer" -> "c_city", "fx_supplier" -> "s_city").foreach {
      case (t, c) =>
        val n = s.sql(
          s"SELECT count(*) FROM $t WHERE $c IN ('UNITED KI1','UNITED KI5')")
          .head.getLong(0)
        assert(n > 0, s"$t has no UNITED KI1/KI5 rows")
    }
    // 3.4's month is populated (the %17 Dec-1997 order lane)
    assert(s.sql("""SELECT count(*) FROM fx_lineorder lo, fx_date d
      WHERE lo.lo_orderdate = d.d_datekey AND d.d_yearmonth = 'Dec1997'""")
      .head.getLong(0) > 0)
    // exactness: integer-valued measures and integer 0..10 discounts keep
    // both sum expressions accumulation-order-exact
    val bad = s.sql("""SELECT count(*) FROM fx_lineorder
      WHERE lo_extendedprice <> CAST(lo_extendedprice AS BIGINT)
         OR lo_revenue <> CAST(lo_revenue AS BIGINT)
         OR lo_supplycost <> CAST(lo_supplycost AS BIGINT)
         OR lo_discount NOT BETWEEN 0 AND 10
         OR lo_discount <> CAST(lo_discount AS BIGINT)""").head.getLong(0)
    assert(bad == 0L, s"$bad lineorder rows break exactness")
  }

  test("the shipped texts are the reference's, character for character") {
    val q11 = corpus.queryText("1.1")
    assert(q11.contains("from lineorder, date") &&
      q11.contains("lo_discount between 1 and 3"))
    val q34 = corpus.queryText("3.4")
    assert(q34.contains("d_yearmonth = 'Dec1997'") &&
      q34.contains("c_city='UNITED KI1' or c_city='UNITED KI5'"))
    val q43 = corpus.queryText("4.3")
    assert(q43.contains("sum(lo_revenue-lo_supplycost) as profit1") &&
      q43.contains("p_category = 'MFGR#14'"))
  }
}
