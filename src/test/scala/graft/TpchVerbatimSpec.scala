package graft

import graft.operators.TpchVerbatim

/** Meaningfulness pins for the verbatim TPC-H port
  * (operators/TpchVerbatim.scala): the reference's primary benchmark texts
  * must run UNMODIFIED and the synthesized micro-schema must be
  * selective-but-hitting — every query returns rows at the driver's
  * sf0.01 gate scale, so the oracle compare is never vacuously
  * empty-vs-empty. Also pins the fixture shape and its determinism
  * invariants (exact binary-fraction rates, referential closure of the
  * partsupp grid). */
class TpchVerbatimSpec extends GraftSpecBase {

  private val sp = TestSpark.spark
  private val gateDir = "/root/testdata/sf0.01"
  private val corpus = TpchVerbatim.corpus

  test("every verbatim TPC-H text returns rows at the sf0.01 gate scale") {
    corpus.queryNames.foreach { q =>
      val n = corpus.run(sp, gateDir, q).count()
      assert(n > 0, s"$q returned no rows — fixture no longer hits it")
    }
  }

  test("fixture tables have the designed shapes at sf0.01") {
    val s = sp.newSession()
    Tables.registerAll(s, gateDir)
    corpus.baseTables.foreach(t =>
      s.table(t).createOrReplaceTempView(s"tpch_$t"))
    corpus.fixtures.foreach { case (n, sql) =>
      s.sql(sql).createOrReplaceTempView(s"fx_$n") }
    assert(s.table("fx_region").count() == 5)
    assert(s.table("fx_nation").count() == 25)
    assert(s.table("fx_supplier").count() == 100)
    assert(s.table("fx_part").count() == 2000)
    assert(s.table("fx_partsupp").count() == 8000)
    assert(s.table("fx_customer").count() == 1500)
    // facts are base-table-linear
    assert(s.table("fx_orders").count() == s.table("orders").count())
    assert(s.table("fx_lineitem").count() == s.table("lineitem").count())
    // determinism invariant: discounts/taxes are exact binary fractions
    // and extendedprice is a multiple of 512, so the texts' own
    // price*(1-disc)*(1+tax) sums are accumulation-order-exact
    val bad = s.sql("""SELECT count(*) FROM fx_lineitem
      WHERE l_discount * 32 <> CAST(l_discount * 32 AS BIGINT)
         OR l_tax * 16 <> CAST(l_tax * 16 AS BIGINT)
         OR l_extendedprice % 512 <> 0
         OR l_quantity <> CAST(l_quantity AS BIGINT)""").head.getLong(0)
    assert(bad == 0L, s"$bad fixture lineitem rows break exactness")
    // referential closure: every (l_partkey, l_suppkey) pair resolves in
    // the partsupp grid (q9's 5-way join and q20's correlated probe)
    val dangling = s.sql("""SELECT count(*) FROM fx_lineitem l
      LEFT JOIN fx_partsupp ps
        ON l.l_partkey = ps.ps_partkey AND l.l_suppkey = ps.ps_suppkey
      WHERE ps.ps_partkey IS NULL""").head.getLong(0)
    assert(dangling == 0L, s"$dangling lineitem (part,supp) pairs dangle")
    // q6's literal discount band [.05, .07] is populated
    assert(s.sql(
      "SELECT count(*) FROM fx_lineitem WHERE l_discount = 0.0625")
      .head.getLong(0) > 0)
    // q22 has customers without orders (NOT EXISTS side is non-vacuous):
    // fixture o_custkey tops out below 1000
    assert(s.sql("SELECT max(o_custkey) FROM fx_orders")
      .head.getInt(0) < 1000)
  }

  test("the shipped texts are the reference's, character for character") {
    // spot-pin three: a drifted text would silently turn 'verbatim' into
    // 'adapted'
    val q1 = corpus.queryText("q1")
    assert(q1.contains("date '1998-12-01' - interval '90' day"))
    assert(q1.contains("sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) as sum_charge"))
    val q19 = corpus.queryText("q19")
    assert(q19.contains("('MED BAG', 'MED BOX', 'MED PKG', 'MED PACK')"))
    assert(q19.contains("l_shipmode in ('AIR', 'AIR REG')"))
    val q21 = corpus.queryText("q21")
    assert(q21.contains("l3.l_receiptdate > l3.l_commitdate") &&
      q21.contains("n_name = 'SAUDI ARABIA'"))
  }
}
