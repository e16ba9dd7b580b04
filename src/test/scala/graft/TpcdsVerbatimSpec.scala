package graft

import graft.operators.TpcdsVerbatim

/** Meaningfulness pins for the verbatim TPC-DS port
  * (operators/TpcdsVerbatim.scala): the texts must run UNMODIFIED and the
  * synthesized micro-schema must be selective-but-hitting — every query
  * returns rows at the driver's sf0.01 gate scale, so the oracle compare
  * is never vacuously-empty-vs-empty. Also pins the fixture shape. */
class TpcdsVerbatimSpec extends GraftSpecBase {

  private val sp = TestSpark.spark
  private val gateDir = "/root/testdata/sf0.01"
  private val corpus = TpcdsVerbatim.corpus

  test("every verbatim text returns rows at the sf0.01 gate scale") {
    val counts = corpus.queryNames.map { q =>
      q -> corpus.run(sp, gateDir, q).count()
    }
    counts.foreach { case (q, n) =>
      assert(n > 0, s"$q returned no rows — fixture no longer hits it")
    }
  }

  test("fixture tables have the designed shapes at sf0.01") {
    val s = sp.newSession()
    Tables.registerAll(s, gateDir)
    corpus.baseTables.foreach(t =>
      s.table(t).createOrReplaceTempView(s"tpch_$t"))
    corpus.fixtures.foreach { case (n, sql) =>
      s.sql(sql).createOrReplaceTempView(n) }
    assert(s.table("date_dim").count() == 1500)
    assert(s.table("store").count() == 6)
    assert(s.table("household_demographics").count() == 20)
    assert(s.table("time_dim").count() == 200)
    assert(s.table("item").count() == 400)
    assert(s.table("customer").count() == 1500)
    assert(s.table("customer_address").count() == 600)
    assert(s.table("customer_demographics").count() == 720)
    assert(s.table("income_band").count() == 20)
    assert(s.table("reason").count() == 10)
    assert(s.table("promotion").count() == 10)
    assert(s.table("warehouse").count() == 5)
    assert(s.table("ship_mode").count() == 20)
    assert(s.table("web_site").count() == 12)
    assert(s.table("call_center").count() == 6)
    assert(s.table("web_page").count() == 30)
    // the three sales channels are lineitem-linear; inventory is a
    // per-(item, week-date, warehouse) snapshot bounded by its key grid
    // (210 x 400 x 2) regardless of sf — the dense variant made q72's
    // item-only join quadratic
    val li = s.table("lineitem").count()
    // store_sales = one row per lineitem + the q34 ticket lane: 60
    // tickets of exactly 15 + t%6 lines = 900 + 10*(0+1+2+3+4+5) = 1050
    // rows in the disjoint 9e8+ ticket space
    assert(s.table("store_sales").count() == li + 1050)
    val lane = s.sql("""SELECT ss_ticket_number, count(*) AS cnt,
        count(DISTINCT ss_sold_date_sk || '/' || ss_store_sk || '/' ||
              ss_hdemo_sk || '/' || ss_customer_sk) AS dims
      FROM store_sales WHERE ss_ticket_number >= 900000000
      GROUP BY ss_ticket_number""").collect()
    assert(lane.length == 60, s"lane has ${lane.length} tickets")
    assert(lane.forall(r => r.getLong(1) >= 15 && r.getLong(1) <= 20),
      "lane ticket lengths must sit inside q34's cnt BETWEEN 15 AND 20")
    assert(lane.forall(_.getLong(2) == 1L),
      "each lane ticket must share one (date, store, hdemo, customer)")
    // and the lane stays OUT of the ss<->sr ticket join identity
    assert(s.sql("""SELECT count(*) FROM store_returns
      WHERE sr_ticket_number >= 900000000""").head.getLong(0) == 0L)
    assert(s.table("catalog_sales").count() == li)
    assert(s.table("web_sales").count() == li)
    val inv = s.table("inventory").count()
    assert(inv > 0 && inv <= 210L * 400 * 2, s"inventory $inv")
    // returns are the R / A return-flag slices
    assert(s.table("store_returns").count() ==
      s.table("catalog_returns").count())
    assert(s.table("web_returns").count() > 0)
    // referential closure: every NON-NULL store_sales fk resolves at gate
    // scale (ss_store_sk and ss_addr_sk carry designed ~1% NULLs — the
    // q76/q44 IS NULL slices — so nullness is not dangling)
    // (the q34 lane is exempt: its item/cdemo keys dangle BY DESIGN so
    // item- and cdemo-joining texts can't see a partial ticket)
    val dangling = s.sql("""SELECT count(*) FROM (
        SELECT * FROM store_sales WHERE ss_ticket_number < 900000000) ss
      LEFT JOIN item i ON ss.ss_item_sk = i.i_item_sk
      LEFT JOIN date_dim d ON ss.ss_sold_date_sk = d.d_date_sk
      LEFT JOIN store st ON ss.ss_store_sk = st.s_store_sk
      LEFT JOIN customer c ON ss.ss_customer_sk = c.c_customer_sk
      LEFT JOIN customer_demographics cd ON ss.ss_cdemo_sk = cd.cd_demo_sk
      WHERE i.i_item_sk IS NULL OR d.d_date_sk IS NULL
         OR (ss.ss_store_sk IS NOT NULL AND st.s_store_sk IS NULL)
         OR c.c_customer_sk IS NULL OR cd.cd_demo_sk IS NULL""")
      .head.getLong(0)
    assert(dangling == 0L, s"$dangling store_sales rows dangle")
    // the designed NULL slices exist (q76 unions on them, q44 aggregates
    // the ss_addr_sk IS NULL slice)
    assert(s.sql("SELECT count(*) FROM store_sales WHERE ss_store_sk IS NULL")
      .head.getLong(0) > 0)
    assert(s.sql("SELECT count(*) FROM store_sales WHERE ss_addr_sk IS NULL")
      .head.getLong(0) > 0)
    assert(s.sql(
      "SELECT count(*) FROM web_sales WHERE ws_ship_customer_sk IS NULL")
      .head.getLong(0) > 0)
    assert(s.sql(
      "SELECT count(*) FROM catalog_sales WHERE cs_ship_addr_sk IS NULL")
      .head.getLong(0) > 0)
  }

  test("the shipped texts are the reference's, character for character") {
    // spot-pin three: a drifted text would silently turn 'verbatim' into
    // 'adapted'
    val q3 = corpus.queryText("q3")
    assert(q3.contains("FROM date_dim dt, store_sales, item"))
    assert(q3.contains("AND item.i_manufact_id = 128"))
    val q88 = corpus.queryText("q88")
    assert(q88.count(_ == ',') > 20 && q88.contains("h8_30_to_9"))
    val q62 = corpus.queryText("q62")
    assert(q62.contains("AS `30 days `") &&
      q62.contains("substr(w_warehouse_name, 1, 20)"))
  }
}
