package graft.operators

/** VERBATIM Star-Schema-Benchmark query texts (reference corpus:
  * native-sql-engine/core/src/test/resources/ssb/1.1.sql..4.3.sql, runner
  * .../tpc/ssb/) — all 13 files run END TO END, character for character,
  * over a denormalized lineorder star derived from the base parquet, the
  * same [[Corpus]] micro-schema mechanism as [[TpcdsVerbatim]]/[[TpchVerbatim]].
  *
  * The adapted `q_ssb_*` rows (operators/Ssb.scala) stay the scale-shape
  * set; this is the "run the reference's exact SSB files" surface.
  *
  * SSB specifics handled here:
  *   - the dimension table is named `date` — a keyword-adjacent identifier
  *     both engines accept unquoted in FROM position (probed); only the
  *     fixture-side DDL backtick-quotes it.
  *   - lineorder denormalizes lineitem x orders: lo_orderdate is an INT
  *     yyyymmdd key into the 2556-day 1992-1998 calendar grid, derived
  *     from the SAME day-offset formula the grid uses, so every fact row
  *     resolves. A `% 17` order lane lands in Dec-1997 so query 3.4's
  *     d_yearmonth = 'Dec1997' month is populated.
  *   - lo_discount is SSB's integer 0..10 percentage and every measure is
  *     an integer-valued DOUBLE, so `sum(lo_extendedprice*lo_discount)`
  *     and `sum(lo_revenue-lo_supplycost)` are exact under any
  *     accumulation order on both engines.
  *   - city values are `substring(nation, 1, 9) || digit` with digit ∈
  *     {1, 5} only — queries 3.3/3.4 name 'UNITED KI1'/'UNITED KI5'
  *     literally, and the SSB grid has just 4 UK suppliers, so a 0-9
  *     digit would leave those city pairs unpopulated.
  *   - queries 2.1-2.3 emit an UNALIASED `sum(lo_revenue)` — both engines
  *     auto-name it identically (probed), so no rename shim is needed.
  *   - p_brand1 = category || (1..40) where the brand number comes from
  *     floor(k/25) (independent of the k%25 category lane by
  *     construction), so 'MFGR#2221' and the 2.2 between-range exist.
  */
object SsbVerbatim {

  private def nationCase(k: String): String =
    s"""CASE $k % 25
          WHEN 0 THEN 'ALGERIA' WHEN 1 THEN 'ARGENTINA'
          WHEN 2 THEN 'BRAZIL' WHEN 3 THEN 'CANADA'
          WHEN 4 THEN 'EGYPT' WHEN 5 THEN 'ETHIOPIA'
          WHEN 6 THEN 'FRANCE' WHEN 7 THEN 'GERMANY'
          WHEN 8 THEN 'INDIA' WHEN 9 THEN 'INDONESIA'
          WHEN 10 THEN 'IRAN' WHEN 11 THEN 'IRAQ'
          WHEN 12 THEN 'JAPAN' WHEN 13 THEN 'JORDAN'
          WHEN 14 THEN 'KENYA' WHEN 15 THEN 'MOROCCO'
          WHEN 16 THEN 'MOZAMBIQUE' WHEN 17 THEN 'PERU'
          WHEN 18 THEN 'CHINA' WHEN 19 THEN 'ROMANIA'
          WHEN 20 THEN 'SAUDI ARABIA' WHEN 21 THEN 'VIETNAM'
          WHEN 22 THEN 'RUSSIA' WHEN 23 THEN 'UNITED KINGDOM'
          ELSE 'UNITED STATES' END"""

  private def regionCase(k: String): String =
    s"""CASE $k % 25
          WHEN 0 THEN 'AFRICA' WHEN 1 THEN 'AMERICA' WHEN 2 THEN 'AMERICA'
          WHEN 3 THEN 'AMERICA' WHEN 4 THEN 'MIDDLE EAST'
          WHEN 5 THEN 'AFRICA' WHEN 6 THEN 'EUROPE' WHEN 7 THEN 'EUROPE'
          WHEN 8 THEN 'ASIA' WHEN 9 THEN 'ASIA' WHEN 10 THEN 'MIDDLE EAST'
          WHEN 11 THEN 'MIDDLE EAST' WHEN 12 THEN 'ASIA'
          WHEN 13 THEN 'MIDDLE EAST' WHEN 14 THEN 'AFRICA'
          WHEN 15 THEN 'AFRICA' WHEN 16 THEN 'AFRICA' WHEN 17 THEN 'AMERICA'
          WHEN 18 THEN 'ASIA' WHEN 19 THEN 'EUROPE'
          WHEN 20 THEN 'MIDDLE EAST' WHEN 21 THEN 'ASIA'
          WHEN 22 THEN 'EUROPE' WHEN 23 THEN 'EUROPE'
          ELSE 'AMERICA' END"""

  private val monthCase: String =
    """CASE month(dt) WHEN 1 THEN 'Jan' WHEN 2 THEN 'Feb'
          WHEN 3 THEN 'Mar' WHEN 4 THEN 'Apr' WHEN 5 THEN 'May'
          WHEN 6 THEN 'Jun' WHEN 7 THEN 'Jul' WHEN 8 THEN 'Aug'
          WHEN 9 THEN 'Sep' WHEN 10 THEN 'Oct' WHEN 11 THEN 'Nov'
          ELSE 'Dec' END"""

  private val cityDigit: String =
    "CASE CAST(floor(k / 25) AS INT) % 2 WHEN 0 THEN '1' ELSE '5' END"

  private val fixtures: Seq[(String, String)] = Seq(
    "date" ->
      s"""SELECT CAST(year(dt) * 10000 + month(dt) * 100 + day(dt) AS INT)
                  AS d_datekey,
                dt AS d_date,
                CAST(year(dt) AS INT) AS d_year,
                CAST(year(dt) * 100 + month(dt) AS INT) AS d_yearmonthnum,
                $monthCase || CAST(year(dt) AS STRING) AS d_yearmonth,
                CAST(month(dt) AS INT) AS d_month,
                CAST(1 + CAST(floor((dayofyear(dt) - 1) / 7) AS INT) AS INT)
                  AS d_weeknuminyear,
                CAST(dayofyear(dt) AS INT) AS d_daynuminyear
         FROM (SELECT DATE '1992-01-01' + CAST(k - 1 AS INT) AS dt
               FROM (SELECT CAST(row_number() OVER (ORDER BY o_orderkey)
                       AS INT) AS k FROM tpch_orders) n0
               WHERE k <= 2556) n""",
    "customer" ->
      s"""SELECT CAST(k AS INT) AS c_custkey,
                'Customer#' || lpad(CAST(k AS STRING), 9, '0') AS c_name,
                'addr_c' || CAST(k AS STRING) AS c_address,
                substring(${nationCase("(k * 7)")}
                  || '         ', 1, 9) || $cityDigit AS c_city,
                ${nationCase("(k * 7)")} AS c_nation,
                ${regionCase("(k * 7)")} AS c_region,
                CAST(10 + (k * 7) % 25 AS STRING) || '-' ||
                  lpad(CAST((k * 97) % 1000 AS STRING), 3, '0') AS c_phone,
                CASE (k * 3) % 5 WHEN 0 THEN 'BUILDING'
                  WHEN 1 THEN 'AUTOMOBILE' WHEN 2 THEN 'MACHINERY'
                  WHEN 3 THEN 'HOUSEHOLD' ELSE 'FURNITURE' END
                  AS c_mktsegment
         FROM (SELECT CAST(row_number() OVER (ORDER BY o_orderkey) AS INT)
                 AS k FROM tpch_orders) n WHERE k <= 1500""",
    "supplier" ->
      s"""SELECT CAST(k AS INT) AS s_suppkey,
                'Supplier#' || lpad(CAST(k AS STRING), 9, '0') AS s_name,
                'addr_s' || CAST(k AS STRING) AS s_address,
                substring(${nationCase("(k * 11)")}
                  || '         ', 1, 9) || $cityDigit AS s_city,
                ${nationCase("(k * 11)")} AS s_nation,
                ${regionCase("(k * 11)")} AS s_region,
                CAST(10 + (k * 11) % 25 AS STRING) || '-' ||
                  lpad(CAST((k * 97) % 1000 AS STRING), 3, '0') AS s_phone
         FROM (SELECT CAST(row_number() OVER (ORDER BY o_orderkey) AS INT)
                 AS k FROM tpch_orders) n WHERE k <= 100""",
    "part" ->
      """SELECT CAST(k AS INT) AS p_partkey,
                'part_' || CAST(k AS STRING) AS p_name,
                'MFGR#' || CAST(1 + (k % 25) % 5 AS STRING) AS p_mfgr,
                'MFGR#' || CAST(1 + (k % 25) % 5 AS STRING)
                  || CAST(1 + CAST(floor((k % 25) / 5) AS INT) AS STRING)
                  AS p_category,
                'MFGR#' || CAST(1 + (k % 25) % 5 AS STRING)
                  || CAST(1 + CAST(floor((k % 25) / 5) AS INT) AS STRING)
                  || CAST(1 + (CAST(floor(k / 25) AS INT) * 7) % 40
                       AS STRING) AS p_brand1,
                CASE (k * 5) % 17 WHEN 0 THEN 'green'
                  WHEN 1 THEN 'chartreuse' WHEN 2 THEN 'chiffon'
                  WHEN 3 THEN 'chocolate' WHEN 4 THEN 'coral'
                  WHEN 5 THEN 'cornflower' WHEN 6 THEN 'cornsilk'
                  WHEN 7 THEN 'cream' WHEN 8 THEN 'cyan' WHEN 9 THEN 'dark'
                  WHEN 10 THEN 'deep' WHEN 11 THEN 'dim'
                  WHEN 12 THEN 'dodger' WHEN 13 THEN 'drab'
                  WHEN 14 THEN 'firebrick' WHEN 15 THEN 'floral'
                  ELSE 'frosted' END AS p_color,
                CASE (k * 13) % 6 WHEN 0 THEN 'STANDARD' WHEN 1 THEN 'SMALL'
                  WHEN 2 THEN 'MEDIUM' WHEN 3 THEN 'LARGE'
                  WHEN 4 THEN 'ECONOMY' ELSE 'PROMO' END AS p_type,
                CAST(1 + (k * 11) % 47 AS INT) AS p_size,
                CASE (k * 17) % 8 WHEN 0 THEN 'SM CASE' WHEN 1 THEN 'SM BOX'
                  WHEN 2 THEN 'MED BAG' WHEN 3 THEN 'MED BOX'
                  WHEN 4 THEN 'LG CASE' WHEN 5 THEN 'LG BOX'
                  WHEN 6 THEN 'WRAP CASE' ELSE 'JUMBO PKG' END
                  AS p_container
         FROM (SELECT CAST(row_number() OVER (ORDER BY o_orderkey) AS INT)
                 AS k FROM tpch_orders) n WHERE k <= 600""",
    "lineorder" ->
      """SELECT l_orderkey AS lo_orderkey,
                l_linenumber AS lo_linenumber,
                CAST(1 + (l_orderkey * 13) % 1500 AS INT) AS lo_custkey,
                CAST(1 + (l_partkey * 17 + l_orderkey * 5 + l_linenumber)
                     % 600 AS INT) AS lo_partkey,
                CAST(1 + (l_orderkey * 3 + l_linenumber * 7
                          + l_partkey * 11) % 100 AS INT) AS lo_suppkey,
                CAST(year(dt) * 10000 + month(dt) * 100 + day(dt) AS INT)
                  AS lo_orderdate,
                CASE (l_orderkey * 11) % 5 WHEN 0 THEN '1-URGENT'
                  WHEN 1 THEN '2-HIGH' WHEN 2 THEN '3-MEDIUM'
                  WHEN 3 THEN '4-NOT SPECIFIED' ELSE '5-LOW' END
                  AS lo_orderpriority,
                CAST((l_orderkey + l_linenumber) % 2 AS INT)
                  AS lo_shippriority,
                CAST(1 + (s * 11) % 50 AS DOUBLE) AS lo_quantity,
                CAST(100 + (s * 23) % 55000 AS DOUBLE) AS lo_extendedprice,
                CAST(850 + (l_orderkey * 397) % 555000 AS DOUBLE)
                  AS lo_ordtotalprice,
                CAST((s * 13) % 11 AS DOUBLE) AS lo_discount,
                CAST(1000 + (s * 37) % 60000 AS DOUBLE) AS lo_revenue,
                CAST(100 + (s * 41) % 1000 AS DOUBLE) AS lo_supplycost,
                CAST((s * 7) % 9 AS DOUBLE) AS lo_tax,
                CAST(year(dt2) * 10000 + month(dt2) * 100 + day(dt2) AS INT)
                  AS lo_commitdate,
                CASE (s * 19) % 7 WHEN 0 THEN 'MAIL' WHEN 1 THEN 'SHIP'
                  WHEN 2 THEN 'AIR' WHEN 3 THEN 'AIR REG' WHEN 4 THEN 'RAIL'
                  WHEN 5 THEN 'TRUCK' ELSE 'FOB' END AS lo_shipmode
         FROM (SELECT l_orderkey, l_partkey, l_linenumber,
                      l_orderkey * 7 + l_linenumber AS s,
                      CASE WHEN l_orderkey % 17 = 0
                        THEN DATE '1997-12-01'
                          + CAST((l_orderkey * 257) % 31 AS INT)
                        ELSE DATE '1992-01-01'
                          + CAST((l_orderkey * 257) % 2556 AS INT) END AS dt,
                      DATE '1992-01-01'
                        + CAST((l_orderkey * 257) % 2556 AS INT)
                        + CAST(15 + ((l_orderkey * 7 + l_linenumber) * 7)
                            % 76 AS INT) AS dt2
               FROM tpch_lineitem) b""")

  /** the denormalized star from orders and lineitem, lineorder its fact,
    * with CBO join reordering. No file opens with WITH or a comment, and
    * none emits a dialect-unstable column (the unaliased `sum(lo_revenue)`
    * auto-names identically), so no shim applies. */
  val corpus: Corpus = Corpus(
    name = "ssb",
    tag = "ssbv",
    queryNames = Seq("1.1", "1.2", "1.3", "2.1", "2.2", "2.3", "3.1", "3.2",
      "3.3", "3.4", "4.1", "4.2", "4.3"),
    baseTables = Seq("orders", "lineitem"),
    fixtures = fixtures,
    largestFact = "lineorder",
    joinReorder = true,
    renames = Map.empty,
    oracleRenames = Set.empty,
    dualRound = Map.empty,
    oracleCasts = Map.empty,
    bodyFixes = Map.empty)
}
