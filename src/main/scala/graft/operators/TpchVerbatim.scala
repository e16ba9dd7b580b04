package graft.operators

/** VERBATIM TPC-H query texts — the reference's PRIMARY benchmark corpus
  * (reference: native-sql-engine/core/src/test/resources/tpch/q1.sql..
  * q22.sql, runner core/src/test/scala/.../tpc/h/TPCHSuite.scala, CI
  * workflow .github/workflows/tpch.yml:62-83) — run END TO END, character
  * for character, over a derived micro-schema: the [[Corpus]] mechanism
  * over the full 8-table TPC-H schema.
  *
  * The existing [[Tpch]]/[[TpchFull]] rows keep the ADAPTED texts (they
  * exercise the same planner shapes against the raw fixture parquet and
  * stay the scale-shape set); this object is the "a reference user can run
  * their exact queries" surface: all 22 files ship unmodified under
  * resources/tpch-verbatim/ and every one is a green CORRECTNESS row.
  *
  * Fixture mechanics (the [[Corpus]] contract): each TPC-H
  * table is ONE dialect-portable SQL text over `tpch_*`-aliased base
  * parquet tables — the same text registers the Spark views AND becomes a
  * WITH-prefix on the DuckDB oracle, so both engines derive byte-identical
  * fixtures and the driver's hash compare stays exact. Determinism rules:
  *   - every SUMMED measure is an integer-valued DOUBLE, except the TPC-H
  *     rate columns which are exact BINARY fractions: l_discount ∈
  *     {0, 1/32, 2/32, 3/32} (2/32 = .0625 lands inside q6's literal
  *     [.05, .07] band), l_tax ∈ {0, 1/16, 2/16}, and l_extendedprice is a
  *     multiple of 512 = 2^9 — so the texts' own expressions
  *     `l_extendedprice * (1 - l_discount) [* (1 + l_tax)]` and
  *     `l_extendedprice * l_discount` are all integer-valued (or
  *     half-integer) doubles: their sums are EXACT under any accumulation
  *     order on both engines, and avg/ratio outputs are a single identical
  *     IEEE division on identical operands.
  *   - all dates are real DATEs built with `DATE '1992-01-01' + n` (date +
  *     int-days is portable); the texts' `date '…' + interval` arithmetic
  *     resolves to the same midnight instants on both engines.
  *   - attribute mods use pairwise-coprime multipliers/moduli (25-lane
  *     brands, %47 sizes, %149 types, %37 containers, %13/%17 name words)
  *     so every literal predicate combination in the 22 texts lands on
  *     real rows — TpchVerbatimSpec pins rows>0 per query at the sf0.01
  *     gate scale, and the LIMIT queries' sort keys were checked tie-free
  *     at their cut boundaries (q3/q10/q18: no duplicate key at the
  *     cutoff, so truncation is deterministic on both engines).
  *   - partsupp is the part×4-supplier grid `ps_suppkey = 1 + (3p + 29j) %
  *     100`, and fixture lineitem derives l_suppkey with the SAME formula,
  *     so every (l_partkey, l_suppkey) pair resolves in partsupp (q9's
  *     5-way join and q20's correlated availqty probe hit real rows).
  *
  * Comparator shims (names/oracle side only — the Spark side runs the
  * verbatim bytes untouched):
  *   - [[oracleCasts]]: q12's `sum(CASE..1..0)` outputs are BIGINT in
  *     Spark but HUGEINT→float64 through DuckDB's pandas bridge; q3/q18
  *     emit o_orderdate, a DATE, which DuckDB's bridge renders as a
  *     timestamp — both normalized with `SELECT * REPLACE` casts on the
  *     ORACLE side (BIGINT / VARCHAR), values untouched.
  */
object TpchVerbatim {

  /** (view name, portable defining SQL) — each a pure function of the
    * `tpch_*` base-table aliases (no fixture-to-fixture references, so the
    * same strings materialize on Spark and prefix the DuckDB oracle). */
  private val fixtures: Seq[(String, String)] = Seq(
    "region" ->
      """SELECT CAST(k - 1 AS INT) AS r_regionkey,
                CASE k - 1 WHEN 0 THEN 'AFRICA' WHEN 1 THEN 'AMERICA'
                     WHEN 2 THEN 'ASIA' WHEN 3 THEN 'EUROPE'
                     ELSE 'MIDDLE EAST' END AS r_name
         FROM (SELECT CAST(row_number() OVER (ORDER BY o_orderkey) AS INT)
                 AS k FROM tpch_orders) n WHERE k <= 5""",
    "nation" ->
      """SELECT CAST(k - 1 AS INT) AS n_nationkey,
                CASE k - 1
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
                  ELSE 'UNITED STATES' END AS n_name,
                CASE k - 1
                  WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 2 THEN 1 WHEN 3 THEN 1
                  WHEN 4 THEN 4 WHEN 5 THEN 0 WHEN 6 THEN 3 WHEN 7 THEN 3
                  WHEN 8 THEN 2 WHEN 9 THEN 2 WHEN 10 THEN 4 WHEN 11 THEN 4
                  WHEN 12 THEN 2 WHEN 13 THEN 4 WHEN 14 THEN 0 WHEN 15 THEN 0
                  WHEN 16 THEN 0 WHEN 17 THEN 1 WHEN 18 THEN 2 WHEN 19 THEN 3
                  WHEN 20 THEN 4 WHEN 21 THEN 2 WHEN 22 THEN 3 WHEN 23 THEN 3
                  ELSE 1 END AS n_regionkey
         FROM (SELECT CAST(row_number() OVER (ORDER BY o_orderkey) AS INT)
                 AS k FROM tpch_orders) n WHERE k <= 25""",
    "supplier" ->
      """SELECT CAST(k AS INT) AS s_suppkey,
                'Supplier#' || lpad(CAST(k AS STRING), 9, '0') AS s_name,
                CAST((k * 7) % 25 AS INT) AS s_nationkey,
                'addr_s' || CAST(k AS STRING) AS s_address,
                CAST(10 + (k * 7) % 25 AS STRING) || '-' ||
                  lpad(CAST((k * 97) % 1000 AS STRING), 3, '0') || '-' ||
                  lpad(CAST((k * 31) % 1000 AS STRING), 3, '0') || '-' ||
                  lpad(CAST((k * 11) % 10000 AS STRING), 4, '0') AS s_phone,
                CAST(((k * 937) % 10999) - 999 AS DOUBLE) AS s_acctbal,
                CASE WHEN k % 19 = 3
                  THEN 'slyly bold Customer pending Complaints detect'
                  ELSE 'quiet deposits haggle furiously supplier ' ||
                       CAST(k % 37 AS STRING) END AS s_comment
         FROM (SELECT CAST(row_number() OVER (ORDER BY o_orderkey) AS INT)
                 AS k FROM tpch_orders) n WHERE k <= 100""",
    "part" ->
      """SELECT CAST(k AS INT) AS p_partkey,
                CASE (k * 3) % 13
                  WHEN 0 THEN 'forest' WHEN 1 THEN 'almond'
                  WHEN 2 THEN 'antique' WHEN 3 THEN 'aquamarine'
                  WHEN 4 THEN 'azure' WHEN 5 THEN 'beige'
                  WHEN 6 THEN 'bisque' WHEN 7 THEN 'black'
                  WHEN 8 THEN 'blanched' WHEN 9 THEN 'blue'
                  WHEN 10 THEN 'blush' WHEN 11 THEN 'brown'
                  ELSE 'burlywood' END || ' ' ||
                CASE (k * 5) % 17
                  WHEN 0 THEN 'green' WHEN 1 THEN 'chartreuse'
                  WHEN 2 THEN 'chiffon' WHEN 3 THEN 'chocolate'
                  WHEN 4 THEN 'coral' WHEN 5 THEN 'cornflower'
                  WHEN 6 THEN 'cornsilk' WHEN 7 THEN 'cream'
                  WHEN 8 THEN 'cyan' WHEN 9 THEN 'dark'
                  WHEN 10 THEN 'deep' WHEN 11 THEN 'dim'
                  WHEN 12 THEN 'dodger' WHEN 13 THEN 'drab'
                  WHEN 14 THEN 'firebrick' WHEN 15 THEN 'floral'
                  ELSE 'frosted' END AS p_name,
                'Manufacturer#' || CAST(1 + (k % 25) % 5 AS STRING)
                  AS p_mfgr,
                'Brand#' || CAST(1 + (k % 25) % 5 AS STRING) ||
                  CAST(1 + CAST(floor((k % 25) / 5) AS INT) AS STRING)
                  AS p_brand,
                CASE CAST(((k * 13) % 149) % 6 AS INT)
                  WHEN 0 THEN 'STANDARD' WHEN 1 THEN 'SMALL'
                  WHEN 2 THEN 'MEDIUM' WHEN 3 THEN 'LARGE'
                  WHEN 4 THEN 'ECONOMY' ELSE 'PROMO' END
                || ' ' ||
                CASE CAST(floor(((k * 13) % 149) / 6) AS INT) % 5
                  WHEN 0 THEN 'ANODIZED' WHEN 1 THEN 'BURNISHED'
                  WHEN 2 THEN 'PLATED' WHEN 3 THEN 'POLISHED'
                  ELSE 'BRUSHED' END
                || ' ' ||
                CASE CAST(floor(((k * 13) % 149) / 30) AS INT)
                  WHEN 0 THEN 'TIN' WHEN 1 THEN 'NICKEL' WHEN 2 THEN 'BRASS'
                  WHEN 3 THEN 'STEEL' ELSE 'COPPER' END AS p_type,
                CASE k % 25
                  WHEN 5 THEN CAST(1 + (k * 3) % 5 AS INT)
                  WHEN 11 THEN CAST(1 + (k * 3) % 10 AS INT)
                  WHEN 17 THEN CAST(1 + (k * 3) % 15 AS INT)
                  ELSE CAST(1 + (k * 11) % 47 AS INT) END AS p_size,
                CASE k % 25
                  WHEN 5 THEN 'SM ' || CASE (k * 7) % 4 WHEN 0 THEN 'CASE'
                    WHEN 1 THEN 'BOX' WHEN 2 THEN 'PACK' ELSE 'PKG' END
                  WHEN 11 THEN 'MED ' || CASE (k * 7) % 4 WHEN 0 THEN 'BAG'
                    WHEN 1 THEN 'BOX' WHEN 2 THEN 'PKG' ELSE 'PACK' END
                  WHEN 17 THEN 'LG ' || CASE (k * 7) % 4 WHEN 0 THEN 'CASE'
                    WHEN 1 THEN 'BOX' WHEN 2 THEN 'PACK' ELSE 'PKG' END
                  ELSE CASE ((k * 17) % 37) % 5 WHEN 0 THEN 'SM'
                         WHEN 1 THEN 'MED' WHEN 2 THEN 'LG'
                         WHEN 3 THEN 'JUMBO' ELSE 'WRAP' END
                       || ' ' ||
                       CASE CAST(floor(((k * 17) % 37) / 5) AS INT)
                         WHEN 0 THEN 'CASE' WHEN 1 THEN 'BOX'
                         WHEN 2 THEN 'BAG' WHEN 3 THEN 'JUMBO'
                         WHEN 4 THEN 'PKG' WHEN 5 THEN 'PACK'
                         WHEN 6 THEN 'CAN' ELSE 'DRUM' END END
                  AS p_container,
                CAST(900 + (k * 53) % 200 AS DOUBLE) AS p_retailprice
         FROM (SELECT CAST(row_number() OVER (ORDER BY o_orderkey) AS INT)
                 AS k FROM tpch_orders) n WHERE k <= 2000""",
    "partsupp" ->
      """SELECT CAST(1 + CAST(floor((k - 1) / 4) AS INT) AS INT)
                  AS ps_partkey,
                CAST(1 + (CAST(1 + floor((k - 1) / 4) AS INT) * 3
                          + 29 * CAST((k - 1) % 4 AS INT)) % 100 AS INT)
                  AS ps_suppkey,
                CAST(1 + (k * 31) % 9999 AS INT) AS ps_availqty,
                CAST(1 + (CAST(1 + floor((k - 1) / 4) AS INT) * 7
                          + CAST((k - 1) % 4 AS INT) * 11) % 1000 AS DOUBLE)
                  AS ps_supplycost,
                'even instructions above the requests detect ' ||
                  CAST(k % 41 AS STRING) AS ps_comment
         FROM (SELECT CAST(row_number() OVER (ORDER BY o_orderkey) AS INT)
                 AS k FROM tpch_orders) n WHERE k <= 8000""",
    "customer" ->
      """SELECT CAST(k AS INT) AS c_custkey,
                'Customer#' || lpad(CAST(k AS STRING), 9, '0') AS c_name,
                CAST((k * 7) % 25 AS INT) AS c_nationkey,
                CAST(((k * 937) % 10999) - 999 AS DOUBLE) AS c_acctbal,
                CASE (k * 3) % 5 WHEN 0 THEN 'BUILDING'
                  WHEN 1 THEN 'AUTOMOBILE' WHEN 2 THEN 'MACHINERY'
                  WHEN 3 THEN 'HOUSEHOLD' ELSE 'FURNITURE' END
                  AS c_mktsegment,
                'addr_c' || CAST(k AS STRING) AS c_address,
                CAST(10 + (k * 7) % 25 AS STRING) || '-' ||
                  lpad(CAST((k * 97) % 1000 AS STRING), 3, '0') || '-' ||
                  lpad(CAST((k * 31) % 1000 AS STRING), 3, '0') || '-' ||
                  lpad(CAST((k * 11) % 10000 AS STRING), 4, '0') AS c_phone,
                'regular accounts sleep quickly ' || CAST(k % 37 AS STRING)
                  AS c_comment
         FROM (SELECT CAST(row_number() OVER (ORDER BY o_orderkey) AS INT)
                 AS k FROM tpch_orders) n WHERE k <= 1500""",
    "orders" ->
      """SELECT o_orderkey,
                CAST(1 + (o_orderkey * 13)
                     % (100 + (o_orderkey * 29) % 900) AS INT) AS o_custkey,
                CASE (o_orderkey * 7) % 3 WHEN 0 THEN 'F' WHEN 1 THEN 'O'
                  ELSE 'P' END AS o_orderstatus,
                CAST(850 + (o_orderkey * 397) % 555000 AS DOUBLE)
                  AS o_totalprice,
                DATE '1992-01-01' + CAST((o_orderkey * 257) % 2406 AS INT)
                  AS o_orderdate,
                CASE (o_orderkey * 11) % 5 WHEN 0 THEN '1-URGENT'
                  WHEN 1 THEN '2-HIGH' WHEN 2 THEN '3-MEDIUM'
                  WHEN 3 THEN '4-NOT SPECIFIED' ELSE '5-LOW' END
                  AS o_orderpriority,
                'Clerk#' || lpad(CAST(1 + o_orderkey % 1000 AS STRING),
                                 9, '0') AS o_clerk,
                CAST(0 AS INT) AS o_shippriority,
                CASE (o_orderkey * 19) % 8
                  WHEN 0 THEN 'special pending requests haggle blithely'
                  WHEN 1 THEN 'express requests nag carefully'
                  ELSE 'carefully final deposits wake ' ||
                       CAST(o_orderkey % 43 AS STRING) END AS o_comment
         FROM tpch_orders""",
    "lineitem" ->
      """SELECT l_orderkey,
                CAST(1 + (l_partkey * 17 + l_orderkey * 5 + l_linenumber)
                     % 2000 AS BIGINT) AS l_partkey,
                CAST(1 + ((1 + (l_partkey * 17 + l_orderkey * 5
                                + l_linenumber) % 2000) * 3
                          + 29 * ((l_orderkey + l_linenumber) % 4)) % 100
                  AS BIGINT) AS l_suppkey,
                l_linenumber,
                CASE WHEN l_orderkey % 53 = 0
                  THEN CAST(44 + (s * 11) % 7 AS DOUBLE)
                  ELSE CAST(1 + (s * 11) % 50 AS DOUBLE) END AS l_quantity,
                CAST(512 * (1 + (s * 23) % 1999) AS DOUBLE)
                  AS l_extendedprice,
                CASE (s * 13) % 4 WHEN 0 THEN CAST(0.0 AS DOUBLE)
                  WHEN 1 THEN CAST(0.03125 AS DOUBLE)
                  WHEN 2 THEN CAST(0.0625 AS DOUBLE)
                  ELSE CAST(0.09375 AS DOUBLE) END AS l_discount,
                CASE (s * 29) % 3 WHEN 0 THEN CAST(0.0 AS DOUBLE)
                  WHEN 1 THEN CAST(0.0625 AS DOUBLE)
                  ELSE CAST(0.125 AS DOUBLE) END AS l_tax,
                l_returnflag,
                l_linestatus,
                od + CAST(1 + (s * 3) % 121 AS INT) AS l_shipdate,
                od + CAST(15 + (s * 7) % 76 AS INT) AS l_commitdate,
                od + CAST(1 + (s * 3) % 121 AS INT)
                   + CAST(1 + (s * 17) % 30 AS INT) AS l_receiptdate,
                CASE (s * 31) % 4 WHEN 0 THEN 'DELIVER IN PERSON'
                  WHEN 1 THEN 'COLLECT COD' WHEN 2 THEN 'NONE'
                  ELSE 'TAKE BACK RETURN' END AS l_shipinstruct,
                CASE (s * 19) % 7 WHEN 0 THEN 'MAIL' WHEN 1 THEN 'SHIP'
                  WHEN 2 THEN 'AIR' WHEN 3 THEN 'AIR REG' WHEN 4 THEN 'RAIL'
                  WHEN 5 THEN 'TRUCK' ELSE 'FOB' END AS l_shipmode,
                'quickly bold packages cajole ' || CAST(s % 59 AS STRING)
                  AS l_comment
         FROM (SELECT l_orderkey, l_partkey, l_linenumber, l_returnflag,
                      l_linestatus,
                      l_orderkey * 7 + l_linenumber AS s,
                      DATE '1992-01-01'
                        + CAST((l_orderkey * 257) % 2406 AS INT) AS od
               FROM tpch_lineitem) b""")

  /** Oracle-side `SELECT * REPLACE` casts (see object scaladoc): applied
    * around the untouched verbatim text on the DuckDB side only. */
  private val oracleCasts: Map[String, Seq[(String, String)]] = Map(
    // sum(CASE..1..0) = BIGINT in Spark, HUGEINT→float64 via pandas
    "q12" -> Seq("high_line_count" -> "BIGINT", "low_line_count" -> "BIGINT"),
    // DATE outputs: Spark parquet date renders 'YYYY-MM-DD', DuckDB's
    // pandas bridge renders a midnight timestamp — stringify the oracle
    "q3" -> Seq("o_orderdate" -> "VARCHAR"),
    "q18" -> Seq("o_orderdate" -> "VARCHAR"))

  /** Fixtures derive from orders and lineitem; lineitem is the schema's
    * largest fact. CBO join REORDERING is off
    * for this corpus (stats-based join STRATEGY sizing via cbo.enabled
    * stays on): measured at x30/x100 (tools.ScaleBench, min over >=2 runs),
    * the reorderer's row-count estimates over the replicated fixture
    * invert q5 into a suppliers-x-customers-per-nation explosion (5.3 s vs
    * 2.0 s at x100) and double q8/q9 at x30 (1.60/1.62 s vs 0.79/0.88 s);
    * at bench scale the section reads 6.2-7.3 s vs 8.2-9.2 s across 5
    * interleaved runs. The texts' written join order (the spec's own) is
    * the better plan at every measured factor. TPC-DS/SSB keep reordering
    * on - measured there, the A/B is inside the noise band and their pins
    * predate r13. */
  val corpus: Corpus = Corpus(
    name = "tpch",
    tag = "tpchv",
    queryNames = (1 to 22).map(i => s"q$i"),
    baseTables = Seq("orders", "lineitem"),
    fixtures = fixtures,
    largestFact = "lineitem",
    joinReorder = false,
    renames = Map.empty,
    oracleRenames = Set.empty,
    dualRound = Map.empty,
    oracleCasts = oracleCasts,
    bodyFixes = Map.empty)
}
