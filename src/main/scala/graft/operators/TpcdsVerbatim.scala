package graft.operators

/** VERBATIM TPC-DS query texts over a derived micro-schema — the round-10
  * upgrade of [[TpcdsShapes]] (which pins the COMPOSITE planner shapes
  * ds1–ds99 exercise), widened in round 11 from 14 to the full
  * dialect-stable subset of the reference's 103 query files
  * (reference corpus: native-sql-engine/core/src/test/resources/tpcds/;
  * the texts ship unmodified under resources/tpcds-verbatim/ and run
  * END TO END, character for character, against a deterministic
  * TPC-DS-shaped fixture synthesized from the existing TPC-H-ish parquet
  * tables at query time).
  *
  * Fixture mechanics: each TPC-DS table is ONE dialect-portable SQL text
  * over `tpch_*`-aliased base tables — the same text registers the Spark
  * temp views AND becomes a WITH-prefix on the DuckDB oracle, so both
  * engines derive byte-identical fixtures from the same parquet and the
  * driver's hash compare stays exact. Attributes are arithmetic
  * derivations of the base keys (modular skews; plain `%` and CASE
  * ladders both engines fold identically); ALL measures — money,
  * quantities, inventory levels — are INTEGER-VALUED DOUBLES (exact
  * under any summation order below 2^53, and — unlike DECIMAL or a
  * summed INT — they round-trip the driver comparator identically on
  * both sides: DuckDB's sum(INTEGER) comes back to pandas as float64,
  * so an int measure would hash-mismatch '123' vs '123.0').
  * Ratio/avg outputs (q12/q20/q36/q98-class) stay exact too: sums of
  * integer-valued doubles are order-independent, and the final IEEE
  * division is a single deterministic operation on identical operands.
  * The facts scale with the sf dir (~60k rows per sales channel at
  * sf0.01) and every selected query returns rows there
  * (TpcdsVerbatimSpec pins that).
  *
  * Query selection: every text whose OUTPUT columns are dialect-stable —
  * counts, exact integer-double sums/avgs/ratios, strings, keys.
  * Excluded classes (census in PORTING.md): explicit
  * `cast(... as decimal)` arithmetic in the SELECT list (Spark renders
  * the wider decimal, DuckDB's decimal→pandas comes back float64 —
  * q61/q90-class), `avg(cast(x as decimal(12,2)))` (Spark rounds at the
  * decimal result scale, DuckDB averages in binary — q18-class),
  * stddev outputs (non-exact arithmetic, merge-order-sensitive —
  * q17/q35/q39-class), and DATE-typed output columns (pandas
  * date-vs-timestamp rendering).
  *
  * Two documented harness shims keep the SPARK side 100% verbatim while
  * making the cross-engine comparator type-stable (both act on names /
  * the oracle only, never on Spark-side values):
  *   - [[renames]]: unaliased aggregate outputs get engine-specific
  *     auto-names (Spark `count(1)` vs DuckDB `count_star()`); the
  *     comparator matches columns BY NAME, so those few outputs are
  *     renamed to the DuckDB spelling after the verbatim text has run.
  *   - [[oracleCasts]]: `sum(CASE..THEN 1 ELSE 0)` outputs are BIGINT in
  *     Spark but HUGEINT→float64 via DuckDB's pandas bridge; the oracle
  *     wraps in `SELECT * REPLACE (CAST(col AS BIGINT) ...)` so both
  *     sides render '123'. Backtick-quoted aliases (Spark dialect) are
  *     mechanically rewritten to ANSI double quotes on the ORACLE side
  *     only.
  */
object TpcdsVerbatim {

  /** (view name, portable defining SQL) in dependency order; `tpch_*`
    * aliases keep the oracle's WITH-prefix from self-shadowing the base
    * parquet tables. */
  private val fixtures: Seq[(String, String)] = Seq(
    "date_dim" ->
      """SELECT i AS d_date_sk,
                CAST(1998 + (i % 5) AS INT) AS d_year,
                CAST(1 + CAST(floor((i - 1) / 125) AS INT) % 12 AS INT)
                  AS d_moy,
                CAST(day(dt) AS INT) AS d_dom,
                CAST(i % 7 AS INT) AS d_dow,
                CAST(1175 + (i % 5) * 12 + 1
                     + CAST(floor((i - 1) / 125) AS INT) % 12 AS INT)
                  AS d_month_seq,
                CAST(100 + floor(i / 7.0) AS INT) AS d_week_seq,
                CAST(1 + floor((CAST(floor((i - 1) / 125) AS INT) % 12)
                               / 3.0) AS INT) AS d_qoy,
                CASE CAST(i % 7 AS INT)
                  WHEN 0 THEN 'Sunday' WHEN 1 THEN 'Monday'
                  WHEN 2 THEN 'Tuesday' WHEN 3 THEN 'Wednesday'
                  WHEN 4 THEN 'Thursday' WHEN 5 THEN 'Friday'
                  ELSE 'Saturday' END AS d_day_name,
                CAST(1998 + (i % 5) AS STRING) || 'Q' ||
                  CAST(CAST(1 + floor((CAST(floor((i - 1) / 125) AS INT)
                    % 12) / 3.0) AS INT) AS STRING) AS d_quarter_name,
                dt AS d_date
         FROM (SELECT i,
                      make_date(1998 + (i % 5),
                                1 + CAST(floor((i - 1) / 125) AS INT) % 12,
                                least(
                                  CASE CAST(floor(i / 5) AS INT) % 25
                                    WHEN 20 THEN 22 WHEN 21 THEN 24
                                    WHEN 22 THEN 26 WHEN 23 THEN 27
                                    WHEN 24 THEN 30
                                    ELSE 1 + CAST(floor(i / 5) AS INT) % 25
                                  END,
                                  day(last_day(make_date(
                                    1998 + (i % 5),
                                    1 + CAST(floor((i - 1) / 125) AS INT)
                                      % 12, 1))))) AS dt
               FROM (SELECT CAST(row_number() OVER (ORDER BY o_orderkey)
                              AS INT) AS i
                     FROM tpch_orders) n0
               WHERE i <= 1500) n""",
    "time_dim" ->
      """SELECT CAST(p_partkey AS INT) AS t_time_sk,
                CAST(p_partkey % 24 AS INT) AS t_hour,
                CAST((p_partkey * 7) % 60 AS INT) AS t_minute,
                CAST((p_partkey % 24) * 3600 + ((p_partkey * 7) % 60) * 60
                  AS INT) AS t_time,
                CASE WHEN p_partkey % 24 BETWEEN 6 AND 8 THEN 'breakfast'
                     WHEN p_partkey % 24 BETWEEN 17 AND 19 THEN 'dinner'
                END AS t_meal_time
         FROM tpch_part WHERE p_partkey BETWEEN 1 AND 200""",
    "household_demographics" ->
      """SELECT CAST(p_partkey AS INT) AS hd_demo_sk,
                CAST(p_partkey % 8 AS INT) AS hd_dep_count,
                CAST(p_partkey % 5 AS INT) AS hd_vehicle_count,
                CAST(1 + (p_partkey % 20) AS INT) AS hd_income_band_sk,
                CASE CAST(p_partkey % 4 AS INT) WHEN 0 THEN '>10000'
                     WHEN 1 THEN 'unknown' WHEN 2 THEN '5001-10000'
                     ELSE 'Unknown' END
                  AS hd_buy_potential
         FROM tpch_part WHERE p_partkey BETWEEN 1 AND 20""",
    "income_band" ->
      """SELECT CAST(p_partkey AS INT) AS ib_income_band_sk,
                CAST((p_partkey - 1) * 10000 AS INT) AS ib_lower_bound,
                CAST(p_partkey * 10000 AS INT) AS ib_upper_bound
         FROM tpch_part WHERE p_partkey BETWEEN 1 AND 20""",
    "reason" ->
      """SELECT CAST(p_partkey AS INT) AS r_reason_sk,
                'reason ' || CAST(20 + p_partkey AS STRING) AS r_reason_desc
         FROM tpch_part WHERE p_partkey BETWEEN 1 AND 10""",
    "promotion" ->
      """SELECT CAST(p_partkey AS INT) AS p_promo_sk,
                CASE CAST(p_partkey % 2 AS INT)
                  WHEN 0 THEN 'Y' ELSE 'N' END AS p_channel_dmail,
                CASE CAST(p_partkey % 3 AS INT)
                  WHEN 0 THEN 'Y' ELSE 'N' END AS p_channel_email,
                CASE CAST(p_partkey % 5 AS INT)
                  WHEN 0 THEN 'Y' ELSE 'N' END AS p_channel_tv,
                CASE CAST(p_partkey % 4 AS INT)
                  WHEN 0 THEN 'Y' ELSE 'N' END AS p_channel_event
         FROM tpch_part WHERE p_partkey BETWEEN 1 AND 10""",
    "warehouse" ->
      """SELECT CAST(p_partkey AS INT) AS w_warehouse_sk,
                'Warehouse number ' || CAST(p_partkey AS STRING)
                  AS w_warehouse_name,
                CASE CAST(p_partkey % 3 AS INT) WHEN 0 THEN 'TN'
                     WHEN 1 THEN 'OH' ELSE 'GA' END AS w_state,
                CAST(1000 * p_partkey AS INT) AS w_warehouse_sq_ft,
                CASE CAST(p_partkey % 2 AS INT) WHEN 0 THEN 'Midway'
                  ELSE 'Fairview' END AS w_city,
                CASE CAST(p_partkey % 2 AS INT)
                  WHEN 0 THEN 'Williamson County'
                  ELSE 'Orange County' END AS w_county,
                'United States' AS w_country
         FROM tpch_part WHERE p_partkey BETWEEN 1 AND 5""",
    "ship_mode" ->
      """SELECT CAST(p_partkey AS INT) AS sm_ship_mode_sk,
                CASE CAST(p_partkey % 5 AS INT) WHEN 0 THEN 'EXPRESS'
                     WHEN 1 THEN 'NEXT DAY' WHEN 2 THEN 'OVERNIGHT'
                     WHEN 3 THEN 'REGULAR' ELSE 'LIBRARY' END AS sm_type,
                CASE CAST(p_partkey % 4 AS INT) WHEN 0 THEN 'DHL'
                     WHEN 1 THEN 'BARIAN' WHEN 2 THEN 'UPS'
                     ELSE 'FEDEX' END AS sm_carrier
         FROM tpch_part WHERE p_partkey BETWEEN 1 AND 20""",
    "web_site" ->
      """SELECT CAST(p_partkey AS INT) AS web_site_sk,
                'WS' || CAST(p_partkey AS STRING) AS web_site_id,
                'site_' || CAST(p_partkey % 4 AS STRING) AS web_name,
                CASE CAST(p_partkey % 2 AS INT)
                  WHEN 0 THEN 'pri' ELSE 'ally' END AS web_company_name
         FROM tpch_part WHERE p_partkey BETWEEN 1 AND 12""",
    "call_center" ->
      """SELECT CAST(s_suppkey AS INT) AS cc_call_center_sk,
                'CC' || CAST(s_suppkey AS STRING) AS cc_call_center_id,
                'call center ' || CAST(s_suppkey AS STRING) AS cc_name,
                'Manager ' || CAST(s_suppkey AS STRING) AS cc_manager,
                CASE CAST(s_suppkey % 2 AS INT)
                  WHEN 0 THEN 'Williamson County'
                  ELSE 'Orange County' END AS cc_county,
                CASE CAST(s_suppkey % 3 AS INT) WHEN 0 THEN 'small'
                     WHEN 1 THEN 'medium' ELSE 'large' END AS cc_class
         FROM tpch_supplier WHERE s_suppkey BETWEEN 1 AND 6""",
    "catalog_page" ->
      """SELECT CAST(p_partkey AS INT) AS cp_catalog_page_sk,
                'CP' || CAST(p_partkey AS STRING) AS cp_catalog_page_id
         FROM tpch_part WHERE p_partkey BETWEEN 1 AND 100""",
    "web_page" ->
      """SELECT CAST(p_partkey AS INT) AS wp_web_page_sk,
                CAST(4000 + (p_partkey * 173) % 2600 AS INT)
                  AS wp_char_count
         FROM tpch_part WHERE p_partkey BETWEEN 1 AND 30""",
    "store" ->
      """SELECT CAST(s_suppkey AS INT) AS s_store_sk,
                CASE CAST(s_suppkey % 2 AS INT)
                  WHEN 0 THEN 'ese' ELSE 'able' END AS s_store_name,
                'S' || lpad(CAST(s_suppkey AS STRING), 4, '0') AS s_store_id,
                'TN' AS s_state,
                CASE CAST(s_suppkey % 2 AS INT)
                  WHEN 0 THEN 'Williamson County'
                  ELSE 'Orange County' END AS s_county,
                CASE CAST(s_suppkey % 2 AS INT)
                  WHEN 0 THEN 'Midway' ELSE 'Fairview' END AS s_city,
                CAST(190 + s_suppkey * 18 AS INT) AS s_number_employees,
                CASE CAST(s_suppkey % 2 AS INT) WHEN 0 THEN '24128'
                  ELSE '76232' END AS s_zip,
                CAST(5 + s_suppkey % 6 AS INT) AS s_market_id,
                CAST(s_suppkey % 2 AS INT) AS s_company_id,
                CASE CAST(s_suppkey % 2 AS INT)
                  WHEN 0 THEN 'cally' ELSE 'ought' END AS s_company_name,
                CAST(-5.0 AS DOUBLE) AS s_gmt_offset,
                CAST(100 + s_suppkey * 37 AS STRING) AS s_street_number,
                CASE CAST(s_suppkey % 3 AS INT) WHEN 0 THEN 'Main'
                     WHEN 1 THEN 'Oak' ELSE 'Park' END AS s_street_name,
                CASE CAST(s_suppkey % 3 AS INT) WHEN 0 THEN 'Blvd'
                     WHEN 1 THEN 'Ave' ELSE 'Ln' END AS s_street_type,
                'Suite ' || CAST(s_suppkey * 10 AS STRING) AS s_suite_number
         FROM tpch_supplier WHERE s_suppkey BETWEEN 1 AND 6""",
    "item" ->
      """SELECT CAST(p_partkey AS INT) AS i_item_sk,
                'I' || lpad(CAST(p_partkey AS STRING), 6, '0') AS i_item_id,
                'prod_' || CAST(p_partkey AS STRING) AS i_product_name,
                'desc_' || CAST(p_partkey % 97 AS STRING) AS i_item_desc,
                CASE CAST(p_partkey % 50 AS INT)
                  WHEN 0 THEN 'amalgimporto #1'
                  WHEN 8 THEN 'edu packscholar #1'
                  WHEN 40 THEN 'exportiimporto #1'
                  WHEN 44 THEN 'scholaramalgamalg #14'
                  WHEN 27 THEN 'scholaramalgamalg #7'
                  ELSE 'Brand#' || CAST(1 + p_partkey % 25 AS STRING)
                END AS i_brand,
                CAST(1 + p_partkey % 25 AS INT) AS i_brand_id,
                CASE CAST(p_partkey % 20 AS INT)
                  WHEN 0 THEN 128 WHEN 1 THEN 977 WHEN 2 THEN 350
                  WHEN 3 THEN 677 WHEN 4 THEN 940 WHEN 5 THEN 694
                  WHEN 6 THEN 808 WHEN 7 THEN 129 WHEN 8 THEN 270
                  WHEN 9 THEN 821
                  WHEN 10 THEN CAST(738 + p_partkey % 40 AS INT)
                  WHEN 11 THEN CAST(738 + p_partkey % 40 AS INT)
                  WHEN 12 THEN 423 WHEN 13 THEN 436
                  ELSE CAST(100 + p_partkey % 60 AS INT) END
                  AS i_manufact_id,
                'manu#' || CAST(p_partkey % 30 AS STRING) AS i_manufact,
                CASE CAST(p_partkey % 10 AS INT)
                  WHEN 0 THEN 'Women' WHEN 1 THEN 'Men'
                  WHEN 2 THEN 'Children' WHEN 3 THEN 'Sports'
                  WHEN 4 THEN 'Books' WHEN 5 THEN 'Home'
                  WHEN 6 THEN 'Jewelry' WHEN 7 THEN 'Electronics'
                  WHEN 8 THEN 'Music' ELSE 'Shoes' END AS i_category,
                CAST(1 + p_partkey % 10 AS INT) AS i_category_id,
                CASE CAST(floor(p_partkey / 16.0) AS INT) % 16
                  WHEN 0 THEN 'accessories' WHEN 1 THEN 'birdal'
                  WHEN 2 THEN 'classical' WHEN 3 THEN 'computers'
                  WHEN 4 THEN 'dresses' WHEN 5 THEN 'football'
                  WHEN 6 THEN 'fragrances' WHEN 7 THEN 'maternity'
                  WHEN 8 THEN 'pants' WHEN 9 THEN 'personal'
                  WHEN 10 THEN 'portable' WHEN 11 THEN 'reference'
                  WHEN 12 THEN 'refernece' WHEN 13 THEN 'self-help'
                  WHEN 14 THEN 'shirts' ELSE 'stereo' END AS i_class,
                CAST(1 + CAST(floor(p_partkey / 16.0) AS INT) % 16 AS INT)
                  AS i_class_id,
                CAST(1 + p_partkey % 40 AS INT) AS i_manager_id,
                CASE WHEN p_partkey % 37 = 0 THEN CAST(1 AS DOUBLE)
                  ELSE CAST(p_partkey * 37 % 90 + 1 AS DOUBLE)
                END AS i_current_price,
                CAST(p_partkey * 23 % 50 + 1 AS DOUBLE)
                  AS i_wholesale_cost,
                CASE CAST(p_partkey % 80 AS INT)
                  WHEN 17 THEN 'slate' WHEN 34 THEN 'blanched'
                  WHEN 51 THEN 'burnished' WHEN 68 THEN 'burlywood'
                  WHEN 5 THEN 'chiffon' WHEN 22 THEN 'indian'
                  WHEN 39 THEN 'medium' WHEN 56 THEN 'pale'
                  WHEN 73 THEN 'purple' WHEN 10 THEN 'spring'
                  ELSE CASE CAST(p_partkey % 16 AS INT)
                    WHEN 0 THEN 'powder' WHEN 1 THEN 'khaki'
                    WHEN 2 THEN 'brown' WHEN 3 THEN 'honeydew'
                    WHEN 4 THEN 'floral' WHEN 5 THEN 'deep'
                    WHEN 6 THEN 'light' WHEN 7 THEN 'cornflower'
                    WHEN 8 THEN 'midnight' WHEN 9 THEN 'snow'
                    WHEN 10 THEN 'cyan' WHEN 11 THEN 'papaya'
                    WHEN 12 THEN 'orange' WHEN 13 THEN 'frosted'
                    WHEN 14 THEN 'forest' ELSE 'ghost' END
                END AS i_color,
                CASE CAST(p_partkey % 16 AS INT)
                  WHEN 0 THEN 'Ounce' WHEN 1 THEN 'Oz'
                  WHEN 2 THEN 'Bunch' WHEN 3 THEN 'Ton'
                  WHEN 4 THEN 'N/A' WHEN 5 THEN 'Dozen'
                  WHEN 6 THEN 'Box' WHEN 7 THEN 'Pound'
                  WHEN 8 THEN 'Pallet' WHEN 9 THEN 'Gross'
                  WHEN 10 THEN 'Cup' WHEN 11 THEN 'Dram'
                  WHEN 12 THEN 'Each' WHEN 13 THEN 'Tbl'
                  WHEN 14 THEN 'Lb' ELSE 'Bundle' END AS i_units,
                CASE CAST(p_partkey % 6 AS INT)
                  WHEN 0 THEN 'medium' WHEN 1 THEN 'extra large'
                  WHEN 2 THEN 'N/A' WHEN 3 THEN 'small'
                  WHEN 4 THEN 'petite' ELSE 'large' END AS i_size
         FROM tpch_part WHERE p_partkey BETWEEN 1 AND 400""",
    "customer_demographics" ->
      """SELECT CAST(k AS INT) AS cd_demo_sk,
                CASE CAST(k % 2 AS INT)
                  WHEN 0 THEN 'M' ELSE 'F' END AS cd_gender,
                CASE CAST(k % 5 AS INT) WHEN 0 THEN 'M' WHEN 1 THEN 'S'
                     WHEN 2 THEN 'D' WHEN 3 THEN 'W' ELSE 'U' END
                  AS cd_marital_status,
                CASE CAST(k % 6 AS INT)
                  WHEN 0 THEN 'Advanced Degree' WHEN 1 THEN 'Unknown'
                  WHEN 2 THEN 'College' WHEN 3 THEN '4 yr Degree'
                  WHEN 4 THEN '2 yr Degree' ELSE 'Primary' END
                  AS cd_education_status,
                CAST(500 * (1 + (k * 7) % 20) AS INT)
                  AS cd_purchase_estimate,
                CASE CAST((k * 3) % 4 AS INT) WHEN 0 THEN 'Good'
                     WHEN 1 THEN 'High Risk' WHEN 2 THEN 'Low Risk'
                     ELSE 'Unknown' END AS cd_credit_rating,
                CAST(k % 10 AS INT) AS cd_dep_count,
                CAST((k * 3) % 10 AS INT) AS cd_dep_employed_count,
                CAST((k * 7) % 10 AS INT) AS cd_dep_college_count
         FROM (SELECT CAST(row_number() OVER (ORDER BY o_orderkey) AS INT)
                        AS k FROM tpch_orders) n
         WHERE k <= 720""",
    "customer_address" ->
      """SELECT CAST(k AS INT) AS ca_address_sk,
                CASE CAST(k % 12 AS INT)
                  WHEN 0 THEN 'Edgewood' WHEN 1 THEN 'Fairview'
                  WHEN 2 THEN 'Midway' WHEN 3 THEN 'Salem'
                  WHEN 4 THEN 'Bethel' WHEN 5 THEN 'Clinton'
                  WHEN 6 THEN 'Greenville' WHEN 7 THEN 'Bridgeport'
                  WHEN 8 THEN 'Marion' WHEN 9 THEN 'Oakland'
                  WHEN 10 THEN 'Springdale' ELSE 'Union' END AS ca_city,
                CASE CAST(k % 23 AS INT)
                  WHEN 0 THEN 'TN' WHEN 1 THEN 'CA' WHEN 2 THEN 'NY'
                  WHEN 3 THEN 'TX' WHEN 4 THEN 'GA' WHEN 5 THEN 'OH'
                  WHEN 6 THEN 'IL' WHEN 7 THEN 'WA' WHEN 8 THEN 'KY'
                  WHEN 9 THEN 'NM' WHEN 10 THEN 'IN' WHEN 11 THEN 'NJ'
                  WHEN 12 THEN 'WI' WHEN 13 THEN 'CT' WHEN 14 THEN 'LA'
                  WHEN 15 THEN 'IA' WHEN 16 THEN 'AR' WHEN 17 THEN 'CO'
                  WHEN 18 THEN 'MN' WHEN 19 THEN 'MS' WHEN 20 THEN 'ND'
                  WHEN 21 THEN 'OK' ELSE 'VA' END AS ca_state,
                CASE CAST(k % 20 AS INT)
                  WHEN 0 THEN '76232' WHEN 1 THEN '24128'
                  WHEN 2 THEN '65084' WHEN 3 THEN '87816'
                  WHEN 4 THEN '83926' WHEN 5 THEN '85669'
                  WHEN 6 THEN '86197' WHEN 7 THEN '88274'
                  WHEN 8 THEN '83405' WHEN 9 THEN '86475'
                  ELSE CAST(10000 + (k * 37) % 90000 AS STRING) END
                  AS ca_zip,
                CASE CAST(k % 5 AS INT)
                  WHEN 0 THEN 'Rush County' WHEN 1 THEN 'Toole County'
                  WHEN 2 THEN 'Jefferson County'
                  WHEN 3 THEN 'Williamson County'
                  ELSE 'Orange County' END AS ca_county,
                'United States' AS ca_country,
                CAST(CASE CAST(k % 3 AS INT) WHEN 0 THEN -5
                     WHEN 1 THEN -7 ELSE -6 END AS DOUBLE) AS ca_gmt_offset,
                CASE CAST(k % 3 AS INT) WHEN 0 THEN 'condo'
                     WHEN 1 THEN 'single family' ELSE 'apartment' END
                  AS ca_location_type,
                CAST(100 + (k * 7) % 900 AS STRING) AS ca_street_number,
                CASE CAST(k % 8 AS INT) WHEN 0 THEN 'Main' WHEN 1 THEN 'Oak'
                     WHEN 2 THEN 'Elm' WHEN 3 THEN 'Park' WHEN 4 THEN 'Pine'
                     WHEN 5 THEN 'Maple' WHEN 6 THEN 'Cedar'
                     ELSE 'Lake' END AS ca_street_name,
                CASE CAST(k % 3 AS INT) WHEN 0 THEN 'Blvd'
                     WHEN 1 THEN 'Ave' ELSE 'Ln' END AS ca_street_type,
                'Suite ' || CAST((k * 10) % 990 AS STRING) AS ca_suite_number
         FROM (SELECT CAST(row_number() OVER (ORDER BY o_orderkey)
                           AS BIGINT) AS k FROM tpch_orders) n
         WHERE k <= 600""",
    "customer" ->
      """SELECT CAST(k AS INT) AS c_customer_sk,
                'CUST' || CAST(k AS STRING) AS c_customer_id,
                'F' || CAST(k % 23 AS STRING) AS c_first_name,
                'L' || CAST(k % 19 AS STRING) AS c_last_name,
                CASE CAST(k % 4 AS INT) WHEN 0 THEN 'Mr.'
                     WHEN 1 THEN 'Ms.' WHEN 2 THEN 'Dr.' ELSE 'Sir' END
                  AS c_salutation,
                CASE CAST(k % 2 AS INT)
                  WHEN 0 THEN 'Y' ELSE 'N' END AS c_preferred_cust_flag,
                CAST(1 + (k * 13) % 600 AS INT) AS c_current_addr_sk,
                CAST(1 + (k * 7) % 720 AS INT) AS c_current_cdemo_sk,
                CAST(1 + (k * 11) % 20 AS INT) AS c_current_hdemo_sk,
                CAST(1 + (k * 3) % 28 AS INT) AS c_birth_day,
                CAST(1 + (k * 5) % 12 AS INT) AS c_birth_month,
                CAST(1924 + (k % 69) AS INT) AS c_birth_year,
                CASE CAST(k % 4 AS INT) WHEN 0 THEN 'UNITED STATES'
                     WHEN 1 THEN 'CANADA' WHEN 2 THEN 'MEXICO'
                     ELSE 'BRAZIL' END AS c_birth_country,
                'login' || CAST(k % 50 AS STRING) AS c_login,
                'c' || CAST(k AS STRING) || '@example.com'
                  AS c_email_address,
                CAST(2452000 + (k % 365) AS STRING) AS c_last_review_date,
                CAST(1 + (k * 17) % 1500 AS INT) AS c_first_sales_date_sk,
                CAST(1 + (k * 19) % 1500 AS INT) AS c_first_shipto_date_sk
         FROM (SELECT CAST(row_number() OVER (ORDER BY o_orderkey)
                           AS BIGINT) AS k FROM tpch_orders) n
         WHERE k <= 1500""",
    "store_sales" ->
      """SELECT CASE WHEN l_orderkey % 13 = 0
                  THEN CAST(1 + (l_orderkey * 7 + l_linenumber) % 12 AS INT)
                  WHEN l_orderkey % 13 = 1
                  THEN CAST(1380 + ((l_orderkey * 7 + l_linenumber) % 12)
                            * 5 AS INT)
                  ELSE CAST(1 + (l_orderkey * 7 + l_linenumber) % 1500
                    AS INT) END AS ss_sold_date_sk,
                CAST(1 + (l_orderkey * 3 + l_linenumber) % 200 AS INT)
                  AS ss_sold_time_sk,
                CASE WHEN l_orderkey % 13 = 0
                  THEN CAST(1 + l_partkey % 15 AS INT)
                  WHEN l_orderkey % 13 = 1 THEN CAST(120 AS INT)
                  ELSE CAST(1 + l_partkey % 400 AS INT) END AS ss_item_sk,
                CAST(1 + l_orderkey % 500 AS INT) AS ss_customer_sk,
                CASE WHEN (l_orderkey * 31 + l_linenumber) % 97 = 0
                  THEN CAST(NULL AS INT)
                  ELSE CAST(1 + l_suppkey % 6 AS INT) END AS ss_store_sk,
                CAST(1 + l_partkey % 20 AS INT) AS ss_hdemo_sk,
                CAST(1 + (l_orderkey * 5 + l_linenumber
                          + l_partkey * 131) % 720 AS INT)
                  AS ss_cdemo_sk,
                CASE WHEN (l_orderkey * 37 + l_linenumber) % 83 = 0
                  THEN CAST(NULL AS INT)
                  ELSE CAST(1 + (l_orderkey + l_suppkey) % 600 AS INT)
                END AS ss_addr_sk,
                CAST(1 + (l_partkey + l_orderkey) % 10 AS INT)
                  AS ss_promo_sk,
                l_orderkey AS ss_ticket_number,
                CAST(q AS DOUBLE) AS ss_quantity,
                CAST(1 + (c * 7) % 998 AS DOUBLE) AS ss_ext_sales_price,
                CAST((c * 11) % 999 AS DOUBLE) AS ss_ext_list_price,
                CAST((c * 3) % 99 AS DOUBLE) AS ss_ext_tax,
                CAST(1 + (c * 5) % 198 AS DOUBLE) AS ss_sales_price,
                CAST((c * 2) % 99 AS DOUBLE) AS ss_coupon_amt,
                CAST(((c * 13) % 199) - 100 AS DOUBLE) AS ss_net_profit,
                CAST((c * 31) % 199 AS DOUBLE) AS ss_list_price,
                CAST((c * 17) % 999 AS DOUBLE) AS ss_net_paid,
                CAST((c * 19) % 99 AS DOUBLE) AS ss_wholesale_cost,
                CAST((c * 23) % 999 AS DOUBLE) AS ss_ext_wholesale_cost,
                CAST((c * 29) % 499 AS DOUBLE) AS ss_ext_discount_amt
         FROM (SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
                      CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS c,
                      CAST(round(l_quantity, 0) AS BIGINT) AS q
               FROM tpch_lineitem) b
         UNION ALL
         SELECT CAST(1 AS INT) AS ss_sold_date_sk,
                CAST(NULL AS INT) AS ss_sold_time_sk,
                CAST(999999 AS INT) AS ss_item_sk,
                CAST(1 + (t * 7) % 500 AS INT) AS ss_customer_sk,
                CAST(6 AS INT) AS ss_store_sk,
                CAST(12 AS INT) AS ss_hdemo_sk,
                CAST(NULL AS INT) AS ss_cdemo_sk,
                CAST(NULL AS INT) AS ss_addr_sk,
                CAST(NULL AS INT) AS ss_promo_sk,
                CAST(900000000 + t AS BIGINT) AS ss_ticket_number,
                CAST(99 AS DOUBLE) AS ss_quantity,
                CAST(1 + (t * 7 + j * 3) % 998 AS DOUBLE)
                  AS ss_ext_sales_price,
                CAST((t * 11 + j * 5) % 999 AS DOUBLE) AS ss_ext_list_price,
                CAST((t * 3 + j) % 99 AS DOUBLE) AS ss_ext_tax,
                CAST(1 + (t * 5 + j * 7) % 198 AS DOUBLE) AS ss_sales_price,
                CAST((t * 2 + j * 9) % 99 AS DOUBLE) AS ss_coupon_amt,
                CAST(((t * 13 + j * 11) % 199) - 100 AS DOUBLE)
                  AS ss_net_profit,
                CAST((t * 31 + j * 13) % 199 AS DOUBLE) AS ss_list_price,
                CAST((t * 17 + j * 19) % 999 AS DOUBLE) AS ss_net_paid,
                CAST((t * 19 + j * 23) % 99 AS DOUBLE) AS ss_wholesale_cost,
                CAST((t * 23 + j * 29) % 999 AS DOUBLE)
                  AS ss_ext_wholesale_cost,
                CAST((t * 29 + j * 31) % 499 AS DOUBLE)
                  AS ss_ext_discount_amt
         FROM (SELECT CAST(row_number() OVER (ORDER BY o_orderkey) AS INT)
                 AS t FROM tpch_orders) nt,
              (SELECT CAST(row_number() OVER (ORDER BY o_orderkey) AS INT)
                 AS j FROM tpch_orders) nj
         WHERE t <= 60 AND j <= 15 + (t % 6)""",
    "store_returns" ->
      """SELECT CAST(1 + (l_orderkey * 7 + l_linenumber
                          + (l_suppkey * 7) % 150) % 1500 AS INT)
                  AS sr_returned_date_sk,
                CAST(1 + l_orderkey % 500 AS INT) AS sr_customer_sk,
                CAST(1 + l_suppkey % 6 AS INT) AS sr_store_sk,
                CASE WHEN l_orderkey % 13 = 0
                  THEN CAST(1 + l_partkey % 15 AS INT)
                  WHEN l_orderkey % 13 = 1 THEN CAST(120 AS INT)
                  ELSE CAST(1 + l_partkey % 400 AS INT) END AS sr_item_sk,
                l_orderkey AS sr_ticket_number,
                CAST(1 + (l_orderkey * 5 + l_linenumber
                          + l_partkey * 131) % 720 AS INT)
                  AS sr_cdemo_sk,
                CAST(1 + (l_orderkey + l_linenumber) % 10 AS INT)
                  AS sr_reason_sk,
                CAST(CASE WHEN l_quantity > 3 THEN 2 ELSE 1 END AS DOUBLE)
                  AS sr_return_quantity,
                CASE WHEN (CAST(round(l_extendedprice * 100, 0) AS BIGINT)
                           * 3) % 89 = 0
                  THEN CAST(10001 + (CAST(round(l_extendedprice * 100, 0)
                         AS BIGINT) * 3) % 999 AS DOUBLE)
                  ELSE CAST((CAST(round(l_extendedprice * 100, 0) AS BIGINT)
                         * 3) % 999 AS DOUBLE) END AS sr_return_amt,
                CAST((CAST(round(l_extendedprice * 100, 0) AS BIGINT)
                       * 23) % 499 AS DOUBLE) AS sr_net_loss
         FROM tpch_lineitem WHERE l_returnflag = 'R'""",
    "catalog_sales" ->
      """SELECT CASE WHEN l_orderkey % 13 = 0
                  THEN CAST(1 + (l_orderkey * 7 + l_linenumber) % 12 AS INT)
                  WHEN l_orderkey % 13 = 1
                  THEN CAST(1380 + ((l_orderkey * 7 + l_linenumber) % 12)
                            * 5 AS INT)
                  ELSE CAST(1 + (l_orderkey * 7 + l_linenumber) % 1500
                    AS INT) END AS cs_sold_date_sk,
                CAST(1 + (l_orderkey * 7 + l_linenumber) % 200 AS INT)
                  AS cs_sold_time_sk,
                CAST(1 + ((l_orderkey * 5 + l_linenumber) % 1500
                          + (l_orderkey * 3 + l_partkey) % 120) % 1500
                  AS INT) AS cs_ship_date_sk,
                CASE WHEN l_orderkey % 13 = 0
                  THEN CAST(1 + l_partkey % 15 AS INT)
                  WHEN l_orderkey % 13 = 1 THEN CAST(120 AS INT)
                  ELSE CAST(1 + l_partkey % 400 AS INT) END AS cs_item_sk,
                CAST(1 + (l_orderkey * 3) % 500 AS INT)
                  AS cs_bill_customer_sk,
                CAST(1 + (l_orderkey * 7 + l_linenumber
                          + l_partkey * 131) % 720 AS INT)
                  AS cs_bill_cdemo_sk,
                CAST(1 + (l_orderkey * 11 + l_linenumber) % 600 AS INT)
                  AS cs_bill_addr_sk,
                CAST(301 + (l_orderkey * 11) % 900 AS INT)
                  AS cs_ship_customer_sk,
                CASE WHEN (l_orderkey * 29 + l_linenumber) % 89 = 0
                  THEN CAST(NULL AS INT)
                  ELSE CAST(1 + (l_orderkey * 17 + l_linenumber) % 600
                    AS INT) END AS cs_ship_addr_sk,
                CAST(1 + (l_orderkey + l_suppkey) % 6 AS INT)
                  AS cs_call_center_sk,
                CAST(1 + (l_orderkey * 9 + l_linenumber) % 20 AS INT)
                  AS cs_bill_hdemo_sk,
                CAST(1 + (l_orderkey * 3 + l_linenumber) % 20 AS INT)
                  AS cs_ship_mode_sk,
                CAST(1 + (l_orderkey + l_linenumber) % 5 AS INT)
                  AS cs_warehouse_sk,
                CAST(1 + (l_partkey + l_orderkey * 3) % 10 AS INT)
                  AS cs_promo_sk,
                CAST(1 + (l_orderkey * 13 + l_linenumber) % 100 AS INT)
                  AS cs_catalog_page_sk,
                l_orderkey AS cs_order_number,
                CAST(q AS DOUBLE) AS cs_quantity,
                CAST((c * 37) % 199 AS DOUBLE) AS cs_list_price,
                CAST((c * 41) % 199 AS DOUBLE) AS cs_sales_price,
                CAST(1 + (c * 7) % 998 AS DOUBLE) AS cs_ext_sales_price,
                CAST((c * 47) % 999 AS DOUBLE) AS cs_ext_list_price,
                CAST((c * 29) % 499 AS DOUBLE) AS cs_ext_discount_amt,
                CAST((c * 53) % 199 AS DOUBLE) AS cs_ext_ship_cost,
                CAST((c * 59) % 999 AS DOUBLE) AS cs_net_paid,
                CAST((c * 163) % 999 AS DOUBLE) AS cs_net_paid_inc_tax,
                CAST((c * 19) % 99 AS DOUBLE) AS cs_wholesale_cost,
                CAST((c * 23) % 999 AS DOUBLE) AS cs_ext_wholesale_cost,
                CAST(((c * 61) % 199) - 100 AS DOUBLE) AS cs_net_profit,
                CAST((c * 31) % 99 AS DOUBLE) AS cs_coupon_amt
         FROM (SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
                      CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS c,
                      CAST(round(l_quantity, 0) AS BIGINT) AS q
               FROM tpch_lineitem) b""",
    "catalog_returns" ->
      """SELECT CAST(1 + (l_orderkey * 9 + l_linenumber
                          + (l_suppkey * 11) % 150) % 1500 AS INT)
                  AS cr_returned_date_sk,
                CAST(1 + l_partkey % 400 AS INT) AS cr_item_sk,
                l_orderkey AS cr_order_number,
                CAST(1 + (l_orderkey * 17) % 1400 AS INT)
                  AS cr_returning_customer_sk,
                CAST(1 + (l_orderkey * 23 + l_linenumber) % 600 AS INT)
                  AS cr_returning_addr_sk,
                CAST(1 + (l_orderkey + l_suppkey) % 6 AS INT)
                  AS cr_call_center_sk,
                CAST(1 + (l_orderkey * 13 + l_linenumber) % 100 AS INT)
                  AS cr_catalog_page_sk,
                CAST(CASE WHEN l_quantity > 3 THEN 2 ELSE 1 END AS DOUBLE)
                  AS cr_return_quantity,
                CASE WHEN (c * 139) % 89 = 0
                  THEN CAST(10001 + (c * 139) % 999 AS DOUBLE)
                  ELSE CAST((c * 139) % 999 AS DOUBLE) END
                  AS cr_return_amount,
                CAST((c * 149) % 99 AS DOUBLE) AS cr_reversed_charge,
                CAST((c * 151) % 99 AS DOUBLE) AS cr_store_credit,
                CAST((c * 107) % 999 AS DOUBLE) AS cr_net_loss,
                CAST((c * 109) % 199 AS DOUBLE) AS cr_refunded_cash,
                CAST((c * 113) % 999 AS DOUBLE) AS cr_return_amt_inc_tax
         FROM (SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
                      l_quantity,
                      CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS c
               FROM tpch_lineitem WHERE l_returnflag = 'R') b""",
    "web_sales" ->
      """SELECT CASE WHEN l_orderkey % 13 = 0
                  THEN CAST(1 + (l_orderkey * 7 + l_linenumber) % 12 AS INT)
                  WHEN l_orderkey % 13 = 1
                  THEN CAST(1380 + ((l_orderkey * 7 + l_linenumber) % 12)
                            * 5 AS INT)
                  ELSE CAST(1 + (l_orderkey * 7 + l_linenumber) % 1500
                    AS INT) END AS ws_sold_date_sk,
                CAST(1 + (l_orderkey * 11 + l_linenumber + l_partkey * 3)
                     % 200 AS INT) AS ws_sold_time_sk,
                CAST(1 + ((l_orderkey * 9 + l_linenumber) % 1500
                          + (l_orderkey * 7 + l_partkey) % 120) % 1500
                  AS INT) AS ws_ship_date_sk,
                CASE WHEN l_orderkey % 13 = 0
                  THEN CAST(1 + l_partkey % 15 AS INT)
                  WHEN l_orderkey % 13 = 1 THEN CAST(120 AS INT)
                  ELSE CAST(1 + l_partkey % 400 AS INT) END AS ws_item_sk,
                CAST(401 + (l_orderkey * 13) % 1100 AS INT)
                  AS ws_bill_customer_sk,
                CAST(1 + (l_orderkey * 13 + l_linenumber) % 600 AS INT)
                  AS ws_bill_addr_sk,
                CASE WHEN (l_orderkey + l_linenumber) % 29 = 0
                  THEN CAST(NULL AS INT)
                  ELSE CAST(401 + (l_orderkey * 7) % 1100 AS INT)
                END AS ws_ship_customer_sk,
                CAST(1 + (l_orderkey * 19 + l_linenumber) % 600 AS INT)
                  AS ws_ship_addr_sk,
                CAST(1 + (l_orderkey * 3 + l_linenumber) % 20 AS INT)
                  AS ws_ship_hdemo_sk,
                CAST(1 + (l_orderkey * 7 + l_linenumber) % 30 AS INT)
                  AS ws_web_page_sk,
                CAST(1 + (l_orderkey * 5 + l_linenumber) % 12 AS INT)
                  AS ws_web_site_sk,
                CAST(1 + (l_orderkey * 7 + l_linenumber) % 20 AS INT)
                  AS ws_ship_mode_sk,
                CAST(1 + (l_orderkey * 3 + l_linenumber) % 5 AS INT)
                  AS ws_warehouse_sk,
                CAST(1 + (l_partkey * 3 + l_orderkey) % 10 AS INT)
                  AS ws_promo_sk,
                l_orderkey AS ws_order_number,
                CAST(q AS DOUBLE) AS ws_quantity,
                CAST((c * 67) % 199 AS DOUBLE) AS ws_sales_price,
                CAST(1 + (c * 7) % 998 AS DOUBLE) AS ws_ext_sales_price,
                CAST((c * 73) % 199 AS DOUBLE) AS ws_list_price,
                CAST((c * 101) % 999 AS DOUBLE) AS ws_ext_list_price,
                CAST((c * 79) % 499 AS DOUBLE) AS ws_ext_discount_amt,
                CAST((c * 83) % 199 AS DOUBLE) AS ws_ext_ship_cost,
                CAST((c * 89) % 999 AS DOUBLE) AS ws_net_paid,
                CAST((c * 163) % 999 AS DOUBLE) AS ws_net_paid_inc_tax,
                CAST((c * 19) % 99 AS DOUBLE) AS ws_wholesale_cost,
                CAST((c * 23) % 999 AS DOUBLE) AS ws_ext_wholesale_cost,
                CAST(((c * 97) % 399) - 100 AS DOUBLE) AS ws_net_profit
         FROM (SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
                      CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS c,
                      CAST(round(l_quantity, 0) AS BIGINT) AS q
               FROM tpch_lineitem) b""",
    "web_returns" ->
      """SELECT CAST(1 + (l_orderkey * 11 + l_linenumber
                          + (l_suppkey * 13) % 150) % 1500 AS INT)
                  AS wr_returned_date_sk,
                CAST(1 + l_partkey % 400 AS INT) AS wr_item_sk,
                l_orderkey AS wr_order_number,
                CAST(1 + (l_orderkey * 19) % 1300 AS INT)
                  AS wr_returning_customer_sk,
                CAST(1 + (l_orderkey * 29 + l_linenumber) % 600 AS INT)
                  AS wr_returning_addr_sk,
                CAST(1 + (l_orderkey * 31 + l_linenumber) % 600 AS INT)
                  AS wr_refunded_addr_sk,
                CAST(1 + (l_orderkey * 7 + l_linenumber
                          + l_partkey * 131) % 720 AS INT)
                  AS wr_refunded_cdemo_sk,
                CAST(1 + (l_orderkey * 7 + l_linenumber
                          + l_partkey * 131) % 720 AS INT)
                  AS wr_returning_cdemo_sk,
                CAST(1 + (l_orderkey + l_partkey) % 10 AS INT)
                  AS wr_reason_sk,
                CAST(1 + (l_orderkey * 7 + l_linenumber) % 30 AS INT)
                  AS wr_web_page_sk,
                CAST(CASE WHEN l_quantity > 3 THEN 2 ELSE 1 END AS DOUBLE)
                  AS wr_return_quantity,
                CAST((c * 127) % 99 AS DOUBLE) AS wr_fee,
                CASE WHEN (c * 131) % 89 = 0
                  THEN CAST(10001 + (c * 131) % 999 AS DOUBLE)
                  ELSE CAST((c * 131) % 999 AS DOUBLE) END AS wr_return_amt,
                CAST((c * 137) % 999 AS DOUBLE) AS wr_refunded_cash,
                CAST((c * 157) % 499 AS DOUBLE) AS wr_net_loss
         FROM (SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
                      l_quantity,
                      CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS c
               FROM tpch_lineitem WHERE l_returnflag = 'A') b""",
    "inventory" ->
      """SELECT inv_date_sk, inv_item_sk, inv_warehouse_sk,
                CASE WHEN inv_item_sk % 97 = 0 THEN
                  CASE WHEN CAST(floor(((inv_date_sk - 1) % 125) / 35)
                         AS INT) = (inv_item_sk + inv_warehouse_sk) % 4
                    THEN CAST(600 AS DOUBLE)
                    ELSE CAST((inv_date_sk * 13 + inv_item_sk * 7
                               + inv_warehouse_sk * 11) % 17 AS DOUBLE) END
                ELSE
                  CAST((inv_date_sk * 13 + inv_item_sk * 7
                        + inv_warehouse_sk * 11) % 600 AS DOUBLE)
                END AS inv_quantity_on_hand
         FROM (SELECT DISTINCT
                 CAST(1 + ((l_orderkey * 13 + l_linenumber) % 210) * 7
                   AS INT) AS inv_date_sk,
                 CAST(1 + l_partkey % 400 AS INT) AS inv_item_sk,
                 CAST(1 + (l_suppkey + l_linenumber) % 2 AS INT)
                   AS inv_warehouse_sk
               FROM tpch_lineitem
               UNION
               SELECT CAST(1 + ((d - 1) % 210) * 7 AS INT) AS inv_date_sk,
                      CAST(i * 97 AS INT) AS inv_item_sk,
                      CAST(w AS INT) AS inv_warehouse_sk
               FROM (SELECT CAST(row_number() OVER (ORDER BY o_orderkey)
                       AS INT) AS d FROM tpch_orders) nd,
                    (SELECT CAST(row_number() OVER (ORDER BY o_orderkey)
                       AS INT) AS i FROM tpch_orders) ni,
                    (SELECT CAST(row_number() OVER (ORDER BY o_orderkey)
                       AS INT) AS w FROM tpch_orders) nw
               WHERE d <= 210 AND i <= 4 AND w <= 2) b""")

  /** round-10 set */
  private val wave1: Seq[String] = Seq("q1", "q3", "q6", "q19", "q41",
    "q42", "q52", "q55", "q65", "q68", "q73", "q79", "q88", "q96")

  /** round-11 tranche: every remaining text whose outputs are
    * dialect-stable over the widened micro-schema (PORTING.md carries the
    * full 103-query census with per-exclusion reasons). */
  private val wave2: Seq[String] = Seq(
    "q2", "q7", "q8", "q9", "q12", "q13", "q15", "q16", "q20", "q21",
    "q22", "q25", "q26", "q27", "q28", "q29", "q30", "q32", "q33", "q36",
    "q37", "q38", "q40", "q43", "q44", "q45", "q46", "q47", "q48", "q50",
    "q53", "q56", "q57", "q59", "q60", "q62", "q63", "q67", "q69", "q70",
    "q71", "q76", "q81", "q82", "q84", "q85", "q86", "q87", "q89", "q91",
    "q92", "q93", "q94", "q95", "q97", "q98", "q99",
    "q4", "q5", "q10", "q11", "q14a", "q14b", "q23a", "q23b", "q24a",
    "q24b", "q31", "q35", "q51", "q54", "q58", "q64", "q66", "q72",
    "q74", "q75", "q77", "q78", "q80",
    // unlocked by the round-11 real-calendar date_dim grid: day-of-month
    // comes from a 25-value template {1..20,22,24,26,27,30} with last_day
    // clamping (PORTING.md §q83), so q83's literal day-30 dates and their
    // d_week_seq-mates are real rows; the old 28-day-month grid could not
    // hold them
    "q83",
    // from the reference's SECOND corpus (tpcds-modifiedQueries/): the
    // one file there with no tpcds/ original — counts/maxes over
    // store_sales (the other 20 are adjudicated in PORTING.md)
    "ss_max")

  /** round-12 tranche: 7 of the 8 texts round-11 excluded for
    * dialect-unstable OUTPUT columns (stddev / decimal-division /
    * decimal-avg rendering), unlocked by [[dualRound]] — a `round(col, 4)
    * → DOUBLE` wrapper applied IDENTICALLY to both engines around the
    * untouched verbatim text (both round doubles half-away-from-zero,
    * probed). Four fixture deltas feed this tranche: date_dim gained
    * d_quarter_name (q17's join key); the three returns tables gained a
    * ~1% `% 89` lane of >10000 amounts (q49's `_return_amt > 10000`
    * filters select nothing in a 0..998 range); every 97th item's
    * inventory is date-densified (a union'd 210-date x 2-warehouse grid)
    * and skewed — values 0..16 with EXACTLY ONE 600-spike per
    * (item, warehouse, month) bucket, so every lane group's cov lands
    * ≈1.9 and q39's `stdev/mean > 1 / > 1.5` filters keep real groups,
    * while q37/q82's `BETWEEN 100 AND 500` band stays populated by the
    * other 96/97ths of items; and ws_sold_time_sk gained an l_partkey term
    * (its old (orderkey, linenumber)-only form was mod-20-locked to
    * ws_ship_hdemo_sk, making q90's hour x dep-count joint EMPTY — the
    * 0/0 ratio errored under ANSI). */
  private val wave3: Seq[String] =
    Seq("q17", "q18", "q39a", "q39b", "q49", "q61", "q90")

  /** round-13: q34, the last census hole — its `cnt BETWEEN 15 AND 20`
    * ticket filter needs ticket lengths the base ss derivation caps at
    * TPC-H's 7 lines per order. Unlocked by a dedicated high-multiplicity
    * ticket LANE union'd onto store_sales (the q83 calendar-grid
    * precedent: extend the fixture where a literal filter outruns the
    * base-data shape): 60 tickets of exactly 15 + t%6 lines each, in a
    * disjoint ticket-number space (9e8 + t, no l_orderkey collision →
    * the q25/q29/q50/q93 ss⋈sr ticket join identity is untouched), all
    * sharing one dim combination that passes q34's every predicate
    * (date_sk 1 → d_dom 1/d_year 1999; store 6 → 'Williamson County';
    * hdemo 12 → '>10000', 4 deps / 2 vehicles = 2.0 > 1.2). The lane is
    * deliberately INVISIBLE to the rest of the corpus where a filter
    * could cut a ticket partially: item/cdemo/addr/promo/time keys are
    * NULL or out-of-range (every item-joining text drops it whole),
    * ss_quantity = 99 sits above q28's 0-30 bands, store 6's 298
    * employees sits outside q79's 200-295 band, and q73's `cnt BETWEEN 1
    * AND 5` can't admit a 15-20-line ticket. Texts that do aggregate the
    * lane (ss_max, q43/q59/q70-class store rollups, q23's per-customer
    * sums) recompute identically on both engines — measures stay
    * integer-valued doubles per the fixture determinism rules. */
  private val wave4: Seq[String] = Seq("q34")

  /** Comparator-rendering shims (see the scaladoc above): unaliased
    * aggregates whose AUTO-NAMES differ between engines — the verbatim
    * Spark result is renamed to the DuckDB spelling (names only, the
    * values are untouched). */
  private val renames: Map[String, Seq[String]] = Map(
    "q96" -> Seq("count_star()"),
    "q38" -> Seq("count_star()"),
    "q87" -> Seq("count_star()"),
    "q14b" -> Seq("ty_channel", "ty_brand_id", "ty_class_id",
      "ty_category_id", "ty_sales", "ty_number_sales", "ly_channel",
      "ly_brand_id", "ly_class_id", "ly_category_id", "ly_sales",
      "ly_number_sales"),
    "q64" -> Seq("product_name", "store_name", "store_zip",
      "b_street_number", "b_streen_name", "b_city", "b_zip",
      "c_street_number", "c_street_name", "c_city", "c_zip", "syear",
      "cnt", "s1", "s2", "s3", "s1_2", "s2_2", "s3_2", "syear_2",
      "cnt_2"),
    // q39's SELECT repeats inv1/inv2 columns (duplicate names; parquet
    // and the name-keyed comparator can't carry them) and q61's ratio
    // expression is unaliased (engine-specific auto-names)
    "q39a" -> Seq("w_warehouse_sk", "i_item_sk", "d_moy", "mean", "cov",
      "w_warehouse_sk_2", "i_item_sk_2", "d_moy_2", "mean_2", "cov_2"),
    "q39b" -> Seq("w_warehouse_sk", "i_item_sk", "d_moy", "mean", "cov",
      "w_warehouse_sk_2", "i_item_sk_2", "d_moy_2", "mean_2", "cov_2"),
    "q61" -> Seq("promotions", "total", "promo_ratio"))

  /** Oracle-side positional column renames mirroring [[renames]] for the
    * SELECT-*-with-duplicate-names queries (DuckDB subquery aliasing
    * `FROM (...) t(c1, ...)`). */
  private val oracleRenames: Set[String] =
    Set("q14b", "q64", "q39a", "q39b", "q61")

  /** DUAL-SIDE value shim for the round-12 tranche: the named columns are
    * wrapped `CAST(round(col, 4) AS DOUBLE)` on BOTH engines — the same
    * mechanical-shim class as [[oracleCasts]], except it must touch values
    * because these outputs are non-exact by construction: stddev_samp is
    * merge-order-sensitive float arithmetic (q17/q39), and Spark renders
    * decimal division/avg at the exact widened scale while DuckDB's
    * decimal→pandas bridge yields float64 (q18/q49/q61/q90). Rounding to
    * 4 digits absorbs the ≲1e-10-relative disagreement; both engines
    * break .00005 ties identically (half-away-from-zero, probed), and the
    * exact-arithmetic rows (q18/q49/q61/q90) are deterministic once green.
    * Columns that are already exact (counts, integer-double avgs, ranks)
    * are NOT rounded. */
  private val dualRound: Map[String, Seq[String]] = Map(
    "q17" -> Seq("store_sales_quantitystdev", "store_sales_quantitycov",
      "as_store_returns_quantitystdev", "store_returns_quantitycov",
      "catalog_sales_quantitystdev", "catalog_sales_quantitycov"),
    "q18" -> Seq("agg1", "agg2", "agg3", "agg4", "agg5", "agg6", "agg7"),
    "q39a" -> Seq("cov", "cov_2"),
    "q39b" -> Seq("cov", "cov_2"),
    "q49" -> Seq("return_ratio"),
    "q61" -> Seq("promo_ratio"),
    "q90" -> Seq("am_pm_ratio"))

  /** Oracle-side type normalization: (column, DuckDB type) casts applied
    * via `SELECT * REPLACE` around the oracle — for `sum(CASE..1..0)`
    * outputs, where Spark's BIGINT and DuckDB's HUGEINT render
    * differently through pandas ('123' vs '123.0'). Spark side stays
    * fully verbatim. */
  private val oracleCasts: Map[String, Seq[(String, String)]] = {
    val dayBuckets = Seq("30 days ", "31 - 60 days ", "61 - 90 days ",
      "91 - 120 days ", ">120 days ").map(_ -> "BIGINT")
    Map(
      "q50" -> dayBuckets,
      "q62" -> dayBuckets,
      "q99" -> dayBuckets,
      "q97" -> Seq("store_only" -> "BIGINT", "catalog_only" -> "BIGINT",
        "store_and_catalog" -> "BIGINT"),
      "q14a" -> Seq("sum(number_sales)" -> "BIGINT"),
      "q51" -> Seq("d_date" -> "VARCHAR"))
  }

  /** Oracle-side text fixes: literal (from → to) rewrites applied to the
    * verbatim body on the DuckDB side only, where DuckDB's binder or
    * grammar rejects the Spark-dialect spelling. */
  private val bodyFixes: Map[String, Seq[(String, String)]] = Map(
    "q58" -> Seq("ORDER BY item_id" -> "ORDER BY ss_items.item_id"),
    "q54" -> Seq(
      "cast((revenue / 50) AS INT)" -> "cast(floor(revenue / 50) AS INT)"),
    // bare d_week_seq is ambiguous to DuckDB's binder (d1/d3 in scope)
    "q72" -> Seq(
      "w_warehouse_name, d_week_seq" -> "w_warehouse_name, d1.d_week_seq"),
    // `returns` is a DuckDB reserved word; quote the alias (same
    // column NAME either way, so the comparator is unaffected)
    "q77" -> Seq(
      // order matters: quote the standalone alias forms before the
      // coalesce-inner references they contain
      "coalesce(returns, 0) returns," ->
        "coalesce(returns, 0) \"returns\",",
      "AS returns," -> "AS \"returns\",",
      "sum(returns)" -> "sum(\"returns\")",
      "coalesce(returns, 0)" -> "coalesce(\"returns\", 0)",
      "     returns,\n" -> "     \"returns\",\n"))

  /** The fixtures derive from the TPC-H orders, lineitem, part and
    * supplier tables. The fact fixtures are lineitem-linear; materializing
    * them makes the verbatim queries scan the micro-schema exactly how
    * TPC-DS is run against real tables, with CBO join reordering on.
    * store_sales is the largest fact. */
  val corpus: Corpus = Corpus(
    name = "tpcds",
    tag = "tpcds",
    queryNames = wave1 ++ wave2 ++ wave3 ++ wave4,
    baseTables = Seq("orders", "lineitem", "part", "supplier"),
    fixtures = fixtures,
    largestFact = "store_sales",
    joinReorder = true,
    renames = renames,
    oracleRenames = oracleRenames,
    dualRound = dualRound,
    oracleCasts = oracleCasts,
    bodyFixes = bodyFixes)
}
