package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.engine.Tables

/** Relational capability queries over the driver testdata.
  *
  * The reference pipeline itself is deliberately join-free and agg-light —
  * its only analytical queries are DuckDB count / group-by / limit over the
  * ingested tables (reference: demos/duckdb.tape:10-34,
  * src/duckdb/.duckdbrc:19-26). These queries declare the full relational
  * surface of the engine (SURVEY.md §2.5-2.9): aggregations, all join
  * shapes, window functions, sorts and top-k, set operations, rollup,
  * pivot, sessionization and as-of alignment.
  *
  * Scale notes (100 TB design): only genuinely bounded dimension sides are
  * explicitly `broadcast(...)` (region 5 rows, nation 25, supplier 1e4·SF —
  * small even at the 100x design point); SF-proportional relations
  * (customer 1.5e5·SF, part 2e5·SF) carry NO hint — a forced broadcast of
  * those is an executor OOM at scale, so AQE decides from runtime sizes;
  * fact-fact joins (orders x lineitem) shuffle on the join key and rely on
  * AQE for skew/coalesce; windows partition by high-cardinality keys
  * (supplier, user) so state is bounded per partition; top-k goes through
  * the planner's TakeOrderedAndProject (orderBy.limit), never a global
  * sort of the full relation.
  */
object Relational extends QueryPack {
  import Q._

  private val GapUs = 21600000000L // 6h session gap, in epoch micros

  /** Basket-size cap for mine_brand_lift's within-order pair join: an
    * order with more than this many distinct brands is dropped before
    * pairing (enforced by Scale.capHotKeys, mirrored in the oracle) —
    * one mega-basket would otherwise turn its block quadratic, and a
    * basket spanning the whole catalog carries no affinity signal.
    * Inert at TPC-H (brand domain is 25).
    */
  private val MaxBasketBrands = 64

  /** Cornish-Fisher quantile estimates from merged raw power sums
    * (columns n, s1, s2, s3) — ONE identical expression string in both
    * dialects (explicit DOUBLE casts, source-text-fixed association).
    * est_q = mean + std * (z_q + skew/6 * (z_q^2 - 1)); z_50 = 0,
    * z_90 = 1.2815515655446004.
    */
  private val MomMean = "(s1 / CAST(n AS DOUBLE))"
  private val MomStd =
    s"sqrt(s2 / CAST(n AS DOUBLE) - $MomMean * $MomMean)"
  private val MomSkew =
    s"((s3 / CAST(n AS DOUBLE) - 3.0 * $MomMean * (s2 / CAST(n AS DOUBLE)) " +
      s"+ 2.0 * $MomMean * $MomMean * $MomMean) / ($MomStd * $MomStd * $MomStd))"
  private val MomP50 = s"($MomMean - $MomStd * $MomSkew / 6.0)"
  private val MomP90 =
    s"($MomMean + $MomStd * (1.2815515655446004 + $MomSkew / 6.0 * " +
      "(1.2815515655446004 * 1.2815515655446004 - 1.0)))"

  def defs: Map[String, QueryDef] = Map(
    // ---- aggregation ----------------------------------------------------
    "q1_pricing_summary" -> QueryDef(
      (s, d) => {
        Tables.lineitem(s, d)
          .filter(col("l_shipdate") <= ts("2000-06-30 00:00:00"))
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            round(sum(col("l_quantity")), 2).as("sum_qty"),
            round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
            round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("sum_disc_price"),
            round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))), 2).as("sum_charge"),
            round(avg(col("l_quantity")), 4).as("avg_qty"),
            round(avg(col("l_extendedprice")), 4).as("avg_price"),
            round(avg(col("l_discount")), 4).as("avg_disc"),
            count(lit(1)).as("count_order"))
          .orderBy(col("l_returnflag"), col("l_linestatus"))
      },
      Some("""
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               round(sum(l_extendedprice), 2) AS sum_base_price,
               round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
               round(sum(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)), 2) AS sum_charge,
               round(avg(l_quantity), 4) AS avg_qty,
               round(avg(l_extendedprice), 4) AS avg_price,
               round(avg(l_discount), 4) AS avg_disc,
               CAST(count(*) AS BIGINT) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2000-06-30 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus""")),

    "agg_stats_orders" -> QueryDef(
      (s, d) => {
        Tables.orders(s, d)
          .groupBy(col("o_orderstatus"))
          .agg(
            count(lit(1)).as("n_orders"),
            min(col("o_totalprice")).as("min_price"),
            max(col("o_totalprice")).as("max_price"),
            round(avg(col("o_totalprice")), 4).as("avg_price"),
            round(stddev_samp(col("o_totalprice")), 2).as("sd_price"))
          .orderBy(col("o_orderstatus"))
      },
      Some("""
        SELECT o_orderstatus,
               CAST(count(*) AS BIGINT) AS n_orders,
               min(o_totalprice) AS min_price,
               max(o_totalprice) AS max_price,
               round(avg(o_totalprice), 4) AS avg_price,
               round(stddev_samp(o_totalprice), 2) AS sd_price
        FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    "agg_distinct_parts" -> QueryDef(
      (s, d) => {
        Tables.lineitem(s, d)
          .groupBy(col("l_returnflag"))
          .agg(
            countDistinct(col("l_partkey")).as("n_parts"),
            countDistinct(col("l_suppkey")).as("n_supps"),
            count(lit(1)).as("n_rows"))
          .orderBy(col("l_returnflag"))
      },
      Some("""
        SELECT l_returnflag,
               CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
               CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supps,
               CAST(count(*) AS BIGINT) AS n_rows
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // Distributed sufficient statistics — the map-side-combinable moments
    // (n, Σx, Σy, Σxy, Σx², Σy²) every downstream corr/covar/regression
    // derives from. Emitted as exact integers (quantity is integral,
    // price scales to cents) instead of calling corr() directly: the
    // final division is one client-side op, while the heavy distributed
    // part stays bit-exact and order-free on both engines.
    "agg_suffstats_lineitem" -> QueryDef(
      (s, d) => {
        Tables.lineitem(s, d)
          .select(col("l_returnflag"),
            col("l_quantity").cast("long").as("x"),
            expr(Q.scaledLong("l_extendedprice", 2)).as("y"))
          .groupBy(col("l_returnflag"))
          // product sums accumulate as DECIMAL(38,0): a BIGINT Σy² in
          // cents overflows (and under ANSI, throws) past ~sf1 — the
          // wide-decimal accumulator is the 100 TB-safe path, matching
          // DuckDB's automatic HUGEINT sum
          .agg(count(lit(1)).as("n"),
            sum(col("x")).as("sx"), sum(col("y")).as("sy"),
            sum((col("x") * col("y")).cast("decimal(38,0)")).cast("long").as("sxy"),
            sum((col("x") * col("x")).cast("decimal(38,0)")).cast("long").as("sxx"),
            sum((col("y") * col("y")).cast("decimal(38,0)")).cast("long").as("syy"))
          .orderBy(col("l_returnflag"))
      },
      Some(s"""
        SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * y) AS BIGINT) AS sxy,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(y * y) AS BIGINT) AS syy
        FROM (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS x,
                     ${Q.scaledLong("l_extendedprice", 2)} AS y
              FROM lineitem) t
        GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // Pairwise Pearson correlation MATRIX over the lineitem numerics in
    // ONE aggregation pass: all ten sufficient statistics (counts, sums,
    // squares, cross-moments) fold in a single map-side-combinable
    // aggregate over one scan — never one pass per pair — and the 1-row
    // result pivots row-locally into the three (x, y) pairs. Inputs are
    // small scaled integers (quantity units, discount/tax in 1e-2 units),
    // so every statistic is BIGINT-exact and the final correlation is a
    // single division of exact integers (< 2^53, so the DOUBLE conversion
    // is lossless and sqrt/div are correctly rounded IEEE ops in both
    // engines), emitted per the scaled-BIGINT exit policy.
    //
    // Scale shape: one scan + one partial/final agg of a 10-number state
    // — the same cost as a count(*), at any corpus size; the pair count
    // grows the state quadratically in #variables, never the data cost.
    "stats_corr_matrix" -> QueryDef(
      (s, d) => {
        def corrE6(n: String, sx: String, sy: String,
                   sxx: String, syy: String, sxy: String) = Q.scaledLong(
          s"CAST($n * $sxy - $sx * $sy AS DOUBLE) / " +
            s"(sqrt(CAST($n * $sxx - $sx * $sx AS DOUBLE)) * " +
            s"sqrt(CAST($n * $syy - $sy * $sy AS DOUBLE)))", 6)
        Tables.lineitem(s, d)
          .select(col("l_quantity").cast("long").as("q"),
            expr(Q.scaledLong("l_discount", 2)).as("dd"),
            expr(Q.scaledLong("l_tax", 2)).as("tt"))
          .agg(count(lit(1)).as("n"),
            sum(col("q")).as("sq"), sum(col("dd")).as("sd"), sum(col("tt")).as("st"),
            sum(col("q") * col("q")).as("sqq"),
            sum(col("dd") * col("dd")).as("sdd"),
            sum(col("tt") * col("tt")).as("stt"),
            sum(col("q") * col("dd")).as("sqd"),
            sum(col("q") * col("tt")).as("sqt"),
            sum(col("dd") * col("tt")).as("sdt"))
          .select(explode(array(
            struct(lit("quantity_discount").as("pair"), col("n"),
              col("sq").as("sx"), col("sd").as("sy"), col("sqq").as("sxx"),
              col("sdd").as("syy"), col("sqd").as("sxy")),
            struct(lit("quantity_tax").as("pair"), col("n"),
              col("sq").as("sx"), col("st").as("sy"), col("sqq").as("sxx"),
              col("stt").as("syy"), col("sqt").as("sxy")),
            struct(lit("discount_tax").as("pair"), col("n"),
              col("sd").as("sx"), col("st").as("sy"), col("sdd").as("sxx"),
              col("stt").as("syy"), col("sdt").as("sxy")))).as("t"))
          .select(col("t.pair").as("pair"), col("t.n").as("n"),
            col("t.sx").as("sx"), col("t.sy").as("sy"),
            col("t.sxx").as("sxx"), col("t.syy").as("syy"), col("t.sxy").as("sxy"))
          .withColumn("corr_e6",
            expr(corrE6("n", "sx", "sy", "sxx", "syy", "sxy")))
          .orderBy(col("pair"))
      },
      Some {
        def corrE6(sx: String, sy: String, sxx: String, syy: String, sxy: String) =
          Q.scaledLong(
            s"CAST(n * $sxy - $sx * $sy AS DOUBLE) / " +
              s"(sqrt(CAST(n * $sxx - $sx * $sx AS DOUBLE)) * " +
              s"sqrt(CAST(n * $syy - $sy * $sy AS DOUBLE)))", 6)
        s"""
        WITH w AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(q) AS BIGINT) AS sq, CAST(sum(dd) AS BIGINT) AS sd,
                 CAST(sum(tt) AS BIGINT) AS st,
                 CAST(sum(q * q) AS BIGINT) AS sqq,
                 CAST(sum(dd * dd) AS BIGINT) AS sdd,
                 CAST(sum(tt * tt) AS BIGINT) AS stt,
                 CAST(sum(q * dd) AS BIGINT) AS sqd,
                 CAST(sum(q * tt) AS BIGINT) AS sqt,
                 CAST(sum(dd * tt) AS BIGINT) AS sdt
          FROM (SELECT CAST(l_quantity AS BIGINT) AS q,
                       ${Q.scaledLong("l_discount", 2)} AS dd,
                       ${Q.scaledLong("l_tax", 2)} AS tt
                FROM lineitem) t)
        SELECT pair, n, sx, sy, sxx, syy, sxy,
               ${corrE6("sx", "sy", "sxx", "syy", "sxy")} AS corr_e6
        FROM (
          SELECT 'quantity_discount' AS pair, n, sq AS sx, sd AS sy,
                 sqq AS sxx, sdd AS syy, sqd AS sxy FROM w
          UNION ALL
          SELECT 'quantity_tax', n, sq, st, sqq, stt, sqt FROM w
          UNION ALL
          SELECT 'discount_tax', n, sd, st, sdd, stt, sdt FROM w)
        ORDER BY pair"""
      }),

    "rollup_docs" -> QueryDef(
      (s, d) => {
        Tables.documents(s, d)
          .rollup(col("lang"), col("source"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
          .orderBy(asc_nulls_first("lang"), asc_nulls_first("source"))
      },
      Some("""
        SELECT lang, source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS sum_chars
        FROM documents GROUP BY ROLLUP(lang, source)
        ORDER BY lang NULLS FIRST, source NULLS FIRST""")),

    "q4_order_priority" -> QueryDef(
      (s, d) => {
        // TPC-H Q4 shape: orders with at least one late lineitem (semi
        // join), counted per priority
        val late = Tables.lineitem(s, d)
          .filter(col("l_shipdate") > ts("1999-06-30 00:00:00"))
          .select(col("l_orderkey"))
        Tables.orders(s, d)
          .filter(col("o_orderdate") >= ts("1998-01-01 00:00:00") &&
            col("o_orderdate") < ts("2000-01-01 00:00:00"))
          .join(late, col("o_orderkey") === col("l_orderkey"), "left_semi")
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("order_count"))
          .orderBy(col("o_orderpriority"))
      },
      Some("""
        SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '2000-01-01 00:00:00'
          AND EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey
                        AND l_shipdate > TIMESTAMP '1999-06-30 00:00:00')
        GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    "q6_forecast_revenue" -> QueryDef(
      (s, d) => {
        // TPC-H Q6 shape: pure filter + single aggregate, the minimal
        // pushdown-then-reduce plan
        Tables.lineitem(s, d)
          .filter(col("l_shipdate") >= ts("1997-01-01 00:00:00") &&
            col("l_shipdate") < ts("1998-01-01 00:00:00") &&
            col("l_discount") >= 0.02 && col("l_discount") <= 0.04 &&
            col("l_quantity") < 25)
          .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2).as("revenue"),
            count(lit(1)).as("n_items"))
      },
      Some("""
        SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
               CAST(count(*) AS BIGINT) AS n_items
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
          AND l_discount BETWEEN 0.02 AND 0.04
          AND l_quantity < 25""")),

    "q17_small_quantity" -> QueryDef(
      (s, d) => {
        // TPC-H Q17 shape: correlated scalar subquery (per-part average)
        // realized as an aggregate + re-join, the plan Catalyst produces
        // for the SQL form too
        val li = Tables.lineitem(s, d)
        val partAvg = li.groupBy(col("l_partkey").as("pk"))
          .agg((avg(col("l_quantity")) * 0.2).as("qty_threshold"))
        li.join(Tables.part(s, d).filter(col("p_brand") === "Brand#2"),
            col("l_partkey") === col("p_partkey"))
          .join(partAvg, col("l_partkey") === col("pk"))
          .filter(col("l_quantity") < col("qty_threshold"))
          .agg(round(sum(col("l_extendedprice")) / 7.0, 2).as("avg_yearly"),
            count(lit(1)).as("n_items"))
      },
      Some("""
        SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly,
               CAST(count(*) AS BIGINT) AS n_items
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE p_brand = 'Brand#2'
          AND l_quantity < (SELECT 0.2 * avg(l_quantity) FROM lineitem l2
                            WHERE l2.l_partkey = p_partkey)""")),

    "q18_large_orders" -> QueryDef(
      (s, d) => {
        // TPC-H Q18 shape: HAVING-filtered aggregate driving a semi join
        val big = Tables.lineitem(s, d)
          .groupBy(col("l_orderkey"))
          .agg(sum(col("l_quantity")).as("total_qty"))
          .filter(col("total_qty") > 150.0)
        Tables.orders(s, d)
          .join(big, col("o_orderkey") === col("l_orderkey"))
          .select(col("o_orderkey"), col("o_custkey"),
            to_date(col("o_orderdate")).as("o_orderdate"),
            round(col("o_totalprice"), 2).as("o_totalprice"),
            round(col("total_qty"), 2).as("total_qty"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
          .limit(100)
      },
      Some("""
        SELECT o_orderkey, o_custkey, CAST(o_orderdate AS DATE) AS o_orderdate,
               round(o_totalprice, 2) AS o_totalprice, round(total_qty, 2) AS total_qty
        FROM orders JOIN (
          SELECT l_orderkey, sum(l_quantity) AS total_qty
          FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 150.0) t
          ON o_orderkey = l_orderkey
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""")),

    "window_range_frame" -> QueryDef(
      (s, d) => {
        // value-RANGE frame: how many same-status orders fall within
        // +/-10000 of each order's price
        val w = Window.partitionBy(col("o_orderstatus"))
          .orderBy(col("o_totalprice"))
          .rangeBetween(-10000L, 10000L)
        Tables.orders(s, d)
          .filter(col("o_custkey") < 100)
          .withColumn("n_nearby", count(lit(1)).over(w))
          .select(col("o_orderkey"), col("o_orderstatus"),
            round(col("o_totalprice"), 2).as("o_totalprice"), col("n_nearby"))
          .orderBy(col("o_orderkey"))
      },
      Some("""
        SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS o_totalprice,
               CAST(count(*) OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice
                   RANGE BETWEEN 10000 PRECEDING AND 10000 FOLLOWING) AS BIGINT) AS n_nearby
        FROM orders WHERE o_custkey < 100
        ORDER BY o_orderkey""")),

    // Rank-distribution window functions (rank / percent_rank /
    // cume_dist) on a deterministic ~1% orderkey stratum. The two
    // distribution ratios are exact rationals ((rank-1)/(n-1), rank'/n)
    // computed by one correctly-rounded IEEE division in both engines, and
    // leave as scaled BIGINTs per the derived-double policy.
    "window_rank_dist" -> QueryDef(
      (s, d) => {
        val w = Window.partitionBy(col("o_orderstatus")).orderBy(col("o_totalprice"))
        Tables.orders(s, d)
          .where(col("o_orderkey") % 97 === 0)
          .select(col("o_orderstatus"), col("o_orderkey"), col("o_totalprice"))
          .withColumn("rnk", rank().over(w))
          .withColumn("drnk", dense_rank().over(w))
          .withColumn("pr", percent_rank().over(w))
          .withColumn("cd", cume_dist().over(w))
          .selectExpr("o_orderstatus", "o_orderkey", "CAST(rnk AS BIGINT) AS rnk",
            "CAST(drnk AS BIGINT) AS drnk",
            s"${Q.scaledLong("pr", 6)} AS pr_e6",
            s"${Q.scaledLong("cd", 6)} AS cd_e6")
          .orderBy(col("o_orderstatus"), col("rnk"), col("o_orderkey"))
      },
      Some(s"""
        SELECT o_orderstatus, o_orderkey,
               CAST(rank() OVER w AS BIGINT) AS rnk,
               CAST(dense_rank() OVER w AS BIGINT) AS drnk,
               ${Q.scaledLong("percent_rank() OVER w", 6)} AS pr_e6,
               ${Q.scaledLong("cume_dist() OVER w", 6)} AS cd_e6
        FROM orders WHERE o_orderkey % 97 = 0
        WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice)
        ORDER BY o_orderstatus, rnk, o_orderkey""")),

    // Wide-to-long reshape (unpivot/melt): the three per-lineitem charge
    // columns become (charge, value) rows — the inverse of
    // pivot_user_events. Values scale to integer cents PER ROW before the
    // sum so the re-aggregation is exact integer arithmetic in both
    // engines (a double sum would expose fold-order noise).
    "unpivot_charges" -> QueryDef(
      (s, d) => {
        Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_extendedprice"),
            col("l_discount"), col("l_tax"))
          .unpivot(
            Array(col("l_orderkey")),
            Array(col("l_extendedprice"), col("l_discount"), col("l_tax")),
            "charge", "value")
          .groupBy(col("charge"))
          .agg(count(lit(1)).as("n"),
            sum(expr(Q.scaledLong("value", 2))).as("sum_cents"))
          .orderBy(col("charge"))
      },
      Some(s"""
        SELECT charge, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(${Q.scaledLong("value", 2)}) AS BIGINT) AS sum_cents
        FROM (
          SELECT unnest(['l_extendedprice', 'l_discount', 'l_tax']) AS charge,
                 unnest([l_extendedprice, l_discount, l_tax]) AS value
          FROM lineitem) t
        GROUP BY charge ORDER BY charge""")),

    "agg_cube_events" -> QueryDef(
      (s, d) => {
        Tables.events(s, d)
          .withColumn("day", to_date(col("ts")))
          .cube(col("event_type"), col("day"))
          .agg(count(lit(1)).as("n"))
          .orderBy(asc_nulls_first("event_type"), asc_nulls_first("day"))
      },
      Some("""
        SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY CUBE(event_type, CAST(date_trunc('day', ts) AS DATE))
        ORDER BY event_type NULLS FIRST, day NULLS FIRST""")),

    "agg_grouping_sets_docs" -> QueryDef(
      (s, d) => {
        Tables.documents(s, d).createOrReplaceTempView("graft_documents")
        s.sql("""
          SELECT lang, source, count(1) AS n
          FROM graft_documents
          GROUP BY GROUPING SETS ((lang), (source))
          ORDER BY lang ASC NULLS FIRST, source ASC NULLS FIRST""")
      },
      Some("""
        SELECT lang, source, CAST(count(*) AS BIGINT) AS n
        FROM documents GROUP BY GROUPING SETS ((lang), (source))
        ORDER BY lang NULLS FIRST, source NULLS FIRST""")),

    // HLL estimate UNDER THE ORACLE GATE via its published error bound:
    // the raw estimate is implementation-specific (Spark HLL++ vs
    // DuckDB's HLL hash differently), so the estimate itself can never be
    // value-checked cross-engine. What IS checkable: the exact
    // cardinality twin, and the sketch's accuracy CONTRACT —
    // |approx - exact| <= 3*rsd*exact with rsd = 0.05 (Spark's default
    // relative standard deviation; 3-sigma makes a violation a
    // ~0.3%-probability event, i.e. a real sketch regression, not noise).
    // Spark emits the measured boolean; the oracle recomputes the exact
    // side and asserts the contract (TRUE). A sketch drifting out of its
    // published bound now FAILS the hash gate instead of hiding behind a
    // rows-only check.
    "agg_approx_distinct" -> QueryDef(
      (s, d) => {
        Tables.lineitem(s, d)
          .groupBy(col("l_returnflag"))
          .agg(approx_count_distinct(col("l_partkey")).as("approx"),
            countDistinct(col("l_partkey")).as("exact_parts"))
          .select(col("l_returnflag"), col("exact_parts"),
            (abs(col("approx") - col("exact_parts"))
              <= lit(0.15) * col("exact_parts")).as("within_bound"))
          .orderBy(col("l_returnflag"))
      },
      Some("""
        SELECT l_returnflag,
               CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
               TRUE AS within_bound
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // KMV (k-minimum-values) distinct sketch with SET-INTERSECTION
    // estimates — the sketch-algebra piece HLL lacks (HLL union-merges
    // but cannot intersect; Beyer et al. 2007, "On synopses for
    // distinct-value estimation under multiset operations"). Audience
    // overlap across order priorities: per group keep the k=64 smallest
    // distinct PORTABLE hash values of o_custkey; |S| est = (k-1)*P/U_k
    // (U_k = k-th smallest), union sketch = k smallest of the merged
    // lists (the same compose-across-shards property the MinHash union
    // sketch rides), intersection by inclusion-exclusion. Because the
    // hash is the engine's own portable polynomial — not an
    // implementation-private HLL hash — BOTH engines compute the
    // identical sketch, so the ESTIMATES themselves are value-checked
    // cross-engine (strictly stronger than agg_approx_distinct's
    // bound-only gate), plus a within_bound from the KMV error contract
    // (3-sigma ~ 3/sqrt(k-2) = 0.381 relative on each direct estimate;
    // inclusion-exclusion differences carry no multiplicative guarantee,
    // so the bound gates the three direct estimates, not the
    // intersection).
    //
    // Scale shape: the only corpus-scale work is the distinct
    // (group, hash) aggregate (map-side combinable); the k-smallest
    // window runs on that distinct frame, and everything after operates
    // on one bounded row per group (<= 64 longs). At 1000 executors the
    // per-partition k-heap partial (an Aggregator) would cut the shuffle
    // to k rows/group/partition; the declared plan keeps the declarative
    // window and documents that as the drop-in upgrade.
    "agg_kmv_overlap" -> QueryDef(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val K = 64
        val dist = Tables.orders(s, d)
          .selectExpr("o_orderpriority AS prio", "o_custkey AS ck").distinct()
        val dh = dist
          .selectExpr("prio", s"(1234567 * ck + 7654321) % ${Portable.P} AS h")
          .distinct()
        val w = Window.partitionBy(col("prio")).orderBy(col("h"))
        val sk = dh.withColumn("rnk", row_number().over(w))
          .where(col("rnk") <= K)
          .groupBy(col("prio"))
          .agg(expr("sort_array(collect_list(h))").as("sk"))
        val nd = dist.groupBy(col("prio")).agg(countDistinct(col("ck")).as("nd"))
        val sketches = sk.join(nd, "prio")
        val inter = dist.as("x").join(dist.as("y"), "ck")
          .where(col("x.prio") < col("y.prio"))
          .groupBy(col("x.prio").as("pa"), col("y.prio").as("pb"))
          .agg(count(lit(1)).as("exact_inter"))
        def est(skc: String, sz: String = null) = {
          val kl = Option(sz).getOrElse(s"size($skc)")
          s"CASE WHEN $kl < $K THEN CAST($kl AS DOUBLE) " +
            s"ELSE CAST(${K - 1} AS DOUBLE) * ${Portable.P} / CAST(element_at($skc, $K) AS DOUBLE) END"
        }
        sketches.as("a")
          .join(sketches.as("b"), col("a.prio") < col("b.prio"))
          .select(col("a.prio").as("pa"), col("b.prio").as("pb"),
            col("a.sk").as("ska"), col("b.sk").as("skb"),
            col("a.nd").as("nd_a"), col("b.nd").as("nd_b"))
          .join(inter, Seq("pa", "pb"), "left")
          .selectExpr("pa", "pb", "ska", "skb", "nd_a", "nd_b",
            "coalesce(exact_inter, CAST(0 AS BIGINT)) AS exact_inter",
            s"slice(sort_array(array_distinct(concat(ska, skb))), 1, $K) AS ku")
          .selectExpr("pa", "pb", "nd_a", "nd_b", "exact_inter",
            "nd_a + nd_b - exact_inter AS exact_union",
            s"${est("ska")} AS ea", s"${est("skb")} AS eb", s"${est("ku")} AS eu")
          .selectExpr("pa", "pb", "nd_a", "nd_b", "exact_inter", "exact_union",
            Q.scaledLong("eu", 2) + " AS est_union_e2",
            Q.scaledLong("greatest(0.0, ea + eb - eu)", 2) + " AS est_inter_e2",
            ("abs(ea - nd_a) <= 0.381 * nd_a AND abs(eb - nd_b) <= 0.381 * nd_b " +
              "AND abs(eu - exact_union) <= 0.381 * exact_union AS within_bound"))
          .orderBy(col("pa"), col("pb"))
      },
      Some {
        val K = 64
        def est(skc: String) =
          s"CASE WHEN len($skc) < $K THEN CAST(len($skc) AS DOUBLE) " +
            s"ELSE CAST(${K - 1} AS DOUBLE) * ${Portable.P} / CAST($skc[$K] AS DOUBLE) END"
        s"""
        WITH dist AS (
          SELECT DISTINCT o_orderpriority AS prio, o_custkey AS ck FROM orders),
        dh AS (
          SELECT DISTINCT prio, (1234567 * ck + 7654321) % ${Portable.P} AS h
          FROM dist),
        rkd AS (
          SELECT prio, h,
                 row_number() OVER (PARTITION BY prio ORDER BY h) AS rnk
          FROM dh),
        sk AS (
          SELECT prio, list(h ORDER BY h) AS sk
          FROM rkd WHERE rnk <= $K GROUP BY prio),
        nd AS (
          SELECT prio, CAST(count(DISTINCT ck) AS BIGINT) AS nd
          FROM dist GROUP BY prio),
        sketches AS (SELECT sk.prio, sk.sk, nd.nd FROM sk JOIN nd USING (prio)),
        inter AS (
          SELECT x.prio AS pa, y.prio AS pb,
                 CAST(count(*) AS BIGINT) AS exact_inter
          FROM dist x JOIN dist y ON x.ck = y.ck AND x.prio < y.prio
          GROUP BY x.prio, y.prio),
        pairs AS (
          SELECT a.prio AS pa, b.prio AS pb, a.sk AS ska, b.sk AS skb,
                 a.nd AS nd_a, b.nd AS nd_b,
                 coalesce(i.exact_inter, 0) AS exact_inter,
                 (list_sort(list_distinct(a.sk || b.sk)))[1:$K] AS ku
          FROM sketches a
          JOIN sketches b ON a.prio < b.prio
          LEFT JOIN inter i ON i.pa = a.prio AND i.pb = b.prio),
        ests AS (
          SELECT pa, pb, nd_a, nd_b, exact_inter,
                 nd_a + nd_b - exact_inter AS exact_union,
                 ${est("ska")} AS ea, ${est("skb")} AS eb, ${est("ku")} AS eu
          FROM pairs)
        SELECT pa, pb, nd_a, nd_b, exact_inter, exact_union,
               ${Q.scaledLong("eu", 2)} AS est_union_e2,
               ${Q.scaledLong("greatest(0.0, ea + eb - eu)", 2)} AS est_inter_e2,
               abs(ea - nd_a) <= 0.381 * nd_a AND abs(eb - nd_b) <= 0.381 * nd_b
                 AND abs(eu - exact_union) <= 0.381 * exact_union AS within_bound
        FROM ests ORDER BY pa, pb"""
      }),

    // Portable median/p90: explicit middle-element selection via
    // row_number (engine quantile interpolation differs across builds —
    // the round-2 driver hash fail), emitted as scaled BIGINT cents so no
    // derived double reaches the driver's hash. Median = mean of the one/
    // two middle values; p90 = nearest-rank (ceil(0.9 n)) — an actual data
    // value, identical by construction in both engines. Exact percentiles
    // need the per-group sort either way; at 100 TB swap to
    // approx_percentile and drop the oracle to rows-only.
    "agg_median_orders" -> QueryDef(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val byStatus = Window.partitionBy(col("o_orderstatus"))
        val ranked = byStatus.orderBy(col("o_totalprice"))
        val mid = "CASE WHEN rn IN (lo, hi) THEN o_totalprice END"
        Tables.orders(s, d)
          .select(col("o_orderstatus"), col("o_totalprice"))
          .withColumn("rn", row_number().over(ranked))
          .withColumn("n", count(lit(1)).over(byStatus))
          .selectExpr("o_orderstatus", "o_totalprice", "rn",
            "(n + 1) div 2 AS lo", "(n + 2) div 2 AS hi",
            "(9 * n + 9) div 10 AS r90")
          .groupBy(col("o_orderstatus"))
          .agg(
            expr(Q.scaledLong(s"(min($mid) + max($mid)) / 2.0", 2))
              .as("median_cents"),
            expr(Q.scaledLong("max(CASE WHEN rn = r90 THEN o_totalprice END)", 2))
              .as("p90_cents"))
          .orderBy(col("o_orderstatus"))
      },
      Some {
        val mid = "CASE WHEN rn IN (lo, hi) THEN o_totalprice END"
        s"""
        WITH r AS (
          SELECT o_orderstatus, o_totalprice,
                 row_number() OVER (PARTITION BY o_orderstatus
                                    ORDER BY o_totalprice) AS rn,
                 count(*) OVER (PARTITION BY o_orderstatus) AS n
          FROM orders),
        p AS (
          SELECT o_orderstatus, o_totalprice, rn,
                 (n + 1) // 2 AS lo, (n + 2) // 2 AS hi,
                 (9 * n + 9) // 10 AS r90
          FROM r)
        SELECT o_orderstatus,
               ${Q.scaledLong(s"(min($mid) + max($mid)) / 2.0", 2)} AS median_cents,
               ${Q.scaledLong("max(CASE WHEN rn = r90 THEN o_totalprice END)", 2)} AS p90_cents
        FROM p GROUP BY o_orderstatus ORDER BY o_orderstatus"""
      }),

    // The 100 TB percentile path the exact-median comment promises: a
    // single-pass mergeable GK-style sketch (approx_percentile) instead
    // of the per-group sort+row_number the exact query pays. Now UNDER
    // THE ORACLE GATE via the sketch's published rank-error contract:
    // with accuracy B, the returned element's rank is within n/B of the
    // target rank. The exact side computes the data values at the target
    // rank +/- slack (slack = ceil(n/B) + 1 rank, one extra for the
    // two-element even-n median window), and the engine checks the
    // sketch's answer lies between them; the oracle recomputes the exact
    // values and bounds and asserts the contract (TRUE). The estimate
    // columns themselves are sketch-internal and never hashed — the
    // booleans are the strongest cross-engine-checkable claim about them.
    "agg_approx_percentile" -> QueryDef(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val byStatus = Window.partitionBy(col("o_orderstatus"))
        val ranked = byStatus.orderBy(col("o_totalprice"))
        val mid = "CASE WHEN rn IN (lo, hi) THEN o_totalprice END"
        val exact = Tables.orders(s, d)
          .select(col("o_orderstatus"), col("o_totalprice"))
          .withColumn("rn", row_number().over(ranked))
          .withColumn("n", count(lit(1)).over(byStatus))
          .selectExpr("o_orderstatus", "o_totalprice", "rn", "n",
            "(n + 1) div 2 AS lo", "(n + 2) div 2 AS hi",
            "(9 * n + 9) div 10 AS r90",
            "(n + 9999) div 10000 + 1 AS slack")
          .groupBy(col("o_orderstatus"))
          .agg(
            expr(Q.scaledLong(s"(min($mid) + max($mid)) / 2.0", 2))
              .as("median_cents"),
            expr(Q.scaledLong(
              "max(CASE WHEN rn = r90 THEN o_totalprice END)", 2))
              .as("p90_cents"),
            expr(Q.scaledLong(
              "max(CASE WHEN rn = greatest(1, lo - slack) THEN o_totalprice END)", 2))
              .as("m_lo"),
            expr(Q.scaledLong(
              "max(CASE WHEN rn = least(n, hi + slack) THEN o_totalprice END)", 2))
              .as("m_hi"),
            expr(Q.scaledLong(
              "max(CASE WHEN rn = greatest(1, r90 - slack) THEN o_totalprice END)", 2))
              .as("p_lo"),
            expr(Q.scaledLong(
              "max(CASE WHEN rn = least(n, r90 + slack) THEN o_totalprice END)", 2))
              .as("p_hi"))
        val approx = Tables.orders(s, d)
          .groupBy(col("o_orderstatus"))
          .agg(
            expr(Q.scaledLong("approx_percentile(o_totalprice, 0.5, 10000)", 2))
              .as("am"),
            expr(Q.scaledLong("approx_percentile(o_totalprice, 0.9, 10000)", 2))
              .as("ap"))
        exact.join(approx, "o_orderstatus")
          .select(col("o_orderstatus"), col("median_cents"), col("p90_cents"),
            col("am").between(col("m_lo"), col("m_hi")).as("median_in_bound"),
            col("ap").between(col("p_lo"), col("p_hi")).as("p90_in_bound"))
          .orderBy(col("o_orderstatus"))
      },
      Some {
        val mid = "CASE WHEN rn IN (lo, hi) THEN o_totalprice END"
        s"""
        WITH r AS (
          SELECT o_orderstatus, o_totalprice,
                 row_number() OVER (PARTITION BY o_orderstatus
                                    ORDER BY o_totalprice) AS rn,
                 count(*) OVER (PARTITION BY o_orderstatus) AS n
          FROM orders),
        p AS (
          SELECT o_orderstatus, o_totalprice, rn,
                 (n + 1) // 2 AS lo, (n + 2) // 2 AS hi,
                 (9 * n + 9) // 10 AS r90
          FROM r)
        SELECT o_orderstatus,
               ${Q.scaledLong(s"(min($mid) + max($mid)) / 2.0", 2)} AS median_cents,
               ${Q.scaledLong("max(CASE WHEN rn = r90 THEN o_totalprice END)", 2)} AS p90_cents,
               TRUE AS median_in_bound,
               TRUE AS p90_in_bound
        FROM p GROUP BY o_orderstatus ORDER BY o_orderstatus"""
      }),

    // Skew-safe two-phase aggregation UNDER THE ORACLE GATE: events has
    // only a handful of event_type values (each key is a hot key), so the
    // salted path (Scale.saltedSumCount: spread each key over 16 partial
    // groups, aggregate, re-aggregate) is exercised against a plain
    // group-by oracle — proving the salting is semantics-preserving.
    // Values are scaled to BIGINT cents per row BEFORE summation so the
    // two-level sum is exact integer arithmetic (a salted double sum
    // would change fold order vs the oracle).
    "agg_salted_events" -> QueryDef(
      (s, d) => {
        val ev = Tables.events(s, d)
          .withColumn("v_c", expr(Q.scaledLong("value", 2)))
        graft.engine.ops.Scale.saltedSumCount(ev, col("event_type"), col("v_c"))
          .selectExpr("_key AS event_type",
            "CAST(sum_value AS BIGINT) AS sum_cents", "CAST(n AS BIGINT) AS n")
          .orderBy(col("event_type"))
      },
      Some(s"""
        SELECT event_type,
               CAST(sum(${Q.scaledLong("value", 2)}) AS BIGINT) AS sum_cents,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY event_type ORDER BY event_type NULLS FIRST""")),

    // The Z-order layout key (Scale.writeZOrdered) verified value-for-
    // value: Morton interleave of two keys as pure integer bit
    // arithmetic, identical in both engines — so the clustering key that
    // drives multi-dimensional file pruning is itself under the gate.
    "layout_zorder" -> QueryDef(
      (s, d) => {
        // native codegen Morton key (bit-identical twin of the 16-term
        // Portable.sparkZ expression — FunctionsSpec pins the equality)
        Tables.events(s, d)
          .where(col("event_id") < 500)
          .selectExpr("event_id", "user_id",
            "graft_morton(user_id & 65535, event_id & 65535) AS z")
          .orderBy(col("z"), col("event_id"))
      },
      Some(s"""
        SELECT event_id, user_id,
               ${Portable.duckZ("(user_id & 65535)", "(event_id & 65535)")} AS z
        FROM events WHERE event_id < 500 ORDER BY z, event_id""")),

    // The data-skipping ledger end-to-end (r12, the layout_zorder
    // follow-through): events re-written z-ordered on (user_id,
    // event_id) with a per-file min/max stats manifest at sink time
    // (engine/ops/StatsManifest — the Spark-expressible equivalent of
    // the Iceberg manifests the reference's sink gets implicitly,
    // data_sinks.py:134-147), then a selective box predicate is
    // answered by a manifest-planned read that opens ONLY overlapping
    // files. The aggregate values are oracle-exact (proving skipped
    // files contained no matching rows), and `files_pruned` puts the
    // pruning ITSELF under the gate: the oracle says TRUE, so a layout
    // or manifest change that stops skipping files fails correctness,
    // not just perf. Scale shape: the sink-time stats pass is one
    // aggregation over the hot just-written data; planning reads one
    // sidecar object and collects only the |files| file list.
    "layout_stats_prune" -> QueryDef(
      (s, d) => {
        val out = java.nio.file.Files.createTempDirectory("graft_zstats_")
        graft.engine.util.Fs.deleteOnExit(out)
        val ev = Tables.events(s, d).select(col("event_id"), col("user_id"),
          expr(Q.scaledLong("value", 2)).as("v_c"))
        graft.engine.ops.StatsManifest.writeZOrderedWithStats(
          ev, "user_id", "event_id", out.toString)
        val scan = graft.engine.ops.StatsManifest.prunedRead(s, out.toString,
          Seq(("user_id", 0L, 39L), ("event_id", 0L, 3999L)))
        scan.df.agg(
          count(lit(1)).cast("long").as("n"),
          sum(col("v_c")).cast("long").as("sum_cents"),
          sum(col("user_id")).cast("long").as("sum_user"),
          sum(col("event_id")).cast("long").as("sum_event"))
          .withColumn("files_pruned", lit(scan.filesRead < scan.filesTotal))
      },
      Some(s"""
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(${Q.scaledLong("value", 2)}) AS BIGINT) AS sum_cents,
               CAST(sum(user_id) AS BIGINT) AS sum_user,
               CAST(sum(event_id) AS BIGINT) AS sum_event,
               TRUE AS files_pruned
        FROM events
        WHERE user_id BETWEEN 0 AND 39 AND event_id BETWEEN 0 AND 3999""")),

    "distinct_segments" -> QueryDef(
      (s, d) => Tables.customer(s, d).select(col("c_mktsegment")).distinct()
        .orderBy(col("c_mktsegment")),
      Some("SELECT DISTINCT c_mktsegment FROM customer ORDER BY c_mktsegment")),

    // ---- joins ----------------------------------------------------------
    "q3_shipping_priority" -> QueryDef(
      (s, d) => {
        val cust = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
        val ord = Tables.orders(s, d).filter(col("o_orderdate") < ts("1998-01-01 00:00:00"))
        val li = Tables.lineitem(s, d).filter(col("l_shipdate") > ts("1998-01-01 00:00:00"))
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(cust, col("o_custkey") === col("c_custkey"))
          .groupBy(col("l_orderkey"), col("o_orderdate"))
          .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"))
          .select(col("l_orderkey"), col("revenue"), to_date(col("o_orderdate")).as("o_orderdate"))
          .orderBy(col("revenue").desc, col("o_orderdate"), col("l_orderkey"))
          .limit(10)
      },
      Some("""
        SELECT l_orderkey,
               round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
               CAST(o_orderdate AS DATE) AS o_orderdate
        FROM customer JOIN orders ON c_custkey = o_custkey
                      JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
          AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY l_orderkey, o_orderdate
        ORDER BY revenue DESC, o_orderdate, l_orderkey
        LIMIT 10""")),

    "q5_region_volume" -> QueryDef(
      (s, d) => {
        val region = Tables.region(s, d).filter(col("r_name") === "ASIA")
        val nation = Tables.nation(s, d)
        val cust = Tables.customer(s, d)
        val ord = Tables.orders(s, d)
          .filter(col("o_orderdate") >= ts("1996-01-01 00:00:00") &&
            col("o_orderdate") < ts("1999-01-01 00:00:00"))
        val li = Tables.lineitem(s, d)
        val supp = Tables.supplier(s, d)
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(cust, col("o_custkey") === col("c_custkey"))
          // no forced hint on supplier: it is SF-proportional (10k rows/SF),
          // the same class as the customer/part hints removed earlier. AQE
          // still broadcasts it while it fits its runtime size estimate.
          .join(supp,
            col("l_suppkey") === col("s_suppkey") && col("s_nationkey") === col("c_nationkey"))
          .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("n_name"))
          .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"))
          .orderBy(col("revenue").desc, col("n_name"))
      },
      Some("""
        SELECT n_name,
               round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
        FROM region JOIN nation ON n_regionkey = r_regionkey
                    JOIN supplier ON s_nationkey = n_nationkey
                    JOIN lineitem ON l_suppkey = s_suppkey
                    JOIN orders ON o_orderkey = l_orderkey
                    JOIN customer ON c_custkey = o_custkey AND c_nationkey = s_nationkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
        GROUP BY n_name ORDER BY revenue DESC, n_name""")),

    "join_brand_revenue" -> QueryDef(
      (s, d) => {
        Tables.lineitem(s, d)
          .join(Tables.part(s, d), col("l_partkey") === col("p_partkey"))
          .groupBy(col("p_brand"))
          .agg(
            round(sum(col("l_extendedprice")), 2).as("revenue"),
            count(lit(1)).as("n_items"))
          .orderBy(col("p_brand"))
      },
      Some("""
        SELECT p_brand, round(sum(l_extendedprice), 2) AS revenue,
               CAST(count(*) AS BIGINT) AS n_items
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand ORDER BY p_brand""")),

    // TPC-H Q15 shape: an aggregate view probed by a scalar-subquery max
    // ("the supplier(s) with the highest quarterly revenue"). The revenue
    // view computes ONCE into the plan and its max arrives as a 1-row
    // broadcast joined back — no window over the full view, no
    // re-aggregation (the decorrelated form of WHERE total = (SELECT
    // max ...)). Revenue is an exact integer (per-row scaled cents
    // before the sum), so the equality probe is tie-safe and portable —
    // comparing derived doubles for EQUALITY would be build-dependent.
    "q15_top_supplier" -> QueryDef(
      (s, d) => {
        val rev = Tables.lineitem(s, d)
          .filter(col("l_shipdate") >= ts("1997-01-01 00:00:00") &&
            col("l_shipdate") < ts("1997-04-01 00:00:00"))
          .groupBy(col("l_suppkey"))
          .agg(sum(expr(Q.scaledLong("l_extendedprice * (1.0 - l_discount)", 4)))
            .as("total_rev_e4"))
          .persistScoped() // feeds both the max probe and the equality join
        val top = rev.agg(max(col("total_rev_e4")).as("max_rev_e4"))
        rev.join(broadcast(top), col("total_rev_e4") === col("max_rev_e4"))
          .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
          .select(col("s_suppkey"), col("s_name"), col("total_rev_e4"))
          .orderBy(col("s_suppkey"))
      },
      Some(s"""
        WITH rev AS (
          SELECT l_suppkey,
                 CAST(sum(${Q.scaledLong("l_extendedprice * (1.0 - l_discount)", 4)}) AS BIGINT) AS total_rev_e4
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
            AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
          GROUP BY l_suppkey)
        SELECT s_suppkey, s_name, total_rev_e4
        FROM rev JOIN supplier ON l_suppkey = s_suppkey
        WHERE total_rev_e4 = (SELECT max(total_rev_e4) FROM rev)
        ORDER BY s_suppkey""")),

    // Null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL keys
    // MATCH each other instead of vanishing, the semantics a dimension
    // with an explicit "unknown" bucket needs. Both sides derive a
    // deterministic nullable key (nullif of a digit), so the NULL=NULL
    // group's contribution is a real, value-checked part of the result —
    // a plain equi-join would silently drop it. Spark still plans <=>
    // as a hash-joinable equi-key (null-safe comparisons are join keys,
    // not residuals).
    "join_null_safe" -> QueryDef(
      (s, d) => {
        val a = Tables.orders(s, d)
          .selectExpr("nullif(o_custkey % 10, 0) AS k", "o_orderkey")
        val b = Tables.customer(s, d)
          .selectExpr("nullif(c_custkey % 10, 0) AS k2", "c_custkey")
          .groupBy(col("k2")).agg(count(lit(1)).as("n_cust"))
        a.join(b, col("k") <=> col("k2"))
          .groupBy(col("k"))
          .agg(count(lit(1)).as("n_orders"), max(col("n_cust")).as("n_cust"))
          .orderBy(col("k").asc_nulls_first)
      },
      Some("""
        WITH a AS (SELECT nullif(o_custkey % 10, 0) AS k, o_orderkey FROM orders),
        b AS (SELECT nullif(c_custkey % 10, 0) AS k2,
                     CAST(count(*) AS BIGINT) AS n_cust
              FROM customer GROUP BY 1)
        SELECT k, CAST(count(*) AS BIGINT) AS n_orders,
               CAST(max(n_cust) AS BIGINT) AS n_cust
        FROM a JOIN b ON k IS NOT DISTINCT FROM k2
        GROUP BY k ORDER BY k NULLS FIRST""")),

    // Salted fact-dim join — the hand-applied skew remedy, proven
    // semantics-preserving under the value gate: lineitem joins part on a
    // composite (key, salt) with part replicated once per salt, and the
    // per-brand rollup must equal DuckDB's PLAIN join byte-for-byte (the
    // salt may never change the multiset). See Scale.saltedJoin for when
    // this beats AQE's runtime skew split.
    "join_salted_skew" -> QueryDef(
      (s, d) => {
        graft.engine.ops.Scale
          .saltedJoin(Tables.lineitem(s, d),
            Tables.part(s, d).withColumnRenamed("p_partkey", "l_partkey"),
            "l_partkey",
            // salt from the lineitem PK: content-deterministic and it
            // keeps column pruning alive (full-row salting forced the
            // scan to read all 16 lineitem columns)
            saltFrom = Seq("l_orderkey", "l_linenumber"))
          .groupBy(col("p_brand"))
          .agg(sum(expr(Q.scaledLong("l_extendedprice", 2))).as("revenue_cents"),
            count(lit(1)).as("n_items"))
          .orderBy(col("p_brand"))
      },
      Some(s"""
        SELECT p_brand,
               CAST(sum(${Q.scaledLong("l_extendedprice", 2)}) AS BIGINT) AS revenue_cents,
               CAST(count(*) AS BIGINT) AS n_items
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand ORDER BY p_brand""")),

    "join_left_customer_orders" -> QueryDef(
      (s, d) => {
        val ord = Tables.orders(s, d)
        Tables.customer(s, d)
          .join(ord, col("c_custkey") === col("o_custkey"), "left")
          .groupBy(col("c_custkey"))
          .agg(
            count(col("o_orderkey")).as("n_orders"),
            round(coalesce(sum(col("o_totalprice")), lit(0.0)), 2).as("total_spend"))
          .orderBy(col("c_custkey"))
      },
      Some("""
        SELECT c_custkey,
               CAST(count(o_orderkey) AS BIGINT) AS n_orders,
               round(coalesce(sum(o_totalprice), 0.0), 2) AS total_spend
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        GROUP BY c_custkey ORDER BY c_custkey""")),

    // RIGHT outer — the one outer direction not yet declared (left/full
    // above): big orders RIGHT JOIN customer keeps every customer row,
    // null-filling order columns for customers with no big order. Spark
    // plans it as the mirrored LeftOuter; declared so the full
    // inner/left/right/full family is value-checked.
    "join_right_orders_customer" -> QueryDef(
      (s, d) => {
        val big = Tables.orders(s, d).filter(col("o_totalprice") > 400000.0)
        big.join(Tables.customer(s, d),
            col("o_custkey") === col("c_custkey"), "right")
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n_rows"),
            count(col("o_orderkey")).as("n_big_orders"))
          .orderBy(col("c_mktsegment"))
      },
      Some("""
        SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_rows,
               CAST(count(o_orderkey) AS BIGINT) AS n_big_orders
        FROM (SELECT * FROM orders WHERE o_totalprice > 400000.0) o
             RIGHT JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    "join_semi_active_customers" -> QueryDef(
      (s, d) => {
        val big = Tables.orders(s, d).filter(col("o_totalprice") > 400000.0)
        Tables.customer(s, d)
          .join(big, col("c_custkey") === col("o_custkey"), "left_semi")
          .select(col("c_custkey"), col("c_name"))
          .orderBy(col("c_custkey"))
      },
      Some("""
        SELECT c_custkey, c_name FROM customer
        WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000.0)
        ORDER BY c_custkey""")),

    "join_anti_inactive_customers" -> QueryDef(
      (s, d) => {
        Tables.customer(s, d)
          .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left_anti")
          .select(col("c_custkey"), col("c_name"), round(col("c_acctbal"), 2).as("c_acctbal"))
          .orderBy(col("c_custkey"))
      },
      Some("""
        SELECT c_custkey, c_name, round(c_acctbal, 2) AS c_acctbal FROM customer
        WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
        ORDER BY c_custkey""")),

    // FULL OUTER join with both null sides exercised: BUILDING customers
    // vs high-value orders on custkey — customer-only rows are BUILDING
    // customers with no big order, order-only rows are big orders from
    // non-BUILDING customers. Aggregated per side so the result is
    // compact and the null-marker logic (not raw row explosion) is what
    // the oracle checks. Full outer cannot broadcast either side — it
    // plans as a shuffle join on the equi-key, which is the right 100 TB
    // shape.
    "join_full_outer" -> QueryDef(
      (s, d) => {
        val cust = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
        val big = Tables.orders(s, d).filter(col("o_totalprice") > 300000.0)
        cust.join(big, col("c_custkey") === col("o_custkey"), "full_outer")
          .select(
            when(col("c_custkey").isNull, lit("order_only"))
              .when(col("o_orderkey").isNull, lit("customer_only"))
              .otherwise(lit("both")).as("side"),
            coalesce(col("c_custkey"), col("o_custkey")).as("custkey"))
          .groupBy(col("side"))
          .agg(count(lit(1)).as("n_rows"),
            countDistinct(col("custkey")).as("n_keys"))
          .orderBy(col("side"))
      },
      Some("""
        SELECT CASE WHEN c_custkey IS NULL THEN 'order_only'
                    WHEN o_orderkey IS NULL THEN 'customer_only'
                    ELSE 'both' END AS side,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(count(DISTINCT coalesce(c_custkey, o_custkey)) AS BIGINT) AS n_keys
        FROM (SELECT * FROM customer WHERE c_mktsegment = 'BUILDING') c
        FULL OUTER JOIN (SELECT * FROM orders WHERE o_totalprice > 300000.0) o
          ON c_custkey = o_custkey
        GROUP BY 1 ORDER BY 1""")),

    // Typed Dataset surface (KeyValueGroupedDataset.mapGroups — the batch
    // twin of the streaming flatMapGroupsWithState op): per-customer max
    // inter-order gap, computed in typed Scala over case-class-encoded
    // rows. Deliberately object-path (like CentroidAggregator) — the
    // reserved §2.11 surface for logic genuinely awkward as expressions;
    // timestamps enter as epoch-micros longs so the arithmetic is exact
    // integers on both engines. Partitioning story: groupByKey shuffles
    // once on the key, each group folds locally — same shape as a SQL
    // aggregate, minus codegen (measured cost, documented trade).
    "typed_order_gaps" -> QueryDef(
      (s, d) => {
        val spark = s
        import spark.implicits._
        Tables.orders(s, d)
          .selectExpr("o_custkey",
            "unix_micros(CAST(o_orderdate AS TIMESTAMP)) AS us")
          .as[(Long, Long)]
          .groupByKey(_._1)
          .mapGroups { (cust, rows) =>
            val ts = rows.map(_._2).toArray.sorted
            val maxGap = if (ts.length < 2) 0L
              else ts.sliding(2).map { case Array(a, b) => b - a }.max
            (cust, ts.length.toLong, maxGap)
          }
          .toDF("o_custkey", "n_orders", "max_gap_us")
          .where(col("n_orders") >= 2)
          .orderBy(col("o_custkey"))
      },
      Some("""
        WITH g AS (
          SELECT o_custkey, epoch_us(o_orderdate) AS us,
                 epoch_us(o_orderdate) - lag(epoch_us(o_orderdate))
                   OVER (PARTITION BY o_custkey ORDER BY epoch_us(o_orderdate)) AS gap
          FROM orders)
        SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
               CAST(coalesce(max(gap), 0) AS BIGINT) AS max_gap_us
        FROM g GROUP BY o_custkey HAVING count(*) >= 2
        ORDER BY o_custkey""")),

    // Typed Dataset.joinWith — the pair-preserving typed join (each
    // result row is the ((customer), (order)) tuple, not a flattened
    // Row), then a typed map back to the fields the rollup needs. The
    // joinWith/Encoder machinery is the surface under test; the price is
    // already integer cents BEFORE the typed boundary, so the lambda
    // only routes exact values. The relational twin of this rollup is
    // what the other join queries cover — this one proves the typed API
    // reaches the same values.
    "typed_joinwith" -> QueryDef(
      (s, d) => {
        val spark = s
        import spark.implicits._
        val cust = Tables.customer(s, d)
          .selectExpr("c_custkey", "c_mktsegment").as[(Long, String)]
        val ord = Tables.orders(s, d).where(col("o_totalprice") > 400000.0)
          .selectExpr("o_custkey", s"${Q.scaledLong("o_totalprice", 2)} AS cents")
          .as[(Long, Long)]
        cust.joinWith(ord, cust("c_custkey") === ord("o_custkey"))
          .map { case ((_, seg), (_, cents)) => (seg, cents) }
          .toDF("c_mktsegment", "cents")
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n_big_orders"), sum(col("cents")).as("cents_sum"))
          .orderBy(col("c_mktsegment"))
      },
      Some(s"""
        SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_big_orders,
               CAST(sum(${Q.scaledLong("o_totalprice", 2)}) AS BIGINT) AS cents_sum
        FROM customer JOIN orders ON c_custkey = o_custkey
        WHERE o_totalprice > 400000.0
        GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    // DataFrameNaFunctions surface (na.fill) over join-produced NULLs:
    // customers without a qualifying order get (0.0, 'none') defaults
    // before re-aggregation — the standard post-outer-join cleanup step.
    // Fill-then-scale keeps the sum exact integer arithmetic.
    "clean_na_fill" -> QueryDef(
      (s, d) => {
        val big = Tables.orders(s, d).filter(col("o_totalprice") > 400000.0)
          .select(col("o_custkey"), col("o_totalprice"), col("o_orderstatus"))
        Tables.customer(s, d)
          .join(big, col("c_custkey") === col("o_custkey"), "left")
          .na.fill(Map("o_totalprice" -> 0.0, "o_orderstatus" -> "none"))
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"),
            sum(expr(Q.scaledLong("o_totalprice", 2))).as("spend_cents"))
          .orderBy(col("o_orderstatus"))
      },
      Some(s"""
        SELECT coalesce(o_orderstatus, 'none') AS o_orderstatus,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(${Q.scaledLong("coalesce(o_totalprice, 0.0)", 2)}) AS BIGINT) AS spend_cents
        FROM customer LEFT JOIN (
          SELECT o_custkey, o_totalprice, o_orderstatus
          FROM orders WHERE o_totalprice > 400000.0) o
          ON c_custkey = o_custkey
        GROUP BY 1 ORDER BY 1""")),

    // ---- sorts / top-k --------------------------------------------------
    "sort_topk_lineitems" -> QueryDef(
      (s, d) => {
        Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_linenumber"),
            round(col("l_extendedprice"), 2).as("price"))
          .orderBy(col("price").desc, col("l_orderkey"), col("l_linenumber"))
          .limit(20)
      },
      Some("""
        SELECT l_orderkey, l_linenumber, round(l_extendedprice, 2) AS price
        FROM lineitem
        ORDER BY price DESC, l_orderkey, l_linenumber LIMIT 20""")),

    // ---- set operations -------------------------------------------------
    "setop_union_vips" -> QueryDef(
      (s, d) => {
        val rich = Tables.customer(s, d).filter(col("c_acctbal") > 9000.0)
          .select(col("c_custkey").as("custkey"))
        val big = Tables.orders(s, d).filter(col("o_totalprice") > 450000.0)
          .select(col("o_custkey").as("custkey"))
        rich.union(big).distinct().orderBy(col("custkey"))
      },
      Some("""
        SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 9000.0
        UNION
        SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 450000.0
        ORDER BY custkey""")),

    "setop_intersect_vips" -> QueryDef(
      (s, d) => {
        val rich = Tables.customer(s, d).filter(col("c_acctbal") > 5000.0)
          .select(col("c_custkey").as("custkey"))
        val big = Tables.orders(s, d).filter(col("o_totalprice") > 400000.0)
          .select(col("o_custkey").as("custkey"))
        rich.intersect(big).orderBy(col("custkey"))
      },
      Some("""
        SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 5000.0
        INTERSECT
        SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 400000.0
        ORDER BY custkey""")),

    "setop_except_dormant" -> QueryDef(
      (s, d) => {
        val all = Tables.customer(s, d).select(col("c_custkey").as("custkey"))
        val recent = Tables.orders(s, d)
          .filter(col("o_orderdate") >= ts("1997-01-01 00:00:00"))
          .select(col("o_custkey").as("custkey"))
        all.except(recent).orderBy(col("custkey"))
      },
      Some("""
        SELECT c_custkey AS custkey FROM customer
        EXCEPT
        SELECT o_custkey AS custkey FROM orders
        WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        ORDER BY custkey""")),

    // Bag-semantics set difference (exceptAll): each order priority keeps
    // one multiset occurrence per non-big order — the multiplicity
    // behavior .except (set semantics) erases. Aggregated so the result
    // is the per-priority residual count.
    "setop_except_all_priorities" -> QueryDef(
      (s, d) => {
        val all = Tables.orders(s, d).select(col("o_orderpriority"))
        val big = Tables.orders(s, d)
          .filter(col("o_totalprice") > 300000.0)
          .select(col("o_orderpriority"))
        all.exceptAll(big)
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("o_orderpriority"))
      },
      Some("""
        SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n
        FROM (
          SELECT o_orderpriority FROM orders
          EXCEPT ALL
          SELECT o_orderpriority FROM orders WHERE o_totalprice > 300000.0
        ) t
        GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    "window_first_last" -> QueryDef(
      (s, d) => {
        // first/last_value over a full-partition frame: each user's
        // opening and closing event values
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        Tables.events(s, d)
          .withColumn("first_v", first(col("value")).over(w))
          .withColumn("last_v", last(col("value")).over(w))
          .groupBy(col("user_id"))
          .agg(round(max(col("first_v")), 2).as("first_value"),
            round(max(col("last_v")), 2).as("last_value"),
            count(lit(1)).as("n_events"))
          .orderBy(col("user_id"))
      },
      Some("""
        SELECT user_id,
               round(max(fv), 2) AS first_value, round(max(lv), 2) AS last_value,
               CAST(count(*) AS BIGINT) AS n_events
        FROM (
          SELECT user_id,
                 first_value(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS fv,
                 last_value(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS lv
          FROM events) t
        GROUP BY user_id ORDER BY user_id""")),

    "time_parts_events" -> QueryDef(
      (s, d) => {
        // calendar-part extraction; day-of-week aligned to DuckDB's
        // 0=Sunday convention (Spark dayofweek is 1=Sunday)
        Tables.events(s, d)
          .select(year(col("ts")).as("y"), month(col("ts")).as("m"),
            dayofmonth(col("ts")).as("dom"), hour(col("ts")).as("h"),
            (dayofweek(col("ts")) - 1).as("dow"))
          .groupBy(col("y"), col("m"), col("dow"))
          .agg(count(lit(1)).as("n"), countDistinct(col("dom")).as("n_days"),
            countDistinct(col("h")).as("n_hours"))
          .orderBy(col("y"), col("m"), col("dow"))
      },
      Some("""
        SELECT CAST(year(ts) AS INT) AS y, CAST(month(ts) AS INT) AS m,
               CAST(dayofweek(ts) AS INT) AS dow,
               CAST(count(*) AS BIGINT) AS n,
               CAST(count(DISTINCT day(ts)) AS BIGINT) AS n_days,
               CAST(count(DISTINCT hour(ts)) AS BIGINT) AS n_hours
        FROM events GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""")),

    "text_levenshtein" -> QueryDef(
      (s, d) => {
        // exact edit distance between 40-char prefixes of near-id docs —
        // string-function parity surface (both engines compute classic
        // Levenshtein)
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), expr("substring(text, 1, 40)").as("p"))
        docs.toDF("doc_a", "pa")
          .join(docs.toDF("doc_b", "pb"), col("doc_b") === col("doc_a") + 1)
          .selectExpr("doc_a", "doc_b", "levenshtein(pa, pb) AS dist")
          .orderBy(col("doc_a"))
      },
      Some("""
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(levenshtein(substring(a.text, 1, 40), substring(b.text, 1, 40)) AS INT) AS dist
        FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        ORDER BY doc_a""")),

    // Interval-overlap self-join, key-blocked — the distributed interval
    // join: each order carries a 7-day activity window and the query
    // finds same-customer pairs whose windows overlap. The join key is
    // the BLOCK (o_custkey), so the quadratic term is bounded per key by
    // orders-per-customer, never corpus-global; the overlap predicate
    // filters inside each block. This is how interval joins survive
    // 100 TB: a cross join with an overlap filter is quadratic in the
    // table, the blocked equi-join is quadratic only within natural keys
    // (time-bucket blocking is the same plan when no natural key exists).
    // Top-20 customers by overlap count, deterministic tie-breaks.
    "join_interval_overlap" -> QueryDef(
      (s, d) => {
        val o = Tables.orders(s, d).selectExpr("o_custkey", "o_orderkey",
          "CAST(o_orderdate AS DATE) AS d0",
          "CAST(o_orderdate AS DATE) + INTERVAL 7 DAYS AS d1")
        val pairs = o.toDF("c", "k_a", "a0", "a1")
          .join(o.toDF("c2", "k_b", "b0", "b1"),
            col("c") === col("c2") && col("k_a") < col("k_b") &&
              col("a0") <= col("b1") && col("b0") <= col("a1"))
        // top-20 exits via sort+limit (TakeOrderedAndProject); the rank
        // column is assigned after the limit, over 20 rows (r9, was
        // rank-then-filter through a single-task global window over the
        // per-customer aggregate — customers grow with the corpus)
        pairs.groupBy(col("c")).agg(count(lit(1)).as("n_overlaps"))
          .orderBy(col("n_overlaps").desc, col("c")).limit(20)
          .withColumn("rn", row_number().over(
            Window.orderBy(col("n_overlaps").desc, col("c"))))
          .selectExpr("CAST(rn AS BIGINT) AS rn", "c AS o_custkey",
            "CAST(n_overlaps AS BIGINT) AS n_overlaps")
          .orderBy(col("rn"))
      },
      Some("""
        WITH o AS (
          SELECT o_custkey AS c, o_orderkey AS k,
                 CAST(o_orderdate AS DATE) AS d0,
                 CAST(o_orderdate AS DATE) + INTERVAL 7 DAY AS d1
          FROM orders),
        p AS (
          SELECT a.c, CAST(count(*) AS BIGINT) AS n_overlaps
          FROM o a JOIN o b
            ON a.c = b.c AND a.k < b.k AND a.d0 <= b.d1 AND b.d0 <= a.d1
          GROUP BY a.c),
        r AS (
          SELECT c, n_overlaps,
                 row_number() OVER (ORDER BY n_overlaps DESC, c) AS rn
          FROM p)
        SELECT CAST(rn AS BIGINT) AS rn, c AS o_custkey, n_overlaps
        FROM r WHERE rn <= 20 ORDER BY rn""")),

    "join_range_bands" -> QueryDef(
      (s, d) => {
        // range (non-equi) join: classify event values into broadcast
        // literal bands - the plan is a broadcast nested loop with the
        // tiny band table on the build side, the scalable shape for
        // range joins against a small dimension
        val bands = s.range(0, 10).selectExpr("id AS band",
          "CAST(id * 50 AS DOUBLE) AS lo", "CAST((id + 1) * 50 AS DOUBLE) AS hi")
        Tables.events(s, d)
          .join(broadcast(bands), col("value") >= col("lo") && col("value") < col("hi"))
          .groupBy(col("band"))
          .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
          .orderBy(col("band"))
      },
      Some("""
        SELECT b.band, CAST(count(*) AS BIGINT) AS n, round(sum(e.value), 2) AS sum_value
        FROM events e JOIN (
          SELECT i AS band, CAST(i * 50 AS DOUBLE) AS lo, CAST((i + 1) * 50 AS DOUBLE) AS hi
          FROM range(0, 10) t(i)) b
          ON e.value >= b.lo AND e.value < b.hi
        GROUP BY b.band ORDER BY b.band""")),

    "setop_union_by_name" -> QueryDef(
      (s, d) => {
        // schema-drift union: v1 rows lack the product-ish column, v2
        // rows carry it - unionByName with allowMissingColumns is the
        // batch analogue of the sink's additive evolution
        val ev = Tables.events(s, d)
        val v1 = ev.filter(col("event_id") % 2 === 0)
          .select(col("event_id"), col("event_type"))
        val v2 = ev.filter(col("event_id") % 2 === 1)
          .select(col("event_id"), col("event_type"), round(col("value"), 2).as("value"))
        v1.unionByName(v2, allowMissingColumns = true)
          .orderBy(col("event_id"))
      },
      Some("""
        SELECT event_id, event_type, NULL AS value FROM events WHERE event_id % 2 = 0
        UNION ALL BY NAME
        SELECT event_id, event_type, round(value, 2) AS value FROM events WHERE event_id % 2 = 1
        ORDER BY event_id""")),

    // ---- window functions ----------------------------------------------
    "window_topk_orders" -> QueryDef(
      (s, d) => {
        val w = Window.partitionBy(col("o_orderpriority"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        Tables.orders(s, d)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select(col("o_orderpriority"), col("rn"), col("o_orderkey"),
            round(col("o_totalprice"), 2).as("o_totalprice"))
          .orderBy(col("o_orderpriority"), col("rn"))
      },
      Some("""
        SELECT o_orderpriority, rn, o_orderkey, round(o_totalprice, 2) AS o_totalprice
        FROM (
          SELECT o_orderpriority, o_orderkey, o_totalprice,
                 CAST(row_number() OVER (PARTITION BY o_orderpriority
                     ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rn
          FROM orders) t
        WHERE rn <= 3 ORDER BY o_orderpriority, rn""")),

    "window_running_supplier" -> QueryDef(
      (s, d) => {
        val w = Window.partitionBy(col("l_suppkey"))
          .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.lineitem(s, d)
          .filter(col("l_suppkey") < 4)
          .withColumn("running_qty", round(sum(col("l_quantity")).over(w), 2))
          .select(col("l_suppkey"), to_date(col("l_shipdate")).as("ship_date"),
            col("l_orderkey"), col("l_linenumber"), col("running_qty"))
          .orderBy(col("l_suppkey"), col("ship_date"), col("l_orderkey"), col("l_linenumber"))
      },
      Some("""
        SELECT l_suppkey, CAST(l_shipdate AS DATE) AS ship_date,
               l_orderkey, l_linenumber,
               round(sum(l_quantity) OVER (PARTITION BY l_suppkey
                   ORDER BY l_shipdate, l_orderkey, l_linenumber
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_qty
        FROM lineitem WHERE l_suppkey < 4
        ORDER BY l_suppkey, ship_date, l_orderkey, l_linenumber""")),

    "window_lag_events" -> QueryDef(
      (s, d) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        Tables.events(s, d)
          .filter(col("user_id") < 6)
          .withColumn("delta", round(col("value") - lag(col("value"), 1).over(w), 2))
          .select(col("user_id"), col("event_id"), round(col("value"), 2).as("value"), col("delta"))
          .orderBy(col("user_id"), col("event_id"))
      },
      Some("""
        SELECT user_id, event_id, round(value, 2) AS value,
               round(value - lag(value) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id), 2) AS delta
        FROM events WHERE user_id < 6
        ORDER BY user_id, event_id""")),

    "window_ntile_orders" -> QueryDef(
      (s, d) => {
        val w = Window.partitionBy(col("o_orderstatus"))
          .orderBy(col("o_totalprice"), col("o_orderkey"))
        Tables.orders(s, d)
          .withColumn("quartile", ntile(4).over(w))
          .groupBy(col("o_orderstatus"), col("quartile"))
          .agg(count(lit(1)).as("n"),
            round(min(col("o_totalprice")), 2).as("lo"),
            round(max(col("o_totalprice")), 2).as("hi"))
          .orderBy(col("o_orderstatus"), col("quartile"))
      },
      Some("""
        SELECT o_orderstatus, quartile, CAST(count(*) AS BIGINT) AS n,
               round(min(o_totalprice), 2) AS lo, round(max(o_totalprice), 2) AS hi
        FROM (
          SELECT o_orderstatus, o_totalprice,
                 CAST(ntile(4) OVER (PARTITION BY o_orderstatus
                     ORDER BY o_totalprice, o_orderkey) AS INTEGER) AS quartile
          FROM orders) t
        GROUP BY o_orderstatus, quartile ORDER BY o_orderstatus, quartile""")),

    // Calendar arithmetic surface (datediff / date_add / last_day /
    // year-month parts) — emitted as DATE and BIGINT columns, the two
    // types the oracle gate hashes build-independently.
    "time_date_arith" -> QueryDef(
      (s, d) => {
        Tables.orders(s, d)
          .filter(col("o_orderkey") % 997 === 0)
          .withColumn("od", to_date(col("o_orderdate")))
          .select(col("o_orderkey"), col("od"),
            datediff(lit(java.sql.Date.valueOf("2000-01-01")), col("od"))
              .cast("long").as("days_to_y2k"),
            date_add(col("od"), 90).as("due"),
            last_day(col("od")).as("eom"),
            (year(col("od")) * 100 + month(col("od"))).cast("long").as("yyyymm"))
          .orderBy(col("o_orderkey"))
      },
      Some("""
        SELECT o_orderkey, CAST(o_orderdate AS DATE) AS od,
               CAST(datediff('day', CAST(o_orderdate AS DATE), DATE '2000-01-01') AS BIGINT) AS days_to_y2k,
               CAST(o_orderdate AS DATE) + 90 AS due,
               last_day(CAST(o_orderdate AS DATE)) AS eom,
               CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT) AS yyyymm
        FROM orders WHERE o_orderkey % 997 = 0
        ORDER BY o_orderkey""")),

    // ---- event-time operations -----------------------------------------
    "time_tumbling_events" -> QueryDef(
      (s, d) => {
        Tables.events(s, d)
          .withColumn("bucket_s", epochUs(date_trunc("hour", col("ts"))) / lit(1000000L))
          .withColumn("bucket_s", col("bucket_s").cast("long"))
          .groupBy(col("bucket_s"), col("event_type"))
          .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
          .orderBy(col("bucket_s"), col("event_type"))
      },
      Some("""
        SELECT CAST(epoch_us(date_trunc('hour', ts)) // 1000000 AS BIGINT) AS bucket_s,
               event_type, CAST(count(*) AS BIGINT) AS n,
               round(sum(value), 2) AS sum_value
        FROM events GROUP BY 1, 2 ORDER BY 1, 2""")),

    // SQL-authored entrypoint with correlated NOT EXISTS and scalar
    // subqueries (TPC-H Q22 shape): customers above the positive-balance
    // average with no BIG (>300k) order, per nation (this testdata gives
    // every customer at least one order, so the plain Q22 predicate
    // would be vacuously empty). The engine's SQL surface is the
    // same Catalyst planner as the DataFrame API, so EXISTS decorrelates
    // to the same anti-join q4 uses — declared here as SQL because a user
    // of the engine writes this query as SQL. The average threshold is
    // compared by integer cross-multiplication (cents * n > sum_cents),
    // not a derived double, so both engines agree bit-exactly.
    "sql_q22_no_orders" -> QueryDef(
      (s, d) => {
        Tables.customer(s, d).createOrReplaceTempView("graft_customer")
        Tables.orders(s, d).createOrReplaceTempView("graft_orders")
        val cents = Q.scaledLong("c_acctbal", 2)
        s.sql(s"""
          SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_cust,
                 CAST(sum($cents) AS BIGINT) AS bal_cents
          FROM graft_customer c
          WHERE $cents * (SELECT count(*) FROM graft_customer WHERE c_acctbal > 0.0)
                > (SELECT CAST(sum($cents) AS BIGINT) FROM graft_customer WHERE c_acctbal > 0.0)
            AND NOT EXISTS (SELECT 1 FROM graft_orders o
                            WHERE o.o_custkey = c.c_custkey
                              AND o.o_totalprice > 300000.0)
          GROUP BY c_nationkey ORDER BY c_nationkey""")
      },
      Some {
        val cents = Q.scaledLong("c_acctbal", 2)
        s"""
        SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_cust,
               CAST(sum($cents) AS BIGINT) AS bal_cents
        FROM customer c
        WHERE $cents * (SELECT count(*) FROM customer WHERE c_acctbal > 0.0)
              > (SELECT CAST(sum($cents) AS BIGINT) FROM customer WHERE c_acctbal > 0.0)
          AND NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_totalprice > 300000.0)
        GROUP BY c_nationkey ORDER BY c_nationkey"""
      }),

    // Declarative data-quality constraint report (the deequ pattern):
    // five constraints — completeness, key uniqueness, value compliance,
    // domain membership, positivity — compiled into ONE aggregation pass
    // over orders (N constraints = one scan, the metrics fold in the
    // same partial aggregate), then unpivoted into a (constraint,
    // metric_ppm, pass) report. Metrics are floor-scaled ppm integers so
    // the report is bit-portable; DuckDB re-derives each metric
    // independently.
    // Referential-integrity audit across the star schema: one row per FK
    // edge with the child count and the orphan count (child keys with no
    // parent). Complements quality_constraint_report (single-table) with
    // the cross-table class of data-quality checks a warehouse gate runs
    // before publishing a snapshot.
    //
    // Scale shape: each edge pre-aggregates the child side to DISTINCT
    // key counts BEFORE joining — the join input is key-cardinality, not
    // child-row cardinality — then left-joins the parent key set:
    // bounded parents (nation, region) broadcast, unbounded ones
    // (orders, customer) stay key-partitioned. A NULL parent key after
    // the join marks the orphans; no edge ever shuffles raw child rows.
    "quality_fk_orphans" -> QueryDef(
      (s, d) => {
        def edge(name: String, child: DataFrame, ck: String,
                 parent: DataFrame, pk: String, bcast: Boolean): DataFrame = {
          val keyed = child.groupBy(col(ck)).agg(count(lit(1)).as("n"))
          val p0 = parent.select(col(pk))
          val p = if (bcast) broadcast(p0) else p0
          keyed.join(p, col(ck) === col(pk), "left")
            .agg(sum(col("n")).as("n_child"),
              coalesce(sum(when(col(pk).isNull, col("n"))), lit(0L)).as("n_orphans"))
            .select(lit(name).as("edge"), col("n_child"), col("n_orphans"))
        }
        edge("customer_nation", Tables.customer(s, d), "c_nationkey",
            Tables.nation(s, d), "n_nationkey", bcast = true)
          .unionAll(edge("lineitem_orders", Tables.lineitem(s, d), "l_orderkey",
            Tables.orders(s, d), "o_orderkey", bcast = false))
          .unionAll(edge("nation_region", Tables.nation(s, d), "n_regionkey",
            Tables.region(s, d), "r_regionkey", bcast = true))
          .unionAll(edge("orders_customer", Tables.orders(s, d), "o_custkey",
            Tables.customer(s, d), "c_custkey", bcast = false))
          .unionAll(edge("supplier_nation", Tables.supplier(s, d), "s_nationkey",
            Tables.nation(s, d), "n_nationkey", bcast = true))
          .orderBy(col("edge"))
      },
      Some {
        def edge(name: String, child: String, ck: String,
                 parent: String, pk: String) = s"""
          SELECT '$name' AS edge, CAST(sum(n) AS BIGINT) AS n_child,
                 CAST(coalesce(sum(CASE WHEN p.$pk IS NULL THEN n END), 0) AS BIGINT) AS n_orphans
          FROM (SELECT $ck, count(*) AS n FROM $child GROUP BY $ck) c
          LEFT JOIN $parent p ON c.$ck = p.$pk"""
        Seq(
          edge("customer_nation", "customer", "c_nationkey", "nation", "n_nationkey"),
          edge("lineitem_orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
          edge("nation_region", "nation", "n_regionkey", "region", "r_regionkey"),
          edge("orders_customer", "orders", "o_custkey", "customer", "c_custkey"),
          edge("supplier_nation", "supplier", "s_nationkey", "nation", "n_nationkey"))
          .mkString(" UNION ALL ") + " ORDER BY edge"
      }),

    "quality_constraint_report" -> QueryDef(
      (s, d) => {
        import graft.engine.ops.Checks
        Checks.run(Tables.orders(s, d), Seq(
          Checks.Constraint("custkey_complete",
            Checks.completeness(col("o_custkey")), 1000000L),
          Checks.Constraint("orderkey_unique",
            Checks.uniqueness(col("o_orderkey")), 1000000L),
          Checks.Constraint("price_positive",
            Checks.compliance(col("o_totalprice") > 0.0), 1000000L),
          Checks.Constraint("status_in_domain",
            Checks.compliance(col("o_orderstatus").isin("F", "O", "P")), 1000000L),
          Checks.Constraint("priority_urgent_share",
            Checks.compliance(col("o_orderpriority") === "1-URGENT"), 300000L)))
          .orderBy(col("constraint_name"))
      },
      Some("""
        SELECT constraint_name, metric_ppm,
               CAST(CASE WHEN metric_ppm >= min_ppm THEN 1 ELSE 0 END AS BIGINT) AS pass
        FROM (
          SELECT 'custkey_complete' AS constraint_name, 1000000 AS min_ppm,
                 CAST(floor(count(o_custkey) * 1000000.0 / count(*)) AS BIGINT) AS metric_ppm
          FROM orders
          UNION ALL
          SELECT 'orderkey_unique', 1000000,
                 CAST(floor(count(DISTINCT o_orderkey) * 1000000.0 / count(*)) AS BIGINT)
          FROM orders
          UNION ALL
          SELECT 'price_positive', 1000000,
                 CAST(floor(count(CASE WHEN o_totalprice > 0.0 THEN 1 END) * 1000000.0 / count(*)) AS BIGINT)
          FROM orders
          UNION ALL
          SELECT 'status_in_domain', 1000000,
                 CAST(floor(count(CASE WHEN o_orderstatus IN ('F','O','P') THEN 1 END) * 1000000.0 / count(*)) AS BIGINT)
          FROM orders
          UNION ALL
          SELECT 'priority_urgent_share', 300000,
                 CAST(floor(count(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END) * 1000000.0 / count(*)) AS BIGINT)
          FROM orders)
        ORDER BY constraint_name""")),

    // ONE-PASS column profiler — the "profile before you write
    // constraints" companion to quality_constraint_report: per-column
    // null count and exact distinct count over orders, computed in a
    // SINGLE aggregate (Catalyst compiles the multi-distinct aggregate
    // to one Expand + partial-agg pass; profiling N columns never
    // becomes N table scans — the difference between a profiler that
    // runs nightly at 100 TB and one that can't), then stack()-unpivoted
    // into the long (column_name, n_rows, n_nulls, n_distinct) report.
    // DuckDB re-derives each column independently; integer outputs only.
    "quality_profile_columns" -> QueryDef(
      (s, d) => {
        val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
          "o_totalprice", "o_orderpriority")
        val aggs =
          count(lit(1)).as("n_rows") +:
          cols.flatMap(c => Seq(
            sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nn_$c"),
            countDistinct(col(c)).as(s"nd_$c")))
        val stackArgs = cols
          .map(c => s"'$c', nn_$c, nd_$c").mkString(", ")
        Tables.orders(s, d)
          .agg(aggs.head, aggs.tail: _*)
          .selectExpr("n_rows",
            s"stack(${cols.size}, $stackArgs) AS (column_name, n_nulls, n_distinct)")
          .selectExpr("column_name", "CAST(n_rows AS BIGINT) AS n_rows",
            "CAST(n_nulls AS BIGINT) AS n_nulls",
            "CAST(n_distinct AS BIGINT) AS n_distinct")
          .orderBy(col("column_name"))
      },
      Some {
        val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
          "o_totalprice", "o_orderpriority")
        val selects = cols.map { c =>
          s"""SELECT '$c' AS column_name, CAST(count(*) AS BIGINT) AS n_rows,
                 CAST(count(*) - count($c) AS BIGINT) AS n_nulls,
                 CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct
          FROM orders"""
        }
        s"""${selects.mkString(" UNION ALL ")} ORDER BY column_name"""
      }),

    // Heavy-hitter key diagnostic — the skew probe run BEFORE choosing a
    // join/agg strategy at scale: top-10 l_partkey values of lineitem by
    // row count with each key's exact ppm share of the table. One
    // map-side-partial aggregation over the scan, one small top-k — the
    // output is what decides broadcast vs salt vs AQE-skew-join for every
    // downstream part-key join (join_salted_skew is the treatment; this
    // is the diagnosis). Integer ppm via BIGINT division, exact in both
    // engines; full tie-breaks keep top-10 deterministic. Scale shape
    // (r9, was rank-then-filter through a single-task global window plus
    // an empty-partition total window): the top-10 exits via sort+limit
    // (TakeOrderedAndProject — per-partition top-k then a 10-row merge),
    // the grand total joins as a broadcast 1-row aggregate, and the rank
    // column is assigned AFTER the limit, over 10 rows.
    "diag_key_skew" -> QueryDef(
      (s, d) => {
        // persisted: feeds both the grand total and the top-k (one fact
        // scan, two consumers of the per-part aggregate)
        val agg = Tables.lineitem(s, d)
          .groupBy(col("l_partkey")).agg(count(lit(1)).as("cnt"))
          .persistScoped()
        val tot = agg.agg(sum(col("cnt")).as("total"))
        agg.orderBy(col("cnt").desc, col("l_partkey")).limit(10)
          .crossJoin(broadcast(tot))
          .withColumn("rn", row_number().over(
            Window.orderBy(col("cnt").desc, col("l_partkey"))))
          .selectExpr("CAST(rn AS BIGINT) AS rn", "l_partkey",
            "CAST(cnt AS BIGINT) AS cnt",
            "CAST(cnt * 1000000 DIV total AS BIGINT) AS share_ppm")
          .orderBy(col("rn"))
      },
      Some("""
        WITH g AS (
          SELECT l_partkey, CAST(count(*) AS BIGINT) AS cnt FROM lineitem
          GROUP BY l_partkey),
        r AS (
          SELECT l_partkey, cnt,
                 CAST(sum(cnt) OVER () AS BIGINT) AS total,
                 row_number() OVER (ORDER BY cnt DESC, l_partkey) AS rn
          FROM g)
        SELECT CAST(rn AS BIGINT) AS rn, l_partkey, cnt,
               CAST(cnt * 1000000 // total AS BIGINT) AS share_ppm
        FROM r WHERE rn <= 10 ORDER BY rn""")),

    // Windowed DISTINCT count via the dense_rank idiom: neither engine
    // allows COUNT(DISTINCT) OVER a plain partition portably, and the
    // naive rewrite (collect_set per row) materializes per-row state.
    // The portable plan: dense_rank over (status ORDER BY custkey), then
    // max(rank) over (status) = the distinct customer count, attached to
    // every row before the per-(status, priority) rollup. Both windows
    // and the final aggregate key on o_orderstatus first, so the whole
    // query is ONE exchange on the status key reused end-to-end — the
    // same single-shuffle discipline scd2 pins.
    "window_distinct_customers" -> QueryDef(
      (s, d) => {
        val byStatus = Window.partitionBy(col("o_orderstatus"))
        Tables.orders(s, d)
          .select(col("o_orderstatus"), col("o_orderpriority"), col("o_custkey"))
          .withColumn("dr", dense_rank().over(byStatus.orderBy(col("o_custkey"))))
          .withColumn("nd", max(col("dr")).over(byStatus))
          .groupBy(col("o_orderstatus"), col("o_orderpriority"))
          .agg(count(lit(1)).as("n_orders"), max(col("nd")).as("distinct_custs"))
          .selectExpr("o_orderstatus", "o_orderpriority",
            "CAST(n_orders AS BIGINT) AS n_orders",
            "CAST(distinct_custs AS BIGINT) AS distinct_custs")
          .orderBy(col("o_orderstatus"), col("o_orderpriority"))
      },
      Some("""
        WITH r AS (
          SELECT o_orderstatus, o_orderpriority,
                 dense_rank() OVER (PARTITION BY o_orderstatus
                                    ORDER BY o_custkey) AS dr
          FROM orders),
        m AS (
          SELECT o_orderstatus, o_orderpriority,
                 max(dr) OVER (PARTITION BY o_orderstatus) AS nd
          FROM r)
        SELECT o_orderstatus, o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(max(nd) AS BIGINT) AS distinct_custs
        FROM m GROUP BY o_orderstatus, o_orderpriority
        ORDER BY o_orderstatus, o_orderpriority""")),

    // Recursive CTE (Spark 4.1 WITH RECURSIVE) — the calendar-spine
    // densification idiom: recursion generates every month in the data's
    // range, the left join zero-fills months with no orders (a plain
    // GROUP BY would silently skip them — exactly the rows a time-series
    // consumer needs present). Both engines run the same recursive SQL.
    "sql_recursive_spine" -> QueryDef(
      (s, d) => {
        Tables.orders(s, d).createOrReplaceTempView("graft_orders_sp")
        s.sql("""
          WITH RECURSIVE months(m) AS (
            SELECT DATE '1995-01-01'
            UNION ALL SELECT CAST(m + INTERVAL '1' MONTH AS DATE)
            FROM months WHERE m < DATE '2001-12-01')
          SELECT m, CAST(count(o_orderkey) AS BIGINT) AS n_orders
          FROM months LEFT JOIN graft_orders_sp
            ON CAST(date_trunc('month', o_orderdate) AS DATE) = m
          GROUP BY m ORDER BY m""")
      },
      Some("""
        WITH RECURSIVE months(m) AS (
          SELECT DATE '1995-01-01'
          UNION ALL SELECT CAST(m + INTERVAL 1 MONTH AS DATE)
          FROM months WHERE m < DATE '2001-12-01')
        SELECT m, CAST(count(o_orderkey) AS BIGINT) AS n_orders
        FROM months LEFT JOIN orders
          ON CAST(date_trunc('month', o_orderdate) AS DATE) = m
        GROUP BY m ORDER BY m""")),

    // Parameterized SQL (named-parameter binding, not string splicing) —
    // the injection-safe API a service embedding this engine uses. The
    // parameters bind typed values into the plan; the oracle is the same
    // statement with literals.
    "sql_parameterized" -> QueryDef(
      (s, d) => {
        Tables.orders(s, d).createOrReplaceTempView("graft_orders_pm")
        s.sql(
          """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n
             FROM graft_orders_pm
             WHERE o_totalprice > :threshold AND o_orderpriority = :prio
             GROUP BY o_orderstatus ORDER BY o_orderstatus""",
          Map("threshold" -> 250000.0, "prio" -> "1-URGENT"))
      },
      Some("""
        SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n
        FROM orders
        WHERE o_totalprice > 250000.0 AND o_orderpriority = '1-URGENT'
        GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    // Correlated LATERAL subquery with LIMIT — per-region top-2 nations
    // by customer count, SQL-authored (the "top-N per group as a lateral
    // join" idiom). Spark decorrelates the lateral into a join +
    // per-group limit; the inner ORDER BY carries a full tie-break so
    // the 2 survivors are unique. DuckDB runs the identical lateral.
    "sql_lateral_topn" -> QueryDef(
      (s, d) => {
        Tables.region(s, d).createOrReplaceTempView("graft_region")
        Tables.nation(s, d).createOrReplaceTempView("graft_nation")
        Tables.customer(s, d).createOrReplaceTempView("graft_customer2")
        s.sql("""
          SELECT r_name, n_name, n_cust
          FROM graft_region, LATERAL (
            SELECT n_name, CAST(count(*) AS BIGINT) AS n_cust
            FROM graft_nation JOIN graft_customer2 ON c_nationkey = n_nationkey
            WHERE n_regionkey = r_regionkey
            GROUP BY n_name ORDER BY n_cust DESC, n_name LIMIT 2)
          ORDER BY r_name, n_cust DESC, n_name""")
      },
      Some("""
        SELECT r_name, n_name, n_cust
        FROM region, LATERAL (
          SELECT n_name, CAST(count(*) AS BIGINT) AS n_cust
          FROM nation JOIN customer ON c_nationkey = n_nationkey
          WHERE n_regionkey = r_regionkey
          GROUP BY n_name ORDER BY n_cust DESC, n_name LIMIT 2) t
        ORDER BY r_name, n_cust DESC, n_name""")),

    // Exact distinct counting via bitmap aggregates — the mergeable
    // EXACT alternative to HLL (agg_approx_distinct): keys bucket into
    // fixed 32k-bit bitmaps, per-bucket bitmaps OR together, distinct =
    // Σ popcount. Unlike a sketch this is value-exact, so it sits under
    // the oracle gate against count(DISTINCT) — and unlike
    // count(DISTINCT) it needs no full shuffle of the key space at
    // scale, just bitmap merges (the same merge-tree HLL uses, with
    // exactness instead of error bounds).
    "agg_bitmap_distinct" -> QueryDef(
      (s, d) => {
        Tables.lineitem(s, d)
          .selectExpr("l_returnflag", "l_partkey",
            "bitmap_bucket_number(l_partkey) AS bkt",
            "bitmap_bit_position(l_partkey) AS pos")
          .groupBy(col("l_returnflag"), col("bkt"))
          .agg(expr("bitmap_construct_agg(pos)").as("bm"))
          .groupBy(col("l_returnflag"))
          .agg(expr("sum(bitmap_count(bm))").as("n_parts"))
          .orderBy(col("l_returnflag"))
      },
      Some("""
        SELECT l_returnflag, CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // VARIANT (semi-structured) ingestion — Spark 4's open JSON type:
    // props parses ONCE into a variant value, fields extract with
    // variant_get path+type. The relational twin via get_json_object is
    // json_props_events; this declares the typed-variant surface and
    // gates its extracted values exactly.
    "variant_props_events" -> QueryDef(
      (s, d) => {
        Tables.events(s, d)
          .selectExpr("event_type",
            "variant_get(parse_json(props), '$.k', 'bigint') AS k")
          .groupBy(col("event_type"))
          .agg(count(col("k")).as("n_k"), sum(col("k")).as("sum_k"),
            max(col("k")).as("max_k"))
          .orderBy(col("event_type"))
      },
      Some("""
        SELECT event_type,
               CAST(count(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS n_k,
               CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
               CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
        FROM events GROUP BY event_type ORDER BY event_type""")),

    // Explicit cross join — the one declared join shape left: both sides
    // are genuinely bounded dimensions (region 5 x nation 25), the only
    // case a deliberate cartesian is legitimate at scale (it plans as a
    // broadcast nested loop over tiny inputs).
    "join_cross_region_nation" -> QueryDef(
      (s, d) => {
        Tables.region(s, d).select(col("r_name"))
          .crossJoin(Tables.nation(s, d).select(col("n_name")))
          .orderBy(col("r_name"), col("n_name"))
      },
      Some("""
        SELECT r_name, n_name FROM region CROSS JOIN nation
        ORDER BY r_name, n_name""")),

    // Collection aggregation (collect_list -> array_sort / array_distinct
    // / array_join): the per-key list materialization a feature-
    // engineering export uses (e.g. per-user event sequences). The array
    // is reduced to a canonical string + cardinality so the compare is
    // order-deterministic; DuckDB mirrors with list()/list_sort. Scale:
    // one hash shuffle on the (pre-filtered) key; per-group arrays are
    // bounded by lines-per-order (<=7), never the table.
    "agg_collect_arrays" -> QueryDef(
      (s, d) => {
        Tables.lineitem(s, d)
          .filter(col("l_orderkey") % 97 === 0)
          .withColumn("q", col("l_quantity").cast("long"))
          .groupBy(col("l_orderkey"))
          .agg(
            array_join(array_sort(collect_list(col("q"))), ",").as("qtys"),
            size(array_distinct(collect_list(col("q")))).cast("long").as("n_uniq"))
          .orderBy(col("l_orderkey"))
      },
      Some("""
        SELECT l_orderkey,
               array_to_string(list_sort(list(CAST(l_quantity AS BIGINT))), ',') AS qtys,
               CAST(len(list_distinct(list(CAST(l_quantity AS BIGINT)))) AS BIGINT) AS n_uniq
        FROM lineitem WHERE l_orderkey % 97 = 0
        GROUP BY l_orderkey ORDER BY l_orderkey""")),

    // Sliding (hopping) windows over the batch table: 1-hour windows
    // every 30 minutes, so each event contributes to len/slide = 2
    // windows. Spark's window(ts, len, slide) generates the fan-out
    // row-locally before the grouping shuffle; DuckDB mirrors it by
    // cross-joining each row to its k = 0,1 window starts.
    "time_sliding_events" -> QueryDef(
      (s, d) => {
        Tables.events(s, d)
          .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
          .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
          .select((epochUs(col("window.start")) / lit(1000000L)).cast("long").as("ws_s"),
            col("event_type"), col("n"), col("sum_value"))
          .orderBy(col("ws_s"), col("event_type"))
      },
      Some("""
        SELECT CAST(epoch_us(time_bucket(INTERVAL '30 minutes', ts)
                    - k * (INTERVAL '30 minutes')) // 1000000 AS BIGINT) AS ws_s,
               event_type, CAST(count(*) AS BIGINT) AS n,
               round(sum(value), 2) AS sum_value
        FROM events CROSS JOIN (SELECT unnest([0, 1]) AS k) ks
        GROUP BY 1, 2 ORDER BY 1, 2""")),

    // Ordered conversion funnel (signup -> view -> click -> purchase):
    // each stage's timestamp must follow the PREVIOUS stage's for that
    // user — sequential mins, not independent conditional aggregates.
    // Expressed as a cascade of filter->join->groupBy(user) steps; each
    // stage shuffles only ITS event-type slice (the filter lands before
    // the exchange), so the four stages together move about one pass of
    // the table, and the per-user stage frames are tiny (one row per
    // surviving user) — at test scale they all broadcast; at 100 TB AQE
    // swaps the joins to co-partitioned shuffles on user_id. All time
    // arithmetic in epoch-us BIGINTs; emits users reaching each stage
    // plus the exact summed signup->stage lag.
    "funnel_user_stages" -> QueryDef(
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("user_id"), col("event_type"), epochUs(col("ts")).as("tus"))
          .persistScoped()
        val s0 = ev.filter(col("event_type") === "signup")
          .groupBy(col("user_id")).agg(min(col("tus")).as("t0"))
        def stage(prev: DataFrame, prevT: String, ty: String, outT: String) =
          ev.filter(col("event_type") === ty)
            .join(prev, "user_id")
            .filter(col("tus") >= col(prevT))
            .groupBy(col("user_id"))
            .agg(min(col("tus")).as(outT), min(col("t0")).as("t0"))
        // each stage frame feeds BOTH its own summary and the next stage:
        // persist the tiny per-user frames so no aggregation re-runs
        val v = stage(s0.persistScoped(), "t0", "view", "t1")
        val c = stage(v.persistScoped(), "t1", "click", "t2")
        val p = stage(c.persistScoped(), "t2", "purchase", "t3")
        def summarize(df: DataFrame, tcol: String, label: String) =
          df.agg(count(lit(1)).as("n_users"),
            coalesce(sum(col(tcol) - col("t0")), lit(0L)).as("sum_lag_us"))
            .select(lit(label).as("stage"), col("n_users"), col("sum_lag_us"))
        summarize(s0, "t0", "1_signup")
          .unionByName(summarize(v, "t1", "2_view"))
          .unionByName(summarize(c, "t2", "3_click"))
          .unionByName(summarize(p, "t3", "4_purchase"))
          .orderBy(col("stage"))
      },
      Some("""
        WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS tus FROM events),
        s0 AS (SELECT user_id, min(tus) AS t0 FROM ev
               WHERE event_type = 'signup' GROUP BY user_id),
        v AS (SELECT e.user_id, min(e.tus) AS t1, min(p.t0) AS t0
              FROM ev e JOIN s0 p ON e.user_id = p.user_id
              WHERE e.event_type = 'view' AND e.tus >= p.t0 GROUP BY e.user_id),
        c AS (SELECT e.user_id, min(e.tus) AS t2, min(p.t0) AS t0
              FROM ev e JOIN v p ON e.user_id = p.user_id
              WHERE e.event_type = 'click' AND e.tus >= p.t1 GROUP BY e.user_id),
        pu AS (SELECT e.user_id, min(e.tus) AS t3, min(p.t0) AS t0
               FROM ev e JOIN c p ON e.user_id = p.user_id
               WHERE e.event_type = 'purchase' AND e.tus >= p.t2 GROUP BY e.user_id)
        SELECT stage, n_users, sum_lag_us FROM (
          SELECT '1_signup' AS stage, CAST(count(*) AS BIGINT) AS n_users,
                 CAST(0 AS BIGINT) AS sum_lag_us FROM s0
          UNION ALL
          SELECT '2_view', CAST(count(*) AS BIGINT),
                 CAST(coalesce(sum(t1 - t0), 0) AS BIGINT) FROM v
          UNION ALL
          SELECT '3_click', CAST(count(*) AS BIGINT),
                 CAST(coalesce(sum(t2 - t0), 0) AS BIGINT) FROM c
          UNION ALL
          SELECT '4_purchase', CAST(count(*) AS BIGINT),
                 CAST(coalesce(sum(t3 - t0), 0) AS BIGINT) FROM pu)
        ORDER BY stage""")),

    // Sigma-band outlier detection in EXACT integer arithmetic: the
    // z-score test |x - mean| > 1.5*sigma is algebraically cross-multiplied
    // into 4*(n*x - sum_x)^2 > 9*(n*sum_xx - sum_x^2) — no division, no
    // sqrt, no floating point anywhere, so the outlier boundary is
    // bit-exact in both engines (a double-sqrt z-score can flip a
    // borderline row between builds). Wide intermediates ride DECIMAL(38)
    // / HUGEINT (the squares exceed BIGINT). Per-segment stats broadcast
    // back onto the rows: one shuffle for the stats, one broadcast join,
    // map-side flagging — the streaming-friendly anomaly shape.
    // (1.5 sigma, not 2: o_totalprice is uniform, whose support ends at
    // 1.73 sigma — a 2-sigma band can never flag anything on it.)
    "quality_outliers_sigma" -> QueryDef(
      (s, d) => {
        val xD = s"CAST(${Q.scaledLong("o_totalprice", 0)} AS DECIMAL(38,0))"
        val o = Tables.orders(s, d)
          .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
          .select(col("c_mktsegment"), expr(xD).as("x"))
          .persistScoped()
        val st = o.groupBy(col("c_mktsegment"))
          .agg(expr("CAST(count(1) AS DECIMAL(38,0))").as("n"),
            expr("sum(x)").as("sx"), expr("sum(x * x)").as("sxx"))
        o.join(broadcast(st), Seq("c_mktsegment"))
          .withColumn("isout",
            expr("4 * (n * x - sx) * (n * x - sx) > 9 * (n * sxx - sx * sx)"))
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n_orders"),
            sum(when(col("isout"), 1L).otherwise(0L)).as("n_outliers"),
            sum(when(col("isout"), col("x")).otherwise(lit(0L))).cast("long").as("out_dollars"))
          .orderBy(col("c_mktsegment"))
      },
      Some(s"""
        WITH o AS (
          SELECT c_mktsegment, CAST(${Q.scaledLong("o_totalprice", 0)} AS HUGEINT) AS x
          FROM orders JOIN customer ON o_custkey = c_custkey),
        st AS (
          SELECT c_mktsegment, CAST(count(*) AS HUGEINT) AS n,
                 sum(x) AS sx, sum(x * x) AS sxx
          FROM o GROUP BY c_mktsegment),
        fl AS (
          SELECT o.c_mktsegment, o.x,
                 4 * (st.n * o.x - st.sx) * (st.n * o.x - st.sx)
                   > 9 * (st.n * st.sxx - st.sx * st.sx) AS isout
          FROM o JOIN st ON o.c_mktsegment = st.c_mktsegment)
        SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CASE WHEN isout THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
               CAST(sum(CASE WHEN isout THEN x ELSE 0 END) AS BIGINT) AS out_dollars
        FROM fl GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    // EXACT two-sample Kolmogorov-Smirnov distance between the value
    // distributions of two event types — the distribution-equality test
    // an experimentation pipeline runs on a metric, complementing PSI's
    // binned drift score with the exact sup-distance over empirical
    // CDFs. Entirely integer: values quantize to cents, the EDF
    // difference cross-multiplies to |n2*F1 - n1*F2| * n1*n2 =
    // |n2*c1 - n1*c2| (evaluated at every DISTINCT pooled value, where
    // EDFs jump — ties handled exactly by construction), and the
    // statistic exits as the integer numerator plus its e6-scaled ratio.
    //
    // Scale shape: one groupBy(value) of the filtered fact, then BOTH
    // samples' EDF cumulatives ride one distributed runningSums pass
    // over the distinct-value frame (r9, was an unpartitioned cumulative
    // window plus a literal-partition total window — the value domain
    // bounds the frame, but one task still carried every distinct
    // value); the totals join as a broadcast 1-row aggregate.
    "stats_ks_two_sample" -> QueryDef(
      (s, d) => {
        val ev = Tables.events(s, d)
          .filter(col("event_type").isin("click", "view"))
          .select(expr(Q.scaledLong("value", 2)).as("v"),
            (col("event_type") === "click").cast("long").as("isa"))
        val byV = ev.groupBy(col("v"))
          .agg(sum(col("isa")).as("a"), sum(lit(1L) - col("isa")).as("b"))
          .persistScoped()
        // n1/n2 = the running sums' grand totals, already on the driver
        // from the per-bucket offset collect (r18) — the old broadcast
        // `tot` aggregate and its crossJoin drop out; identical BIGINTs
        val (cum, totals) = graft.engine.ops.GlobalOrder
          .runningSumsTotals(byV, col("v"), Nil,
            Seq(col("a") -> "c1", col("b") -> "c2"))
        val (n1, n2) = (totals.head, totals(1))
        cum
          .withColumn("dnum",
            abs(lit(n2) * col("c1") - lit(n1) * col("c2")))
          .agg(max(col("dnum")).as("ks_num"))
          // empty-input faithfulness: the old min(n1)/min(n2) aggregates
          // were NULL over an empty cum frame; the literal totals must
          // degrade the same way (ks_num IS NULL iff cum was empty)
          .selectExpr(
            s"CASE WHEN ks_num IS NULL THEN CAST(NULL AS BIGINT) ELSE ${n1}L END AS n1",
            s"CASE WHEN ks_num IS NULL THEN CAST(NULL AS BIGINT) ELSE ${n2}L END AS n2",
            "ks_num",
            s"${Q.scaledLong(s"CAST(ks_num AS DOUBLE) / (CAST(${n1}L AS DOUBLE) * CAST(${n2}L AS DOUBLE))", 6)} AS ks_e6")
      },
      Some(s"""
        WITH ev AS (
          SELECT ${Q.scaledLong("value", 2)} AS v,
                 CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS isa
          FROM events WHERE event_type IN ('click', 'view')),
        byv AS (
          SELECT v, CAST(sum(isa) AS BIGINT) AS a,
                 CAST(sum(1 - isa) AS BIGINT) AS b
          FROM ev GROUP BY v),
        cum AS (
          SELECT v, a, b,
                 sum(a) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS c1,
                 sum(b) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS c2,
                 sum(a) OVER () AS n1, sum(b) OVER () AS n2
          FROM byv)
        SELECT CAST(min(n1) AS BIGINT) AS n1, CAST(min(n2) AS BIGINT) AS n2,
               CAST(max(abs(n2 * c1 - n1 * c2)) AS BIGINT) AS ks_num,
               ${Q.scaledLong(
          "CAST(max(abs(n2 * c1 - n1 * c2)) AS DOUBLE) / (CAST(min(n1) AS DOUBLE) * CAST(min(n2) AS DOUBLE))",
          6)} AS ks_e6
        FROM cum""")),

    // EXACT exponential smoothing (EMA, alpha = 1/2) of the daily count
    // series per event type — the trend line a monitoring dashboard
    // overlays on raw counts. The recursion S_t = (S_{t-1} + c_t)/2
    // (S_0 = 0) closes to S_t = (sum_k c_k * 2^(k-1)) / 2^t: the
    // numerator is an exact BIGINT prefix sum of shifted counts and the
    // denominator is a power of two — and dividing by a power of two is
    // EXACT in binary floating point — so the smoothed series is
    // bit-identical across engines with no tolerance, something no
    // general-alpha EMA can claim. Zeros on the calendar grid are real
    // observations (a silent day decays the trend).
    //
    // Scale shape: one fact aggregation to the bounded days-x-types
    // grid; the prefix windows run on the grid, never the fact — same
    // contract as time_gap_fill/quality_changepoint_cusum.
    "time_ema_counts" -> QueryDef(
      (s, d) => {
        val spine = s.range(1)
          .select(explode(expr(
            "sequence(DATE'2024-01-01', DATE'2024-01-31', INTERVAL 1 DAY)"))
            .as("day"))
          .crossJoin(Tables.events(s, d).select(col("event_type")).distinct())
        val daily = Tables.events(s, d)
          .groupBy(to_date(col("ts").cast("timestamp")).as("day"),
            col("event_type"))
          .agg(count(lit(1)).as("c"))
        val wCum = Window.partitionBy(col("event_type")).orderBy(col("k"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        spine
          .join(broadcast(daily), Seq("day", "event_type"), "left")
          .withColumn("c", coalesce(col("c"), lit(0L)))
          .withColumn("k", expr("datediff(day, DATE'2024-01-01') + 1"))
          .withColumn("num", sum(expr("c * shiftleft(CAST(1 AS BIGINT), k - 1)")).over(wCum))
          .selectExpr("day", "event_type", "c",
            s"${Q.scaledLong("CAST(num AS DOUBLE) / CAST(shiftleft(CAST(1 AS BIGINT), k) AS DOUBLE)", 6)} AS ema_e6")
          .orderBy(col("day"), col("event_type"))
      },
      Some(s"""
        WITH spine AS (
          SELECT unnest(generate_series(DATE '2024-01-01', DATE '2024-01-31',
                        INTERVAL 1 DAY))::DATE AS day),
        grid AS (
          SELECT day, event_type FROM spine
          CROSS JOIN (SELECT DISTINCT event_type FROM events)),
        daily AS (
          SELECT CAST(ts AS DATE) AS day, event_type,
                 CAST(count(*) AS BIGINT) AS c
          FROM events GROUP BY 1, 2),
        g AS (
          SELECT gr.day, gr.event_type, coalesce(d.c, 0) AS c,
                 datediff('day', DATE '2024-01-01', gr.day) + 1 AS k
          FROM grid gr LEFT JOIN daily d
            ON gr.day = d.day AND gr.event_type = d.event_type),
        cum AS (
          SELECT day, event_type, c, k,
                 sum(c * (CAST(1 AS BIGINT) << (k - 1))) OVER (
                   PARTITION BY event_type ORDER BY k
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS num
          FROM g)
        SELECT day, event_type, CAST(c AS BIGINT) AS c,
               ${Q.scaledLong(
          "CAST(num AS DOUBLE) / CAST(CAST(1 AS BIGINT) << k AS DOUBLE)", 6)} AS ema_e6
        FROM cum ORDER BY day, event_type""")),

    // Volume-shift CHANGEPOINT detection (CUSUM / Kolmogorov-style): for
    // each event type, the day that maximizes |n*S_i - i*S_n| over the
    // cumulative daily-count sequence — the classic "when did this feed
    // change rate" estimator a pipeline monitor pairs with the PSI
    // distribution test below. Cross-multiplied into pure BIGINT
    // arithmetic (no n-division), deterministic earliest-day tie-break.
    //
    // Scale shape: one fact aggregation to (type, day) counts, then every
    // window/argmax runs on the bounded days-x-types grid — constant
    // cost at any corpus size, same contract as time_gap_fill.
    "quality_changepoint_cusum" -> QueryDef(
      (s, d) => {
        val daily = Tables.events(s, d)
          .groupBy(col("event_type"),
            to_date(col("ts").cast("timestamp")).as("day"))
          .agg(count(lit(1)).as("c"))
        val byType = Window.partitionBy(col("event_type")).orderBy(col("day"))
        val cum = daily
          .withColumn("i", row_number().over(byType).cast("long"))
          .withColumn("s_i", sum(col("c")).over(
            byType.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("n_days", count(lit(1)).over(Window.partitionBy(col("event_type"))))
          .withColumn("s_n", sum(col("c")).over(Window.partitionBy(col("event_type"))))
          .withColumn("stat", abs(col("n_days") * col("s_i") - col("i") * col("s_n")))
        cum.withColumn("rn", row_number().over(
            Window.partitionBy(col("event_type"))
              .orderBy(col("stat").desc, col("day"))))
          .where(col("rn") === 1)
          .select(col("event_type"), col("day").as("cp_day"),
            col("stat"), col("n_days").cast("long").as("n_days"))
          .orderBy(col("event_type"))
      },
      Some("""
        WITH daily AS (
          SELECT event_type, CAST(ts AS DATE) AS day,
                 CAST(count(*) AS BIGINT) AS c
          FROM events GROUP BY 1, 2),
        cum AS (
          SELECT event_type, day,
                 CAST(row_number() OVER w AS BIGINT) AS i,
                 sum(c) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS s_i,
                 count(*) OVER (PARTITION BY event_type) AS n_days,
                 sum(c) OVER (PARTITION BY event_type) AS s_n
          FROM daily
          WINDOW w AS (PARTITION BY event_type ORDER BY day)),
        st AS (
          SELECT event_type, day,
                 CAST(abs(n_days * s_i - i * s_n) AS BIGINT) AS stat, n_days,
                 row_number() OVER (PARTITION BY event_type
                   ORDER BY abs(n_days * s_i - i * s_n) DESC, day) AS rn
          FROM cum)
        SELECT event_type, day AS cp_day, stat,
               CAST(n_days AS BIGINT) AS n_days
        FROM st WHERE rn = 1 ORDER BY event_type""")),

    // Distribution drift via POPULATION STABILITY INDEX between two time
    // windows — the standard "did this feed change under me" monitor a
    // curation pipeline runs per source/feature before retraining:
    // PSI = sum_bins (p - q) * ln(p / q) over the value histogram of the
    // first half-month vs the second. Laplace-smoothed ((c+1)/(n+bins))
    // so empty bins stay finite; per-bin contributions are computed from
    // EXACT integer counts (one CAST division + one ln per bin — the
    // same deterministic int64->double ops both engines perform) and
    // exit as e6-scaled BIGINTs whose cross-bin sum is pure integer
    // arithmetic. Observed-bin convention: bins with no rows in either
    // window are skipped identically on both sides.
    //
    // Scale shape: ONE pass over the fact — groupBy(type, bin) with both
    // half counts as conditional sums — then all arithmetic runs on the
    // bins-x-types frame (bounded), with totals broadcast back. PSI at
    // 100 TB costs exactly one histogram aggregation.
    "quality_drift_psi" -> QueryDef(
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("event_type"),
            least(floor(col("value") / lit(50.0)), lit(9.0)).cast("long").as("bin"),
            (col("ts").cast("timestamp") < ts("2024-01-16 00:00:00"))
              .cast("long").as("ina"))
        val binned = ev.groupBy(col("event_type"), col("bin"))
          .agg(sum(col("ina")).as("ca"), sum(lit(1L) - col("ina")).as("cb"))
        val tots = binned.groupBy(col("event_type"))
          .agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
        binned.join(broadcast(tots), Seq("event_type"))
          .withColumn("contrib_e6", expr(Q.scaledLong(
            "(CAST(ca + 1 AS DOUBLE) / (na + 10) - CAST(cb + 1 AS DOUBLE) / (nb + 10)) * " +
              "ln((CAST(ca + 1 AS DOUBLE) / (na + 10)) / (CAST(cb + 1 AS DOUBLE) / (nb + 10)))",
            6)))
          .groupBy(col("event_type"))
          .agg(min(col("na")).as("n_first"), min(col("nb")).as("n_second"),
            sum(col("contrib_e6")).as("psi_e6"))
          .orderBy(col("event_type"))
      },
      Some(s"""
        WITH ev AS (
          SELECT event_type,
                 CAST(least(floor(value / 50.0), 9.0) AS BIGINT) AS bin,
                 CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                      THEN 1 ELSE 0 END AS ina
          FROM events),
        binned AS (
          SELECT event_type, bin,
                 CAST(sum(ina) AS BIGINT) AS ca,
                 CAST(sum(1 - ina) AS BIGINT) AS cb
          FROM ev GROUP BY 1, 2),
        tots AS (
          SELECT event_type, CAST(sum(ca) AS BIGINT) AS na,
                 CAST(sum(cb) AS BIGINT) AS nb
          FROM binned GROUP BY 1),
        contrib AS (
          SELECT b.event_type, t.na, t.nb,
                 ${Q.scaledLong(
          "(CAST(ca + 1 AS DOUBLE) / (na + 10) - CAST(cb + 1 AS DOUBLE) / (nb + 10)) * " +
            "ln((CAST(ca + 1 AS DOUBLE) / (na + 10)) / (CAST(cb + 1 AS DOUBLE) / (nb + 10)))",
          6)} AS contrib_e6
          FROM binned b JOIN tots t ON b.event_type = t.event_type)
        SELECT event_type, CAST(min(na) AS BIGINT) AS n_first,
               CAST(min(nb) AS BIGINT) AS n_second,
               CAST(sum(contrib_e6) AS BIGINT) AS psi_e6
        FROM contrib GROUP BY event_type ORDER BY event_type""")),

    // Robust outlier detection via MEDIAN ABSOLUTE DEVIATION — the
    // resistant counterpart of quality_outliers_sigma (a 3-sigma rule is
    // itself dragged by the outliers it hunts; MAD is not). Entirely in
    // exact integers: values scale to cents, each median exits as the
    // SUM of the two middle elements (med2 = 2*median — no halving, no
    // doubles), deviations are |2x - med2|, the MAD is the same
    // two-middle sum over deviations (mad2 = 4*MAD), and the classic
    // |x - med| > 3 * 1.4826 * MAD boundary cross-multiplies to
    // 20000*dev > 44478*mad2 — bit-identical in both engines, no
    // float ever computed.
    //
    // Scale shape: two key-partitioned rank passes (the exact-selection
    // cost — each one shuffle on event_type) with the 5-row med/mad
    // frames broadcast back between them; a deployment that can't
    // afford exact ranks at the tail swaps in the mergeable-histogram
    // sketch (sketch_histogram_quantiles) for the same boundary test.
    "quality_outliers_mad" -> QueryDef(
      (s, d) => {
        val mid = "CASE WHEN rn IN (lo, hi) THEN v END"
        def twoMiddleSum(in: DataFrame, key: String, v: String): DataFrame = {
          val byKey = Window.partitionBy(col(key))
          in.select(col(key), col(v).as("v"))
            .withColumn("rn", row_number().over(byKey.orderBy(col("v"))))
            .withColumn("n", count(lit(1)).over(byKey))
            .selectExpr(key, "v", "rn", "(n + 1) div 2 AS lo", "(n + 2) div 2 AS hi")
            .groupBy(col(key))
            .agg(expr(s"min($mid) + max($mid)").as("m2"))
        }
        val ev = Tables.events(s, d)
          .select(col("event_type"), expr(Q.scaledLong("value", 2)).as("x"))
        val med = twoMiddleSum(ev, "event_type", "x")
          .withColumnRenamed("m2", "med2")
        val dev = ev.join(broadcast(med), Seq("event_type"))
          .withColumn("dev", abs(lit(2L) * col("x") - col("med2")))
        val mad = twoMiddleSum(dev, "event_type", "dev")
          .withColumnRenamed("m2", "mad2")
        dev.join(broadcast(mad), Seq("event_type"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(when(lit(20000L) * col("dev") > lit(44478L) * col("mad2"), 1L)
              .otherwise(0L)).as("n_outliers"),
            min(col("med2")).as("med2"), min(col("mad2")).as("mad2"))
          .orderBy(col("event_type"))
      },
      Some {
        val mid = "CASE WHEN rn IN (lo, hi) THEN v END"
        def twoMiddleSum(src: String, v: String) = s"""
          SELECT event_type, min($mid) + max($mid) AS m2 FROM (
            SELECT event_type, $v AS v,
                   row_number() OVER (PARTITION BY event_type ORDER BY $v) AS rn,
                   (count(*) OVER (PARTITION BY event_type) + 1) // 2 AS lo,
                   (count(*) OVER (PARTITION BY event_type) + 2) // 2 AS hi
            FROM $src) t GROUP BY event_type"""
        s"""
        WITH ev AS (
          SELECT event_type, ${Q.scaledLong("value", 2)} AS x FROM events),
        med AS (${twoMiddleSum("ev", "x")}),
        dev AS (
          SELECT ev.event_type, ev.x, abs(2 * ev.x - med.m2) AS dev, med.m2 AS med2
          FROM ev JOIN med USING (event_type)),
        mad AS (${twoMiddleSum("dev", "dev")})
        SELECT dev.event_type, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN 20000 * dev.dev > 44478 * mad.m2
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
               CAST(min(dev.med2) AS BIGINT) AS med2,
               CAST(min(mad.m2) AS BIGINT) AS mad2
        FROM dev JOIN mad USING (event_type)
        GROUP BY dev.event_type ORDER BY dev.event_type"""
      }),

    // The SAME streaming aggregation code run as a batch query — Spark's
    // unified-engine contract, exercised explicitly: the
    // WindowedAggs.tumblingCounts pipeline (watermark + window + agg)
    // that stream_tumbling_roundtrip drives through micro-batches here
    // consumes the full events table in one batch pass (withWatermark is
    // a no-op on batch input; window() degrades to date_trunc
    // bucketing). Write the transformation once, run it on both
    // runtimes, gate both against the same oracle shape. Values ride as
    // pre-scaled integer cents (exact in any fold order).
    "batch_via_stream_ops" -> QueryDef(
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("ts"), col("event_type"),
            expr(Q.scaledLong("value", 2)).cast("double").as("value"))
        graft.engine.stream.WindowedAggs.tumblingCounts(ev)
          .select(Q.epochUs(col("window_start")).as("ws_us"), col("event_type"),
            col("n"), col("sum_value").cast("long").as("sum_cents"))
          .orderBy(col("ws_us"), col("event_type"))
      },
      Some(s"""
        SELECT epoch_us(date_trunc('hour', ts)) AS ws_us, event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(${Q.scaledLong("value", 2)}) AS BIGINT) AS sum_cents
        FROM events GROUP BY 1, 2 ORDER BY 1, 2""")),

    // Boolean aggregate surface: count_if / bool_and / bool_or per
    // segment — the predicate-aggregation trio a data-quality dashboard
    // leans on, gated with raw BOOLEAN output columns.
    "agg_boolean_flags" -> QueryDef(
      (s, d) => {
        Tables.customer(s, d)
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n"),
            expr("count_if(c_acctbal < 0)").as("n_neg"),
            expr("bool_and(c_acctbal > -1000)").as("all_above_floor"),
            expr("bool_or(c_acctbal > 9000)").as("any_high"))
          .orderBy(col("c_mktsegment"))
      },
      Some("""
        SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
               CAST(count_if(c_acctbal < 0) AS BIGINT) AS n_neg,
               bool_and(c_acctbal > -1000) AS all_above_floor,
               bool_or(c_acctbal > 9000) AS any_high
        FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    // ANSI-safe arithmetic surface (try_divide / try_mod / try_cast):
    // under Spark 4's ANSI mode, raw division by zero or a bad cast
    // THROWS — the try_* family yields NULL instead, which is exactly
    // DuckDB's native semantics for x/0 and try_cast, so the NULL
    // patterns gate one-to-one. Every third order key manufactures a
    // zero divisor, every fifth a malformed cast input; the aggregate
    // counts the quarantined rows and sums the survivors.
    "func_try_arith" -> QueryDef(
      (s, d) => {
        Tables.orders(s, d)
          .withColumn("cents", expr(Q.scaledLong("o_totalprice", 2)))
          .withColumn("dvs", col("o_orderkey") % 3)
          .selectExpr("o_orderpriority", "cents", "dvs",
            "floor(try_divide(cents, dvs)) AS q",
            "try_mod(cents, dvs) AS m",
            "try_cast(CASE WHEN o_orderkey % 5 = 0 THEN 'oops' " +
              "ELSE CAST(o_orderkey AS STRING) END AS BIGINT) AS k")
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"),
            (count(lit(1)) - count(col("q"))).as("n_div0"),
            sum(col("q")).cast("long").as("sum_q"),
            sum(col("m")).as("sum_m"),
            (count(lit(1)) - count(col("k"))).as("n_badcast"),
            sum(col("k")).as("sum_k"))
          .orderBy(col("o_orderpriority"))
      },
      Some(s"""
        WITH o AS (
          SELECT o_orderpriority,
                 ${Q.scaledLong("o_totalprice", 2)} AS cents,
                 o_orderkey % 3 AS dvs,
                 o_orderkey
          FROM orders),
        t AS (
          SELECT o_orderpriority,
                 floor(cents / dvs) AS q,
                 cents % dvs AS m,
                 try_cast(CASE WHEN o_orderkey % 5 = 0 THEN 'oops'
                   ELSE CAST(o_orderkey AS VARCHAR) END AS BIGINT) AS k
          FROM o)
        SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
               CAST(count(*) - count(q) AS BIGINT) AS n_div0,
               CAST(sum(q) AS BIGINT) AS sum_q,
               CAST(sum(m) AS BIGINT) AS sum_m,
               CAST(count(*) - count(k) AS BIGINT) AS n_badcast,
               CAST(sum(k) AS BIGINT) AS sum_k
        FROM t GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // nth_value + IGNORE NULLS window surface: per customer order
    // timeline, the 2nd order's price (nth_value over the running
    // frame), the most recent big-order price so far (last_value IGNORE
    // NULLS — skips the NULLs the CASE injects for small orders), and
    // the NEXT big order's price (lead IGNORE NULLS). Explicit ROWS
    // frames + a tie-free (date, orderkey) order keep frame semantics
    // identical across engines. Deterministic customer sample keeps the
    // row-level gate bounded.
    "window_nth_ignore" -> QueryDef(
      (s, d) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))
        val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.orders(s, d)
          .filter(col("o_custkey") % 100 === 0)
          .withColumn("cents", expr(Q.scaledLong("o_totalprice", 2)))
          .withColumn("big_cents",
            when(col("o_totalprice") > 300000, col("cents")))
          .select(col("o_custkey"), col("o_orderkey"),
            Q.epochUs(col("o_orderdate")).as("od_us"), col("cents"),
            nth_value(col("cents"), 2).over(run).as("second_cents"),
            last(col("big_cents"), ignoreNulls = true).over(run).as("last_big_cents"),
            lead(col("big_cents"), 1, null, ignoreNulls = true).over(w).as("next_big_cents"))
          .orderBy(col("o_custkey"), col("od_us"), col("o_orderkey"))
      },
      Some(s"""
        SELECT o_custkey, o_orderkey, epoch_us(o_orderdate) AS od_us,
               ${Q.scaledLong("o_totalprice", 2)} AS cents,
               nth_value(${Q.scaledLong("o_totalprice", 2)}, 2) OVER w_run AS second_cents,
               last_value(CASE WHEN o_totalprice > 300000
                 THEN ${Q.scaledLong("o_totalprice", 2)} END IGNORE NULLS) OVER w_run AS last_big_cents,
               lead(CASE WHEN o_totalprice > 300000
                 THEN ${Q.scaledLong("o_totalprice", 2)} END, 1 IGNORE NULLS) OVER w_ord AS next_big_cents
        FROM orders WHERE o_custkey % 100 = 0
        WINDOW
          w_run AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
          w_ord AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        ORDER BY o_custkey, od_us, o_orderkey""")),

    // Chi-square independence test (market segment x order priority) in
    // EXACT integer arithmetic: each cell's (O - E)^2 / E is
    // cross-multiplied into (n*O - R*C)^2 / (n*R*C) and emitted as a
    // floor-scaled 1e-6 contribution — no floating point, so the
    // statistic is bit-exact in both engines (DECIMAL(38) / HUGEINT
    // carry the 1e24 intermediates). Shape: one groupBy for the cells,
    // two trivial margin aggregates broadcast back, a 1-row total
    // cross-joined — the contingency table itself is bounded (|seg| x
    // |prio|), so everything after the first aggregation is
    // constant-size regardless of SF.
    "stats_chisq_independence" -> QueryDef(
      (s, d) => {
        val base = Tables.orders(s, d)
          .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
          .select(col("c_mktsegment"), col("o_orderpriority"))
        val cells = base.groupBy(col("c_mktsegment"), col("o_orderpriority"))
          .agg(count(lit(1)).as("o")).persistScoped()
        val rm = cells.groupBy(col("c_mktsegment")).agg(sum(col("o")).as("r"))
        val cm = cells.groupBy(col("o_orderpriority")).agg(sum(col("o")).as("c"))
        val tot = cells.agg(sum(col("o")).as("n"))
        cells
          .join(broadcast(rm), Seq("c_mktsegment"))
          .join(broadcast(cm), Seq("o_orderpriority"))
          .crossJoin(broadcast(tot))
          .select(col("c_mktsegment"), col("o_orderpriority"), col("o"),
            expr("""CAST((CAST(1000000 AS DECIMAL(38,0))
                      * (CAST(n AS DECIMAL(38,0)) * CAST(o AS DECIMAL(38,0))
                         - CAST(r AS DECIMAL(38,0)) * CAST(c AS DECIMAL(38,0)))
                      * (CAST(n AS DECIMAL(38,0)) * CAST(o AS DECIMAL(38,0))
                         - CAST(r AS DECIMAL(38,0)) * CAST(c AS DECIMAL(38,0))))
                    div (CAST(n AS DECIMAL(38,0)) * CAST(r AS DECIMAL(38,0))
                         * CAST(c AS DECIMAL(38,0))) AS BIGINT)""").as("chi2_e6"))
          .orderBy(col("c_mktsegment"), col("o_orderpriority"))
      },
      Some("""
        WITH base AS (
          SELECT c_mktsegment, o_orderpriority
          FROM orders JOIN customer ON o_custkey = c_custkey),
        cells AS (
          SELECT c_mktsegment, o_orderpriority, CAST(count(*) AS HUGEINT) AS o
          FROM base GROUP BY 1, 2),
        rm AS (SELECT c_mktsegment, sum(o) AS r FROM cells GROUP BY 1),
        cm AS (SELECT o_orderpriority, sum(o) AS c FROM cells GROUP BY 1),
        tot AS (SELECT sum(o) AS n FROM cells)
        SELECT cells.c_mktsegment, cells.o_orderpriority,
               CAST(cells.o AS BIGINT) AS o,
               CAST((1000000 * (n * o - r * c) * (n * o - r * c))
                    // (n * r * c) AS BIGINT) AS chi2_e6
        FROM cells JOIN rm USING (c_mktsegment)
                   JOIN cm USING (o_orderpriority)
                   CROSS JOIN tot
        ORDER BY c_mktsegment, o_orderpriority""")),

    "sessionize_events" -> QueryDef(
      (s, d) => {
        val order = Window.partitionBy(col("user_id")).orderBy(col("tus"), col("event_id"))
        val run = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.events(s, d)
          .withColumn("tus", epochUs(col("ts")))
          .withColumn("prev", lag(col("tus"), 1).over(order))
          .withColumn("new_sess",
            when(col("prev").isNull || col("tus") - col("prev") > GapUs, 1L).otherwise(0L))
          .withColumn("session_id", sum(col("new_sess")).over(run))
          .groupBy(col("user_id"), col("session_id"))
          .agg(count(lit(1)).as("n_events"),
            min(col("tus")).as("start_us"), max(col("tus")).as("end_us"))
          .orderBy(col("user_id"), col("session_id"))
      },
      Some(s"""
        WITH x AS (
          SELECT user_id, event_id, epoch_us(ts) AS tus,
                 lag(epoch_us(ts)) OVER (PARTITION BY user_id
                     ORDER BY epoch_us(ts), event_id) AS prev
          FROM events),
        y AS (
          SELECT user_id, event_id, tus,
                 CASE WHEN prev IS NULL OR tus - prev > ${GapUs} THEN 1 ELSE 0 END AS new_sess
          FROM x),
        z AS (
          SELECT user_id, tus,
                 CAST(sum(new_sess) OVER (PARTITION BY user_id
                     ORDER BY tus, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
          FROM y)
        SELECT user_id, session_id, CAST(count(*) AS BIGINT) AS n_events,
               min(tus) AS start_us, max(tus) AS end_us
        FROM z GROUP BY user_id, session_id ORDER BY user_id, session_id""")),

    // The BUILT-IN batch session_window (complementing the manual
    // lag/run-sum sessionization above): same 6-hour gap, but Spark's
    // native operator — whose boundary rule differs by one epsilon from
    // the manual one (an event exactly gap after its predecessor starts
    // a NEW session here, `>=` in the oracle, vs `>` in the manual
    // derivation), and whose session end extends gap past the last
    // event. The oracle mirrors both rules exactly.
    "time_session_builtin" -> QueryDef(
      (s, d) => {
        Tables.events(s, d)
          .groupBy(session_window(col("ts").cast("timestamp"), "6 hours"),
            col("user_id"))
          .agg(count(lit(1)).as("n_events"))
          .select(col("user_id"),
            epochUs(col("session_window.start")).as("start_us"),
            epochUs(col("session_window.end")).as("end_us"),
            col("n_events"))
          .orderBy(col("user_id"), col("start_us"))
      },
      Some(s"""
        WITH x AS (
          SELECT user_id, event_id, epoch_us(ts) AS tus,
                 lag(epoch_us(ts)) OVER (PARTITION BY user_id
                     ORDER BY epoch_us(ts), event_id) AS prev
          FROM events),
        y AS (
          SELECT user_id, event_id, tus,
                 CASE WHEN prev IS NULL OR tus - prev >= ${GapUs} THEN 1 ELSE 0 END AS new_sess
          FROM x),
        z AS (
          SELECT user_id, tus,
                 CAST(sum(new_sess) OVER (PARTITION BY user_id
                     ORDER BY tus, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
          FROM y)
        SELECT user_id, min(tus) AS start_us,
               CAST(max(tus) + ${GapUs} AS BIGINT) AS end_us,
               CAST(count(*) AS BIGINT) AS n_events
        FROM z GROUP BY user_id, sid ORDER BY user_id, start_us""")),

    // Spark 4 collation: a case-insensitive comparison declared on the
    // COLUMN COMPARISON (COLLATE UTF8_LCASE), not by rewriting the data
    // through lower() — the engine-level path for locale-aware
    // semantics. The oracle gets the same result via explicit lower().
    "filter_collated" -> QueryDef(
      (s, d) => {
        Tables.part(s, d)
          .where(expr("p_type COLLATE UTF8_LCASE = 'promo'"))
          .groupBy(col("p_type"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("p_type"))
      },
      Some("""
        SELECT p_type, CAST(count(*) AS BIGINT) AS n
        FROM part WHERE lower(p_type) = 'promo'
        GROUP BY p_type ORDER BY p_type""")),

    "asof_purchase_signup" -> QueryDef(
      (s, d) => {
        // Scalable as-of alignment: union the two event streams, order by
        // time within each user with signups winning ties, and carry the
        // last-seen signup time forward with a running max — one shuffle on
        // user_id, no per-row range join. (DuckDB oracle uses a correlated
        // subquery; semantics identical at epoch-us precision.)
        val ev = Tables.events(s, d)
          .filter(col("event_type").isin("purchase", "signup"))
          .withColumn("tus", epochUs(col("ts")))
          .withColumn("is_signup", (col("event_type") === "signup").cast("int"))
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("tus"), col("is_signup").desc, col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ev.withColumn("last_signup_us",
            max(when(col("is_signup") === 1, col("tus"))).over(w))
          .filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"),
            col("tus").as("purchase_us"), col("last_signup_us"))
          .orderBy(col("event_id"))
      },
      Some("""
        SELECT p.event_id, p.user_id, epoch_us(p.ts) AS purchase_us,
               (SELECT max(epoch_us(g.ts)) FROM events g
                 WHERE g.user_id = p.user_id AND g.event_type = 'signup'
                   AND epoch_us(g.ts) <= epoch_us(p.ts)) AS last_signup_us
        FROM events p WHERE p.event_type = 'purchase'
        ORDER BY p.event_id""")),

    // FORWARD as-of (the mirror direction): for each error event, the
    // NEXT click by the same user at-or-after it — the "time to next
    // action" alignment. Same one-shuffle running-extremum shape as the
    // backward as-of above, but scanning time descending with a running
    // MIN carried backward; clicks win ties so an error and click at the
    // same instant align (mirroring the backward query's tie rule).
    "asof_next_click" -> QueryDef(
      (s, d) => {
        val ev = Tables.events(s, d)
          .filter(col("event_type").isin("error", "click"))
          .withColumn("tus", epochUs(col("ts")))
          .withColumn("is_click", (col("event_type") === "click").cast("int"))
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("tus").desc, col("is_click").desc, col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ev.withColumn("next_click_us",
            min(when(col("is_click") === 1, col("tus"))).over(w))
          .filter(col("event_type") === "error")
          .select(col("event_id"), col("user_id"),
            col("tus").as("error_us"), col("next_click_us"))
          .orderBy(col("event_id"))
      },
      Some("""
        SELECT e.event_id, e.user_id, epoch_us(e.ts) AS error_us,
               (SELECT min(epoch_us(c.ts)) FROM events c
                 WHERE c.user_id = e.user_id AND c.event_type = 'click'
                   AND epoch_us(c.ts) >= epoch_us(e.ts)) AS next_click_us
        FROM events e WHERE e.event_type = 'error'
        ORDER BY e.event_id""")),

    // ---- pivot / semi-structured ---------------------------------------
    "pivot_user_events" -> QueryDef(
      (s, d) => {
        val types = Seq("click", "error", "purchase", "signup", "view")
        val p = Tables.events(s, d)
          .filter(col("user_id") < 20)
          .groupBy(col("user_id"))
          .pivot("event_type", types)
          .agg(count(lit(1)))
        p.select(col("user_id") +: types.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
          .orderBy(col("user_id"))
      },
      Some("""
        SELECT user_id,
               CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS click,
               CAST(count(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS error,
               CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS purchase,
               CAST(count(*) FILTER (WHERE event_type = 'signup') AS BIGINT) AS signup,
               CAST(count(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS view
        FROM events WHERE user_id < 20
        GROUP BY user_id ORDER BY user_id""")),

    "json_props_events" -> QueryDef(
      (s, d) => {
        Tables.events(s, d)
          .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
          .groupBy(col("event_type"))
          .agg(sum(col("k")).as("sum_k"), count(col("k")).as("n_k"))
          .orderBy(col("event_type"))
      },
      Some("""
        SELECT event_type,
               CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
               CAST(count(json_extract_string(props, '$.k')) AS BIGINT) AS n_k
        FROM events GROUP BY event_type ORDER BY event_type""")),

    // ---- filter pushdown / projection ----------------------------------
    "filter_like_parts" -> QueryDef(
      (s, d) => {
        Tables.part(s, d)
          .filter(col("p_name").contains("widget") && col("p_size") >= 10)
          .select(col("p_partkey"), col("p_name"), col("p_brand"), col("p_size"))
          .orderBy(col("p_partkey"))
      },
      Some("""
        SELECT p_partkey, p_name, p_brand, p_size
        FROM part WHERE p_name LIKE '%widget%' AND p_size >= 10
        ORDER BY p_partkey""")),

    // max_by/min_by (arg-max aggregation): who produced the extreme value
    // per group. The ordering key is a composite BIGINT — scaled value
    // then event_id — because the raw value TIES at its extremes in this
    // data (several rows share value 0.0), and an arg-max over a tied key
    // is nondeterministic on both engines; the unique integer key makes
    // the selection exact and portable (DuckDB arg_max/arg_min take only
    // scalar keys, so the composite is encoded, not a struct).
    "agg_argmax_events" -> QueryDef(
      (s, d) => {
        val key = "CAST(floor(value * 10000 + 0.5) AS BIGINT) * 10000000 + event_id"
        Tables.events(s, d)
          .groupBy(col("event_type"))
          .agg(
            expr(s"max_by(user_id, $key)").as("top_user"),
            expr(s"min_by(user_id, $key)").as("bottom_user"),
            expr(Q.scaledLong("max(value)", 4)).as("max_value_e4"),
            count(lit(1)).as("n"))
          .orderBy(col("event_type"))
      },
      Some(s"""
        SELECT event_type,
               arg_max(user_id, CAST(floor("value" * 10000 + 0.5) AS BIGINT) * 10000000 + event_id) AS top_user,
               arg_min(user_id, CAST(floor("value" * 10000 + 0.5) AS BIGINT) * 10000000 + event_id) AS bottom_user,
               ${Q.scaledLong("max(\"value\")", 4)} AS max_value_e4,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY event_type ORDER BY event_type""")),

    // percent_rank + cume_dist — the relative-position analytics that
    // complete the window family. The window orders by a UNIQUE composite
    // (price, orderkey) so ranks are tie-free and both ratios are exact
    // small-integer divisions (bit-identical across engines); they exit
    // as scaled BIGINTs per the derived-double policy. The deterministic
    // orderkey sample keeps the output compact while still requiring the
    // full-partition window to have run.
    "window_pct_rank" -> QueryDef(
      (s, d) => {
        val w = Window.partitionBy(col("o_orderpriority"))
          .orderBy(col("o_totalprice"), col("o_orderkey"))
        Tables.orders(s, d)
          .select(col("o_orderpriority"), col("o_orderkey"),
            percent_rank().over(w).as("pr"),
            cume_dist().over(w).as("cd"))
          .where(col("o_orderkey") % 500 === 0)
          .selectExpr("o_orderpriority", "o_orderkey",
            s"${Q.scaledLong("pr", 6)} AS pr_e6",
            s"${Q.scaledLong("cd", 6)} AS cd_e6")
          .orderBy(col("o_orderpriority"), col("o_orderkey"))
      },
      Some(s"""
        SELECT o_orderpriority, o_orderkey,
               ${Q.scaledLong("pr", 6)} AS pr_e6,
               ${Q.scaledLong("cd", 6)} AS cd_e6
        FROM (SELECT o_orderpriority, o_orderkey,
                     percent_rank() OVER (PARTITION BY o_orderpriority
                       ORDER BY o_totalprice, o_orderkey) AS pr,
                     cume_dist() OVER (PARTITION BY o_orderpriority
                       ORDER BY o_totalprice, o_orderkey) AS cd
              FROM orders)
        WHERE o_orderkey % 500 = 0
        ORDER BY o_orderpriority, o_orderkey""")),

    // TPC-H Q7 shape: the same nation dimension joined in TWO roles
    // (supplier's nation vs customer's nation) against one fact row, with
    // a disjunctive nation-pair predicate and a per-year rollup. The two
    // role filters are applied to each broadcast dimension BEFORE the
    // join (n1/n2 keep only the two nations of interest), so the fact
    // scan meets two 2-row build sides and only the surviving pair rows
    // flow into the OR that removes same-direction pairs — the plan never
    // relies on the optimizer decomposing the cross-side OR.
    "q7_nation_volume" -> QueryDef(
      (s, d) => {
        val pair = Seq("NATION_1", "NATION_2")
        val n1 = Tables.nation(s, d).filter(col("n_name").isin(pair: _*))
          .select(col("n_nationkey").as("s_nkey"), col("n_name").as("supp_nation"))
        val n2 = Tables.nation(s, d).filter(col("n_name").isin(pair: _*))
          .select(col("n_nationkey").as("c_nkey"), col("n_name").as("cust_nation"))
        Tables.lineitem(s, d)
          .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
          .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
          .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(n1), col("s_nationkey") === col("s_nkey"))
          .join(broadcast(n2), col("c_nationkey") === col("c_nkey"))
          .filter(
            (col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
            (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
          .groupBy(col("supp_nation"), col("cust_nation"),
            year(col("l_shipdate")).as("l_year"))
          .agg(
            round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("volume"),
            count(lit(1)).as("n_items"))
          .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
      },
      Some("""
        SELECT supp_nation, cust_nation, l_year,
               round(sum(volume), 2) AS volume,
               CAST(count(*) AS BIGINT) AS n_items
        FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                     CAST(year(l_shipdate) AS INT) AS l_year,
                     l_extendedprice * (1.0 - l_discount) AS volume
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                            JOIN customer ON o_custkey = c_custkey
                            JOIN supplier ON l_suppkey = s_suppkey
                            JOIN nation n1 ON s_nationkey = n1.n_nationkey
                            JOIN nation n2 ON c_nationkey = n2.n_nationkey
              WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
                 OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        GROUP BY supp_nation, cust_nation, l_year
        ORDER BY supp_nation, cust_nation, l_year""")),

    // TPC-H Q8 shape: national market share — the deepest join tree in
    // the suite (lineitem x part x orders x customer x nation x region x
    // supplier x nation, 8 relations). Bounded dims (nation, region) are
    // broadcast; SF-proportional relations (part, customer, supplier)
    // carry no forced hints — AQE decides from runtime sizes. Exits as
    // the two exact scaled-integer sufficient statistics per year
    // (numerator = NATION_3-supplied volume, denominator = all volume)
    // per the scaled-BIGINT policy; the share itself is one client-side
    // division.
    "q8_market_share" -> QueryDef(
      (s, d) => {
        val volE4 = expr(Q.scaledLong("l_extendedprice * (1.0 - l_discount)", 4))
        val custNation = Tables.nation(s, d)
          .select(col("n_nationkey").as("c_nkey"), col("n_regionkey"))
        val suppNation = Tables.nation(s, d)
          .select(col("n_nationkey").as("s_nkey"), col("n_name").as("supp_nation"))
        val region = Tables.region(s, d).filter(col("r_name") === "ASIA")
        Tables.lineitem(s, d)
          .join(Tables.part(s, d).filter(col("p_type") === "ECONOMY"),
            col("l_partkey") === col("p_partkey"))
          .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
          .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
          .join(broadcast(custNation), col("c_nationkey") === col("c_nkey"))
          .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
          .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(suppNation), col("s_nationkey") === col("s_nkey"))
          .select(year(col("o_orderdate")).as("o_year"),
            volE4.as("vol_e4"),
            when(col("supp_nation") === "NATION_3", volE4)
              .otherwise(lit(0L)).as("nat_e4"))
          .groupBy(col("o_year"))
          .agg(sum(col("nat_e4")).as("nation_e4"),
            sum(col("vol_e4")).as("total_e4"))
          .orderBy(col("o_year"))
      },
      Some(s"""
        SELECT CAST(year(o_orderdate) AS INT) AS o_year,
               CAST(sum(CASE WHEN n2.n_name = 'NATION_3'
                 THEN ${Q.scaledLong("l_extendedprice * (1.0 - l_discount)", 4)}
                 ELSE 0 END) AS BIGINT) AS nation_e4,
               CAST(sum(${Q.scaledLong("l_extendedprice * (1.0 - l_discount)", 4)}) AS BIGINT) AS total_e4
        FROM lineitem JOIN part ON l_partkey = p_partkey
                      JOIN orders ON l_orderkey = o_orderkey
                      JOIN customer ON o_custkey = c_custkey
                      JOIN nation n1 ON c_nationkey = n1.n_nationkey
                      JOIN region ON n1.n_regionkey = r_regionkey
                      JOIN supplier ON l_suppkey = s_suppkey
                      JOIN nation n2 ON s_nationkey = n2.n_nationkey
        WHERE p_type = 'ECONOMY' AND r_name = 'ASIA'
        GROUP BY 1 ORDER BY 1""")),

    // TPC-H Q10 shape: returned-item revenue ranking — who returned the
    // most value in a quarter. Quarter filter prunes orders at the scan;
    // the returnflag filter prunes lineitem; the group key includes the
    // full customer projection (standard Q10), and the top-20 plans as
    // TakeOrderedAndProject (no global sort). acctbal and revenue leave
    // as scaled BIGINTs.
    "q10_returned_items" -> QueryDef(
      (s, d) => {
        val volE4 = expr(Q.scaledLong("l_extendedprice * (1.0 - l_discount)", 4))
        Tables.customer(s, d)
          .join(Tables.orders(s, d)
            .filter(col("o_orderdate") >= ts("1996-01-01 00:00:00") &&
              col("o_orderdate") < ts("1996-04-01 00:00:00")),
            col("c_custkey") === col("o_custkey"))
          .join(Tables.lineitem(s, d).filter(col("l_returnflag") === "R"),
            col("o_orderkey") === col("l_orderkey"))
          .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("c_custkey"), col("c_name"),
            expr(Q.scaledLong("c_acctbal", 2)).as("acctbal_c"), col("n_name"))
          .agg(sum(volE4).as("rev_e4"))
          .select(col("c_custkey"), col("c_name"), col("rev_e4"),
            col("acctbal_c"), col("n_name"))
          .orderBy(col("rev_e4").desc, col("c_custkey"))
          .limit(20)
      },
      Some(s"""
        SELECT c_custkey, c_name,
               CAST(sum(${Q.scaledLong("l_extendedprice * (1.0 - l_discount)", 4)}) AS BIGINT) AS rev_e4,
               ${Q.scaledLong("c_acctbal", 2)} AS acctbal_c,
               n_name
        FROM customer JOIN orders ON c_custkey = o_custkey
                      JOIN lineitem ON o_orderkey = l_orderkey
                      JOIN nation ON c_nationkey = n_nationkey
        WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
          AND l_returnflag = 'R'
        GROUP BY c_custkey, c_name, acctbal_c, n_name
        ORDER BY rev_e4 DESC, c_custkey
        LIMIT 20""")),

    // TPC-H Q13 shape: group-on-an-aggregate. Inner level is the
    // customer-orders left join counted per customer (the join predicate
    // carries an extra non-key filter, expressed by pre-filtering the
    // right side — equivalent for LEFT joins and pushdown-friendly);
    // outer level histograms those counts. Two shuffles total: one on
    // custkey (the join and the first agg share it), one tiny one on
    // c_count.
    "q13_custdist" -> QueryDef(
      (s, d) => {
        val ord = Tables.orders(s, d).filter(col("o_orderpriority") =!= "1-URGENT")
        Tables.customer(s, d)
          .join(ord, col("c_custkey") === col("o_custkey"), "left")
          .groupBy(col("c_custkey"))
          .agg(count(col("o_orderkey")).as("c_count"))
          .groupBy(col("c_count"))
          .agg(count(lit(1)).as("custdist"))
          .orderBy(col("custdist").desc, col("c_count").desc)
      },
      Some("""
        SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
        FROM (SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
              FROM customer LEFT JOIN orders
                ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
              GROUP BY c_custkey)
        GROUP BY c_count
        ORDER BY custdist DESC, c_count DESC""")),

    // TPC-H Q14 shape: conditional aggregation (CASE inside sum) — the
    // promo share of revenue per year. Emitted as the two exact scaled
    // integer sums (the sufficient statistics; the final ratio is one
    // client-side division) rather than a derived double ratio, per the
    // scaled-BIGINT exit policy. The per-row revenue is scaled to 1e-4
    // units BEFORE the cross-row sum, so both engines fold exact
    // integers in any order.
    "q14_promo_share" -> QueryDef(
      (s, d) => {
        val revE4 = expr(Q.scaledLong("l_extendedprice * (1.0 - l_discount)", 4))
        Tables.lineitem(s, d)
          .join(Tables.part(s, d), col("l_partkey") === col("p_partkey"))
          .select(year(col("l_shipdate")).as("l_year"),
            revE4.as("rev_e4"),
            when(col("p_type") === "PROMO", revE4).otherwise(lit(0L)).as("promo_e4"))
          .groupBy(col("l_year"))
          .agg(sum(col("promo_e4")).as("promo_rev_e4"),
            sum(col("rev_e4")).as("total_rev_e4"))
          .orderBy(col("l_year"))
      },
      Some(s"""
        SELECT CAST(year(l_shipdate) AS INT) AS l_year,
               CAST(sum(CASE WHEN p_type = 'PROMO'
                 THEN ${Q.scaledLong("l_extendedprice * (1.0 - l_discount)", 4)}
                 ELSE 0 END) AS BIGINT) AS promo_rev_e4,
               CAST(sum(${Q.scaledLong("l_extendedprice * (1.0 - l_discount)", 4)}) AS BIGINT) AS total_rev_e4
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY 1 ORDER BY 1""")),

    // TPC-H Q19 shape: OR-of-ANDs across both join sides. Catalyst's
    // CNF conversion extracts the common conjuncts per side (p_brand IN
    // (…) AND p_size <= 35 to the part scan, l_quantity <= 30 to the
    // lineitem scan) so both scans are pruned BEFORE the join even
    // though the full predicate spans the pair; the residual disjunction
    // evaluates post-join on the tiny survivor set.
    "q19_disjunctive" -> QueryDef(
      (s, d) => {
        Tables.lineitem(s, d)
          .join(Tables.part(s, d), col("l_partkey") === col("p_partkey"))
          .filter(
            (col("p_brand") === "Brand#12" && col("p_size").between(1, 15) &&
              col("l_quantity").between(1, 11)) ||
            (col("p_brand") === "Brand#23" && col("p_size").between(1, 25) &&
              col("l_quantity").between(10, 20)) ||
            (col("p_brand") === "Brand#3" && col("p_size").between(1, 35) &&
              col("l_quantity").between(20, 30)))
          .agg(
            round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"),
            count(lit(1)).as("n_items"))
      },
      Some("""
        SELECT round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
               CAST(count(*) AS BIGINT) AS n_items
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
           OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
           OR (p_brand = 'Brand#3'  AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)""")),

    // TPC-H Q21 shape: correlated EXISTS + NOT EXISTS against the SAME
    // fact table (lineitem self-joins). "Last shipper on a multi-supplier
    // finished order": keep l1 rows where another supplier shipped on the
    // order (left_semi self-join) but nobody shipped LATER than l1
    // (left_anti self-join with an inequality conjunct). Both correlated
    // subqueries become equi-joins on l_orderkey — the inequality rides
    // along as a join residual, so the self-join shuffles once on
    // orderkey and never goes quadratic.
    "q21_last_shipper" -> QueryDef(
      (s, d) => {
        val fOrders = Tables.orders(s, d).filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey"))
        val l1 = Tables.lineitem(s, d)
          .join(fOrders, col("l_orderkey") === col("o_orderkey"), "left_semi")
          .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
        val other = Tables.lineitem(s, d)
          .select(col("l_orderkey").as("ok2"), col("l_suppkey").as("sk2"),
            col("l_shipdate").as("sd2"))
        l1
          .join(other,
            col("ok2") === col("l_orderkey") && col("sk2") =!= col("l_suppkey"),
            "left_semi")
          .join(other,
            col("ok2") === col("l_orderkey") && col("sk2") =!= col("l_suppkey") &&
              col("sd2") > col("l_shipdate"),
            "left_anti")
          .groupBy(col("l_suppkey"))
          .agg(count(lit(1)).as("numwait"))
          .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
          .select(col("s_name"), col("numwait"))
          .orderBy(col("numwait").desc, col("s_name"))
          .limit(10)
      },
      Some("""
        SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
        FROM lineitem l1 JOIN supplier ON l1.l_suppkey = s_suppkey
        WHERE l1.l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F')
          AND EXISTS (SELECT 1 FROM lineitem l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                        AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM lineitem l3
                          WHERE l3.l_orderkey = l1.l_orderkey
                            AND l3.l_suppkey <> l1.l_suppkey
                            AND l3.l_shipdate > l1.l_shipdate)
        GROUP BY s_name
        ORDER BY numwait DESC, s_name
        LIMIT 10""")),

    // TPC-H Q9 shape: multi-dimension profit rollup — a name-pattern part
    // filter fans a 5-relation join (lineitem x part x supplier x nation x
    // orders) into a (nation, year) rollup. The testdata has no partsupp
    // table, so profit is the discounted revenue (no ps_supplycost term);
    // the join tree, pushed LIKE filter, and rollup shape are Q9's. Exits
    // as an exact per-row-scaled integer sum (Q.scaledLong policy). The
    // part filter is pushed to the scan; nation broadcasts (bounded);
    // part/supplier carry no hint (SF-proportional — AQE decides).
    "q9_nation_profit" -> QueryDef(
      (s, d) => {
        val amtE4 = expr(Q.scaledLong("l_extendedprice * (1.0 - l_discount)", 4))
        Tables.lineitem(s, d)
          .join(Tables.part(s, d).filter(col("p_name").like("%gear%"))
            .select(col("p_partkey")), col("l_partkey") === col("p_partkey"))
          .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(Tables.nation(s, d)),
            col("s_nationkey") === col("n_nationkey"))
          .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
          .select(col("n_name").as("nation"),
            year(col("o_orderdate")).as("o_year"), amtE4.as("amt_e4"))
          .groupBy(col("nation"), col("o_year"))
          .agg(sum(col("amt_e4")).as("profit_e4"))
          .orderBy(col("nation"), col("o_year").desc)
      },
      Some(s"""
        SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
               CAST(sum(${Q.scaledLong("l_extendedprice * (1.0 - l_discount)", 4)}) AS BIGINT) AS profit_e4
        FROM lineitem JOIN part ON l_partkey = p_partkey
                      JOIN supplier ON l_suppkey = s_suppkey
                      JOIN nation ON s_nationkey = n_nationkey
                      JOIN orders ON l_orderkey = o_orderkey
        WHERE p_name LIKE '%gear%'
        GROUP BY 1, 2
        ORDER BY nation, o_year DESC""")),

    // TPC-H Q11 shape: grouped value share gated by HAVING against a
    // SCALAR SUBQUERY over the same fact — the one aggregate-vs-global-
    // total shape in the suite. Per-nation shipped value must exceed 1/20
    // of the global total. Both sides stay in exact integer arithmetic
    // (per-row scaled BIGINT sums; the share test is the cross-multiplied
    // integer inequality value*20 > total), so the HAVING boundary can
    // never flip on float association order. The global total is a 1-row
    // broadcast onto the 25-row aggregate (not a second fact shuffle).
    "q11_important_value" -> QueryDef(
      (s, d) => {
        val valE2 = expr(Q.scaledLong("l_extendedprice * (1.0 - l_discount)", 2))
        val byNation = Tables.lineitem(s, d)
          .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(Tables.nation(s, d)),
            col("s_nationkey") === col("n_nationkey"))
          .select(col("n_name").as("nation"), valE2.as("v_e2"))
          .groupBy(col("nation"))
          .agg(sum(col("v_e2")).as("value_e2"))
        val total = byNation.agg(sum(col("value_e2")).as("total_e2"))
        byNation.crossJoin(broadcast(total))
          .filter(col("value_e2") * lit(20L) > col("total_e2"))
          .select(col("nation"), col("value_e2"))
          .orderBy(col("value_e2").desc, col("nation"))
      },
      Some(s"""
        SELECT nation, value_e2 FROM (
          SELECT n_name AS nation,
                 CAST(sum(${Q.scaledLong("l_extendedprice * (1.0 - l_discount)", 2)}) AS BIGINT) AS value_e2
          FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
                        JOIN nation ON s_nationkey = n_nationkey
          GROUP BY 1)
        WHERE value_e2 * 20 > (
          SELECT sum(${Q.scaledLong("l_extendedprice * (1.0 - l_discount)", 2)})
          FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
                        JOIN nation ON s_nationkey = n_nationkey)
        ORDER BY value_e2 DESC, nation""")),

    // TPC-H Q2 shape: correlated per-group minimum — for each qualifying
    // part, the single best supplier among those that actually shipped it
    // from the target region. No partsupp table exists, so the
    // part-supplier relation is the DISTINCT (l_partkey, l_suppkey) pairs
    // from lineitem and "best" is max s_acctbal (Q2's output ordering
    // criterion) with a full deterministic tie-break; the correlated-min
    // subquery becomes a row_number window over the candidate pairs —
    // the standard decorrelation Spark and DuckDB both plan as one
    // window, no re-join of the fact.
    "q2_min_cost_supplier" -> QueryDef(
      (s, d) => {
        val pairs = Tables.lineitem(s, d)
          .select(col("l_partkey"), col("l_suppkey")).distinct()
        val europe = broadcast(Tables.nation(s, d)
          .join(broadcast(Tables.region(s, d)
            .filter(col("r_name") === "EUROPE")),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey"), col("n_name")))
        val supp = Tables.supplier(s, d)
          .join(europe, col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey").as("sk"), col("s_name"),
            col("s_acctbal"), col("n_name").as("nation"))
        val parts = Tables.part(s, d)
          .filter(col("p_type") === "STANDARD" && col("p_size") === 7)
          .select(col("p_partkey"))
        val w = Window.partitionBy(col("p_partkey"))
          .orderBy(col("s_acctbal").desc, col("sk"))
        pairs
          .join(parts, col("l_partkey") === col("p_partkey"))
          .join(supp, col("l_suppkey") === col("sk"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("s_acctbal"), col("s_name"), col("nation"),
            col("p_partkey"))
          .orderBy(col("s_acctbal").desc, col("p_partkey"))
          .limit(20)
      },
      Some("""
        SELECT s_acctbal, s_name, nation, p_partkey FROM (
          SELECT s_acctbal, s_name, n_name AS nation, p_partkey,
                 ROW_NUMBER() OVER (PARTITION BY p_partkey
                                    ORDER BY s_acctbal DESC, s_suppkey) AS rn
          FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
               JOIN part ON l_partkey = p_partkey
               JOIN supplier ON l_suppkey = s_suppkey
               JOIN nation ON s_nationkey = n_nationkey
               JOIN region ON n_regionkey = r_regionkey
          WHERE r_name = 'EUROPE' AND p_type = 'STANDARD' AND p_size = 7)
        WHERE rn = 1
        ORDER BY s_acctbal DESC, p_partkey
        LIMIT 20""")),

    // TPC-H Q16 shape: supplier-relationship count — COUNT(DISTINCT
    // supplier) per part attribute triple, with an exclusion list applied
    // as a NOT IN (here: broadcast anti-join on the tiny excluded-supplier
    // set, the scale-safe plan for NOT IN against a small subquery). The
    // part-supplier relation is again the DISTINCT lineitem pair set.
    "q16_supplier_cnt" -> QueryDef(
      (s, d) => {
        val pairs = Tables.lineitem(s, d)
          .select(col("l_partkey"), col("l_suppkey")).distinct()
        val excluded = Tables.supplier(s, d)
          .filter(col("s_name").like("%7%")).select(col("s_suppkey"))
        val parts = Tables.part(s, d)
          .filter(col("p_brand") =!= "Brand#13" && col("p_type") =!= "ECONOMY")
          .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
        pairs
          .join(broadcast(excluded), col("l_suppkey") === col("s_suppkey"),
            "left_anti")
          .join(parts, col("l_partkey") === col("p_partkey"))
          .groupBy(col("p_brand"), col("p_type"), col("p_size"))
          .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
          .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
            col("p_size"))
          .limit(20)
      },
      Some("""
        SELECT p_brand, p_type, p_size,
               CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
             JOIN part ON l_partkey = p_partkey
        WHERE p_brand <> 'Brand#13' AND p_type <> 'ECONOMY'
          AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                                WHERE s_name LIKE '%7%')
        GROUP BY p_brand, p_type, p_size
        ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
        LIMIT 20""")),

    // SCD2 (type-2 slowly-changing dimension) history build — the
    // warehouse op that turns an event log into versioned dimension rows
    // (valid_from / valid_to / is_current): consecutive same-type events
    // per user collapse into one regime (gaps-and-islands via lag +
    // running change-count), each regime closes at the NEXT regime's
    // start. Two windows and one aggregate, all partitioned by user_id —
    // state per partition is one user's history, so the build
    // distributes over any key cardinality.
    "scd2_user_state" -> QueryDef(
      (s, d) => {
        val wOrd = Window.partitionBy(col("user_id"))
          .orderBy(col("tus"), col("event_id"))
        val regimes = Tables.events(s, d)
          .select(col("user_id"), epochUs(col("ts")).as("tus"),
            col("event_id"), col("event_type"))
          .withColumn("prev", lag(col("event_type"), 1).over(wOrd))
          .withColumn("chg",
            when(col("prev").isNull || col("prev") =!= col("event_type"), 1L)
              .otherwise(0L))
          .withColumn("rid", sum(col("chg")).over(
            wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy(col("user_id"), col("rid"), col("event_type"))
          .agg(min(col("tus")).as("valid_from_us"),
            count(lit(1)).as("n_events"))
        val wNext = Window.partitionBy(col("user_id"))
          .orderBy(col("valid_from_us"))
        regimes
          .withColumn("valid_to_us", lead(col("valid_from_us"), 1).over(wNext))
          .select(col("user_id"), col("event_type"), col("valid_from_us"),
            col("valid_to_us"), col("n_events"),
            col("valid_to_us").isNull.as("is_current"))
          .orderBy(col("user_id"), col("valid_from_us"))
      },
      Some("""
        WITH e AS (
          SELECT user_id, epoch_us(ts) AS tus, event_id, event_type FROM events),
        x AS (
          SELECT *, lag(event_type) OVER (PARTITION BY user_id
                        ORDER BY tus, event_id) AS prev FROM e),
        y AS (
          SELECT *, CASE WHEN prev IS NULL OR prev <> event_type
                         THEN 1 ELSE 0 END AS chg FROM x),
        z AS (
          SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY tus, event_id
                        ROWS UNBOUNDED PRECEDING) AS rid FROM y),
        regimes AS (
          SELECT user_id, rid, event_type, min(tus) AS valid_from_us,
                 CAST(count(*) AS BIGINT) AS n_events
          FROM z GROUP BY user_id, rid, event_type)
        SELECT user_id, event_type, valid_from_us,
               lead(valid_from_us) OVER (PARTITION BY user_id
                   ORDER BY valid_from_us) AS valid_to_us,
               n_events,
               (lead(valid_from_us) OVER (PARTITION BY user_id
                   ORDER BY valid_from_us)) IS NULL AS is_current
        FROM regimes ORDER BY user_id, valid_from_us""")),

    // First-order MARKOV transition matrix over per-user event streams —
    // the behavioral model behind next-action prediction and anomalous-
    // session scoring (the event-stream counterpart of the bigram LM
    // over words). Transitions come from one lag window per user
    // (event-time order, id tie-break); the 5x5 probability matrix
    // divides exact integer counts (row-normalized, e6-scaled exit).
    // Scale shape: one user-keyed window over the fact, one bounded
    // (types x types) aggregate, marginals broadcast back.
    "events_markov_transition" -> QueryDef(
      (s, d) => {
        val wOrd = Window.partitionBy(col("user_id"))
          .orderBy(col("tus"), col("event_id"))
        val trans = Tables.events(s, d)
          .select(col("user_id"), epochUs(col("ts")).as("tus"),
            col("event_id"), col("event_type"))
          .withColumn("prev", lag(col("event_type"), 1).over(wOrd))
          .where(col("prev").isNotNull)
          .groupBy(col("prev"), col("event_type").as("next"))
          .agg(count(lit(1)).as("c"))
        val marg = trans.groupBy(col("prev")).agg(sum(col("c")).as("row_n"))
        trans.join(broadcast(marg), Seq("prev"))
          .selectExpr("prev", "next", "c",
            s"${Q.scaledLong("CAST(c AS DOUBLE) / CAST(row_n AS DOUBLE)", 6)} AS p_e6")
          .orderBy(col("prev"), col("next"))
      },
      Some(s"""
        WITH e AS (
          SELECT user_id, epoch_us(ts) AS tus, event_id, event_type FROM events),
        x AS (
          SELECT event_type,
                 lag(event_type) OVER (PARTITION BY user_id
                   ORDER BY tus, event_id) AS prev
          FROM e),
        t AS (
          SELECT prev, event_type AS next, CAST(count(*) AS BIGINT) AS c
          FROM x WHERE prev IS NOT NULL GROUP BY 1, 2),
        m AS (SELECT prev, CAST(sum(c) AS BIGINT) AS row_n FROM t GROUP BY prev)
        SELECT t.prev, t.next, t.c,
               ${Q.scaledLong("CAST(c AS DOUBLE) / CAST(row_n AS DOUBLE)", 6)} AS p_e6
        FROM t JOIN m ON t.prev = m.prev
        ORDER BY t.prev, t.next""")),

    // Funnel LATENCY: time from first signup to first subsequent
    // purchase — the conversion-delay distribution product analytics
    // reports next to the conversion rate (funnel_user_stages). Exact
    // portable statistics: the median exits as the two-middle-element
    // SUM (med2 = 2*median, no halving) and the p90 as the exact rank
    // selection, both over the CONVERTED-USER frame — bounded by user
    // cardinality, not event volume (the per-user firsts are one
    // user-keyed aggregation of the fact), and the rank itself is
    // distributed (GlobalOrder.rowNumber), so no task ever holds the
    // full user frame.
    "funnel_time_to_convert" -> QueryDef(
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("user_id"), epochUs(col("ts")).as("tus"), col("event_type"))
        // persisted (r17): su feeds BOTH the purchase-side range filter
        // and the left join, and the two references do NOT canonicalize
        // to one reusable exchange under AQE — measured 3 full events
        // scans per run (tools.Probe inRows 303k vs the 100k-row table);
        // caching the user-bounded firsts frame makes it 2 (one per
        // event-type filter, the irreducible pair)
        val su = ev.filter(col("event_type") === "signup")
          .groupBy(col("user_id")).agg(min(col("tus")).as("s_us"))
          .persistScoped()
        val pu = ev.filter(col("event_type") === "purchase")
          .join(su, Seq("user_id"))
          .where(col("tus") >= col("s_us"))
          .groupBy(col("user_id")).agg(min(col("tus")).as("p_us"))
        // persisted: feeds the signed count, the converted count, and
        // the rank pass
        val conv = su.join(pu, Seq("user_id"), "left")
          .withColumn("delta", col("p_us") - col("s_us"))
          .persistScoped()
        val nSigned = conv.agg(count(lit(1)).as("n_signed"))
        val mid = "CASE WHEN rn IN (lo, hi) THEN delta END"
        // exact median/p90 ranks over the converted-user frame via the
        // DISTRIBUTED row number (r9, was an unpartitioned window plus a
        // literal-partition count — users grow with the corpus, so both
        // funneled every converted user through one task at 100x); the
        // frame count joins as a broadcast 1-row aggregate
        val convd = conv.where(col("delta").isNotNull)
        val nConv = convd.agg(count(lit(1)).as("n"))
        val ranked = graft.engine.ops.GlobalOrder
          .rowNumber(convd, col("delta"), Seq(col("user_id")), "rn")
          .crossJoin(broadcast(nConv))
          .selectExpr("delta", "rn",
            "(n + 1) div 2 AS lo", "(n + 2) div 2 AS hi",
            "(9 * n + 9) div 10 AS r90")
        ranked
          .agg(count(lit(1)).as("n_converted"),
            expr(s"min($mid) + max($mid)").as("med2_us"),
            expr("max(CASE WHEN rn = r90 THEN delta END)").as("p90_us"))
          .crossJoin(broadcast(nSigned))
          .selectExpr("n_signed", "n_converted", "med2_us", "p90_us")
      },
      Some("""
        WITH ev AS (
          SELECT user_id, epoch_us(ts) AS tus, event_type FROM events),
        su AS (
          SELECT user_id, min(tus) AS s_us FROM ev
          WHERE event_type = 'signup' GROUP BY user_id),
        pu AS (
          SELECT p.user_id, min(p.tus) AS p_us
          FROM ev p JOIN su ON p.user_id = su.user_id
          WHERE p.event_type = 'purchase' AND p.tus >= su.s_us
          GROUP BY p.user_id),
        conv AS (
          SELECT su.user_id, pu.p_us - su.s_us AS delta
          FROM su LEFT JOIN pu ON su.user_id = pu.user_id),
        ranked AS (
          SELECT delta,
                 row_number() OVER (ORDER BY delta, user_id) AS rn,
                 count(*) OVER () AS n
          FROM conv WHERE delta IS NOT NULL),
        p AS (
          SELECT delta, rn, (n + 1) // 2 AS lo, (n + 2) // 2 AS hi,
                 (9 * n + 9) // 10 AS r90
          FROM ranked)
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM conv) AS n_signed,
               CAST(count(*) AS BIGINT) AS n_converted,
               CAST(min(CASE WHEN rn IN (lo, hi) THEN delta END)
                    + max(CASE WHEN rn IN (lo, hi) THEN delta END) AS BIGINT) AS med2_us,
               CAST(max(CASE WHEN rn = r90 THEN delta END) AS BIGINT) AS p90_us
        FROM p""")),

    // Market-basket association mining: brand co-occurrence LIFT within
    // orders — support counts for brand pairs bought together and
    // lift = P(a,b) / (P(a)P(b)) as the independence ratio, the
    // classic affinity signal behind recommenders and assortment
    // analysis. The pair join is BLOCKED on the order key, and the
    // within-order quadratic is ENFORCED bounded: baskets with more
    // than MaxBasketBrands distinct brands are dropped via
    // Scale.capHotKeys (r9; inert at TPC-H's ~25-brand domain,
    // load-bearing on a real catalog where one mega-basket would turn
    // its block quadratic — a basket holding the whole catalog carries
    // no pairwise-affinity signal, the stop-shingle argument;
    // oracle-mirrored). The 25-row brand marginals broadcast back, and
    // the lift cross-multiplies exact integer counts before one
    // deterministic division, exiting as an e6-scaled BIGINT. Top-20
    // pairs by support, full tie-breaks.
    "mine_brand_lift" -> QueryDef(
      (s, d) => {
        // Basket-array shape (r11), built in ONE exchange (r16, verdict
        // #4): the old pipeline shuffled the 550k-row (ok, brand) frame
        // three times — distinct at (ok, brand), capHotKeys' hot-set
        // anti-join, then the per-order groupBy. collect_set folds the
        // per-order distinct into the basket aggregation itself
        // (partial-merge state is bounded: it holds at most the brand
        // universe per order), and the basket-size cap becomes a
        // post-aggregation size() filter — SAME semantics as the old
        // capHotKeys leg (an order with more than MaxBasketBrands
        // distinct brands is dropped whole, oracle-mirrored), one
        // corpus shuffle instead of three. Every downstream reads the
        // 150k-row basket frame: the marginals explode it, and the
        // within-order pairs come from a per-row array comprehension
        // over the SORTED array — identical (a < b) pair set, no join.
        val baskets = Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_partkey"))
          .join(Tables.part(s, d).select(col("p_partkey"), col("p_brand")),
            col("l_partkey") === col("p_partkey"))
          .select(col("l_orderkey").as("ok"), col("p_brand").as("brand"))
          .groupBy(col("ok"))
          .agg(sort_array(collect_set(col("brand"))).as("bs"))
          .where(size(col("bs")) <= MaxBasketBrands)
          .persistScoped()
        // JOB-COLLAPSED marginals (r16, verdict #4): the brand universe
        // is catalog-bounded (TPC-H: 25), so the per-brand counts and
        // the order count COLLECT from the persisted basket frame —
        // two tiny jobs instead of three broadcast exchanges (singles
        // twice + nOrders), which with AQE ran the 20-row result at 19
        // jobs and 3.9× its millisecond oracle twin. Counts re-enter as
        // an integer literal map — arithmetic unchanged.
        // ONE job for both scalars (r17, guide §1.2/the doremi
        // discipline): the old shape collected the brand counts and ran
        // a separate count() — two actions (and two AQE stages) over the
        // cached basket frame. Appending a NULL sentinel to each basket
        // before the explode makes every order contribute exactly one
        // NULL-brand row, so the same single aggregation yields the
        // 25-row brand counts AND the order count (the NULL group), one
        // exchange, one job. Values are the identical exact integers.
        val statRows = baskets
          .select(explode(concat(col("bs"),
            array(lit(null).cast("string")))).as("brand"))
          .groupBy(col("brand")).agg(count(lit(1)).as("c"))
          .collect()
        val cMap = statRows.filter(!_.isNullAt(0))
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        val nOrdersL = statRows.find(_.isNullAt(0)).map(_.getLong(1)).getOrElse(0L)
        // typedLit keeps map<string,bigint> typing on an EMPTY corpus —
        // a zero-arg map() degrades its value type to string and
        // element_at would feed strings into the lift arithmetic
        // (r17 ADVICE; result set is empty there, but the plan should
        // still analyze with the right types)
        val cmLit = typedLit(cMap)
        val pairs = baskets.select(explode(expr(
            """flatten(transform(bs, (a, i) ->
               transform(slice(bs, i + 2, size(bs)),
                         b -> named_struct('brand_a', a, 'brand_b', b))))"""))
            .as("pr"))
          .select(col("pr.brand_a"), col("pr.brand_b"))
          .groupBy(col("brand_a"), col("brand_b"))
          .agg(count(lit(1)).as("c_ab"))
        pairs
          .withColumn("c_a", element_at(cmLit, col("brand_a")))
          .withColumn("c_b", element_at(cmLit, col("brand_b")))
          .withColumn("lift_e6", expr(Q.scaledLong(
            s"CAST(c_ab * ${nOrdersL}L AS DOUBLE) / CAST(c_a * c_b AS DOUBLE)", 6)))
          .withColumn("rn", row_number().over(
            Window.orderBy(col("c_ab").desc, col("brand_a"), col("brand_b"))))
          .where(col("rn") <= 20)
          .selectExpr("CAST(rn AS BIGINT) AS rn", "brand_a", "brand_b",
            "c_ab", "lift_e6")
          .orderBy(col("rn"))
      },
      Some(s"""
        WITH items0 AS MATERIALIZED (
          SELECT DISTINCT l_orderkey AS ok, p_brand AS brand
          FROM lineitem JOIN part ON l_partkey = p_partkey),
        items AS MATERIALIZED (
          SELECT ok, brand FROM items0 WHERE ok NOT IN (
            SELECT ok FROM items0 GROUP BY ok
            HAVING count(*) > $MaxBasketBrands)),
        n AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n_orders FROM items),
        singles AS (
          SELECT brand, CAST(count(*) AS BIGINT) AS c FROM items GROUP BY brand),
        pairs AS (
          SELECT a.brand AS brand_a, b.brand AS brand_b,
                 CAST(count(*) AS BIGINT) AS c_ab
          FROM items a JOIN items b
            ON a.ok = b.ok AND a.brand < b.brand
          GROUP BY 1, 2),
        scored AS (
          SELECT brand_a, brand_b, c_ab,
                 ${Q.scaledLong(
          "CAST(c_ab * n_orders AS DOUBLE) / CAST(sa.c * sb.c AS DOUBLE)", 6)} AS lift_e6,
                 row_number() OVER (ORDER BY c_ab DESC, brand_a, brand_b) AS rn
          FROM pairs JOIN singles sa ON pairs.brand_a = sa.brand
                     JOIN singles sb ON pairs.brand_b = sb.brand
                     CROSS JOIN n)
        SELECT CAST(rn AS BIGINT) AS rn, brand_a, brand_b, c_ab, lift_e6
        FROM scored WHERE rn <= 20 ORDER BY rn""")),

    // AUTOMATIC range join — the declarative twin of join_range_bands:
    // the user writes the naive inequality join (purchases landing in
    // each signup's next-60s window) and graft.plans.RangeJoinRule
    // rewrites it at OPTIMIZATION time into the banded equi-join the
    // manual query builds by hand (bin = the window length, interval
    // side exploded to its covering bins, original predicate kept as
    // the residual). Without the rule Spark plans this shape as
    // BroadcastNestedLoopJoin — every signup compared against every
    // purchase, the 100 TB death sentence; PlanShapeSpec asserts the
    // rewritten plan carries no nested-loop node. The oracle runs the
    // same naive join through DuckDB's IEJoin — two engines, two
    // different inequality-join optimizations, one result.
    "join_range_auto" -> QueryDef(
      (s, d) => {
        // No conf choreography (r11): the window span is a CONSTANT in
        // the predicate (next-60s), so RangeJoinRule infers the bin from
        // the plan itself — which is the only mechanism that survives
        // re-optimization: a conf scoped to this build never reaches the
        // NEW QueryExecutions that .count()/.write derive from the frame
        // later (they re-optimize under whatever conf is live then).
        // PlanShapeSpec asserts the executed plan carries the _rj_bin
        // equality and no nested-loop node.
        val ev = Tables.events(s, d)
          .select(col("event_type"), epochUs(col("ts")).as("tus"),
            col("event_id"))
        val sg = ev.where(col("event_type") === "signup")
          .select(col("tus").as("s_tus"), col("event_id").as("sid"))
        val pu = ev.where(col("event_type") === "purchase")
          .select(col("tus").as("p_tus"))
        sg.join(pu,
            col("p_tus") > col("s_tus") &&
              col("p_tus") <= col("s_tus") + lit(60000000L))
          .groupBy(col("sid")).agg(count(lit(1)).as("n_purch"))
          .groupBy(col("n_purch"))
          .agg(count(lit(1)).cast("bigint").as("n_signups"))
          .selectExpr("CAST(n_purch AS BIGINT) AS n_purch", "n_signups")
          .orderBy(col("n_purch"))
      },
      Some("""
        WITH ev AS (
          SELECT event_type, epoch_us(ts) AS tus, event_id FROM events),
        sg AS (
          SELECT tus AS s_tus, event_id AS sid FROM ev
          WHERE event_type = 'signup'),
        pu AS (
          SELECT tus AS p_tus FROM ev WHERE event_type = 'purchase'),
        per AS (
          SELECT sid, CAST(count(*) AS BIGINT) AS n_purch
          FROM sg JOIN pu
            ON p_tus > s_tus AND p_tus <= s_tus + 60000000
          GROUP BY sid)
        SELECT n_purch, CAST(count(*) AS BIGINT) AS n_signups
        FROM per GROUP BY n_purch ORDER BY n_purch""")),

    // Point-in-time (AS OF) join against the SCD2 dimension — the
    // consumer of the scd2_user_state build: each purchase event looks
    // up the user state (last non-purchase activity regime) valid AT the
    // purchase timestamp. The join is an equi-join on user_id with the
    // validity range as a residual ([valid_from, valid_to) with an open
    // current regime), which is the temporal-join shape warehouses run
    // for every fact-to-dimension-history lookup; purchases before any
    // regime report state 'none'. Blocked on the natural key, the range
    // predicate never leaves its user partition — same scale contract as
    // join_interval_overlap.
    "join_scd2_point_in_time" -> QueryDef(
      (s, d) => {
        val wOrd = Window.partitionBy(col("user_id"))
          .orderBy(col("tus"), col("event_id"))
        val base = Tables.events(s, d)
          .select(col("user_id"), epochUs(col("ts")).as("tus"),
            col("event_id"), col("event_type"))
        val dim = base.filter(col("event_type") =!= "purchase")
          .withColumn("prev", lag(col("event_type"), 1).over(wOrd))
          .withColumn("chg",
            when(col("prev").isNull || col("prev") =!= col("event_type"), 1L)
              .otherwise(0L))
          .withColumn("rid", sum(col("chg")).over(
            wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy(col("user_id"), col("rid"), col("event_type"))
          .agg(min(col("tus")).as("valid_from_us"))
          .withColumn("valid_to_us", lead(col("valid_from_us"), 1).over(
            Window.partitionBy(col("user_id")).orderBy(col("valid_from_us"))))
          .select(col("user_id").as("d_user"), col("event_type").as("state"),
            col("valid_from_us"), col("valid_to_us"))
        val facts = base.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("tus"))
        facts.join(dim,
            col("user_id") === col("d_user") &&
              col("tus") >= col("valid_from_us") &&
              (col("valid_to_us").isNull || col("tus") < col("valid_to_us")),
            "left")
          .groupBy(coalesce(col("state"), lit("none")).as("state"))
          .agg(count(lit(1)).as("n_purchases"),
            countDistinct(col("user_id")).as("n_users"))
          .orderBy(col("state"))
      },
      Some("""
        WITH e AS (
          SELECT user_id, epoch_us(ts) AS tus, event_id, event_type FROM events),
        x AS (
          SELECT *, lag(event_type) OVER (PARTITION BY user_id
                        ORDER BY tus, event_id) AS prev
          FROM e WHERE event_type <> 'purchase'),
        y AS (
          SELECT *, CASE WHEN prev IS NULL OR prev <> event_type
                         THEN 1 ELSE 0 END AS chg FROM x),
        z AS (
          SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY tus, event_id
                        ROWS UNBOUNDED PRECEDING) AS rid FROM y),
        dim AS (
          SELECT user_id AS d_user, event_type AS state,
                 min(tus) AS valid_from_us,
                 lead(min(tus)) OVER (PARTITION BY user_id
                     ORDER BY min(tus)) AS valid_to_us
          FROM z GROUP BY user_id, rid, event_type),
        facts AS (
          SELECT user_id, epoch_us(ts) AS tus FROM events
          WHERE event_type = 'purchase')
        SELECT coalesce(d.state, 'none') AS state,
               CAST(count(*) AS BIGINT) AS n_purchases,
               CAST(count(DISTINCT f.user_id) AS BIGINT) AS n_users
        FROM facts f LEFT JOIN dim d
          ON f.user_id = d.d_user AND f.tus >= d.valid_from_us
             AND (d.valid_to_us IS NULL OR f.tus < d.valid_to_us)
        GROUP BY 1 ORDER BY state""")),

    // NOT IN with a nullable probe — the null-aware anti join. Three-
    // valued logic makes NOT IN differ from a plain anti join: a NULL
    // probe value can never satisfy `NOT IN`, so size-7 parts (nulled by
    // the nullif) drop out ALONG WITH the sizes the subquery lists.
    // Spark plans this as a broadcast null-aware anti join (single
    // broadcast of the small subquery, no shuffle); expressed through
    // the SQL surface because the DataFrame API has no NOT IN form.
    "join_not_in_nulls" -> QueryDef(
      (s, d) => {
        Tables.part(s, d).createOrReplaceTempView("graft_part_nn")
        s.sql("""
          SELECT p_partkey, p_size FROM graft_part_nn
          WHERE nullif(p_size, 7) NOT IN
            (SELECT p_size FROM graft_part_nn
             WHERE p_type = 'ECONOMY' AND p_size <= 5)
          ORDER BY p_partkey""")
      },
      Some("""
        SELECT p_partkey, p_size FROM part
        WHERE nullif(p_size, 7) NOT IN
          (SELECT p_size FROM part WHERE p_type = 'ECONOMY' AND p_size <= 5)
        ORDER BY p_partkey""")),

    // Fixed-bin histogram: one scan, one aggregate — the profile shape
    // for a numeric column at any scale (bin arithmetic is row-local;
    // the shuffle carries nbins rows). floor() on a constant divisor is
    // the same correctly-rounded IEEE op in both engines, so bucket
    // boundaries can't drift between Spark and the oracle.
    "hist_order_totals" -> QueryDef(
      (s, d) => {
        Tables.orders(s, d)
          .select(least(floor(col("o_totalprice") / lit(50000.0)), lit(9.0))
            .cast("int").as("bucket"), col("o_totalprice"))
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n"),
            round(min(col("o_totalprice")), 2).as("lo"),
            round(max(col("o_totalprice")), 2).as("hi"))
          .orderBy(col("bucket"))
      },
      Some("""
        SELECT CAST(least(floor(o_totalprice / 50000.0), 9.0) AS INT) AS bucket,
               CAST(count(*) AS BIGINT) AS n,
               round(min(o_totalprice), 2) AS lo,
               round(max(o_totalprice), 2) AS hi
        FROM orders GROUP BY 1 ORDER BY bucket""")),

    // Quantiles from a MERGEABLE per-shard histogram — the no-global-sort
    // path to P50/P90/P99 at corpus scale: every shard folds its rows
    // into a fixed 32-bin histogram (the partial state is 32 integers,
    // mergeable by addition — the same contract HLL/Count-Min exploit),
    // the merged histogram cumulates once over its 32 bounded rows, and
    // each quantile reads off the first bin whose cumulative count
    // covers ceil(q*N/100). The answer is bin-resolution (bin id, lower
    // bound, covering count) — the exact-integer, oracle-checkable
    // counterpart of approx_percentile's sketch. The explicit shard
    // level keeps the partial/final merge observable; at cluster scale
    // shard = input partition and the merge is the only shuffle (32 rows
    // per shard).
    "sketch_histogram_quantiles" -> QueryDef(
      (s, d) => {
        val binned = Tables.orders(s, d)
          .select(least(floor(col("o_totalprice") / lit(20000.0)), lit(31.0))
            .cast("long").as("bin"), (col("o_orderkey") % 8).as("shard"))
        val partial = binned.groupBy(col("shard"), col("bin"))
          .agg(count(lit(1)).as("n"))
        val merged = partial.groupBy(col("bin")).agg(sum(col("n")).as("n"))
        val cum = merged.withColumn("cum_n", sum(col("n")).over(
          Window.orderBy(col("bin"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        val tot = merged.agg(sum(col("n")).as("total"))
        val qs = s.range(1).selectExpr("explode(array(50, 90, 99)) AS q")
        val picked = cum.crossJoin(broadcast(tot)).crossJoin(broadcast(qs))
          .filter(col("cum_n") * lit(100L) >= col("q") * col("total"))
          .groupBy(col("q")).agg(min(col("bin")).as("bin"))
        picked.join(cum.select(col("bin"), col("cum_n")), Seq("bin"))
          .selectExpr("CAST(q AS BIGINT) AS q", "bin",
            "CAST(bin * 20000 AS BIGINT) AS bin_lo", "cum_n")
          .orderBy(col("q"))
      },
      Some("""
        WITH binned AS (
          SELECT CAST(least(floor(o_totalprice / 20000.0), 31.0) AS BIGINT) AS bin,
                 o_orderkey % 8 AS shard
          FROM orders),
        partial AS (
          SELECT shard, bin, count(*) AS n FROM binned GROUP BY 1, 2),
        merged AS (
          SELECT bin, CAST(sum(n) AS BIGINT) AS n FROM partial GROUP BY bin),
        cum AS (
          SELECT bin, sum(n) OVER (ORDER BY bin
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n,
                 (SELECT sum(n) FROM merged) AS total
          FROM merged),
        picked AS (
          SELECT q, min(bin) AS bin
          FROM cum CROSS JOIN (SELECT unnest([50, 90, 99]) AS q) qs
          WHERE cum_n * 100 >= q * total
          GROUP BY q)
        SELECT CAST(p.q AS BIGINT) AS q, p.bin,
               CAST(p.bin * 20000 AS BIGINT) AS bin_lo,
               CAST(c.cum_n AS BIGINT) AS cum_n
        FROM picked p JOIN cum c ON p.bin = c.bin
        ORDER BY q""")),

    // Moments quantile sketch (Gan et al. 2018, "Moment-Based Quantile
    // Sketches for Efficient High Cardinality Aggregation Queries" —
    // the sketch Druid ships): summarize a shard by its raw power sums
    // (n, Σx, Σx², Σx³), MERGE shards by pure ADDITION, then estimate
    // quantiles from the merged moments via the Cornish-Fisher
    // expansion (z + skew/6·(z²−1)). Chosen over t-digest DELIBERATELY:
    // t-digest centroids depend on merge ORDER, so a Spark run and a
    // DuckDB run (or two Spark runs) produce different digests and the
    // cross-engine hash gate cannot hold; power sums are
    // order-invariant, the only truly deterministic mergeable quantile
    // summary. Gated like the other sketches (r8 contract): estimate +
    // exact twin + within_bound — the exact twins come from the
    // cents-histogram rank (GlobalOrder.runningSum over the bounded
    // price grid, no single-task window), and the <= 15% bound is
    // checked by exact integer cross-multiplication in cents.
    "sketch_moments_quantiles" -> QueryDef(
      (s, d) => {
        val shards = Tables.orders(s, d)
          .selectExpr("o_orderkey % 8 AS shard", "CAST(o_totalprice AS DOUBLE) AS x")
          .groupBy(col("shard"))
          .agg(count(lit(1)).as("pn"), sum(col("x")).as("ps1"),
            sum(expr("x * x")).as("ps2"), sum(expr("x * x * x")).as("ps3"))
        val merged = shards.agg(sum(col("pn")).as("n"), sum(col("ps1")).as("s1"),
          sum(col("ps2")).as("s2"), sum(col("ps3")).as("s3"))
        val est = merged.selectExpr("n",
          s"${Q.scaledLong(MomP50, 2)} AS est_p50_c",
          s"${Q.scaledLong(MomP90, 2)} AS est_p90_c")
        val byPrice = Tables.orders(s, d)
          .selectExpr(s"${Q.scaledLong("o_totalprice", 2)} AS price_c")
          .groupBy(col("price_c")).agg(count(lit(1)).as("c"))
        // total = the running sum's grand total, already on the driver
        // from the per-bucket offset collect (r18; the r17 max(cum_n)
        // branch would re-execute the cumulative plan for one scalar
        // once runningSum stopped checkpointing internally) — embedded
        // as a literal. Identical BIGINT (the inclusive monotone
        // cumulative ends at the grand count); the exact-quantile pivot
        // stays ONE aggregate over cum.
        val (cum, total) = graft.engine.ops.GlobalOrder
          .runningSumTotal(byPrice, col("price_c"), Nil, col("c"), "cum_n")
        val ex = cum
          .agg(
            min(when(col("cum_n") * lit(100L) >= lit(50L * total),
              col("price_c"))).as("exact_p50_c"),
            min(when(col("cum_n") * lit(100L) >= lit(90L * total),
              col("price_c"))).as("exact_p90_c"))
        est.crossJoin(broadcast(ex))
          .selectExpr("n", "est_p50_c", "exact_p50_c",
            "abs(est_p50_c - exact_p50_c) * 100 <= 15 * exact_p50_c AS p50_within",
            "est_p90_c", "exact_p90_c",
            "abs(est_p90_c - exact_p90_c) * 100 <= 15 * exact_p90_c AS p90_within")
      },
      Some(s"""
        WITH shards AS (
          SELECT o_orderkey % 8 AS shard, count(*) AS pn,
                 sum(CAST(o_totalprice AS DOUBLE)) AS ps1,
                 sum(CAST(o_totalprice AS DOUBLE) * CAST(o_totalprice AS DOUBLE)) AS ps2,
                 sum(CAST(o_totalprice AS DOUBLE) * CAST(o_totalprice AS DOUBLE) * CAST(o_totalprice AS DOUBLE)) AS ps3
          FROM orders GROUP BY shard),
        merged AS (
          SELECT CAST(sum(pn) AS BIGINT) AS n, sum(ps1) AS s1,
                 sum(ps2) AS s2, sum(ps3) AS s3
          FROM shards),
        est AS (
          SELECT n, ${Q.scaledLong(MomP50, 2)} AS est_p50_c,
                 ${Q.scaledLong(MomP90, 2)} AS est_p90_c
          FROM merged),
        bp AS (
          SELECT ${Q.scaledLong("o_totalprice", 2)} AS price_c,
                 CAST(count(*) AS BIGINT) AS c
          FROM orders GROUP BY 1),
        cum AS (
          SELECT price_c, sum(c) OVER (ORDER BY price_c
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n,
                 (SELECT sum(c) FROM bp) AS total
          FROM bp),
        ex AS (
          SELECT CAST(min(CASE WHEN q = 50 THEN px END) AS BIGINT) AS exact_p50_c,
                 CAST(min(CASE WHEN q = 90 THEN px END) AS BIGINT) AS exact_p90_c
          FROM (
            SELECT q, min(price_c) AS px
            FROM cum CROSS JOIN (SELECT unnest([50, 90]) AS q) qs
            WHERE cum_n * 100 >= q * total
            GROUP BY q) t)
        SELECT n, est_p50_c, exact_p50_c,
               abs(est_p50_c - exact_p50_c) * 100 <= 15 * exact_p50_c AS p50_within,
               est_p90_c, exact_p90_c,
               abs(est_p90_c - exact_p90_c) * 100 <= 15 * exact_p90_c AS p90_within
        FROM est CROSS JOIN ex""")),

    // SQL:2016 LISTAGG ... WITHIN GROUP (ORDER BY ...) — the ordered
    // string aggregation added to the engine surface in Spark 4. The
    // WITHIN GROUP ordering makes the concatenation deterministic
    // (collect_list order is partition-arrival-dependent; listagg's
    // mandated sort is not). DuckDB's equivalent is string_agg with an
    // ORDER BY in the aggregate.
    "agg_listagg_names" -> QueryDef(
      (s, d) => {
        Tables.supplier(s, d)
          .join(broadcast(Tables.nation(s, d)),
            col("s_nationkey") === col("n_nationkey"))
          .filter(col("s_suppkey") % 10 === 0)
          .groupBy(col("n_name").as("nation"))
          .agg(expr("listagg(s_name, ',') WITHIN GROUP (ORDER BY s_name)")
            .as("names"))
          .orderBy(col("nation"))
      },
      Some("""
        SELECT n_name AS nation,
               string_agg(s_name, ',' ORDER BY s_name) AS names
        FROM supplier JOIN nation ON s_nationkey = n_nationkey
        WHERE s_suppkey % 10 = 0
        GROUP BY 1 ORDER BY nation""")),

    // Join strategy HINT surface: the same orders x customer equi-join
    // forced through a shuffled hash join. The hint API is the
    // per-query escape hatch when a sort-merge default is wrong (build
    // side known small per partition but above the broadcast threshold
    // — at 100 TB the difference is a full sort of both sides vs a hash
    // build of one). PlanShapeSpec asserts the physical operator;
    // results are identical to the unhinted join, which is what the
    // oracle checks.
    "join_shuffle_hash_hint" -> QueryDef(
      (s, d) => {
        Tables.orders(s, d)
          .join(Tables.customer(s, d).hint("shuffle_hash"),
            col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n_orders"),
            round(sum(col("o_totalprice")), 2).as("total"))
          .orderBy(col("c_mktsegment"))
      },
      Some("""
        SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders,
               round(sum(o_totalprice), 2) AS total
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    // from_xml (Spark 4's XML function surface) proven by round-trip
    // identity: XML is RENDERED from order rows row-locally, parsed
    // back by from_xml with an explicit schema, and the parsed fields
    // are emitted — so the oracle needs no XML support at all, it just
    // reads the original columns. Any parser deviation (type coercion,
    // whitespace, element order) surfaces as a value mismatch. Values
    // are ints/enum strings, so no XML-escaping ambiguity exists.
    "func_from_xml" -> QueryDef(
      (s, d) => {
        Tables.orders(s, d)
          .filter(col("o_orderkey") % 500 === 0)
          .withColumn("xml", concat(
            lit("<o><k>"), col("o_orderkey"), lit("</k><p>"),
            col("o_orderpriority"), lit("</p><st>"),
            col("o_orderstatus"), lit("</st></o>")))
          .select(expr(
            "from_xml(xml, 'k BIGINT, p STRING, st STRING')").as("o"))
          .select(col("o.k").as("o_orderkey"),
            col("o.p").as("o_orderpriority"),
            col("o.st").as("o_orderstatus"))
          .orderBy(col("o_orderkey"))
      },
      Some("""
        SELECT o_orderkey, o_orderpriority, o_orderstatus
        FROM orders WHERE o_orderkey % 500 = 0
        ORDER BY o_orderkey""")),

    // TPC-H Q12 shape: two-bucket conditional aggregation of order
    // priority over a date-window fact filter. The testdata lineitem
    // has no shipmode/commitdate, so the category is l_linestatus and
    // "late" is shipped > 90 days after the order date — the join +
    // CASE-IN + GROUP BY structure is Q12's. The date filter pushes to
    // the lineitem scan; the join shuffles on orderkey only for rows
    // that survive it.
    "q12_late_lines" -> QueryDef(
      (s, d) => {
        Tables.lineitem(s, d)
          .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
          .where(col("l_shipdate") > date_add(col("o_orderdate"), 90))
          .groupBy(col("l_linestatus"))
          .agg(
            sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
              .otherwise(0L)).as("high_line_count"),
            sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
              .otherwise(1L)).as("low_line_count"))
          .orderBy(col("l_linestatus"))
      },
      Some("""
        SELECT l_linestatus,
               CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                             THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
        GROUP BY l_linestatus ORDER BY l_linestatus""")),

    // TPC-H Q20 shape: the nested-aggregate semi-join chain — suppliers
    // qualified by comparing their own aggregate against a fraction of
    // a correlated aggregate. No partsupp/availqty exists, so the
    // predicate is "shipped at least twice a part's mean per-supplier
    // quantity" (an outsized supplier — 2/n_suppliers as the fraction
    // keeps the test non-degenerate on this uniform synthetic corpus,
    // where no supplier ever reaches Q20's 50%); the structure — inner
    // per-(part, supplier) aggregate, correlated per-part total,
    // fraction comparison, semi join up to the supplier relation — is
    // Q20's. The per-part total and supplier count reuse the per-pair
    // aggregate (one shuffle, window over parts) instead of re-scanning
    // the fact.
    "q20_dominant_supplier" -> QueryDef(
      (s, d) => {
        val perPair = Tables.lineitem(s, d)
          .join(Tables.part(s, d).filter(col("p_type") === "PROMO")
            .select(col("p_partkey")), col("l_partkey") === col("p_partkey"))
          .groupBy(col("l_partkey"), col("l_suppkey"))
          .agg(sum(col("l_quantity")).as("qty"))
        val w = Window.partitionBy(col("l_partkey"))
        val dominant = perPair
          .withColumn("total", sum(col("qty")).over(w))
          .withColumn("n_s", count(lit(1)).over(w))
          .where(col("qty") * col("n_s") >= col("total") * 2)
          .select(col("l_suppkey")).distinct()
        Tables.supplier(s, d)
          .join(dominant, col("s_suppkey") === col("l_suppkey"), "left_semi")
          .select(col("s_name"), col("s_suppkey"))
          .orderBy(col("s_suppkey"))
      },
      Some("""
        SELECT s_name, s_suppkey FROM supplier
        WHERE s_suppkey IN (
          SELECT l_suppkey FROM (
            SELECT l_partkey, l_suppkey, sum(l_quantity) AS qty,
                   sum(sum(l_quantity)) OVER (PARTITION BY l_partkey) AS total,
                   count(*) OVER (PARTITION BY l_partkey) AS n_s
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE p_type = 'PROMO'
            GROUP BY l_partkey, l_suppkey)
          WHERE qty * n_s >= total * 2)
        ORDER BY s_suppkey""")),

    // Cohort retention — the product-analytics staple: users grouped by
    // their ACTIVATION week (first high-value purchase; anchoring on
    // plain first activity is degenerate on this corpus, where every
    // user appears in week 1), then distinct active users counted at
    // each week offset since activation. Two aggregates and one join,
    // all keyed by user_id, so the whole triangle costs one fact
    // shuffle; ISO Monday week truncation and day arithmetic are
    // identical in both engines. The output is the retention triangle
    // (cohort week x weeks-since x active users) dashboards plot
    // directly.
    "cohort_retention" -> QueryDef(
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("user_id"), col("event_type"), col("value"),
            to_date(col("ts").cast("timestamp")).as("day"))
        val firsts = ev
          .where(col("event_type") === "purchase" && col("value") > 90)
          .groupBy(col("user_id"))
          .agg(min(col("day")).as("first_day"))
        ev.select(col("user_id"), col("day")).distinct()
          .join(firsts, "user_id")
          .where(col("day") >= col("first_day"))
          .select(
            date_trunc("week", col("first_day")).cast("date").as("cohort_week"),
            expr("CAST(datediff(day, first_day) div 7 AS BIGINT)").as("w"),
            col("user_id"))
          .groupBy(col("cohort_week"), col("w"))
          .agg(countDistinct(col("user_id")).as("n_users"))
          .orderBy(col("cohort_week"), col("w"))
      },
      Some("""
        WITH ev AS (
          SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        firsts AS (
          SELECT user_id, min(CAST(ts AS DATE)) AS first_day FROM events
          WHERE event_type = 'purchase' AND value > 90
          GROUP BY user_id)
        SELECT CAST(date_trunc('week', first_day) AS DATE) AS cohort_week,
               CAST(date_diff('day', first_day, day) // 7 AS BIGINT) AS w,
               CAST(count(DISTINCT ev.user_id) AS BIGINT) AS n_users
        FROM ev JOIN firsts ON ev.user_id = firsts.user_id
        WHERE day >= first_day
        GROUP BY 1, 2 ORDER BY cohort_week, w""")),

    // Bounded ROWS window frame (the moving aggregate): each order's
    // total summed with its two predecessors within the customer — the
    // one frame shape (N PRECEDING) the window family still lacked
    // (running = unbounded, range = value-bounded). Emitted as the
    // scaled-integer sum of the frame per the derived-double policy.
    "window_moving_sum" -> QueryDef(
      (s, d) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))
          .rowsBetween(-2, Window.currentRow)
        Tables.orders(s, d)
          .filter(col("o_custkey") % 100 === 0)
          .withColumn("mv", sum(col("o_totalprice")).over(w))
          .selectExpr("o_custkey", "o_orderkey",
            s"${Q.scaledLong("mv", 2)} AS moving_e2")
          .orderBy(col("o_custkey"), col("o_orderkey"))
      },
      Some(s"""
        SELECT o_custkey, o_orderkey,
               ${Q.scaledLong(
          """sum(o_totalprice) OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)""", 2)} AS moving_e2
        FROM orders WHERE o_custkey % 100 = 0
        ORDER BY o_custkey, o_orderkey""")),

    // Ratio-to-report: each nation's share of its REGION's revenue via
    // a partition-total window over the aggregated (25-row) frame — the
    // BI percent-of-total shape. Both the numerator and denominator are
    // exact per-row-scaled integer sums before the one share division,
    // so the only double arithmetic is the final ratio of two identical
    // integers in both engines.
    "window_ratio_to_report" -> QueryDef(
      (s, d) => {
        val valE2 = expr(Q.scaledLong("l_extendedprice * (1.0 - l_discount)", 2))
        val byNation = Tables.lineitem(s, d)
          .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(Tables.nation(s, d)),
            col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(Tables.region(s, d)),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("r_name"), col("n_name"), valE2.as("v_e2"))
          .groupBy(col("r_name"), col("n_name"))
          .agg(sum(col("v_e2")).as("value_e2"))
        val w = Window.partitionBy(col("r_name"))
        byNation
          .withColumn("region_e2", sum(col("value_e2")).over(w))
          .selectExpr("r_name", "n_name", "value_e2",
            s"${Q.scaledLong("CAST(value_e2 AS DOUBLE) / region_e2", 4)} AS share_e4")
          .orderBy(col("r_name"), col("n_name"))
      },
      Some(s"""
        WITH g AS (
          SELECT r_name, n_name,
                 CAST(sum(${Q.scaledLong("l_extendedprice * (1.0 - l_discount)", 2)}) AS BIGINT) AS value_e2
          FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
                        JOIN nation ON s_nationkey = n_nationkey
                        JOIN region ON n_regionkey = r_regionkey
          GROUP BY 1, 2)
        SELECT r_name, n_name, value_e2,
               ${Q.scaledLong(
          "CAST(value_e2 AS DOUBLE) / (sum(value_e2) OVER (PARTITION BY r_name))",
          4)} AS share_e4
        FROM g ORDER BY r_name, n_name""")),

    // Time-series densification (gap filling): a generated calendar
    // spine cross-joined with the dimension domain, left-joined to the
    // sparse daily aggregate, missing days emitted as explicit zeros —
    // the BI prerequisite for correct moving averages and charts over
    // sparse activity. The spine is sequence()-generated (bounded:
    // days x types, never data-sized) and the fact aggregates BEFORE
    // the join; the aggregate side carries the broadcast hint because
    // a LEFT OUTER join can only build (broadcast) its right side —
    // the preserved spine side is not legally broadcastable, and the
    // aggregate is grid-bounded too, so at any corpus scale the dense
    // grid costs one fact aggregation plus a broadcast join.
    "time_gap_fill" -> QueryDef(
      (s, d) => {
        val spine = s.range(1)
          .select(explode(expr(
            "sequence(DATE'2024-01-01', DATE'2024-01-31', INTERVAL 1 DAY)"))
            .as("day"))
          .crossJoin(Tables.events(s, d)
            .select(col("event_type")).distinct())
        val daily = Tables.events(s, d)
          .where(col("value") > 480) // rare high-value events: real gaps
          .groupBy(to_date(col("ts").cast("timestamp")).as("day"),
            col("event_type"))
          .agg(count(lit(1)).as("n"))
        spine
          .join(broadcast(daily), Seq("day", "event_type"), "left")
          .select(col("day"), col("event_type"),
            coalesce(col("n"), lit(0L)).as("n"))
          .orderBy(col("day"), col("event_type"))
      },
      Some("""
        WITH spine AS (
          SELECT unnest(generate_series(DATE '2024-01-01', DATE '2024-01-31',
                        INTERVAL 1 DAY))::DATE AS day),
        grid AS (
          SELECT day, event_type FROM spine
          CROSS JOIN (SELECT DISTINCT event_type FROM events)),
        daily AS (
          SELECT CAST(ts AS DATE) AS day, event_type,
                 CAST(count(*) AS BIGINT) AS n
          FROM events WHERE value > 480
          GROUP BY 1, 2)
        SELECT g.day, g.event_type, coalesce(d.n, 0) AS n
        FROM grid g LEFT JOIN daily d
          ON g.day = d.day AND g.event_type = d.event_type
        ORDER BY g.day, g.event_type NULLS FIRST""")),

    // LINEAR interpolation over the same calendar grid — the time-series
    // consumer that can't accept time_gap_fill's zeros (sensor/metric
    // semantics: a missing day means unobserved, not zero). Nearest
    // observation on each side via last/first IGNORE NULLS over the
    // grid; interior gaps interpolate with the floor-of-double formula
    // (identical IEEE op sequence both engines), edges carry the nearest
    // value. Scale shape: the fact table contributes one aggregation;
    // every window runs over the GRID (days x types, bounded), never the
    // fact rows — at any corpus scale the interpolation itself is
    // constant-cost.
    "time_interpolate_gaps" -> QueryDef(
      (s, d) => {
        val spine = s.range(1)
          .select(explode(expr(
            "sequence(DATE'2024-01-01', DATE'2024-01-31', INTERVAL 1 DAY)"))
            .as("day"))
          .crossJoin(Tables.events(s, d)
            .select(col("event_type")).distinct())
        val daily = Tables.events(s, d)
          .where(col("value") > 300) // sparse but multi-point: interior gaps interpolate
          .groupBy(to_date(col("ts").cast("timestamp")).as("day"),
            col("event_type"))
          .agg(count(lit(1)).as("n"))
        val grid = spine
          .join(broadcast(daily), Seq("day", "event_type"), "left")
          .withColumn("t", expr("datediff(day, DATE'2024-01-01')"))
        val wPrev = Window.partitionBy(col("event_type")).orderBy(col("t"))
          .rowsBetween(Window.unboundedPreceding, 0)
        val wNext = Window.partitionBy(col("event_type")).orderBy(col("t"))
          .rowsBetween(0, Window.unboundedFollowing)
        grid
          .withColumn("pv", last(col("n"), ignoreNulls = true).over(wPrev))
          .withColumn("tp",
            last(when(col("n").isNotNull, col("t")), ignoreNulls = true).over(wPrev))
          .withColumn("nv", first(col("n"), ignoreNulls = true).over(wNext))
          .withColumn("tn",
            first(when(col("n").isNotNull, col("t")), ignoreNulls = true).over(wNext))
          .selectExpr("day", "event_type",
            """CAST(CASE WHEN n IS NOT NULL THEN n
                    WHEN pv IS NULL THEN nv
                    WHEN nv IS NULL THEN pv
                    ELSE CAST(floor(pv + (nv - pv) * 1.0 * (t - tp) / (tn - tp)) AS BIGINT)
               END AS BIGINT) AS filled""",
            "CAST(CASE WHEN n IS NULL THEN 1 ELSE 0 END AS BIGINT) AS interpolated")
          .orderBy(col("day"), col("event_type"))
      },
      Some("""
        WITH spine AS (
          SELECT unnest(generate_series(DATE '2024-01-01', DATE '2024-01-31',
                        INTERVAL 1 DAY))::DATE AS day),
        grid AS (
          SELECT day, event_type FROM spine
          CROSS JOIN (SELECT DISTINCT event_type FROM events)),
        daily AS (
          SELECT CAST(ts AS DATE) AS day, event_type,
                 CAST(count(*) AS BIGINT) AS n
          FROM events WHERE value > 300
          GROUP BY 1, 2),
        g AS (
          SELECT gr.day, gr.event_type, d.n,
                 datediff('day', DATE '2024-01-01', gr.day) AS t
          FROM grid gr LEFT JOIN daily d
            ON gr.day = d.day AND gr.event_type = d.event_type),
        w AS (
          SELECT day, event_type, n, t,
                 last_value(n IGNORE NULLS) OVER pw AS pv,
                 last_value(CASE WHEN n IS NOT NULL THEN t END IGNORE NULLS)
                   OVER pw AS tp,
                 first_value(n IGNORE NULLS) OVER nw AS nv,
                 first_value(CASE WHEN n IS NOT NULL THEN t END IGNORE NULLS)
                   OVER nw AS tn
          FROM g
          WINDOW pw AS (PARTITION BY event_type ORDER BY t
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                 nw AS (PARTITION BY event_type ORDER BY t
                        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        SELECT day, event_type,
               CAST(CASE WHEN n IS NOT NULL THEN n
                    WHEN pv IS NULL THEN nv
                    WHEN nv IS NULL THEN pv
                    ELSE CAST(floor(pv + (nv - pv) * 1.0 * (t - tp) / (tn - tp)) AS BIGINT)
               END AS BIGINT) AS filled,
               CAST(CASE WHEN n IS NULL THEN 1 ELSE 0 END AS BIGINT) AS interpolated
        FROM w ORDER BY day, event_type"""))
  ) ++ Map(

    // Exact per-group quartiles by rank selection — the generalization
    // of agg_median_orders' portable-median trick to the p25/p50/p75
    // band: the selected rank is ceil(n*q/100) computed in pure integer
    // arithmetic ((n*q + 99) div 100), so the boundary element is the
    // same row in both engines with no interpolation and no float
    // percentile (the approx_percentile variant remains the declared
    // 100 TB path; this is its exact audit). One window over the
    // grouped fact, the quartile fanout is a 3-element generator.
    "agg_quartile_bands" -> QueryDef(
      (s, d) => {
        val w = Window.partitionBy(col("o_orderpriority"))
          .orderBy(col("o_totalprice"), col("o_orderkey"))
        Tables.orders(s, d)
          .withColumn("rn", row_number().over(w))
          .withColumn("n", count(lit(1)).over(
            Window.partitionBy(col("o_orderpriority"))))
          .withColumn("q", explode(array(lit(25L), lit(50L), lit(75L))))
          .where(col("rn") === expr("(n * q + 99) div 100"))
          .select(col("o_orderpriority"), col("q"),
            col("o_totalprice").as("value"))
          .orderBy(col("o_orderpriority"), col("q"))
      },
      Some("""
        SELECT o_orderpriority, q, o_totalprice AS value
        FROM (
          SELECT o_orderpriority, o_totalprice,
                 row_number() OVER (PARTITION BY o_orderpriority
                     ORDER BY o_totalprice, o_orderkey) AS rn,
                 count(*) OVER (PARTITION BY o_orderpriority) AS n
          FROM orders) r,
          (SELECT unnest([CAST(25 AS BIGINT), 50, 75]) AS q)
        WHERE rn = (n * q + 99) // 100
        ORDER BY o_orderpriority, q""")),

    // Bloom-prefiltered join: the dim side's keys build a bloom filter
    // (bloom_filter_agg over xxhash64) that prefilters the FACT SCAN
    // with might_contain BEFORE the exact join — Spark's own
    // runtime-filter machinery (SPARK-32268) made explicit as an
    // operator, the pattern that matters when the dim is too big to
    // broadcast-hash-join cheaply but its key SET still fits in a few
    // KB of bloom bits: at 100 TB the filter drops ~96% of fact rows
    // (one nation's suppliers) before any shuffle, and false positives
    // are eliminated by the exact join behind it, so the RESULT is
    // byte-identical to the plain join the oracle runs. Revenue is
    // per-row scaled cents before the sum — exact BIGINT, tie-safe.
    "join_bloom_prefilter" -> QueryDef(
      (s, d) => {
        // might_contain requires the bloom binary as a CONSTANT or
        // scalar subquery (it folds to a literal before codegen) — so
        // the build side is declared as a scalar subquery, exactly how
        // Spark's own InjectRuntimeFilter plants it. View names carry a
        // per-invocation nanoTime suffix (r7 ADVICE; same pattern as the
        // Ingest pack): fixed names would silently rebind mid-query when
        // two builds share a session.
        val tag = java.lang.System.nanoTime()
        val vSupp = s"graft_bloom_supp_$tag"
        val vLi = s"graft_bloom_li_$tag"
        Tables.supplier(s, d).createOrReplaceTempView(vSupp)
        Tables.lineitem(s, d).createOrReplaceTempView(vLi)
        s.sql(s"""
          WITH dim AS (
            SELECT CAST(s_suppkey AS BIGINT) AS suppkey
            FROM $vSupp WHERE s_nationkey = 7),
          f AS (
            SELECT CAST(l_suppkey AS BIGINT) AS l_suppkey,
                   ${Q.scaledLong("l_extendedprice * (1.0 - l_discount)", 2)} AS rev_c
            FROM $vLi
            WHERE graft_might_contain(
              (SELECT graft_bloom_agg(xxhash64(CAST(s_suppkey AS BIGINT)))
               FROM $vSupp WHERE s_nationkey = 7),
              xxhash64(CAST(l_suppkey AS BIGINT))))
          SELECT suppkey, count(*) AS n_items,
                 sum(rev_c) AS revenue_c
          FROM f JOIN dim ON f.l_suppkey = dim.suppkey
          GROUP BY suppkey ORDER BY suppkey""")
      },
      Some(s"""
        SELECT CAST(s_suppkey AS BIGINT) AS suppkey,
               CAST(count(*) AS BIGINT) AS n_items,
               CAST(sum(${Q.scaledLong("l_extendedprice * (1.0 - l_discount)", 2)}) AS BIGINT) AS revenue_c
        FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        WHERE s_nationkey = 7
        GROUP BY 1 ORDER BY 1"""))
  )
}
