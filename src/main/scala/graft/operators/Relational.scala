package graft.operators

import graft.{GraftQuery, Tables}
import graft.GraftQuery.{decAvg, decSum}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational operator surface (SURVEY.md §2.1-2.6, §7 steps 0-2).
  *
  * The reference's dataflow operators map onto declarative DataFrame
  * programs: its key-ordered paginated scan (BackupProcessor.php:150-200)
  * becomes a parquet scan whose partitioning Spark plans; its server-side
  * `startAt` predicate (BackupProcessor.php:167-169) becomes a pushed-down
  * filter; its cursor-overlap dedup (BackupProcessor.php:195-197)
  * vanishes because Spark partitions don't overlap — kept here as a
  * general `distinct`. Joins/aggregations/windows beyond the reference
  * (it has only the anti-join drain, RestoreProcessor.php:99) complete
  * the general query surface required by the north star.
  *
  * Determinism rules for the DuckDB oracle (SURVEY.md §5 risk list):
  * every query ends in a total `orderBy` over a unique key set; double
  * aggregation goes through exact decimal (`decSum`/`decAvg`); count-like
  * outputs are BIGINT in both dialects.
  */
object Relational {

  val queries: Seq[GraftQuery] = Seq(

    // ---- §2.1 scans ----------------------------------------------------
    GraftQuery(
      "q_scan",
      "Full table scan + count — the reference's paginated export loop " +
        "(BackupProcessor.php:71-136) collapsed into one distributed scan.",
      (s, d) => Tables.lineitem(s, d).agg(count(lit(1)).as("cnt")),
      Some("SELECT count(*) AS cnt FROM lineitem")),

    GraftQuery(
      "q_keys",
      "Keys-only projection ≈ shallow=true fetch (BackupProcessor.php:82):" +
        " column pruning means the parquet scan reads a single column.",
      (s, d) => Tables.part(s, d).select("p_partkey").distinct()
        .orderBy("p_partkey"),
      Some("SELECT DISTINCT p_partkey FROM part ORDER BY p_partkey")),

    GraftQuery(
      "q_manifest",
      "Manifest build: group members under their parent key, ordered — " +
        "the metadata.json shape (BackupProcessor.php:206-210) as " +
        "groupBy + sorted collect_list.",
      // array serialized to string: the driver's pandas compare cannot
      // hash ndarray cells
      (s, d) => Tables.documents(s, d).groupBy("source")
        .agg(array_join(sort_array(collect_list(col("doc_id"))), ",")
               .as("doc_ids"),
             count(lit(1)).as("n_docs"))
        .orderBy("source"),
      Some("SELECT source, array_to_string(list_sort(list(doc_id)), ',') " +
        "AS doc_ids, " +
        "count(*) AS n_docs FROM documents GROUP BY source ORDER BY source")),

    // ---- §2.2 filters / projections ------------------------------------
    GraftQuery(
      "q_filter_range",
      "Range predicate on the scan ≈ the startAt keyset filter " +
        "(BackupProcessor.php:167-169); pushed to parquet min/max pruning.",
      (s, d) => Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
                col("l_shipdate") <  lit("1997-01-01").cast("timestamp"))
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")
        // (l_orderkey, l_linenumber) is not unique in the synthetic data:
        // the sort must cover every output column to be deterministic
        .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate"),
      Some("SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate " +
        "FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND " +
        "l_shipdate < TIMESTAMP '1997-01-01' " +
        "ORDER BY l_orderkey, l_linenumber, l_quantity, l_shipdate")),

    GraftQuery(
      "q_dedup",
      "Duplicate elimination on a column subset — generalizes the " +
        "cursor-overlap dedup (BackupProcessor.php:195-197).",
      (s, d) => Tables.lineitem(s, d)
        .select("l_returnflag", "l_linestatus").distinct()
        .orderBy("l_returnflag", "l_linestatus"),
      Some("SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem " +
        "ORDER BY l_returnflag, l_linestatus")),

    // ---- §2.5 sorts / limits / top-k -----------------------------------
    GraftQuery(
      "q_sort",
      "Total sort (range-partitioned exchange) ≈ server-side " +
        "orderBy=$key (BackupProcessor.php:163) over the whole dataset.",
      // no spread — measured (r20 A/B, 5 reps): 0.60 s single-split vs
      // 1.03 s spread; a bare projection has nothing for the extra
      // exchange to amortize, the range sort redistributes by itself
      (s, d) => Tables.lineitem(s, d)
        .select("l_orderkey", "l_linenumber", "l_shipdate", "l_extendedprice")
        .orderBy(desc("l_shipdate"), asc("l_orderkey"), asc("l_linenumber"),
          asc("l_extendedprice")),
      Some("SELECT l_orderkey, l_linenumber, l_shipdate, l_extendedprice " +
        "FROM lineitem ORDER BY l_shipdate DESC, l_orderkey, l_linenumber, " +
        "l_extendedprice")),

    GraftQuery(
      "q_limit",
      "limitToFirst (BackupProcessor.php:164) — ordered limit so the " +
        "result is a deterministic prefix.",
      (s, d) => Tables.orders(s, d)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                "o_orderdate", "o_orderpriority")
        .orderBy("o_orderkey").limit(100),
      Some("SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, " +
        "o_orderdate, o_orderpriority FROM orders ORDER BY o_orderkey LIMIT 100")),

    GraftQuery(
      "q_topk",
      "Top-k = filter + orderBy + limit, the keyset page-fetch composition" +
        " (BackupProcessor.php:162-169); Catalyst plans TakeOrderedAndProject" +
        " — no full sort, no full shuffle.",
      (s, d) => Tables.lineitem(s, d)
        .filter(col("l_quantity") >= 30)
        .select("l_orderkey", "l_linenumber", "l_extendedprice", "l_quantity")
        .orderBy(desc("l_extendedprice"), asc("l_orderkey"),
          asc("l_linenumber"), asc("l_quantity"))
        .limit(50),
      Some("SELECT l_orderkey, l_linenumber, l_extendedprice, l_quantity " +
        "FROM lineitem WHERE l_quantity >= 30 " +
        "ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber, " +
        "l_quantity LIMIT 50")),

    GraftQuery(
      "q_group_collect",
      "groupBy + sorted collect_list — the manifest accumulation " +
        "pattern (BackupProcessor.php:206-210) at row scale.",
      // numeric sort first, then serialize (string sort would misorder)
      (s, d) => Tables.lineitem(s, d).groupBy("l_orderkey")
        .agg(array_join(sort_array(collect_list(col("l_linenumber")))
               .cast("array<string>"), ",").as("lines"),
             count(lit(1)).as("n"))
        .orderBy("l_orderkey"),
      Some("SELECT l_orderkey, " +
        "array_to_string(list_sort(list(l_linenumber)), ',') AS lines, " +
        "count(*) AS n FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey")),

    // ---- §2.6 set operations -------------------------------------------
    GraftQuery(
      "q_union",
      "Union of two filtered scans + dedup — page concatenation " +
        "(BackupProcessor.php:71-136) generalized to set union.",
      (s, d) => {
        val o = Tables.orders(s, d)
        o.filter(col("o_orderpriority") === "1-URGENT")
          .select("o_orderkey", "o_orderstatus")
          .union(o.filter(col("o_orderstatus") === "F")
            .select("o_orderkey", "o_orderstatus"))
          .distinct()
          .orderBy("o_orderkey", "o_orderstatus")
      },
      Some("SELECT o_orderkey, o_orderstatus FROM orders " +
        "WHERE o_orderpriority = '1-URGENT' " +
        "UNION SELECT o_orderkey, o_orderstatus FROM orders " +
        "WHERE o_orderstatus = 'F' ORDER BY o_orderkey, o_orderstatus")),

    GraftQuery(
      "q_except",
      "Set difference, the keyed drain array_diff_key " +
        "(RestoreProcessor.php:99) as EXCEPT.",
      (s, d) => {
        val c = Tables.customer(s, d)
        c.select("c_custkey")
          .except(c.filter(col("c_mktsegment") === "BUILDING")
            .select("c_custkey"))
          .orderBy("c_custkey")
      },
      Some("SELECT c_custkey FROM customer EXCEPT SELECT c_custkey " +
        "FROM customer WHERE c_mktsegment = 'BUILDING' ORDER BY c_custkey")),

    GraftQuery(
      "q_intersect",
      "Set intersection across two tables' key domains.",
      (s, d) => Tables.customer(s, d).select(col("c_custkey").as("k"))
        .intersect(Tables.orders(s, d).select(col("o_custkey").as("k")))
        .orderBy("k"),
      Some("SELECT c_custkey AS k FROM customer INTERSECT " +
        "SELECT o_custkey AS k FROM orders ORDER BY k")),

    GraftQuery(
      "q_except_all",
      "Multiset difference (EXCEPT ALL): per-customer order rows with " +
        "multiplicity preserved — each 'F'-status order cancels ONE " +
        "matching 'O' row, not all of them. Spark plans this as an " +
        "aggregate of signed counts + generate, one shuffle; identical " +
        "rows make output order within the sort key immaterial to the " +
        "driver's hash compare.",
      (s, d) => {
        val o = Tables.orders(s, d)
        o.filter(col("o_orderstatus") =!= "F").select("o_custkey")
          .exceptAll(o.filter(col("o_orderstatus") === "F")
            .select("o_custkey"))
          .orderBy("o_custkey")
      },
      Some("SELECT o_custkey FROM orders WHERE o_orderstatus <> 'F' " +
        "EXCEPT ALL SELECT o_custkey FROM orders WHERE o_orderstatus = 'F' " +
        "ORDER BY o_custkey")),

    GraftQuery(
      "q_intersect_all",
      "Multiset intersection (INTERSECT ALL): min of the two sides' " +
        "multiplicities per key — the ALL-variant pair of q_except_all.",
      (s, d) => {
        val l = Tables.lineitem(s, d)
        l.filter(col("l_returnflag") === "R").select("l_orderkey")
          .intersectAll(l.filter(col("l_returnflag") === "A")
            .select("l_orderkey"))
          .orderBy("l_orderkey")
      },
      Some("SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R' " +
        "INTERSECT ALL SELECT l_orderkey FROM lineitem " +
        "WHERE l_returnflag = 'A' ORDER BY l_orderkey")),

    // ---- §2.3 joins ------------------------------------------------------
    GraftQuery(
      "q_join_inner",
      "Equi inner join on the fact tables' key — shuffle-hash/sort-merge " +
        "territory at 100 TB; AQE picks the physical strategy.",
      // no spread — measured (r20 A/B, 5 reps): 0.97 s single-split vs
      // 1.05 s spread; the broadcast-probe map phase is too light to
      // amortize the repartition (the q_text_fingerprint rule; contrast
      // q_math_funcs where 9 computed sort columns tip it the other way)
      (s, d) => Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), col("l_linenumber"), col("o_custkey"),
                col("o_orderstatus"), col("l_quantity"))
        .orderBy("l_orderkey", "l_linenumber", "o_custkey", "o_orderstatus",
          "l_quantity"),
      Some("SELECT l_orderkey, l_linenumber, o_custkey, o_orderstatus, " +
        "l_quantity FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "ORDER BY l_orderkey, l_linenumber, o_custkey, o_orderstatus, " +
        "l_quantity")),

    GraftQuery(
      "q_join_multi",
      "Star-schema chain orders⋈customer⋈nation⋈region with explicit " +
        "broadcast of the dimension tables (they stay small at any SF); " +
        "the fact-side join keys never shuffle the dims.",
      (s, d) => Tables.orders(s, d)
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)),
              col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)),
              col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(decSum(col("o_totalprice")).as("total_price"),
             count(lit(1)).as("n_orders"))
        .orderBy("r_name", "n_name"),
      Some("SELECT r_name, n_name, " +
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price, " +
        "count(*) AS n_orders FROM orders " +
        "JOIN customer ON o_custkey = c_custkey " +
        "JOIN nation ON c_nationkey = n_nationkey " +
        "JOIN region ON n_regionkey = r_regionkey " +
        "GROUP BY r_name, n_name ORDER BY r_name, n_name")),

    GraftQuery(
      "q_join_semi",
      "Left-semi join (EXISTS): customers having an urgent order — " +
        "never materializes the probe side's payload.",
      (s, d) => Tables.customer(s, d)
        .join(Tables.orders(s, d).filter(col("o_orderpriority") === "1-URGENT"),
              col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey"),
      Some("SELECT c_custkey, c_name FROM customer WHERE EXISTS (" +
        "SELECT 1 FROM orders WHERE o_custkey = c_custkey AND " +
        "o_orderpriority = '1-URGENT') ORDER BY c_custkey")),

    GraftQuery(
      "q_join_anti",
      "Left-anti join (NOT EXISTS) — the Spark form of the restore " +
        "drain `array_diff_key` (RestoreProcessor.php:99).",
      (s, d) => Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"),
              "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey"),
      Some("SELECT c_custkey, c_name FROM customer WHERE NOT EXISTS (" +
        "SELECT 1 FROM orders WHERE o_custkey = c_custkey) ORDER BY c_custkey")),

    GraftQuery(
      "q_join_range",
      "Non-equi interval self-join: same-user event pairs within 5 " +
        "minutes. Equi key (user_id) carries the shuffle; the range " +
        "predicate evaluates post-join, so it scales as the per-user " +
        "group size, not the table size. Timestamps compared at whole-" +
        "second resolution (events.ts is ns in parquet, µs in Spark — " +
        "FIXTURES.md gotcha).",
      (s, d) => {
        val e = Tables.events(s, d)
        val a = e.select(col("event_id").as("eid_a"), col("user_id"),
                         unix_timestamp(col("ts")).as("sec_a"))
        val b = e.select(col("event_id").as("eid_b"),
                         col("user_id").as("user_b"),
                         unix_timestamp(col("ts")).as("sec_b"))
        a.join(b, col("user_id") === col("user_b") &&
                  col("sec_b") > col("sec_a") &&
                  col("sec_b") <= col("sec_a") + 300)
          .select("eid_a", "eid_b")
          .orderBy("eid_a", "eid_b")
      },
      Some("SELECT a.event_id AS eid_a, b.event_id AS eid_b " +
        "FROM events a JOIN events b ON a.user_id = b.user_id " +
        "AND CAST(floor(epoch(b.ts)) AS BIGINT) > CAST(floor(epoch(a.ts)) AS BIGINT) " +
        "AND CAST(floor(epoch(b.ts)) AS BIGINT) <= CAST(floor(epoch(a.ts)) AS BIGINT) + 300 " +
        "ORDER BY eid_a, eid_b")),

    // ---- §2.4 aggregations ----------------------------------------------
    GraftQuery(
      "q_agg_basic",
      "TPC-H Q1 shape: filter → hash aggregate (partial/final split is " +
        "automatic map-side combine) → sort. Double sums go through exact " +
        "decimal so aggregation order can't perturb the oracle compare.",
      (s, d) => {
        val ep = col("l_extendedprice").cast("decimal(12,2)")
        val disc = col("l_discount").cast("decimal(4,2)")
        val tax = col("l_tax").cast("decimal(4,2)")
        // spread KEPT — measured (r20 A/B, 5 reps): 0.88 vs 0.96 s min
        // (1.03 vs 1.25 med); Q1's five decimal-product aggregates are
        // the one agg map phase heavy enough to amortize the fan-out
        // (its siblings all measured spread SLOWER — see q_agg_stats /
        // q_agg_distinct / q_agg_percentile / q_agg_udaf)
        Tables.spread(Tables.lineitem(s, d), col("l_orderkey"))
          .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
          .groupBy("l_returnflag", "l_linestatus")
          .agg(
            decSum(col("l_quantity"), 12, 2).as("sum_qty"),
            decSum(col("l_extendedprice"), 12, 2).as("sum_base_price"),
            sum(ep * (lit(1).cast("decimal(3,2)") - disc)).cast("double")
              .as("sum_disc_price"),
            sum(ep * (lit(1).cast("decimal(3,2)") - disc) *
                (lit(1).cast("decimal(3,2)") + tax)).cast("double")
              .as("sum_charge"),
            decAvg(col("l_quantity"), 12, 2).as("avg_qty"),
            decAvg(col("l_extendedprice"), 12, 2).as("avg_price"),
            count(lit(1)).as("count_order"))
          .orderBy("l_returnflag", "l_linestatus")
      },
      Some("SELECT l_returnflag, l_linestatus, " +
        "CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty, " +
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price, " +
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price, " +
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))) * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge, " +
        "CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_qty, " +
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_price, " +
        "count(*) AS count_order " +
        "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02' " +
        "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus")),

    GraftQuery(
      "q_agg_distinct",
      "Distinct aggregation — two count-distincts in one pass (Catalyst " +
        "expands to a single aggregate with grouping-id expansion).",
      // no spread — measured (r20 A/B): 0.69 vs 1.40 s, 2x worse; the
      // distinct expansion already doubles rows, pre-shuffling them too
      // is the worst of both
      (s, d) => Tables.lineitem(s, d).groupBy("l_returnflag")
        .agg(countDistinct(col("l_suppkey")).as("n_supp"),
             countDistinct(col("l_partkey")).as("n_part"),
             count(lit(1)).as("n"))
        .orderBy("l_returnflag"),
      Some("SELECT l_returnflag, count(DISTINCT l_suppkey) AS n_supp, " +
        "count(DISTINCT l_partkey) AS n_part, count(*) AS n " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag")),

    GraftQuery(
      "q_agg_rollup",
      "ROLLUP grouping sets over orders; NULLS FIRST ordering pinned " +
        "in both dialects (Spark default asc = nulls first, DuckDB " +
        "default = nulls last).",
      (s, d) => Tables.orders(s, d)
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"),
             decSum(col("o_totalprice"), 12, 2).as("total"))
        .orderBy(asc_nulls_first("o_orderstatus"),
                 asc_nulls_first("o_orderpriority")),
      Some("SELECT o_orderstatus, o_orderpriority, count(*) AS n, " +
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total " +
        "FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority) " +
        "ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST")),

    GraftQuery(
      "q_agg_cube",
      "CUBE grouping sets over lineitem flags.",
      // no spread — A/B-neutral (1.17 both ways); left single-split
      (s, d) => Tables.lineitem(s, d)
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"),
             decSum(col("l_quantity"), 12, 2).as("sum_qty"))
        .orderBy(asc_nulls_first("l_returnflag"),
                 asc_nulls_first("l_linestatus")),
      Some("SELECT l_returnflag, l_linestatus, count(*) AS n, " +
        "CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty " +
        "FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus) " +
        "ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST")),

    // ---- §2.5 windows (O5 positional seek generalized) -------------------
    GraftQuery(
      "q_window_rownum",
      "row_number per partition — the positional-seek `array_search` " +
        "(BackupProcessor.php:103-111) as a ranking window; top-3 most " +
        "recent orders per customer.",
      (s, d) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(desc("o_orderdate"), asc("o_orderkey"))
        Tables.orders(s, d)
          .withColumn("rn", row_number().over(w).cast("long"))
          .filter(col("rn") <= 3)
          .select("o_custkey", "o_orderkey", "o_orderdate", "rn")
          .orderBy("o_custkey", "rn")
      },
      Some("SELECT o_custkey, o_orderkey, o_orderdate, rn FROM (" +
        "SELECT o_custkey, o_orderkey, o_orderdate, row_number() OVER (" +
        "PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey) AS rn " +
        "FROM orders) WHERE rn <= 3 ORDER BY o_custkey, rn")),

    GraftQuery(
      "q_window_lag",
      "lag analytic: previous order total per customer in date order.",
      (s, d) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(asc("o_orderdate"), asc("o_orderkey"))
        Tables.orders(s, d)
          .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
                  lag("o_totalprice", 1).over(w).as("prev_price"))
          .orderBy("o_custkey", "o_orderkey")
      },
      Some("SELECT o_custkey, o_orderkey, o_totalprice, " +
        "lag(o_totalprice) OVER (PARTITION BY o_custkey " +
        "ORDER BY o_orderdate, o_orderkey) AS prev_price " +
        "FROM orders ORDER BY o_custkey, o_orderkey")),

    GraftQuery(
      "q_window_running",
      "Running total per customer (rowsBetween unbounded preceding → " +
        "current) in exact decimal, frame made unique by the orderkey " +
        "tiebreak.",
      (s, d) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(asc("o_orderdate"), asc("o_orderkey"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.orders(s, d)
          .select(col("o_custkey"), col("o_orderkey"),
                  sum(col("o_totalprice").cast("decimal(12,2)")).over(w)
                    .cast("double").as("running_total"))
          .orderBy("o_custkey", "o_orderkey")
      },
      Some("SELECT o_custkey, o_orderkey, " +
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER (" +
        "PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) " +
        "AS running_total FROM orders ORDER BY o_custkey, o_orderkey")),

    GraftQuery(
      "q_window_range",
      "RANGE-frame window: trailing 7-day spend per customer — the " +
        "frame is value-defined (epoch seconds), so same-day orders " +
        "share one frame and the result is row-order independent; " +
        "rows/rangeBetween is the moving-aggregate surface time-series " +
        "feature pipelines live on.",
      (s, d) => {
        val w = Window.partitionBy("o_custkey").orderBy("ods")
          .rangeBetween(-6 * 86400L, Window.currentRow)
        Tables.orders(s, d)
          .withColumn("ods", unix_timestamp(col("o_orderdate")))
          .select(col("o_custkey"), col("o_orderkey"), col("ods"),
            sum(col("o_totalprice").cast("decimal(12,2)")).over(w)
              .cast("double").as("d7_total"))
          .orderBy("o_custkey", "o_orderkey")
      },
      Some("SELECT o_custkey, o_orderkey, ods, " +
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER (" +
        "PARTITION BY o_custkey ORDER BY ods " +
        "RANGE BETWEEN 518400 PRECEDING AND CURRENT ROW) AS DOUBLE) " +
        "AS d7_total FROM (SELECT *, " +
        "CAST(floor(epoch(o_orderdate)) AS BIGINT) AS ods FROM orders) " +
        "ORDER BY o_custkey, o_orderkey")),

    GraftQuery(
      "q_window_ntile",
      "ntile(4) spend quartiles + lead over per-customer totals, " +
        "size-gated (the Dedup connected-components pattern): at or " +
        "below NtilePlainMaxRows customers a plain global window sorts " +
        "the aggregate-sized frame in one task — cheap and exchange-" +
        "free; above it the bucket decomposition engages (range-" +
        "repartition on the total order, broadcast per-bucket offsets, " +
        "ntile as position arithmetic, cross-boundary lead from the " +
        "next bucket's first row) so parallelism is |buckets|, never " +
        "1, at any scale. PlanSpec pins the large branch's no-global-" +
        "window shape directly; the oracle's true window ntile/lead " +
        "proves both branches equivalent.",
      (s, d) => {
        val agg = ntileAgg(s, d)
        // the gate counts the PRE-aggregation table — an empty-schema
        // parquet scan (row counts come from footers, no column reads)
        // and a conservative upper bound on |customers| — so the small
        // branch pays ~nothing for the gate and keeps exactly the
        // plain plan (no checkpoint, no extra job over the aggregate)
        if (Tables.orders(s, d).count() <= NtilePlainMaxRows) {
          // small branch: the frame is one row per customer and fits a
          // single sort task comfortably — a true window is the best
          // plan HERE (no range exchange, no stats join); the count
          // gate, not the plan, is what keeps this off the 100 TB path
          val w = Window.orderBy(desc("spend"), asc("o_custkey"))
          agg.select(col("o_custkey"), col("spend"),
            ntile(4).over(w).as("quartile"),
            lead(col("spend"), 1).over(w).as("next_spend"))
            .orderBy("o_custkey")
        } else ntileDecomposed(s, agg)
      },
      Some("SELECT o_custkey, spend, " +
        "ntile(4) OVER w AS quartile, lead(spend, 1) OVER w AS next_spend " +
        "FROM (SELECT o_custkey, " +
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS spend " +
        "FROM orders GROUP BY o_custkey) " +
        "WINDOW w AS (ORDER BY spend DESC, o_custkey) ORDER BY o_custkey")),

    GraftQuery(
      "q_window_cume",
      "percent_rank + cume_dist over per-customer totals — the " +
        "distribution half of the ranking family (q_window_rank covers " +
        "rank/dense_rank). Total window order via the custkey tiebreak; " +
        "values rounded 8 dp (both engines compute the same rational " +
        "numbers; rounding guards float formatting). Size-gated like " +
        "q_window_ntile: plain window on the aggregate-sized frame " +
        "below the gate, the globalPosition bucket decomposition above " +
        "(with a total order both functions are arithmetic on global " +
        "row number).",
      (s, d) => {
        val agg = ntileAgg(s, d)
        if (Tables.orders(s, d).count() <= NtilePlainMaxRows) {
          // intentional global window on the SMALL branch: the frame
          // is the per-customer aggregate under the count gate, so the
          // "No Partition Defined for Window" WARN is expected here
          val w = Window.orderBy(desc("spend"), asc("o_custkey"))
          agg.select(col("o_custkey"), col("spend"),
            round(percent_rank().over(w), 8).as("pct_rank"),
            round(cume_dist().over(w), 8).as("cume"))
            .orderBy("o_custkey")
        } else cumeDecomposed(s, agg)
      },
      Some("SELECT o_custkey, spend, " +
        "round(percent_rank() OVER w, 8) AS pct_rank, " +
        "round(cume_dist() OVER w, 8) AS cume " +
        "FROM (SELECT o_custkey, " +
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS spend " +
        "FROM orders GROUP BY o_custkey) " +
        "WINDOW w AS (ORDER BY spend DESC, o_custkey) ORDER BY o_custkey")),

    GraftQuery(
      "q_window_firstlast",
      "first_value / last_value / nth_value over the full partition " +
        "frame (ROWS UNBOUNDED PRECEDING → UNBOUNDED FOLLOWING): each " +
        "order sees the customer's first, latest, and second order. " +
        "Window order made total with the orderkey tiebreak; one " +
        "exchange on the partition key.",
      (s, d) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(asc("o_orderdate"), asc("o_orderkey"))
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        Tables.orders(s, d)
          .select(col("o_custkey"), col("o_orderkey"),
            first(col("o_orderkey")).over(w).as("first_ok"),
            last(col("o_orderkey")).over(w).as("last_ok"),
            nth_value(col("o_orderkey"), 2).over(w).as("second_ok"))
          .orderBy("o_custkey", "o_orderkey")
      },
      Some("SELECT o_custkey, o_orderkey, " +
        "first_value(o_orderkey) OVER w AS first_ok, " +
        "last_value(o_orderkey) OVER w AS last_ok, " +
        "nth_value(o_orderkey, 2) OVER w AS second_ok " +
        "FROM orders WINDOW w AS (PARTITION BY o_custkey " +
        "ORDER BY o_orderdate, o_orderkey " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) " +
        "ORDER BY o_custkey, o_orderkey")),

    GraftQuery(
      "q_sample_hash",
      "Deterministic 5% hash sample (training-corpus subsampling): keep " +
        "rows whose md5(key) bucket is 0 of 20, then aggregate the " +
        "sample. md5 hex is bit-identical across engines, so the sample " +
        "is reproducible anywhere — unlike rand()-based sampling; a scan " +
        "+ filter with no shuffle until the 6-row aggregate.",
      (s, d) => {
        val key = concat(col("l_orderkey").cast("string"), lit("#"),
          col("l_linenumber").cast("string"))
        val bucket = conv(substring(md5(key.cast("binary")), 1, 8), 16, 10)
          .cast("bigint") % 20
        Tables.lineitem(s, d)
          .filter(bucket === 0)
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n_sampled"),
               decSum(col("l_quantity"), 12, 2).as("qty"))
          .orderBy("l_returnflag")
      },
      Some("SELECT l_returnflag, count(*) AS n_sampled, " +
        "CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty " +
        "FROM lineitem WHERE CAST(('0x' || substr(md5(" +
        "CAST(l_orderkey AS VARCHAR) || '#' || CAST(l_linenumber AS VARCHAR)" +
        "), 1, 8)) AS BIGINT) % 20 = 0 " +
        "GROUP BY l_returnflag ORDER BY l_returnflag")),

    GraftQuery(
      "q_window_rank",
      "Ranking family: rank/dense_rank over a tie-carrying order " +
        "(quantity only), ntile over a total order — tie semantics " +
        "differ between the three and both engines must agree. " +
        "rank/dense_rank are NOT computed with a window here: the " +
        "partition key (returnflag) has cardinality 3, so a window " +
        "would funnel the corpus through 3 sort tasks at any scale. " +
        "With a bounded order-value domain the scale-safe form is " +
        "rank-the-aggregate: per-(flag, quantity) counts (<=150 rows), " +
        "rank that tiny frame, broadcast it back — assignment becomes " +
        "map-only and the oracle's window rank() proves equivalence. " +
        "ntile's quartile is ALSO cell-local for most rows: a cell " +
        "spans rank positions [cum_before+1, cum_before+cnt], and when " +
        "both ends fall in the same ntile bucket every row of the cell " +
        "shares that bucket — a broadcast-join column. Only rows of " +
        "boundary-straddling cells (<= k-1 = 3 cells per flag, ~6% of " +
        "rows here, vanishing as cells grow) need their within-cell " +
        "position, so the row_number window shuffles just that slice " +
        "instead of the corpus (was the query's dominant exchange).",
      (s, d) => {
        val li = Tables.lineitem(s, d)
        // rank = 1 + rows with strictly higher qty; dense_rank = 1 +
        // distinct higher qtys — both over the per-flag count frame
        val wAgg = Window.partitionBy("l_returnflag")
          .orderBy(desc("l_quantity"))
        val cells = li.groupBy("l_returnflag", "l_quantity")
          .agg(count(lit(1)).as("cnt"))
          .select(col("l_returnflag"), col("l_quantity"), col("cnt"),
            coalesce(sum(col("cnt")).over(
              wAgg.rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
              .as("cum_before"),
            row_number().over(wAgg).cast("bigint").as("drnk"),
            sum(col("cnt")).over(Window.partitionBy("l_returnflag"))
              .as("n_flag"))
          // ntile bucket of the cell's first and last position
          // (ntileExpr is monotone in rn, so lo==hi <=> whole cell in
          // one bucket); big/small-bucket arithmetic: first n%4
          // buckets get one extra row, ELSE unreachable when n < 4
          .withColumn("rn_lo", col("cum_before") + 1L)
          .withColumn("rn_hi", col("cum_before") + col("cnt"))
          .withColumn("q_lo", expr(ntileExpr("rn_lo", "n_flag", 4)))
          .withColumn("q_hi", expr(ntileExpr("rn_hi", "n_flag", 4)))
          // pinned: BOTH branches below broadcast-join this frame, and
          // the uniform/straddle filters push INTO the broadcast side,
          // so the two subtrees stop being canonically equal and
          // ReuseExchange cannot dedupe them — without the pin the
          // whole corpus-wide cells aggregate (scan + 2-level agg +
          // window) runs twice (r20 plan audit: 2 extra Exchanges + a
          // duplicate HashAggregate pass). The frame is value-domain
          // bounded (|flags| x |quantities| <= ~150 rows at ANY corpus
          // size), so the pin is a constant-size materialization —
          // and its blocks are deliberately left to the GC-driven
          // ContextCleaner (the returned frame is lazy; no caller
          // boundary exists where unpersist would be safe). ~150 rows
          // per invocation is bytes, not a hazard (r20 advice, noted).
          .localCheckpoint()
        val joined = li.join(broadcast(cells),
          Seq("l_returnflag", "l_quantity"))
        val present = Seq(
          col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("l_quantity"), (col("cum_before") + 1L).as("rnk"),
          col("drnk"), col("quartile"))
        // uniform cells: quartile is the (broadcast) cell's bucket —
        // map-only, no exchange for ~94% of rows
        val uniform = joined.filter(col("q_lo") === col("q_hi"))
          .withColumn("quartile", col("q_lo").cast("bigint"))
          .select(present: _*)
        // straddling cells: within-cell position decides the bucket;
        // the window shuffles ONLY these rows (|flags|*(k-1) cells)
        val wCell = Window.partitionBy("l_returnflag", "l_quantity")
          .orderBy(asc("l_orderkey"), asc("l_linenumber"))
        val straddle = joined.filter(col("q_lo") =!= col("q_hi"))
          .withColumn("rn", col("cum_before") + row_number().over(wCell))
          .withColumn("quartile",
            expr(ntileExpr("rn", "n_flag", 4)).cast("bigint"))
          .select(present: _*)
        // presentation order: plain orderBy KEPT — the q_math_funcs
        // range-partition-on-prefix idiom was A/B'd here (r21, ABBA 5
        // reps) and measured a WASH (1.07x vs controls at 1.07-1.10x):
        // unlike q_math_funcs, the sample pass cannot skip the
        // expensive work (the broadcast join + straddle filters run
        // either way just to decide which rows exist), so there is no
        // double-eval to remove.
        uniform.unionByName(straddle)
          .orderBy("l_orderkey", "l_linenumber", "l_returnflag",
            "l_quantity", "rnk", "drnk", "quartile")
      },
      Some("SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity, " +
        "rank() OVER (PARTITION BY l_returnflag ORDER BY l_quantity DESC) AS rnk, " +
        "dense_rank() OVER (PARTITION BY l_returnflag ORDER BY l_quantity DESC) AS drnk, " +
        "ntile(4) OVER (PARTITION BY l_returnflag ORDER BY l_quantity DESC, " +
        "l_orderkey, l_linenumber) AS quartile " +
        "FROM lineitem ORDER BY l_orderkey, l_linenumber, l_returnflag, " +
        "l_quantity, rnk, drnk, quartile")),

    GraftQuery(
      "q_string_agg",
      "Ordered string aggregation per group — sort_array∘collect_list∘" +
        "array_join, DuckDB's string_agg(... ORDER BY) twin.",
      (s, d) => Tables.orders(s, d)
        .groupBy("o_custkey")
        .agg(array_join(sort_array(collect_list(col("o_orderstatus"))), ",")
          .as("statuses"),
          count(lit(1)).as("n"))
        .orderBy("o_custkey"),
      Some("SELECT o_custkey, " +
        "string_agg(o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses, " +
        "count(*) AS n FROM orders GROUP BY o_custkey ORDER BY o_custkey")),

    GraftQuery(
      "q_join_outer",
      "Full-outer join with disjoint-side survivors: BUILDING customers " +
        "vs customers having finished orders — left-only, right-only and " +
        "matched rows all present (left/right outer are the one-sided " +
        "specializations). Null-extension semantics surface in the " +
        "coalesced key and the is-null flags.",
      (s, d) => {
        val c = Tables.customer(s, d)
          .filter(col("c_mktsegment") === "BUILDING")
          .select(col("c_custkey"))
        val o = Tables.orders(s, d)
          .filter(col("o_orderstatus") === "F")
          .groupBy("o_custkey").agg(count(lit(1)).as("n_f_orders"))
        c.join(o, col("c_custkey") === col("o_custkey"), "full_outer")
          .select(
            coalesce(col("c_custkey"), col("o_custkey")).as("k"),
            col("c_custkey").isNotNull.as("is_building"),
            coalesce(col("n_f_orders"), lit(0L)).as("n_f_orders"))
          .orderBy("k")
      },
      Some("SELECT coalesce(c_custkey, o_custkey) AS k, " +
        "c_custkey IS NOT NULL AS is_building, " +
        "coalesce(n_f_orders, 0) AS n_f_orders FROM " +
        "(SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING') c " +
        "FULL OUTER JOIN " +
        "(SELECT o_custkey, count(*) AS n_f_orders FROM orders " +
        "WHERE o_orderstatus = 'F' GROUP BY o_custkey) o " +
        "ON c_custkey = o_custkey ORDER BY k")),

    GraftQuery(
      "q_join_skew",
      "Explicitly salted fact-fact join: the probe side carries an " +
        "8-way salt, the build side is replicated per salt value, so a " +
        "hot join key spreads over 8 reducers instead of one — the " +
        "manual form of what AQE skew-split does at runtime, and the " +
        "reference's go-deeper subtree split (BackupProcessor.php:" +
        "77-127) rephrased for shuffles. Results are salt-invariant: " +
        "the oracle is the plain join.",
      (s, d) => {
        val salts = 8
        val li = Tables.lineitem(s, d)
          .withColumn("salt",
            pmod(xxhash64(col("l_orderkey"), col("l_linenumber")), lit(salts))
              .cast("int"))  // sequence() elements are int
        val ord = Tables.orders(s, d)
          .withColumn("salt", explode(sequence(lit(0), lit(salts - 1))))
        val ep = col("l_extendedprice").cast("decimal(12,2)")
        val disc = col("l_discount").cast("decimal(4,2)")
        li.join(ord,
            col("l_orderkey") === col("o_orderkey") &&
              li("salt") === ord("salt"))
          .groupBy("o_orderpriority")
          .agg(sum(ep * (lit(1).cast("decimal(3,2)") - disc)).cast("double")
            .as("revenue"),
            count(lit(1)).as("n"))
          .orderBy("o_orderpriority")
      },
      Some("SELECT o_orderpriority, " +
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * " +
        "(CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) " +
        "AS DOUBLE) AS revenue, count(*) AS n " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "GROUP BY o_orderpriority ORDER BY o_orderpriority")),

    GraftQuery(
      "q_agg_approx",
      "Sketch aggregation: HyperLogLog++ distinct counts per group. " +
        "Sketch internals are engine-specific, so no SQL oracle; " +
        "QueriesSmokeSpec bounds the relative error against the exact " +
        "count.",
      (s, d) => Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(approx_count_distinct(col("l_partkey")).as("approx_parts"),
          countDistinct(col("l_partkey")).as("exact_parts"))
        .orderBy("l_returnflag"),
      None)
  )

  /** Customers-with-spend frame for q_window_ntile; referenced exactly
    * once by either branch (the decomposition's double-reference
    * problem starts at its range exchange, which it checkpoints
    * itself), so no materialization is needed here.
    */
  private[graft] def ntileAgg(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy("o_custkey")
      .agg(decSum(col("o_totalprice"), 12, 2).as("spend"))

  /** Plain-window ceiling for the gated global windows (q_window_ntile,
    * q_window_cume), compared against the
    * pre-aggregation row count (an upper bound on |customers|): at or
    * below this the aggregate sorts in one task (a few hundred MB at
    * ~50 B/row — comfortably single-task); above it the bucket
    * decomposition bounds the largest sort at n/|buckets|. A size
    * gate like [[Dedup.LocalCcMaxEdges]], so small corpora keep the
    * cheap plan and the 100 TB path never sees a global window.
    * SPARK_GRAFT_NTILE_PLAIN_MAX overrides (tools/scale_gate.sh lowers
    * it so the decomposition branch is the one hash-checked against
    * DuckDB on the replicated corpus).
    */
  private[graft] def NtilePlainMaxRows: Long =
    sys.env.get("SPARK_GRAFT_NTILE_PLAIN_MAX")
      .map(_.toLong).getOrElse(5000000L)

  /** The shared scale machinery of the decomposed global windows
    * (q_window_ntile, q_window_cume — the q_window_rank treatment
    * generalized to an unbounded order-value domain): range-repartition
    * on the total order (spend desc, custkey) makes partition id a
    * coarse ordered bucket; a broadcast of the tiny per-bucket frame
    * (count, cumulative offset, next bucket's first spend) turns global
    * position into offset + within-bucket row_number. Because the
    * order is TOTAL (custkey tiebreak), every rank-family function is
    * pure arithmetic on that position: ntile is the big/small-bucket
    * formula, percent_rank is (rn-1)/(n-1), cume_dist is rn/n, and the
    * cross-boundary lead is a coalesce with the next bucket's first
    * row. Parallelism is |buckets| (~2x cores), never 1.
    *
    * Returns the aggregate plus bucket, rn (global row number),
    * n_total, and next_spend (the within-bucket lead patched across
    * the boundary).
    */
  private[graft] def globalPosition(s: SparkSession,
                                    agg0: DataFrame): DataFrame = {
    val nb = math.max(2, s.sparkContext.defaultParallelism)
    // explicit numPartitions so AQE never coalesces the range
    // exchange; (spend, custkey) is a total order, so bucket
    // boundaries never split a tie and exactness is independent
    // of where the sampled boundaries land
    val agg = agg0
      .repartitionByRange(nb, desc("spend"), asc("o_custkey"))
      .withColumn("bucket", spark_partition_id())
      // bucket id comes from SAMPLED range boundaries (seeded by
      // rdd id), so the frame must be evaluated exactly once: the
      // stats subplan and the main join below both reference it,
      // and recomputation under a different sample would misalign
      // offsets. localCheckpoint (the Dedup.materialized pattern)
      // pins one evaluation in executor storage — the frame is one
      // row per customer, already aggregate-sized.
      .localCheckpoint()
    // tiny per-bucket frame: one row per non-empty bucket. The
    // single-partition windows below run over <=nb rows — that is
    // the point of the decomposition (sort nb rows, not the corpus).
    // Window.orderBy with no partitionBy is INTENTIONAL here (Spark's
    // "No Partition Defined for Window" WARN is about corpus-sized
    // frames; this one is bounded by |buckets|).
    val wB = Window.orderBy("bucket")
    val buckets = agg.groupBy("bucket")
      .agg(count(lit(1)).as("n_b"), max(col("spend")).as("first_spend"))
      .select(col("bucket"),
        coalesce(sum(col("n_b")).over(
          wB.rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
          .as("offset"),
        sum(col("n_b")).over(
          wB.rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing)).as("n_total"),
        // next NON-EMPTY bucket's first row in order (its max
        // spend with the min-custkey tiebreak — only the spend is
        // needed): fills the last-row-of-bucket lead
        lead(col("first_spend"), 1).over(wB).as("nb_spend"))
    val wIn = Window.partitionBy("bucket")
      .orderBy(desc("spend"), asc("o_custkey"))
    agg.join(broadcast(buckets), "bucket")
      .withColumn("lrn", row_number().over(wIn))
      .withColumn("rn", col("offset") + col("lrn"))
      .withColumn("next_spend",
        coalesce(lead(col("spend"), 1).over(wIn), col("nb_spend")))
  }

  /** ntile(k) as positional arithmetic: the first n%k buckets take one
    * extra row (SQL-standard big/small-bucket rule); when n < k the
    * ELSE branch is unreachable. ONE definition — q_window_rank's
    * per-partition quartile and q_window_ntile's scale branch both
    * inline it with their own row-number/count column names, and the
    * two must never disagree on tie handling. */
  private[graft] def ntileExpr(rnCol: String, nCol: String, k: Int): String =
    s"CASE WHEN $rnCol <= ($nCol DIV $k + 1) * ($nCol % $k) " +
      s"THEN ($rnCol - 1) DIV ($nCol DIV $k + 1) + 1 " +
      s"ELSE ($nCol % $k) + " +
      s"($rnCol - 1 - ($nCol DIV $k + 1) * ($nCol % $k)) " +
      s"DIV ($nCol DIV $k) + 1 END"

  /** The scale branch of q_window_ntile: ntile/lead as arithmetic on
    * [[globalPosition]]. */
  private[graft] def ntileDecomposed(s: SparkSession,
                                     agg0: DataFrame): DataFrame =
    globalPosition(s, agg0)
      .withColumn("quartile",
        expr(ntileExpr("rn", "n_total", 4)).cast("int"))
      .select(col("o_custkey"), col("spend"), col("quartile"),
        col("next_spend"))
      .orderBy("o_custkey")

  /** The scale branch of q_window_cume: with a TOTAL window order,
    * percent_rank degenerates to (rn-1)/(n-1) and cume_dist to rn/n —
    * pure arithmetic on [[globalPosition]] (a non-total order would
    * need tie-group counts; every presentation order here is total by
    * engine rule). Single-row edge: percent_rank of a 1-row frame is
    * 0.0 by definition, (rn-1)/(n-1) would be 0/0. */
  private[graft] def cumeDecomposed(s: SparkSession,
                                    agg0: DataFrame): DataFrame =
    globalPosition(s, agg0)
      .select(col("o_custkey"), col("spend"),
        round(when(col("n_total") === 1, 0.0)
          .otherwise((col("rn") - 1).cast("double") /
            (col("n_total") - 1).cast("double")), 8).as("pct_rank"),
        round(col("rn").cast("double") /
          col("n_total").cast("double"), 8).as("cume"))
      .orderBy("o_custkey")
}
