package graft.operators

import graft.{GraftQuery, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The SQL entry path: the same Catalyst pipeline as the DataFrame API,
  * driven through `spark.sql` over registered views — exercising the
  * parser, CTEs, and correlated-subquery decorrelation (Catalyst
  * rewrites EXISTS/IN into semi-joins; there is no iterative executor).
  * Dialect here is deliberately ANSI-common: the oracle strings are
  * near-identical to the Spark SQL itself.
  */
object Sql {

  /** Register the table views and run `sql`. `spreadLineitem` fans the
    * fact scan out to the session parallelism FOR THIS QUERY ONLY —
    * measured per SQL query (r20 A/Bs, 5 interleaved reps at sf0.1,
    * two windows): q3 1.82 → 1.56 then 1.50 → 1.44 s (its map phase
    * joins + builds a 150k-group decimal partial aggregate — heavy
    * enough to amortize the fan-out, the q_agg_basic shape), while
    * q5 went 1.32 → 1.72 and q18 1.45x WORSE under the same spread
    * (their semi-join/broadcast probe map phases are light, the
    * q_join_inner shape) — so the flag defaults off and only q3 sets
    * it. */
  private def withViews(s: SparkSession, d: String,
                        spreadLineitem: Boolean = false)
                       (sql: String): DataFrame = {
    Tables.orders(s, d).createOrReplaceTempView("orders")
    val li = Tables.lineitem(s, d)
    (if (spreadLineitem) Tables.spread(li, col("l_orderkey")) else li)
      .createOrReplaceTempView("lineitem")
    Tables.customer(s, d).createOrReplaceTempView("customer")
    Tables.supplier(s, d).createOrReplaceTempView("supplier")
    Tables.nation(s, d).createOrReplaceTempView("nation")
    Tables.region(s, d).createOrReplaceTempView("region")
    s.sql(sql)
  }

  private val q3Sql =
    "WITH big AS (SELECT o_orderkey, o_orderdate, o_custkey FROM orders " +
      "WHERE o_totalprice > 1000) " +
      "SELECT l_orderkey, " +
      "CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * " +
      "(CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) " +
      "AS DOUBLE) AS revenue, o_orderdate " +
      "FROM big JOIN lineitem ON l_orderkey = o_orderkey " +
      "GROUP BY l_orderkey, o_orderdate " +
      "ORDER BY revenue DESC, l_orderkey LIMIT 10"

  private val existsSql =
    "SELECT o_orderkey, o_orderstatus FROM orders o " +
      "WHERE EXISTS (SELECT 1 FROM lineitem l " +
      "WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 49) " +
      "AND NOT EXISTS (SELECT 1 FROM lineitem l2 " +
      "WHERE l2.l_orderkey = o.o_orderkey AND l2.l_returnflag = 'R') " +
      "ORDER BY o_orderkey, o_orderstatus"

  private val q5Sql =
    "SELECT n_name, " +
      "CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * " +
      "(CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) " +
      "AS DOUBLE) AS revenue " +
      "FROM customer JOIN orders ON c_custkey = o_custkey " +
      "JOIN lineitem ON l_orderkey = o_orderkey " +
      "JOIN supplier ON l_suppkey = s_suppkey " +
      "AND c_nationkey = s_nationkey " +
      "JOIN nation ON s_nationkey = n_nationkey " +
      "JOIN region ON n_regionkey = r_regionkey " +
      "WHERE r_name IN ('AMERICA', 'ASIA') " +
      "GROUP BY n_name ORDER BY revenue DESC, n_name"

  private val q10Sql =
    "SELECT c_custkey, c_name, " +
      "CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * " +
      "(CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) " +
      "AS DOUBLE) AS revenue, n_name " +
      "FROM customer JOIN orders ON c_custkey = o_custkey " +
      "JOIN lineitem ON l_orderkey = o_orderkey " +
      "JOIN nation ON c_nationkey = n_nationkey " +
      "WHERE l_returnflag = 'R' " +
      "GROUP BY c_custkey, c_name, n_name " +
      "ORDER BY revenue DESC, c_custkey LIMIT 20"

  private val q18Sql =
    "SELECT c_name, o_orderkey, o_orderdate, " +
      "CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty " +
      "FROM customer JOIN orders ON c_custkey = o_custkey " +
      "JOIN lineitem ON o_orderkey = l_orderkey " +
      "WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem " +
      "GROUP BY l_orderkey " +
      "HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 180) " +
      "GROUP BY c_name, o_orderkey, o_orderdate " +
      "ORDER BY total_qty DESC, o_orderkey LIMIT 100"

  /** q18's HAVING subquery, pinned once. Catalyst infers the IN-
    * semi-join onto BOTH sides of the o_orderkey = l_orderkey equi-
    * join (InferFiltersFromConstraints) — good pruning, but with the
    * subquery INLINE it plans the whole corpus-wide lineitem aggregate
    * twice (r20 plan audit: two identical HashAggregate+Exchange
    * subtrees, each broadcast separately). Materializing the hot-order
    * keyset once and semi-joining the pinned frame keeps the pruning
    * on both sides while paying the fact-table aggregate pass ONCE —
    * at 100 TB that duplicate pass is a full extra corpus scan. The
    * keyset is the HAVING survivors (orders whose total quantity
    * clears the bar — the top of the volume distribution), orders of
    * magnitude smaller than the fact table at any scale. */
  private val q18HotSql =
    "SELECT l_orderkey FROM lineitem GROUP BY l_orderkey " +
      "HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 180"

  private val q18MainSql =
    "SELECT c_name, o_orderkey, o_orderdate, " +
      "CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty " +
      "FROM customer JOIN orders ON c_custkey = o_custkey " +
      "JOIN lineitem ON o_orderkey = l_orderkey " +
      "WHERE o_orderkey IN (SELECT l_orderkey FROM hot_orders) " +
      "GROUP BY c_name, o_orderkey, o_orderdate " +
      "ORDER BY total_qty DESC, o_orderkey LIMIT 100"

  val queries: Seq[GraftQuery] = Seq(

    GraftQuery(
      "q_sql_tpch_q3",
      "TPC-H Q3 shape through spark.sql: CTE + join + decimal-exact " +
        "revenue + top-10. Same Catalyst plan a DataFrame build would " +
        "get; the oracle string is the identical ANSI SQL.",
      (s, d) => withViews(s, d, spreadLineitem = true)(q3Sql),
      Some(q3Sql)),

    GraftQuery(
      "q_sql_tpch_q5",
      "TPC-H Q5 shape: the 6-table snowflake join with the " +
        "customer-nation = supplier-nation twist. Catalyst broadcast-" +
        "joins every dim (supplier/nation/region under the threshold), " +
        "leaving one shuffle for customer⋈orders⋈lineitem and the " +
        "6-row aggregate — the plan a hand-scheduled engine has to " +
        "work for.",
      (s, d) => withViews(s, d)(q5Sql),
      Some(q5Sql)),

    GraftQuery(
      "q_sql_tpch_q10",
      "TPC-H Q10 shape (returned-item revenue by customer, top 20): " +
        "fact⋈fact shuffle join on orderkey with the returnflag filter " +
        "pushed to the lineitem scan, nation broadcast, then " +
        "TakeOrderedAndProject — the top-k never materializes a total " +
        "sort. Adapted to the synthetic schema (no address/phone " +
        "columns).",
      (s, d) => withViews(s, d)(q10Sql),
      Some(q10Sql)),

    GraftQuery(
      "q_sql_tpch_q18",
      "TPC-H Q18 shape (large-volume orders): HAVING-filtered aggregate " +
        "subquery decorrelated into a semi-join on the fact key, then " +
        "the 3-table join and TakeOrderedAndProject top-100. The " +
        "subquery aggregate runs ONCE into a pinned hot-order keyset " +
        "(inline, Catalyst's constraint inference duplicated it onto " +
        "both join sides — two full fact aggregates); the semi-join " +
        "prunes both sides from the pinned frame. Same results, same " +
        "oracle: the DuckDB twin keeps the inline subquery.",
      (s, d) => {
        // the pin's blocks are deliberately left to the GC-driven
        // ContextCleaner: the query builder returns a LAZY frame, so
        // there is no caller boundary where the result is known
        // consumed — unpersisting here would truncate the lineage
        // before execution. The frame is keyset-sized (~hot orders,
        // ~150 rows), so the leak-until-GC is bytes, not a hazard
        // (r20 advice, noted; same posture as the q_window_rank pin).
        val hot = withViews(s, d)(q18HotSql).localCheckpoint()
        hot.createOrReplaceTempView("hot_orders")
        s.sql(q18MainSql)
      },
      Some(q18Sql)),

    GraftQuery(
      "q_sql_exists",
      "Correlated EXISTS + NOT EXISTS through spark.sql — Catalyst " +
        "decorrelates both into left-semi and left-anti joins " +
        "(no per-row subquery execution).",
      (s, d) => withViews(s, d)(existsSql),
      Some(existsSql))
  )
}
