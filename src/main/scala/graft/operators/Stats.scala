package graft.operators

import graft.{GraftQuery, Tables}
import org.apache.spark.sql.functions._

/** Statistical aggregates + modern JSON access — breadth beyond the
  * reference (it has only counters, SURVEY.md §2.4), rounded so
  * cross-engine float noise cannot flip the oracle compare. Percentiles
  * use exact linear interpolation (Spark `percentile` == DuckDB
  * `quantile_cont`), not sketches.
  */
object Stats {

  val queries: Seq[GraftQuery] = Seq(

    GraftQuery(
      "q_agg_percentile",
      "Exact interpolated percentiles per group (median, p90) — the " +
        "sort-based exact form; percentile_approx is the sketch path " +
        "(q_agg_approx covers sketches).",
      // no spread — measured (r20 A/B, 5 reps): 1.39 s single-split vs
      // 1.82 s spread; the exact-percentile object aggregate buffers
      // full rows, so the repartition shuffles 600k wide rows to save
      // nothing (partial buffers merge either way)
      (s, d) => Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          round(expr("percentile(l_quantity, 0.5)"), 6).as("med_qty"),
          round(expr("percentile(l_extendedprice, 0.9)"), 6).as("p90_price"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag"),
      Some("SELECT l_returnflag, " +
        "round(quantile_cont(l_quantity, 0.5), 6) AS med_qty, " +
        "round(quantile_cont(l_extendedprice, 0.9), 6) AS p90_price, " +
        "count(*) AS n FROM lineitem GROUP BY l_returnflag " +
        "ORDER BY l_returnflag")),

    GraftQuery(
      "q_agg_stats",
      "Moment aggregates: sample stddev/variance and Pearson " +
        "correlation per group, rounded for cross-engine stability.",
      // no spread — measured (r20 A/B): 0.41 vs 0.99 s, 2.4x worse;
      // moment aggregates combine map-side, the repartition is pure cost
      (s, d) => Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          round(stddev_samp(col("l_quantity")), 6).as("sd_qty"),
          round(var_samp(col("l_extendedprice")), 4).as("var_price"),
          round(corr(col("l_quantity"), col("l_extendedprice")), 6)
            .as("qp_corr"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag"),
      Some("SELECT l_returnflag, " +
        "round(stddev_samp(l_quantity), 6) AS sd_qty, " +
        "round(var_samp(l_extendedprice), 4) AS var_price, " +
        "round(corr(l_quantity, l_extendedprice), 6) AS qp_corr, " +
        "count(*) AS n FROM lineitem GROUP BY l_returnflag " +
        "ORDER BY l_returnflag")),

    GraftQuery(
      "q_pivot",
      "Pivot: one column per l_linestatus value, decimal-exact sums — " +
        "Spark's relational pivot() with an explicit value list (no " +
        "extra distinct-scan); oracle via conditional aggregation.",
      (s, d) => Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(graft.GraftQuery.decSum(col("l_quantity"), 12, 2))
        .withColumnsRenamed(Map("F" -> "qty_f", "O" -> "qty_o"))
        .orderBy("l_returnflag"),
      Some("SELECT l_returnflag, " +
        "CAST(SUM(CASE WHEN l_linestatus='F' THEN CAST(l_quantity AS DECIMAL(12,2)) END) AS DOUBLE) AS qty_f, " +
        "CAST(SUM(CASE WHEN l_linestatus='O' THEN CAST(l_quantity AS DECIMAL(12,2)) END) AS DOUBLE) AS qty_o " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag")),

    GraftQuery(
      "q_unpivot",
      "Unpivot/melt: wide metric columns to (metric, value) rows via " +
        "Spark's unpivot API; oracle as a UNION ALL of per-metric " +
        "projections (dialect-portable).",
      (s, d) => Tables.orders(s, d)
        .select("o_orderkey", "o_totalprice", "o_custkey")
        .unpivot(
          Array(col("o_orderkey")),
          Array(col("o_totalprice"), col("o_custkey").cast("double")),
          "metric", "value")
        .orderBy("o_orderkey", "metric"),
      Some("SELECT o_orderkey, 'o_totalprice' AS metric, " +
        "o_totalprice AS value FROM orders " +
        "UNION ALL SELECT o_orderkey, 'o_custkey', " +
        "CAST(o_custkey AS DOUBLE) FROM orders " +
        "ORDER BY o_orderkey, metric")),

    GraftQuery(
      "q_agg_udaf",
      "User-defined aggregate: the typed ExactMoments Aggregator " +
        "(mean + sample variance from exact decimal power sums — " +
        "associative merge, so Spark's partial/final split cannot " +
        "perturb the result). The oracle recomputes the identical " +
        "closed form from DECIMAL sums.",
      (s, d) => {
        // no spread — measured (r20 A/B): 0.73 vs 1.09 s; the typed
        // aggregator combines map-side like any DeclarativeAggregate
        val moments = udaf(new graft.functions.ExactMoments.Agg(2))
        Tables.lineitem(s, d)
          .groupBy("l_returnflag")
          .agg(moments(col("l_quantity")).as("m"),
               count(lit(1)).as("n"))
          .select(col("l_returnflag"),
            round(col("m.mean"), 6).as("mean_qty"),
            round(col("m.var_samp"), 6).as("var_qty"),
            col("n"))
          .orderBy("l_returnflag")
      },
      Some("SELECT l_returnflag, " +
        "round(CAST(s AS DOUBLE) / n, 6) AS mean_qty, " +
        "round((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) " +
        "/ (n - 1), 6) AS var_qty, n FROM (" +
        "SELECT l_returnflag, " +
        "SUM(CAST(l_quantity AS DECIMAL(12,2))) AS s, " +
        "SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS ss, " +
        "count(*) AS n FROM lineitem GROUP BY l_returnflag) " +
        "ORDER BY l_returnflag")),

    GraftQuery(
      "q_agg_grouping_sets",
      "Explicit GROUPING SETS ((flag), (status), ()) — the general form " +
        "rollup/cube specialize; Spark 4's Dataset.groupingSets API, " +
        "one shuffle computing all three granularities. NULLS FIRST " +
        "pinned as in q_agg_rollup.",
      (s, d) => Tables.lineitem(s, d)
        .groupingSets(
          Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq()),
          col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
             graft.GraftQuery.decSum(col("l_quantity"), 12, 2).as("sum_qty"))
        .orderBy(asc_nulls_first("l_returnflag"),
                 asc_nulls_first("l_linestatus")),
      Some("SELECT l_returnflag, l_linestatus, count(*) AS n, " +
        "CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty " +
        "FROM lineitem " +
        "GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ()) " +
        "ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST")),

    GraftQuery(
      "q_json_variant",
      "Spark 4 VariantType JSON access: parse_json once, typed " +
        "variant_get extraction — the engine-native form of the " +
        "reference's opaque-JSON round-trip, with shredded storage at " +
        "scale.",
      (s, d) => Tables.spreadSized(Tables.events(s, d), 256L << 10, col("event_id"))
        .select(col("event_id"),
          variant_get(parse_json(col("props")), "$.k", "bigint").as("k_val"))
        .filter(col("k_val").isNotNull)
        .orderBy("event_id"),
      Some("SELECT event_id, " +
        "CAST(json_extract_string(props,'$.k') AS BIGINT) AS k_val " +
        "FROM events WHERE json_extract_string(props,'$.k') IS NOT NULL " +
        "ORDER BY event_id"))
  )
}
