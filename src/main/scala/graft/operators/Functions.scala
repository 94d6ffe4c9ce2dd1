package graft.operators

import graft.{GraftQuery, Tables}
import org.apache.spark.sql.functions._

/** Scalar-function surface (SURVEY.md §2.7).
  *
  * The reference uses a handful of scalar functions — string split /
  * sprintf URL templating (BackupProcessor.php:23, AbstractCommand.php:11),
  * regexp sanitization (BackupProcessor.php:227), md5 naming
  * (BackupProcessor.php:203), date formatting (BackupProcessor.php:24),
  * json (de)serialization (BackupProcessor.php:50,172,213) and page-size
  * arithmetic ceil/min/max (BackupProcessor.php:171,185). Each suite below
  * exercises the corresponding Spark built-in family (all codegen'd —
  * no UDFs), aliased identically to the DuckDB oracle twin.
  *
  * Dialect notes: DuckDB `regexp_replace` needs the 'g' flag to match
  * Spark's replace-all; Spark `ceil`/`floor` return LONG while DuckDB
  * returns DOUBLE (cast in SQL); transcendental outputs are rounded to
  * 8 dp so libm last-bit drift can't flip the compare.
  */
object Functions {

  val queries: Seq[GraftQuery] = Seq(

    GraftQuery(
      "q_str_funcs",
      "String family: upper/substr/regexp_replace/split/length/concat_ws " +
        "— the URL-parse + sanitize surface (BackupProcessor.php:23,227).",
      (s, d) => Tables.part(s, d).select(
        col("p_partkey"),
        upper(col("p_name")).as("name_upper"),
        substring(col("p_name"), 1, 8).as("name_prefix"),
        regexp_replace(col("p_name"), "[aeiou]", "").as("name_novowel"),
        element_at(split(col("p_name"), " "), 1).as("first_word"),
        length(col("p_name")).cast("bigint").as("name_len"),
        concat_ws("-", col("p_brand"), col("p_type")).as("brand_type"),
        levenshtein(element_at(split(col("p_name"), " "), 1), lit("green"))
          .cast("bigint").as("lev_green"),
        lpad(col("p_brand"), 12, "*").as("brand_pad"),
        translate(col("p_name"), "aeiou", "AEIOU").as("name_caps_vowel"),
        reverse(substring(col("p_name"), 1, 6)).as("name_rev6")
      ).orderBy("p_partkey"),
      Some("SELECT p_partkey, upper(p_name) AS name_upper, " +
        "substr(p_name,1,8) AS name_prefix, " +
        "regexp_replace(p_name,'[aeiou]','','g') AS name_novowel, " +
        "str_split(p_name,' ')[1] AS first_word, " +
        "CAST(length(p_name) AS BIGINT) AS name_len, " +
        "concat_ws('-',p_brand,p_type) AS brand_type, " +
        "CAST(levenshtein(str_split(p_name,' ')[1],'green') AS BIGINT) AS lev_green, " +
        "lpad(p_brand,12,'*') AS brand_pad, " +
        "translate(p_name,'aeiou','AEIOU') AS name_caps_vowel, " +
        "reverse(substr(p_name,1,6)) AS name_rev6 " +
        "FROM part ORDER BY p_partkey")),

    GraftQuery(
      "q_date_funcs",
      "Date family: year/month/day/quarter extraction, month truncation, " +
        "formatting, day arithmetic (the timestamped-output-name pattern, " +
        "BackupProcessor.php:24).",
      (s, d) => Tables.orders(s, d).select(
        col("o_orderkey"),
        year(col("o_orderdate")).cast("bigint").as("o_year"),
        month(col("o_orderdate")).cast("bigint").as("o_month"),
        dayofmonth(col("o_orderdate")).cast("bigint").as("o_day"),
        quarter(col("o_orderdate")).cast("bigint").as("o_quarter"),
        // DuckDB's date_trunc('month') yields DATE; align on DATE output
        date_trunc("month", col("o_orderdate")).cast("date").as("month_start"),
        date_format(col("o_orderdate"), "yyyy-MM").as("ym"),
        datediff(col("o_orderdate"), lit("1995-01-01").cast("date"))
          .cast("bigint").as("days_since_95"),
        last_day(col("o_orderdate")).as("month_end"),
        // Spark dayofweek: 1=Sunday..7; DuckDB dayofweek: 0=Sunday..6
        (dayofweek(col("o_orderdate")) - 1).cast("bigint").as("dow"),
        weekofyear(col("o_orderdate")).cast("bigint").as("iso_week"),
        date_add(col("o_orderdate"), 30).as("due_date")
      ).orderBy("o_orderkey"),
      Some("SELECT o_orderkey, " +
        "CAST(year(o_orderdate) AS BIGINT) AS o_year, " +
        "CAST(month(o_orderdate) AS BIGINT) AS o_month, " +
        "CAST(day(o_orderdate) AS BIGINT) AS o_day, " +
        "CAST(quarter(o_orderdate) AS BIGINT) AS o_quarter, " +
        "CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start, " +
        "strftime(o_orderdate, '%Y-%m') AS ym, " +
        "date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) " +
        "AS days_since_95, " +
        "last_day(CAST(o_orderdate AS DATE)) AS month_end, " +
        "CAST(dayofweek(CAST(o_orderdate AS DATE)) AS BIGINT) AS dow, " +
        "CAST(weekofyear(CAST(o_orderdate AS DATE)) AS BIGINT) AS iso_week, " +
        "CAST(o_orderdate AS DATE) + 30 AS due_date " +
        "FROM orders ORDER BY o_orderkey")),

    GraftQuery(
      "q_math_funcs",
      "Math family: ceil/floor/round/least/greatest/abs/sqrt/ln/mod — the " +
        "adaptive page-size arithmetic (BackupProcessor.php:171,185) " +
        "generalized. Transcendentals rounded to 8 dp for cross-libm " +
        "stability.",
      // Range-partition on the BASE key prefix, derive AFTER the
      // exchange, sort within partitions (r21, guide §2.3/§2.4): a
      // global orderBy's range exchange samples its child and reads it
      // again, so the 9-derived-column map phase ran TWICE (the r20
      // A/B kept spread for exactly that: 1.41 s spread vs 2.22 s
      // single-split, both paying the double eval). Partitioning only
      // needs (l_orderkey, l_linenumber): equal prefixes land in one
      // range bucket, so a local sort by the FULL output list
      // reconstructs the identical total order (rule 4 coverage
      // unchanged) while the sample pass reads 6 base columns, the
      // shuffle carries 6 columns instead of 11, the derived columns
      // are computed ONCE (post-exchange, already parallel — spread's
      // job, without its extra exchange). r21 A/B (5 interleaved
      // reps, same window): 1.571 → 0.864 s min (0.55x).
      (s, d) => Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), col("l_discount"), col("l_partkey"))
        .repartitionByRange(col("l_orderkey"), col("l_linenumber"))
        .select(
          col("l_orderkey"), col("l_linenumber"),
          ceil(col("l_quantity")).cast("bigint").as("qty_ceil"),
          floor(col("l_quantity")).cast("bigint").as("qty_floor"),
          round(col("l_extendedprice"), 1).as("price_round1"),
          least(col("l_quantity"), col("l_extendedprice") / 100).as("lo"),
          greatest(col("l_quantity"), col("l_extendedprice") / 100).as("hi"),
          round(abs(col("l_discount") - 0.05), 8).as("disc_dev"),
          round(sqrt(col("l_quantity")), 8).as("qty_sqrt"),
          round(log(col("l_extendedprice")), 8).as("price_ln"),
          (col("l_partkey") % 7).as("pk_mod7")
          // non-unique (l_orderkey, l_linenumber): the sort must cover
          // EVERY output column to be total (duplicate-key rows can tie
          // on any proper subset and the row compare is positional)
        ).sortWithinPartitions("l_orderkey", "l_linenumber", "qty_ceil",
          "qty_floor", "price_round1", "lo", "hi", "disc_dev", "qty_sqrt",
          "price_ln", "pk_mod7"),
      Some("SELECT l_orderkey, l_linenumber, " +
        "CAST(ceil(l_quantity) AS BIGINT) AS qty_ceil, " +
        "CAST(floor(l_quantity) AS BIGINT) AS qty_floor, " +
        "round(l_extendedprice, 1) AS price_round1, " +
        "least(l_quantity, l_extendedprice/100) AS lo, " +
        "greatest(l_quantity, l_extendedprice/100) AS hi, " +
        "round(abs(l_discount - 0.05), 8) AS disc_dev, " +
        "round(sqrt(l_quantity), 8) AS qty_sqrt, " +
        "round(ln(l_extendedprice), 8) AS price_ln, " +
        "l_partkey % 7 AS pk_mod7 " +
        "FROM lineitem ORDER BY l_orderkey, l_linenumber, qty_ceil, " +
        "qty_floor, price_round1, lo, hi, disc_dev, qty_sqrt, " +
        "price_ln, pk_mod7")),

    GraftQuery(
      "q_json_funcs",
      "JSON path extraction over events.props — the reference's whole " +
        "data plane is opaque JSON (BackupProcessor.php:172,213); typed " +
        "views are projected on demand with get_json_object.",
      (s, d) => Tables.spreadSized(Tables.events(s, d), 256L << 10, col("event_id")).select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("bigint").as("k_val"))
        .withColumn("k_parity", col("k_val") % 2)
        .filter(col("k_val").isNotNull)
        .orderBy("event_id"),
      Some("SELECT event_id, " +
        "CAST(json_extract_string(props,'$.k') AS BIGINT) AS k_val, " +
        "CAST(json_extract_string(props,'$.k') AS BIGINT) % 2 AS k_parity " +
        "FROM events WHERE json_extract_string(props,'$.k') IS NOT NULL " +
        "ORDER BY event_id")),

    GraftQuery(
      "q_json_flatten",
      "Flatten each JSON object into (key, value) edge rows — the " +
        "reference's whole data model (a JSON tree normalized to " +
        "path/key/value rows, SURVEY.md §1.4) as a relational explode " +
        "of a MapType projection.",
      (s, d) => Tables.spreadSized(Tables.events(s, d), 256L << 10, col("event_id"))
        .select(col("event_id"),
          explode(from_json(col("props"),
            org.apache.spark.sql.types.DataType.fromDDL("map<string,string>")))
            .as(Seq("k", "v")))
        .orderBy("event_id", "k"),
      Some("SELECT event_id, k, json_extract_string(props, '$.' || k) AS v " +
        "FROM (SELECT event_id, props, unnest(json_keys(props)) AS k " +
        "FROM events) ORDER BY event_id, k")),

    GraftQuery(
      "q_array_funcs",
      "Array family over tokenized text: size/distinct/contains/slice/" +
        "sort — the reference's array_keys/array_slice surface " +
        "(BackupProcessor.php:89,195) on ArrayType columns.",
      (s, d) => {
        val toks = split(col("text"), " ")
        Tables.documents(s, d).select(
          col("doc_id"),
          size(toks).cast("bigint").as("n_tokens"),
          size(array_distinct(toks)).cast("bigint").as("n_distinct"),
          array_contains(toks, "spark").as("has_spark"),
          // arrays are serialized to strings in the output projection: the
          // driver's pandas-based compare cannot hash ndarray cells
          array_join(slice(toks, 1, 5), ",").as("first5"),
          array_join(sort_array(array_distinct(slice(toks, 1, 10))), ",")
            .as("first10_sorted")
        ).orderBy("doc_id")
      },
      Some("SELECT doc_id, " +
        "CAST(len(str_split(text,' ')) AS BIGINT) AS n_tokens, " +
        "CAST(len(list_distinct(str_split(text,' '))) AS BIGINT) AS n_distinct, " +
        "list_contains(str_split(text,' '), 'spark') AS has_spark, " +
        "array_to_string(str_split(text,' ')[1:5], ',') AS first5, " +
        "array_to_string(list_sort(list_distinct(str_split(text,' ')[1:10])), ',') " +
        "AS first10_sorted " +
        "FROM documents ORDER BY doc_id")),

    GraftQuery(
      "q_hof_funcs",
      "Higher-order array functions (transform/filter/exists/aggregate) " +
        "over tokenized text — the lambda surface itself. These evaluate " +
        "INTERPRETED in Spark (never codegen'd), which is exactly why " +
        "the engine's hot paths use native expressions instead " +
        "(graft.functions); this query pins the semantics at " +
        "document-count cardinality where interpretation is fine.",
      (s, d) => {
        val toks = split(col("text"), " ")
        Tables.documents(s, d).select(
          col("doc_id"),
          size(filter(toks, t => length(t) > 5)).cast("bigint").as("n_long"),
          exists(toks, t => t === "the").as("has_the"),
          aggregate(transform(toks, t => length(t).cast("bigint")),
            lit(0L), (acc, x) => acc + x).as("total_chars"),
          array_join(slice(transform(toks, t => upper(t)), 1, 3), ",")
            .as("first3_upper")
        ).orderBy("doc_id")
      },
      Some("SELECT doc_id, " +
        "CAST(len(list_filter(str_split(text,' '), t -> length(t) > 5)) " +
        "AS BIGINT) AS n_long, " +
        "list_has_any(str_split(text,' '), ['the']) AS has_the, " +
        "CAST(list_aggregate(list_transform(str_split(text,' '), " +
        "t -> length(t)), 'sum') AS BIGINT) AS total_chars, " +
        "array_to_string(list_transform(str_split(text,' '), " +
        "t -> upper(t))[1:3], ',') AS first3_upper " +
        "FROM documents ORDER BY doc_id")),

    GraftQuery(
      "q_map_funcs",
      "MapType surface over parsed JSON (from_json → map<string,string>): " +
        "map_keys / element lookup / cardinality — the engine-typed form " +
        "of the reference's array_keys/in_array map handling " +
        "(BackupProcessor.php:89; frdbackup:18).",
      (s, d) => {
        val m = from_json(col("props"),
          org.apache.spark.sql.types.DataType.fromDDL("map<string,string>"))
        Tables.spreadSized(Tables.events(s, d), 256L << 10, col("event_id")).select(
          col("event_id"),
          size(map_keys(m)).cast("bigint").as("n_keys"),
          array_join(sort_array(map_keys(m)), ",").as("keys_csv"),
          element_at(m, "k").as("k_val")
        ).orderBy("event_id")
      },
      Some("SELECT event_id, " +
        "CAST(len(json_keys(props)) AS BIGINT) AS n_keys, " +
        "array_to_string(list_sort(json_keys(props)), ',') AS keys_csv, " +
        "json_extract_string(props, '$.k') AS k_val " +
        "FROM events ORDER BY event_id"))
  )
}
