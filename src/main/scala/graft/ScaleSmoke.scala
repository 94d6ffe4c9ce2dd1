package graft

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Scale rehearsal: replicate the fact tables K times (orderkeys
  * shifted per replica so join cardinalities scale, not explode) into a
  * multi-file parquet dir, then time a headline query subset at 1x and
  * Kx and print the time ratios.
  *
  * The point is evidence for SURVEY.md §10: a K-times input should cost
  * ~K times (bounded-key aggregates, map-only scans, TakeOrdered top-k)
  * or ~K log K (total sorts, shuffle joins) — a super-linear ratio
  * flags an operator whose plan would not survive the 100 TB target.
  * Replicated data also arrives as MANY part-files, so this exercises
  * the multi-split path the single-file sf dirs cannot (Tables.spread
  * becomes the documented no-op).
  *
  * Usage: runMain graft.ScaleSmoke [k] [srcDir] [workDir]
  */
object ScaleSmoke {

  private val HeadlineQueries = Seq(
    "q_agg_basic", "q_agg_distinct", "q_filter_range", "q_join_inner",
    "q_sort", "q_topk", "q_window_rank", "q_math_funcs")

  /** The LLM-pipeline families whose scale posture is argued in source
    * (prefix-filtered candidates, bucketed LSH, map-side IVF combine):
    * this ladder is the measurement behind those arguments. */
  private val LlmQueries = Seq(
    "q_ngram_jaccard", "q_dedup_groups", "q_dedup_minhash", "q_dedup_delta",
    "q_ann_lsh", "q_ann_ivf", "q_tfidf", "q_decontaminate",
    "q_text_repetition", "q_pii_redact", "q_seq_pack", "q_source_mix",
    "q_cluster_assign", "q_span_dup", "q_train_shuffle",
    "q_quality_calibrated", "q_ngram_lm", "q_kmeans_refine",
    "q_embed_outliers", "q_dedup_keep", "q_token_budget",
    "q_perplexity_filter", "q_data_split", "q_pipeline_curate",
    "q_dedup_semantic", "q_dedup_semantic_delta",
    "q_decontaminate_bloom", "q_doc_chunk")

  /** Event/sessionization family: user ids shift per replica, so
    * per-user session structure is identical while the partition key
    * (user) scales k-fold — windows keyed by time keep a FIXED group
    * count with k-fold heavier groups, the other interesting shape. */
  private val EventQueries = Seq(
    "q_events_session", "q_events_window", "q_events_sliding",
    "q_events_gapfill", "q_session_compact")

  /** The multi-join / specialty-join / wide-window surface, previously
    * never rehearsed (the round-6 ladder covered scans, basic joins,
    * and the LLM families). Facts scale k-fold, dims stay fixed — the
    * realistic 100 TB shape — so TPC-H plans must keep their broadcast
    * dims broadcast and their fact joins shuffle-partitioned; the
    * skew/range/as-of joins are where super-linear candidate growth
    * would hide. */
  private val RelationalQueries = Seq(
    "q_sql_tpch_q3", "q_sql_tpch_q5", "q_sql_tpch_q10", "q_sql_tpch_q18",
    "q_join_skew", "q_join_range", "q_join_asof", "q_join_multi",
    "q_window_running", "q_window_range", "q_window_firstlast",
    "q_group_collect", "q_string_agg", "q_pivot", "q_sample_hash",
    "q_backup_diff")

  /** Write order of [[replicate]] — also the known-table set for
    * SPARK_GRAFT_SMOKE_TABLES validation and the replica manifest. */
  private val TableOrder = Seq("lineitem", "orders", "region", "nation",
    "customer", "supplier", "part", "documents", "events", "embeddings")

  /** Optional comma-list limiting which tables [[replicate]] writes
    * (SPARK_GRAFT_SMOKE_TABLES=embeddings,documents): the heavy recall
    * rungs (512k vectors = 256x of sf0.1) only need the similarity
    * tables, and replicating 150M lineitem rows alongside them would
    * be pure waste. Empty/absent = all tables. Unknown names fail fast
    * (same rule as Verify's SPARK_GRAFT_ONLY: a typo must not make a
    * replication — and every gate built on it — pass vacuously). */
  private def wantedTables: Set[String] = {
    val ts = sys.env.get("SPARK_GRAFT_SMOKE_TABLES")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)
    val unknown = ts -- TableOrder.toSet
    require(unknown.isEmpty,
      s"SPARK_GRAFT_SMOKE_TABLES names not in ${TableOrder.mkString(",")}: " +
        unknown.mkString(","))
    ts
  }


  def replicate(spark: SparkSession, src: String, out: String, k: Int): Unit = {
    val only = wantedTables
    def wanted(t: String): Boolean = only.isEmpty || only(t)
    def shifted(df: DataFrame, keys: Seq[String], span: Long): DataFrame =
      (0 until k).map { i =>
        keys.foldLeft(df)((d, c) => d.withColumn(c, col(c) + lit(i * span)))
      }.reduce(_ unionAll _)
    def write(df: DataFrame, name: String): Unit = df
      .repartition(spark.sparkContext.defaultParallelism)
      .write.mode(SaveMode.Overwrite).parquet(s"$out/$name.parquet")
    if (wanted("lineitem") || wanted("orders")) {
      val li = spark.read.parquet(s"$src/lineitem.parquet")
      val ord = spark.read.parquet(s"$src/orders.parquet")
      val okSpan = ord.agg(max(col("o_orderkey"))).head.getLong(0) + 1
      if (wanted("lineitem")) write(shifted(li, Seq("l_orderkey"), okSpan), "lineitem")
      if (wanted("orders")) write(shifted(ord, Seq("o_orderkey"), okSpan), "orders")
    }

    // dimension tables copy through UNSHIFTED: at 100 TB the facts
    // grow and the dims don't, so a k× ladder that also inflated dims
    // would rehearse the wrong workload (customer joins get k× heavier
    // per key here, exactly like production growth)
    Seq("region", "nation", "customer", "supplier", "part")
      .filter(wanted).foreach { t =>
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode(SaveMode.Overwrite).parquet(s"$out/$t.parquet")
    }

    // documents: ids shift per replica; every WORD gets a replica
    // suffix (shingles/tokens split on spaces), so within-replica
    // similarity structure is bit-identical to the original while
    // cross-replica shingle/token sets are disjoint — duplicate pairs,
    // components, and vocabulary all scale ~k, never k² (a verbatim
    // text copy would make every doc a 32-way duplicate group and the
    // pair list quadratic in k, which is a different workload, not a
    // bigger one).
    if (wanted("documents")) {
      val docs = spark.read.parquet(s"$src/documents.parquet")
      val docSpan = docs.agg(max(col("doc_id"))).head.getLong(0) + 1
      write((0 until k).map { i =>
        val d = docs.withColumn("doc_id", col("doc_id") + lit(i * docSpan))
        if (i == 0) d
        else d.withColumn("text",
          regexp_replace(col("text"), "(\\S+)", "$1~" + i))
      }.reduce(_ unionAll _), "documents")
    }

    // embeddings: ids shift; each replica's vectors are circularly
    // rotated by a replica-specific offset — rotation is an orthogonal
    // permutation, so all within-replica inner products (hence every
    // cosine the queries compute) are preserved EXACTLY while replicas
    // decorrelate (no k identical copies of each vector collapsing
    // into one LSH bucket / IVF cell). Probe sets (vec_id < 10) stay
    // fixed at replica 0, so the ladder measures search cost against a
    // k× corpus at constant probe count — the scale question.
    // events: user_id/event_id shift per replica, ts untouched — the
    // same time range carries k times the users and k times the rows,
    // so sessionization scales by partition count and time-window aggs
    // by per-group weight. ts (source parquet is TIMESTAMP_NTZ) is
    // normalized to TimestampType before writing so the replica and the
    // Spark-side Tables.events read identically and DuckDB's oracle
    // binds date_trunc/epoch the same way at replicated scale.
    if (wanted("events")) {
      val ev0 = spark.read.parquet(s"$src/events.parquet")
      val ev =
        if (ev0.schema("ts").dataType ==
            org.apache.spark.sql.types.TimestampNTZType)
          ev0.withColumn("ts", col("ts").cast(
            org.apache.spark.sql.types.TimestampType))
        else ev0
      val uidSpan = ev.agg(max(col("user_id"))).head.getLong(0) + 1
      val eidSpan = ev.agg(max(col("event_id"))).head.getLong(0) + 1
      write((0 until k).map { i =>
        ev.withColumn("user_id", col("user_id") + lit(i * uidSpan))
          .withColumn("event_id", col("event_id") + lit(i * eidSpan))
      }.reduce(_ unionAll _), "events")
    }

    if (!wanted("embeddings")) return
    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    val vecSpan = emb.agg(max(col("vec_id"))).head.getLong(0) + 1
    val dim = emb.select(size(col("embedding"))).head.getInt(0)
    write((0 until k).map { i =>
      val e = emb.withColumn("vec_id", col("vec_id") + lit(i * vecSpan))
      val sh = (i * 7) % dim
      val rot =
        if (sh == 0) e
        else e.withColumn("embedding",
          concat(slice(col("embedding"), sh + 1, dim - sh),
                 slice(col("embedding"), 1, sh)))
      // (i*7)%dim cycles after dim replicas (gcd(7,dim)=1 → full
      // cycle), so replica i and i+dim would carry bit-identical
      // vectors — a k>dim corpus (the 128x rehearsal) would duplicate
      // every vector exactly once and hand LSH/IVF an artificially
      // twinned similarity structure. Past the first cycle, also flip
      // coordinate signs by a per-cycle mixed mask: a diagonal ±1 is
      // orthogonal, so within-replica inner products (every cosine the
      // queries compute) stay EXACT while cycles decorrelate. k <= dim
      // (the 8x/32x ladders) is bit-for-bit unchanged.
      val cyc = i / dim
      if (cyc == 0) rot
      else {
        val mask = cyc.toLong * 0x9E3779B97F4A7C15L // golden-ratio mix
        // the ±1 mask is computed HERE, per replica, and baked as an
        // array literal — zip_with then does one multiply per element
        // instead of an interpreted shiftright/pmod expression tree
        // per element (rule 1; this is one-time harness code but 64
        // extra replicas of interpreted bit math added real minutes)
        val signs = Array.tabulate(dim)(j =>
          if (((mask >> (j % 63)) & 1L) == 1L) -1.0f else 1.0f)
        rot.withColumn("embedding",
          zip_with(col("embedding"), lit(signs), (x, m) => x * m))
      }
    }.reduce(_ unionAll _), "embeddings")
  }

  def main(args: Array[String]): Unit = {
    val k = if (args.nonEmpty) args(0).toInt else 8
    val src = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val work = if (args.length > 2) args(2) else "/tmp/graft_scale"
    val spark = SparkEntry.localSession()

    // SPARK_GRAFT_SMOKE_REUSE=1 skips replication when the work dir
    // already holds THIS run's corpus: the manifest written after a
    // complete replicate() records (k, src, tables), so a dir from a
    // different k, source, or a subset missing any of this run's
    // tables is re-replicated instead of silently reused (a bare
    // last-table _SUCCESS marker validated exactly those mismatches —
    // and check_oracles skips absent tables, so a stale reuse would
    // pass its gate vacuously)
    val manifest = new java.io.File(s"$work/_GRAFT_REPLICA.json")
    // ONE canonical manifest string per (k, src, tables): the writer
    // emits it and the reuse check compares for EXACT equality, so
    // token collisions (a src path containing a quoted table name, a
    // future field echoing "k":N) can never produce a false-positive
    // reuse of a mismatched corpus. The cost is that a full-corpus dir
    // is no longer reused for a subset run (its table list differs) —
    // re-replicating is cheap; a vacuously-passing gate is not.
    def canonicalManifest(): String = {
      val tables = TableOrder.filter(t => wantedTables.isEmpty || wantedTables(t))
      s"""{"k":$k,"src":"$src","tables":[${
        tables.map("\"" + _ + "\"").mkString(",")}]}"""
    }
    def manifestCovers(): Boolean = manifest.exists() && {
      val txt = new String(java.nio.file.Files.readAllBytes(manifest.toPath))
      txt.trim == canonicalManifest()
    }
    val reuse = sys.env.get("SPARK_GRAFT_SMOKE_REUSE").contains("1") &&
      manifestCovers()
    if (!reuse) {
      if (manifest.exists()) manifest.delete() // no stale manifest if we die
      replicate(spark, src, work, k)
      java.nio.file.Files.write(manifest.toPath,
        canonicalManifest().getBytes("UTF-8"))
    }

    // SPARK_GRAFT_SMOKE_REPLICATE_ONLY=1 stops after writing the k×
    // corpus: the 32× correctness spot-gate (tools/scale_gate.sh)
    // feeds it to Verify + tools/check_oracles.py, so results — not
    // just times — are checked against DuckDB at replicated scale.
    // A table SUBSET also implies replicate-only — UNLESS the caller
    // named a query subset too (SPARK_GRAFT_SMOKE_ONLY): a query that
    // reads only the replicated tables can still be timed. The full
    // ladder over a subset dir would just die on its first missing
    // table, so that combination stops here, and says so.
    val smokeOnly = sys.env.get("SPARK_GRAFT_SMOKE_ONLY").exists(_.nonEmpty)
    if (sys.env.get("SPARK_GRAFT_SMOKE_REPLICATE_ONLY").contains("1") ||
        (wantedTables.nonEmpty && !smokeOnly)) {
      if (wantedTables.nonEmpty && !smokeOnly &&
          !sys.env.get("SPARK_GRAFT_SMOKE_REPLICATE_ONLY").contains("1"))
        println(s"""{"metric":"scale_smoke","note":"table subset implies """ +
          """replicate-only; set SPARK_GRAFT_SMOKE_ONLY to time queries """ +
          """over the subset"}""")
      spark.stop()
      return
    }

    def force(df: org.apache.spark.sql.DataFrame): Unit =
      df.queryExecution.toRdd.foreach(_ => ())
    def time(name: String, dir: String): Double = {
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      force(SparkEntry.queries(name)(spark, dir))
      (System.nanoTime() - t0) / 1e9
    }
    // SPARK_GRAFT_SMOKE_ONLY=q_a,q_b overrides the ladder with exactly
    // that list — any SparkEntry query name works, not just the
    // defaults (local iteration aid, like Bench's SPARK_GRAFT_ONLY)
    val queries = sys.env.get("SPARK_GRAFT_SMOKE_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(HeadlineQueries ++ LlmQueries ++ EventQueries ++
        RelationalQueries)
    // warm both paths once, then interleaved min-of-2 (same rationale
    // as Bench: min under asymmetric noise, spaced reps)
    queries.foreach { q => time(q, src); time(q, work) }
    val reps = sys.env.getOrElse("SPARK_GRAFT_SMOKE_REPS", "2").toInt
    val t1 = collection.mutable.Map.empty[String, List[Double]].withDefaultValue(Nil)
    val tk = collection.mutable.Map.empty[String, List[Double]].withDefaultValue(Nil)
    (1 to reps).foreach { _ =>
      queries.foreach { q =>
        t1(q) ::= time(q, src)
        tk(q) ::= time(q, work)
      }
    }
    val rows = queries.map { q =>
      val a = t1(q).min
      val b = tk(q).min
      f""""$q":{"t1":$a%.3f,"tk":$b%.3f,"ratio":${b / a}%.2f}"""
    }
    println(s"""{"metric":"scale_smoke","k":$k,"queries":{${rows.mkString(",")}}}""")
    spark.stop()
  }
}
