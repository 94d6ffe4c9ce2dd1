package graft.operators

import graft.{GraftQuery, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The composed corpus-curation pipeline — the way a real training-data
  * user runs the hygiene operators: not as N independent corpus scans,
  * but as ONE DAG where each stage consumes the previous stage's
  * survivors and every corpus pass is paid once.
  *
  *   quality-score -> calibrated filter -> LM perplexity filter
  *   -> exact-dedup keep -> decontaminate vs the eval suite
  *   -> sequence-pack + train/val/test split
  *
  * Stage semantics are exactly the standalone operators'
  * (q_quality_calibrated, q_perplexity_filter, q_dedup_keep,
  * q_decontaminate, q_seq_pack, q_data_split) — CurationSpec pins each
  * stage against its standalone twin on the same input — but cutoffs
  * are computed over each stage's INPUT, not the raw corpus: the 20th-
  * percentile quality bar and the 90th-percentile perplexity bar move
  * with what survives, which is the point of calibrated filtering.
  *
  * Scale shape: survivors are localCheckpoint'd at exactly the
  * boundaries where the next stage scans its input more than once
  * (s1: the LM's token + bigram passes; nll: cutoff aggregate +
  * verdict join + user-facing scores; s3: gram explode + anti-join) —
  * without those pins each rescan would recompute the whole upstream
  * chain, turning 5 stages into 2^5 corpus scans. This mirrors how
  * production curation materializes between stages; on a cluster the
  * same boundaries become checkpoint/write points. The per-doc NLL is
  * scored ONCE and shared by the cutoff, the verdicts, and the
  * exposed [[Curated.lmScores]] frame — the "LM scored twice" cost of
  * running q_ngram_lm and q_perplexity_filter separately is gone.
  *
  * The eval suite (doc_id % 41 == 0, q_decontaminate's in-corpus
  * stand-in for a fixed external benchmark) is excluded from the
  * pipeline INPUT up front — eval documents are reference data, not
  * training candidates — and its grams come from the ORIGINAL corpus,
  * so upstream filtering can never un-contaminate a document.
  */
object Curation {

  /** One curation run: the shared LM score frame (survivors of the
    * quality stage, scored once) and the final packed + split corpus. */
  final case class Curated(lmScores: DataFrame, packed: DataFrame)

  /** Run the composed pipeline. `occAgg` overrides the lmNll join-
    * shape size gate (None = auto, see TextAnalysis.lmOccAggregate). */
  def curate(s: SparkSession, d: String,
             occAgg: Option[Boolean] = None): Curated = {
    val docs0 = Tables.spreadSized(Tables.documents(s, d), 128L << 10, col("doc_id"))
      .select(col("doc_id"), col("source"), col("text"))
    val evalDocs = docs0.filter(col("doc_id") % 41 === 0)
    val train0 = docs0.filter(col("doc_id") % 41 =!= 0)

    // stage 1: retention-calibrated quality filter (keep top 80%).
    // scored is scanned twice (cutoff + verdict) but is a map-only
    // projection over the parquet scan — recomputing beats pinning
    // (the q_quality_calibrated shape).
    val scored = train0.withColumn("q", TextAnalysis.qualityExpr)
    val cut1 = scored.agg(
      expr("percentile_approx(q, 0.2, 2147483647)").as("cutoff1"))
    val s1 = scored.crossJoin(broadcast(cut1))
      .filter(col("q") >= col("cutoff1"))
      .select(col("doc_id"), col("source"), col("text"))
      .localCheckpoint()

    // stage 2: LM perplexity filter, scored ONCE on stage-1 survivors.
    // Docs with <2 tokens carry no bigrams and drop here (they cannot
    // be scored; the conservative choice, same as q_perplexity_filter's
    // scope rule).
    val nll = TextAnalysis.lmNllOf(s1,
      occAgg.getOrElse(TextAnalysis.lmOccAggregate(s, d)))
      .localCheckpoint()
    val cut2 = nll.agg(
      expr("percentile_approx(avg_nll, 0.9, 2147483647)").as("cutoff2"))
    val keep2 = nll.crossJoin(broadcast(cut2))
      .filter(col("avg_nll") <= col("cutoff2"))
      .select(col("doc_id"))
    val s2 = s1.join(keep2, Seq("doc_id"))

    // stage 3: exact-dedup keep (min doc_id per md5 fingerprint — the
    // q_dedup_keep window; 40-byte shuffle rows, never text)
    val w3 = org.apache.spark.sql.expressions.Window
      .partitionBy("fingerprint")
    val s3 = s2
      .withColumn("fingerprint", md5(lower(col("text")).cast("binary")))
      .withColumn("keeper", min("doc_id").over(w3))
      .filter(col("doc_id") === col("keeper"))
      .select(col("doc_id"), col("source"), col("text"))
      .localCheckpoint()

    // stage 4: decontamination against the UNFILTERED eval suite
    val contam = Dedup.contamination(
      Dedup.gramHashes(s3), Dedup.gramHashes(evalDocs))
      .select(col("train_id").as("doc_id")).distinct()
    val s4 = s3.join(contam, Seq("doc_id"), "left_anti")

    // stage 5: pack + deterministic split, both map/window over the
    // final survivors; one total presentation order (doc_id is unique)
    val packed = TextAnalysis.seqPack(s4)
      .withColumn("bucket", TextAnalysis.splitBucket)
      .select(col("doc_id"), col("shard"), col("n_tokens"), col("bin"),
        col("bin_offset"),
        when(col("bucket") < 90, "train")
          .when(col("bucket") < 95, "val")
          .otherwise("test").as("split"))
    Curated(nll, packed)
  }

  /** DSIR-style importance weights (Data Selection via Importance
    * Resampling): score every raw document by how target-like its
    * hashed-unigram distribution is — log p_target(doc) −
    * log p_raw(doc) under two add-one-smoothed bucketed unigram LMs —
    * and keep the top 20 %. The target domain here is the corpus's
    * own English slice (the in-corpus stand-in for "the downstream
    * domain"); `buckets` hashed word buckets make BOTH LMs fixed-size
    * regardless of corpus vocabulary — the property that keeps the
    * scorer a BROADCAST at 100 TB (the LM is `buckets` rows whatever
    * the vocab; a word-keyed LM would be vocab-sized and join-only).
    *
    * Shape at scale: ONE corpus scan explodes tokens and buckets them
    * map-side (md5 — the cross-engine-checkable stand-in for xxhash64,
    * the q_train_shuffle rule — so no shuffle ever moves a string);
    * the per-(doc, bucket) multiplicity aggregate combines map-side
    * and is pinned (it feeds the LM build AND the per-doc score —
    * the q_source_mix single-scan rule; its size is ≤ min(tokens,
    * docs × buckets) rows of four fixed-width columns). Both LMs come
    * from the SAME aggregate via conditional sums (no second corpus
    * pass for the target), totals ride a broadcast 1-row aggregate,
    * and the per-doc score is a broadcast join against the
    * `buckets`-row ratio table followed by one map-side-combining
    * groupBy(doc_id).
    *
    * Determinism discipline: per-bucket log-ratios are rounded to
    * 8 dp at the BUCKET level (killing any libm ULP before it can
    * spread), per-doc sums are exact DECIMAL Σ m·lr (the lmNll pinned
    * (20,8)×(12,0) product), and the keep cutoff is the rank-based
    * exact 80th percentile (an actual row value — the
    * q_quality_calibrated rule), so the keep set is exact across
    * engines. */
  def importanceWeights(s: SparkSession, d: String,
                        buckets: Int = 256): DataFrame =
    importanceWeightsOf(Tables.spreadSized(Tables.documents(s, d), 128L << 10, col("doc_id")),
      col("lang") === "en", buckets)

  /** The shared DSIR scorer: (doc_id, n_tokens, logw) per document —
    * logw engine-exact by construction (8dp bucket-level log-ratios,
    * DECIMAL m·lr sums). `pin` materializes the result for consumers
    * that scan it more than once (weights: cutoff + verdicts); the
    * Gumbel sample consumes it exactly once (one TakeOrdered pass —
    * the key projection and the top-k live in the same scan), so it
    * skips the materialization round-trip (r20 A/B, 5 interleaved
    * reps: 1.33 → 1.28 s min at sf0.1; at scale it skips an
    * n_docs-row write+read). */
  private[graft] def importanceScoresOf(docs: DataFrame, isTarget: Column,
                                        buckets: Int,
                                        pin: Boolean = true): DataFrame = {
    val bucket = conv(substring(md5(concat(col("w"), lit("#dsir42"))
      .cast("binary")), 1, 8), 16, 10).cast("bigint") % buckets
    val dbc = docs
      .select(col("doc_id"), isTarget.as("t"),
        explode(split(col("text"), " ")).as("w"))
      .select(col("doc_id"), col("t"), bucket.as("b"))
      .groupBy("doc_id", "t", "b").agg(count(lit(1)).as("m"))
      .localCheckpoint() // LM build + per-doc score (single-scan rule)
    val lm = dbc.groupBy("b").agg(
      sum(col("m")).as("cr"),
      sum(when(col("t"), col("m")).otherwise(0L)).as("ct"))
    val tot = lm.agg(sum(col("cr")).as("tr"), sum(col("ct")).as("tt"))
    val lr = lm.crossJoin(broadcast(tot))
      .select(col("b"), round(
        log((col("ct") + 1).cast("double") / (col("tt") + buckets)) -
          log((col("cr") + 1).cast("double") / (col("tr") + buckets)), 8)
        .as("lr8"))
    val out = dbc.join(broadcast(lr), Seq("b"))
      .groupBy("doc_id")
      .agg(sum(col("m")).cast("bigint").as("n_tokens"),
        GraftQuery.decSum(col("lr8").cast("decimal(20,8)") *
          col("m").cast("decimal(12,0)"), 28, 8).as("logw"))
    if (pin) out.localCheckpoint() else out
  }

  /** [[importanceWeights]] over an arbitrary docs frame (doc_id, text,
    * …) and target predicate — spec-testable on synthetic domains. */
  private[graft] def importanceWeightsOf(docs: DataFrame, isTarget: Column,
                                         buckets: Int): DataFrame = {
    val scored = importanceScoresOf(docs, isTarget, buckets)
    val cut = scored.agg(
      expr("percentile_approx(logw, 0.8, 2147483647)").as("cutoff"))
    // logw/cutoff present UNROUNDED: the value is already exactly
    // quantized at 1e-8 (a DECIMAL sum cast to double, identical in
    // both engines), and re-rounding a quantized value to a COARSER
    // scale in double puts ~1% of rows exactly on the half-way tie,
    // where Spark (shortest-string HALF_UP) and DuckDB (binary) can
    // break differently — the 32x gate measured 4 of 16000 rows
    // flipping at 6dp. Rounding raw transcendentals to 8dp is safe
    // (tie measure ~1e-8); re-rounding quantized sums is not (~1e-2).
    scored.crossJoin(broadcast(cut))
      .select(col("doc_id"), col("n_tokens"), col("logw"), col("cutoff"),
        (col("logw") >= col("cutoff")).as("keep"))
  }

  /** DSIR's resampling step: Gumbel-top-k over the importance weights —
    * a sample WITHOUT replacement distributed ∝ exp(logw) (the Gumbel-
    * max trick: adding an independent Gumbel(0,1) to each log-weight
    * and taking the k largest keys IS weighted sampling), with the
    * "randomness" a seeded hash uniform (the q_data_split md5 idiom:
    * u = (bucket + 0.5) / 2³², never 0 or 1), so the sample is
    * reproducible anywhere, stable under corpus growth for untouched
    * docs, and cross-engine checkable. The Gumbel term is pre-rounded
    * to 8 dp (the libm-ULP rule), the key an exact DECIMAL add of the
    * two 1e-8-quantized operands with a doc_id tiebreak (never a
    * double re-round — the half-way-tie rule). Top-k is orderBy + limit —
    * a TakeOrderedAndProject (per-partition heaps + driver merge of k
    * rows), never a global sort, at any corpus size. */
  def importanceSample(s: SparkSession, d: String, k: Int = 100,
                       buckets: Int = 256): DataFrame =
    importanceSampleOf(Tables.spreadSized(Tables.documents(s, d), 128L << 10, col("doc_id")),
      col("lang") === "en", k, buckets)

  private[graft] def importanceSampleOf(docs: DataFrame, isTarget: Column,
                                        k: Int, buckets: Int): DataFrame = {
    val scored = importanceScoresOf(docs, isTarget, buckets, pin = false)
    val u = (conv(substring(md5(concat(col("doc_id").cast("string"),
      lit("#gum42")).cast("binary")), 1, 8), 16, 10).cast("double") + 0.5) /
      4294967296.0
    // key = logw + gumbel, ADDED IN DECIMAL: both operands are exact
    // 1e-8 multiples (logw by construction, the gumbel by its 8dp
    // pre-round), so the decimal sum is exact and needs NO further
    // rounding — a double add + round(,6) would re-round quantized
    // values and hit the half-way-tie class (see importanceWeightsOf)
    scored
      .withColumn("gkey",
        (col("logw").cast("decimal(28,8)") +
          round(-log(-log(u)), 8).cast("decimal(28,8)")).cast("double"))
      .orderBy(desc("gkey"), asc("doc_id"))
      .limit(k)
      .select(col("doc_id"), col("n_tokens"), col("logw"), col("gkey"))
      .orderBy(desc("gkey"), asc("doc_id"))
  }

  val queries: Seq[GraftQuery] = Seq(
    GraftQuery(
      "q_pipeline_curate",
      "The composed curation pipeline as one query: calibrated quality " +
        "filter -> LM perplexity filter (scored once) -> exact-dedup " +
        "keep -> decontaminate vs the eval suite -> sequence-pack + " +
        "split. The DuckDB oracle recomputes the ENTIRE five-stage " +
        "chain (each stage's cutoff over that stage's survivors), so " +
        "stage composition — not just each stage alone — is " +
        "differentially hash-gated.",
      (s, d) => curate(s, d).packed.orderBy("doc_id"),
      Some(
        "WITH ev AS (SELECT doc_id, text FROM documents " +
          "WHERE doc_id % 41 = 0), " +
          "tr0 AS (SELECT doc_id, source, text FROM documents " +
          "WHERE doc_id % 41 <> 0), " +
          "scored AS (SELECT doc_id, source, text, " +
          TextAnalysis.QualitySql + " AS q FROM tr0), " +
          "cut1 AS (SELECT quantile_disc(q, 0.2) AS c1 FROM scored), " +
          "s1 AS (SELECT doc_id, source, text FROM scored CROSS JOIN " +
          "cut1 WHERE q >= c1), " +
          TextAnalysis.lmCteBody("s1") +
          ", perdoc AS (SELECT doc_id, " +
          "round(CAST(SUM(CAST(term AS DECIMAL(28,8))) AS DOUBLE) " +
          "/ count(*), 6) AS avg_nll FROM terms GROUP BY doc_id), " +
          "cut2 AS (SELECT quantile_disc(avg_nll, 0.9) AS c2 " +
          "FROM perdoc), " +
          "s2 AS (SELECT s1.doc_id, s1.source, s1.text FROM s1 " +
          "JOIN perdoc USING (doc_id) CROSS JOIN cut2 " +
          "WHERE avg_nll <= c2), " +
          "s3 AS (SELECT doc_id, source, text FROM (" +
          "SELECT doc_id, source, text, doc_id = min(doc_id) OVER (" +
          "PARTITION BY md5(lower(text))) AS keep FROM s2) WHERE keep), " +
          "tokt AS (SELECT doc_id, str_split(text, ' ') AS t FROM s3), " +
          "ngt AS (SELECT DISTINCT doc_id, unnest(" +
          "CASE WHEN len(t) >= 3 THEN " +
          "list_transform(generate_series(1, len(t)-2), " +
          "i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) " +
          "ELSE [] END) AS g FROM tokt), " +
          "toke AS (SELECT doc_id, str_split(text, ' ') AS t FROM ev), " +
          "nge AS (SELECT DISTINCT doc_id, unnest(" +
          "CASE WHEN len(t) >= 3 THEN " +
          "list_transform(generate_series(1, len(t)-2), " +
          "i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) " +
          "ELSE [] END) AS g FROM toke), " +
          "contam AS (SELECT tr.doc_id AS train_id FROM ngt tr " +
          "JOIN nge e USING (g) GROUP BY tr.doc_id, e.doc_id " +
          "HAVING count(*) >= 3), " +
          "s4 AS (SELECT doc_id, text FROM s3 WHERE doc_id NOT IN (" +
          "SELECT train_id FROM contam)), " +
          "packed AS (SELECT doc_id, " +
          "CAST(doc_id % 32 AS BIGINT) AS shard, " +
          "CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tokens, " +
          "COALESCE(SUM(CAST(len(str_split(text, ' ')) AS BIGINT)) " +
          "OVER (PARTITION BY doc_id % 32 ORDER BY doc_id " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) " +
          "AS cum_before FROM s4) " +
          "SELECT doc_id, shard, n_tokens, " +
          "CAST(cum_before // 512 AS BIGINT) AS bin, " +
          "CAST(cum_before % 512 AS BIGINT) AS bin_offset, " +
          "CASE WHEN bucket < 90 THEN 'train' WHEN bucket < 95 " +
          "THEN 'val' ELSE 'test' END AS split FROM (" +
          "SELECT *, CAST(('0x' || substr(md5(" +
          "CAST(doc_id AS VARCHAR) || '#split42'), 1, 8)) AS BIGINT) " +
          "% 100 AS bucket FROM packed) ORDER BY doc_id")),

    GraftQuery(
      "q_importance_weights",
      "DSIR-style importance reweighting: every raw document scored " +
        "by log p_target - log p_raw under two 256-bucket hashed-" +
        "unigram LMs (target = the corpus's English slice), keep = " +
        "the top 20% by weight (rank-based exact percentile cutoff). " +
        "Fixed-size LMs whatever the vocabulary — the scorer stays a " +
        "broadcast at 100 TB; one corpus scan, map-side md5 buckets " +
        "(no string ever shuffles), both LMs from ONE conditional " +
        "aggregate, per-doc sums exact DECIMAL m x 8dp-log-ratio so " +
        "the keep set is engine-exact.",
      (s, d) => importanceWeights(s, d).orderBy("doc_id"),
      Some(DsirCtes +
        ", cut AS (SELECT quantile_disc(logw, 0.8) AS cutoff FROM scored) " +
        "SELECT doc_id, n_tokens, logw, cutoff, logw >= cutoff AS keep " +
        "FROM scored, cut ORDER BY doc_id")),

    GraftQuery(
      "q_importance_sample",
      "DSIR's resampling step: Gumbel-top-100 over the importance " +
        "weights — weighted sampling without replacement, distributed " +
        "proportional to exp(logw), with the Gumbel noise a seeded " +
        "md5 uniform so the sample is reproducible anywhere and " +
        "cross-engine exact. Top-k is orderBy+limit (per-partition " +
        "heaps, never a global sort); the Gumbel term is 8dp-pre-" +
        "rounded and the key an exact DECIMAL add (no re-rounding of " +
        "quantized values — the half-way-tie rule) with a doc_id " +
        "tiebreak, so both engines pick identical rows in identical " +
        "order.",
      (s, d) => importanceSample(s, d),
      Some(DsirCtes + " " +
        "SELECT doc_id, n_tokens, logw, gkey FROM (" +
        "SELECT doc_id, n_tokens, logw, " +
        "CAST(CAST(logw AS DECIMAL(28,8)) + CAST(round(-ln(-ln(" +
        "(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || " +
        "'#gum42'), 1, 8)) AS BIGINT) + 0.5) / 4294967296)), 8) " +
        "AS DECIMAL(28,8)) AS DOUBLE) AS gkey FROM scored) " +
        "ORDER BY gkey DESC, doc_id LIMIT 100"))
  )

  /** The shared DSIR oracle CTE chain (through `scored(doc_id,
    * n_tokens, logw)`) — reused verbatim by q_importance_weights and
    * q_importance_sample so the two oracles can never drift apart.
    * (A def, not a val: `queries` initializes eagerly and a forward-
    * referenced val would be null.) */
  private def DsirCtes: String =
    "WITH tok AS (SELECT doc_id, lang = 'en' AS t, " +
      "CAST(('0x' || substr(md5(w || '#dsir42'), 1, 8)) AS BIGINT) " +
      "% 256 AS b FROM (SELECT doc_id, lang, " +
      "unnest(str_split(text, ' ')) AS w FROM documents)), " +
      "dbc AS (SELECT doc_id, t, b, count(*) AS m FROM tok " +
      "GROUP BY doc_id, t, b), " +
      "lm AS (SELECT b, SUM(m) AS cr, " +
      "SUM(CASE WHEN t THEN m ELSE 0 END) AS ct FROM dbc GROUP BY b), " +
      "tot AS (SELECT CAST(SUM(cr) AS BIGINT) AS tr, " +
      "CAST(SUM(ct) AS BIGINT) AS tt FROM lm), " +
      "lr AS (SELECT b, round(ln((ct+1) / (tt+256)) - " +
      "ln((cr+1) / (tr+256)), 8) AS lr8 FROM lm, tot), " +
      "scored AS (SELECT doc_id, CAST(SUM(m) AS BIGINT) AS n_tokens, " +
      "CAST(SUM(CAST(lr8 AS DECIMAL(20,8)) * " +
      "CAST(m AS DECIMAL(12,0))) AS DOUBLE) AS logw " +
      "FROM dbc JOIN lr USING (b) GROUP BY doc_id)"
}
