package graft.operators

import graft.{GraftQuery, Tables}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Lexical retrieval and hybrid rank fusion — the search face of a
  * corpus pipeline (decontamination lookups, RAG evaluation sets,
  * "find the documents that mention X" curation passes).
  *
  * BM25 (Robertson/Spärck Jones, the Okapi formulation) is pure
  * bounded-key relational algebra: two aggregates over the exploded
  * token frame (per-doc length, per-(doc, term) term frequency), a
  * broadcast of the |query-terms|-row document-frequency table and the
  * 1-row corpus stats, then a scoring join. At 100 TB the only
  * corpus-sized shuffles move 16-byte (doc_id, count) rows: the
  * query-term filter lands BEFORE the tf shuffle (only docs containing
  * a query term travel), and the doc-length aggregate is the same
  * (doc_id, count) shape the exact-dedup operator already proved out.
  *
  * Cross-engine determinism follows the q_tfidf precedent: BM25 needs
  * `ln`, and Java and DuckDB libm may differ in the last ulp, so the
  * ranking key is the 6dp-ROUNDED score with a total (score, doc_id)
  * tie-break — rounded equality ties break identically on both
  * engines, and a 1-ulp drift cannot move a 6dp rounding except on a
  * ~1e-16-wide knife edge. RRF, by contrast, is exact small-rational
  * arithmetic (1/(60+rank)), so it ranks UNROUNDED (the
  * q_cluster_assign rule) and rounds only the presented score.
  */
object Retrieval {

  /** Fixed query-term set: one rare discriminative term (`dup`,
    * df≈5% of docs in the synthetic corpus) plus two common ones, so
    * the idf spread actually exercises the formula. */
  val QueryTerms: Seq[String] = Seq("dup", "query", "vector")

  /** Okapi defaults. */
  val K1 = 1.2
  val B = 0.75

  /** RRF dampening constant (Cormack et al.'s k=60). */
  val RrfK = 60

  private def tokensOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
      .filter(length(col("t")) > 0)

  private def tokens(s: SparkSession, d: String): DataFrame =
    tokensOf(Tables.documents(s, d))

  /** The per-(doc, term) Okapi contribution — ONE expression shared by
    * the inline scorer and the indexed probe, so their sums are the
    * same arithmetic over the same values (the indexed-equals-inline
    * law is then about join plumbing, not float drift). Expects
    * columns `tf`, `df`, `dl`, `n_docs`, `avgdl`. */
  private def termScoreExpr: Column = {
    val idf =
      log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
    val lenNorm = lit(1.0) - lit(B) + lit(B) * col("dl") / col("avgdl")
    idf * (col("tf") * (K1 + 1.0)) / (col("tf") + lit(K1) * lenNorm)
  }

  /** BM25 score per document for `terms`, 6dp-rounded (the ranking
    * key — see the object doc). Only docs containing >=1 query term
    * appear. */
  def bm25Scores(s: SparkSession, d: String, terms: Seq[String]): DataFrame = {
    val toks = tokens(s, d)
    // per-doc length + the 1-row corpus stats derived from it; the
    // mean is an exact-integer sum over count (sum(long)/count), not
    // AVG-over-double, so partial-aggregation order cannot perturb it
    val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val stats = dl.agg(
      count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1)).cast("double"))
        .as("avgdl"))
    val tf = toks.filter(col("t").isin(terms: _*))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("tf"))
    // tf already has one row per (doc, term) — df is a count, not a
    // countDistinct
    val dfreq = tf.groupBy("t").agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfreq), "t")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .groupBy("doc_id")
      .agg(round(sum(termScoreExpr), 6).as("score"))
  }

  /** Shared DuckDB CTE prefix computing 6dp BM25 scores as `bm`. */
  private def bm25OracleCtes(terms: Seq[String]): String = {
    val inList = terms.map(t => s"'$t'").mkString(", ")
    "WITH tok AS (SELECT doc_id, unnest(str_split(text, ' ')) AS t " +
      "FROM documents), " +
      "tok2 AS (SELECT * FROM tok WHERE length(t) > 0), " +
      "dl AS (SELECT doc_id, count(*) AS dl FROM tok2 GROUP BY doc_id), " +
      "stats AS (SELECT count(*) AS n_docs, " +
      "CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl " +
      "FROM dl), " +
      s"tf AS (SELECT doc_id, t, count(*) AS tf FROM tok2 " +
      s"WHERE t IN ($inList) GROUP BY doc_id, t), " +
      "dfreq AS (SELECT t, count(*) AS df FROM tf GROUP BY t), " +
      "bm AS (SELECT tf.doc_id, round(sum(" +
      "ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) * (tf * 2.2) / " +
      "(tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))" +
      "), 6) AS score " +
      "FROM tf JOIN dfreq USING (t) JOIN dl ON tf.doc_id = dl.doc_id, " +
      "stats GROUP BY tf.doc_id)"
  }

  // ---------------------------------------------------------------
  // Persisted lexical (inverted) index — the incremental-maintenance
  // treatment the shingle and IVF indexes already have, applied to
  // the retrieval family. Re-tokenizing 100 TB per query is the
  // q_ngram_jaccard foil all over again: the inline q_bm25 runs two
  // corpus-sized aggregates per query, while a probe against this
  // index touches |query-terms| buckets of the postings table plus
  // the matched docs' doclen rows. Two bucketed catalog tables:
  //
  //  - postings (th, t, doc_id, tf), bucketed+sorted by th =
  //    xxhash64(term): a query's term filter is an IN on the bucket
  //    column, so the scan prunes to the terms' buckets and the
  //    row-group sort skips within them; the term STRING rides along
  //    so a 64-bit hash collision can never merge two terms' stats
  //    (equality re-checked after the hash match).
  //  - doclen (doc_id, dl), bucketed by doc_id: one row per corpus
  //    doc INCLUDING token-less ones (dl=0), so the table's row count
  //    reconciles exactly against baseRows + appended batches (the
  //    crash guard) while corpus stats filter dl > 0 to match the
  //    inline scorer's docs-with-tokens universe.
  //
  // Unlike the shingle index there are NO frozen stats: df, n_docs
  // and avgdl all derive from current table contents at probe time
  // (df over just the probed terms' rows; the 1-row corpus stats
  // memoized per manifest generation), so an appended index is
  // CONTENT-IDENTICAL to a one-shot build over the merged corpus and
  // every probe law transfers — the IVF refresh machinery has nothing
  // to maintain here. Maintenance is pure layout: appends add one
  // file per bucket, compaction folds them and re-buckets to the
  // grown corpus (Tables.indexBuckets).
  // ---------------------------------------------------------------

  /** The persisted lexical index of dir `d`: postings + doclen, all
    * names from one tag ([[PersistedIndex]]). */
  private def lexIndex(d: String): PersistedIndex.Spec =
    PersistedIndex.Spec("graft_lexidx", "lexical index", d,
      Seq("post" -> Some("th"), "dl" -> Some("doc_id")))

  /** (n_docs, sum_dl) per index GENERATION — keyed by the manifest
    * text, so any append (which rewrites the manifest) invalidates
    * it. Kept as EXACT longs so the replay view can subtract a
    * batch's own contribution bit-for-bit ([[bm25BatchScores]]); the
    * avgdl division happens at use. The doclen scan behind it is one
    * slim-column aggregate, but at corpus scale that is n rows per
    * query; per-generation memoization makes it once per ingest
    * cycle. */
  private val lexStatsMemo =
    new scala.collection.concurrent.TrieMap[String, (Long, Long)]()

  /** The two bucketed writes shared by build, append and refold.
    * `docs` is (doc_id, text); rows written to doclen == rows of
    * `docs` (dl=0 docs kept), the manifest reconciliation unit. */
  private def writeLexTables(s: SparkSession, names: (String, String),
                             docs: DataFrame, buckets: (Int, Int),
                             mode: SaveMode): Unit = {
    val (postT, dlT) = names
    val (postB, dlB) = buckets
    val toks = tokensOf(docs).cache()
    PersistedIndex.writeBucketed(s,
      toks.groupBy("doc_id", "t").agg(count(lit(1)).as("tf"))
        .withColumn("th", xxhash64(col("t")))
        .select("th", "t", "doc_id", "tf"), postT, "th", postB, mode)
    PersistedIndex.writeBucketed(s, docs.select("doc_id")
      .join(toks.groupBy("doc_id").agg(count(lit(1)).as("dl")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("dl"), lit(0L)).as("dl")),
      dlT, "doc_id", dlB, mode)
    toks.unpersist(blocking = false)
  }

  /** Persisted lexical index over dir `d`'s FULL documents table
    * (retrieval serves the whole corpus — there is no held-out delta
    * slice here). Freshness, staleness, partial-append repair and
    * memoization are [[PersistedIndex.ensure]]'s: manifest identity is
    * src + row count + xxhash64 content fingerprint; a partial append
    * (manifest base matches, doclen rows short of baseRows + batches)
    * rebuilds the base and REFOLDS manifest-listed batches from the
    * durable batch store, failing loudly if the store is gone. */
  def ensureLexIndex(s: SparkSession, d: String): (String, String) = {
    val ix = lexIndex(d)
    val names @ (_, dlT) = (ix.tables(0), ix.tables(1))
    if (PersistedIndex.isFresh(s, ix)) return names
    val corpus = Tables.documents(s, d)
    PersistedIndex.ensure(s, ix, {
      val n = corpus.count()
      IndexManifest.Manifest(d, n, Dedup.corpusFingerprint(corpus),
        Tables.indexBuckets(n), Nil)
    }, dlT, fresh = true) { m =>
      val buckets = m.buckets
      writeLexTables(s, names, corpus, (buckets, buckets), SaveMode.Overwrite)
      bdf => writeLexTables(s, names, bdf, (buckets, buckets),
        SaveMode.Append)
    }
    names
  }

  /** Has `batchId` already been folded in? The replay detector. */
  def isLexBatchApplied(s: SparkSession, d: String,
                        batchId: String): Boolean =
    PersistedIndex.isApplied(s, lexIndex(d), batchId)

  /** Fold a new batch of (doc_id, text) rows into the lexical index.
    * Idempotent per batchId; batch doc_ids must be disjoint from the
    * index (range-pruned loud guard); batch rows persist to the batch
    * store FIRST so every crash window repairs without data loss.
    * Cost tracks the batch, never the corpus. Because probe-time df /
    * n_docs / avgdl derive from table contents, the appended index is
    * content-identical to a one-shot build over the merged corpus —
    * scores update to the new corpus statistics immediately. */
  def appendToLexIndex(s: SparkSession, d: String, batch: DataFrame,
                       batchId: String): Boolean = {
    val ix = lexIndex(d)
    val names @ (postT, dlT) = (ix.tables(0), ix.tables(1))
    PersistedIndex.append(s, ix, batch, batchId, "doc_id",
      Seq("doc_id", "text"), dlT, () => ensureLexIndex(s, d)) { txt =>
      def b(t: String): Int =
        IndexManifest.appendBucketsOf(s, t, txt, s"lexical index $d")
      writeLexTables(s, names, batch.select("doc_id", "text"),
        (b(postT), b(dlT)), SaveMode.Append)
      batch.count()
    }
  }

  /** Fold the append-grown FILE layout back to one file per bucket
    * and re-bucket to the grown corpus size — the lexical index has
    * no mergeable stat rows (postings are per (doc, term), doclen per
    * doc), so compaction is pure layout + bucket-spec maintenance.
    * Probes are exactly unchanged. Staging + catalog RENAME
    * ([[PersistedIndex.rewrite]]); a crash mid-swap leaves a missing
    * table the next ensure rebuilds + refolds. */
  def compactLexIndex(s: SparkSession, d: String,
                      rebucketTo: Option[Int] = None): Boolean = {
    val (postT, dlT) = ensureLexIndex(s, d)
    PersistedIndex.compact(s, lexIndex(d), rebucketTo) { (_, _) => Seq(
      PersistedIndex.Staged(postT, PersistedIndex.files(s, postT), Some("th")),
      PersistedIndex.Staged(dlT, PersistedIndex.files(s, dlT), Some("doc_id")))
    }
  }

  /** Condition-driven maintenance ([[Dedup.maintainShingleIndex]]
    * posture): the lexical index has neither drift (stats live in the
    * tables) nor mergeable partials — the only symptoms are layout
    * (>= compactAfter uncompacted appended batches) and an outgrown
    * bucket spec, both cured by [[compactLexIndex]]. */
  def maintainLexIndex(s: SparkSession, d: String,
                       compactAfter: Int = Maintenance.DefaultCompactAfter,
                       dryRun: Boolean = false): MaintenanceReport = {
    ensureLexIndex(s, d)
    val l = PersistedIndex.layout(s, lexIndex(d))
    if (l.wantsCompact(compactAfter))
      l.report("lex", "compact", ran = !dryRun && compactLexIndex(s, d))
    else l.report("lex", "none", ran = false)
  }

  /** Drop the lexical index (tables, staging leftovers, manifest,
    * batch store, memos) — the cold-build measurement hook. */
  private[graft] def dropLexIndex(s: SparkSession, d: String): Unit = {
    PersistedIndex.drop(s, lexIndex(d))
    lexStatsMemo.clear()
  }

  /** xxhash64 of a term, driver-side — the same function the postings
    * writer applied, so probe hashes match stored bucket keys. */
  private def termHash(t: String): Long =
    new org.apache.spark.sql.catalyst.expressions.XxHash64(
      Seq(org.apache.spark.sql.catalyst.expressions.Literal(t)))
      .eval(null).asInstanceOf[Long]

  /** (n_docs, sum_dl) over docs with >= 1 token for the index's
    * current generation, memoized on the manifest text (any append
    * rewrites it → auto-invalidation). */
  private def lexStats(s: SparkSession, d: String, dlT: String)
      : (Long, Long) = {
    val gen = PersistedIndex.read(s, lexIndex(d)).map(_._1).getOrElse("")
    lexStatsMemo.getOrElseUpdate(
      s.sparkContext.applicationId + ":" + d + ":" + gen, {
        val r = s.table(dlT).filter(col("dl") > 0)
          .agg(count(lit(1)).as("n"), sum(col("dl")).as("sdl")).head
        (r.getLong(0), r.getLong(1))
      })
  }

  /** BM25 scores from the persisted index — same output contract as
    * [[bm25Scores]] (6dp-rounded score per doc containing >= 1 query
    * term), different cost shape: the postings scan is an IN on the
    * bucket column (bucket pruning + row-group sort skip → only the
    * query terms' buckets are read), df aggregates those few rows,
    * and only the MATCHED docs' rows shuffle to the doclen join. The
    * corpus-sized work left in the plan is the memoized 1-row stats
    * aggregate, paid once per index generation, not per query. */
  def bm25IndexedScores(s: SparkSession, d: String,
                        terms: Seq[String]): DataFrame = {
    val (postT, dlT) = ensureLexIndex(s, d)
    val (nDocs, sumDl) = lexStats(s, d, dlT)
    // same IEEE division of the same exact longs as the inline
    // scorer's sum/count — the indexed==inline law depends on it
    val avgdl = sumDl.toDouble / nDocs.toDouble
    val hashes = terms.map(termHash)
    val matched = s.table(postT)
      .filter(col("th").isin(hashes: _*) && col("t").isin(terms: _*))
      .select("doc_id", "t", "tf")
    val dfreq = matched.groupBy("t").agg(count(lit(1)).as("df"))
    matched.join(broadcast(dfreq), "t")
      .join(s.table(dlT), "doc_id")
      .withColumn("n_docs", lit(nDocs))
      .withColumn("avgdl", lit(avgdl))
      .groupBy("doc_id")
      .agg(round(sum(termScoreExpr), 6).as("score"))
  }

  /** Standing-query scoring of an ARRIVING batch against the index's
    * corpus statistics — the alerting face of retrieval ("which of
    * today's documents match the monitored query?"), the probe the
    * [[graft.streaming.CorpusStreams.searchIngestStream]] loop runs
    * before appending the batch. tf and dl come from the batch's own
    * tokens; df / n_docs / avgdl come from the INDEX (the
    * frozen-snapshot posture of the delta-dedup probe: the batch is
    * scored against the corpus as of its arrival). A query term the
    * corpus has never seen gets df = 0 — maximal idf, no special
    * case.
    *
    * `excludeBatch` is the replay view (the annStream/deltaDedupOf
    * rule): when a crashed-after-append batch replays, its own rows
    * are IN the index, so the probe anti-joins the batch's doc_ids
    * out of the df scan and subtracts the batch's own (n, sum_dl)
    * contribution from the memoized generation stats — all exact
    * long arithmetic, so the replayed emission equals the original
    * bit-for-bit (pinned in LexIndexSpec). */
  def bm25BatchScores(s: SparkSession, d: String, batch: DataFrame,
                      terms: Seq[String],
                      excludeBatch: Boolean = false): DataFrame = {
    val (postT, dlT) = ensureLexIndex(s, d)
    val hashes = terms.map(termHash)
    val bids =
      if (excludeBatch) Some(batch.select("doc_id").distinct()) else None
    def minusBatch(t: DataFrame): DataFrame =
      bids.fold(t)(ids => t.join(broadcast(ids), Seq("doc_id"), "left_anti"))
    val (nIdx, sumIdx) = lexStats(s, d, dlT)
    val btoks = tokensOf(batch)
    val (nDocs, sumDl) =
      if (!excludeBatch) (nIdx, sumIdx)
      else {
        // the batch's own stored contribution, recomputed from its
        // tokens (no table scan): docs with >= 1 token and their
        // total length — exactly what the append folded in
        val r = btoks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
          .agg(count(lit(1)).as("n"),
            coalesce(sum(col("dl")), lit(0L)).as("sdl")).head
        (nIdx - r.getLong(0), sumIdx - r.getLong(1))
      }
    val avgdl = sumDl.toDouble / nDocs.toDouble
    val btf = btoks.filter(col("t").isin(terms: _*))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("tf"))
    val bdl = btoks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val dfreq = minusBatch(
      s.table(postT)
        .filter(col("th").isin(hashes: _*) && col("t").isin(terms: _*))
        .select("doc_id", "t"))
      .groupBy("t").agg(count(lit(1)).as("df"))
    btf.join(broadcast(dfreq), Seq("t"), "left")
      .na.fill(0L, Seq("df"))
      .join(bdl, "doc_id")
      .withColumn("n_docs", lit(nDocs))
      .withColumn("avgdl", lit(avgdl))
      .groupBy("doc_id")
      .agg(round(sum(termScoreExpr), 6).as("score"))
  }

  /** Top-20 lexical ranking (doc_id, lrank) for the fixed query. */
  private def lexTop20(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // scores come from the PERSISTED lexical index, not the inline
    // scorer (r21): the hybrid ensemble is a production consumer, and
    // the inline form re-tokenizes the whole corpus per query — four
    // documents scans + two corpus aggregates in the fused plan —
    // while the indexed probe reads the query terms' postings buckets
    // (q_bm25 stays inline BY DECLARATION: it is the measured foil
    // for q_bm25_indexed). Identical rows: indexed == inline is
    // law-tested on the real corpus (LexIndexSpec) and both forms are
    // oracled, so the top-20 — and with it the fusion — cannot move.
    // orderBy+limit keeps the scored frame in TakeOrderedAndProject
    // (per-partition heaps, no global sort); the rank window then
    // runs over 20 rows only
    val top = bm25IndexedScores(s, d, QueryTerms)
      .orderBy(desc("score"), asc("doc_id")).limit(20)
    val w = Window.orderBy(desc("score"), asc("doc_id"))
    top.withColumn("lrank", row_number().over(w).cast("long"))
      .select("doc_id", "lrank")
  }

  /** Top-20 cosine ranking (doc_id, vrank) against the vec_id=0 probe
    * (doc ids and vector ids share the id space in the corpus). */
  private def vecTop20(s: SparkSession, d: String): DataFrame = {
    val probe = Similarity.querySide(
      Tables.embeddings(s, d).filter(col("vec_id") === 0))
    Similarity.bruteForceKnn(probe, Tables.embeddings(s, d), 20)
      .select(col("nid").as("doc_id"), col("rn").as("vrank"))
  }

  val queries: Seq[GraftQuery] = Seq(

    GraftQuery(
      "q_bm25",
      "Okapi BM25 top-10 for a fixed 3-term query (k1=1.2, b=0.75): " +
        "per-doc length and per-(doc, term) tf aggregates over the " +
        "exploded token frame, broadcast df + corpus stats into the " +
        "scoring join, TakeOrderedAndProject for the top-10. Ranks on " +
        "the 6dp-rounded score with a doc_id tie-break (the q_tfidf " +
        "libm rule).",
      (s, d) => bm25Scores(s, d, QueryTerms)
        .orderBy(desc("score"), asc("doc_id")).limit(10),
      Some(bm25OracleCtes(QueryTerms) +
        " SELECT doc_id, score FROM bm " +
        "ORDER BY score DESC, doc_id LIMIT 10")),

    GraftQuery(
      "q_bm25_indexed",
      "The same BM25 top-10, served from the persisted lexical " +
        "inverted index (bucketed postings keyed by term hash + " +
        "doclen; manifest-guarded, incrementally appendable, layout-" +
        "compacted): the probe reads only the query terms' buckets " +
        "and the matched docs' doclen rows — df/n_docs/avgdl derive " +
        "from current table contents, so scores equal the inline " +
        "q_bm25 bit-for-bit at any append state. Oracled against the " +
        "identical corpus-recompute SQL.",
      (s, d) => bm25IndexedScores(s, d, QueryTerms)
        .orderBy(desc("score"), asc("doc_id")).limit(10),
      Some(bm25OracleCtes(QueryTerms) +
        " SELECT doc_id, score FROM bm " +
        "ORDER BY score DESC, doc_id LIMIT 10")),

    GraftQuery(
      "q_hybrid_rrf",
      "Hybrid retrieval: reciprocal-rank fusion (k=60) of the BM25 " +
        "top-20 and the cosine top-20 for the vec_id=0 probe, full " +
        "outer on doc_id — the standard lexical+vector ensemble. Both " +
        "input rankings are deterministic (rounded-score keys, total " +
        "tie-breaks); the fusion score is exact rational arithmetic, " +
        "so it ranks UNROUNDED and rounds only the presented value.",
      (s, d) => {
        val fused = lexTop20(s, d)
          .join(vecTop20(s, d), Seq("doc_id"), "full_outer")
        val rrf = coalesce(lit(1.0) / (lit(RrfK) + col("lrank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(RrfK) + col("vrank")), lit(0.0))
        fused
          .withColumn("rrf_raw", rrf)
          .orderBy(desc("rrf_raw"), asc("doc_id"))
          .limit(10)
          .select(col("doc_id"), col("lrank"), col("vrank"),
            round(col("rrf_raw"), 6).as("rrf"))
      },
      Some(bm25OracleCtes(QueryTerms) + ", " +
        "lex AS (SELECT doc_id, lrank FROM (" +
        "SELECT doc_id, CAST(row_number() OVER (" +
        "ORDER BY score DESC, doc_id) AS BIGINT) AS lrank FROM bm) " +
        "WHERE lrank <= 20), " +
        "q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe " +
        "FROM embeddings WHERE vec_id = 0), " +
        "vec AS (SELECT doc_id, vrank FROM (" +
        "SELECT vec_id AS doc_id, CAST(row_number() OVER (ORDER BY " +
        "round(list_cosine_similarity(qe, CAST(embedding AS DOUBLE[])), 6) " +
        "DESC, vec_id) AS BIGINT) AS vrank " +
        "FROM embeddings, q WHERE vec_id <> 0) WHERE vrank <= 20) " +
        "SELECT doc_id, lrank, vrank, " +
        "round(coalesce(1.0 / (60 + lrank), 0) + " +
        "coalesce(1.0 / (60 + vrank), 0), 6) AS rrf " +
        "FROM lex FULL JOIN vec USING (doc_id) " +
        "ORDER BY (coalesce(1.0 / (60 + lrank), 0) + " +
        "coalesce(1.0 / (60 + vrank), 0)) DESC, doc_id LIMIT 10")))
}
