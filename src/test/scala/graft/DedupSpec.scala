package graft

import graft.operators.{Dedup, PersistedIndex}
import org.apache.spark.sql.functions._

/** Laws for the oracle-exempt dedup operators (SURVEY.md §5: non-SQL ops
  * get deterministic law-based tests instead of the DuckDB oracle). */
class DedupSpec extends SparkSuite {

  private def pairs(name: String): Set[(Long, Long)] =
    SparkEntry.queries(name)(spark, sf)
      .select("da", "db").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("minhash pairs have precision 1.0 against exact jaccard (tau=0.8)") {
    val exact = pairs("q_ngram_jaccard")
    val minhash = pairs("q_dedup_minhash")
    assert(minhash.subsetOf(exact),
      s"false positives: ${(minhash -- exact).take(5)}")
    // 16 bands x 4 rows at tau=0.8: collision prob per band ~0.41,
    // over 16 bands recall is ~1; assert a conservative floor.
    assert(exact.nonEmpty, "test data should contain planted near-dups")
    val recall = (exact & minhash).size.toDouble / exact.size
    assert(recall >= 0.9, s"minhash recall $recall < 0.9")
  }

  test("native shingle_hashes equals the HOF spec form, bit for bit") {
    // shingles() (transform/slice/concat_ws) is the documented spec;
    // ShingleHashes is its fused native replacement. Same distinct
    // hash SET per document over the real corpus. Caveat: the spec
    // form dedups shingle STRINGS before hashing while the native form
    // dedups the 64-bit hashes, so equality is only w.h.p. — an
    // in-document xxhash64 collision (~n²/2⁶⁵) would drop one element
    // from the native side. Acceptable: only set cardinalities flow
    // into Jaccard, and the corpus here is collision-free.
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val spec = docs
      .select(col("doc_id"), explode(Dedup.shingles(col("text"))).as("sh"))
      .select(col("doc_id"), xxhash64(col("sh")).as("s"))
    val native = Dedup.explodedShingles(docs)
    def grouped(df: org.apache.spark.sql.DataFrame) =
      df.collect().groupBy(_.getLong(0))
        .map { case (k, rs) => k -> rs.map(_.getLong(1)).toSet }
    assert(grouped(spec) == grouped(native))
  }

  test("shingle_hashes width parameter equals the HOF spec form") {
    // the width-parameterized native form (q_span_dup uses width 8)
    // against an independent transform/slice/concat_ws + xxhash64
    // formulation — same window count max(n-w+1, 1), same end clamp,
    // same distinct-hash semantics
    graft.functions.GraftFunctions.register(spark)
    val docs = spark.read.parquet(s"$sf/documents.parquet").limit(50)
    for (w <- Seq(1, 8)) {
      val toks = split(col("text"), " ")
      val nSh = greatest(size(toks) - (w - 1), lit(1))
      val spec = docs.select(col("doc_id"),
        explode(array_distinct(transform(sequence(lit(0), nSh - 1),
          i => xxhash64(concat_ws(" ", slice(toks, i + 1, lit(w)))))))
          .as("s"))
      val native = docs.select(col("doc_id"),
        explode(call_function("shingle_hashes", toks, lit(w))).as("s"))
      def grouped(df: org.apache.spark.sql.DataFrame) =
        df.collect().groupBy(_.getLong(0))
          .map { case (k, rs) => k -> rs.map(_.getLong(1)).toSet }
      assert(grouped(spec) == grouped(native), s"width $w diverged")
    }
  }

  test("static ShingleHashes.of equals the column form bit for bit") {
    // the streaming twins hash spans outside Catalyst via
    // ShingleHashes.of; same windows, separator, and seed as the
    // expression, pinned here on real corpus text
    graft.functions.GraftFunctions.register(spark)
    val docs = spark.read.parquet(s"$sf/documents.parquet").limit(50)
    for (w <- Seq(3, 8)) {
      val fromCol = docs.select(col("doc_id"),
        call_function("shingle_hashes", split(col("text"), " "), lit(w)))
        .collect()
        .map(r => r.getLong(0) -> r.getSeq[Long](1).toVector).toMap
      val fromFn = docs.select("doc_id", "text").collect()
        .map(r => r.getLong(0) ->
          graft.functions.ShingleHashes
            .of(r.getString(1).split(" ", -1), w).toVector).toMap
      assert(fromCol == fromFn, s"width $w diverged")
    }
  }

  test("native bigram_hashes equals the HOF spec form, pairs in order") {
    // q_ngram_lm's per-row loop vs the interpreted
    // transform/sequence/xxhash64 chain it replaces — same pairs, same
    // order, duplicates kept (each occurrence is an LM event)
    graft.functions.GraftFunctions.register(spark)
    val docs = spark.read.parquet(s"$sf/documents.parquet").limit(50)
    val tk = split(col("text"), " ")
    val spec = docs.select(col("doc_id"), explode(
      when(size(tk) >= 2, transform(sequence(lit(1), size(tk) - 1),
        i => struct(xxhash64(element_at(tk, i)).as("h1"),
          xxhash64(element_at(tk, i + 1)).as("h2"))))
        .otherwise(array().cast("array<struct<h1:bigint,h2:bigint>>")))
      .as("bg"))
    val native = docs.select(col("doc_id"),
      explode(call_function("bigram_hashes", tk)).as("bg"))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), col("bg.h1"), col("bg.h2")).collect()
        .groupBy(_.getLong(0))
        .map { case (k, rs) =>
          k -> rs.map(r => (r.getLong(1), r.getLong(2))).toVector }
    assert(pairs(spec) == pairs(native))
  }

  test("shingle_hashes rejects width < 1 at build") {
    // width 0 would silently produce n+1 hashes of the empty string
    // per doc (one "shingle" of zero tokens) instead of an error
    graft.functions.GraftFunctions.register(spark)
    val e = intercept[Exception] {
      spark.sql("SELECT shingle_hashes(array('a','b'), 0)").collect()
    }
    assert(e.getMessage.contains("width must be >= 1"),
      s"unexpected: ${e.getMessage}")
  }

  test("bigram_hashes tolerates null tokens like the HOF chain") {
    // xxhash64(NULL) = the seed (42): the chain this expression
    // replaced hashed null tokens to 42, not NPE — the native form
    // must keep that domain
    graft.functions.GraftFunctions.register(spark)
    val arr = array(lit("a"), lit(null).cast("string"), lit("b"))
    val native = spark.range(1)
      .select(explode(call_function("bigram_hashes", arr)).as("bg"))
      .select(col("bg.h1"), col("bg.h2")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toVector
    val spec = spark.range(1)
      .select(explode(transform(sequence(lit(1), lit(2)),
        i => struct(xxhash64(element_at(arr, i)).as("h1"),
          xxhash64(element_at(arr, i + 1)).as("h2")))).as("bg"))
      .select(col("bg.h1"), col("bg.h2")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toVector
    assert(native == spec)
    assert(native(0)._2 == 42L, "null token must hash to the seed")
  }

  test("ShingleHashes.of skips null tokens like concatWs") {
    // the expression's concatWs drops null parts (no separator);
    // StringBuilder.append(null) would emit the literal "null" and
    // silently diverge streaming from batch shingle sets
    graft.functions.GraftFunctions.register(spark)
    val arr = array(lit("a"), lit(null).cast("string"), lit("b"),
      lit("c"))
    for (w <- Seq(2, 3)) {
      val fromCol = spark.range(1)
        .select(call_function("shingle_hashes", arr, lit(w)))
        .head.getSeq[Long](0).toVector
      val fromFn = graft.functions.ShingleHashes
        .of(Array("a", null, "b", "c"), w).toVector
      assert(fromCol == fromFn, s"width $w diverged on null tokens")
    }
  }

  test("identical texts collide in every signature") {
    val sp = spark; import sp.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "a completely different document about spark query engines")
    ).toDF("doc_id", "text")

    val mh = Dedup.minhashCandidates(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mh.contains((1L, 2L)), "identical docs must be LSH candidates")

    val sig = docs.select(col("doc_id"), Dedup.simhash(col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sig(1L) == sig(2L), "identical docs must have equal simhash")
    assert(sig(1L) != sig(3L), "different docs should differ (w.h.p.)")
  }

  test("simhash pairs all satisfy the hamming bound") {
    val df = SparkEntry.queries("q_dedup_simhash")(spark, sf)
    val hams = df.select("hamming").collect().map(_.getLong(0))
    assert(hams.nonEmpty)
    assert(hams.forall(_ <= 3), "reported pairs must respect hamming <= 3")
  }

  test("jaccardPairs is symmetric-free and bounded") {
    val df = SparkEntry.queries("q_ngram_jaccard")(spark, sf)
    val rows = df.collect()
    assert(rows.forall(r => r.getLong(0) < r.getLong(1)), "da < db")
    assert(rows.forall { r =>
      val j = r.getDouble(2); j >= 0.8 && j <= 1.0
    })
  }

  test("fuzzy decontamination equals the all-pairs Jaccard graph " +
    "restricted to train-eval pairs") {
    val tau = 0.5
    val fuzzy = Dedup.fuzzyContamination(spark, sf, tau).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(fuzzy.nonEmpty, "fixture too weak: no cross-boundary pairs")
    // orientation law: train side never eval, eval side always eval
    assert(fuzzy.forall { case (t, e, _) => t % 41 != 0 && e % 41 == 0 })
    val all = Dedup.jaccardPairs(
        Tables.documents(spark, sf), tau).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val expected = all.collect {
      case (da, db, j) if (da % 41 == 0) != (db % 41 == 0) =>
        if (da % 41 == 0) (db, da, j) else (da, db, j)
    }.toSet
    assert(fuzzy == expected,
      s"fuzzy (${fuzzy.size}) != cross-restricted all-pairs " +
        s"(${expected.size})")
  }

  test("jaccardPairsM releases every graft block except its own result") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val (out, handle) = Dedup.jaccardPairsM(docs, 0.8)
    assert(out.count() > 0)
    // the shingle cache must be gone by return time; the only surviving
    // graft-owned persistence is the materialized result itself
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked == Set(handle.id),
      s"blocks leaked beyond the result handle: ${leaked - handle.id}")
    handle.unpersist(blocking = true)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty)
  }

  test("materialized() extracts the checkpoint handle from the " +
      "LogicalRDD plan shape (Spark-internal coupling pinned)") {
    // materialized() pattern-matches queryExecution.logical as
    // execution.LogicalRDD — an INTERNAL Spark plan shape with no
    // compile-time contract. A Spark upgrade that wraps or renames the
    // checkpoint relation would turn every dedup/CC query into a
    // runtime IllegalStateException; this law makes that upgrade break
    // in CI instead of at a scale rung (r20 advice). The handle must
    // also be the RDD whose unpersist releases the pinned blocks.
    val df = spark.range(100).toDF("doc_id")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val (out, handle) = Dedup.materialized(df)
    assert(out.count() == 100)
    assert(spark.sparkContext.getPersistentRDDs.contains(handle.id),
      "handle does not point at a persisted (checkpointed) RDD")
    handle.unpersist(blocking = true)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty,
      "unpersisting the handle did not release the checkpoint blocks")
  }

  test("exact dedup keeps one keeper per fingerprint") {
    val df = SparkEntry.queries("q_dedup_exact")(spark, sf)
    val total = df.agg(sum("n_copies")).collect().head.getLong(0)
    val docs = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(total == docs, "every document accounted for exactly once")
  }

  test("delta dedup equals full jaccard restricted to batch-touching pairs") {
    def triples(name: String): Set[(Long, Long, Double)] =
      SparkEntry.queries(name)(spark, sf)
        .select("da", "db", "jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val full = triples("q_ngram_jaccard")
    val expected = full.filter { case (a, b, _) => a % 5 == 4 || b % 5 == 4 }
    // the synthetic corpus must actually plant batch-touching dups, or
    // the law below is vacuous (11 such pairs at sf0.001 today)
    assert(expected.nonEmpty, "no batch-touching pairs in test corpus")
    assert(expected != full,
      "batch restriction is a no-op — the split predicate is broken")
    assert(triples("q_dedup_delta") == expected)
  }

  test("nfc_normalize composes combining marks; identity on normalized") {
    // the synthetic corpus is ASCII, so the oracle's nfc_normalize
    // differential can never exercise the composition path — plant it:
    // 'e' + COMBINING ACUTE must become precomposed U+00E9, and an
    // already-NFC string must round-trip unchanged (including the
    // changed=false flag q_text_normalize derives)
    val sp = spark; import sp.implicits._
    graft.functions.GraftFunctions.register(spark)
    val rows = Seq(
      (1L, "café au lait"),          // already NFC
      (2L, "café  au\tlait "),      // decomposed + messy ws
      (3L, "ASCII Only Text")
    ).toDF("doc_id", "text")
    val norm = trim(regexp_replace(
      lower(call_function("nfc_normalize", col("text"))), "\\s+", " "))
    val out = rows.select(col("doc_id"), norm.as("n"),
        (norm =!= col("text")).as("changed"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getBoolean(2)))
      .toSet
    assert(out == Set(
      (1L, "café au lait", false),
      (2L, "café au lait", true),    // composed to U+00E9
      (3L, "ascii only text", true)))
  }

  test("verifyJaccard prefilter branch equals the fused branch") {
    // the prefilter=true form is size-gated at PrefilterMinDocs, so
    // no sf0.001/sf0.01 gate ever takes it — this law is its ONLY
    // automated differential cover (round-13 review catch). Both
    // branches must agree pair-for-pair on real candidates.
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val sh = Dedup.explodedShingles(docs).cache()
    val cands = Dedup.minhashCandidates(docs)
    def rows(prefilter: Boolean) =
      Dedup.verifyJaccard(cands, sh, 0.8, prefilter)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
    val fused = rows(prefilter = false)
    val pre = rows(prefilter = true)
    sh.unpersist(blocking = true)
    assert(fused.nonEmpty, "no verified pairs — the law would be vacuous")
    assert(pre == fused)
  }

  test("shingle index is built once and reused while fresh") {
    val names = Dedup.ensureShingleIndex(spark, sf)
    def stamp(): Seq[(String, Long, Long)] = {
      val wh = spark.conf.get("spark.sql.warehouse.dir")
        .stripPrefix("file:")
      names.productIterator.toSeq.map(_.toString).flatMap { t =>
        val dir = new java.io.File(wh, t)
        assert(dir.isDirectory, s"missing index table dir $dir")
        // name + length + mtime: mtime alone can false-pass a rebuild
        // that lands in the same coarse-granularity tick
        dir.listFiles().toSeq.map(f =>
          (s"$t/${f.getName}", f.length, f.lastModified))
      }
    }
    val first = stamp()
    // a fresh index (same corpus, same count) must be REUSED — the
    // whole point of persisting it; a rebuild rewrites every file.
    // Clear the session memo first so the REAL freshness check runs,
    // then once more memoized (both paths must reuse).
    PersistedIndex.forgetMemo()
    assert(Dedup.ensureShingleIndex(spark, sf) == names)
    assert(stamp() == first, "fresh index was rebuilt by the check path")
    assert(Dedup.ensureShingleIndex(spark, sf) == names)
    assert(stamp() == first, "fresh index was rebuilt by the memo path")
  }

  // ---- incremental index maintenance (appendToShingleIndex) ----

  /** 30 distinct tokens in vocabulary group g; near-dup variant flips
    * the last token, leaving 3-gram Jaccard 27/29 ≈ 0.93 >= tau=0.8.
    * Distinct per-group vocabularies prevent accidental cross-pairs. */
  private def txt(g: Int, variant: Int = 0): String = {
    val toks = (1 to 30).map(i => s"g${g}w$i").toArray
    if (variant != 0) toks(29) = s"g${g}v$variant"
    toks.mkString(" ")
  }

  private def writeCorpus(dir: java.io.File,
                          docs: Seq[(Long, String)]): String = {
    val sp = spark; import sp.implicits._
    docs.toDF("doc_id", "text").coalesce(1).write
      .mode("overwrite")
      .parquet(new java.io.File(dir, "documents.parquet").toString)
    dir.toString
  }

  private def docsDf(docs: Seq[(Long, String)]) = {
    val sp = spark; import sp.implicits._
    docs.toDF("doc_id", "text")
  }

  private def probe(d: String, batch: Seq[(Long, String)])
      : Set[(Long, Long, Double)] = {
    val (frame, sh) = Dedup.deltaDedupOf(spark, d, docsDf(batch))
    val out = frame.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    sh.unpersist(blocking = true)
    out
  }

  // all ids chosen with id % 5 != 4 so the indexed slice is the whole
  // corpus file (isDeltaBatch filters % 5 == 4 out of the index)
  private lazy val idxCorpus = Seq(
    0L -> txt(0), 1L -> txt(1), 2L -> txt(2), 3L -> txt(3),
    5L -> txt(5), 6L -> txt(6))
  private lazy val idxB1 = Seq(
    100L -> txt(7),          // unique appended doc
    101L -> txt(0, 1))       // near-dup of corpus doc 0
  private lazy val idxB2 = Seq(
    200L -> txt(1, 1),       // near-dup of corpus doc 1
    201L -> txt(7, 1),       // near-dup of APPENDED doc 100
    202L -> txt(8),          // unique
    203L -> txt(8, 1))       // within-probe-batch near-dup of 202

  test("appendToShingleIndex: appended probe == rebuilt probe, " +
    "idempotent per batch id, and composition-invariant") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_appidx")
      .toFile
    val d1 = writeCorpus(new java.io.File(tmp, "d1"), idxCorpus)
    val d2 = writeCorpus(new java.io.File(tmp, "d2"), idxCorpus ++ idxB1)
    val d3 = writeCorpus(new java.io.File(tmp, "d3"), idxCorpus)
    Dedup.ensureShingleIndex(spark, d1)
    assert(Dedup.appendToShingleIndex(spark, d1, docsDf(idxB1), "day1"),
      "first append of day1 must apply")
    // replay (the Recalibrator idempotency rule): same id no-ops and
    // the probe result is unchanged by the attempt
    assert(!Dedup.appendToShingleIndex(spark, d1, docsDf(idxB1), "day1"),
      "replayed append of day1 must no-op")
    val rAppend = probe(d1, idxB2)
    // the comparator index is built in ONE pass over corpus ∪ B1
    val rRebuild = probe(d2, idxB2)
    assert(rAppend.nonEmpty, "no pairs — the law would be vacuous")
    assert(rAppend.exists { case (a, b, _) => a == 100L && b == 201L },
      "probe must find the pair against the APPENDED doc")
    assert(rAppend.exists { case (a, b, _) => a == 202L && b == 203L },
      "probe must find the within-batch pair")
    assert(rAppend == rRebuild,
      "appended-index probe diverges from rebuilt-index probe")
    // composition: appending B1 as two singleton batches == one batch
    Dedup.ensureShingleIndex(spark, d3)
    assert(Dedup.appendToShingleIndex(spark, d3,
      docsDf(idxB1.take(1)), "h1"))
    assert(Dedup.appendToShingleIndex(spark, d3,
      docsDf(idxB1.drop(1)), "h2"))
    assert(probe(d3, idxB2) == rAppend,
      "split append diverges from one-batch append")
  }

  test("compactShingleIndex folds df partials without changing probes") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_cmp").toFile
    val d = writeCorpus(new java.io.File(tmp, "d"), idxCorpus)
    Dedup.ensureShingleIndex(spark, d)
    // nothing to fold on a fresh index
    assert(!Dedup.compactShingleIndex(spark, d))
    assert(Dedup.appendToShingleIndex(spark, d, docsDf(idxB1), "day1"))
    val dfT = Dedup.ensureShingleIndex(spark, d)._3
    val rowsBefore = spark.table(dfT).count()
    val distinctS = spark.table(dfT).select("s").distinct().count()
    assert(rowsBefore > distinctS,
      "append must leave partial df rows or the test is vacuous")
    val before = probe(d, idxB2)
    assert(Dedup.compactShingleIndex(spark, d))
    assert(spark.table(dfT).count() == distinctS,
      "compaction must leave one row per shingle")
    assert(probe(d, idxB2) == before,
      "compaction changed probe results")
    // idempotent until the next append introduces new partials
    assert(!Dedup.compactShingleIndex(spark, d))
    assert(Dedup.appendToShingleIndex(spark, d,
      docsDf(Seq(300L -> txt(30))), "day2"))
    assert(probe(d, idxB2) == before,
      "post-compaction append broke the re-aggregation path")
    assert(Dedup.compactShingleIndex(spark, d),
      "new partials after compaction must be compactable")
    assert(probe(d, idxB2) == before)
  }

  test("maintainShingleIndex acts only when the layout symptom is present") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_mnts").toFile
    val d = writeCorpus(new java.io.File(tmp, "d"), idxCorpus)
    Dedup.ensureShingleIndex(spark, d)
    // fresh index: decided from the manifest alone
    val fresh = Dedup.maintainShingleIndex(spark, d)
    assert(fresh.action == "none" && !fresh.ran &&
      fresh.appliedBatches == 0, s"fresh: ${fresh.render}")
    assert(Dedup.appendToShingleIndex(spark, d, docsDf(idxB1), "day1"))
    // one append, threshold two: checked but left alone
    val under = Dedup.maintainShingleIndex(spark, d, compactAfter = 2)
    assert(under.action == "none" && !under.ran &&
      under.uncompactedBatches == 1, s"under: ${under.render}")
    assert(Dedup.appendToShingleIndex(spark, d,
      docsDf(Seq(300L -> txt(30))), "day2"))
    val before = probe(d, idxB2)
    // dryRun reports the due compaction without executing it
    val dry = Dedup.maintainShingleIndex(spark, d, compactAfter = 2,
      dryRun = true)
    assert(dry.action == "compact" && !dry.ran, s"dry: ${dry.render}")
    val dfT = Dedup.ensureShingleIndex(spark, d)._3
    assert(spark.table(dfT).count() >
      spark.table(dfT).select("s").distinct().count(),
      "dryRun must not fold df partials")
    val acted = Dedup.maintainShingleIndex(spark, d, compactAfter = 2)
    assert(acted.action == "compact" && acted.ran &&
      acted.uncompactedBatches == 2, s"acted: ${acted.render}")
    assert(spark.table(dfT).count() ==
      spark.table(dfT).select("s").distinct().count(),
      "the acted pass must have folded df partials")
    assert(probe(d, idxB2) == before, "maintenance changed probe results")
    // and the pass after an action is back to none
    val after = Dedup.maintainShingleIndex(spark, d, compactAfter = 2)
    assert(after.action == "none" && !after.ran &&
      after.appliedBatches == 2 && after.uncompactedBatches == 0,
      s"after: ${after.render}")
  }

  test("disjointness contract fails loudly on probe and append") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_disj")
      .toFile
    val d = writeCorpus(new java.io.File(tmp, "d"), idxCorpus)
    Dedup.ensureShingleIndex(spark, d)
    assert(Dedup.appendToShingleIndex(spark, d, docsDf(idxB1), "day1"))
    // probing a doc already in the BASE index throws before any work
    val e1 = intercept[IllegalArgumentException] {
      probe(d, Seq(0L -> txt(0), 900L -> txt(9)))
    }
    assert(e1.getMessage.contains("doc_id 0"))
    // an APPENDED doc is equally protected (it is in the sets table)
    val e2 = intercept[IllegalArgumentException] {
      probe(d, Seq(100L -> txt(7)))
    }
    assert(e2.getMessage.contains("doc_id 100"))
    // and append itself refuses an already-indexed id under a NEW
    // batch id (a replayed id no-ops instead — tested above)
    intercept[IllegalArgumentException] {
      Dedup.appendToShingleIndex(spark, d, docsDf(idxB1), "day2")
    }
  }

  test("shingle index rebuilds on content change with equal row count") {
    // the ADVICE hole: a corpus regen that preserves the slice row
    // count must NOT silently serve the stale index — the manifest
    // fingerprint forces a rebuild
    val tmp = java.nio.file.Files.createTempDirectory("graft_fp").toFile
    val dir = new java.io.File(tmp, "d")
    val d = writeCorpus(dir, idxCorpus)
    Dedup.ensureShingleIndex(spark, d)
    // probe finds the dup of doc 1 planted in the ORIGINAL corpus
    assert(probe(d, Seq(500L -> txt(1, 2))).nonEmpty)
    // regen: same ids, same count, doc 1's text replaced
    writeCorpus(dir, idxCorpus.map { case (id, t) =>
      if (id == 1L) id -> txt(40) else id -> t })
    PersistedIndex.forgetMemo()
    // stale index would still claim 500 ~ old doc 1; the rebuilt one
    // must not (and must find a dup of the NEW text instead)
    assert(probe(d, Seq(500L -> txt(1, 2))).isEmpty,
      "stale index served after an equal-count content change")
    assert(probe(d, Seq(501L -> txt(40, 1))).nonEmpty,
      "rebuilt index must cover the regenerated content")
  }

  private def shManifestPath(d: String): org.apache.hadoop.fs.Path = {
    val tag = (scala.util.hashing.MurmurHash3.stringHash(d).toLong
      & 0xffffffffL).toHexString
    graft.operators.IndexManifest.path(spark, "graft_shidx", tag)
  }

  test("partial-append crash repairs by refolding appended batches, " +
    "and refuses loudly when the batch store is gone") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_par").toFile
    val d = writeCorpus(new java.io.File(tmp, "d"), idxCorpus)
    val d2 = writeCorpus(new java.io.File(tmp, "d2"), idxCorpus ++ idxB1)
    Dedup.ensureShingleIndex(spark, d)
    assert(Dedup.appendToShingleIndex(spark, d, docsDf(idxB1), "day1"))
    val mp = shManifestPath(d)
    val withDay1 = graft.operators.IndexManifest.read(spark, mp).get._1
    val day2 = Seq(300L -> txt(31), 301L -> txt(0, 2))
    assert(Dedup.appendToShingleIndex(spark, d, docsDf(day2), "day2"))
    // simulate the crash window: day2's table rows landed but its
    // manifest update did not
    graft.operators.IndexManifest.writeText(spark, mp, withDay1)
    PersistedIndex.forgetMemo()
    // the repair must rebuild the base AND refold day1 from the batch
    // store — NOT silently rebuild from the corpus dir alone (day1 is
    // a stream-only arrival whose checkpoint committed; it would be
    // lost forever). day2's partial rows are wiped; its checkpoint
    // never committed, so it replays.
    val repaired = probe(d, idxB2)
    assert(repaired == probe(d2, idxB2),
      "repaired index diverges from a one-pass corpus ∪ day1 build")
    assert(repaired.exists { case (a, b, _) => a == 100L && b == 201L },
      "refolded day1 doc 100 must be probe-visible after the repair")
    // the replayed day2 applies cleanly onto the repaired index
    assert(Dedup.appendToShingleIndex(spark, d, docsDf(day2), "day2"),
      "day2 replay must re-apply after the repair wiped its rows")
    assert(probe(d, Seq(600L -> txt(31, 1))).exists(_._1 == 300L),
      "re-applied day2 must be probe-visible")
    // second crash window, but with the batch store destroyed: the
    // repair must refuse loudly instead of dropping arrivals
    val withDay12 = graft.operators.IndexManifest.read(spark, mp).get._1
    assert(Dedup.appendToShingleIndex(spark, d,
      docsDf(Seq(400L -> txt(32))), "day3"))
    graft.operators.IndexManifest.writeText(spark, mp, withDay12)
    val store = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"),
      "graft_shidx_batches_" +
        (scala.util.hashing.MurmurHash3.stringHash(d).toLong
          & 0xffffffffL).toHexString)
    store.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(store, true)
    PersistedIndex.forgetMemo()
    val e = intercept[IllegalStateException] { probe(d, idxB2) }
    assert(e.getMessage.contains("partial-append"),
      s"wrong failure mode: ${e.getMessage}")
  }

  test("replayed batch probes in excludeBatch mode and emits exactly " +
    "the original pairs") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_rep").toFile
    val d = writeCorpus(new java.io.File(tmp, "d"), idxCorpus)
    Dedup.ensureShingleIndex(spark, d)
    assert(!Dedup.isShingleBatchApplied(spark, d, "day1"))
    val original = probe(d, idxB1)
    assert(original.nonEmpty, "fixture must produce pairs")
    assert(Dedup.appendToShingleIndex(spark, d, docsDf(idxB1), "day1"))
    assert(Dedup.isShingleBatchApplied(spark, d, "day1"))
    // the replay view: batch anti-joined out of postings AND sets —
    // restores the pre-append index, so the emission is identical
    // (the df table DOES hold the batch's partial counts; only prefix
    // ORDER shifts, never the verified pair set)
    val (f, sh) = Dedup.deltaDedupOf(spark, d, docsDf(idxB1),
      checkDisjoint = false, excludeBatch = true)
    val replayed = f.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    sh.unpersist(blocking = true)
    assert(replayed == original,
      "replayed emission diverges from the original probe")
    // without the replay flag the guard still fires (wedge prevention
    // lives in the STREAM's manifest check, not in a weakened guard)
    intercept[IllegalArgumentException] { probe(d, idxB1) }
  }

  test("deltaDedup re-arms the disjointness guard once batches are " +
    "appended") {
    // the split-predicate justification for skipping the guard only
    // holds against the BASE build: an appended batch may contain the
    // delta slice itself, after which the unguarded probe would
    // silently corrupt pair multiplicities
    val tmp = java.nio.file.Files.createTempDirectory("graft_arm").toFile
    val d = writeCorpus(new java.io.File(tmp, "d"),
      idxCorpus ++ Seq(4L -> txt(40)))
    // base: guard off (disjoint by the split predicate), must not throw
    val (f1, sh1) = Dedup.deltaDedup(spark, d)
    f1.collect(); sh1.unpersist(blocking = true)
    // a caller folds the delta slice into the index — the append-side
    // guard checks against the INDEX (which excludes id 4), so this
    // is accepted
    assert(Dedup.appendToShingleIndex(spark, d,
      docsDf(Seq(4L -> txt(40))), "oops"))
    // now the split predicate no longer implies disjointness: the
    // guard must be back on and fail loudly
    val e = intercept[IllegalArgumentException] {
      Dedup.deltaDedup(spark, d)
    }
    assert(e.getMessage.contains("doc_id 4"), e.getMessage)
  }

  test("compaction folds postings/sets file layout back to one file " +
    "per bucket") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_lay").toFile
    val d = writeCorpus(new java.io.File(tmp, "d"), idxCorpus)
    val (postT, _, _) = Dedup.ensureShingleIndex(spark, d)
    def files(t: String): Map[Int, Int] = {
      val wh = spark.conf.get("spark.sql.warehouse.dir")
        .stripPrefix("file:")
      // bucketed file names carry the bucket id as _NNNNN after the
      // task prefix: part-<task>_<bucket>(.c<n>)?.snappy.parquet
      new java.io.File(wh, t).listFiles().toSeq
        .filter(_.getName.endsWith(".parquet"))
        .groupBy { f =>
          "_(\\d{5})".r.findFirstMatchIn(f.getName).get.group(1).toInt
        }.map { case (b, fs) => b -> fs.size }
    }
    val base = files(postT)
    assert(base.values.forall(_ == 1),
      s"base build must write one file per present bucket: $base")
    assert(Dedup.appendToShingleIndex(spark, d, docsDf(idxB1), "day1"))
    assert(Dedup.appendToShingleIndex(spark, d,
      docsDf(Seq(300L -> txt(31))), "day2"))
    val appended = files(postT)
    assert(appended.values.exists(_ > 1),
      s"appends must stack files per bucket or the test is vacuous")
    val before = probe(d, idxB2)
    assert(Dedup.compactShingleIndex(spark, d))
    val compacted = files(postT)
    assert(compacted.values.forall(_ == 1),
      s"compaction must restore one file per bucket: $compacted")
    assert(probe(d, idxB2) == before,
      "layout compaction changed probe results")
  }

  test("compactShingleIndex re-buckets an append-grown index; probes " +
    "unchanged; appends follow each table's actual spec") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_rbk").toFile
    val d = writeCorpus(new java.io.File(tmp, "d"), idxCorpus)
    val (postT, setsT, dfT) = Dedup.ensureShingleIndex(spark, d)
    def spec(t: String): Int =
      spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(t))
        .bucketSpec.get.numBuckets
    assert(Seq(postT, setsT, dfT).forall(spec(_) == 32))
    assert(Dedup.appendToShingleIndex(spark, d, docsDf(idxB1), "day1"))
    val before = probe(d, idxB2)
    assert(before.nonEmpty, "no pairs — re-bucket law would be vacuous")
    // explicit re-bucket (rebucketTo stands in for the >1M-row
    // Tables.indexBuckets threshold, unreachable at test scale)
    assert(Dedup.compactShingleIndex(spark, d, rebucketTo = Some(8)))
    assert(Seq(postT, setsT, dfT).forall(spec(_) == 8),
      "re-bucket must move all three tables together")
    assert(probe(d, idxB2) == before, "re-bucket changed probe results")
    // appends pick the new spec up (manifest and tables agree)
    assert(Dedup.appendToShingleIndex(spark, d,
      docsDf(Seq(300L -> txt(31))), "day2"))
    assert(probe(d, idxB2) == before)
    // mixed-spec crash window: one table rewritten ahead of the others
    // (a crash between a re-bucketing compact's per-table renames) —
    // appends must follow each table's ACTUAL spec, not the manifest,
    // or the ingest wedges until the compact converges
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val tmpT = dfT + "_x"
    spark.sql(s"DROP TABLE IF EXISTS $tmpT")
    spark.read
      .parquet(new org.apache.hadoop.fs.Path(wh, dfT).toString)
      .repartition(16, org.apache.spark.sql.functions.col("s"))
      .write.bucketBy(16, "s").sortBy("s")
      .format("parquet").saveAsTable(tmpT)
    spark.sql(s"DROP TABLE $dfT")
    val dfLoc = new org.apache.hadoop.fs.Path(wh, dfT)
    val fs = dfLoc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(dfLoc)) fs.delete(dfLoc, true)
    spark.sql(s"ALTER TABLE $tmpT RENAME TO $dfT")
    assert(spec(dfT) == 16 && spec(postT) == 8)
    assert(Dedup.appendToShingleIndex(spark, d,
      docsDf(Seq(301L -> txt(32))), "day3"),
      "append must survive a mixed-spec window")
    assert(probe(d, idxB2) == before,
      "mixed-spec probe diverged (joins must stay correct, if slower)")
    // the sizing compact converges every table and the manifest
    // (target 32 != the manifest's recorded 8)
    assert(Dedup.compactShingleIndex(spark, d))
    assert(Seq(postT, setsT, dfT).forall(spec(_) == 32),
      "compact must converge mixed specs to the sized bucket count")
    assert(!Dedup.compactShingleIndex(spark, d),
      "idempotent once converged and folded")
    assert(probe(d, idxB2) == before)
  }

  test("bloom filter: no false negatives, bounded false-positive rate, " +
    "and the codegen'd expression equals the driver-side test") {
    import graft.functions.BloomLongs
    val members = Array.tabulate(10000)(i =>
      graft.functions.LshPlanes.splitmix64(i.toLong * 7919L + 13L))
    val (bits, k) = BloomLongs.build(members)
    assert(members.forall(BloomLongs.mightContain(bits, k, _)),
      "a bloom filter must never reject a member")
    val nonMembers = Array.tabulate(20000)(i =>
      graft.functions.LshPlanes.splitmix64(-1L - i.toLong))
      .filterNot(members.contains)
    val fp = nonMembers.count(BloomLongs.mightContain(bits, k, _))
    val rate = fp.toDouble / nonMembers.length
    assert(rate < 0.03, s"fp rate $rate >= 0.03 at 10 bits/key (k=$k)")
    // the codegen'd expression path (a DataFrame filter) must agree
    // with the driver-side helper hash for hash — the doGenCode
    // fragment's differential cover
    val sp = spark; import sp.implicits._
    val all = members.take(500) ++ nonMembers.take(2000)
    val bloomB = spark.sparkContext.broadcast((bits, k))
    val viaExpr = all.toSeq.toDF("h")
      .filter(graft.functions.GraftFunctions
        .bloomMightContain(col("h"), bloomB))
      .collect().map(_.getLong(0)).toSet
    val viaHelper = all.filter(BloomLongs.mightContain(bits, k, _)).toSet
    assert(viaExpr == viaHelper,
      "codegen'd bloom_might_contain diverged from BloomLongs")
  }

  test("q_decontaminate_bloom equals the exact operator row for row") {
    def rows(n: String) = SparkEntry.queries(n)(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val exact = rows("q_decontaminate")
    assert(exact.nonEmpty, "fixture too weak: no contamination found")
    assert(rows("q_decontaminate_bloom") == exact,
      "bloom-prefiltered decontamination must be results-invisible")
  }
}
