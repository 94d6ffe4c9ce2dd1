package graft

import graft.operators.{IndexManifest, PersistedIndex, Retrieval}
import org.apache.spark.sql.functions._

/** Laws for the persisted lexical (BM25) index: indexed == inline,
  * append content-identity, replay idempotence, disjointness, layout
  * compaction, condition-driven maintenance, and partial-append crash
  * repair — the same contract surface the shingle/IVF indexes carry,
  * minus what the lexical index structurally lacks (frozen stats,
  * drift). */
class LexIndexSpec extends SparkSuite {

  /** Vocabulary: doc g carries 20 filler tokens unique to its group
    * plus a controlled number of probe terms, so BM25 scores are
    * hand-predictable in shape and term overlap across docs is
    * exactly what the fixture plants. */
  private def txt(g: Int, dups: Int = 0, queries: Int = 0): String = {
    val filler = (1 to 20).map(i => s"g${g}w$i")
    (filler ++ Seq.fill(dups)("dup") ++ Seq.fill(queries)("query"))
      .mkString(" ")
  }

  private val baseCorpus: Seq[(Long, String)] =
    (0 until 12).map { g =>
      g.toLong -> txt(g, dups = g % 3, queries = (g + 1) % 4)
    }
  private val b1: Seq[(Long, String)] =
    Seq(100L -> txt(50, dups = 2, queries = 1),
      101L -> txt(51, dups = 0, queries = 3))
  private val b2: Seq[(Long, String)] =
    Seq(200L -> txt(60, dups = 1, queries = 0),
      201L -> txt(61, dups = 3, queries = 2))

  private val Terms = Seq("dup", "query")

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

  private def probe(d: String): Map[Long, Double] =
    Retrieval.bm25IndexedScores(spark, d, Terms).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap

  private def lexManifestPath(d: String): org.apache.hadoop.fs.Path = {
    val tag = (scala.util.hashing.MurmurHash3.stringHash(d).toLong
      & 0xffffffffL).toHexString
    IndexManifest.path(spark, "graft_lexidx", tag)
  }

  test("indexed scores equal the inline recompute on the real corpus") {
    val inline = Retrieval.bm25Scores(spark, sf, Retrieval.QueryTerms)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val indexed = Retrieval
      .bm25IndexedScores(spark, sf, Retrieval.QueryTerms)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(indexed == inline,
      s"indexed/inline divergence: ${indexed.toSet.diff(inline.toSet)}")
  }

  test("append content-identity: appended index == one-shot over the " +
    "merged corpus, stats refresh immediately") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_lex1").toFile
    val d1 = writeCorpus(new java.io.File(tmp, "d1"), baseCorpus)
    val d2 = writeCorpus(new java.io.File(tmp, "d2"), baseCorpus ++ b1)
    Retrieval.ensureLexIndex(spark, d1)
    // populate the stats memo on the PRE-append generation, so this
    // test also proves the append invalidates it (stale n_docs/avgdl
    // would break the equality below)
    val pre = probe(d1)
    assert(pre.nonEmpty)
    assert(!Retrieval.isLexBatchApplied(spark, d1, "day1"))
    assert(Retrieval.appendToLexIndex(spark, d1, docsDf(b1), "day1"))
    assert(Retrieval.isLexBatchApplied(spark, d1, "day1"))
    val appended = probe(d1)
    assert(appended == probe(d2),
      "appended index diverges from a one-shot merged build")
    assert(appended.contains(101L), "appended doc must be probe-visible")
    assert(appended != pre,
      "corpus stats must reflect the appended docs (df/n_docs/avgdl)")
  }

  test("replayed batch id no-ops; new id with indexed docs fails loudly") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_lex2").toFile
    val d = writeCorpus(new java.io.File(tmp, "d"), baseCorpus)
    Retrieval.ensureLexIndex(spark, d)
    assert(Retrieval.appendToLexIndex(spark, d, docsDf(b1), "day1"))
    val before = probe(d)
    assert(!Retrieval.appendToLexIndex(spark, d, docsDf(b1), "day1"),
      "replayed batch id must no-op")
    assert(probe(d) == before, "replay changed the index")
    val e = intercept[IllegalArgumentException] {
      Retrieval.appendToLexIndex(spark, d, docsDf(b1), "day2")
    }
    assert(e.getMessage.contains("doc_id 10"), e.getMessage)
  }

  test("compaction folds the file layout, probes unchanged; maintain " +
    "triggers on the threshold and settles to none") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_lex3").toFile
    val d = writeCorpus(new java.io.File(tmp, "d"), baseCorpus)
    val (postT, _) = Retrieval.ensureLexIndex(spark, d)
    assert(Retrieval.appendToLexIndex(spark, d, docsDf(b1), "day1"))
    assert(Retrieval.appendToLexIndex(spark, d, docsDf(b2), "day2"))
    val before = probe(d)
    def files(t: String): Int = {
      val wh = spark.conf.get("spark.sql.warehouse.dir")
      val p = new org.apache.hadoop.fs.Path(wh, t)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(p).count(_.getPath.getName.endsWith(".parquet"))
    }
    val sprayed = files(postT)
    // below the threshold: maintenance measures and does nothing
    val none = Retrieval.maintainLexIndex(spark, d, compactAfter = 3)
    assert(none.action == "none" && !none.ran, none.render)
    // dryRun at the threshold: reports compact, does not act
    val dry = Retrieval.maintainLexIndex(spark, d, compactAfter = 2,
      dryRun = true)
    assert(dry.action == "compact" && !dry.ran, dry.render)
    assert(files(postT) == sprayed, "dryRun must not rewrite")
    // the acted pass folds the layout
    val act = Retrieval.maintainLexIndex(spark, d, compactAfter = 2)
    assert(act.action == "compact" && act.ran, act.render)
    assert(files(postT) < sprayed,
      s"compaction must fold files: $sprayed -> ${files(postT)}")
    assert(probe(d) == before, "compaction changed probe results")
    val after = Retrieval.maintainLexIndex(spark, d, compactAfter = 2)
    assert(after.action == "none" && !after.ran, after.render)
  }

  test("partial-append crash repairs by refolding from the batch " +
    "store, and refuses loudly when the store is gone") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_lex4").toFile
    val d = writeCorpus(new java.io.File(tmp, "d"), baseCorpus)
    val d2 = writeCorpus(new java.io.File(tmp, "d2"), baseCorpus ++ b1)
    Retrieval.ensureLexIndex(spark, d)
    assert(Retrieval.appendToLexIndex(spark, d, docsDf(b1), "day1"))
    val mp = lexManifestPath(d)
    val withDay1 = IndexManifest.read(spark, mp).get._1
    assert(Retrieval.appendToLexIndex(spark, d, docsDf(b2), "day2"))
    // crash window: day2's table rows landed, manifest update did not
    IndexManifest.writeText(spark, mp, withDay1)
    PersistedIndex.forgetMemo()
    // repair must rebuild the base AND refold day1 from the store —
    // day1 is a stream-only arrival whose checkpoint committed
    val repaired = probe(d)
    assert(repaired == probe(d2),
      "repaired index diverges from a one-pass corpus ∪ day1 build")
    // the replayed day2 applies cleanly onto the repaired index
    assert(Retrieval.appendToLexIndex(spark, d, docsDf(b2), "day2"),
      "day2 replay must re-apply after the repair wiped its rows")
    assert(probe(d).contains(201L))
    // second crash window with the batch store destroyed: loud refusal
    val withDay12 = IndexManifest.read(spark, mp).get._1
    assert(Retrieval.appendToLexIndex(spark, d,
      docsDf(Seq(300L -> txt(70, dups = 1))), "day3"))
    IndexManifest.writeText(spark, mp, withDay12)
    val store = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"),
      "graft_lexidx_batches_" +
        (scala.util.hashing.MurmurHash3.stringHash(d).toLong
          & 0xffffffffL).toHexString)
    store.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(store, true)
    PersistedIndex.forgetMemo()
    val e = intercept[IllegalStateException] { probe(d) }
    assert(e.getMessage.contains("partial-append"), e.getMessage)
  }

  test("standing-query batch scoring: hand-pinned formula, df=0 path, " +
    "and replay view == original emission") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_lex6").toFile
    val d = writeCorpus(new java.io.File(tmp, "d"), baseCorpus)
    Retrieval.ensureLexIndex(spark, d)
    // g51w1 is vocabulary unique to doc 101 — absent from the base
    // corpus, so its df over the index is 0 (maximal idf, no special
    // case)
    val terms = Seq("dup", "query", "g51w1")
    val original = Retrieval.bm25BatchScores(spark, d, docsDf(b1), terms)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(original.keySet == Set(100L, 101L))
    // hand-computed BM25 for doc 100 (dl=23: 20 filler + 2 dup +
    // 1 query) against the base corpus stats: n=12 docs, sum_dl=270
    // (20 + g%3 + (g+1)%4 summed over g=0..11), avgdl=22.5;
    // df(dup)=8 (g%3>0), df(query)=9 ((g+1)%4>0)
    def term(tf: Double, df: Double): Double = {
      val idf = math.log((12 - df + 0.5) / (df + 0.5) + 1.0)
      val lenNorm = 1.0 - 0.75 + 0.75 * 23.0 / 22.5
      idf * (tf * 2.2) / (tf + 1.2 * lenNorm)
    }
    val expected100 = term(2, 8) + term(1, 9)
    assert(math.abs(original(100L) - expected100) < 2e-6,
      s"formula drift: got ${original(100L)}, hand-computed $expected100")
    // the replay view: after the append, excludeBatch must restore
    // the pre-append emission bit-for-bit (manifest-generation stats
    // minus the batch's own exact-long contribution; df anti-joined)
    assert(Retrieval.appendToLexIndex(spark, d, docsDf(b1), "day1"))
    val replayed = Retrieval
      .bm25BatchScores(spark, d, docsDf(b1), terms, excludeBatch = true)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(replayed == original,
      s"replay view diverged: $replayed vs $original")
    // and WITHOUT the exclusion the view is genuinely different (the
    // batch's own rows now contribute df / n / avgdl) — the naive
    // replay would have emitted corrupted scores
    val naive = Retrieval.bm25BatchScores(spark, d, docsDf(b1), terms)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(naive != original,
      "fixture too weak: naive replay indistinguishable from original")
  }

  test("equal-count content regen forces a rebuild (fingerprint)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_lex5").toFile
    val dir = new java.io.File(tmp, "d")
    val d = writeCorpus(dir, baseCorpus)
    Retrieval.ensureLexIndex(spark, d)
    val before = probe(d)
    // regen: same ids, same count, doc 0 now carries 5 'dup' tokens
    writeCorpus(dir, baseCorpus.map { case (id, t) =>
      if (id == 0L) id -> txt(0, dups = 5) else id -> t })
    PersistedIndex.forgetMemo()
    val after = probe(d)
    assert(after != before,
      "stale index served after an equal-count content change")
    assert(after(0L) > before.getOrElse(0L, 0.0),
      "doc 0's score must rise with its new dup terms")
  }
}
