package graft

import graft.operators.{Dedup, PersistedIndex, Retrieval, Similarity}
import org.apache.spark.sql.DataFrame

/** The crash matrix for the persisted-index lifecycle: for each index
  * family, run ensure -> append -> compact / refresh / refine, crash
  * after every filesystem or catalog mutation in turn (the
  * [[PersistedIndex.faultHook]]), then replay the same sequence from a
  * memo-less state — the stream/driver restart. The recovered probes
  * must equal the crash-free run; for the shingle and lexical indexes
  * that is also a one-shot build over the merged corpus (the
  * content-identity laws). A crash whose batch store is then lost must
  * refuse loudly instead of rebuilding from the corpus dir alone. */
class PersistedIndexCrashSpec extends SparkSuite {

  private final class Crash(at: String)
      extends RuntimeException(s"injected crash after $at")

  private def tmpDir(name: String): java.io.File =
    java.nio.file.Files.createTempDirectory(name).toFile

  /** Mutation steps `body` performs, in order. */
  private def stepsOf(body: => Unit): Seq[String] = {
    val seen = scala.collection.mutable.ArrayBuffer[String]()
    PersistedIndex.faultHook = Some(seen += _)
    try body finally PersistedIndex.faultHook = None
    seen.toSeq
  }

  /** Run `body`, crashing right after the first step `at` accepts. */
  private def crashWhere(at: (Int, String) => Boolean)(body: => Unit): Unit = {
    var n = 0
    PersistedIndex.faultHook = Some { what =>
      n += 1
      if (at(n, what)) throw new Crash(what)
    }
    try {
      body
      fail("the injected crash never fired")
    } catch { case _: Crash => () }
    finally PersistedIndex.faultHook = None
  }

  /** The matrix: `run(dir)` is the lifecycle sequence over a fresh
    * index in `dir`, `probe(dir)` what readers see, `drop(dir)` the
    * cleanup. Every step of the `family` prefix crashes in turn (a
    * derived index's sequence also mutates its source index, whose
    * own matrix covers those steps). Crash-free probes are returned
    * for the caller's own laws. */
  private def matrix[T](family: String, fresh: () => String,
                        run: String => Unit, probe: String => T,
                        drop: String => Unit): T = {
    val d0 = fresh()
    val all = stepsOf(run(d0))
    val expected = probe(d0)
    drop(d0)
    val mine = all.indices.filter(i => all(i).startsWith(family + " "))
    assert(mine.size > 5, s"$family: too few steps recorded: $all")
    mine.foreach { i =>
      val d = fresh()
      crashWhere((n, _) => n == i + 1)(run(d))
      PersistedIndex.forgetMemo() // a crash is a restart: no memo
      run(d)
      assert(probe(d) == expected,
        s"$family: crash after step ${i + 1} (${all(i)}) recovered " +
          "to a different index")
      drop(d)
    }
    expected
  }

  /** After `committed` appended a batch, a crash right after the
    * table fold of the next `crashing` batch, then the batch store
    * lost: the next ensure must refuse with the partial-append
    * message instead of dropping the committed batch. */
  private def assertLostStoreRefuses(family: String, ensure: () => Unit,
                                     committed: () => Unit,
                                     crashing: (String, () => Unit),
                                     store: String): Unit = {
    ensure()
    committed()
    crashWhere((_, what) => what.endsWith(s" fold ${crashing._1}"))(
      crashing._2())
    val p = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), store)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    PersistedIndex.forgetMemo()
    val e = intercept[IllegalStateException](ensure())
    assert(e.getMessage.contains("partial-append"),
      s"$family: wrong failure mode: ${e.getMessage}")
  }

  private def tag(key: String): String =
    (scala.util.hashing.MurmurHash3.stringHash(key).toLong & 0xffffffffL)
      .toHexString

  // ---- text fixtures (shingle + lexical) ----

  private def txt(g: Int, variant: Int = 0): String = {
    val toks = (1 to 30).map(i => s"g${g}w$i").toArray
    if (variant != 0) toks(29) = s"g${g}v$variant"
    toks.mkString(" ")
  }

  // ids with id % 5 != 4: the shingle index covers the whole file
  private val corpus = Seq(0L -> txt(0), 1L -> txt(1), 2L -> txt(2),
    3L -> txt(3), 5L -> txt(5), 6L -> txt(6, 1))
  private val day1 = Seq(100L -> txt(7), 101L -> txt(0, 1))
  private val day2 = Seq(300L -> txt(31))
  private val probeDocs = Seq(200L -> txt(1, 1), 201L -> txt(7, 1),
    202L -> txt(6, 2))

  private def docs(rows: Seq[(Long, String)]): DataFrame = {
    val sp = spark; import sp.implicits._
    rows.toDF("doc_id", "text")
  }

  private def writeDocs(rows: Seq[(Long, String)]): String = {
    val dir = new java.io.File(tmpDir("graft_crash_docs"), "d")
    docs(rows).coalesce(1).write
      .parquet(new java.io.File(dir, "documents.parquet").toString)
    dir.toString
  }

  private def dedupProbe(d: String): Set[(Long, Long, Double)] = {
    val (frame, sh) = Dedup.deltaDedupOf(spark, d, docs(probeDocs))
    val out = frame.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    sh.unpersist(blocking = true)
    out
  }

  private def bm25Probe(d: String): Map[Long, Double] =
    Retrieval.bm25IndexedScores(spark, d, Seq("g0v1", "g7w3", "g1w2"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  test("shingle index: every crash point of ensure -> append -> " +
    "re-bucketing compact recovers to the crash-free index, which is " +
    "the one-shot merged build") {
    val got = matrix("graft_shidx", () => writeDocs(corpus), { d =>
      Dedup.ensureShingleIndex(spark, d)
      Dedup.appendToShingleIndex(spark, d, docs(day1), "day1")
      Dedup.compactShingleIndex(spark, d, rebucketTo = Some(4))
    }, dedupProbe, Dedup.dropShingleIndex(spark, _))
    assert(got.exists(p => p._1 == 100L || p._2 == 100L),
      "appended day1 doc must be probe-visible — fixture vacuous")
    val merged = writeDocs(corpus ++ day1)
    assert(got == dedupProbe(merged),
      "crash-free appended index diverges from the one-shot merged build")
    Dedup.dropShingleIndex(spark, merged)
  }

  test("lexical index: every crash point of ensure -> append -> " +
    "re-bucketing compact recovers to the crash-free index, which is " +
    "the one-shot merged build") {
    val got = matrix("graft_lexidx", () => writeDocs(corpus), { d =>
      Retrieval.ensureLexIndex(spark, d)
      Retrieval.appendToLexIndex(spark, d, docs(day1), "day1")
      Retrieval.compactLexIndex(spark, d, rebucketTo = Some(4))
    }, bm25Probe, Retrieval.dropLexIndex(spark, _))
    assert(got.contains(101L), "appended day1 doc must score")
    val merged = writeDocs(corpus ++ day1)
    assert(got == bm25Probe(merged),
      "crash-free appended index diverges from the one-shot merged build")
    Retrieval.dropLexIndex(spark, merged)
  }

  test("shingle and lexical indexes: a partial append whose batch " +
    "store is lost refuses loudly") {
    val d = writeDocs(corpus)
    assertLostStoreRefuses("shingle", () => Dedup.ensureShingleIndex(spark, d),
      () => Dedup.appendToShingleIndex(spark, d, docs(day1), "day1"),
      "day2" -> (() => Dedup.appendToShingleIndex(spark, d, docs(day2), "day2")),
      s"graft_shidx_batches_${tag(d)}")
    assertLostStoreRefuses("lex", () => Retrieval.ensureLexIndex(spark, d),
      () => Retrieval.appendToLexIndex(spark, d, docs(day1), "day1"),
      "day2" -> (() => Retrieval.appendToLexIndex(spark, d, docs(day2), "day2")),
      s"graft_lexidx_batches_${tag(d)}")
    Dedup.dropShingleIndex(spark, d)
    Retrieval.dropLexIndex(spark, d)
  }

  // ---- vector fixtures (IVF + kNN graph) ----

  private def vec(seed: Long): Array[Float] = {
    val r = new scala.util.Random(seed)
    Array.fill(64)(r.nextFloat() * 2 - 1)
  }

  private def vecs(ids: Seq[(Long, Long)]): DataFrame = {
    val sp = spark; import sp.implicits._
    ids.map { case (id, seed) => (id, vec(seed)) }.toDF("vec_id", "embedding")
  }

  private def writeVecs(): String = {
    val dir = new java.io.File(tmpDir("graft_crash_vecs"), "d").toString
    vecs((0L until 150L).map(i => i -> i)).coalesce(1).write
      .parquet(s"$dir/embeddings.parquet")
    dir
  }

  // 1000 copies vector 3 (query 2000 must find it at cosine 1.0)
  private val vecBatch = Seq(1000L -> 3L, 1001L -> 9999L)
  private val vecBatch2 = Seq(1100L -> 777L)

  private def ivfProbe(d: String): (Seq[Seq[Any]], Set[(Long, Long)]) = {
    val (at, _) = Similarity.ensureIvfIndex(spark, d)
    (Similarity.ivfProbe(spark, d, vecs(Seq(2000L -> 3L, 2001L -> 42L)), 5)
      .orderBy("qid", "rn").collect().map(_.toSeq).toSeq,
      spark.table(at).select("cid", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet)
  }

  test("IVF index: every crash point of ensure -> append -> refresh " +
    "recovers to the crash-free index") {
    val (probe, rows) = matrix("graft_ivf", () => writeVecs(), { d =>
      Similarity.ensureIvfIndex(spark, d)
      Similarity.appendToIvfIndex(spark, d, vecs(vecBatch), "ann_0")
      Similarity.refreshIvfCentroids(spark, d)
    }, ivfProbe, Similarity.dropIvfIndex(spark, _))
    assert(rows.size == 152, s"base + batch rows expected, got ${rows.size}")
    assert(probe.exists(r => r(0) == 2000L && r(1) == 1000L &&
        r(2) == 1.0),
      "appended copy of vector 3 must be probe-visible — fixture vacuous")
  }

  test("IVF index: a partial append whose batch store is lost " +
    "refuses loudly") {
    val d = writeVecs()
    assertLostStoreRefuses("ivf", () => Similarity.ensureIvfIndex(spark, d),
      () => Similarity.appendToIvfIndex(spark, d, vecs(vecBatch), "ann_0"),
      "ann_1" -> (() =>
        Similarity.appendToIvfIndex(spark, d, vecs(vecBatch2), "ann_1")),
      s"graft_ivf_batches_${tag(d)}")
    Similarity.dropIvfIndex(spark, d)
  }

  test("kNN graph index: every crash point of ensure -> append -> " +
    "refine recovers to the crash-free graph") {
    def edges(d: String) = Similarity.graphEdges(spark, d, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSeq.sorted
    val got = matrix("graft_knng", () => writeVecs(), { d =>
      Similarity.ensureKnnGraphIndex(spark, d, 3)
      Similarity.appendToKnnGraphIndex(spark, d, 3, vecs(vecBatch), "g1")
      Similarity.refineKnnGraphIndex(spark, d, 3)
    }, edges, { d =>
      Similarity.dropKnnGraphIndex(spark, d, 3)
      Similarity.dropIvfIndex(spark, d)
    })
    assert(got.exists(e => e._1 == 3L && e._2 == 1000L && e._4 == 1L),
      "planted copy must sit at rank 1 of node 3 — fixture vacuous")
  }
}
