package graft

import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.CatalogTableType
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, PersistedIndex, Retrieval, Similarity}

/** Cross-JVM artifact re-attach laws (IndexManifest.reattachTables):
  * the default catalog is per-JVM but the warehouse directory
  * persists, so a fresh session must re-create catalog entries from
  * surviving files + bucket-spec markers instead of paying a full
  * rebuild — the reference's own artifact-replay economics
  * (RestoreProcessor.php:60-67 replays the existing archive, never
  * refetches). Per family: a detached-catalog ensure performs ZERO
  * builds (proved by the re-created entry being EXTERNAL — a rebuild
  * writes a MANAGED table) with probe results identical; a deleted
  * location still rebuilds (the manifest-last crash contract). */
class ReattachSpec extends SparkSuite {

  /** Simulate a JVM restart for one table: remove the catalog ENTRY
    * while leaving the warehouse files untouched. The in-memory
    * catalog deletes a MANAGED table's directory on drop, so the
    * entry is flipped to EXTERNAL first — after which dropTable is
    * exactly what a process exit does to the entry: it vanishes, the
    * files stay. */
  private def detach(table: String): Unit = {
    val cat = spark.sessionState.catalog.externalCatalog
    val meta = cat.getTable("default", table)
    cat.alterTable(meta.copy(tableType = CatalogTableType.EXTERNAL))
    cat.dropTable("default", table, ignoreIfNotExists = false,
      purge = false)
  }

  private def tableType(t: String): CatalogTableType =
    spark.sessionState.catalog.getTableMetadata(TableIdentifier(t))
      .tableType

  private def numBuckets(t: String): Int =
    spark.sessionState.catalog.getTableMetadata(TableIdentifier(t))
      .bucketSpec.map(_.numBuckets).getOrElse(0)

  private def deleteLocation(t: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), t)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(p), s"fixture bug: no files to delete under $p")
    fs.delete(p, true)
  }

  // ---- fixtures (the DedupSpec / SimilaritySpec shapes) ----

  private def txt(g: Int, variant: Int = 0): String = {
    val toks = (1 to 30).map(i => s"g${g}w$i").toArray
    if (variant != 0) toks(29) = s"g${g}v$variant"
    toks.mkString(" ")
  }

  private def writeCorpus(dir: java.io.File,
                          docs: Seq[(Long, String)]): String = {
    val sp = spark; import sp.implicits._
    docs.toDF("doc_id", "text").coalesce(1).write.mode("overwrite")
      .parquet(new java.io.File(dir, "documents.parquet").toString)
    dir.toString
  }

  private def docsDf(docs: Seq[(Long, String)]) = {
    val sp = spark; import sp.implicits._
    docs.toDF("doc_id", "text")
  }

  private def shingleProbe(d: String): Set[(Long, Long, Double)] = {
    val (frame, sh) = Dedup.deltaDedupOf(spark, d,
      docsDf(Seq(900L -> txt(1, 7), 901L -> txt(2))),
      checkDisjoint = false)
    val out = frame.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    sh.unpersist(blocking = true)
    out
  }

  private def vec(seed: Long): Array[Float] = {
    val r = new scala.util.Random(seed)
    Array.fill(64)(r.nextFloat() * 2 - 1)
  }

  private def writeVecs(dir: String, n: Long): Unit = {
    val sp = spark; import sp.implicits._
    (0L until n).map(i => (i, vec(i))).toDF("vec_id", "embedding")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
  }

  private def ivfProbeSet(d: String): Map[Long, Set[Long]] = {
    val sp = spark; import sp.implicits._
    val probes = (0L until 6L).map(i => (9000L + i, vec(i + 400L)))
      .toDF("vec_id", "embedding")
    Similarity.ivfProbe(spark, d, probes, 5)
      .select("qid", "nid").collect()
      .groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
  }

  private def forgetAllMemos(): Unit = {
    PersistedIndex.forgetMemo()
  }

  // ---- shingle index ----

  test("shingle index: detached catalog entries re-attach with zero " +
    "builds, identical probes, and the marker-recorded bucket spec") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_rat_sh")
    val d = writeCorpus(new java.io.File(tmp.toFile, "d"),
      Seq(1L -> txt(1), 2L -> txt(1, 1), 3L -> txt(2), 5L -> txt(3)))
    val names @ (postT, setsT, dfT) = Dedup.ensureShingleIndex(spark, d)
    val before = shingleProbe(d)
    assert(before.nonEmpty, "fixture must produce pairs")
    val specBefore = Seq(postT, setsT, dfT).map(numBuckets)
    assert(tableType(setsT) == CatalogTableType.MANAGED)
    Seq(postT, setsT, dfT).foreach(detach)
    forgetAllMemos()
    assert(Dedup.ensureShingleIndex(spark, d) == names)
    // EXTERNAL == the entry came from re-attach, not a rebuild (a
    // rebuild's saveAsTable creates MANAGED tables)
    Seq(postT, setsT, dfT).foreach { t =>
      assert(tableType(t) == CatalogTableType.EXTERNAL,
        s"$t was rebuilt instead of re-attached")
    }
    assert(Seq(postT, setsT, dfT).map(numBuckets) == specBefore,
      "re-attached bucket specs must match the written layout")
    assert(shingleProbe(d) == before,
      "re-attached probe diverges from the built index")
  }

  test("shingle index: a marker survives a re-bucketing compaction's " +
    "staging RENAME, and re-attach trusts the table's actual spec") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_rat_shc")
    val d = writeCorpus(new java.io.File(tmp.toFile, "d"),
      Seq(1L -> txt(1), 2L -> txt(1, 1), 3L -> txt(2), 5L -> txt(3)))
    val (postT, setsT, dfT) = Dedup.ensureShingleIndex(spark, d)
    val before = shingleProbe(d)
    assert(Dedup.compactShingleIndex(spark, d, rebucketTo = Some(4)))
    assert(numBuckets(postT) == 4, "fixture: compact must re-bucket")
    Seq(postT, setsT, dfT).foreach(detach)
    forgetAllMemos()
    Dedup.ensureShingleIndex(spark, d)
    Seq(postT, setsT, dfT).foreach { t =>
      assert(tableType(t) == CatalogTableType.EXTERNAL,
        s"$t was rebuilt instead of re-attached")
      assert(numBuckets(t) == 4,
        s"$t re-attached with a spec that disagrees with its files")
    }
    assert(shingleProbe(d) == before)
  }

  test("shingle index: a deleted location still rebuilds") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_rat_shd")
    val d = writeCorpus(new java.io.File(tmp.toFile, "d"),
      Seq(1L -> txt(1), 2L -> txt(1, 1), 3L -> txt(2)))
    val names @ (postT, setsT, dfT) = Dedup.ensureShingleIndex(spark, d)
    val before = shingleProbe(d)
    Seq(postT, setsT, dfT).foreach(detach)
    deleteLocation(setsT)
    forgetAllMemos()
    assert(Dedup.ensureShingleIndex(spark, d) == names)
    Seq(postT, setsT, dfT).foreach { t =>
      assert(tableType(t) == CatalogTableType.MANAGED,
        s"$t must come from a rebuild when any location is missing")
    }
    assert(shingleProbe(d) == before)
  }

  // ---- IVF index (+ centroid/PQ sidecars) and the kNN graph ----

  test("IVF + kNN graph: a detached catalog re-attaches the whole " +
    "stack with zero builds and identical probes/edges") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_rat_ivf")
    val d = new java.io.File(tmp.toFile, "d").toString
    writeVecs(d, 150L)
    val (at, ct) = Similarity.ensureIvfIndex(spark, d)
    val (et, rt) = Similarity.ensureKnnGraphIndex(spark, d, 3)
    val pqT = at.replace("assign", "pq")
    assert(spark.catalog.tableExists(pqT), s"fixture: $pqT must exist")
    val probeBefore = ivfProbeSet(d)
    val edgesBefore = spark.table(et)
      .select("src", "dst", "score").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val ringsBefore = spark.table(rt).count()
    Seq(at, ct, pqT, et, rt).foreach(detach)
    forgetAllMemos()
    assert(Similarity.ensureKnnGraphIndex(spark, d, 3) == ((et, rt)))
    Seq(at, ct, pqT, et, rt).foreach { t =>
      assert(tableType(t) == CatalogTableType.EXTERNAL,
        s"$t was rebuilt instead of re-attached")
    }
    assert(ivfProbeSet(d) == probeBefore,
      "re-attached IVF probe diverges")
    assert(spark.table(et).select("src", "dst", "score").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      == edgesBefore, "re-attached graph edges diverge")
    assert(spark.table(rt).count() == ringsBefore)
  }

  test("IVF index: a deleted assignment location still rebuilds") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_rat_ivfd")
    val d = new java.io.File(tmp.toFile, "d").toString
    writeVecs(d, 120L)
    val (at, ct) = Similarity.ensureIvfIndex(spark, d)
    val before = ivfProbeSet(d)
    Seq(at, ct).foreach(detach)
    deleteLocation(at)
    forgetAllMemos()
    Similarity.ensureIvfIndex(spark, d)
    assert(tableType(at) == CatalogTableType.MANAGED,
      "a missing location must trigger a rebuild")
    assert(ivfProbeSet(d) == before)
  }

  // ---- lexical (BM25) index ----

  test("lexical index: detached catalog entries re-attach with zero " +
    "builds and identical scores") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_rat_lex")
    val d = writeCorpus(new java.io.File(tmp.toFile, "d"),
      Seq(1L -> "alpha beta gamma", 2L -> "alpha alpha delta",
        3L -> "beta epsilon zeta", 4L -> "gamma gamma gamma alpha"))
    val (postT, dlT) = Retrieval.ensureLexIndex(spark, d)
    def scores(): Set[(Long, Double)] =
      Retrieval.bm25IndexedScores(spark, d, Seq("alpha", "gamma"))
        .select("doc_id", "score").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSet
    val before = scores()
    assert(before.nonEmpty)
    Seq(postT, dlT).foreach(detach)
    forgetAllMemos()
    assert(Retrieval.ensureLexIndex(spark, d) == ((postT, dlT)))
    Seq(postT, dlT).foreach { t =>
      assert(tableType(t) == CatalogTableType.EXTERNAL,
        s"$t was rebuilt instead of re-attached")
    }
    assert(scores() == before)
  }

  test("re-attach declines without a bucket marker (conservative: " +
    "the ensure rebuilds rather than guess a spec)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_rat_nm")
    val d = writeCorpus(new java.io.File(tmp.toFile, "d"),
      Seq(1L -> txt(1), 2L -> txt(1, 1), 3L -> txt(2)))
    val (postT, setsT, dfT) = Dedup.ensureShingleIndex(spark, d)
    val before = shingleProbe(d)
    Seq(postT, setsT, dfT).foreach(detach)
    // lose one marker (a crash between saveAsTable and markBuckets)
    val p = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"),
      s"$postT/_GRAFT_BUCKETS")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(p, false), "fixture: marker must exist")
    forgetAllMemos()
    Dedup.ensureShingleIndex(spark, d)
    assert(tableType(postT) == CatalogTableType.MANAGED,
      "an unmarked table must be rebuilt, never attached with a " +
        "guessed bucket spec")
    assert(shingleProbe(d) == before)
  }
}
