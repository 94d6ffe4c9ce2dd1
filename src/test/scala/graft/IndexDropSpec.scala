package graft

import graft.operators.{Dedup, Retrieval, Similarity}

/** `drop*Index` removes everything an index can leave in the catalog
  * and the warehouse — including the `<table>_c` staging tables a
  * compaction, IVF refresh or graph refine writes before its rename.
  * A crash between a staging write and its rename leaves such a
  * table behind; a drop that skipped it leaked both the catalog entry
  * and the warehouse directory past the drop. */
class IndexDropSpec extends SparkSuite {

  private def wh: String = spark.conf.get("spark.sql.warehouse.dir")

  private def dirExists(t: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(wh, t)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** The state a crash right after a staging write leaves. */
  private def leaveStaging(t: String): String = {
    val sp = spark; import sp.implicits._
    Seq(1L, 2L).toDF("x").write.format("parquet").saveAsTable(t + "_c")
    t + "_c"
  }

  private def assertGone(tables: Seq[String]): Unit = tables.foreach { t =>
    assert(!spark.catalog.tableExists(t), s"catalog entry $t survived the drop")
    assert(!dirExists(t), s"warehouse directory $t survived the drop")
  }

  private def tag(key: String): String =
    (scala.util.hashing.MurmurHash3.stringHash(key).toLong & 0xffffffffL)
      .toHexString

  test("dropping a text index removes its staging leftovers") {
    val sp = spark; import sp.implicits._
    val dir = new java.io.File(
      java.nio.file.Files.createTempDirectory("graft_drop_txt").toFile, "d")
    (0L until 8L).map(i => (i, (1 to 12).map(w => s"d${i}w$w").mkString(" ")))
      .toDF("doc_id", "text").coalesce(1).write
      .parquet(new java.io.File(dir, "documents.parquet").toString)
    val d = dir.toString
    val (post, sets, df) = Dedup.ensureShingleIndex(spark, d)
    val shStaged = Seq(post, sets, df).map(leaveStaging)
    Dedup.dropShingleIndex(spark, d)
    assertGone(Seq(post, sets, df) ++ shStaged)
    val (lpost, dl) = Retrieval.ensureLexIndex(spark, d)
    val lexStaged = Seq(lpost, dl).map(leaveStaging)
    Retrieval.dropLexIndex(spark, d)
    assertGone(Seq(lpost, dl) ++ lexStaged)
  }

  test("dropping the IVF and kNN graph indexes removes their staging " +
    "leftovers") {
    val sp = spark; import sp.implicits._
    val d = new java.io.File(
      java.nio.file.Files.createTempDirectory("graft_drop_vec").toFile,
      "d").toString
    (0L until 150L).map { i =>
      val r = new scala.util.Random(i)
      (i, Array.fill(64)(r.nextFloat() * 2 - 1))
    }.toDF("vec_id", "embedding").coalesce(1).write
      .parquet(s"$d/embeddings.parquet")
    val (et, rt) = Similarity.ensureKnnGraphIndex(spark, d, 3)
    val (at, ct) = Similarity.ensureIvfIndex(spark, d)
    val pq = s"graft_ivf_pq_${tag(d)}"
    assert(spark.catalog.tableExists(pq), s"unexpected sidecar name $pq")
    val graphStaged = Seq(et, rt).map(leaveStaging)
    val ivfStaged = Seq(at, ct, pq).map(leaveStaging)
    Similarity.dropKnnGraphIndex(spark, d, 3)
    assertGone(Seq(et, rt) ++ graphStaged)
    Similarity.dropIvfIndex(spark, d)
    assertGone(Seq(at, ct, pq) ++ ivfStaged)
  }
}
