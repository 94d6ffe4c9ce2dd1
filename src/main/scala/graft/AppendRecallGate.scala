package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Quality gate for INCREMENTALLY-BUILT persisted indexes — closes the
  * r14 verdict's hole that RecallGate only ever measures a freshly
  * one-shot-built index, leaving the recall of a corpus where a large
  * fraction arrived via appendTo{Shingle,Ivf}Index (frozen centroids /
  * frozen df stats) without a floor.
  *
  * Construction, on a ScaleSmoke-replicated corpus dir:
  *  - a WORK dir holds a base slice of the corpus; the rest arrives
  *    through the append path in four batches, so the gated index is
  *    60/20-by-append (shingle) and 75/25-by-append (IVF) — the shape
  *    a year of daily ingest produces;
  *  - SHINGLE: probe the held-out delta slice (doc_id %% 5 == 4, the
  *    q_dedup_delta slice) against the appended index and against a
  *    one-shot index over the full dir. Law: EXACT PAIR EQUALITY —
  *    stronger than a recall floor; frozen df stats may reorder
  *    prefixes but can never change the verified tau>=0.8 pair set.
  *    (MinHash/LSH have no persisted index — they rebuild per query —
  *    so the sketch-recall floors stay with RecallGate.)
  *  - IVF: top-5 recall of ivfProbe over the appended index (centroids
  *    fit on the base 75%% only — the centroid-staleness case) against
  *    brute-force cosine over the FULL corpus, floor-gated; the
  *    one-shot index's recall is printed alongside so the staleness
  *    delta is measured, not guessed.
  *
  * Usage: runMain graft.AppendRecallGate <replicaDir> <ivfFloor> [workDir]
  * Prints one JSON line; exits 1 on violation.
  */
object AppendRecallGate {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: AppendRecallGate <replicaDir> <ivfFloor> [workDir]")
    val dir = args(0)
    val ivfFloor = args(1).toDouble
    val work = if (args.length > 2) args(2) else "/tmp/graft_append_gate"
    val spark = SparkEntry.localSession()
    functions.GraftFunctions.register(spark)

    // ---- shingle: appended-index probe == one-shot-index probe ----
    // work corpus = docs with id%4 != 3, excluding the %5==4 delta
    // slice (so ensure indexes the whole file); the id%4 == 3 docs
    // (minus delta) arrive via 4 append batches keyed by id%20 in
    // {3,7,11,15}; the delta slice is the shared probe.
    val docs = Tables.documents(spark, dir)
    docs.filter(col("doc_id") % 4 =!= 3 && col("doc_id") % 5 =!= 4)
      .write.mode("overwrite").parquet(s"$work/documents.parquet")
    val emb = Tables.embeddings(spark, dir)
    emb.filter(col("vec_id") % 4 =!= 3)
      .write.mode("overwrite").parquet(s"$work/embeddings.parquet")
    operators.Dedup.dropShingleIndex(spark, work)
    operators.Similarity.dropIvfIndex(spark, work)
    operators.Dedup.ensureShingleIndex(spark, work)
    val nBaseDocs = spark.read.parquet(s"$work/documents.parquet").count()
    Seq(3, 7, 11, 15).foreach { r =>
      require(operators.Dedup.appendToShingleIndex(spark, work,
        docs.filter(col("doc_id") % 20 === r), s"arrival_$r"),
        s"shingle append arrival_$r did not apply")
    }
    val delta = docs.filter(col("doc_id") % 5 === 4).localCheckpoint()
    def pairs(d: String, batch: DataFrame): Set[(Long, Long, Double)] = {
      val (f, sh) = operators.Dedup.deltaDedupOf(spark, d, batch)
      val out = f.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      sh.unpersist(blocking = false)
      out
    }
    val appendedPairs = pairs(work, delta)
    // comparator: the SAME probe against a one-shot index over the
    // full dir (this is q_dedup_delta's own index; scale_gate
    // hash-checks that path against DuckDB)
    val oneShotPairs = pairs(dir, delta)
    val shingleOk = appendedPairs == oneShotPairs

    // ---- IVF: appended-index recall vs brute force over the FULL
    // corpus, floor-gated; one-shot recall printed for the staleness
    // delta ----
    val nVecs = emb.count()
    def grouped(df: DataFrame): Map[Long, Set[Long]] =
      df.select("qid", "nid").collect()
        .groupBy(_.getLong(0)).map { case (q, rs) =>
          q -> rs.map(_.getLong(1)).toSet
        }
    val brute = grouped(SparkEntry.queries("q_knn_cosine")(spark, dir))
    require(brute.size == 10 && brute.values.forall(_.size == 5),
      s"brute-force baseline malformed: ${brute.size} probes")
    val probeVecs = emb.filter(col("vec_id") < 10).localCheckpoint()
    Seq(3, 7, 11, 15).foreach { r =>
      require(operators.Similarity.appendToIvfIndex(spark, work,
        emb.filter(col("vec_id") % 16 === r), s"arrival_$r"),
        s"IVF append arrival_$r did not apply")
    }
    def recallOf(d: String): Double = {
      val ann = grouped(
        operators.Similarity.ivfProbe(spark, d, probeVecs, 5))
      val rs = brute.map { case (q, bf) =>
        (bf & ann.getOrElse(q, Set.empty)).size.toDouble / bf.size
      }
      rs.sum / rs.size
    }
    val appendedRecall = recallOf(work)
    val oneShotRecall = recallOf(dir)

    println(f"""{"metric":"append_recall_gate","dir":"$dir","docs":${docs.count()},"base_docs":$nBaseDocs,"delta_pairs":${appendedPairs.size},"shingle_equal":$shingleOk,"vecs":$nVecs,"ivf_recall_appended":$appendedRecall%.3f,"ivf_recall_oneshot":$oneShotRecall%.3f,"ivf_floor":$ivfFloor}""")
    // leave the FULL dir's indexes clean (other gates reuse replicas);
    // the work dir is gate-owned
    operators.Dedup.dropShingleIndex(spark, dir)
    operators.Similarity.dropIvfIndex(spark, dir)
    spark.stop()
    if (!shingleOk) {
      System.err.println(
        s"APPEND RECALL GATE FAILED: appended-shingle-index probe " +
          s"diverges from the one-shot index (appended " +
          s"${appendedPairs.size} pairs, one-shot ${oneShotPairs.size}; " +
          s"diff ${(appendedPairs diff oneShotPairs).take(3)} / " +
          s"${(oneShotPairs diff appendedPairs).take(3)})")
      sys.exit(1)
    }
    if (appendedRecall < ivfFloor) {
      System.err.println(
        f"APPEND RECALL GATE FAILED: appended-IVF recall " +
          f"$appendedRecall%.3f < floor $ivfFloor (one-shot " +
          f"$oneShotRecall%.3f — the gap is the centroid-staleness " +
          "delta; re-center with a rebuild cadence)")
      sys.exit(1)
    }
  }
}
