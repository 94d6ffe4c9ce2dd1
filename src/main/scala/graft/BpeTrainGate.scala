package graft

import org.apache.spark.sql.functions._

/** Scale gate for BPE TRAINING at realistic vocabulary size — the
  * r17 verdict's remaining `weak` mark: the per-step Spark trainer is
  * correct at any scale but pays K sequential Spark jobs (hours of
  * pure scheduler latency at a production K ≈ 32k), so
  * TextAnalysis.bpeMerges size-gates to an in-driver heap trainer
  * when the word-frequency table fits a stated bound (it is
  * vocabulary-sized by construction). This gate proves the driver
  * path at K = 32,000 REAL merges — trained, not inert-padded: the
  * synthetic corpus's text is deterministic (seeded RNG words,
  * Zipf-ish counts), every rule is learned from pair statistics, and
  * the natural corpus cannot serve here (its 31-word vocabulary
  * exhausts at ~105 merges — measured in BpeSpec).
  *
  * Three checks, all red-on-wrong:
  *  1. DEPTH — training reaches exactly K consecutive steps (the
  *     vocabulary's merge bound ~ sum of word lengths >> K);
  *  2. PREFIX — the first `foilK` rules equal the per-step Spark
  *     foil's run (step t depends only on steps < t, so the foil's
  *     feasible depth vouches for the deep run's shared prefix);
  *  3. REPLAY — the native encoder under the full trained table
  *     equals the rank-order training replay (one leftmost-greedy
  *     pass per rule — BpeSpec's refEncode law) on a deterministic
  *     word sample, which exercises all K ranks end-to-end.
  *
  * Reported economics: train_wall_s (driver) vs foil_wall_s for
  * foilK steps and the extrapolated foil wall at K — the measured
  * justification for the size gate.
  *
  * Usage: runMain graft.BpeTrainGate [k] [vocab] [foilK]
  * Prints one JSON line; exits 1 on any failed check.
  */
object BpeTrainGate {
  def main(args: Array[String]): Unit = {
    val k = if (args.length > 0) args(0).toInt else 32000
    val vocabN = if (args.length > 1) args(1).toInt else 80000
    val foilK = if (args.length > 2) args(2).toInt else 20
    val spark = SparkEntry.localSession()
    functions.GraftFunctions.register(spark)
    import spark.implicits._

    // Deterministic rich-vocabulary corpus: vocabN distinct seeded
    // words (4-12 lowercase letters), Zipf-ish counts (head word
    // ~100, tail 1) — one row per word, text = the word repeated
    // count times, so the trainer's own corpus pass derives the
    // frequencies. Merge-depth bound = sum of word lengths ~ 8x
    // vocabN, comfortably above k.
    val rnd = new scala.util.Random(42)
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < vocabN) {
      val len = 4 + rnd.nextInt(9)
      seen += Array.fill(len)(('a' + rnd.nextInt(26)).toChar).mkString
    }
    val vocab = seen.toArray
    def countOf(i: Int): Int = math.max(1, 50000 / (i + 500))
    val docs = vocab.zipWithIndex.map { case (w, i) =>
      (i.toLong, ((w + " ") * countOf(i)).trim)
    }.toSeq.toDF("doc_id", "text")
      .repartition(spark.conf.get("spark.sql.shuffle.partitions").toInt)
      .localCheckpoint()

    def trainedRules(df: org.apache.spark.sql.DataFrame, depth: Int) =
      operators.TextAnalysis.bpeMerges(df, depth).orderBy("step")
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getLong(3))).toSeq

    // 1-2: deep driver training + the Spark-foil prefix.
    // Heap accounting (r19 advice): the trainer's word table and
    // pair-count maps are METHOD LOCALS — a post-train System.gc()
    // frees exactly the structures the DriverBpeMaxVocab cap claims
    // to bound, so the old post-GC reading recorded retained heap,
    // not the training footprint. Reset the HEAP pools' peak-usage
    // watermarks before training and read the summed peaks after:
    // that is the JVM's own record of the maximum footprint while
    // the trainer's structures were live (pool peaks are not
    // simultaneous, so the sum is a tight upper estimate).
    import scala.jdk.CollectionConverters._
    val heapPools = java.lang.management.ManagementFactory
      .getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    System.gc() // settle pre-train garbage out of the peak baseline
    heapPools.foreach(_.resetPeakUsage())
    val t0 = System.nanoTime()
    val deep = trainedRules(docs, k)
    val trainWall = (System.nanoTime() - t0) / 1e9
    val heapMb = math.rint(
      heapPools.map(_.getPeakUsage.getUsed).sum / 1e6)
    val depthOk = deep.size == k && deep.map(_._1) == (1L to k.toLong)
    val oldGate = operators.TextAnalysis.DriverBpeMaxVocab
    operators.TextAnalysis.DriverBpeMaxVocab = 0L // force the foil
    val t1 = System.nanoTime()
    val foil = try trainedRules(docs, foilK)
      finally operators.TextAnalysis.DriverBpeMaxVocab = oldGate
    val foilWall = (System.nanoTime() - t1) / 1e9
    val prefixOk = deep.take(foilK) == foil
    val foilAtK = foilWall / foilK * k

    // 3: native encode == rank-order replay under the FULL table,
    // on a deterministic 200-word sample (cost ~ sample x k x len)
    val merges = deep.map(r => (r._2, r._3))
    val sample = vocab.zipWithIndex
      .filter { case (w, _) =>
        ((scala.util.hashing.MurmurHash3.stringHash(w) & 0x7fffffff)
          % (vocabN / 200)) == 0 }
      .take(200)
    def replay(w: String): Seq[String] = {
      var syms = w.split("").toVector :+ "</w>"
      merges.foreach { case (l, r) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        syms.foreach { x =>
          if (out.nonEmpty && out.last == l && x == r) {
            out.remove(out.length - 1); out += (l + r)
          } else out += x
        }
        syms = out.toVector
      }
      syms
    }
    val native = sample.map { case (w, i) => (i.toLong, w) }.toSeq
      .toDF("doc_id", "text")
      .select(col("doc_id"),
        functions.GraftFunctions.bpeTokens(col("text"), merges).as("tk"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSeq)
      .toMap
    val replayOk = sample.forall { case (w, i) =>
      native(i.toLong) == replay(w) }

    val pass = depthOk && prefixOk && replayOk
    println(s"""{"metric":"bpe_train_32k","vocab":$vocabN,"k":$k,""" +
      s""""rules_trained":${deep.size},"train_wall_s":$trainWall,""" +
      s""""driver_peak_heap_mb":$heapMb,""" +
      s""""foil_k":$foilK,"foil_wall_s":$foilWall,""" +
      s""""foil_extrapolated_at_k_s":$foilAtK,""" +
      s""""depth_ok":$depthOk,"prefix_ok":$prefixOk,""" +
      s""""replay_ok":$replayOk,"pass":$pass}""")
    if (!pass) {
      System.err.println(s"BPE TRAIN GATE FAILED: depth=$depthOk " +
        s"prefix=$prefixOk replay=$replayOk")
      sys.exit(1)
    }
  }
}
