package graft.operators

import graft.{GraftQuery, Tables}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators over `documents` — exact, n-gram Jaccard,
  * MinHash+LSH, and SimHash near-dup detection (the training-corpus
  * dedup family; SURVEY.md §2.10).
  *
  * The reference's only dedup is the cursor-overlap drop
  * (BackupProcessor.php:195-197); content dedup is the north-star
  * extension. Scale design:
  *
  *  - Exact dedup: hash-groupBy on an md5 key — one shuffle on a short
  *    key, never on the document body.
  *  - n-gram Jaccard: the RELATIONAL formulation — explode distinct
  *    shingles, self-join on the shingle string, group to intersection
  *    counts. Candidate generation cost is Σ (docs per shingle)², i.e.
  *    proportional to real overlap, not |docs|² — this is what survives
  *    100 TB, unlike any array-crossjoin.
  *  - MinHash+LSH: 64 hashes, 16 bands × 4 rows. Signatures come from
  *    the native MinHashSig expression (graft.functions) — one tight
  *    XXH64 loop per document; banding explodes 16 rows/doc; the bucket
  *    self-join touches only colliding bands. Candidates are then
  *    verified with exact Jaccard, so output precision is 1.0 and only
  *    recall depends on the LSH parameters.
  *  - SimHash: 64-bit signature via bitwise majority of token hashes;
  *    pairing by 16-bit chunk pigeonhole (hamming ≤ 3 ⇒ some chunk of 4
  *    equal), then exact hamming filter with bit_count(xor).
  *
  * MinHash/SimHash outputs depend on Spark's xxhash64 so they are
  * oracle-exempt (SparkEntry.scala contract allows omission); their
  * correctness laws (precision 1.0 vs q_ngram_jaccard, hamming bound)
  * are asserted in DedupSpec.
  */
object Dedup {

  /** Distinct 3-word shingles of the whitespace-tokenized text. */
  def shingles(text: Column): Column = {
    val toks = split(text, " ")
    array_distinct(
      transform(sequence(lit(1), greatest(size(toks) - 2, lit(1))),
        i => concat_ws(" ", slice(toks, i, lit(3)))))
  }

  /** (doc_id, shingle-hash) exploded-distinct form — the relational
    * shape all shingle-based dedup starts from. Shingles are joined by
    * 64-bit xxhash, not by string: set cardinalities and intersection
    * counts are unchanged w.h.p. (collision odds ~ n²/2⁶⁵) while the
    * biggest shuffle in the engine moves 8-byte keys instead of ~20-byte
    * strings. Hashing goes through the native
    * [[graft.functions.ShingleHashes]] (one tight loop per doc); the
    * equivalent transform/slice/concat_ws chain is interpreted per
    * shingle and was the hottest loop in the engine (~3x slower here).
    * Values are bit-identical (same xxhash64 seed), so [[shingles]]
    * remains the documentation/spec form. */
  def explodedShingles(df: DataFrame): DataFrame =
    // sized, not pinned-at-32 (r21): the shingle loop is ~µs per doc,
    // so the fan-out must be amortized by input VOLUME — a KB-scale
    // slice (the sf0.1 corpus, every delta batch) stays single-split
    // and the five downstream cache-consumer stages drop from 32
    // tasks to 1-3 (the fixed ~30-100 ms/task overhead was the dedup
    // family's dominant local cost, r21 probe); GB-scale slices fan
    // out exactly as before. A/B (5 interleaved reps, same window):
    // whole family 0.57-0.88x, see OPTIMIZATION_r21.md.
    Tables.spreadSized(df, 1L << 20, col("doc_id"))
      .select(col("doc_id"),
        explode(call_function("shingle_hashes", split(col("text"), " ")))
          .as("s"))

  /** Exact-Jaccard pairs (da < db) with jaccard >= tau — prefix-filtered
    * candidate generation (AllPairs/PPJoin family) + exact verification,
    * so results are IDENTICAL to the naive all-shingles join while the
    * candidate join touches only each doc's rarest shingles.
    *
    * Soundness (one-sided prefix theorem): J(A,B) >= tau implies
    * |A∩B| >= ceil(tau*|A|); if the intersection missed all of A's
    * prefix P_A (the |A| - ceil(tau*|A|) + 1 globally-rarest shingles),
    * it would fit inside the remaining ceil(tau*|A|) - 1 shingles —
    * contradiction. So joining P_A (lower-id side) against FULL shingle
    * sets finds every qualifying pair; at tau=0.8 the prefix is ~20% of
    * each doc, and rare-first ordering makes the per-shingle join
    * fan-out small — the difference between Σ df² and feasible at
    * corpus scale. */
  def jaccardPairs(docs: DataFrame, tau: Double): DataFrame =
    jaccardPairsM(docs, tau)._1

  /** As [[jaccardPairs]], but also returns the persisted RDD handle
    * backing the eagerly-materialized result, so callers can release
    * its blocks once downstream consumers hold their own copy
    * (q_dedup_groups does, after connectedComponents re-materializes).
    *
    * Cache hygiene: the shingle frame is referenced by five subplans
    * (cardinalities, global df, prefix, candidate join, verification
    * sets), so it is cached for the duration of THIS call only — the
    * verified pair list is materialized with truncated lineage
    * (localCheckpoint) and the shingle cache is dropped before
    * returning. As a library call nothing graft-owned outlives the
    * return except the (small — it IS the duplicate list) result
    * blocks, which the caller releases via the handle or leaves to
    * GC-driven ContextCleaner cleanup. DedupSpec pins this. */
  def jaccardPairsM(docs: DataFrame, tau: Double)
      : (DataFrame, org.apache.spark.rdd.RDD[_]) = {
    import org.apache.spark.sql.expressions.Window
    val nDocs = docs.count()
    // the 512x rehearsal regime (2.56M docs, single JVM): the shingle
    // cache (~50 longs/doc) plus the verify intermediates exceed the
    // storage pool. Above the gate the cache goes DISK_ONLY — every
    // consumer is a full sequential scan (five subplans, no random
    // access), so disk-backed blocks cost one streamed read while the
    // unified pool stays free for the exchanges. MEASURED at the
    // 2.56M rung (r14, same-window A/B): parity with MEMORY_AND_DISK
    // (186/162 s vs 182/154 s, inside window noise) — the super-
    // linear step there is the single-JVM memory boundary itself, not
    // eviction churn, and is irreducible locally (a cluster's
    // aggregate memory scales with executors; the local rehearsal's
    // does not). The gate is kept because it bounds cache memory at
    // zero measured cost; below it the in-memory form wins outright.
    val sh = explodedShingles(docs).persist(
      if (nDocs >= DiskShinglesMinDocs)
        org.apache.spark.storage.StorageLevel.DISK_ONLY
      else org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val card = sh.groupBy("doc_id").agg(count(lit(1)).as("c"))
    // global rarity order; ties broken by the hash for determinism
    val gdf = sh.groupBy("s").agg(count(lit(1)).as("gdf"))
    val w = Window.partitionBy("doc_id").orderBy(asc("gdf"), asc("s"))
    val prefix = sh.join(gdf, "s")
      .withColumn("rn", row_number().over(w))
      .join(card, "doc_id")
      .filter(col("rn") <= col("c") - ceil(col("c") * tau) + 1)
      .select("doc_id", "s")
    val cands = prefix.as("a")
      .join(sh.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .distinct()
    // size gate for the verification form (rule: the prefilter's
    // extra stages only amortize at large corpus size)
    val out = materialized(verifyJaccard(cands, sh, tau,
      prefilter = nDocs >= PrefilterMinDocs))
    sh.unpersist(blocking = false)
    out
  }

  /** Doc count above which [[jaccardPairsM]] persists the shingle
    * frame DISK_ONLY instead of in-memory (see the comment at the
    * persist site). 2M sits between the measured-healthy 1.28M rung
    * and the 2.56M rung where the r13 ladder hit the storage-pool
    * boundary (119.6 s, a 2.85x step for 2x data). */
  val DiskShinglesMinDocs: Long = 2000000L

  /** Eagerly materialize `df` with truncated lineage (the
    * localCheckpoint contract), returning the frame plus the persisted
    * RDD handle so callers can release the blocks the moment the frame
    * is superseded. Shared by [[jaccardPairsM]] and
    * [[connectedComponents]].
    *
    * Pins INTERNAL rows (Dataset.localCheckpoint), not `df.rdd`: the
    * r20 plan audit caught the old Row-RDD form paying an
    * InternalRow→Row conversion stage on write plus a Row→InternalRow
    * conversion on every downstream read, with the blocks
    * Java-serialized Rows in between — pure overhead multiplied by
    * every connectedComponents iteration's label frame at scale. The
    * handle is the checkpointed internal RDD out of the result's
    * LogicalRDD; unpersisting it releases the same blocks the old
    * handle did (DedupSpec pins the hygiene). */
  private[graft] def materialized(df: DataFrame)
      : (DataFrame, org.apache.spark.rdd.RDD[_]) = {
    val out = df.localCheckpoint() // eager: blocks exist on return
    val handle = out.queryExecution.logical match {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
      case other => throw new IllegalStateException(
        s"localCheckpoint did not produce a LogicalRDD: $other")
    }
    (out, handle)
  }

  /** Exact-Jaccard verification of (da, db) candidate pairs against the
    * full shingle sets; union by the cardinality identity
    * |A∪B| = |A|+|B|-|A∩B|. Output precision is 1.0 regardless of how
    * candidates were generated — this is the shared tail of the
    * prefix-filter, MinHash and any future blocking scheme.
    *
    * Verification is the PPJoin merge scan: each doc's sorted hash set
    * is materialized once (`sort_array(collect_list)`) and each
    * surviving pair costs one O(|A|+|B|) codegen'd merge
    * ([[graft.functions.SortedIntersectCount]]) — two equi-joins on
    * doc_id, no per-common-shingle rows on any exchange. (The earlier
    * relational form — pair⋈shingles⋈shingles + groupBy — shuffled
    * Σ|A∩B| rows across pairs.) Set rows are bounded by document
    * length, the same bound `collect_list` needs anywhere else; `sh` is
    * referenced twice, so callers pass a cached/checkpointed frame (at
    * corpus scale: DISK_ONLY or a materialized table).
    *
    * Two size-gated forms (the CC-hybrid idiom), differing in WHERE
    * the PPJoin length filter (J <= min/max, so J >= tau needs
    * min >= tau*max) runs:
    *
    *  - `prefilter = false` (small corpora): sets with arrays attach
    *    directly to the candidates (2 joins, 1 aggregate, exchange
    *    reused between the two set branches) and the length filter
    *    runs on the joined rows. Fewest stages — wins while the
    *    array traffic is tens of MB (sf0.1 A/B: the prefilter form
    *    was 1.35-1.47x SLOWER across the dedup family here).
    *  - `prefilter = true` (large corpora): candidates first join the
    *    16-byte (doc_id, c) frame on both sides and ~85% die there
    *    (the survival ratio is a property of the length
    *    distribution, not the scale); only survivors get arrays. The
    *    256x rung (1.28M docs) measured the fused form dragging TWO
    *    ~450-byte arrays under each of 38.4M candidate rows (~35 GB)
    *    through the exchanges — verification was 80% of
    *    q_dedup_groups' 122 s; prefiltered it is ~7x less join
    *    traffic.
    *
    * Callers gate on corpus size ([[PrefilterMinDocs]]). */
  def verifyJaccard(cands: DataFrame, sh: DataFrame, tau: Double,
                    prefilter: Boolean = false): DataFrame = {
    if (!prefilter) {
      val sets = sh.groupBy("doc_id")
        .agg(sort_array(collect_list(col("s"))).as("ss"),
             count(lit(1)).as("c"))
      val sa = sets.select(col("doc_id").as("da"), col("ss").as("ssa"),
        col("c").as("ca"))
      val sb = sets.select(col("doc_id").as("db"), col("ss").as("ssb"),
        col("c").as("cb"))
      cands.join(sa, "da").join(sb, "db")
        .filter(least(col("ca"), col("cb")) >=
          greatest(col("ca"), col("cb")) * tau)
        .withColumn("i",
          call_function("sorted_intersect_count", col("ssa"), col("ssb")))
        .withColumn("jaccard",
          col("i").cast("double") / (col("ca") + col("cb") - col("i")))
        .filter(col("jaccard") >= tau)
        .select(col("da"), col("db"), round(col("jaccard"), 6).as("jaccard"))
    } else {
      // one definition with the sets-table path: Catalyst's aggregate
      // pruning rewrites the two cardinality branches to count-only
      // aggregates (verified: the optimized plan carries exactly 2
      // collect_list aggregates, the ssa/ssb branches), so this IS
      // the hand-split card-frame plan without the duplicate code
      verifyWithSets(cands,
        sh.groupBy("doc_id")
          .agg(sort_array(collect_list(col("s"))).as("ss"),
            count(lit(1)).as("c")),
        tau)
    }
  }

  /** Corpus size above which [[verifyJaccard]] callers switch to the
    * length-prefiltered verification: array traffic through the
    * candidate joins grows ~linearly with docs (cands × set size),
    * while the prefilter's extra stages are a scale-independent fixed
    * cost. Measured: 5k docs (sf0.1) prefers fused (prefilter was
    * 1.35-1.47x slower), 1.28M docs needs prefilter (fused was 80% of
    * q_dedup_groups' 122 s). 100k sits where projected array traffic
    * crosses ~1 GB. */
  val PrefilterMinDocs = 100000L

  /** Fuzzy decontamination: exact 3-gram Jaccard >= tau between TRAIN
    * documents and the eval suite (doc_id % 41 == 0, q_decontaminate's
    * convention) — the near-duplicate face of eval-leakage detection.
    * q_decontaminate's shared-gram count catches verbatim inclusion; a
    * lightly paraphrased eval document shares most of its gram SET
    * without long verbatim runs, which is exactly a Jaccard threshold.
    *
    * Shape at scale: the one-sided prefix theorem applies from the
    * EVAL side — J(T,E) >= tau forces the intersection to hit E's
    * |E| − ceil(tau·|E|) + 1 globally-rarest shingles — so the
    * candidate join is (eval prefixes) × (train shingles): the
    * fixed-size eval suite contributes the prefix rows while the
    * unbounded train side is scanned, never prefixed. Verification is
    * the shared [[verifyJaccard]] tail (precision 1.0, size-gated
    * prefilter), so results are IDENTICAL to the naive cross join. */
  def fuzzyContamination(s: SparkSession, d: String,
                         tau: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d)
    val nDocs = docs.count()
    val isEval = col("doc_id") % 41 === 0
    val sh = explodedShingles(docs).persist(
      if (nDocs >= DiskShinglesMinDocs)
        org.apache.spark.storage.StorageLevel.DISK_ONLY
      else org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val card = sh.groupBy("doc_id").agg(count(lit(1)).as("c"))
    val gdf = sh.groupBy("s").agg(count(lit(1)).as("gdf"))
    val w = Window.partitionBy("doc_id").orderBy(asc("gdf"), asc("s"))
    val prefix = sh.filter(isEval).join(gdf, "s")
      .withColumn("rn", row_number().over(w))
      .join(card, "doc_id")
      .filter(col("rn") <= col("c") - ceil(col("c") * tau) + 1)
      .select(col("doc_id").as("db"), col("s"))
    val cands = prefix.join(
        sh.filter(!isEval).select(col("doc_id").as("da"), col("s")), "s")
      .select("da", "db").distinct()
    val (out, _) = materialized(
      verifyJaccard(cands, sh, tau, prefilter = nDocs >= PrefilterMinDocs))
    sh.unpersist(blocking = false)
    out.select(col("da").as("train_id"), col("db").as("eval_id"),
      col("jaccard"))
  }

  /** [[verifyJaccard]]'s tail over a PRE-BUILT sets frame
    * (doc_id, ss: sorted hash array, c: cardinality) instead of raw
    * shingles — the incremental path, where the corpus sets are a
    * stored table ([[ensureShingleIndex]]) and re-aggregating them per
    * batch would defeat the index. Same length-filter-before-arrays
    * shape; when `sets` is a parquet table, the cardinality branches
    * prune to (doc_id, c) at the scan and never read the arrays. */
  private[graft] def verifyWithSets(cands: DataFrame, sets: DataFrame,
                                    tau: Double): DataFrame =
    cands
      .join(sets.select(col("doc_id").as("da"), col("c").as("ca")), "da")
      .join(sets.select(col("doc_id").as("db"), col("c").as("cb")), "db")
      .filter(least(col("ca"), col("cb")) >=
        greatest(col("ca"), col("cb")) * tau)
      .join(sets.select(col("doc_id").as("da"), col("ss").as("ssa")), "da")
      .join(sets.select(col("doc_id").as("db"), col("ss").as("ssb")), "db")
      .withColumn("i",
        call_function("sorted_intersect_count", col("ssa"), col("ssb")))
      .withColumn("jaccard",
        col("i").cast("double") / (col("ca") + col("cb") - col("i")))
      .filter(col("jaccard") >= tau)
      .select(col("da"), col("db"), round(col("jaccard"), 6).as("jaccard"))

  val NumHashes = 64
  val Bands = 16
  val RowsPerBand: Int = NumHashes / Bands

  /** docs + minhash signature column (array<bigint>, length NumHashes):
    * the native [[graft.functions.MinHashSig]] — one tight eval per doc
    * instead of a 64 x |shingles| interpreted-HOF cascade. */
  def withMinhashSignature(docs: DataFrame): DataFrame =
    // 32 KB/task, not the 1 MB default: the signature is 64 hash
    // passes per token — ~64x the per-byte work of single-pass
    // shingle hashing — so a 1 MB chunk carries ~0.2-0.4 s of serial
    // compute (r21 A/B vs the plain-spread baseline, same window each:
    // 1 MB default read 1.09 -> 1.22 s, 1.11x WORSE; 32 KB read
    // 1.40 -> 0.94 s, 0.67x — fan-out tracks the denser per-byte
    // cost while KB-scale batches still stay near-single-split)
    Tables.spreadSized(docs, 32L << 10, col("doc_id")).withColumn("sig",
      call_function("minhash_sig", split(col("text"), " ")))

  /** LSH candidate pairs (da < db): docs sharing any band bucket. */
  def minhashCandidates(docs: DataFrame): DataFrame = {
    val banded = withMinhashSignature(docs)
      .select(col("doc_id"),
        explode(transform(sequence(lit(0), lit(Bands - 1)),
          b => struct(b.as("band"),
            xxhash64(slice(col("sig"), b * RowsPerBand + lit(1), lit(RowsPerBand)), b)
              .as("bkey")))).as("bb"))
      .select(col("doc_id"), col("bb.band"), col("bb.bkey"))
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .distinct()
  }

  /** 64-bit SimHash of the token multiset: bit j is the sign of
    * Σ_tokens (bit j of xxhash64(token) ? +1 : -1) — the native
    * [[graft.functions.SimHash64]] expression (the equivalent HOF
    * cascade is interpreted per element and ~1000x slower). */
  def simhash(text: Column): Column =
    call_function("simhash64", split(text, " "))

  /** Edge count below which the component graph is solved on the
    * driver. Near-dup edges that survived exact verification are a
    * vanishing fraction of the corpus (they ARE the duplicates), so
    * even very large corpora usually land under this; 1M (src,dst)
    * longs is ~16 MB — the same order as a broadcast-join threshold. */
  val LocalCcMaxEdges = 1000000L

  /** Connected components over an undirected (da, db) pair list.
    * Output: (node, lbl) with lbl = min node id in the component.
    *
    * Size-gated hybrid, the same shape as Spark's broadcast-join
    * decision: the pair list is materialized ONCE (`localCheckpoint` —
    * candidate generation above it is the expensive part and must not
    * run per-branch or per-round), its count steers the strategy:
    *
    *  - <= [[LocalCcMaxEdges]]: collect to the driver and run
    *    union-find with path compression — O(E α(E)), microseconds per
    *    edge, zero scheduler rounds. The dup-pair graph of even a
    *    100 TB corpus is usually this small relative to its input.
    *  - larger: distributed min-label propagation with POINTER JUMPING
    *    (label := label of label each round), converging in
    *    O(log diameter) rounds; every round is `localCheckpoint`ed so
    *    the Catalyst plan stays constant-size (uncapped lineage is the
    *    classic iterative-plan blowup), and partitioning scales with
    *    the measured edge count instead of inheriting the session's
    *    shuffle width. On a multi-executor cluster swap `checkpoint`
    *    against reliable storage if executor loss matters.
    *
    * Labels only take values from the node set and only ever decrease,
    * so sum(lbl) strictly decreases iff any label changed — convergence
    * detection is one cheap aggregate, not a self-join.
    *
    * Block hygiene: each round's materialization supersedes the
    * previous round's, so the older blocks are unpersisted as soon as
    * the next round exists (eager materialize-then-release — without it
    * every iteration's frame sits in the block manager until GC-driven
    * ContextCleaner cleanup, and clearCache() does not touch
    * checkpoint blocks). Only the returned labels frame stays pinned —
    * the caller consumes it. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20,
                          localMaxEdges: Long = LocalCcMaxEdges): DataFrame = {
    val (p, pRdd) = materialized(
      pairs.select(col("da").cast("long"), col("db").cast("long")))
    val nEdges = p.count()
    if (nEdges <= localMaxEdges) {
      val out = localComponents(p) // collects p, so blocks are done after
      pRdd.unpersist(blocking = false)
      return out
    }
    // ~500k edges per partition: small graphs don't pay 32-way
    // shuffles, huge ones still spread
    val parts = math.max(1, (nEdges / 500000L).toInt)
    val (edges, edgesRdd) = materialized(
      p.select(col("da").as("src"), col("db").as("dst"))
        .union(p.select(col("db").as("src"), col("da").as("dst")))
        .repartition(parts))
    pRdd.unpersist(blocking = false) // edges supersede the raw pair list
    var (labels, labelsRdd) = materialized(
      edges.select(col("src").as("node")).distinct()
        .withColumn("lbl", col("node")))
    // null-safe: sum() over an empty frame is NULL (e.g. no pair
    // reaches tau -> empty edge list); treat as 0 and the loop
    // converges on the first (empty) hop
    def labelSum(df: DataFrame): Long =
      Option(df.agg(sum(col("lbl"))).collect().head
        .getAs[java.lang.Long](0)).map(_.longValue).getOrElse(0L)
    def hop(l: DataFrame)
        : (DataFrame, org.apache.spark.rdd.RDD[_]) = {
      // every node has >= 1 edge by construction -> inner join is total
      val neighborMin = edges
        .join(l.withColumnRenamed("node", "dst"), "dst")
        .groupBy(col("src").as("node"))
        .agg(min(col("lbl")).as("nlbl"))
      // materialized ONCE: the pointer-jump self-join below reads it as
      // both sides with different join keys, and an unmaterialized
      // plan would re-run the edges-join + min-aggregate subtree twice
      // per round (ReuseExchange only shares the inner shuffle)
      val (stepped, steppedRdd) = materialized(
        l.join(neighborMin, "node")
          .select(col("node"), least(col("lbl"), col("nlbl")).as("lbl")))
      // pointer jump: lbl := label of lbl. Every label is itself a node
      // of the graph (labels start as node ids and only propagate), so
      // the self-join is total.
      val out = stepped.as("x")
        .join(stepped.as("y"), col("x.lbl") === col("y.node"))
        .select(col("x.node").as("node"),
          least(col("x.lbl"), col("y.lbl")).as("lbl"))
      (out, steppedRdd)
    }
    var prevSum = labelSum(labels)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      iter += 1
      val (hopped, steppedRdd) = hop(labels)
      val (updated, updatedRdd) = materialized(hopped)
      steppedRdd.unpersist(blocking = false) // consumed by the self-join
      val newSum = labelSum(updated)
      labelsRdd.unpersist(blocking = false) // previous round superseded
      labels = updated
      labelsRdd = updatedRdd
      converged = newSum == prevSum
      prevSum = newSum
    }
    edgesRdd.unpersist(blocking = false) // edges done once labels settle
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds " +
          "(component diameter > 2^maxIter?) — results would be wrong")
    labels
  }

  /** Driver-side union-find (path halving + union by min) for pair
    * graphs under [[LocalCcMaxEdges]]. Same (node, lbl = component
    * min) contract as the distributed path; ComponentSpec asserts the
    * two agree. */
  private def localComponents(pairs: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) {
        val g = parent.getOrElse(parent(r), parent(r)) // path halving
        parent(r) = g
        r = g
      }
      r
    }
    pairs.collect().foreach { row =>
      val (a, b) = (row.getLong(0), row.getLong(1))
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { // union by min id => lbl is the component min
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
    }
    val out = parent.keys.toArray.sorted.map(n => (n, find(n)))
    spark.createDataset(out.toIndexedSeq).toDF("node", "lbl")
  }

  /** Per-doc distinct 3-gram hashes (doc_id, g) — one native
    * shingle_hashes eval per row. shingle_hashes clamps <3-token docs
    * to ONE short shingle; this gram definition emits none, so such
    * docs are filtered first. Shared by q_decontaminate and the
    * curation pipeline's decontamination stage. */
  private[graft] def gramHashes(docs: DataFrame): DataFrame = {
    val toks = split(col("text"), " ")
    docs.filter(size(toks) >= 3)
      .select(col("doc_id"),
        explode(call_function("shingle_hashes", toks)).as("g"))
  }

  /** Contaminated (train_id, eval_id, n_shared) pairs: >= 3 distinct
    * shared 3-grams. `train`/`ev` are [[gramHashes]] frames; the eval
    * side — fixed-size while the train corpus grows without bound —
    * broadcasts, so the train side is scanned once, never shuffled. */
  private[graft] def contamination(train: DataFrame,
                                   ev: DataFrame): DataFrame =
    train.withColumnRenamed("doc_id", "train_id")
      .join(broadcast(ev.withColumnRenamed("doc_id", "eval_id")), "g")
      .groupBy("train_id", "eval_id")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 3)

  /** "Newly ingested" slice for the incremental-dedup query: a
    * deterministic ~20% of documents, so the DuckDB oracle reproduces
    * the split exactly. */
  private[graft] def isDeltaBatch(id: Column): Column = id % 5 === 4

  /** The persisted shingle index of dir `d`: postings, sets and df
    * tables, all derived from one name tag ([[PersistedIndex]]). */
  private def shingleIndex(d: String): PersistedIndex.Spec =
    PersistedIndex.Spec("graft_shidx", "shingle index", d,
      Seq("post" -> Some("s"), "sets" -> Some("doc_id"), "df" -> Some("s")))

  private def shingleNames(ix: PersistedIndex.Spec): (String, String, String) =
    (ix.tables(0), ix.tables(1), ix.tables(2))

  /** Has `batchId` already been folded into `d`'s shingle index?
    * The replay detector for maintaining streams: a replayed batch is
    * probed in [[deltaDedupOf]]'s excludeBatch mode and its append
    * no-ops, instead of wedging the stream on the disjointness
    * guard. */
  def isShingleBatchApplied(s: SparkSession, d: String,
                            batchId: String): Boolean =
    PersistedIndex.isApplied(s, shingleIndex(d), batchId)

  /** Order-independent content fingerprint of a (doc_id, text) slice:
    * XOR of per-row xxhash64. Catches what a bare row count cannot —
    * a corpus regen that preserves the slice size but changes content
    * (the 2026-08-12 regen did exactly this to table SIZES), and an
    * equal-count collision between two dirs sharing a 32-bit name
    * tag. One (doc_id, text) scan per check; memoized per app like
    * the rest of the freshness protocol. */
  private[graft] def corpusFingerprint(docs: DataFrame): Long =
    docs.select(xxhash64(col("doc_id"), col("text")).as("h"))
      .agg(coalesce(expr("bit_xor(h)"), lit(0L)).as("fp"))
      .head.getLong(0)

  /** Persisted shingle index over the NON-batch corpus slice, the
    * amortization point of [[q_dedup_delta]]: three catalog tables —
    *
    *  - postings (s, doc_id), bucketed by the shingle hash: the
    *    inverted index a batch's prefix shingles join against without
    *    shuffling the corpus side;
    *  - sets (doc_id, ss, c), bucketed by doc_id: each corpus doc's
    *    sorted shingle-hash array + cardinality, so verification reads
    *    stored arrays instead of re-aggregating corpus shingles;
    *  - df (s, gdf): global shingle frequencies, the rarity order for
    *    batch prefix selection. Frozen-at-build stats are CORRECT for
    *    any later batch — the prefix theorem holds for ANY
    *    (|A| - ceil(tau|A|) + 1)-subset; rarity ordering only
    *    minimizes join fan-out, so drift degrades cost, never results
    *    (same frozen-snapshot posture as the streaming calibration).
    *
    * Rebuilt when absent or when the corpus slice DIFFERS from the
    * manifest the index was written with — src dir verbatim, row
    * count, AND an xxhash64 content fingerprint, so an equal-count
    * content change (a corpus regen) or a cross-dir 32-bit tag
    * collision forces a rebuild instead of silently serving stale
    * pairs. [[appendToShingleIndex]] folds later batches in; the
    * manifest tracks them, and the sets-row reconciliation
    * (baseRows + appended) doubles as the crash guard — an append
    * that died between table writes and the manifest update shows up
    * as a count mismatch, repaired by a base rebuild that refolds the
    * manifest-listed batches ([[PersistedIndex.ensure]]).
    *
    * Bucket count scales with the slice ([[Tables.indexBuckets]]):
    * 32 (= local parallelism) through 1M rows, doubling per doubling
    * after — a cluster deployment gets probe-join parallelism that
    * tracks corpus size instead of capping at 32. */
  def ensureShingleIndex(s: SparkSession, d: String)
      : (String, String, String) = {
    val ix = shingleIndex(d)
    val names @ (_, setsT, _) = shingleNames(ix)
    if (PersistedIndex.isFresh(s, ix)) return names
    val corpus = Tables.documents(s, d)
      .filter(!isDeltaBatch(col("doc_id")))
    PersistedIndex.ensure(s, ix, {
      val n = corpus.count()
      IndexManifest.Manifest(d, n, corpusFingerprint(corpus),
        Tables.indexBuckets(n), Nil)
    }, setsT, fresh = true) { m =>
      val buckets = m.buckets
      val sh = explodedShingles(corpus).cache()
      writeShingleTables(s, names, sh, (buckets, buckets, buckets),
        SaveMode.Overwrite)
      sh.unpersist(blocking = false)
      bdf => {
        val bsh = explodedShingles(bdf).cache()
        writeShingleTables(s, names, bsh, (buckets, buckets, buckets),
          SaveMode.Append)
        bsh.unpersist(blocking = false)
      }
    }
    names
  }

  /** The three bucketed table writes shared by the base build, the
    * append path, and partial-append refolds. */
  private def writeShingleTables(s: SparkSession,
                                 names: (String, String, String),
                                 sh: DataFrame,
                                 buckets: (Int, Int, Int),
                                 mode: SaveMode): Unit = {
    val (postT, setsT, dfT) = names
    val (postB, setsB, dfB) = buckets
    PersistedIndex.writeBucketed(s, sh, postT, "s", postB, mode)
    PersistedIndex.writeBucketed(s, sh.groupBy("doc_id")
      .agg(sort_array(collect_list(col("s"))).as("ss"),
        count(lit(1)).as("c")), setsT, "doc_id", setsB, mode)
    PersistedIndex.writeBucketed(s,
      sh.groupBy("s").agg(count(lit(1)).as("gdf")), dfT, "s", dfB, mode)
  }

  /** Fold an already-probed batch into the persisted shingle index —
    * the maintenance path a daily-ingest user runs so [[deltaDedupOf]]
    * probes see yesterday's arrivals without a corpus-wide rebuild
    * (the reference's only refresh is a full re-export from '/',
    * BackupProcessor.php:43; this is the engine's signature
    * divergence). Appends the batch's postings, sorted sets, and
    * PARTIAL df counts to the three bucketed tables with the
    * manifest's bucket spec, so the probe joins stay exchange-free on
    * the bucket key; df is reconciled at read time by an
    * exchange-free partial-sum over the bucket key ([[deltaDedupOf]]),
    * because parquet tables append, they don't merge.
    *
    * Idempotent per `batchId` (the Recalibrator rule): a replayed
    * foreachBatch or a re-run driver finds the id in the manifest and
    * no-ops. Batch doc_ids must be disjoint from everything already
    * indexed — checked here (loudly) via the same 8-byte-key lookup
    * [[deltaDedupOf]] uses. Cost tracks the BATCH size, never the
    * corpus: the three writes scan only the batch's shingles.
    *
    * Returns true if the batch was appended, false if it was already
    * in the manifest. Crash between a table append and the manifest
    * write leaves sets.count != baseRows + appended, which the next
    * [[ensureShingleIndex]] repairs from the batch store. */
  def appendToShingleIndex(s: SparkSession, d: String, batch: DataFrame,
                           batchId: String): Boolean = {
    val ix = shingleIndex(d)
    val names @ (postT, setsT, dfT) = shingleNames(ix)
    PersistedIndex.append(s, ix, batch, batchId, "doc_id",
      Seq("doc_id", "text"), setsT, () => ensureShingleIndex(s, d)) { txt =>
      val sh = explodedShingles(batch).cache()
      // per-TABLE actual specs, not the manifest record: a crash inside
      // a re-bucketing compact can leave tables with mixed specs —
      // appends must match each table or Spark's spec validation
      // wedges the ingest until the compact converges them
      def b(t: String): Int =
        IndexManifest.appendBucketsOf(s, t, txt, s"shingle index $d")
      writeShingleTables(s, names, sh, (b(postT), b(setsT), b(dfT)),
        SaveMode.Append)
      sh.unpersist(blocking = false)
      batch.select("doc_id").distinct().count()
    }
  }

  /** Fold the df table's append-accumulated partial rows back into
    * one row per shingle — the periodic maintenance step that
    * restores the fast no-reaggregation probe path after a run of
    * [[appendToShingleIndex]] calls. Probes are EXACTLY unchanged by
    * compaction (the gated re-agg computes the same sums the compact
    * layout stores; DedupSpec pins probe-before == probe-after), so
    * the cadence is pure cost tuning: run it when the per-probe
    * re-agg tax outgrows one df rewrite — e.g. nightly against a day
    * of streamed micro-batches.
    *
    * Postings/sets rewrite too, as pure FILE-LAYOUT folds: every
    * append added one file per bucket, so after N batches each
    * probe's bucketed scan reads N+1 files per bucket; rows are
    * untouched. All three tables re-bucket together against the GROWN
    * doc count (the exchange-free probe joins align on the shared
    * spec); `rebucketTo` overrides the sizing (tests / operator hook).
    * The staging + rename rewrite ([[PersistedIndex.rewrite]]) means a
    * crash mid-swap leaves a table missing, which the next
    * [[ensureShingleIndex]] rebuilds. Returns true if a compaction
    * ran, false when every applied batch was already folded and the
    * spec matches (idempotent, the append-path convention). */
  def compactShingleIndex(s: SparkSession, d: String,
                          rebucketTo: Option[Int] = None): Boolean = {
    val ix = shingleIndex(d)
    val (postT, setsT, dfT) = ensureShingleIndex(s, d)
    def files(t: String) = PersistedIndex.files(s, t)
    PersistedIndex.compact(s, ix, rebucketTo) { (_, _) => Seq(
      PersistedIndex.Staged(dfT,
        files(dfT).groupBy("s").agg(sum(col("gdf")).as("gdf")), Some("s")),
      PersistedIndex.Staged(postT, files(postT), Some("s")),
      PersistedIndex.Staged(setsT, files(setsT), Some("doc_id")))
    }
  }

  /** Condition-driven maintenance for the persisted shingle index —
    * the [[Similarity.maintainIvfIndex]] analog, with one op fewer:
    * the shingle index has no drift symptom to refresh away (df stats
    * are frozen by design — the prefix theorem holds for any rarity
    * order and verification is exact, so staleness can reorder
    * prefixes but never change the verified pair set; and the 64-bit
    * shingle hash leaves nothing to concentrate — a 5.12M-doc audit
    * measured bucket max/median 1.01x, SURVEY §19). What remains is
    * layout: >= `compactAfter` uncompacted appended batches (each adds
    * one file per bucket and partial df rows) or a bucket spec the
    * grown doc count has outsized trigger [[compactShingleIndex]];
    * otherwise nothing. No appended batches short-circuits to "none".
    * Idempotent; `dryRun` reports without executing. Thresholds and
    * their measurements: [[Maintenance]]. */
  def maintainShingleIndex(s: SparkSession, d: String,
                           compactAfter: Int =
                             Maintenance.DefaultCompactAfter,
                           dryRun: Boolean = false): MaintenanceReport = {
    ensureShingleIndex(s, d)
    val l = PersistedIndex.layout(s, shingleIndex(d))
    if (l.wantsCompact(compactAfter))
      l.report("shingle", "compact", ran = !dryRun && compactShingleIndex(s, d))
    else l.report("shingle", "none", ran = false)
  }

  /** Drop the persisted shingle index (tables, staging leftovers,
    * manifest, batch store, memo) so the next ensure rebuilds from
    * scratch — the cold-build reset of the gates and the lifecycle
    * tests. */
  private[graft] def dropShingleIndex(s: SparkSession, d: String): Unit =
    PersistedIndex.drop(s, shingleIndex(d))

  /** The UNmaterialized q_dedup_delta pipeline — exposed so PlanSpec
    * can assert the index-probe plan shape (the query entry
    * materializes the result eagerly, leaving only an RDD scan to
    * explain). Returns (result frame, the cached batch-shingle frame
    * the caller must unpersist after consuming the result). */
  private[graft] def deltaDedup(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    // checkDisjoint = false only while the index is EXACTLY the base
    // build: the index is DEFINED as the !isDeltaBatch slice and this
    // batch as the isDeltaBatch slice of the same table — disjoint by
    // the split predicate itself, so the guard's extra per-probe job
    // (measured ~0.4-1 s of q_dedup_delta's sf0.1 bench min) buys
    // nothing. But the split predicate says nothing about APPENDED
    // batches (a caller may have folded arbitrary doc_ids in —
    // including the delta slice itself), so with any batch in the
    // manifest the guard goes back on (one small file read, the
    // hasAppends gate deltaDedupOf already pays). Every path taking
    // CALLER data keeps the guard on unconditionally.
    ensureShingleIndex(s, d)
    val appended =
      PersistedIndex.read(s, shingleIndex(d)).exists(_._2.nonEmpty)
    deltaDedupOf(s, d,
      Tables.documents(s, d).filter(isDeltaBatch(col("doc_id"))),
      checkDisjoint = appended)
  }

  /** [[deltaDedup]]'s core over an ARBITRARY arriving-docs frame
    * (doc_id, text): the q_dedup_delta entry passes the deterministic
    * batch slice; the streaming twin
    * ([[graft.streaming.CorpusStreams.deltaDedupStream]]) passes each
    * micro-batch. Contract: doc_ids in `batch` must be disjoint from
    * everything indexed (join multiplicities and the da<db
    * orientation rely on it) — ENFORCED at runtime for caller-supplied
    * batches: a violation throws before any probe work instead of
    * silently corrupting the pair list (the guard is one
    * early-stopped doc_id-column lookup against the bucketed sets
    * table). `checkDisjoint = false` is reserved for callers whose
    * batch is disjoint BY CONSTRUCTION ([[deltaDedup]]'s split
    * predicate).
    *
    * `excludeBatch = true` is the REPLAY mode for maintaining streams
    * ([[graft.streaming.CorpusStreams.dedupIngestStream]]): when a
    * driver crashed between [[appendToShingleIndex]] (manifest
    * committed) and the streaming checkpoint commit, the replayed
    * micro-batch is already IN the index — the disjointness guard
    * would wedge the stream on it forever, and a naive probe would
    * see the batch's own rows on the corpus side. Instead the batch's
    * doc_ids are anti-joined out of the postings and sets scans
    * (broadcast left-anti on the bucketed scans — no exchange added),
    * which restores exactly the pre-append index view, so the
    * replayed emission equals the original. The df stats DO include
    * the batch's own partial counts on replay, but df only orders
    * prefix selection — any (|A| - ceil(tau|A|) + 1)-subset satisfies
    * the prefix theorem and verification is exact Jaccard, so the
    * pair SET is unchanged (StreamingSpec pins replay equality). */
  private[graft] def deltaDedupOf(s: SparkSession, d: String,
                                  batch: DataFrame,
                                  checkDisjoint: Boolean = true,
                                  excludeBatch: Boolean = false)
      : (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val tau = 0.8
    val (postT, setsT, dfT) = ensureShingleIndex(s, d)
    // batch doc_ids already in the sets table corrupt pair orientation
    // and join multiplicities SILENTLY — fail loudly instead
    if (checkDisjoint)
      IndexManifest.requireDisjoint(s, setsT, "doc_id", batch, "deltaDedupOf")
    val bids =
      if (excludeBatch) Some(batch.select("doc_id").distinct()) else None
    def minusBatch(t: DataFrame): DataFrame =
      bids.fold(t)(b => t.join(broadcast(b), Seq("doc_id"), "left_anti"))
    // referenced by prefix selection, the candidate b side and the
    // batch sets — cache for this call only (jaccardPairsM rule)
    val sh = explodedShingles(batch).cache()
    val card = sh.groupBy("doc_id").agg(count(lit(1)).as("c"))
    // df counts are split across the base build and appended batches
    // ([[appendToShingleIndex]] appends partial counts — parquet
    // doesn't merge), so WITH appends the scan is reconciled by a
    // partial-sum over the bucket key (exchange-free on the bucketed
    // scan). Without appends every shingle has exactly one row and
    // the re-aggregation is pure waste — at the 2.56M-doc rung the
    // df table is ~10^8 rows and the unconditional agg nearly doubled
    // the probe (30 -> 57 s, r14 rung A/B) — so it is gated on the
    // manifest listing appended batches NOT yet folded by
    // [[compactShingleIndex]] (one small file read; the expensive
    // freshness work stays memoized in ensure).
    val hasAppends = PersistedIndex.read(s, shingleIndex(d)).exists {
      case (txt, bs) => bs.size > IndexManifest.compactedOf(txt)
    }
    val gdfTbl =
      if (hasAppends)
        s.table(dfT).groupBy("s").agg(sum(col("gdf")).as("gdf"))
      else s.table(dfT)
    // prefix = the doc's |A| - ceil(tau|A|) + 1 rarest shingles by
    // CORPUS df; left join because batch-only shingles have no df
    // row — coalesce(0) ranks them rarest, which is also true
    val w = Window.partitionBy("doc_id").orderBy(asc("gdf"), asc("s"))
    val pref = sh.join(gdfTbl, Seq("s"), "left")
      .withColumn("gdf", coalesce(col("gdf"), lit(0L)))
      .withColumn("rn", row_number().over(w))
      .join(card, "doc_id")
      .filter(col("rn") <= col("c") - ceil(col("c") * tau) + 1)
      .select("doc_id", "s")
    // candidates: batch prefixes against (a) the STORED postings and
    // (b) the batch's own shingles, as TWO joins whose candidate
    // frames union. A single join against postings ∪ batch-shingles
    // would be one stage fewer, but a Union reports
    // UnknownPartitioning — the corpus side would re-shuffle its
    // entire (s, doc_id) postings on EVERY probe, forfeiting the
    // bucketBy(32, "s") layout the index was written with (round-13
    // review catch). Split, the postings scan joins exchange-free on
    // its bucket key; only the (small) prefix side moves.
    val candsCorpus = pref
      .join(minusBatch(s.table(postT)).withColumnRenamed("doc_id", "cid"),
        "s")
      .select(least(col("doc_id"), col("cid")).as("da"),
        greatest(col("doc_id"), col("cid")).as("db"))
    // batch-batch: one-sided prefix join, lower id carries the prefix
    val candsBatch = pref.as("a").join(sh.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
    val cands = candsCorpus.unionByName(candsBatch).distinct()
    val bsets = sh.groupBy("doc_id")
      .agg(sort_array(collect_list(col("s"))).as("ss"),
        count(lit(1)).as("c"))
    val allSets = minusBatch(s.table(setsT)).unionByName(bsets)
    (verifyWithSets(cands, allSets, tau), sh)
  }

  val queries: Seq[GraftQuery] = Seq(

    GraftQuery(
      "q_decontaminate",
      "Train/eval decontamination — the cross-corpus dedup an LLM " +
        "pipeline runs before training: find training documents sharing " +
        ">= 3 distinct 3-grams with any eval-set document (eval = " +
        "doc_id % 41 == 0 here; a fixed benchmark suite in production). " +
        "Per-doc distinct gram hashes come from ONE native " +
        "shingle_hashes eval per row (the explodedShingles rule — the " +
        "equivalent transform/concat_ws chain is interpreted per gram; " +
        "the contamination join only needs gram EQUALITY, so 8-byte " +
        "hashes match like q_span_dup's, modulo 2^-64 collisions, and " +
        "the oracle recomputes over the strings). The eval side — " +
        "fixed-size while the train corpus grows without bound — " +
        "broadcasts, so the 100 TB train side is scanned once and " +
        "never shuffled. The distinct-3-gram count is the standard " +
        "n-gram-overlap contamination signal.",
      (s, d) => {
        val ng = gramHashes(Tables.spreadSized(Tables.documents(s, d), 1L << 20, col("doc_id")))
        contamination(
          ng.filter(col("doc_id") % 41 =!= 0),
          ng.filter(col("doc_id") % 41 === 0))
          .orderBy("train_id", "eval_id")
      },
      Some("""
        |WITH toks AS (SELECT doc_id, str_split(text, ' ') AS t FROM documents),
        |ng AS (
        |  SELECT DISTINCT doc_id, unnest(
        |    CASE WHEN len(t) >= 3 THEN
        |      list_transform(generate_series(1, len(t)-2),
        |                     i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
        |    ELSE [] END) AS g
        |  FROM toks),
        |tr AS (SELECT doc_id AS train_id, g FROM ng WHERE doc_id % 41 <> 0),
        |ev AS (SELECT doc_id AS eval_id, g FROM ng WHERE doc_id % 41 = 0)
        |SELECT train_id, eval_id, CAST(count(*) AS BIGINT) AS n_shared
        |FROM tr JOIN ev USING (g)
        |GROUP BY train_id, eval_id HAVING count(*) >= 3
        |ORDER BY train_id, eval_id
        |""".stripMargin)),

    GraftQuery(
      "q_decontaminate_fuzzy",
      "Fuzzy decontamination: exact 3-gram Jaccard >= 0.5 between " +
        "train docs and the eval suite — the near-duplicate face of " +
        "eval leakage (a paraphrased eval doc shares most of its gram " +
        "SET without the verbatim runs q_decontaminate counts). " +
        "One-sided prefix from the EVAL side (fixed-size while the " +
        "train corpus grows: eval prefixes join train shingles, the " +
        "train side is scanned never prefixed), shared verifyJaccard " +
        "tail — results identical to the naive cross join.",
      (s, d) => fuzzyContamination(s, d, 0.5)
        .orderBy("train_id", "eval_id"),
      Some("WITH tok AS (SELECT doc_id, str_split(text,' ') AS t " +
        "FROM documents), " +
        "sh AS (SELECT DISTINCT doc_id, s FROM (SELECT doc_id, " +
        "unnest(list_transform(range(1, greatest(len(t)-2,1)+1), " +
        "i -> array_to_string(t[i:i+2],' '))) AS s FROM tok)), " +
        "card AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id), " +
        "inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i " +
        "FROM sh a JOIN sh b ON a.s = b.s " +
        "AND a.doc_id % 41 <> 0 AND b.doc_id % 41 = 0 " +
        "GROUP BY da, db) " +
        "SELECT da AS train_id, db AS eval_id, " +
        "round(CAST(i AS DOUBLE)/(ca.c+cb.c-i), 6) AS jaccard " +
        "FROM inter JOIN card ca ON ca.doc_id = da " +
        "JOIN card cb ON cb.doc_id = db " +
        "WHERE CAST(i AS DOUBLE)/(ca.c+cb.c-i) >= 0.5 " +
        "ORDER BY train_id, eval_id")),

    GraftQuery(
      "q_decontaminate_bloom",
      "Decontamination's constant-memory scale path: the same exact " +
        "contamination semantics as q_decontaminate, with a Bloom " +
        "prefilter (native codegen'd bloom_might_contain, 10 bits/key " +
        "over the eval suite's distinct gram hashes, broadcast as a " +
        "handle) killing non-eval grams INSIDE the train scan before " +
        "the exact join. q_decontaminate's broadcast HashedRelation of " +
        "8-byte gram keys costs several-x layout overhead per key in " +
        "EVERY executor — at a 10^9-gram eval suite (every benchmark + " +
        "its augmentations) that is tens of GB per executor, where the " +
        "bloom is ~1.2 GB; survivors (true matches + <1% FPs) are a " +
        "tiny fraction of the 100 TB train side, so the exact verify " +
        "join behind it is free and FPs never reach the output. The " +
        "driver-side eval collect is eval-suite-sized — the same bound " +
        "the exact operator's broadcast already assumes. Oracle: " +
        "identical to q_decontaminate (the bloom is results-invisible " +
        "by construction — differentially proven every run).",
      (s, d) => {
        val ng = gramHashes(Tables.spreadSized(Tables.documents(s, d), 1L << 20, col("doc_id")))
        val ev = ng.filter(col("doc_id") % 41 === 0)
        val members = ev.select("g").distinct()
          .collect().map(_.getLong(0))
        val bloom = s.sparkContext.broadcast(
          graft.functions.BloomLongs.build(members))
        contamination(
          ng.filter(col("doc_id") % 41 =!= 0)
            .filter(graft.functions.GraftFunctions
              .bloomMightContain(col("g"), bloom)),
          ev).orderBy("train_id", "eval_id")
      },
      Some("""
        |WITH toks AS (SELECT doc_id, str_split(text, ' ') AS t FROM documents),
        |ng AS (
        |  SELECT DISTINCT doc_id, unnest(
        |    CASE WHEN len(t) >= 3 THEN
        |      list_transform(generate_series(1, len(t)-2),
        |                     i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
        |    ELSE [] END) AS g
        |  FROM toks),
        |tr AS (SELECT doc_id AS train_id, g FROM ng WHERE doc_id % 41 <> 0),
        |ev AS (SELECT doc_id AS eval_id, g FROM ng WHERE doc_id % 41 = 0)
        |SELECT train_id, eval_id, CAST(count(*) AS BIGINT) AS n_shared
        |FROM tr JOIN ev USING (g)
        |GROUP BY train_id, eval_id HAVING count(*) >= 3
        |ORDER BY train_id, eval_id
        |""".stripMargin)),

    GraftQuery(
      "q_dedup_exact",
      "Exact dedup by md5 fingerprint of the lowercased text: one " +
        "hash-groupBy on a 32-char key; keeper = min doc_id per group.",
      (s, d) => Tables.documents(s, d)
        .groupBy(md5(lower(col("text")).cast("binary")).as("fingerprint"))
        .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))
        .orderBy("fingerprint"),
      Some("SELECT md5(lower(text)) AS fingerprint, " +
        "min(doc_id) AS keeper, count(*) AS n_copies " +
        "FROM documents GROUP BY fingerprint ORDER BY fingerprint")),

    GraftQuery(
      "q_dedup_keep",
      "Row-level canonical-keep verdict — the consumer-facing face of " +
        "exact dedup: every doc gets keep = (doc_id == min doc_id of " +
        "its fingerprint group), i.e. the filtered corpus is " +
        "`WHERE keep`. One window over the fingerprint hash-partition; " +
        "doc_id+fingerprint are projected BEFORE the window so the " +
        "shuffle moves 40-byte rows, never text. Scale: shuffle keys " +
        "are uniform md5 strings — no skew, no global sort, same " +
        "shape at 100 TB.",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val fp = md5(lower(col("text")).cast("binary"))
        Tables.documents(s, d)
          .select(col("doc_id"), fp.as("fingerprint"))
          .withColumn("keeper",
            min("doc_id").over(Window.partitionBy("fingerprint")))
          .select(col("doc_id"), col("fingerprint"),
            (col("doc_id") === col("keeper")).as("keep"))
          .orderBy("doc_id")
      },
      Some("SELECT doc_id, md5(lower(text)) AS fingerprint, " +
        "doc_id = min(doc_id) OVER (PARTITION BY md5(lower(text))) " +
        "AS keep FROM documents ORDER BY doc_id")),

    GraftQuery(
      "q_ngram_jaccard",
      "Exact 3-gram Jaccard near-dup pairs (tau=0.8) via the relational " +
        "shingle-intersection join — the ground truth the MinHash path " +
        "approximates, and itself scale-safe (cost ~ Σ per-shingle df²).",
      (s, d) => jaccardPairs(Tables.documents(s, d), 0.8)
        .orderBy("da", "db"),
      Some("WITH tok AS (SELECT doc_id, str_split(text,' ') AS t FROM documents), " +
        "sh AS (SELECT DISTINCT doc_id, s FROM (SELECT doc_id, " +
        "unnest(list_transform(range(1, greatest(len(t)-2,1)+1), " +
        "i -> array_to_string(t[i:i+2],' '))) AS s FROM tok)), " +
        "card AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id), " +
        "inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i " +
        "FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id " +
        "GROUP BY da, db) " +
        "SELECT da, db, round(CAST(i AS DOUBLE)/(ca.c+cb.c-i), 6) AS jaccard " +
        "FROM inter JOIN card ca ON ca.doc_id = da " +
        "JOIN card cb ON cb.doc_id = db " +
        "WHERE CAST(i AS DOUBLE)/(ca.c+cb.c-i) >= 0.8 ORDER BY da, db")),

    GraftQuery(
      "q_dedup_groups",
      "Near-dup CLUSTERS: connected components over the tau=0.8 exact-" +
        "Jaccard pair graph (iterative min-label propagation); output " +
        "is (doc, cluster representative, cluster size) — what a " +
        "keep-one-per-cluster dedup actually consumes. Oracle re-derives " +
        "components with WITH RECURSIVE reachability.",
      (s, d) => {
        val (pairs, pairsRdd) = jaccardPairsM(Tables.documents(s, d), 0.8)
        val labels = connectedComponents(pairs)
        // connectedComponents re-materialized its own copy of the pair
        // list, so the jaccardPairsM result blocks are done
        pairsRdd.unpersist(blocking = false)
        // cluster_size via count-over-window, not aggregate+join (r21,
        // guide §2.4 — the graphClusters rewrite): one shuffle of the
        // materialized label frame by lbl instead of a per-label
        // aggregate joined back (2 extra exchanges + join); identical
        // values, and the oracle's own comp tail is the same window.
        labels.withColumn("csize", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window.partitionBy("lbl")))
          .select(col("node").as("doc_id"), col("lbl").as("cluster_rep"),
            col("csize").as("cluster_size"))
          .orderBy("doc_id")
      },
      Some("WITH RECURSIVE " +
        "tok AS (SELECT doc_id, str_split(text,' ') AS t FROM documents), " +
        "sh AS (SELECT DISTINCT doc_id, s FROM (SELECT doc_id, " +
        "unnest(list_transform(range(1, greatest(len(t)-2,1)+1), " +
        "i -> array_to_string(t[i:i+2],' '))) AS s FROM tok)), " +
        "card AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id), " +
        "inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i " +
        "FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id " +
        "GROUP BY da, db), " +
        "pairs AS (SELECT da, db FROM inter " +
        "JOIN card ca ON ca.doc_id = da JOIN card cb ON cb.doc_id = db " +
        "WHERE CAST(i AS DOUBLE)/(ca.c+cb.c-i) >= 0.8), " +
        "edges AS (SELECT da AS src, db AS dst FROM pairs " +
        "UNION ALL SELECT db, da FROM pairs), " +
        "reach AS (SELECT src AS node, src AS lbl FROM edges " +
        "UNION SELECT e.dst AS node, r.lbl FROM reach r " +
        "JOIN edges e ON e.src = r.node), " +
        "comp AS (SELECT node, min(lbl) AS cluster_rep FROM reach " +
        "GROUP BY node) " +
        "SELECT node AS doc_id, cluster_rep, " +
        "count(*) OVER (PARTITION BY cluster_rep) AS cluster_size " +
        "FROM comp ORDER BY doc_id")),

    GraftQuery(
      "q_dedup_minhash",
      "MinHash+LSH near-dup pairs: 64-hash signatures, 16x4 banding, " +
        "bucket self-join for candidates, exact-Jaccard verification at " +
        "tau=0.8. Oracle-exempt (hash-function specific); DedupSpec " +
        "asserts precision 1.0 against q_ngram_jaccard.",
      (s, d) => {
        val docs = Tables.documents(s, d)
        // cached: verifyJaccard references the shingle frame 3x; the
        // cache lives only until the verified pairs are materialized
        // (same hygiene as jaccardPairsM)
        val sh = explodedShingles(docs).cache()
        val (out, _) = materialized(
          verifyJaccard(minhashCandidates(docs), sh, 0.8,
            prefilter = docs.count() >= PrefilterMinDocs))
        sh.unpersist(blocking = false)
        out.orderBy("da", "db")
      },
      None),

    GraftQuery(
      "q_dedup_simhash",
      "SimHash near-dup pairs: 64-bit signatures, 4x16-bit chunk " +
        "pigeonhole blocking, exact hamming filter <= 3 via " +
        "bit_count(xor). Oracle-exempt; laws in DedupSpec.",
      (s, d) => {
        val sigs = Tables.spreadSized(Tables.documents(s, d), 1L << 20, col("doc_id"))
          .select(col("doc_id"), simhash(col("text")).as("sig"))
        val chunks = sigs.select(col("doc_id"), col("sig"),
          explode(transform(sequence(lit(0), lit(3)),
            c => struct(c.as("chunk"),
              call_function("shiftright", col("sig"), c * 16).bitwiseAND(lit(0xFFFFL))
                .as("ckey")))).as("cc"))
          .select(col("doc_id"), col("sig"), col("cc.chunk"), col("cc.ckey"))
        chunks.as("a")
          .join(chunks.as("b"),
            col("a.chunk") === col("b.chunk") &&
              col("a.ckey") === col("b.ckey") &&
              col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
            bit_count(col("a.sig").bitwiseXOR(col("b.sig")))
              .cast("bigint").as("hamming"))
          // hamming is deterministic per pair, so filtering BEFORE the
          // distinct is identical — and the distinct's shuffle then
          // carries only the (small) true near-dup set instead of
          // every pigeonhole candidate
          .filter(col("hamming") <= 3)
          .distinct()
          .orderBy("da", "db")
      },
      None),

    GraftQuery(
      "q_span_dup",
      "Cross-document duplicated-span detection (the C4-style exact " +
        "long-span pass, complementary to n-gram Jaccard near-dup): " +
        "per-doc DISTINCT 8-token span hashes in ONE native " +
        "shingle_hashes call per row, a per-span document count, and " +
        "each doc's fraction of spans appearing in at least one other " +
        "document. Shuffles only 8-byte hashes — the span text never " +
        "leaves the scan (two map-only span passes; at test scale the " +
        "optimizer even broadcasts the join side, at corpus scale both " +
        "sides co-partition on the hash); per-span counts partial-" +
        "aggregate map-side. Cost tracks Σ tokens, never corpus². The " +
        "oracle recomputes over span STRINGS — equality modulo a " +
        "2^-64 xxhash collision.",
      (s, d) => {
        val spans = Tables.spreadSized(Tables.documents(s, d), 1L << 20, col("doc_id"))
          .select(col("doc_id"),
            explode(call_function("shingle_hashes",
              split(col("text"), " "), lit(8))).as("h"))
        val spanDocs = spans.groupBy("h").agg(count(lit(1)).as("nd"))
        spans.join(spanDocs, "h")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_spans"),
            count(when(col("nd") >= 2, 1)).as("n_dup_spans"))
          .select(col("doc_id"), col("n_spans"), col("n_dup_spans"),
            round(col("n_dup_spans") / col("n_spans"), 6).as("dup_frac"))
          .orderBy("doc_id")
      },
      Some("WITH t AS (SELECT doc_id, str_split(text, ' ') AS toks " +
        "FROM documents), " +
        "s AS (SELECT DISTINCT doc_id, " +
        "array_to_string(toks[i:i+7], ' ') AS span FROM t, " +
        "UNNEST(generate_series(1, greatest(len(toks) - 7, 1))) " +
        "AS g(i)), " +
        "df AS (SELECT span, count(*) AS nd FROM s GROUP BY span) " +
        "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans, " +
        "CAST(count(*) FILTER (WHERE nd >= 2) AS BIGINT) " +
        "AS n_dup_spans, " +
        "round(count(*) FILTER (WHERE nd >= 2) / count(*), 6) " +
        "AS dup_frac " +
        "FROM s JOIN df USING (span) GROUP BY doc_id ORDER BY doc_id")),

    GraftQuery(
      "q_dedup_delta",
      "INCREMENTAL exact-Jaccard near-dup: all tau>=0.8 pairs touching " +
        "a 'newly ingested' batch (doc_id % 5 = 4, ~20%), found by " +
        "probing the PERSISTED shingle index over the other 80% " +
        "(ensureShingleIndex) — the 100-TB ingest shape, where " +
        "re-shingling the corpus per arriving batch is the thing a " +
        "real pipeline cannot afford. Only the batch is shingled at " +
        "query time: batch prefixes (corpus-rarity-ordered via the " +
        "stored df table; unseen shingles rank rarest) join the " +
        "bucketed postings table for batch-corpus candidates and the " +
        "batch's own shingles for batch-batch ones; verification reads " +
        "stored sorted sets for corpus docs. Results are EXACT and " +
        "equal q_ngram_jaccard restricted to batch-touching pairs " +
        "(DedupSpec law + the DuckDB oracle, which recomputes " +
        "relationally with no index).",
      (s, d) => {
        val (frame, sh) = deltaDedup(s, d)
        val (out, _) = materialized(frame)
        sh.unpersist(blocking = false)
        out.orderBy("da", "db")
      },
      Some("WITH tok AS (SELECT doc_id, str_split(text,' ') AS t " +
        "FROM documents), " +
        "sh AS (SELECT DISTINCT doc_id, s FROM (SELECT doc_id, " +
        "unnest(list_transform(range(1, greatest(len(t)-2,1)+1), " +
        "i -> array_to_string(t[i:i+2],' '))) AS s FROM tok)), " +
        "card AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id), " +
        "inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i " +
        "FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id " +
        "WHERE a.doc_id % 5 = 4 OR b.doc_id % 5 = 4 " +
        "GROUP BY da, db) " +
        "SELECT da, db, round(CAST(i AS DOUBLE)/(ca.c+cb.c-i), 6) " +
        "AS jaccard " +
        "FROM inter JOIN card ca ON ca.doc_id = da " +
        "JOIN card cb ON cb.doc_id = db " +
        "WHERE CAST(i AS DOUBLE)/(ca.c+cb.c-i) >= 0.8 ORDER BY da, db"))
  )
}
