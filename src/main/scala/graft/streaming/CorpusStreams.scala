package graft.streaming

import graft.functions.ShingleHashes
import graft.operators.{Dedup, Retrieval, Similarity}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupStateTimeout,
  OutputMode}

/** Streaming twins of the corpus-hygiene batch operators
  * (operators.Dedup `q_decontaminate` / `q_span_dup`) — the ingest-time
  * shape of an LLM data pipeline: documents arrive continuously and
  * contamination / cross-document span duplication is flagged as they
  * land, instead of by a retrospective batch sweep. The batch operators
  * remain the bulk path; these close the batch↔streaming symmetry the
  * events family already has (EventStreams), and StreamingSpec pins
  * stream == batch on the planted near-dup corpus.
  */
object CorpusStreams {

  final case class Doc(doc_id: Long, text: String)

  /** A flagged duplicated span: document `doc_id` contains span hash
    * `h`, and `h` occurs in at least one other document seen so far. */
  final case class SpanHit(doc_id: Long, h: Long)

  final case class SpanState(firstDoc: Long, n: Long)

  /** Tokenize exactly like the batch operators' `split(col, " ")`:
    * Spark's split is Java regex split with limit -1 (trailing empty
    * strings kept). */
  private def toks(text: String): Array[String] = text.split(" ", -1)

  /** Distinct 3-token grams of `text`, as strings — the batch
    * q_decontaminate gram definition (size >= 3 or none), first-seen
    * order. */
  private[streaming] def grams3(text: String): Seq[String] = {
    val t = toks(text)
    if (t.length < 3) Seq.empty
    else {
      val seen = new java.util.LinkedHashSet[String]()
      var i = 0
      while (i <= t.length - 3) {
        seen.add(t(i) + " " + t(i + 1) + " " + t(i + 2))
        i += 1
      }
      import scala.jdk.CollectionConverters._
      seen.asScala.toSeq
    }
  }

  /** Streaming decontamination: each arriving training document is
    * checked against a FIXED eval set (a benchmark suite), emitting
    * (train_id, eval_id, n_shared) for every eval doc sharing at least
    * `minShared` distinct 3-grams — the same contamination signal as
    * the batch q_decontaminate, row for row.
    *
    * Scale shape is the batch operator's, transplanted: the eval side
    * is fixed-size while the train stream is unbounded, so the eval
    * gram index is built ONCE on the driver and broadcast; each train
    * doc is then scored in a pure per-row flatMap — NO state store, NO
    * shuffle, NO watermark, and Append mode works because a document's
    * verdict depends only on itself and the static eval set. A 100
    * TB/day firehose passes through map-only. */
  def decontaminateStream(train: Dataset[Doc], evalDocs: DataFrame,
                          minShared: Int = 3): DataFrame = {
    val sp = train.sparkSession
    import sp.implicits._
    // eval gram -> eval doc ids; driver-sized by the fixed-benchmark
    // argument (the batch operator broadcasts the same exploded frame)
    val evalIndex: Map[String, Array[Long]] =
      evalDocs.select("doc_id", "text").as[Doc].collect()
        .flatMap(d => grams3(d.text).map(_ -> d.doc_id))
        .groupBy(_._1).map { case (g, xs) => g -> xs.map(_._2) }
    val bc = sp.sparkContext.broadcast(evalIndex)
    train.flatMap { d =>
      val idx = bc.value
      val counts = collection.mutable.Map.empty[Long, Long]
      grams3(d.text).foreach { g =>
        idx.getOrElse(g, Array.emptyLongArray).foreach { ev =>
          counts(ev) = counts.getOrElse(ev, 0L) + 1L
        }
      }
      counts.iterator
        .filter { case (_, n) => n >= minShared }
        .map { case (ev, n) => (d.doc_id, ev, n) }
    }.toDF("train_id", "eval_id", "n_shared")
  }

  /** A doc's packing verdict — the streaming twin of q_seq_pack's
    * output row. */
  final case class PackedDoc(doc_id: Long, shard: Long, n_tokens: Long,
                             bin: Long, bin_offset: Long)

  /** Streaming concat-and-chunk sequence packing: docs land in `nsh`
    * independent pack streams (doc_id mod nsh), each stream carries
    * one Long of state — its cumulative token count — and every
    * arriving doc is placed at the current offset (bin = cum DIV b,
    * offset = cum mod b), exactly the batch q_seq_pack arithmetic.
    * Parallelism is |streams|, state is 8 bytes per stream, and the
    * stream == batch equality holds when docs arrive doc_id-ascending
    * per stream (an append-ordered ingest; within one micro-batch any
    * order works — the group sorts its batch slice). */
  def seqPackStream(docs: Dataset[Doc], nsh: Int = 32,
                    b: Long = 512): Dataset[PackedDoc] = {
    val sp = docs.sparkSession
    import sp.implicits._
    docs
      .map(d => (d.doc_id, d.doc_id % nsh, toks(d.text).length.toLong))
      .groupByKey(_._2)
      .flatMapGroupsWithState[Long, PackedDoc](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (shard: Long, rows: Iterator[(Long, Long, Long)],
         state: org.apache.spark.sql.streaming.GroupState[Long]) =>
          var cum = state.getOption.getOrElse(0L)
          val out = rows.toSeq.sortBy(_._1).map { case (id, sh, n) =>
            val r = PackedDoc(id, sh, n, cum / b, cum % b)
            cum += n
            r
          }
          state.update(cum)
          out.iterator
      }
  }

  /** Streaming calibrated quality filter — the ingest-time twin of
    * q_quality_calibrated. The batch operator recalibrates its 20th-
    * percentile cutoff over the WHOLE corpus every run; a stream
    * cannot (a percentile over an unbounded stream is a moving,
    * non-append-able aggregate), so the cutoff is FROZEN at
    * calibration time ([[calibrateQuality]] over a batch snapshot)
    * and rides into the stream as a literal — scoring stays map-only
    * column arithmetic (zero state, zero shuffle, Append mode), and
    * it is the SAME `qualityExpr` column the batch operator compiles,
    * so scores are bit-identical by construction.
    *
    * Drift caveat: as the ingest distribution moves away from the
    * calibration snapshot, the fixed cutoff's keep-rate drifts off
    * the batch operator's exact 80% retention. That is inherent to
    * any frozen-threshold online filter; production re-runs
    * [[calibrateQuality]] on a cadence (or on a sliding sample) and
    * restarts the query, and the batch operator remains the
    * retrospective exact path. Stream == batch holds exactly when the
    * cutoff equals the batch run's (same snapshot), which
    * StreamingSpec pins across a micro-batch boundary. */
  def qualityFilterStream(docs: DataFrame, cutoff: Double): DataFrame =
    docs.select(col("doc_id"),
        graft.operators.TextAnalysis.qualityExpr.as("q"))
      .select(col("doc_id"), round(col("q"), 6).as("quality"),
        round(lit(cutoff), 6).as("cutoff"),
        (col("q") >= lit(cutoff)).as("keep"))

  /** The batch side of [[qualityFilterStream]]'s contract: the exact
    * rank-based `p`-quantile of the quality score over a calibration
    * snapshot (percentile_approx at max accuracy = the actual row
    * value q_quality_calibrated uses). */
  def calibrateQuality(calibration: DataFrame, p: Double = 0.2): Double =
    calibration
      .select(graft.operators.TextAnalysis.qualityExpr.as("q"))
      .agg(expr(s"percentile_approx(q, $p, 2147483647)"))
      .head.getDouble(0)

  /** A frozen bigram LM: unigram/bigram occurrence counts (by the
    * same xxhash64 keys as the batch scorer) plus the observed vocab
    * size. Driver-sized by the calibration corpus — production prunes
    * singleton bigrams / caps the table before broadcast; the
    * synthetic calibration corpora are far below any such bound. */
  final case class BigramLm(uni: Map[Long, Long],
                            big: Map[(Long, Long), Long], vocab: Long)

  /** Train [[BigramLm]] on a calibration snapshot with the batch
    * scorer's own column pipeline (bigram_hashes / xxhash64, seed 42),
    * so hash keys and counts are bit-identical to q_ngram_lm's. */
  def trainLm(calibration: DataFrame): BigramLm = {
    graft.functions.GraftFunctions.register(calibration.sparkSession)
    val tk = split(col("text"), " ")
    val big = calibration
      .select(explode(call_function("bigram_hashes", tk)).as("bg"))
      .groupBy("bg.h1", "bg.h2").agg(count(lit(1)).as("c2"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    val uni = calibration.select(explode(tk).as("w"))
      .select(xxhash64(col("w")).as("h1"))
      .groupBy("h1").agg(count(lit(1)).as("c1"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    BigramLm(uni, big, uni.size.toLong)
  }

  /** The batch side of [[perplexityFilterStream]]'s contract: the
    * exact rank-based `p`-quantile of avg_nll over the calibration
    * snapshot, scored by the shared batch scorer. */
  def calibratePerplexity(calibration: DataFrame,
                          p: Double = 0.9): Double =
    graft.operators.TextAnalysis.lmNllOf(calibration, occAgg = false)
      .agg(expr(s"percentile_approx(avg_nll, $p, 2147483647)"))
      .head.getDouble(0)

  /** A doc's streaming LM verdict — the q_perplexity_filter output
    * row plus the bigram count. */
  final case class LmVerdict(doc_id: Long, n_bigrams: Long,
                             avg_nll: Double, cutoff: Double,
                             keep: Boolean)

  /** Streaming perplexity filter — the ingest-time twin of
    * q_perplexity_filter. The batch operator SELF-trains (counts over
    * the corpus it scores); a stream cannot join every arriving doc
    * against counts that the same doc updates, so the LM *and* the
    * percentile cutoff are frozen at calibration time ([[trainLm]] /
    * [[calibratePerplexity]]) and broadcast, and each doc is scored in
    * a pure per-row flatMap — no state store, no shuffle, Append mode,
    * a 100 TB/day firehose passes through map-only (the
    * decontaminateStream shape, with the same drift caveat as
    * [[qualityFilterStream]]: re-train on a cadence, batch op as the
    * retrospective exact path).
    *
    * Per-doc arithmetic mirrors the batch scorer STEP FOR STEP — the
    * same add-one smoothing term -ln((c2+1)/(c1+v)) rounded to 8 dp
    * (Spark's Round: HALF_UP via Double.toString), summed EXACTLY as
    * DECIMAL(28,8) (the decSum rule: cast, exact add, one cast back),
    * divided by the bigram count in double, rounded to 6 — so a doc
    * whose bigrams all appear in the LM scores bit-identically to
    * q_ngram_lm, which is what lets StreamingSpec pin stream == batch
    * exactly. Bigrams unseen at calibration fall back to the same
    * smoothing formula with c=0 (that term exists in no batch run —
    * the one semantic, not numeric, divergence of the frozen-LM
    * shape). Docs with <2 tokens carry no bigrams and drop, the batch
    * scope rule. */
  def perplexityFilterStream(docs: Dataset[Doc], lm: BigramLm,
                             cutoff: Double): Dataset[LmVerdict] = {
    val sp = docs.sparkSession
    import sp.implicits._
    val bc = sp.sparkContext.broadcast(lm)
    docs.flatMap { d =>
      val t = toks(d.text)
      if (t.length < 2) Iterator.empty
      else {
        val avg = nllOf(t, bc.value)
        Iterator.single(LmVerdict(d.doc_id, t.length - 1L, avg,
          round6(cutoff), avg <= cutoff))
      }
    }
  }

  /** Cadenced re-calibration for the frozen-threshold stream filters
    * — the operator the [[qualityFilterStream]] /
    * [[perplexityFilterStream]] drift caveats defer to ("production
    * re-calibrates on a cadence"): every `every`-th micro-batch, the
    * calibration closure re-runs over the caller's snapshot (the
    * ingested-so-far table, a sliding sample — the caller owns the
    * window policy) and every LATER batch scores under the new frozen
    * state. Between boundaries the state is immutable, so each
    * micro-batch is still scored by pure map-only arithmetic — the
    * cadence lives entirely at the foreachBatch boundary, which is
    * driver-side code between jobs, exactly where Structured
    * Streaming allows side-effecting control flow.
    *
    * `onBatch` is idempotent per batch id: foreachBatch REPLAYS a
    * batch id on recovery, and a replayed boundary must score under
    * the same state it originally did, not advance the cadence. */
  final class Recalibrator[S](calibrate: () => S, every: Int) {
    require(every >= 1, s"recalibration cadence must be >= 1, got $every")
    @volatile private var current: S = calibrate()
    private var applied = -1L
    def state: S = current
    def onBatch(id: Long): S = synchronized {
      if (id > applied) {
        applied = id
        if (id > 0 && id % every == 0) current = calibrate()
      }
      current
    }
  }

  /** [[qualityFilterStream]] under a [[Recalibrator]]: identical
    * map-only scoring per micro-batch, cutoff re-frozen on the
    * cadence. `sink` receives each scored batch (StreamingSpec pins
    * post-recalibration batches == the batch operator's scoring under
    * the new snapshot). */
  def qualityFilterStreamCadenced(docs: DataFrame,
      recal: Recalibrator[Double])(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    docs.writeStream.outputMode("append").foreachBatch {
      (b: Dataset[Row], id: Long) =>
        sink(qualityFilterStream(b.toDF(), recal.onBatch(id)), id)
    }

  /** [[perplexityFilterStream]] under a [[Recalibrator]] carrying
    * (LM, cutoff) — re-training and re-thresholding happen together,
    * at the same boundary, so a batch can never score against a new
    * LM with a stale cutoff. */
  def perplexityFilterStreamCadenced(docs: Dataset[Doc],
      recal: Recalibrator[(BigramLm, Double)])(
      sink: (Dataset[LmVerdict], Long) => Unit): DataStreamWriter[Doc] =
    docs.writeStream.outputMode("append").foreachBatch {
      (b: Dataset[Doc], id: Long) =>
        val (lm, cutoff) = recal.onBatch(id)
        sink(perplexityFilterStream(b, lm, cutoff), id)
    }

  /** One micro-batch of an index-backed ingest stream as [[ingest]]
    * hands it to the stream's emit step: the pinned rows, the
    * streaming batch id, its index tag `streamId_id`, and whether the
    * family's manifest already lists that tag (a replay). */
  private final case class Arrival(s: SparkSession, rows: DataFrame,
                                   id: Long, tag: String, replay: Boolean)

  /** An index family as [[ingest]] calls it: `applied` is the replay
    * probe (None: the family never reports a replay), `append` folds
    * the batch in (None: the emit step folds, because its emission
    * must follow the fold), `maintain` is the family's measured
    * maintenance policy. */
  private final case class Family(
      applied: Option[(SparkSession, String, String) => Boolean],
      append: Option[(SparkSession, String, DataFrame, String) => Unit],
      maintain: (SparkSession, String) => Unit)

  private val Shingle = Family(
    Some((s, d, t) => Dedup.isShingleBatchApplied(s, d, t)),
    Some((s, d, b, t) => Dedup.appendToShingleIndex(s, d, b, t)),
    (s, d) => Dedup.maintainShingleIndex(s, d))

  private val Ivf = Family(
    Some((s, d, t) => Similarity.isIvfBatchApplied(s, d, t)),
    Some((s, d, b, t) => Similarity.appendToIvfIndex(s, d, b, t)),
    (s, d) => Similarity.maintainIvfIndex(s, d))

  private val Lex = Family(
    Some((s, d, t) => Retrieval.isLexBatchApplied(s, d, t)),
    Some((s, d, b, t) => Retrieval.appendToLexIndex(s, d, b, t)),
    (s, d) => Retrieval.maintainLexIndex(s, d))

  /** The kNN graph: no replay probe (its emission follows the fold, so
    * a replay re-reads what it emitted), the fold is the emit step, and
    * maintenance checks the vector layer FIRST — a drift-triggered
    * refresh changes the quantizer fingerprint, which the graph
    * maintain's own ensure detects as staleness and rebuilds right
    * here, inside the stream (the r20 streamed ingest smoke measured
    * this batch's wall); a healthy index makes both a measurement. */
  private def graphFamily(k: Int) = Family(None, None, { (s, d) =>
    Similarity.maintainIvfIndex(s, d)
    Similarity.maintainKnnGraphIndex(s, d, k)
  })

  /** The one micro-batch loop of the six index-backed ingest streams
    * ([[deltaDedupStream]], [[dedupIngestStream]], [[annStream]],
    * [[graphIngestStream]], [[semanticIngestStream]],
    * [[searchIngestStream]]). It runs at the foreachBatch boundary —
    * driver-side code between jobs, where the probes' row_number
    * windows (unsupported on an unbounded streaming frame) are plain
    * batch code — and per micro-batch:
    *
    *  1. pins the batch (`localCheckpoint`), so the emit step, the
    *     append and the maintain read the same rows;
    *  2. forms the batch's index tag `streamId_id`;
    *  3. asks the family's manifest whether that tag is already
    *     applied. A listed tag arriving again is a foreachBatch REPLAY:
    *     the driver crashed after the append committed and before the
    *     streaming checkpoint did. The emit step then probes with the
    *     batch's own rows excluded (the family's excludeBatch /
    *     excludeProbes view), which restores the pre-append index, so
    *     the replay emits what the original did instead of wedging on
    *     the disjointness guard or finding the batch as its own
    *     neighbour;
    *  4. runs the stream's emit step, which hands the sink its frame;
    *  5. with `maintainIndex`, appends the batch (idempotent per tag:
    *     a replay's append no-ops; arriving ids must be new, or the
    *     append throws). Later batches of the stream probe an index
    *     that holds this one — the micro-batch session's relation
    *     cache refreshes on write; any OTHER session that already read
    *     the index sees the appends after `spark.catalog.refreshTable`,
    *     standard Spark relation-cache semantics;
    *  6. with `maintainIndex`, every `maintainEvery` batches (0 =
    *     never; leave it to an external `Cli maintain`), runs the
    *     family's measured policy (rule 24, [[graft.operators
    *     .Maintenance]]): it measures each symptom and compacts,
    *     refreshes or re-refines only when that symptom is present, so
    *     a healthy index pays a manifest read or an occupancy scan,
    *     never a rewrite. Never on a replay: a refresh over rows that
    *     now include the batch would churn cells a second time; if the
    *     crash fell before the original pass, the next hit catches up
    *     (maintenance is never correctness). The loop SERIALIZES
    *     maintenance with appends; an external refresh while a
    *     maintaining stream runs is not supported (the append's
    *     centroid read would race the table swap). Guarantee scope:
    *     replay equality holds for every crash window EXCEPT between a
    *     batch's own refresh and its checkpoint commit — there the
    *     replayed emission is still an exact top-k over the pre-batch
    *     corpus, but refreshed cells can admit a different neighbour
    *     set at recall boundaries. Compaction is a pure layout fold,
    *     so no emission depends on when it runs.
    *
    * `sink` must consume its frame before returning: the emit steps
    * release or re-pin per-batch state after it. */
  private def ingest[T](in: Dataset[T], dir: String, streamId: String,
                        family: Family, maintainIndex: Boolean,
                        maintainEvery: Int)(emit: Arrival => Unit)
      : DataStreamWriter[T] =
    in.writeStream.outputMode("append").foreachBatch {
      (b: Dataset[T], id: Long) =>
        val s = b.sparkSession
        val rows = b.toDF().localCheckpoint()
        val tag = s"${streamId}_$id"
        val replay = family.applied.exists(_(s, dir, tag))
        emit(Arrival(s, rows, id, tag, replay))
        if (maintainIndex) {
          family.append.foreach(_(s, dir, rows, tag))
          if (!replay && maintainEvery > 0 && (id + 1) % maintainEvery == 0)
            family.maintain(s, dir)
        }
    }

  /** The shingle family's probe: the arrival's exact tau>=0.8 pairs in
    * (da, db) order — in excludeBatch mode on a replay — handed to
    * `use`, then the batch's shingle cache released (evaluating the
    * frame later still yields correct rows, uncached). */
  private def deltaPairs[A](dir: String, a: Arrival)(use: DataFrame => A): A = {
    val (frame, sh) = Dedup.deltaDedupOf(a.s, dir, a.rows,
      checkDisjoint = !a.replay, excludeBatch = a.replay)
    try use(frame.orderBy("da", "db"))
    finally sh.unpersist(blocking = false)
  }

  /** Streaming twin of q_dedup_delta — the ingest-time dedup a 100 TB
    * pipeline actually runs: documents ARRIVE continuously and each
    * micro-batch probes the PERSISTED shingle index
    * (operators.Dedup.ensureShingleIndex over `dir`'s corpus slice),
    * emitting every exact tau>=0.8 pair touching the arrivals —
    * arrival-vs-corpus and within-micro-batch, identical to the batch
    * operator on the same documents (StreamingSpec pins it per batch).
    * The index freshness check is memoized per context, so steady-
    * state per-batch overhead is nil. The micro-batch runs through the
    * [[ingest]] loop.
    *
    * Cross-micro-batch pairs — `maintainIndex` decides:
    *
    *  - `maintainIndex = true` (the ingest deployment): after `sink`
    *    returns, the micro-batch is FOLDED INTO the persisted index
    *    ([[graft.operators.Dedup.appendToShingleIndex]]). Batch k+1
    *    then probes an index containing batches 1..k, so the streamed
    *    union of emissions equals the one-big-batch result EXACTLY —
    *    no blind spot (StreamingSpec pins the equality). Append cost
    *    tracks the batch, not the corpus. The emitted frame is computed
    *    against the pre-append index (its own docs must not be in it:
    *    disjointness).
    *  - `maintainIndex = false`: pairs between different micro-batches
    *    are out of the contract, and — precisely — stay out until an
    *    EXPLICIT index rebuild or appendToShingleIndex call, or an
    *    application restart whose freshness check sees a changed
    *    corpus slice. Use only when batches are known disjoint in
    *    content (e.g. partitioned by source). */
  def deltaDedupStream(docs: Dataset[Doc], dir: String,
                       maintainIndex: Boolean = false,
                       streamId: String = "stream",
                       maintainEvery: Int = 0)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Doc] =
    ingest(docs, dir, streamId, Shingle, maintainIndex, maintainEvery) {
      a => deltaPairs(dir, a)(sink(_, a.id))
    }

  /** An arriving near-dup pair for [[ccStream]] (da < db by the
    * dedup-pair convention; order is normalized defensively). */
  final case class Pair(da: Long, db: Long)

  /** A component-label assignment emitted by [[ccStream]]: `node` now
    * belongs to the component labeled `lbl` (= the component's min
    * node id). A node re-emits whenever a merge changes its label. */
  final case class CcUpdate(node: Long, lbl: Long)

  /** The driver-side incremental union-find behind [[Components]]:
    * path compression, union-by-min-id (so labels are deterministic
    * and arrival-order-independent), and changed-label draining
    * against the last emission. State size is the dup-pair GRAPH (the
    * LocalCcMaxEdges driver-branch argument). */
  private final class UnionFindState {
    private val parent = scala.collection.mutable.Map.empty[Long, Long]
    private val emitted = scala.collection.mutable.Map.empty[Long, Long]
    private def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    /** Fold one undirected edge in (orientation normalized, so
      * malformed input cannot corrupt min-labels). */
    def union(a0: Long, b0: Long): Unit = {
      val (a, b) = if (a0 <= b0) (a0, b0) else (b0, a0)
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) {
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
    }
    /** Every node whose component label differs from what was last
      * drained — including ripple relabels from bridge merges. */
    def drainChanged(): Seq[CcUpdate] =
      parent.keys.toSeq.sorted.flatMap { n =>
        val l = find(n)
        if (emitted.get(n).contains(l)) None
        else { emitted(n) = l; Some(CcUpdate(n, l)) }
      }
    /** Restart seeding: mark every node's CURRENT label as already
      * emitted, so the next drain emits only post-seed changes. Used
      * when the state is rebuilt from the durable edge log — those
      * edges' labels were emitted (and consumed) before the restart. */
    def markAllEmitted(): Unit =
      parent.keys.foreach(n => emitted(n) = find(n))
  }

  /** Rebuild a [[UnionFindState]] from the durable per-batch edge log
    * under `stateDir/pairs` — the restart-recovery path of
    * [[Components]]. Every batch whose streaming checkpoint committed
    * also committed its edge-log dir (the log is written BEFORE the
    * checkpoint commit, inside foreachBatch), so after a driver
    * restart the seeded state contains at least every committed
    * batch's edges; the one possibly-uncommitted batch replays and
    * re-unions idempotently. Seeded labels are marked already-emitted:
    * their CcUpdates were delivered before the restart (the log write
    * happens AFTER `sink` returns, so a batch logged means a batch
    * emitted). Edge-log size is the dup-pair graph — the
    * LocalCcMaxEdges driver-branch argument. */
  private def seededUnionFind(s: SparkSession,
                              stateDir: String): UnionFindState = {
    val state = new UnionFindState
    val p = new org.apache.hadoop.fs.Path(stateDir, "pairs")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) {
      val edges = s.read.schema("da LONG, db LONG")
        .option("recursiveFileLookup", "true").parquet(p.toString)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      edges.foreach { case (a, b) => state.union(a, b) }
      state.markAllEmitted()
      // consolidate the log while we hold it all anyway: a year of
      // daily batches is hundreds of tiny per-batch dirs, and every
      // restart would re-list and re-open all of them. Fold into ONE
      // seed dir, write-then-delete order — a crash between the two
      // leaves duplicate edges, which idempotent unions absorb on the
      // next seed; a replayed batch still overwrites its own b_<id>
      // dir, never b_seed.
      val subdirs = fs.listStatus(p).filter(_.isDirectory)
      if (subdirs.length > 8) {
        import s.implicits._
        edges.toSeq.toDF("da", "db").coalesce(1)
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(new org.apache.hadoop.fs.Path(p, "b_seed").toString)
        subdirs.filter(_.getPath.getName != "b_seed")
          .foreach(d => fs.delete(d.getPath, true))
      }
    }
    state
  }

  /** Durably log one batch's pairs under `stateDir/pairs/b_<id>` —
    * overwrite per batch id, so an at-least-once replay rewrites the
    * same rows (idempotent). */
  private def logPairs(s: SparkSession, stateDir: String, id: Long,
                       pairs: Seq[(Long, Long)]): Unit = {
    import s.implicits._
    pairs.toDF("da", "db").coalesce(1)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(new org.apache.hadoop.fs.Path(
        new org.apache.hadoop.fs.Path(stateDir, "pairs"),
        s"b_$id").toString)
  }

  /** The one union-find step of [[ccStream]], [[dedupIngestStream]]
    * and [[semanticIngestStream]]: the state is seeded from
    * `stateDir`'s edge log when one is given (process-local
    * otherwise); each batch's pairs are unioned, the changed labels
    * handed to the sink, and THEN the pairs logged. Sink before log: a
    * logged batch is an emitted batch, because the restart seed marks
    * logged labels delivered — logged first, a crash before the sink
    * would leave a replay with no label change to drain. Replays
    * re-apply the same unions (idempotent merges), so they emit
    * nothing new. */
  private final class Components(s: SparkSession,
                                 stateDir: Option[String]) {
    private val state =
      stateDir.fold(new UnionFindState)(seededUnionFind(s, _))
    def fold(b: SparkSession, id: Long, pairs: Seq[(Long, Long)])(
        sink: Seq[CcUpdate] => Unit): Unit = {
      pairs.foreach { case (x, y) => state.union(x, y) }
      sink(state.drainChanged())
      stateDir.foreach(logPairs(b, _, id, pairs))
    }
  }

  /** Incremental connected components over a STREAM of near-dup pairs
    * — the groups-side ingest twin ([[deltaDedupStream]] emits the
    * pairs; this maintains `q_dedup_groups`' (node, lbl) view of them
    * without ever recomputing the graph). Each micro-batch's pairs
    * fold into the driver-side union-find ([[Components]], microseconds
    * per edge); `sink` receives the CHANGED label rows — every node
    * whose component label differs from what was last emitted,
    * including ripple relabels when a bridge pair merges two existing
    * components. Labels are lbl = min node id, so they are
    * deterministic and NEVER depend on arrival order: after any
    * prefix of batches the cumulative emitted state equals
    * `Dedup.connectedComponents` over the union of pairs so far
    * (StreamingSpec law).
    *
    * Scale posture: the state is the DUP-PAIR graph, which is small
    * relative to its corpus by construction (it IS the duplicate
    * list) — the same LocalCcMaxEdges argument that sizes the batch
    * operator's driver branch; a corpus whose dup graph outgrows
    * driver memory re-shards the stream by component-connected key
    * ranges or falls back to the batch operator's distributed
    * pointer-jumping on a cadence.
    *
    * With `stateDir` set, the union-find survives a DRIVER RESTART: a
    * new ccStream call over the same stateDir seeds its state from the
    * edge log, so the cumulative-labels law holds across a stop +
    * restart with the same checkpointLocation, not just within one
    * process lifetime (StreamingSpec pins it). */
  def ccStream(pairs: Dataset[Pair], stateDir: Option[String] = None)(
      sink: (Seq[CcUpdate], Long) => Unit): DataStreamWriter[Pair] = {
    val cc = new Components(pairs.sparkSession, stateDir)
    pairs.writeStream.outputMode("append").foreachBatch {
      (b: Dataset[Pair], id: Long) =>
        // the batch IS the duplicate list for these arrivals — small
        // by the same argument as the driver-CC gate
        cc.fold(b.sparkSession, id, b.collect().toSeq.map(p => (p.da, p.db)))(
          sink(_, id))
    }
  }

  /** The FULL ingest-dedup loop as one streaming query — what a
    * 100 TB pipeline actually deploys: each arriving micro-batch is
    * probed against the maintained shingle index (exact tau>=0.8
    * pairs vs corpus, vs every earlier batch, and within-batch — the
    * [[deltaDedupStream]] maintenance contract), the verified pairs
    * fold straight into the incremental component state (the
    * [[Components]] step of [[ccStream]], no intermediate topic
    * needed), and the batch is appended to the index before the next
    * one probes ([[ingest]]). `sink` receives (verified pairs of this
    * batch, changed component labels, batch id) — the pair list is
    * handed as collected rows because it feeds the driver-side
    * union-find anyway and is dup-list-sized by construction.
    *
    * Laws (StreamingSpec): cumulative pairs == the one-big-batch
    * delta operator on the same docs; cumulative labels ==
    * `Dedup.connectedComponents` over those pairs — i.e. the stream
    * converges to exactly q_dedup_delta + q_dedup_groups semantics,
    * arrival-split-independent. Replays re-probe (emitting the same
    * pairs), no-op the append, and change no labels. */
  def dedupIngestStream(docs: Dataset[Doc], dir: String,
                        streamId: String = "ingest",
                        maintainEvery: Int = 0,
                        stateDir: Option[String] = None)(
      sink: (Seq[(Long, Long, Double)], Seq[CcUpdate], Long) => Unit)
      : DataStreamWriter[Doc] = {
    val cc = new Components(docs.sparkSession, stateDir)
    ingest(docs, dir, streamId, Shingle, maintainIndex = true,
        maintainEvery) { a =>
      val pairs = deltaPairs(dir, a)(_.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq)
      cc.fold(a.s, a.id, pairs.map(p => (p._1, p._2)))(sink(pairs, _, a.id))
    }
  }

  /** An arriving embedding row for [[annStream]]. */
  final case class Vec(vec_id: Long, embedding: Array[Float])

  /** Streaming twin of q_ann_ivf_probe — similarity search as an
    * ingest-time service: each micro-batch of QUERY vectors probes
    * the PERSISTED IVF index over `dir`'s embeddings
    * (operators.Similarity.ensureIvfIndex) and `sink` receives the
    * exact-cosine top-k per probe, identical to the batch probe on
    * the same vectors (StreamingSpec pins it per batch). The index
    * freshness check is memoized per context, so steady-state
    * per-batch overhead is one bucket-pruned scan of the probed cells.
    * The micro-batch runs through the [[ingest]] loop.
    *
    * With `maintainIndex = true` the micro-batch is ALSO folded into
    * the index after `sink` returns
    * ([[graft.operators.Similarity.appendToIvfIndex]]): arrivals
    * become findable by every later batch's probes — the same
    * closed-loop ingest shape as [[deltaDedupStream]]'s maintenance
    * mode. Centroids stay frozen between maintenance passes, so
    * appended vectors join existing cells — correctness never drifts,
    * but concentrated arrivals degrade cell occupancy (a 25%%
    * drifted ingest grew the hot cell to 92x the median at 256k
    * vectors; SimilaritySpec's hot-cell maintenance case plants the
    * same drift at spec scale). `maintainEvery = N` measures cell
    * occupancy and the fit canary every N batches
    * ([[graft.operators.Similarity.maintainIvfIndex]]) and re-fits the
    * quantizer only when drift is actually present, leaving the index
    * content-identical to a one-shot build over everything ingested
    * so far; a healthy ingest never pays the O(n x nlist)
    * reassignment. The probe-cell checkpoint is per-batch state. */
  def annStream(vecs: Dataset[Vec], dir: String, k: Int = 5,
                maintainIndex: Boolean = false,
                streamId: String = "ann",
                maintainEvery: Int = 0)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Vec] =
    ingest(vecs, dir, streamId, Ivf, maintainIndex, maintainEvery) { a =>
      sink(Similarity.ivfProbe(a.s, dir, a.rows, k, excludeProbes = a.replay)
        .orderBy("qid", "rn"), a.id)
    }

  /** Graph-aware ingest — the kNN-graph twin of [[annStream]]: each
    * micro-batch folds into BOTH persisted vector indexes
    * ([[graft.operators.Similarity.appendToKnnGraphIndex]] — the IVF
    * fold runs inside; batch adjacency and reverse displacement go
    * through the cell-block kernel), then `sink` receives the batch's
    * RESOLVED adjacency (src in the batch; dst, score, rn best-first)
    * read back from the index AFTER the fold. Emission-after-fold
    * makes replay NATURALLY stable — a replayed batch's append no-ops
    * (idempotent per streamId_batchId) and generation resolution
    * returns the same latest rows, so the family needs no replay
    * probe. Later batches see earlier arrivals both as candidate
    * mates and through reverse displacement of stored adjacencies
    * (StreamingSpec pins the cross-batch chain and the restated r20
    * fold laws through the stream: per-rank dominance over the
    * ring-only merged rebuild, and the re-refine pass's dominance
    * over the folded state — folds keep exact top-k algebra but
    * never refine, so `maintainEvery` also covers the refine
    * staleness condition).
    *
    * The quantizer stays frozen between maintenance points: the graph
    * manifest pins the centroid-set fingerprint, so any
    * [[graft.operators.Similarity.refreshIvfCentroids]] makes the
    * next ensure REBUILD the graph (the documented staleness
    * contract). `maintainEvery` runs [[graft.operators.Similarity
    * .maintainIvfIndex]] (hot-cell occupancy + the fit-gap canary; a
    * drift-triggered refresh rebuilds the graph IN-STREAM — the
    * drift-repair path the r20 streamed ingest smoke measured, SURVEY
    * §24), then [[graft.operators.Similarity.maintainKnnGraphIndex]]
    * (refine staleness re-refines, layout compacts). First batch pays
    * the one-time ensure (a cold corpus builds the graph; a warehouse
    * with intact files re-attaches). */
  def graphIngestStream(vecs: Dataset[Vec], dir: String, k: Int = 3,
                        streamId: String = "graph",
                        maintainEvery: Int = 0)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Vec] =
    ingest(vecs, dir, streamId, graphFamily(k), maintainIndex = true,
        maintainEvery) { a =>
      Similarity.appendToKnnGraphIndex(a.s, dir, k, a.rows, a.tag)
      // the handed-off adjacency is MATERIALIZED before the sink
      // sees it (rule 33's sibling): a lazy frame over the live
      // edge table, retained by a sink and evaluated only after a
      // later batch's fold or an in-stream compact (which drops and
      // renames files), would observe later-generation rows or
      // FAILED_READ_FILE — localCheckpoint pins THIS batch's
      // resolved rows whatever the sink's lifetime
      sink(Similarity.graphEdges(a.s, dir, k)
        .join(broadcast(a.rows.select(col("vec_id"))),
          col("qid") === col("vec_id"), "leftsemi")
        .orderBy("qid", "rn").localCheckpoint(), a.id)
    }

  /** The SemDeDup ingest loop — semantic clustering as arrivals land:
    * each micro-batch of vectors (1) probes the persisted IVF index
    * for its exact-cosine top-k ([[annStream]]'s probe), (2) links
    * every probe pair at cosine >= tau into the durable union-find
    * ([[Components]], the [[ccStream]] step: per-batch edge log under
    * `stateDir`, restart reseeds from the log, labels are
    * component-min ids), (3) hands `sink` the batch's accepted pairs
    * and changed labels, and (4) appends the batch to the index
    * ([[ingest]]) so later arrivals cluster against everything
    * ingested so far.
    *
    * Edge semantics are PROBE-BOUNDED: a pair is observed iff the
    * neighbor ranks in the arrival's top-k within its probed cells
    * (the annStream recall contract — q_dedup_semantic's full pass is
    * the batch foil). The stream law StreamingSpec pins: cumulative
    * labels == Dedup.connectedComponents over all emitted pairs,
    * arrival-split-independent given the same pair stream, and a
    * cross-batch duplicate chain merges only because batch N's append
    * is probe-visible to batch N+1. */
  def semanticIngestStream(vecs: Dataset[Vec], dir: String,
                           tau: Double, k: Int = 5,
                           streamId: String = "semcc",
                           maintainEvery: Int = 0,
                           stateDir: Option[String] = None)(
      sink: (Seq[(Long, Long, Double)], Seq[CcUpdate], Long) => Unit)
      : DataStreamWriter[Vec] = {
    val cc = new Components(vecs.sparkSession, stateDir)
    ingest(vecs, dir, streamId, Ivf, maintainIndex = true,
        maintainEvery) { a =>
      // pairs: the probe's top-k filtered at tau — duplicate-sized
      // (the dedupIngestStream collect bound), total (qid, nid)
      // order so replays emit identically
      val pairs = Similarity
        .ivfProbe(a.s, dir, a.rows, k, excludeProbes = a.replay)
        .filter(col("score") >= tau)
        .select("qid", "nid", "score")
        .orderBy("qid", "nid")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      cc.fold(a.s, a.id, pairs.map(p => (p._1, p._2)))(sink(pairs, _, a.id))
    }
  }

  /** The retrieval family's ingest loop — the lexical analog of
    * [[annStream]]: each arriving micro-batch of documents is scored
    * against the monitored `terms` with the maintained index's
    * CURRENT corpus statistics ([[graft.operators.Retrieval
    * .bm25BatchScores]] — the standing-query/alerting probe, tf+dl
    * from the batch, df/n_docs/avgdl from the index), the emission
    * handed to `sink` as (doc_id, score) rows in total doc_id order,
    * and, with `maintainIndex`, the batch appended to the index before
    * the next one probes ([[ingest]]) — so tomorrow's arrivals are
    * scored against a corpus that includes today's, with no rebuild.
    * A replay's excludeBatch probe anti-joins its own rows out of the
    * df scan and subtracts its own (n, sum_dl) contribution from the
    * generation stats — exact long arithmetic, so the replayed
    * emission EQUALS the original. */
  def searchIngestStream(docs: Dataset[Doc], dir: String,
                         terms: Seq[String],
                         maintainIndex: Boolean = false,
                         streamId: String = "search",
                         maintainEvery: Int = 0)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Doc] =
    ingest(docs, dir, streamId, Lex, maintainIndex, maintainEvery) { a =>
      sink(Retrieval.bm25BatchScores(a.s, dir, a.rows, terms,
        excludeBatch = a.replay).orderBy("doc_id"), a.id)
    }

  private def round8(x: Double): Double = java.math.BigDecimal.valueOf(x)
    .setScale(8, java.math.RoundingMode.HALF_UP).doubleValue
  private def round6(x: Double): Double = java.math.BigDecimal.valueOf(x)
    .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue

  /** The bit-exactness-critical scalar NLL scorer shared by
    * [[perplexityFilterStream]] and [[curateStream]] — ONE copy of
    * the decimal discipline (8dp HALF_UP terms, exact DECIMAL sums,
    * 6dp presentation) so the composed chain can never drift from
    * the standalone twin. Caller guarantees t.length >= 2. */
  private def nllOf(t: Array[String], m: BigramLm): Double = {
    val h = t.map(xx)
    var sum = java.math.BigDecimal.ZERO
    val n = t.length - 1
    var i = 0
    while (i < n) {
      val c1 = m.uni.getOrElse(h(i), 0L)
      val c2 = m.big.getOrElse((h(i), h(i + 1)), 0L)
      val term = round8(-math.log((c2 + 1).toDouble / (c1 + m.vocab)))
      sum = sum.add(java.math.BigDecimal.valueOf(term)
        .setScale(8, java.math.RoundingMode.HALF_UP))
      i += 1
    }
    round6(sum.doubleValue / n)
  }

  /** A curated doc's streaming verdict: the stage-1/2 scores plus the
    * online dedup decision. Only docs that PASS both cutoffs (and are
    * scorable, >= 2 tokens) emit a row at all — cutoff-rejected docs
    * produce nothing, so keep == false means exactly "a duplicate of
    * an earlier kept doc"; rejection accounting for the filter stages
    * belongs to the standalone twins, which emit every verdict. */
  final case class CurateVerdict(doc_id: Long, fingerprint: String,
                                 quality: Double, avg_nll: Double,
                                 keep: Boolean)

  /** The ingest-time face of the composed curation pipeline
    * (operators.Curation): quality filter -> perplexity filter ->
    * online dedup-keep, as ONE streaming query. The two filters are
    * STATELESS (frozen-calibration, the twins above), so the chain
    * carries exactly one stateful operator (the dedup state store) —
    * inside Structured Streaming's multiple-stateful-operator limits
    * for arbitrary state (a second flatMapGroupsWithState in the same
    * query is unsupported, which is why sequence packing stays a
    * separate query fed from this one's sink: the standard
    * multi-stage streaming topology, packing being shard-local state
    * downstream of the keep decisions anyway).
    *
    * Semantics per doc, matching the batch pipeline's stage scoping
    * caveat: the batch pipeline recalibrates each stage's cutoff over
    * that stage's survivors and trains the LM on stage-1 survivors;
    * a stream cannot, so BOTH cutoffs and the LM are calibration-
    * snapshot artifacts ([[calibrateQuality]] / [[trainLm]] /
    * [[calibratePerplexity]] — run them on the snapshot's stage
    * survivors to mirror the batch scoping) and verdicts drift off
    * the batch pipeline's exact retention as ingest moves (the same
    * caveat as each twin alone). See [[CurateVerdict]] for the
    * emission contract: only cutoff-passing docs reach the output. */
  def curateStream(docs: Dataset[Doc], lm: BigramLm,
                   qualityCutoff: Double,
                   perplexityCutoff: Double): Dataset[CurateVerdict] = {
    val sp = docs.sparkSession
    import sp.implicits._
    val bc = sp.sparkContext.broadcast(lm)
    // stage 1+2 fused in one stateless flatMap: quality score (the
    // qualityExpr arithmetic in scalar form — code-point counts, same
    // double-op order), then the LM NLL ONLY for quality survivors
    // (the stage-1 reject is decided before any bigram work, so a
    // low-quality flood costs one scan of the token array each).
    // Docs failing either cutoff stop HERE: the state store only ever
    // holds documents that would reach the dedup stage in batch — the
    // filter-before-state ordering keeps state ~ surviving corpus,
    // not ingest.
    val scored = docs.flatMap { d =>
      val t = toks(d.text)
      if (t.length < 2) Iterator.empty
      else {
        val n = t.length.toDouble
        val ttr = t.distinct.length.toDouble / n
        val chars = t.map(s => s.codePointCount(0, s.length)).sum
        val mwl = chars.toDouble / n
        val q = math.min(1.0, n / 50.0) * 0.4 + ttr * 0.3 +
          (if (mwl >= 3.0 && mwl <= 8.0) 1.0 else 0.0) * 0.3
        if (q < qualityCutoff) Iterator.empty
        else {
          val nll = nllOf(t, bc.value)
          if (nll <= perplexityCutoff)
            Iterator.single((d.doc_id, fingerprintOf(d.text),
              round6(q), nll))
          else Iterator.empty
        }
      }
    }
    // stage 3: the ONE stateful operator — keep-first per fingerprint,
    // scores carried through the group (no stream-stream rejoin, which
    // Structured Streaming disallows downstream of arbitrary state)
    scored
      .groupByKey(_._2)
      .flatMapGroupsWithState[Long, CurateVerdict](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (fp: String, rows: Iterator[(Long, String, Double, Double)],
         state: org.apache.spark.sql.streaming.GroupState[Long]) =>
          var kept = state.getOption
          val out = rows.toSeq.sortBy(_._1).map { case (id, _, q, nll) =>
            val keep = kept.isEmpty
            if (keep) kept = Some(id)
            CurateVerdict(id, fp, q, nll, keep)
          }
          kept.foreach(state.update)
          out.iterator
      }
  }

  /** xxhash64 of a string, seed 42 — bit-identical to Spark's
    * `xxhash64(col)` (the batch scorer's key), same UTF8String bytes. */
  private def xx(s: String): Long = {
    val u = org.apache.spark.unsafe.types.UTF8String.fromString(s)
    org.apache.spark.sql.catalyst.expressions.XXH64
      .hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, 42L)
  }

  /** A doc's online dedup verdict — the streaming twin of
    * q_dedup_keep's output row. */
  final case class KeepVerdict(doc_id: Long, fingerprint: String,
                               keep: Boolean)

  /** The batch q_dedup_keep fingerprint as a plain function:
    * UTF8String lowercase + commons-codec md5Hex — the exact calls
    * inside Spark's Lower/Md5 expressions, so the hex matches the
    * batch column byte for byte. Shared by [[dedupKeepStream]] and
    * [[curateStream]]. */
  private[streaming] def fingerprintOf(text: String): String = {
    val lowered = org.apache.spark.unsafe.types.UTF8String
      .fromString(text).toLowerCase.getBytes
    org.apache.commons.codec.digest.DigestUtils.md5Hex(lowered)
  }

  /** Streaming exact dedup: every arriving document gets an immediate
    * keep/drop verdict against all text seen so far — the ingest-time
    * face of the batch q_dedup_keep. Fingerprint is bit-identical to
    * the batch operator's md5(lower(text)) (same UTF8String lowercase,
    * same lowercase hex), so batch and stream agree on what "the same
    * document" means.
    *
    * State is 8 bytes (the kept doc_id) per distinct fingerprint,
    * sharded by the state-store shuffle on the 32-char key. Online
    * semantics keep the FIRST arrival; the batch operator keeps the
    * min doc_id — the two coincide whenever ingest is append-ordered
    * (doc_id-ascending across micro-batches; within one micro-batch
    * any order works, the group sorts its batch slice — the
    * seqPackStream rule), which StreamingSpec pins with duplicates
    * straddling a batch boundary. Verdicts are emitted once and never
    * revised — online dedup's contract — unlike spanDupStream's
    * retroactive first-holder flag. Long-running production ingest:
    * RocksDB state store + TTL horizon, batch op as the
    * retrospective sweep. */
  def dedupKeepStream(docs: Dataset[Doc]): Dataset[KeepVerdict] = {
    val sp = docs.sparkSession
    import sp.implicits._
    docs
      .map(d => (d.doc_id, fingerprintOf(d.text)))
      .groupByKey(_._2)
      .flatMapGroupsWithState[Long, KeepVerdict](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (fingerprint: String, rows: Iterator[(Long, String)],
         state: org.apache.spark.sql.streaming.GroupState[Long]) =>
          var kept = state.getOption
          val out = rows.toSeq.sortBy(_._1).map { case (id, _) =>
            val keep = kept.isEmpty
            if (keep) kept = Some(id)
            KeepVerdict(id, fingerprint, keep)
          }
          kept.foreach(state.update)
          out.iterator
      }
  }

  /** Streaming cross-document span duplication: every arriving
    * document's distinct `width`-token span hashes (bit-identical to
    * the batch q_span_dup's shingle_hashes) are checked against all
    * spans seen so far; a (doc_id, h) hit is emitted exactly once for
    * every document whose span turns out to be shared — including,
    * retroactively, the FIRST holder when the second arrives, so the
    * accumulated hit set equals the batch operator's flagged
    * (doc, span) pairs over the same corpus regardless of arrival
    * order.
    *
    * State is keyed by span hash — 8-byte key, (firstDoc, count)
    * value — sharded across executors by the state-store shuffle.
    * Unbounded corpus means state ~ distinct spans: for a long-running
    * production ingest that is RocksDB-state-store territory with a
    * TTL matched to the dedup horizon; the batch operator remains the
    * retrospective full-corpus path. */
  def spanDupStream(docs: Dataset[Doc], width: Int = 8): Dataset[SpanHit] = {
    val sp = docs.sparkSession
    import sp.implicits._
    docs
      .flatMap(d => ShingleHashes.of(toks(d.text), width)
        .map(h => (h, d.doc_id)))
      .groupByKey(_._1)
      .flatMapGroupsWithState[SpanState, SpanHit](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (h: Long, rows: Iterator[(Long, Long)],
         state: org.apache.spark.sql.streaming.GroupState[SpanState]) =>
          val out = Seq.newBuilder[SpanHit]
          var st = state.getOption
          rows.foreach { case (_, doc) =>
            st match {
              case None =>
                st = Some(SpanState(doc, 1))
              case Some(s) if s.n == 1 =>
                // the span just became duplicated: flag the stored
                // first holder retroactively plus the new one
                out += SpanHit(s.firstDoc, h)
                out += SpanHit(doc, h)
                st = Some(s.copy(n = 2))
              case Some(s) =>
                out += SpanHit(doc, h)
                st = Some(s.copy(n = s.n + 1))
            }
          }
          st.foreach(state.update)
          out.result().iterator
      }
  }
}
