package graft.operators

/** One index-maintenance pass's decision plus the evidence it was made
  * on — the return of [[Dedup.maintainShingleIndex]] and
  * [[Similarity.maintainIvfIndex]], designed to be logged verbatim by
  * an ingest operator ("why did tonight's maintenance rewrite 2 TB?").
  *
  * `action` is what the policy chose ("none" | "compact" | "refresh");
  * `ran` is whether it executed (false under `dryRun`, or when the
  * underlying op reported an idempotent no-op). The stats fields hold
  * what the decision read: the manifest's applied/uncompacted batch
  * counts, the stored vs size-targeted bucket spec, and — IVF only —
  * the hot-cell occupancy pair ([[Similarity.ivfOccupancy]]); -1 marks
  * a stat the pass did not need to measure. */
final case class MaintenanceReport(index: String, action: String,
                                   ran: Boolean, appliedBatches: Int,
                                   uncompactedBatches: Int,
                                   storedBuckets: Int, targetBuckets: Int,
                                   hotCellMax: Long, hotCellMedian: Long,
                                   fitGapFrac: Double = -1.0,
                                   fitBaseline: Double = -1.0) {
  def render: String =
    s"""{"index":"$index","action":"$action","ran":$ran,""" +
      s""""batches":$appliedBatches,"uncompacted":$uncompactedBatches,""" +
      s""""buckets":$storedBuckets,"targetBuckets":$targetBuckets,""" +
      s""""hotCellMax":$hotCellMax,"hotCellMedian":$hotCellMedian,""" +
      s""""fitGapFrac":$fitGapFrac,"fitBaseline":$fitBaseline}"""
}

/** Measured default thresholds for condition-driven index maintenance.
  *
  * The ingest streams' fixed compaction and refresh cadences were
  * removed: a blind refresh cadence pays the O(n x nlist)
  * reassignment even when every cell is healthy, and misses drift
  * that arrives faster than the cadence. The streams' `maintainEvery`
  * runs the family's `maintain*` policy instead, and these thresholds
  * trigger each op exactly when its measured symptom appears:
  *
  *  - `DefaultCompactAfter` = 8: at N=8 appends the probe-side
  *    file-layout tax measured 1.20x (shingle) / ~1.0x (IVF) and at
  *    N=32 it reached 1.32x / 1.18x, while one compaction costs ~0.7x
  *    a base build and repays it (the r15 AppendSmoke curve) — so the
  *    fold fires just before the tax becomes measurable.
  *  - `DefaultHotCellRatio` = 16: healthy (fresh or refreshed) IVF
  *    indexes sit at 4.3-4.9x median cell occupancy (drift-gate runs at
  *    256k and 1,024k vectors), while frozen centroids under a 25%
  *    concentrated drift collapse to 92-192x; 16 separates the two
  *    regimes with >3x margin on both sides.
  */
object Maintenance {
  val DefaultCompactAfter = 8
  val DefaultHotCellRatio = 16.0
  /** Re-refine the kNN graph after this many applied-but-unrefined
    * batches ([[Similarity.refineKnnGraphIndex]]): folds keep exact
    * top-k algebra but skip the NN-descent pass, so refinement
    * coverage goes stale batch by batch. Measured at the 512k rung
    * (r20 fold-decay probe, SURVEY §24 — 8 x 2k fresh-id corpus-slice folds,
    * the duplicate-shaped production ingest): tau-recall HOLDS
    * within probe noise across all 8 folds (0.796-0.822 vs fresh
    * 0.803 — duplicate arrivals' tau-mates share the argmax cell, so
    * ring-quality batch adjacency suffices for them), and one
    * re-refine costs 8.7 s (linear) and lifts to 0.826, ~1-3 points
    * above the folded plateau. 8 batches therefore prices the
    * cadence at ~4% of fold cost (8.7 s per 8 x ~26 s folds) for the
    * measured few-point lift; a distribution-SHIFTED ingest (novel
    * directions, not duplicates) would decay faster — the
    * drift-repair path (occupancy/fit canary -> refresh -> rebuild)
    * covers that regime, measured separately (r20 drift smoke,
    * SURVEY §24). */
  val DefaultRefineAfter = 8
  /** Fit-GAP canary trigger: refresh when the fraction of sampled
    * indexed rows whose gap — (max cosine to any other row of its own
    * cell) minus (cosine to its assigned centroid) — exceeds the
    * index's own build/refresh-time 99.5th-percentile baseline
    * reaches this value. Healthy mass above the baseline is ~0.5% by
    * construction, so 2% is a 4x excursion; a tight ingest cluster
    * the frozen quantizer has no centroid for reads gap ~0.6 against
    * a healthy tail ~0.15 (sibling cosine ~0.9 vs centroid fit ~0.3),
    * so a drift of fraction d fires the trigger at d >~ 1.5% —
    * BEFORE the hot-cell occupancy ratio can reach 16x (that needs
    * d >= 16/nlist concentrated in ONE cell; spread drift never
    * trips it at any d). Two rejected designs (r17, kept as negative
    * results): a jittered self-probe canary — healthy fresh indexes
    * detect jittered copies at only 0.83-0.98 (500 -> 256k vectors),
    * so any detection-below-1.0 trigger false-fires on every healthy
    * index — and an absolute-fit tail — in 64-dim the healthy fit
    * p0.5 is ~0.19 while a novel cluster still fits ~0.33, so drift
    * never undercuts it. */
  val DefaultFitCanaryFrac = 0.02
}
