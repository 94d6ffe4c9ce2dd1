package graft.operators

import org.apache.spark.sql.SparkSession

/** Durable description of a persisted index artifact (shingle index,
  * IVF index): which corpus slice it was built from — `src` dir
  * verbatim + row count + content fingerprint, so a row-count-
  * preserving corpus regen or an equal-count cross-dir 32-bit tag
  * collision can never silently serve a stale index — plus the bucket
  * count its tables were written with (appends must reuse it
  * bit-for-bit) and every batch folded in since the build (idempotent
  * per id — the Recalibrator replay rule).
  *
  * Serialization follows ScaleSmoke's `_GRAFT_REPLICA.json` rule: the
  * writer emits ONE canonical string and the freshness check compares
  * the base prefix for EXACT equality, so no token-level parse can
  * false-positive; only the append list — whose ids are restricted to
  * `[A-Za-z0-9_.-]` at append time — is parsed back, plus the bucket
  * count appends must match.
  *
  * This object is the FORMAT (render, parse, pure text edits);
  * [[PersistedIndex]] decides when a manifest is written. */
private[graft] object IndexManifest {

  final case class Manifest(src: String, baseRows: Long, fp: Long,
                            buckets: Int, batches: Seq[(String, Long)]) {
    /** The identity prefix freshness compares — src + rows + content
      * fingerprint. The bucket spec is deliberately NOT part of it
      * (v2): re-bucketing an append-grown index (compact/refresh
      * picking Tables.indexBuckets over the GROWN row count) must not
      * read as a stale base; appends take the CURRENT spec from
      * [[bucketsOf]] instead. */
    def basePrefix: String = {
      val esc = src.replace("\\", "\\\\").replace("\"", "\\\"")
      s"""{"v":2,"src":"$esc","baseRows":$baseRows,"fp":$fp,"""
    }
    def render: String = basePrefix +
      s""""buckets":$buckets,"batches":""" + batches.map { case (id, r) =>
      s"""{"id":"$id","rows":$r}""" }.mkString("[", ",", "]") + "}"
  }

  val BatchRe = """\{"id":"([A-Za-z0-9_.\-]+)","rows":(\d+)\}""".r
  val BucketsRe = """"buckets":(\d+)""".r
  val CompactedRe = """"dfCompacted":(\d+)""".r
  val FitRe = """"fitq":(-?\d+)""".r
  val RefinedRe = """"rfThrough":(\d+)""".r

  /** How many of the applied batches the stored edge content has been
    * RE-REFINED over (the kNN graph's r20 contract: folds keep exact
    * top-k algebra but skip the NN-descent pass, so refinement
    * quality goes stale batch by batch — applied − rfThrough is the
    * staleness the maintenance refine condition measures). 0 when
    * absent. Stored BEFORE the "batches" field (the fitq rule) so
    * appends preserve it verbatim. */
  def refinedThroughOf(storedTxt: String): Int =
    RefinedRe.findFirstMatchIn(storedTxt).map(_.group(1).toInt)
      .getOrElse(0)

  /** Insert or replace the refined-through count, leaving every other
    * field byte-identical. */
  def withRefinedThrough(storedTxt: String, n: Int): String =
    if (RefinedRe.findFirstIn(storedTxt).isDefined)
      RefinedRe.replaceFirstIn(storedTxt, s""""rfThrough":$n""")
    else insertBeforeBatches(storedTxt, s""""rfThrough":$n,""")

  /** Assignment-fit baseline (micro-units: cosine x 1e6) recorded at
    * build/refresh time — the fit canary's reference quantile
    * ([[Similarity.maintainIvfIndex]]). Stored BEFORE the "batches"
    * field so [[rewriteBatches]] (appends, compaction records)
    * preserves it verbatim; absent on pre-r17 manifests. */
  def fitBaselineOf(storedTxt: String): Option[Long] =
    FitRe.findFirstMatchIn(storedTxt).map(_.group(1).toLong)

  /** Insert or replace the fit baseline, leaving every other field
    * byte-identical (base identity, buckets, batch list unchanged). */
  def withFitBaseline(storedTxt: String, micro: Long): String =
    if (FitRe.findFirstIn(storedTxt).isDefined)
      FitRe.replaceFirstIn(storedTxt, s""""fitq":$micro""")
    else insertBeforeBatches(storedTxt, s""""fitq":$micro,""")

  private def insertBeforeBatches(storedTxt: String, field: String): String = {
    val at = storedTxt.indexOf("\"batches\":")
    require(at >= 0, s"manifest has no batches field: $storedTxt")
    storedTxt.substring(0, at) + field + storedTxt.substring(at)
  }

  /** How many of the applied batches have had their partial stat rows
    * folded back into one-row-per-key form (compaction); 0 if the
    * field is absent (pre-compaction manifests). */
  def compactedOf(storedTxt: String): Int =
    CompactedRe.findFirstMatchIn(storedTxt).map(_.group(1).toInt)
      .getOrElse(0)

  def path(s: SparkSession, prefix: String, tag: String)
      : org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(
      s.conf.get("spark.sql.warehouse.dir"),
      s"${prefix}_manifest_$tag.json")

  /** Stored manifest text + its reconstructed batch list; the base
    * fields are NOT parsed — freshness compares the stored text's
    * prefix against the expected canonical prefix (exact equality). */
  def read(s: SparkSession, p: org.apache.hadoop.fs.Path)
      : Option[(String, Seq[(String, Long)])] = {
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val txt = try {
        val bytes = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, bytes, 65536, false)
        bytes.toString("UTF-8").trim
      } finally in.close()
      val batches = BatchRe.findAllMatchIn(txt)
        .map(m => (m.group(1), m.group(2).toLong)).toSeq
      Some((txt, batches))
    }
  }

  def writeText(s: SparkSession, p: org.apache.hadoop.fs.Path,
                txt: String): Unit = {
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(txt.getBytes("UTF-8")) finally out.close()
  }

  /** The bucket spec recorded at build time — appends must match it
    * without re-counting the corpus (append cost tracks the batch). */
  def bucketsOf(storedTxt: String, what: String): Int =
    BucketsRe.findFirstMatchIn(storedTxt).map(_.group(1).toInt)
      .getOrElse(throw new IllegalStateException(
        s"no buckets field in $what manifest"))

  /** The bucket spec an APPEND must write with: the table's actual
    * catalog spec — authoritative, because a crash between a
    * re-bucketing compact's per-table rewrites can leave some tables
    * ahead of the manifest record. Writing the table's own spec keeps
    * appends working through that window (the next compact converges
    * every table and the manifest); writing the manifest's would trip
    * Spark's append-spec validation and wedge the ingest until the
    * compact re-ran. Falls back to the manifest record if the table
    * somehow carries no spec. */
  def appendBucketsOf(s: SparkSession, table: String, storedTxt: String,
                      what: String): Int =
    s.sessionState.catalog
      .getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(table))
      .bucketSpec.map(_.numBuckets)
      .getOrElse(bucketsOf(storedTxt, what))

  /** Marker file written INTO a bucketed index table's directory
    * recording the ACTUAL bucket count its files were written with.
    * Exists for cross-JVM re-attach ([[reattachTables]]): the default
    * catalog is per-JVM but the warehouse directory persists, and the
    * manifest's `buckets` field alone cannot be trusted for a
    * re-created catalog entry — a crash midway through a re-bucketing
    * compact's per-table staging rewrites leaves some tables written
    * with the NEW spec while the manifest still records the old one
    * (rule 22's window), and a bucket spec that disagrees with the
    * file layout mis-routes bucket-pruned scans and "exchange-free"
    * joins SILENTLY. The marker lives in the table directory itself,
    * so a staging-table RENAME (which moves the managed directory)
    * carries it with exactly the files it describes; names starting
    * with '_' are invisible to Spark's FileIndex (the `_SUCCESS`
    * convention). Written immediately after every bucketed
    * saveAsTable — a crash between the write and the marker leaves
    * files without a marker, which re-attach treats as
    * not-attachable (conservative: the ensure rebuilds). */
  private def bucketsMarker(loc: org.apache.hadoop.fs.Path)
      : org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(loc, "_GRAFT_BUCKETS")

  /** Record the bucket count `table`'s files were just written with
    * (call right after the bucketed saveAsTable; resolves the CURRENT
    * catalog location, so staging tables get their marker while still
    * at the staging path and renames carry it). */
  def markBuckets(s: SparkSession, table: String, buckets: Int): Unit = {
    val loc = new org.apache.hadoop.fs.Path(
      s.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(table)).location)
    val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
    val out = fs.create(bucketsMarker(loc), true)
    try out.write(buckets.toString.getBytes("UTF-8")) finally out.close()
  }

  private def markedBuckets(s: SparkSession,
                            loc: org.apache.hadoop.fs.Path): Option[Int] = {
    val p = bucketsMarker(loc)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val txt = try {
        val bytes = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, bytes, 4096, false)
        bytes.toString("UTF-8").trim
      } finally in.close()
      scala.util.Try(txt.toInt).toOption.filter(_ > 0)
    }
  }

  /** Cross-JVM artifact re-attach: recreate missing catalog entries
    * for index tables whose warehouse files survive a restart, so a
    * fresh session's `ensure*` reuses the artifact instead of paying
    * a full rebuild (the reference's own economics — its restore path
    * replays the existing archive, never refetches,
    * RestoreProcessor.php:60-67; at 256k vectors the avoided rebuild
    * is ~643 s, at 100 TB it is hours).
    *
    * Each entry is (tableName, Some(bucketKey) | None for unbucketed).
    * A table already in the catalog is left untouched. A missing
    * entry is recreated as `CREATE TABLE … USING parquet [CLUSTERED
    * BY (key) SORTED BY (key) INTO b BUCKETS] LOCATION loc` with the
    * schema inferred from the parquet footers and the bucket count
    * read from the table's own [[markBuckets]] marker — never the
    * manifest (see the marker doc for why). Declines (returns false)
    * when any location is missing, unreadable, or unmarked; callers'
    * freshness checks then fall through to the normal rebuild. Purely
    * catalog-side: no file is written, so a declined or half-applied
    * re-attach is repaired by the ensure's existing drop-and-rebuild.
    * Re-attached tables are EXTERNAL (explicit LOCATION) — the one
    * drop ([[PersistedIndex]]) pairs DROP with an explicit location
    * delete, so the managed/external distinction never leaks. */
  def reattachTables(s: SparkSession,
                     tables: Seq[(String, Option[String])]): Boolean = {
    val wh = s.conf.get("spark.sql.warehouse.dir")
    tables.forall { case (t, keyOpt) =>
      if (s.catalog.tableExists(t)) true
      else {
        val loc = new org.apache.hadoop.fs.Path(wh, t)
        val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (!fs.exists(loc)) false
        else scala.util.Try {
          val schema = s.read.parquet(loc.toString).schema
          val bucketDdl = keyOpt match {
            case Some(key) =>
              val b = markedBuckets(s, loc).getOrElse(
                throw new IllegalStateException(
                  s"no _GRAFT_BUCKETS marker under $loc"))
              s" CLUSTERED BY (`$key`) SORTED BY (`$key`) INTO $b BUCKETS"
            case None => ""
          }
          s.sql(s"CREATE TABLE `$t` (${schema.toDDL}) USING parquet" +
            bucketDdl + s" LOCATION '${loc.toString}'")
        }.isSuccess
      }
    }
  }

  /** Runtime disjointness guard shared by the incremental indexes:
    * batch keys must not already be in the indexed table — a
    * violation corrupts join multiplicities (and, for pair output,
    * orientation) SILENTLY, so it fails loudly instead. Cost: one
    * key-column scan of the bucketed table against the broadcast
    * batch keys, early-stopped at the first clash — RANGE-PRUNED to
    * the batch's [min, max] key span first: indexed rows outside the
    * span cannot clash, and parquet row-group stats turn the filter
    * into skipped IO, so for the common monotonic-id ingest (every
    * arriving batch's ids above everything indexed) the guard reads
    * ~nothing no matter how large the index has grown (the r15
    * AppendSmoke curve caught the unpruned scan growing with
    * corpus + append count, 1.6 -> 2.2 s across 32 appends). */
  def requireDisjoint(s: SparkSession, table: String, keyCol: String,
                      batch: org.apache.spark.sql.DataFrame,
                      who: String): Unit = {
    import org.apache.spark.sql.functions.{broadcast, col, max, min}
    val span = batch.agg(min(col(keyCol)), max(col(keyCol))).head
    if (span.isNullAt(0)) return // empty batch: vacuously disjoint
    val (lo, hi) = (span.getLong(0), span.getLong(1))
    val clash = s.table(table).select(col(keyCol))
      .filter(col(keyCol) >= lo && col(keyCol) <= hi)
      .join(broadcast(batch.select(col(keyCol)).distinct()), keyCol)
      .limit(1).collect()
    if (clash.nonEmpty)
      throw new IllegalArgumentException(
        s"$who: batch $keyCol ${clash(0).getLong(0)} is already in " +
          "the indexed corpus — batch keys must be disjoint from the " +
          "index (re-indexing or re-probing an indexed row corrupts " +
          "multiplicities); rebuild the index or re-key the batch")
  }

  /** The stored manifest with one more applied batch; the validated
    * stored text is kept verbatim and only the batch list extended
    * (base fields were checked by the ensure that preceded the
    * append, this app). */
  def withBatch(storedTxt: String, batches: Seq[(String, Long)],
                id: String, rows: Long): String =
    rewriteBatches(storedTxt, batches :+ (id, rows), compactedOf(storedTxt))

  /** Record that the first `compacted` applied batches' partial stat
    * rows have been folded into one-row-per-key form. */
  def withCompacted(storedTxt: String, batches: Seq[(String, Long)],
                    compacted: Int): String =
    rewriteBatches(storedTxt, batches, compacted)

  /** Sum of base + applied-batch rows — the GROWN size an
    * append-accumulated index actually holds, which re-bucketing
    * sizes against (the base corpus count alone under-buckets an
    * index that grew 100x through appends). */
  def indexRowsOf(storedTxt: String,
                  batches: Seq[(String, Long)]): Long = {
    val base = """"baseRows":(\d+)""".r.findFirstMatchIn(storedTxt)
      .map(_.group(1).toLong).getOrElse(throw new IllegalStateException(
        s"no baseRows field in manifest: $storedTxt"))
    base + batches.map(_._2).sum
  }

  /** Record a re-bucketed table spec (all of an index's tables were
    * rewritten with `buckets`); appends pick the new spec up via
    * [[bucketsOf]]. The stored text is kept verbatim apart from the
    * buckets field — base identity and batch list unchanged. */
  def withBuckets(storedTxt: String, buckets: Int): String =
    BucketsRe.replaceFirstIn(storedTxt, s""""buckets":$buckets""")

  private def rewriteBatches(storedTxt: String,
                             batches: Seq[(String, Long)],
                             compacted: Int): String = {
    val prefix = storedTxt.substring(0,
      storedTxt.indexOf("\"batches\":") + "\"batches\":".length)
    val tail = if (compacted > 0) s""","dfCompacted":$compacted}"""
      else "}"
    prefix + batches.map { case (bid, r) =>
      s"""{"id":"$bid","rows":$r}""" }.mkString("[", ",", "]") + tail
  }
}
