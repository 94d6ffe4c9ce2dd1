package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** The Spark-native `do_backup` (SURVEY.md §7 step 3).
  *
  * The reference's export runtime — keyset-pagination loop C1, adaptive
  * page sizing C2, recursive subtree descent C3
  * (BackupProcessor.php:71-136,150-200) — exists only because a single
  * REST GET can't hold a big subtree. In Spark those mechanisms dissolve
  * into the partitioning model (SURVEY.md §2.9):
  *
  *  - C1 pagination      -> `repartitionByRange(path, key)`: each output
  *    partition IS a key-range page, planned not looped.
  *  - C2 adaptive sizing -> AQE sizes the backup's files by bytes, the
  *    quantity the reference's IPP tracks heuristically. The range
  *    shuffle starts at `spark.sql.shuffle.partitions` ranges (or
  *    `spark.sql.adaptive.coalescePartitions.initialPartitionNum`
  *    when set), and AQE merges neighbouring ranges up to a byte
  *    target: `spark.sql.adaptive.advisoryPartitionSizeInBytes`
  *    (64 MB), less when that would leave fewer files than the default
  *    parallelism, never below
  *    `spark.sql.adaptive.coalescePartitions.minPartitionSize` (1 MB).
  *    At scale, set the initial count so that one range holds no more
  *    than the target.
  *  - C3 go-deeper       -> range partitioning on (path, key) splits a
  *    fat node across as many partitions as it needs; no recursion.
  *
  * The artifact is a Parquet directory (columnar, compressed, with
  * statistics) instead of tar.gz'd JSON chunks (BackupProcessor.php:
  * 202-242) — the directory is the unit, `_SUCCESS` the commit marker —
  * plus an explicit manifest the restore can replay deterministically
  * (the metadata.json analog, BackupProcessor.php:49-51).
  */
object Export {

  /** Key under which unparseable documents surface in PERMISSIVE mode —
    * the same convention as spark.read.json's corrupt-record column. */
  val CorruptKey = "_corrupt_record"

  /** Distributed flatten: one JSON document per input row -> leaf-edge
    * rows. Runs in flatMap on executors; scales with the corpus. */
  def flattenTrees(trees: Dataset[(String, String)],
                   permissive: Boolean = true): DataFrame = {
    import trees.sparkSession.implicits._
    trees.flatMap { case (rootPath, json) =>
      if (!permissive) TreeCodec.flatten(json, rootPath)
      else
        try TreeCodec.flatten(json, rootPath)
        catch {
          // PERMISSIVE semantics (the reference folds error payloads
          // into the stream rather than aborting the export,
          // BackupProcessor.php:173): a malformed document becomes one
          // quarantine edge carrying the raw text, instead of one bad
          // row killing a 100 TB job. Filter on CorruptKey to audit.
          case _: com.fasterxml.jackson.core.JacksonException =>
            Seq(TreeCodec.Edge(rootPath, CorruptKey, json))
        }
    }.toDF("path", "key", "value_json")
  }

  /** Write the normalized rows as the backup artifact.
    *
    * `rows` is evaluated more than once: `repartitionByRange` first runs
    * a sampling job over it to pick the range bounds, then the shuffle
    * reads it again. An uncached lineage re-runs its source each time —
    * for a live walk, that is a second full HTTP walk of the database.
    * Pass a materialized frame (LiveExport.export returns one; pin a
    * DSv2 `firebase` frame with `localCheckpoint()` first).
    *
    * The file count follows the bytes, not a fixed page count: the
    * range shuffle is given no partition count, so AQE may merge
    * neighbouring ranges (see the C2 bullet above). A merge joins only
    * contiguous ranges, so each file still holds one key range sorted
    * by (path, key), and the files in part-number order are in global
    * (path, key) order.
    */
  def writeBackup(rows: DataFrame, outDir: String): Unit = {
    rows
      .repartitionByRange(col("path"), col("key"))
      .sortWithinPartitions("path", "key")
      .write.mode(SaveMode.Overwrite)
      .option("compression", "zstd")
      .parquet(s"$outDir/rows")
    // the manifest must describe the rows actually PERSISTED:
    // re-evaluating an uncached `rows` lineage would re-run its source
    // — for a live export, yet another full HTTP walk of the database
    // (wall-clock and API quota), and any concurrent write between the
    // walks would desynchronize manifest from rows, breaking the
    // restore-verifies-completeness contract. Aggregate the written
    // artifact instead.
    val sp = rows.sparkSession
    manifest(readBackup(sp, outDir)).write
      .mode(SaveMode.Overwrite).json(s"$outDir/manifest")
  }

  /** The metadata.json analog: per path, its member count and key range
    * — enough for a restore to plan batches and verify completeness. */
  def manifest(rows: DataFrame): DataFrame =
    rows.groupBy("path")
      .agg(count(lit(1)).as("n_keys"),
           min("key").as("min_key"),
           max("key").as("max_key"))
      .orderBy("path")

  /** The schema of a backup's rows: [[writeBackup]] writes no other. */
  val BackupSchema: StructType = StructType(
    Seq("path", "key", "value_json").map(StructField(_, StringType)))

  /** A backup's rows, read with the declared [[BackupSchema]], so no
    * job runs to infer it from the file footers. A `rows/` directory
    * with no data file (an empty or unfinished backup) fails here, as
    * inference would, with a message naming `dir`; the check uses the
    * listing the reader has already made. */
  def readBackup(spark: SparkSession, dir: String): DataFrame = {
    val rows = spark.read.schema(BackupSchema).parquet(s"$dir/rows")
    require(rows.inputFiles.nonEmpty, s"backup $dir holds no row files")
    rows
  }

  /** Subtree restriction — the reference's `export <db> <path>` scope
    * (ExportCommand.php: the backup starts at an arbitrary node, not
    * only `/`). A subtree is the node's own leaf edges (path == node)
    * plus everything below (path startswith node + "/"); both are
    * string-prefix predicates Catalyst pushes into the parquet scan
    * (min/max row-group pruning on the sorted `path` column — the
    * Spark-native form of the server-side path scope). */
  def subtree(rows: DataFrame, node: String): DataFrame =
    if (node == "/" || node.isEmpty) rows
    else rows.filter(col("path") === node ||
      col("path").startsWith(node + "/"))

  /** Changed-key count above which [[diffBackups]]' value-fetch joins
    * fall back from broadcast to shuffle: 1M (path, key) string pairs
    * ≈ 50 MB framed — inside guide-§3.1's "a few hundred MB is fine"
    * with margin for long paths; an incremental diff larger than that
    * is no longer the small side of anything. */
  val DiffBroadcastMaxKeys = 1000000L

  /** Estimated-byte companion to the key cap (r20 advice): a count
    * gate alone plus an explicit broadcast() hint overrides ALL
    * planner size safety, and 1M keys of adversarially long paths can
    * be far larger than the ~50 MB the count cap assumes. 256 MB of
    * measured key bytes (count x actual summed string lengths, one
    * cheap job over the pinned keyset) keeps the hash relation inside
    * guide-§3.1's "a few hundred MB is usually fine" — the framed
    * relation carries UTF-8 strings plus ~32 B/row of offsets and
    * hash-table overhead, so the gate compares estimated FRAMED bytes
    * (raw chars + 32 x rows) against this cap. */
  val DiffBroadcastMaxBytes = 256L * 1024 * 1024

  /** Snapshot diff — the incremental-backup primitive. Two backup
    * frames in, one change frame out: `(path, key, change ∈
    * added|removed|changed, old_value, new_value)`; unchanged rows are
    * dropped. The reference can only re-export the whole database
    * (BackupProcessor.php has no notion of a previous snapshot); a 100
    * TB corpus cannot afford that, so the diff IS the backup after the
    * first full one.
    *
    * Scale shape: in the incremental regime almost every row is
    * unchanged, so the one thing the plan must NOT do is shuffle both
    * snapshots' VALUES only to discard 99% of them. Phase 1 full-outer
    * joins fixed-width digests only — (path, key, 2×64-bit value
    * hashes); the wide value column never enters the first shuffle.
    * Phase 2 fetches values by INNER-joining each big snapshot against
    * the (small) changed keyset — streamed big side, broadcast keyset
    * (AQE sees the post-filter size), so the snapshots are scanned but
    * never shuffled. A left join FROM the keyset would have forced a
    * shuffle of the big side instead (broadcast hash join can only
    * build the non-preserved side). The keyset is localCheckpoint'd:
    * it feeds four plan branches, and re-deriving it would re-run the
    * digest shuffle each time. Two independent hash seeds put
    * collision masking at 2^-128 per pair (below hardware error rates;
    * a single 64-bit hash would make silent drop a real event at
    * 10^12-row scale). */
  def diffBackups(prev: DataFrame, cur: DataFrame,
                  broadcastMaxKeys: Long = DiffBroadcastMaxKeys)
      : DataFrame = {
    def digests(df: DataFrame, tag: String): DataFrame =
      df.select(col("path"), col("key"),
        xxhash64(col("value_json")).as(s"${tag}_h1"),
        xxhash64(lit(1), col("value_json")).as(s"${tag}_h2"))
    val changedKeys = digests(prev, "o")
      .join(digests(cur, "n"), Seq("path", "key"), "full_outer")
      .withColumn("change",
        when(col("o_h1").isNull, lit("added"))
          .when(col("n_h1").isNull, lit("removed"))
          .when(col("o_h1") =!= col("n_h1") ||
                col("o_h2") =!= col("n_h2"), lit("changed")))
      .filter(col("change").isNotNull)
      .select("path", "key", "change")
      .localCheckpoint()
    // The scaladoc's "broadcast keyset" must be EXPLICIT: a
    // localCheckpoint'd frame reports the default (max) size estimate,
    // so the planner sort-merge-joined the value fetches — shuffling
    // BOTH full snapshots' payloads, the one thing this design exists
    // to avoid (r20 plan audit: 2 of the 3 joins ran as SMJ). The
    // keyset is already materialized, so its exact row count AND its
    // actual key bytes are one cheap job (the byte gate is the r20
    // advice: an explicit broadcast() hint overrides all planner size
    // safety, and a count cap alone assumes ~50 B/key — adversarially
    // long paths would ride the hint into driver/executor memory
    // pressure). Under both caps the snapshots are scanned but never
    // shuffled. Past either — a diff so large it approaches a full
    // re-export — the shuffle join is the right plan and the planner
    // keeps it.
    val sz = changedKeys.agg(
      count(lit(1)).as("n"),
      coalesce(sum(length(col("path")) + length(col("key"))), lit(0L))
        .as("bytes")).head
    val (nChanged, keyBytes) = (sz.getLong(0), sz.getLong(1))
    val keyset0 = changedKeys.select("path", "key")
    val keyset =
      if (nChanged <= broadcastMaxKeys &&
          keyBytes + 32L * nChanged <= DiffBroadcastMaxBytes)
        broadcast(keyset0)
      else keyset0
    val oldVals = prev.join(keyset, Seq("path", "key"))
      .select(col("path"), col("key"), col("value_json").as("old_value"))
    val newVals = cur.join(keyset, Seq("path", "key"))
      .select(col("path"), col("key"), col("value_json").as("new_value"))
    changedKeys
      .join(oldVals, Seq("path", "key"), "left")
      .join(newVals, Seq("path", "key"), "left")
  }
}
