package graft.pipeline

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.spark.sql.{DataFrame, Dataset, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets.UTF_8
import scala.jdk.CollectionConverters._

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
  * The artifact is a directory instead of tar.gz'd JSON chunks
  * (BackupProcessor.php:202-242): `rows/` holds the Parquet part files
  * (columnar, compressed, with statistics), and `manifest/files.json`,
  * written last, lists them — the metadata.json analog
  * (BackupProcessor.php:49-51, 206-210). The manifest is the commit
  * record: [[readBackup]] refuses a backup whose part files are not
  * exactly the ones it lists, at the sizes it lists, as the reference's
  * restore fails on a chunk its metadata names and the archive lacks.
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
    *
    * The manifest describes the files actually written, and costs no
    * Spark job: the driver lists `rows/` and reads each part file's
    * Parquet footer, up to [[InFlight.Window]] at once, then writes
    * `manifest/files.json` with one JSON line per part file, in name
    * order: `file` (its name), `bytes` (its length), `n_keys` (its row
    * count) and, where the footer holds `path` statistics, `min_path`
    * and `max_path`. The files are (path, key)-sorted ranges, so these
    * map each path to the files that hold it. A previous manifest is
    * deleted before the rows are written, so a write that fails leaves
    * a backup [[readBackup]] refuses. */
  def writeBackup(rows: DataFrame, outDir: String): Unit = {
    val manifestDir = new Path(outDir, "manifest")
    val conf = rows.sparkSession.sparkContext.hadoopConfiguration
    val fs = manifestDir.getFileSystem(conf)
    fs.delete(manifestDir, true)
    rows
      .repartitionByRange(col("path"), col("key"))
      .sortWithinPartitions("path", "key")
      .write.mode(SaveMode.Overwrite)
      .option("compression", "zstd")
      .parquet(s"$outDir/rows")
    val parts = fs.listStatus(new Path(outDir, "rows")).toVector
      .filter(st => st.isFile && isDataFile(st.getPath.getName))
      .sortBy(_.getPath.getName)
    val lines = InFlight.map(parts)(manifestLine(_, conf))
    val out = fs.create(new Path(manifestDir, ManifestFile), true)
    try out.write(lines.map(_ + "\n").mkString.getBytes(UTF_8))
    finally out.close()
  }

  /** The manifest's name under `manifest/`. */
  private val ManifestFile = "files.json"

  /** Only read after construction, which Jackson documents as
    * thread-safe: the footer reads share it. */
  private lazy val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Hadoop's rule for the files a reader skips (`_SUCCESS`, `.crc`). */
  private def isDataFile(name: String): Boolean =
    !name.startsWith("_") && !name.startsWith(".")

  /** One part file's manifest line, from its listing and its footer. */
  private def manifestLine(st: FileStatus,
                           conf: org.apache.hadoop.conf.Configuration): String = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
    val blocks = try reader.getFooter.getBlocks.asScala.toSeq
      finally reader.close()
    val line = mapper.createObjectNode()
      .put("file", st.getPath.getName)
      .put("bytes", st.getLen)
      .put("n_keys", blocks.map(_.getRowCount).sum)
    // each row group is a (path, key)-sorted run, so the first group's
    // minimum and the last group's maximum bound the file
    val stats = blocks.flatMap(_.getColumns.asScala
      .find(_.getPath.toDotString == "path").map(_.getStatistics)
      .filter(s => s != null && s.hasNonNullValue))
    def utf8(v: Any) = v.asInstanceOf[Binary].toStringUsingUTF8
    if (blocks.nonEmpty && stats.size == blocks.size) {
      line.put("min_path", utf8(stats.head.genericGetMin))
      line.put("max_path", utf8(stats.last.genericGetMax))
    }
    mapper.writeValueAsString(line)
  }

  /** The schema of a backup's rows: [[writeBackup]] writes no other. */
  val BackupSchema: StructType = StructType(
    Seq("path", "key", "value_json").map(StructField(_, StringType)))

  /** A backup's rows, read with the declared [[BackupSchema]], so no
    * job runs to infer it from the file footers, and checked against
    * the backup's manifest on the driver, so no job runs for that
    * either.
    *
    * It refuses, naming `dir`:
    *  - a `rows/` directory with no data file (an empty or unfinished
    *    backup);
    *  - a backup with no `manifest/files.json`: one whose write did not
    *    finish, or one written before the manifest listed its files
    *    (that manifest was one JSON row per path). Read the rows of
    *    such a backup with `spark.read.parquet` and write them again
    *    with [[writeBackup]];
    *  - a part file that is missing, extra, or of another length than
    *    the manifest says, naming the file.
    *
    * The part files' lengths come from the listing the reader has
    * already made, so the check adds one read of the manifest and no
    * listing. */
  def readBackup(spark: SparkSession, dir: String): DataFrame = {
    val rows = spark.read.schema(BackupSchema).parquet(s"$dir/rows")
    val listed = rows.queryExecution.analyzed.collect {
      case LogicalRelation(HadoopFsRelation(
          idx: PartitioningAwareFileIndex, _, _, _, _, _), _, _, _, _) =>
        idx.allFiles()
    }.flatten.map(st => st.getPath.getName -> st.getLen).toMap
    require(listed.nonEmpty, s"backup $dir holds no row files")
    val manifest = readManifest(spark, dir)
    val problems =
      (manifest.keySet -- listed.keySet).toSeq.sorted
        .map(f => s"$f is in the manifest but not in rows/") ++
      (listed.keySet -- manifest.keySet).toSeq.sorted
        .map(f => s"$f is in rows/ but not in the manifest") ++
      (listed.keySet & manifest.keySet).toSeq.sorted
        .filter(f => listed(f) != manifest(f))
        .map(f => s"$f has ${listed(f)} bytes, the manifest says ${manifest(f)}")
    require(problems.isEmpty,
      s"backup $dir does not match its manifest: ${problems.mkString("; ")}")
    rows
  }

  /** `file -> bytes` from `dir`'s `manifest/files.json`, read on the
    * driver. */
  private def readManifest(spark: SparkSession, dir: String): Map[String, Long] = {
    val p = new Path(new Path(dir, "manifest"), ManifestFile)
    val in = try p.getFileSystem(spark.sparkContext.hadoopConfiguration).open(p)
      catch {
        case _: FileNotFoundException => throw new IllegalArgumentException(
          s"backup $dir has no manifest/$ManifestFile: its write did not " +
            "finish, or it was written before the manifest listed the " +
            "files; read its rows with spark.read.parquet and write them " +
            "again with Export.writeBackup")
      }
    val text = try new String(in.readAllBytes(), UTF_8) finally in.close()
    text.linesIterator.filter(_.trim.nonEmpty).map { l =>
      val n = mapper.readTree(l)
      n.get("file").asText -> n.get("bytes").asLong
    }.toMap
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
    val changed = digests(prev, "o")
      .join(digests(cur, "n"), Seq("path", "key"), "full_outer")
      .withColumn("change",
        when(col("o_h1").isNull, lit("added"))
          .when(col("n_h1").isNull, lit("removed"))
          .when(col("o_h1") =!= col("n_h1") ||
                col("o_h2") =!= col("n_h2"), lit("changed")))
      .filter(col("change").isNotNull)
      .select("path", "key", "change")
    // The scaladoc's "broadcast keyset" must be EXPLICIT: a
    // localCheckpoint'd frame reports the default (max) size estimate,
    // so the planner sort-merge-joined the value fetches — shuffling
    // BOTH full snapshots' payloads, the one thing this design exists
    // to avoid (r20 plan audit: 2 of the 3 joins ran as SMJ). The
    // keyset's exact row count AND its actual key bytes are observed
    // by the checkpoint's own job (the byte gate is the r20 advice: an
    // explicit broadcast() hint overrides all planner size safety, and
    // a count cap alone assumes ~50 B/key — adversarially long paths
    // would ride the hint into driver/executor memory pressure). Under
    // both caps the snapshots are scanned but never shuffled. Past
    // either — a diff so large it approaches a full re-export — the
    // shuffle join is the right plan and the planner keeps it.
    val size = Observation()
    val changedKeys = changed
      .observe(size, count(lit(1)).as("n"),
        coalesce(sum(length(col("path")) + length(col("key"))), lit(0L))
          .as("bytes"))
      .localCheckpoint()
    val sz = size.get
    val (nChanged, keyBytes) =
      (sz("n").asInstanceOf[Long], sz("bytes").asInstanceOf[Long])
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
