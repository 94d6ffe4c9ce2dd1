package graft

import graft.pipeline.{Export, HttpRestClient, LiveExport, Restore}
import org.apache.spark.sql.SparkSession

import java.time.format.DateTimeFormatter
import java.time.Instant

/** CLI over the pipeline — the engine's analog of the reference's
  * `frdbackup export|import` dispatch (frdbackup:12-35,
  * AbstractCommand.php:37-74): a plain match over commands instead of
  * namespace reflection, Spark instead of a single-threaded HTTP loop.
  *
  *   runMain graft.Cli export <treesJsonDir> <backupDir> [subtreePath]
  *     treesJsonDir: text files, one JSON document per line;
  *     subtreePath scopes the backup to one node (default "/")
  *   runMain graft.Cli export-live <firebaseUrl> [--output <dir>]
  *       [--token <auth>] [--max_ipp <n>] [--temp_dir <dir>]
  *     live HTTP export (LiveExport C1-C3). Defaults mirror
  *     ExportCommand.php:15-48: --max_ipp 1000; --output
  *     backups/<projectId>-<timestamp> (BackupProcessor.php:22-24);
  *     --temp_dir relocates Spark's local scratch (the reference's
  *     chunk temp dir analog).
  *   runMain graft.Cli import <backupDir> <outParquetDir>
  *     (file-based sink: re-materializes the leaf rows)
  *   runMain graft.Cli import-live <backupDir> <firebaseUrl>
  *       [--token <auth>] [--yes]
  *     live HTTP restore. Prompts for confirmation like the reference
  *     (ImportCommand.php:33-44) unless --yes.
  *   runMain graft.Cli migrate <refTarGzGlob> <backupDir>
  *     (a backup archive produced by the REFERENCE PHP tool becomes a
  *      native engine backup — pipeline.Archive)
  *   runMain graft.Cli export-archive <backupDir> <outTarGz>
  *       [--shards <n>]
  *     (inverse of migrate; --shards emits n independently-restorable
  *      tar.gz files for parallel drains)
  *   runMain graft.Cli diff <prevBackupDir> <curBackupDir> <outDir>
  *     (incremental backup: write only the changed rows — see
  *      Export.diffBackups; the reference must re-export everything)
  *   runMain graft.Cli import-diff <diffDir> <firebaseUrl>
  *       [--token <auth>] [--yes]
  *     (apply a diff to a live database: added/changed PATCH, removed
  *      delete via null-PATCH; same confirmation gate as import-live)
  *   runMain graft.Cli query <name> <sfDir>
  */
object Cli {

  /** Flags that never take a value: without this schema, a bare flag
    * placed BEFORE positionals would swallow the next positional as
    * its value (`import-live --yes <backupDir> <url>` losing the
    * backup dir to --yes). */
  val BareFlags: Set[String] = Set("yes", "dry-run")

  /** Split args into positionals and --key value / --key=value options;
    * a bare flag (BareFlags, or any trailing/valueless --flag) maps to
    * "true". */
  def parseArgs(args: Seq[String]): (List[String], Map[String, String]) = {
    val pos = List.newBuilder[String]
    val opts = Map.newBuilder[String, String]
    var rest = args.toList
    while (rest.nonEmpty) rest match {
      case opt :: tail if opt.startsWith("--") =>
        val body = opt.drop(2)
        val eq = body.indexOf('=')
        if (eq >= 0) { opts += body.take(eq) -> body.drop(eq + 1); rest = tail }
        else if (BareFlags.contains(body)) {
          // still honor an EXPLICIT boolean value (`--yes true` was
          // valid under the old parser; scripts may rely on it) —
          // anything else after a bare flag is a positional
          tail match {
            case v :: t2 if v == "true" || v == "false" =>
              opts += body -> v; rest = t2
            case _ => opts += body -> "true"; rest = tail
          }
        } else tail match {
          case v :: t2 if !v.startsWith("--") =>
            opts += body -> v; rest = t2
          case _ => opts += body -> "true"; rest = tail
        }
      case p :: tail => pos += p; rest = tail
      case Nil => ()
    }
    (pos.result(), opts.result())
  }

  /** The reference's default backup name (BackupProcessor.php:22-24 +
    * generateCompressedBackup's `[^a-zA-Z0-9]+ -> -` sanitization):
    * `<projectId>-<timestamp>` where projectId is the URL host's first
    * dot-label. */
  def defaultBackupName(firebaseUrl: String, now: Instant): String = {
    val host = firebaseUrl.split("//").lift(1).getOrElse(firebaseUrl)
    val projectId = host.split('.').head
    // ISO_INSTANT always formats in UTC; no zone conversion needed
    val stamp = DateTimeFormatter.ISO_INSTANT.format(now)
    s"$projectId-$stamp".replaceAll("[^a-zA-Z0-9]+", "-")
  }

  /** One tar.gz stream per this much backup parquet when --shards is
    * not given. A single gzip stream is non-splittable and writes
    * serially through the driver's toLocalIterator — the right call for
    * a laptop-sized backup (one artifact, exactly what the PHP tool
    * emits), a bottleneck past a few hundred MB — so export-archive
    * auto-selects the sharded writer once the input outgrows one
    * stream. Parquet is ~2-4x denser than the JSON it decodes to, so
    * 512 MB of input keeps each shard's write (and any later PHP-tool
    * restore of it) in low-GB working sets. */
  val ShardTargetBytes: Long = 512L * 1024 * 1024

  /** Shard count for a backup of `bytes` total parquet: ceil over
    * [[ShardTargetBytes]], min 1 (single-file reference format), capped
    * so a pathological input cannot request millions of output files. */
  def autoShards(bytes: Long): Int =
    math.min(4096L, math.max(1L,
      (bytes + ShardTargetBytes - 1) / ShardTargetBytes)).toInt

  /** Recursive byte size of a backup directory (0 if missing). */
  def dirBytes(dir: String): Long = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) 0L
    else {
      val s = java.nio.file.Files.walk(root)
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
  }

  /** The import confirmation gate (ImportCommand.php:33-44): only a
    * literal `yes` line proceeds. */
  def confirm(in: java.io.InputStream): Boolean = {
    Console.println(
      """------------------------- WARNING -------------------------
        |- Restoring overwrites keys at the destination database.  -
        |- Be sure any triggers/functions on it are disabled.      -
        |-----------------------------------------------------------""".stripMargin)
    Console.print("Do you want to proceed? (yes/no) ")
    Console.flush()
    val line = new java.io.BufferedReader(
      new java.io.InputStreamReader(in)).readLine()
    line != null && line.trim == "yes"
  }

  def main(args: Array[String]): Unit = {
    val (_, opts) = parseArgs(args.toIndexedSeq)
    // the reference's --temp_dir (ExportCommand.php:19-24): where
    // intermediate files live — for Spark that is local scratch/spill
    val spark = SparkEntry.localSession(
      conf = opts.get("temp_dir").map("spark.local.dir" -> _).toMap)
    try run(args, spark) finally spark.stop()
  }

  /** The command dispatch against a CALLER-OWNED session — main wraps
    * it with session create/stop; specs drive it on the shared test
    * session (which a main-owned stop would kill). */
  def run(args: Array[String], spark: SparkSession): Unit = {
    val (pos, opts) = parseArgs(args.toIndexedSeq)
    import spark.implicits._

    val token = opts.get("token")
    val maxIpp = opts.get("max_ipp").map(_.toInt)
      .getOrElse(LiveExport.DefaultMaxIpp)
    // the reference's --root_start_ipp (ExportCommand.php:45): seed
    // the first page size tried instead of min(1000, max_ipp)
    val rootStartIpp = opts.get("root_start_ipp").map(_.toInt)

    pos match {
      case "export" :: in :: out :: rest if rest.lengthCompare(1) <= 0 =>
        // optional 3rd positional: subtree node, the reference's scope
        val node = rest.headOption.getOrElse("/")
        val trees = spark.read.textFile(in).map(j => ("/", j))
        Export.writeBackup(Export.subtree(
          Export.flattenTrees(trees.toDF("root", "json")
            .as[(String, String)]), node), out)
        println(s"exported $node -> $out")
      case "export-live" :: url :: Nil =>
        val out = opts.getOrElse("output",
          "backups/" + defaultBackupName(url, Instant.now()))
        val edges = LiveExport.export(spark,
          () => new HttpRestClient(url, token), "/", maxIpp, rootStartIpp)
        Export.writeBackup(edges, out)
        println(s"exported live $url -> $out")
      case "import" :: in :: out :: Nil =>
        Export.readBackup(spark, in)
          .write.mode("overwrite").parquet(out)
        println(s"imported -> $out")
      case "import-live" :: in :: url :: Nil =>
        if (!opts.contains("yes") && !confirm(System.in)) {
          System.err.println("aborted"); spark.stop(); sys.exit(1)
        }
        // driver-visible quarantine count: a restore that silently
        // dropped rows is a data-recovery failure the caller must see
        val quarantined = spark.sparkContext.longAccumulator("restore_quarantined")
        Restore.restore(Export.readBackup(spark, in),
          new Restore.HttpKVSink(url, token, Some(quarantined)))
        if (quarantined.value > 0)
          System.err.println(s"WARNING: ${quarantined.value} row(s) had " +
            "malformed value_json and were quarantined (not restored)")
        println(s"restored $in -> $url (quarantined: ${quarantined.value})")
      case "export-archive" :: in :: out :: Nil =>
        // inverse of migrate: a native engine backup becomes reference-
        // format tar.gz(s) the PHP tool's import can restore
        val shards = opts.get("shards").map(_.toInt)
          .getOrElse(autoShards(dirBytes(in)))
        if (shards <= 1)
          graft.pipeline.Archive.writeReferenceArchive(
            Export.readBackup(spark, in), out)
        else
          graft.pipeline.Archive.writeShardedReferenceArchive(
            Export.readBackup(spark, in), out, shards)
        println(s"exported reference archive $in -> $out")
      case "migrate" :: in :: out :: Nil =>
        // a tar.gz (glob) produced by the REFERENCE tool becomes a
        // native engine backup: archive -> leaf edges -> range-
        // partitioned parquet + manifest
        Export.writeBackup(
          graft.pipeline.Archive.readReferenceArchive(spark, in), out)
        println(s"migrated $in -> $out")
      case "diff" :: prev :: cur :: out :: Nil =>
        val diff = Export.diffBackups(
          Export.readBackup(spark, prev), Export.readBackup(spark, cur))
        diff.write.mode("overwrite")
          .option("compression", "zstd").parquet(out)
        println(s"diff $prev -> $cur written to $out")
      case "import-diff" :: in :: url :: Nil =>
        if (!opts.contains("yes") && !confirm(System.in)) {
          System.err.println("aborted"); spark.stop(); sys.exit(1)
        }
        val quarantinedDiff =
          spark.sparkContext.longAccumulator("restore_quarantined")
        Restore.restoreDiff(spark.read.parquet(in),
          new Restore.HttpKVSink(url, token, Some(quarantinedDiff)))
        // same stderr contract as import-live: silently dropped rows
        // are a data-recovery failure the caller must see (scripted
        // callers grep for this pattern)
        if (quarantinedDiff.value > 0)
          System.err.println(s"WARNING: ${quarantinedDiff.value} row(s) " +
            "had malformed value_json and were quarantined (not applied)")
        println(s"applied diff $in -> $url " +
          s"(quarantined: ${quarantinedDiff.value})")
      // condition-driven index maintenance over a corpus dir — the
      // nightly-cron face of maintainShingleIndex/maintainIvfIndex:
      // measures, acts only on present symptoms, and prints one
      // loggable report line per index. --dry-run reports without
      // acting (what WOULD tonight's run rewrite?).
      case "maintain" :: dir :: Nil =>
        val dry = opts.get("dry-run").contains("true")
        functions.GraftFunctions.register(spark)
        println(operators.Dedup
          .maintainShingleIndex(spark, dir, dryRun = dry).render)
        println(operators.Similarity
          .maintainIvfIndex(spark, dir, dryRun = dry).render)
        println(operators.Retrieval
          .maintainLexIndex(spark, dir, dryRun = dry).render)
        // the graph index only exists where a graph consumer built
        // it — maintaining one into existence here would pay the ring
        // build on corpora that never run graph queries
        if (operators.Similarity.hasKnnGraphIndex(spark, dir, 3))
          println(operators.Similarity
            .maintainKnnGraphIndex(spark, dir, 3, dryRun = dry).render)
      // the LLM-pipeline face: run the five-stage curation DAG
      // (calibrated quality -> LM perplexity -> exact dedup ->
      // decontaminate -> pack + split) over a corpus dir and write
      // the training-ready artifact — packed survivors plus the
      // shared LM score frame, with a manifest recording provenance
      // and per-split counts (the writeBackup manifest discipline:
      // taken from the WRITTEN artifact, not the plan)
      case "curate" :: dir :: out :: Nil =>
        functions.GraftFunctions.register(spark)
        val c = operators.Curation.curate(spark, dir)
        c.packed.orderBy("doc_id").write.mode("overwrite")
          .option("compression", "zstd").parquet(s"$out/packed.parquet")
        c.lmScores.orderBy("doc_id").write.mode("overwrite")
          .option("compression", "zstd").parquet(s"$out/lm_scores.parquet")
        val written = spark.read.parquet(s"$out/packed.parquet")
        val bySplit = written.groupBy("split").count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        val manifest = s"""{"src":"$dir","docs":${written.count()},""" +
          s""""splits":{${bySplit.toSeq.sorted.map { case (k, v) =>
            s""""$k":$v""" }.mkString(",")}},""" +
          s""""lm_scored":${spark.read.parquet(s"$out/lm_scores.parquet")
            .count()}}"""
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(out, "_CURATE_MANIFEST.json"), manifest)
        println(manifest)
      case "query" :: name :: sfDir :: Nil =>
        SparkEntry.queries.get(name) match {
          case Some(fn) => fn(spark, sfDir).show(50, truncate = false)
          case None =>
            System.err.println(s"unknown query '$name'; available: " +
              SparkEntry.queries.keys.toSeq.sorted.mkString(", "))
            sys.exit(2)
        }
      case _ =>
        System.err.println(
          "usage: graft.Cli export <treesJsonDir> <backupDir> [subtreePath] | " +
            "export-live <url> [--output d] [--token t] [--max_ipp n] " +
            "[--root_start_ipp n] [--temp_dir d] | " +
            "import <backupDir> <outParquetDir> | " +
            "diff <prevBackupDir> <curBackupDir> <outDir> | " +
            "import-diff <diffDir> <url> [--token t] [--yes] | " +
            "import-live <backupDir> <url> [--token t] [--yes] | " +
            "migrate <refTarGzGlob> <backupDir> | " +
            "export-archive <backupDir> <outTarGz> [--shards n] | " +
            "maintain <corpusDir> [--dry-run] | " +
            "curate <corpusDir> <outDir> | " +
            "query <name> <sfDir>")
        sys.exit(2)
    }
  }
}
