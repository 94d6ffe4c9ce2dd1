package graft.pipeline

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.commons.compress.archivers.tar.TarArchiveInputStream
import org.apache.commons.compress.compressors.gzip.GzipCompressorInputStream
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.io.ByteArrayInputStream
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Source for the REFERENCE's own backup artifact — the tar.gz the PHP
  * tool produces (`PharData` over a temp dir of md5-named `.json` page
  * chunks plus a `metadata.json` manifest mapping firebase-path → ordered
  * chunk list; BackupProcessor.php:202-242,49-51). A user of the
  * reference can point this engine at their EXISTING backups: the
  * archive is decoded into the engine's canonical leaf-edge frame
  * `(path, key, value_json)` (TreeCodec / FIXTURES.md §2), from which
  * Export.writeBackup re-materializes the Parquet form and Restore
  * replays into any KVSink.
  *
  * Scale shape: one tar.gz is a single gzip stream — inherently
  * non-splittable (the same property the reference's single-process
  * writer has), so ONE archive decodes on one executor core with memory
  * bounded by the archive size (the reference itself holds pages in a
  * 4G-limit PHP process — frdbackup:11). Parallelism comes from MANY
  * archives: `binaryFile` globs distribute one archive per task; the
  * emitted edges then repartition like any other frame. Chunk values
  * that are whole subtrees (pages the reference fetched without
  * descending) are flattened to leaf edges with TreeCodec, so the
  * output frame is identical in shape to a native export.
  */
object Archive {

  /** Decode one archive's bytes into leaf edges (executor-side pure
    * function). Chunks are replayed in manifest order per path — the
    * reference's restore order (RestoreProcessor.php:62-67). A chunk is
    * a page of one path's children: an object, or — as `json_encode`
    * writes a page of a dense integer-keyed node — an array. */
  def edgesFromArchive(bytes: Array[Byte]): Seq[TreeCodec.Edge] = {
    val mapper = new ObjectMapper()
    val files = mutable.Map.empty[String, Array[Byte]]
    val tar = new TarArchiveInputStream(
      new GzipCompressorInputStream(new ByteArrayInputStream(bytes)))
    try {
      var entry = tar.getNextEntry
      while (entry != null) {
        if (!entry.isDirectory) {
          // PharData::buildFromDirectory keeps paths relative to the
          // temp dir; normalize to the basename either way
          val name = entry.getName.split('/').last
          files(name) = tar.readAllBytes()
        }
        entry = tar.getNextEntry
      }
    } finally tar.close()
    val manifest = mapper.readTree(files.getOrElse("metadata.json",
      throw new IllegalArgumentException(
        "not a reference backup archive: metadata.json missing")))
    val out = Vector.newBuilder[TreeCodec.Edge]
    manifest.fields().asScala.foreach { pathEntry =>
      pathEntry.getValue.elements().asScala.foreach { chunkName =>
        TreeCodec.flattenNode(mapper.readTree(files(chunkName.asText())),
          pathEntry.getKey, out += _)
      }
    }
    out.result()
  }

  /** Read reference backup archive(s) — `pathGlob` may match many — as
    * the engine's (path, key, value_json) frame. */
  def readReferenceArchive(spark: SparkSession, pathGlob: String): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile").load(pathGlob)
      .select("content").as[Array[Byte]]
      .flatMap(edgesFromArchive _)
      .toDF("path", "key", "value_json")
  }

  /** Chunk page size when writing — the reference's `max_ipp` ceiling
    * (BackupProcessor.php:16). */
  val PageSize = 1000

  /** Write an edge frame AS a reference-format archive, so the PHP
    * tool's own `import` can restore an engine export. The format is a
    * single tar.gz — inherently one output stream — so this writes on
    * the driver through `toLocalIterator` over the (path, key)-sorted
    * frame: memory stays bounded by one page (PageSize keys), exactly
    * the reference's own working-set bound, while the sort itself runs
    * distributed. Chunk names are content-addressed (md5 of path +
    * first key — deterministic, unlike the reference's uniqid, so
    * exports are reproducible). */
  def writeReferenceArchive(rows: DataFrame, outFile: String): Unit = {
    val sorted = rows.select("path", "key", "value_json")
      .orderBy("path", "key")
    val it = sorted.toLocalIterator().asScala
      .map(r => TreeCodec.Edge(r.getString(0), r.getString(1), r.getString(2)))
    writeArchiveStream(it, new java.io.FileOutputStream(outFile))
  }

  /** Serialize (path,key)-sorted edges as one reference-format tar.gz
    * onto `out` (closes it). Memory bounded by one page. Pure function
    * of its iterator — runs identically on the driver (single archive)
    * or inside a partition task (sharded export). */
  def writeArchiveStream(edges: Iterator[TreeCodec.Edge],
                         out: java.io.OutputStream): Unit = {
    import org.apache.commons.compress.archivers.tar.{TarArchiveEntry, TarArchiveOutputStream}
    import org.apache.commons.compress.compressors.gzip.GzipCompressorOutputStream
    val mapper = new ObjectMapper()
    val manifest = mapper.createObjectNode()
    val tar = new TarArchiveOutputStream(new GzipCompressorOutputStream(
      new java.io.BufferedOutputStream(out)))
    def putEntry(name: String, bytes: Array[Byte]): Unit = {
      val e = new TarArchiveEntry(name)
      e.setSize(bytes.length)
      tar.putArchiveEntry(e)
      tar.write(bytes)
      tar.closeArchiveEntry()
    }
    try {
      val it = edges.buffered
      while (it.hasNext) {
        val path = it.head.path
        val page = mapper.createObjectNode()
        var n = 0
        var first: String = null
        while (it.hasNext && it.head.path == path && n < PageSize) {
          val e = it.next()
          if (first == null) first = e.key
          page.set[com.fasterxml.jackson.databind.JsonNode](
            e.key, mapper.readTree(e.valueJson))
          n += 1
        }
        val name = org.apache.commons.codec.digest.DigestUtils
          .md5Hex(s"$path#$first") + ".json"
        putEntry(name, mapper.writeValueAsBytes(page))
        // NOT manifest.withArray(path): jackson reads a leading "/" as
        // a JSON Pointer and would register "/big" under key "big"
        (manifest.get(path) match {
          case a: com.fasterxml.jackson.databind.node.ArrayNode => a
          case _ => manifest.putArray(path)
        }).add(name)
      }
      putEntry("metadata.json", mapper.writeValueAsBytes(manifest))
    } finally tar.close()
  }

  /** Sharded reference export — the 100 TB shape the single-stream
    * format can't reach: range-partition the frame on (path, key) into
    * `shards` slices and let EACH PARTITION TASK write its own complete
    * tar.gz (own metadata.json + chunks) in parallel. Every shard is
    * independently restorable by the PHP tool — PATCH merge semantics
    * make splitting one path's keys across shards safe (each shard
    * updates its own key subset) — and restoring all shards reproduces
    * the database. Files land under `outDir/shard-NNNNN.tar.gz` on
    * storage visible to the tasks (local dir in local mode, a shared
    * filesystem on a cluster). */
  def writeShardedReferenceArchive(rows: DataFrame, outDir: String,
                                   shards: Int): Unit = {
    import org.apache.spark.sql.functions.col
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val sp = rows.sparkSession
    import sp.implicits._
    rows.select("path", "key", "value_json")
      .repartitionByRange(math.max(1, shards), col("path"), col("key"))
      .sortWithinPartitions("path", "key")
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .rdd.mapPartitionsWithIndex { (i, it) =>
        if (it.hasNext) {
          val f = new java.io.File(outDir, f"shard-$i%05d.tar.gz")
          writeArchiveStream(
            it.map { case (p, k, v) => TreeCodec.Edge(p, k, v) },
            new java.io.FileOutputStream(f))
          Iterator.single(f.getPath)
        } else Iterator.empty
      }.collect()
    ()
  }
}
