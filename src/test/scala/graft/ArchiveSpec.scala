package graft

import graft.pipeline.{Archive, TreeCodec}
import org.apache.commons.compress.archivers.tar.{TarArchiveEntry, TarArchiveOutputStream}
import org.apache.commons.compress.compressors.gzip.GzipCompressorOutputStream

import java.io.{ByteArrayOutputStream, FileOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

/** The reference-archive source: a tar.gz built exactly the way the PHP
  * tool builds one (md5-ish chunk names + metadata.json manifest,
  * BackupProcessor.php:202-242) must decode to the engine's canonical
  * leaf-edge frame — including flattening chunk values that are whole
  * subtrees. */
class ArchiveSpec extends SparkSuite {

  private def buildArchive(entries: Map[String, String]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val tar = new TarArchiveOutputStream(new GzipCompressorOutputStream(bos))
    entries.foreach { case (name, content) =>
      val bytes = content.getBytes(UTF_8)
      val e = new TarArchiveEntry(name)
      e.setSize(bytes.length)
      tar.putArchiveEntry(e)
      tar.write(bytes)
      tar.closeArchiveEntry()
    }
    tar.close()
    bos.toByteArray
  }

  private val archive = buildArchive(Map(
    "metadata.json" ->
      """{"/": ["c1.json"], "/users": ["c2.json", "c3.json"]}""",
    "c1.json" -> """{"title": "hello", "count": 3}""",
    // subtree value (a page the reference fetched without descending)
    // next to a scalar sibling
    "c2.json" -> """{"u1": {"name": "a", "age": 1}, "u2": "flat"}""",
    "c3.json" -> """{"u3": {"deep": {"x": true}}}"""))

  private val expected = Set(
    TreeCodec.Edge("/", "title", "\"hello\""),
    TreeCodec.Edge("/", "count", "3"),
    TreeCodec.Edge("/users/u1", "name", "\"a\""),
    TreeCodec.Edge("/users/u1", "age", "1"),
    TreeCodec.Edge("/users", "u2", "\"flat\""),
    TreeCodec.Edge("/users/u3/deep", "x", "true"))

  test("archive bytes decode to leaf edges, subtree chunks flattened") {
    assert(Archive.edgesFromArchive(archive).toSet == expected)
  }

  test("readReferenceArchive reads a tar.gz file through binaryFile") {
    val dir = Files.createTempDirectory("graft-archive")
    val f = dir.resolve("backup-2026.tar.gz").toFile
    val out = new FileOutputStream(f)
    out.write(archive); out.close()

    val rows = Archive.readReferenceArchive(spark, f.getAbsolutePath)
      .collect()
      .map(r => TreeCodec.Edge(r.getString(0), r.getString(1), r.getString(2)))
      .toSet
    assert(rows == expected)
  }

  test("a decoded archive re-assembles to the merged source tree") {
    val json = TreeCodec.assemble(Archive.edgesFromArchive(archive))
    assert(TreeCodec.jsonEqual(json,
      """{"title": "hello", "count": 3, "users": {
        |  "u1": {"name": "a", "age": 1}, "u2": "flat",
        |  "u3": {"deep": {"x": true}}}}""".stripMargin))
  }

  test("an array-shaped chunk decodes to index-keyed edges") {
    // json_encode writes a page of a dense integer-keyed node as a JSON
    // array; its null is the padding for the absent index 0
    val bytes = buildArchive(Map(
      "metadata.json" -> """{"/arr": ["c1.json"]}""",
      "c1.json" -> """[null, "a", "b"]"""))
    assert(Archive.edgesFromArchive(bytes).toSet == Set(
      TreeCodec.Edge("/arr", "1", "\"a\""),
      TreeCodec.Edge("/arr", "2", "\"b\"")))
  }

  test("random trees: decoding the written archive gives back the flattened edges") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    def sorted(es: Seq[TreeCodec.Edge]) = es.sortBy(e => (e.path, e.key))
    var seed = Seed(20261018L)
    var deepest = 0
    (1 to 40).foreach { round =>
      val json = RandomTrees.node(6).apply(Gen.Parameters.default, seed)
        .getOrElse(sys.error("gen failed"))
      seed = seed.next
      val edges = sorted(TreeCodec.flatten(json))
      val out = new ByteArrayOutputStream()
      Archive.writeArchiveStream(edges.iterator, out)
      val back = sorted(Archive.edgesFromArchive(out.toByteArray))
      assert(back == edges, s"round $round, tree $json")
      deepest = math.max(deepest, edges.map(_.path.count(_ == '/')).max)
    }
    // the generator must reach deep nesting
    assert(deepest >= 5, s"deepest path has $deepest segments")
  }

  test("an archive without metadata.json is rejected") {
    val bad = buildArchive(Map("c1.json" -> "{}"))
    intercept[IllegalArgumentException] { Archive.edgesFromArchive(bad) }
  }

  test("write-then-read round-trips an edge frame, with paging") {
    val sp = spark; import sp.implicits._
    // 2500 keys on one path forces 3 pages (PageSize=1000, the
    // reference's max_ipp), plus a second path in the same archive
    val edges =
      (1 to 2500).map(i => ("/big", f"k$i%05d", i.toString)) :+
        (("/other", "x", "\"v\""))
    val df = edges.toDF("path", "key", "value_json")
    val dir = Files.createTempDirectory("graft-archive-w")
    val out = dir.resolve("export.tar.gz").toString
    Archive.writeReferenceArchive(df, out)

    val back = Archive.edgesFromArchive(
      Files.readAllBytes(java.nio.file.Paths.get(out)))
    assert(back.toSet ==
      edges.map(e => TreeCodec.Edge(e._1, e._2, e._3)).toSet)
    // and the manifest pages /big into ceil(2500/1000) = 3 chunks
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val tar = new org.apache.commons.compress.archivers.tar.TarArchiveInputStream(
      new org.apache.commons.compress.compressors.gzip.GzipCompressorInputStream(
        new java.io.ByteArrayInputStream(
          Files.readAllBytes(java.nio.file.Paths.get(out)))))
    var meta: com.fasterxml.jackson.databind.JsonNode = null
    var e = tar.getNextEntry
    while (e != null) {
      if (e.getName == "metadata.json") meta = mapper.readTree(tar.readAllBytes())
      e = tar.getNextEntry
    }
    assert(meta.get("/big").size() == 3 && meta.get("/other").size() == 1)
  }

  test("sharded export: N independent archives union to the frame") {
    val sp = spark; import sp.implicits._
    // keys span shard boundaries: one fat path split across shards plus
    // small paths, proving per-shard metadata stays self-contained
    val edges =
      (1 to 3000).map(i => ("/big", f"k$i%05d", i.toString)) ++
        (1 to 40).map(i => (s"/small/s$i", "v", s""""x$i""""))
    val df = edges.toDF("path", "key", "value_json")
    val dir = Files.createTempDirectory("graft-archive-sh").toString
    Archive.writeShardedReferenceArchive(df, dir, shards = 4)

    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".tar.gz")).sortBy(_.getName)
    assert(files.length == 4)
    // every shard is a complete, independently-decodable archive
    val perShard = files.map(f =>
      Archive.edgesFromArchive(Files.readAllBytes(f.toPath)).toSet)
    perShard.foreach(s => assert(s.nonEmpty))
    // shards are disjoint and union back to the full frame
    assert(perShard.map(_.size).sum == edges.size)
    assert(perShard.reduce(_ ++ _) ==
      edges.map(e => TreeCodec.Edge(e._1, e._2, e._3)).toSet)
    // and the PHP-restore law: replaying every shard (any order)
    // through PATCH-merge semantics reproduces the tree — equivalent
    // here to assembling the union
    val assembled = TreeCodec.assemble(perShard.reduce(_ ++ _).toSeq)
    assert(TreeCodec.jsonEqual(assembled,
      TreeCodec.assemble(edges.map(e => TreeCodec.Edge(e._1, e._2, e._3)))))
  }
}
