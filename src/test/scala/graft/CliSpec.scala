package graft

import graft.pipeline.{Archive, Export, TreeCodec}
import org.apache.spark.sql.functions.{col, sum}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import java.io.ByteArrayInputStream
import java.nio.file.Files
import java.nio.charset.StandardCharsets.UTF_8
import java.time.Instant

/** CLI option surface parity with the reference's commands
  * (ExportCommand.php:15-48, ImportCommand.php:33-44): flag parsing,
  * the timestamped default backup name, and the stdin confirmation
  * gate as pure-function tests; and the commands that write a backup
  * (`export`, `migrate`) on the shared test session. */
class CliSpec extends AnyFunSuite {

  test("parseArgs splits positionals from --key value / --key=value") {
    val (pos, opts) = Cli.parseArgs(Seq(
      "export-live", "http://db", "--max_ipp", "500",
      "--output=backups/x", "--yes"))
    assert(pos == List("export-live", "http://db"))
    assert(opts == Map(
      "max_ipp" -> "500", "output" -> "backups/x", "yes" -> "true"))
  }

  test("--dry-run is a bare flag: it never swallows a positional") {
    val (pos, opts) = Cli.parseArgs(Seq("maintain", "--dry-run", "/corpus"))
    assert(pos == List("maintain", "/corpus"))
    assert(opts == Map("dry-run" -> "true"))
  }

  test("default backup name is <projectId>-<timestamp>, sanitized") {
    // BackupProcessor.php:22-24: project id is the host's first label;
    // generateCompressedBackup sanitizes [^a-zA-Z0-9]+ to '-'
    val name = Cli.defaultBackupName(
      "https://my-proj.firebaseio.com", Instant.parse("2026-08-12T10:30:00Z"))
    assert(name == "my-proj-2026-08-12T10-30-00Z"
      .replaceAll("[^a-zA-Z0-9]+", "-"))
    assert(name.startsWith("my-proj-2026-08-12"))
    assert(name.matches("[a-zA-Z0-9-]+"))
  }

  test("export-archive auto-shards by backup size, --shards overrides") {
    // ceil(bytes / 512MB), floor 1 (the single-file reference format),
    // cap 4096 (no million-file explosions from a bad size estimate)
    val M = 1024L * 1024
    assert(Cli.autoShards(0L) == 1)
    assert(Cli.autoShards(1L) == 1)
    assert(Cli.autoShards(512 * M) == 1)
    assert(Cli.autoShards(512 * M + 1) == 2)
    assert(Cli.autoShards(10L * 1024 * M) == 20)
    assert(Cli.autoShards(Long.MaxValue / 2) == 4096)
    // dirBytes: missing dir is 0 bytes -> 1 shard (never throws)
    assert(Cli.dirBytes("/tmp/definitely-missing-graft-dir") == 0L)
    val d = java.nio.file.Files.createTempDirectory("cli-bytes")
    java.nio.file.Files.write(d.resolve("a.parquet"), new Array[Byte](1000))
    val sub = java.nio.file.Files.createDirectory(d.resolve("sub"))
    java.nio.file.Files.write(sub.resolve("b.parquet"), new Array[Byte](500))
    assert(Cli.dirBytes(d.toString) == 1500L)
  }

  test("confirmation gate accepts only a literal yes line") {
    def gate(line: String): Boolean =
      Console.withOut(new java.io.ByteArrayOutputStream()) {
        Cli.confirm(new ByteArrayInputStream(line.getBytes(UTF_8)))
      }
    assert(gate("yes\n"))
    assert(gate("  yes  \n")) // trimmed, like the reference's trim()
    assert(!gate("no\n"))
    assert(!gate("y\n"))
    assert(!gate("YES\n")) // the reference compares exact lowercase
    assert(!gate(""))      // EOF = refuse
  }

  // --- the commands that write a backup -------------------------------
  private def spark = TestSpark.session

  /** The backup at `dir`: its rows as edges, checked against its
    * manifest, whose `n_keys` must add up to the row count. */
  private def backupEdges(dir: String): Seq[TreeCodec.Edge] = {
    val rows = Export.readBackup(spark, dir).collect().toSeq
      .map(r => TreeCodec.Edge(r.getString(0), r.getString(1), r.getString(2)))
    val keys = spark.read.json(s"$dir/manifest").agg(sum(col("n_keys")))
      .head().getLong(0)
    assert(keys == rows.size, s"manifest n_keys $keys vs ${rows.size} rows")
    rows
  }

  private def sorted(es: Seq[TreeCodec.Edge]) = es.sortBy(e => (e.path, e.key))

  /** Eight random documents, one per line, each under its own top-level
    * key `d<i>`. */
  private lazy val docs: Seq[String] = {
    var seed = Seed(20261019L)
    (1 to 8).map { i =>
      val tree = RandomTrees.node(3).apply(Gen.Parameters.default, seed)
        .getOrElse(sys.error("gen failed"))
      seed = seed.next
      s"""{"d$i": $tree}"""
    }
  }

  test("export writes a backup of the flattened edges, whole or one subtree") {
    val in = Files.createTempDirectory("cli-trees")
    Files.write(in.resolve("trees.json"), docs.mkString("\n").getBytes(UTF_8))
    val edges = docs.flatMap(TreeCodec.flatten(_))
    val out = Files.createTempDirectory("cli-export").toString
    Console.withOut(new java.io.ByteArrayOutputStream()) {
      Cli.run(Array("export", in.toString, out), spark)
    }
    assert(sorted(backupEdges(out)) == sorted(edges))

    val sub = Files.createTempDirectory("cli-export-sub").toString
    Console.withOut(new java.io.ByteArrayOutputStream()) {
      Cli.run(Array("export", in.toString, sub, "/d3"), spark)
    }
    val under = edges.filter(e => e.path == "/d3" || e.path.startsWith("/d3/"))
    assert(under.nonEmpty && under.size < edges.size)
    assert(sorted(backupEdges(sub)) == sorted(under))
  }

  test("migrate turns a reference archive into a backup of its edges") {
    val sp = spark; import sp.implicits._
    val edges = docs.flatMap(TreeCodec.flatten(_))
    val tar = Files.createTempDirectory("cli-archive").resolve("ref.tar.gz")
    Archive.writeReferenceArchive(
      edges.map(e => (e.path, e.key, e.valueJson)).toDF("path", "key", "value_json"),
      tar.toString)
    val archived = Archive.edgesFromArchive(Files.readAllBytes(tar))
    assert(sorted(archived) == sorted(edges))
    val out = Files.createTempDirectory("cli-migrate").toString
    Console.withOut(new java.io.ByteArrayOutputStream()) {
      Cli.run(Array("migrate", tar.toString, out), spark)
    }
    assert(sorted(backupEdges(out)) == sorted(archived))
  }
}
