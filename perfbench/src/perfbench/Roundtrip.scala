package perfbench

import graft.pipeline.{Archive, Export, HttpRestClient, LiveExport, Restore, TreeCodec}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, sum}

import java.io.File
import scala.collection.mutable

/** The paper's backup job, end to end, against two REST stand-ins:
  *
  *  1. live export: `LiveExport.export` then `Export.writeBackup`;
  *  2. archive: `Archive.writeReferenceArchive` then
  *     `Archive.readReferenceArchive`;
  *  3. restore into an empty stand-in: `Restore.restore` with
  *     `HttpKVSink`;
  *  4. incremental: the source is mutated, exported again, diffed
  *     against the first backup (`Export.diffBackups`) and the diff
  *     applied to the destination (`Restore.restoreDiff`).
  *
  * Every call into a pipeline module is timed from outside, and the
  * stand-ins count the requests each phase sends. Checks: the
  * destination equals the source after the restore and after the
  * incremental step, the manifest's key counts add up to the edge
  * count, and the archive reads back exactly the backup's rows.
  */
final class Roundtrip(spark: SparkSession, cfg: Roundtrip.Config, work: File) {
  import Roundtrip._

  val source = new StandIn(cfg.payloadCap, cfg.patchKeyCap, cfg.delayMs, cfg.threads)
  val dest = new StandIn(cfg.payloadCap, cfg.patchKeyCap, cfg.delayMs, cfg.threads)
  val tree: String = TreeGen.generate(cfg.seed, cfg.spec)
  val mutated: String = TreeGen.mutate(tree, cfg.seed)
  val edges: Long = TreeGen.edgeCount(tree)
  val jsonBytes: Long = tree.getBytes("UTF-8").length.toLong
  private var round = 0

  def stop(): Unit = { source.stop(); dest.stop() }

  /** One full round trip, its calls recorded as spans in `trace`.
    * Returns its timings, counters and the checks that failed (empty
    * when all passed). */
  def run(trace: Trace): Round = {
    round += 1
    val dir = new File(work, s"round$round")
    dir.mkdirs()
    val t = mutable.LinkedHashMap.empty[String, Double]
    val c = mutable.LinkedHashMap.empty[String, Double]
    val failures = mutable.ArrayBuffer.empty[String]
    def timed[T](name: String)(f: => T): T = trace.span(name) {
      val t0 = System.nanoTime()
      try f finally t(name) = t.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
    }
    def check(name: String)(ok: => Boolean): Unit =
      try { if (!ok) failures += name }
      catch { case e: Throwable => failures += s"$name: $e" }
    val url = source.url
    val factory = () => new HttpRestClient(url): graft.pipeline.RestClient
    val backup1 = new File(dir, "backup1").getPath
    val backup2 = new File(dir, "backup2").getPath
    val archive = new File(dir, "backup.tar.gz").getPath

    source.load(tree)
    dest.load("{}")
    source.resetPhase()
    trace.span("phase", "name" -> "export") {
      val rows = timed("liveexport.plan")(LiveExport.export(spark, factory))
      val plan = source.resetPhase()
      c("liveexport.plan_gets") = plan.total("GET").toDouble
      timed("export.write")(Export.writeBackup(rows, backup1))
      val walk = source.resetPhase()
      val all = Seq(plan, walk)
      def sumOf(f: StandIn.Counters => Long) = all.map(f).sum.toDouble
      c("liveexport.gets") = sumOf(_.total("GET"))
      c("liveexport.repeat_gets") = sumOf(_.repeatGets.get) +
        overlap(plan, walk)
      c("liveexport.rejected_gets") = sumOf(_.count("GET", 400))
      c("liveexport.shallow_gets") = sumOf(_.shallowGets.get)
      c("liveexport.page_gets") = sumOf(_.pageGets.get)
      c("liveexport.page_gets_ok") = sumOf(_.pageGetsOk.get)
      c("liveexport.bytes_in") = sumOf(_.bytesOut.get)
      busy(c, all)
    }
    t("export") = t("liveexport.plan") + t("export.write")
    check("manifest n_keys sum == edge count") {
      val n = spark.read.json(s"$backup1/manifest").agg(sum(col("n_keys"))).head.getLong(0)
      n == edges
    }
    val backupRows = Export.readBackup(spark, backup1)
      .select("path", "key", "value_json").collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    check("backup rows == source edges")(backupRows.length == edges)

    // the archive step is short, so it runs ArchiveReps times and its
    // times are the medians
    trace.span("phase", "name" -> "archive") {
      val reps = (1 to ArchiveReps).map { _ =>
        val (w, _) = clock(trace.span("archive.write")(
          Archive.writeReferenceArchive(Export.readBackup(spark, backup1), archive)))
        val (r, back) = clock(trace.span("archive.read")(Archive.readReferenceArchive(spark, archive)
          .select("path", "key", "value_json").collect()
          .map(r => (r.getString(0), r.getString(1), r.getString(2)))))
        (w, r, back)
      }
      t("archive.write") = Result.median(reps.map(_._1))
      t("archive.read") = Result.median(reps.map(_._2))
      t("archive") = Result.median(reps.map(x => x._1 + x._2))
      c("archive.bytes") = new File(archive).length.toDouble
      val back = reps.last._3
      check("archive read-back == backup rows")(
        back.length == backupRows.length && back.toSet == backupRows.toSet)
    }

    dest.resetPhase()
    trace.span("phase", "name" -> "restore") {
      timed("restore")(Restore.restore(Export.readBackup(spark, backup1),
        new Restore.HttpKVSink(dest.url)))
      val p = dest.resetPhase()
      c("restore.patches") = p.total("PATCH").toDouble
      c("restore.rejected_patches") = p.count("PATCH", 400).toDouble
      c("restore.patches_ok") = p.ok("PATCH").toDouble
      c("restore.patch_bytes") = p.bytesIn.get.toDouble
      busy(c, Seq(p), "restore.")
    }
    val sourceSnapshot = source.snapshot()
    check("destination == source after restore")(
      TreeCodec.jsonEqual(dest.snapshot(), sourceSnapshot))

    source.load(mutated)
    source.resetPhase()
    trace.span("phase", "name" -> "incremental") {
      val rows2 = timed("incremental.export")(LiveExport.export(spark, factory))
      timed("incremental.write")(Export.writeBackup(rows2, backup2))
      source.resetPhase()
      val diff = timed("export.diff")(Export.diffBackups(
        Export.readBackup(spark, backup1), Export.readBackup(spark, backup2)))
      dest.resetPhase()
      timed("restore.diff_apply")(Restore.restoreDiff(diff, new Restore.HttpKVSink(dest.url)))
      c("export.diff_rows") = dest.resetPhase().patchKeysOk.get.toDouble
    }
    t("incremental") = t("incremental.export") + t("incremental.write") +
      t("export.diff") + t("restore.diff_apply")
    check("destination == mutated source after incremental")(
      TreeCodec.jsonEqual(dest.snapshot(), source.snapshot()))
    c("stored_bytes") = du(new File(backup1)).toDouble
    deleteRecursively(dir)
    Round(t.toMap, c.toMap, failures.toList)
  }

  /** GETs the walk repeated from planning (the same path and query). */
  private def overlap(a: StandIn.Counters, b: StandIn.Counters): Long = {
    import scala.jdk.CollectionConverters._
    b.seen.asScala.count(a.seen.contains).toLong
  }

  private def busy(c: mutable.Map[String, Double], phases: Seq[StandIn.Counters],
                   prefix: String = "liveexport."): Unit = {
    c(prefix + "standin_busy_s") = phases.map(_.busyNanos.get).sum / 1e9
    c(prefix + "standin_max_inflight") =
      phases.map(_.maxInflight.get).max.toDouble
  }
}

object Roundtrip {
  /** Checks made per round (see the class comment). */
  val Checks = 5
  val ArchiveReps = 3

  /** Seconds taken by `f`, and its result. */
  def clock[T](f: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = f
    ((System.nanoTime() - t0) / 1e9, r)
  }

  final case class Config(seed: Long, spec: TreeGen.Spec, payloadCap: Int,
                          patchKeyCap: Int, delayMs: Int, threads: Int)

  final case class Round(times: Map[String, Double], counts: Map[String, Double],
                         failures: List[String])

  def du(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(du).sum).getOrElse(0L)
    else f.length

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete()
  }
}
