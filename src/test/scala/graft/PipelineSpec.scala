package graft

import graft.pipeline.{Export, Restore, TreeCodec}
import graft.pipeline.TreeCodec.Edge
import org.apache.spark.GraftListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import java.io.File
import java.nio.file.{Files, Paths, StandardOpenOption}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** The reference's implicit contract: export then import reproduces the
  * database (SURVEY.md §5 "round-trip laws"). Random JSON trees via
  * ScalaCheck; flatten/assemble as pure functions; the full Spark
  * export->parquet->restore path against an in-memory sink, including
  * the adaptive shrink/grow batching under injected failures. */
class PipelineSpec extends SparkSuite {

  // --- random JSON trees (object-rooted, modest depth/width) ----------
  private val scalarGen: Gen[String] = Gen.oneOf(
    Gen.alphaNumStr.map(s => "\"" + s.take(8) + "\""),
    Gen.chooseNum(-1000000, 1000000).map(_.toString),
    Gen.oneOf("true", "false", "null"),
    Gen.chooseNum(-1000.0, 1000.0).map(_.toString))

  private val keyGen: Gen[String] =
    Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString.take(6))

  private def treeGen(depth: Int): Gen[String] =
    if (depth <= 0) scalarGen
    else Gen.choose(1, 4).flatMap { width =>
      Gen.listOfN(width, for {
        k <- keyGen
        v <- Gen.frequency(3 -> scalarGen, 2 -> Gen.lzy(treeGen(depth - 1)))
      } yield s""""$k": $v""")
        .map(_.distinctBy(_.takeWhile(_ != ':')).mkString("{", ",", "}"))
    }

  test("flatten/assemble round-trip on random trees") {
    // plain ScalaCheck Gen with a fixed seed (scalatestplus bridge is
    // not in the offline cache): 50 deterministic random trees
    var seed = Seed(42L)
    (1 to 50).foreach { _ =>
      val json = treeGen(4).apply(Gen.Parameters.default, seed)
        .getOrElse(sys.error("gen failed"))
      seed = seed.next
      val edges = TreeCodec.flatten(json)
      val back = TreeCodec.assemble(edges)
      // arrays round-trip as integer-keyed objects (Firebase encoding),
      // and our generator emits none, so equality is exact
      assert(TreeCodec.jsonEqual(json, back),
        s"round-trip failed:\n in=$json\nout=$back")
    }
  }

  test("flatten paths follow the reference's slash-concatenation") {
    val edges = TreeCodec.flatten("""{"a": {"b": {"c": 1}}, "d": 2}""")
    assert(edges.toSet == Set(
      Edge("/a/b", "c", "1"), Edge("/", "d", "2")))
  }

  test("permissive flatten quarantines malformed documents") {
    val sp = spark; import sp.implicits._
    val in = Seq(("/", """{"a": 1}"""), ("/", """{not json"""))
    val rows = Export.flattenTrees(in.toDS()).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(rows == Set(
      ("/", "a", "1"), ("/", Export.CorruptKey, """{not json""")))
    // strict mode propagates the parse failure
    intercept[org.apache.spark.SparkException] {
      Export.flattenTrees(in.toDS(), permissive = false).collect()
    }
  }

  test("subtree export scopes to one node (the reference's path arg)") {
    val sp = spark; import sp.implicits._
    val json = """{"a": {"b": {"c": 1}, "x": 2}, "ab": {"y": 3}, "d": 4}"""
    val rows = Export.flattenTrees(Seq(("/", json)).toDS())
    val under = Export.subtree(rows, "/a").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    // /ab must NOT match the /a prefix; /a's own edges and /a/b's do
    assert(under == Set(("/a/b", "c"), ("/a", "x")))
    assert(Export.subtree(rows, "/").count() == rows.count())
  }

  test("arrays flatten to integer keys") {
    val edges = TreeCodec.flatten("""{"xs": [10, {"y": 1}]}""")
    assert(edges.toSet == Set(
      Edge("/xs", "0", "10"), Edge("/xs/1", "y", "1")))
  }

  // --- adaptive restore batching (RestoreProcessor.php:70-106) --------
  private class MemorySink(failAbove: Int = Int.MaxValue)
      extends Restore.KVSink {
    val store = new ConcurrentHashMap[(String, String), String]()
    val calls = new AtomicInteger() // restore may call update concurrently
    override def update(path: String, batch: Map[String, String]): Boolean = {
      calls.incrementAndGet()
      if (batch.size > failAbove) false
      else { batch.foreach { case (k, v) => store.put((path, k), v) }; true }
    }
  }

  test("drainPath delivers everything in order on a healthy sink") {
    val sink = new MemorySink()
    val data = (1 to 2500).map(i => f"k$i%05d" -> i.toString).toMap
    Restore.drainPath(sink, "/p", data)
    assert(sink.store.size == 2500)
    assert(sink.store.get(("/p", "k02500")) == "2500")
  }

  test("drainPath shrinks to the sink's capacity and still drains") {
    val sink = new MemorySink(failAbove = 7) // payload-too-large analog
    val data = (1 to 100).map(i => f"k$i%03d" -> i.toString).toMap
    Restore.drainPath(sink, "/p", data, sleep = _ => ())
    assert(sink.store.size == 100)
    // must have shrunk 1000->...->7 wards: more calls than a perfect
    // 100/7 split but bounded well below per-key writes + retries
    assert(sink.calls.get > 100 / 7 && sink.calls.get < 100)
  }

  test("drainPath grows the batch after sustained success") {
    val sink = new MemorySink()
    val data = (1 to 50).map(i => f"k$i%03d" -> i.toString).toMap
    // start tiny: min(1000, size)=50, no growth observable; instead
    // drive with a small initial via a capacity-limited then healed sink
    var failures = 3
    val flaky = new Restore.KVSink {
      var sizes = List.empty[Int]
      override def update(p: String, b: Map[String, String]): Boolean = {
        sizes ::= b.size
        if (failures > 0) { failures -= 1; false } else true
      }
    }
    Restore.drainPath(flaky, "/p", data, sleep = _ => ())
    val sizes = flaky.sizes.reverse
    // after shrinking 50->25->13->7, five successes at 7 then growth
    assert(sizes.take(4) == List(50, 25, 13, 7))
    assert(sizes.exists(_ > 7), s"batch never grew: $sizes")
  }

  test("drainPath batch growth is capped at the reference's 1000 ceiling") {
    // unbounded x1.2 growth would eventually serialize+send a body the
    // server must reject, then oscillate around its limit forever; the
    // reference contract is batches of UP TO 1000 key-writes
    val sizes = scala.collection.mutable.ArrayBuffer.empty[Int]
    val sink = new Restore.KVSink {
      override def update(p: String, b: Map[String, String]): Boolean = {
        sizes += b.size; true
      }
    }
    val data = (1 to 20000).map(i => f"k$i%06d" -> i.toString).toMap
    Restore.drainPath(sink, "/p", data, sleep = _ => ())
    assert(sizes.max == Restore.InitialBatch,
      s"batch exceeded the ceiling: ${sizes.max}")
    assert(sizes.forall(_ <= Restore.InitialBatch))
  }

  test("unsinkable data raises (RestoreFailureException analog)") {
    val sink = new MemorySink(failAbove = 0)
    intercept[IllegalStateException] {
      Restore.drainPath(sink, "/p", Map("k" -> "1"), maxStalled = 8,
        sleep = _ => ())
    }
  }

  test("drainPath law: random keys under random sink-failure schedules") {
    // The i-th update call answers schedule(i): (succeeds, applied). A
    // failed call may still have been applied (the response was lost),
    // which only an idempotent drain survives. Past the schedule every
    // call succeeds, so each call drains at least one key and a drain
    // the stall guard does not stop makes at most
    // schedule.size + keys calls.
    val keyGen: Gen[String] = Gen.frequency(
      4 -> Gen.choose(1, 8).flatMap(Gen.listOfN(_, Gen.alphaNumChar)).map(_.mkString),
      1 -> Gen.oneOf("é", "ключ", "日本", "😀", "a b", "007", "-1", "10", "2"))
    val caseGen = for {
      keys <- Gen.choose(0, 300).flatMap(Gen.listOfN(_, keyGen))
      maxStalled <- Gen.choose(1, 6)
      runs <- Gen.choose(0, 30).flatMap(Gen.listOfN(_, for {
        ok <- Gen.oneOf(true, false)
        len <- Gen.choose(1, 9)
        applied <- Gen.oneOf(true, false)
      } yield Vector.fill(len)((ok, ok || applied))))
    } yield (keys.distinct.map(k => k -> s""""v-$k"""").toMap, maxStalled,
      runs.flatten.toVector)

    final class ScheduledSink(schedule: Vector[(Boolean, Boolean)], cap: Int)
        extends Restore.KVSink {
      val store = scala.collection.mutable.Map.empty[String, String]
      val outcomes = scala.collection.mutable.ArrayBuffer.empty[Boolean]
      val sizes = scala.collection.mutable.ArrayBuffer.empty[Int]
      override def update(p: String, b: Map[String, String]): Boolean = {
        if (outcomes.size >= cap) throw new AssertionError(s"no end after $cap calls")
        val (ok, applied) = schedule.lift(outcomes.size).getOrElse((true, true))
        if (applied) store ++= b
        outcomes += ok
        sizes += b.size
        ok
      }
    }
    def longestFailRun(xs: Seq[Boolean]): Int =
      xs.foldLeft((0, 0)) { case ((best, cur), ok) =>
        if (ok) (best, 0) else (math.max(best, cur + 1), cur + 1)
      }._1

    var seed = Seed(20261017L)
    var stalls = 0
    (1 to 300).foreach { round =>
      val (data, maxStalled, schedule) =
        caseGen.apply(Gen.Parameters.default, seed).getOrElse(sys.error("gen failed"))
      seed = seed.next
      val sink = new ScheduledSink(schedule, schedule.size + data.size + 1)
      def ctx = s"round $round: ${data.size} keys, maxStalled $maxStalled, " +
        s"outcomes ${sink.outcomes.map(if (_) 1 else 0).mkString}"
      val result =
        try Right(Restore.drainPath(sink, "/p", data, maxStalled, _ => ()))
        catch { case e: IllegalStateException => Left(e) }
      val failRun = longestFailRun(sink.outcomes.toSeq)
      result match {
        case Left(e) =>
          stalls += 1
          assert(e.getMessage.contains("stalled"), ctx)
          assert(failRun == maxStalled + 1, ctx)
          assert(sink.outcomes.takeRight(maxStalled + 1).forall(!_), ctx)
        case Right(calls) =>
          assert(failRun <= maxStalled, ctx)
          assert(calls == sink.outcomes.size, ctx)
          assert(sink.store == data, ctx)
      }
      assert(sink.sizes.forall(n => n >= Restore.MinBatch && n <= Restore.InitialBatch), ctx)
    }
    // the generator must reach both verdicts
    assert(stalls > 0 && stalls < 300, s"$stalls of 300 drains stalled")
  }

  /** Records how a restore calls it: calls for one path that overlap,
    * and the most paths in flight at once. `failing` paths are always
    * refused. */
  private class RecordingSink(failing: Set[String] = Set.empty)
      extends Restore.KVSink {
    val store = new ConcurrentHashMap[(String, String), String]()
    val overlaps = new AtomicInteger()
    val maxInFlight = new AtomicInteger()
    private val inFlight = new AtomicInteger()
    private val busy = ConcurrentHashMap.newKeySet[String]()
    override def update(path: String, batch: Map[String, String]): Boolean = {
      if (!busy.add(path)) overlaps.incrementAndGet()
      maxInFlight.accumulateAndGet(inFlight.incrementAndGet(), math.max)
      try {
        Thread.sleep(2) // a round trip, so calls have time to overlap
        if (failing(path)) false
        else { batch.foreach { case (k, v) => store.put((path, k), v) }; true }
      } finally { inFlight.decrementAndGet(); busy.remove(path) }
    }
  }

  private def windowThreads(): Set[Thread] =
    Thread.getAllStackTraces.keySet.asScala.toSet
      .filter(t => t.isAlive && t.getName.startsWith(graft.pipeline.InFlight.ThreadPrefix))

  test("restore drains several paths at once, never one path twice at once") {
    val sp = spark; import sp.implicits._
    // one partition; every path comes back in three separate runs, and
    // each run rewrites "last", so the final value shows whether a
    // path's runs drained in input order
    val rows = for {
      run <- 0 until 3
      p <- 0 until 40
      k <- Seq(s"k$run-a", s"k$run-b", "last")
    } yield (f"/p$p%02d", k, if (k == "last") run.toString else s"$p")
    val df = rows.toDF("path", "key", "value_json").coalesce(1)
    assert(df.rdd.getNumPartitions == 1)
    val expected = rows.map { case (p, k, v) => (p, k) -> v }.toMap

    val sink = new RecordingSink()
    SinkRegistry.sinks.put("window", sink)
    Restore.restore(df, RegistrySink("window"))
    assert(sink.overlaps.get == 0, "two update calls for one path overlapped")
    assert(sink.maxInFlight.get > 1, "never more than one path in flight")
    assert(sink.store.asScala.toMap == expected)

    // a path the sink always refuses fails the job with the drain's
    // stall error instead of hanging the task
    SinkRegistry.sinks.put("window-bad", new RecordingSink(failing = Set("/p07")))
    val e = intercept[org.apache.spark.SparkException] {
      Restore.restore(df, RegistrySink("window-bad"), maxStalled = 8, sleep = _ => ())
    }
    assert(e.getMessage.contains("restore of /p07 stalled"), e.getMessage)

    val deadline = System.nanoTime() + 10000000000L
    while (windowThreads().nonEmpty && System.nanoTime() < deadline) Thread.sleep(10)
    assert(windowThreads().isEmpty, s"window threads outlived the tasks: ${windowThreads()}")
  }

  // --- full Spark path: flatten -> export -> read -> restore ----------
  test("spark export/restore round-trip preserves every leaf") {
    val sp = spark; import sp.implicits._
    val trees = Seq(
      "/" -> """{"users": {"u1": {"name": "ada", "age": 36},
                           "u2": {"name": "lin"}},
                 "cfg": {"on": true}}""",
      "/apps/a1" -> """{"k1": 1, "k2": [5, 6]}"""
    ).toDS()
    val rows = Export.flattenTrees(trees)
    val dir = Files.createTempDirectory("graft_backup").toString
    Export.writeBackup(rows, dir)

    val back = Export.readBackup(spark, dir)
    assert(back.count() == rows.count())

    // restore through the adaptive sink and compare leaf-for-leaf
    val sink = new MemorySink()
    SinkRegistry.sinks.put("rt", sink)
    Restore.restore(back, RegistrySink("rt"))
    val expected = rows.collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getString(2))).toMap
    assert(sink.store.asScala.toMap == expected)

    // the manifest's row counts account for every row written
    assert(manifestOf(dir).map(_.get("n_keys").asLong).sum == rows.count())
  }

  /** The lines of `dir`'s manifest, `manifest/files.json`, as written. */
  private def manifestOf(dir: String): Seq[com.fasterxml.jackson.databind.JsonNode] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    Files.readAllLines(Paths.get(dir, "manifest", "files.json")).asScala.toSeq
      .map(mapper.readTree)
  }

  // --- the backup artifact: files sized by bytes, read by schema ------
  /** 12 `RandomTrees` frames under their own roots plus one path of
    * 3,000 keys, as (path, key, value_json). */
  private lazy val layoutRows: Seq[(String, String, String)] = {
    var seed = Seed(20261019L)
    val trees = (1 to 12).flatMap { i =>
      val json = RandomTrees.node(3).apply(Gen.Parameters.default, seed)
        .getOrElse(sys.error("gen failed"))
      seed = seed.next
      TreeCodec.flatten(json, s"/t$i")
    }
    val wide = (0 until 3000).map(i => Edge("/wide", f"k$i%05d", s""""v$i""""))
    (trees ++ wide).map(e => (e.path, e.key, e.valueJson))
  }

  private def tuples(df: org.apache.spark.sql.DataFrame) =
    df.select("path", "key", "value_json").collect().toSeq
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))

  /** Writes `layoutRows` under `session` and checks the layout law: the
    * part files, read one at a time in name order, are in global
    * (path, key) order under Spark's string order; the backup reads
    * back as the input rows and restores to them; the manifest lists
    * exactly the part files, in name order, each with its length, its
    * row count and its first and last path. Returns each file's paths
    * in name order. */
  private def checkLayout(session: SparkSession, name: String): Seq[Set[String]] = {
    import session.implicits._
    val dir = Files.createTempDirectory("graft_layout").toString
    Export.writeBackup(layoutRows.toDF("path", "key", "value_json"), dir)
    val parts = new File(s"$dir/rows").listFiles().toSeq
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
    val perFile = parts.map(f => tuples(session.read.parquet(f.getPath)))
    def utf8(s: String) = UTF8String.fromString(s)
    val inOrder = perFile.flatten.map(t => (t._1, t._2)).sliding(2).forall {
      case Seq((p1, k1), (p2, k2)) =>
        val c = utf8(p1).compareTo(utf8(p2))
        c < 0 || (c == 0 && utf8(k1).compareTo(utf8(k2)) < 0)
      case _ => true
    }
    assert(inOrder, s"${parts.size} part files are not in global (path, key) order")
    val back = Export.readBackup(session, dir)
    assert(tuples(back).sortBy(t => (t._1, t._2)) == layoutRows.sortBy(t => (t._1, t._2)))
    val sink = new MemorySink()
    SinkRegistry.sinks.put(name, sink)
    Restore.restore(back, RegistrySink(name))
    assert(sink.store.asScala.toMap ==
      layoutRows.map { case (p, k, v) => (p, k) -> v }.toMap)
    val mf = manifestOf(dir)
    assert(mf.map(_.get("file").asText) == parts.map(_.getName))
    for (((line, file), rows) <- mf.zip(parts).zip(perFile)) {
      val f = file.getName
      assert(line.get("bytes").asLong == file.length, f)
      assert(line.get("n_keys").asLong == rows.size, f)
      assert(line.get("min_path").asText == rows.head._1, f)
      assert(line.get("max_path").asText == rows.last._1, f)
    }
    perFile.map(_.map(_._1).toSet)
  }

  /** A session whose range shuffle writes 5 ranges, unmerged. */
  private lazy val fiveRanges: SparkSession = {
    val ranged = spark.newSession()
    ranged.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    ranged.conf.set("spark.sql.shuffle.partitions", "5")
    ranged
  }

  test("backup layout: byte-sized files hold contiguous key ranges in global order") {
    // the test session's AQE merges the small backup into one file
    assert(checkLayout(spark, "layout-aqe").size == 1)
    // without merging, 5 ranges: several files, and the 3,000-key path
    // split across them
    val files = checkLayout(fiveRanges, "layout-ranged")
    assert(files.size > 1, s"${files.size} part files")
    assert(files.count(_.contains("/wide")) > 1, "no path split across files")
  }

  /** Spark jobs `f` starts on this thread (its job group). */
  private def jobsOf(f: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"jobs-${System.nanoTime()}"
    val n = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "job count")
    try { f; assert(GraftListenerBridge.drain(sc, 30000L)) }
    finally { sc.clearJobGroup(); sc.removeSparkListener(listener) }
    n.get
  }

  test("readBackup runs no job, reads BackupSchema, and refuses a backup with no row files") {
    val sp = spark; import sp.implicits._
    val rows = layoutRows.take(500)
    val dir = Files.createTempDirectory("graft_reader").toString
    Export.writeBackup(rows.toDF("path", "key", "value_json"), dir)

    var back: org.apache.spark.sql.DataFrame = null
    assert(jobsOf { back = Export.readBackup(spark, dir) } == 0)
    assert(back.schema == Export.BackupSchema)

    // the restore of a written backup is its one foreachPartition job
    val sink = new MemorySink()
    SinkRegistry.sinks.put("reader", sink)
    assert(jobsOf {
      Restore.restore(Export.readBackup(spark, dir), RegistrySink("reader"))
    } == 1)
    assert(sink.store.asScala.toMap ==
      rows.map { case (p, k, v) => (p, k) -> v }.toMap)

    // an unfinished backup: rows/ holds only the commit marker
    val empty = Files.createTempDirectory("graft_no_rows")
    Files.createDirectories(empty.resolve("rows"))
    Files.createFile(empty.resolve("rows/_SUCCESS"))
    val e = intercept[Exception](Export.readBackup(spark, empty.toString))
    assert(e.getMessage.contains(empty.toString), e.getMessage)
  }

  /** `layoutRows` written as 5 part files; the backup's directory and
    * its part files in name order. */
  private def fiveFileBackup(): (String, Seq[File]) = {
    val ranged = fiveRanges; import ranged.implicits._
    val dir = Files.createTempDirectory("graft_checked").toString
    Export.writeBackup(layoutRows.toDF("path", "key", "value_json"), dir)
    val parts = new File(s"$dir/rows").listFiles().toSeq
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
    assert(parts.size == 5, s"${parts.size} part files")
    (dir, parts)
  }

  test("readBackup refuses a lost, extra or resized part file, and a backup with no file list") {
    def refused(dir: String): String =
      intercept[IllegalArgumentException](Export.readBackup(spark, dir)).getMessage

    val (whole, _) = fiveFileBackup()
    assert(Export.readBackup(spark, whole).count() == layoutRows.size)

    val (lost, lostParts) = fiveFileBackup()
    Files.delete(lostParts(2).toPath)
    val m1 = refused(lost)
    assert(m1.contains(lostParts(2).getName) && m1.contains(lost), m1)

    val (extra, extraParts) = fiveFileBackup()
    val copy = extraParts(1).toPath.resolveSibling("part-00099-extra.zstd.parquet")
    Files.copy(extraParts(1).toPath, copy)
    val m2 = refused(extra)
    assert(m2.contains(copy.getFileName.toString), m2)

    val (resized, resizedParts) = fiveFileBackup()
    val ch = java.nio.channels.FileChannel.open(resizedParts(4).toPath,
      StandardOpenOption.WRITE)
    try ch.truncate(ch.size - 16) finally ch.close()
    val m3 = refused(resized)
    assert(m3.contains(resizedParts(4).getName), m3)

    // a backup whose manifest is one JSON row per path, as written
    // before the manifest listed the files, has no file list
    val (old, _) = fiveFileBackup()
    Files.delete(Paths.get(old, "manifest", "files.json"))
    Files.write(Paths.get(old, "manifest", "part-00000.json"),
      """{"path":"/t1","n_keys":3,"min_key":"a","max_key":"c"}""".getBytes("UTF-8"))
    val m4 = refused(old)
    assert(m4.contains("files.json") && m4.contains(old), m4)
  }

  test("job budget: writeBackup runs at most 4 jobs, diffBackups' eager part at most 3") {
    val sp = spark; import sp.implicits._
    val dirA = Files.createTempDirectory("graft_budget_a").toString
    val dirB = Files.createTempDirectory("graft_budget_b").toString
    val rows = layoutRows.toDF("path", "key", "value_json").localCheckpoint()
    assert(jobsOf(Export.writeBackup(rows, dirA)) <= 4)
    val changed = layoutRows.zipWithIndex.map { case ((p, k, v), i) =>
      (p, k, if (i % 97 == 0) "\"changed\"" else v) }
    Export.writeBackup(changed.toDF("path", "key", "value_json"), dirB)
    val (a, b) = (Export.readBackup(spark, dirA), Export.readBackup(spark, dirB))
    var diff: org.apache.spark.sql.DataFrame = null
    assert(jobsOf { diff = Export.diffBackups(a, b) } <= 3)
    val n = (layoutRows.size + 96) / 97
    assert(diff.count() == n)
    // the observed count decides the broadcast gate: at the cap the
    // keyset is hinted, one below it is not
    def hinted(cap: Long) = Export.diffBackups(a, b, broadcastMaxKeys = cap)
      .queryExecution.analyzed.collect {
        case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
      }.nonEmpty
    assert(hinted(n.toLong) && !hinted(n - 1L))
  }

}

/** JVM-static sink registry: the task closure carries only a string id
  * (serializable); update() resolves the live sink through the shared
  * JVM (local-mode test only — a cluster sink would own its client). */
object SinkRegistry {
  val sinks = new ConcurrentHashMap[String, Restore.KVSink]()
}

final case class RegistrySink(id: String) extends Restore.KVSink {
  override def update(path: String, batch: Map[String, String]): Boolean =
    SinkRegistry.sinks.get(id).update(path, batch)
}
