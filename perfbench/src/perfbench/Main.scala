package perfbench

import graft.GraftQuery
import org.apache.spark.sql.SparkSession

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import scala.collection.mutable

/** One benchmark run: set-up, warm-up, then sweeps over the workload's
  * queries until the measuring time is nearly used up, then round trips
  * of the backup job. Round-trip metrics are medians over round trips,
  * query metrics medians over every timed call.
  *
  * Usage (normally through `perfbench/run.py`):
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --data DIR --work DIR --traces DIR --cores N
  *                  [--size full|tiny]
  *
  * Prints one `PERFBENCH_RECORD {...}` line describing the run, then
  * one `PERFBENCH_RESULT {...}` line with the contract's keys.
  */
object Main {
  final case class Workload(name: String, records: Int, queries: Seq[GraftQuery])

  val PayloadCap = 8192
  val PatchKeyCap = 50
  val DelayMs = 2
  val SetupReps = 3
  val TableNames = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** Both workloads run the same round trip of the backup job; they
    * differ in the queries they sweep, named here so that a query added
    * to or removed from a registry changes neither sample. Each module
    * of the group has one query, and Relational three. No sample holds a
    * persisted-index builder: even the cheapest, `q_ann_ivf_probe`, adds
    * about 14 s to a run once it is rebuilt in every set-up. */
  val LlmQueries = Seq(
    "q_token_budget_bpe",   // TextAnalysis
    "q_dedup_exact",        // Dedup
    "q_ann_lsh",            // Similarity
    "q_media_meta",         // Multimodal
    "q_backup_diff",        // Incremental
    "q_importance_weights", // Curation
    "q_bm25")               // Retrieval
  val SqlQueries = Seq(
    "q_scan", "q_join_inner", "q_window_cume", // Relational
    "q_hof_funcs",          // Functions
    "q_session_compact",    // Events
    "q_json_variant",       // Stats
    "q_sql_tpch_q3")        // Sql

  def workloads(size: String): Map[String, Workload] = {
    val records = if (size == "tiny") 20 else 200
    Seq(
      Workload("queries_llm", records, Sweep.resolve(Sweep.llm, LlmQueries)),
      Workload("queries_sql", records, Sweep.resolve(Sweep.sql, SqlQueries))
    ).map(w => w.name -> w).toMap
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val size = opts.getOrElse("size", "full")
    val w = workloads(size).getOrElse(opt("workload"),
      throw new IllegalArgumentException(s"unknown workload ${opt("workload")}"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val cores = opt("cores").toInt
    val dataRoot = new File(opt("data"))
    val work = new File(opt("work"))
    val sf = if (size == "tiny") "sf0.001" else "sf0.01"
    work.mkdirs()

    val spark = session(s"perfbench-${w.name}", cores, work)
    val startupS = uptimeS()
    val tProbe = System.nanoTime()
    val probeStart = HostProbe.run(cores)
    val probeS = (System.nanoTime() - tProbe) / 1e9
    val trace = new Trace(traced)
    val counters = new SparkCounters
    val jobs = () => { SparkCounters.drain(spark.sparkContext); counters.jobs.get }
    val reference = Reference.load(new File(dataRoot.getParentFile, s"reference/$sf.json"))
    if (reference.cores != cores)
      System.err.println(s"perfbench: reference made at local[${reference.cores}], run at " +
        s"local[$cores]; the digests were checked equal at local[2] and local[4] only")

    def stage(name: String, from: String): String =
      Main.stage(new File(dataRoot, from), new File(work, s"data/$name"))
    def rtConfig(records: Int) = Roundtrip.Config(seed,
      TreeGen.Spec(records, PayloadCap), PayloadCap, PatchKeyCap, DelayMs, cores)

    // one set-up: a fresh copy of the tables opened through
    // graft.Tables, fresh stand-ins loaded with the seeded tree, and the
    // builds of any persisted-index builder in the sample on the new
    // copy, so that a build is never hidden in the warm-up
    val indexQueries = w.queries.filter(q => Sweep.IndexBuilders.contains(q.name))
    var setupFailures = 0
    def setUp(name: String): (Roundtrip, String) = {
      val dir = stage(name, sf)
      TableNames.foreach(t => graft.Tables.table(spark, dir, t).schema)
      val rt = new Roundtrip(spark, rtConfig(w.records), new File(work, s"trip-$name"))
      indexQueries.foreach { q =>
        if (Sweep.call(spark, q, dir, () => 0L, new Trace(false)).error.isDefined)
          setupFailures += 1
      }
      (rt, dir)
    }

    // set-up, repeated on fresh copies; the last one is measured
    var roundtrip: Roundtrip = null
    var dir = ""
    val setupTimes = (1 to SetupReps).map { i =>
      if (roundtrip != null) roundtrip.stop()
      val t0 = System.nanoTime()
      val (rt, d) = setUp(s"rep$i")
      roundtrip = rt
      dir = d
      (System.nanoTime() - t0) / 1e9
    }

    // warm-up: a round trip and a sweep on the measured inputs,
    // checked but not timed, so JIT, codegen, class loading and each
    // query's first-call work on the new table copy are done before timing
    val off = new Trace(false)
    val noJobs = () => 0L
    val tWarm = System.nanoTime()
    val warmRound = timed(spark, None)(roundTrip(roundtrip, off))
    val warmSweep = sweep(spark, w, dir, off, noJobs)
    val warmS = (System.nanoTime() - tWarm) / 1e9

    // measured: sweeps back to back, then round trips back to back. A
    // sweep right after a round trip runs about a fifth slower, so
    // interleaving the two would mix that into the query times. A traced
    // run alternates untraced and traced passes of each kind, so a
    // traced pass is compared with the mean of its untraced neighbours
    // while the JIT is still speeding the run up.
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    val minSweeps = 3
    val roundCount = if (traced) 3 else 2
    def isTraced(i: Int) = traced && i % 2 == 1
    val sweeps = mutable.ArrayBuffer.empty[Timed[Seq[Sweep.Call]]]
    // another sweep only if it and the round trips should end in time
    while (sweeps.size < minSweeps ||
           elapsed * (sweeps.size + 1) / sweeps.size + roundCount * warmRound.wallS <= seconds) {
      sweeps += (if (isTraced(sweeps.size)) timed(spark, Some(counters))(sweep(spark, w, dir, trace, jobs))
        else timed(spark, None)(sweep(spark, w, dir, off, noJobs)))
    }
    val rounds = (0 until roundCount).map { i =>
      if (isTraced(i)) timed(spark, Some(counters))(roundTrip(roundtrip, trace))
      else timed(spark, None)(roundTrip(roundtrip, off))
    }
    val measuredS = elapsed
    roundtrip.stop()
    val probeEnd = HostProbe.run(cores)

    val calls = warmSweep ++ sweeps.flatMap(_.value)
    val mismatches = calls.filter(c => c.error.isEmpty && !reference.matches(c))
    val failedCalls = calls.count(_.error.isDefined) + mismatches.size
    val allRounds = (warmRound +: rounds).map(_.value)
    val failedChecks = allRounds.map(_.failures.size).sum
    val attempted = calls.size + allRounds.size * Roundtrip.Checks + indexQueries.size * SetupReps
    val failed = failedCalls + failedChecks + setupFailures

    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val m = Result.median _
    val kedges = roundtrip.edges / 1000.0
    if (!traced) {
      val good = rounds.map(_.value).filter(_.failures.isEmpty)
      val timedRounds = if (good.nonEmpty) good else rounds.map(_.value)
      def rtTime(k: String) = m(timedRounds.map(_.times(k)))
      def rtCount(k: String) = m(timedRounds.map(_.counts(k)))
      metrics("setup_s") = (m(setupTimes), "s")
      metrics("peak_rss_mb") = (peakRssMb(), "MB")
      metrics("export_s") = (rtTime("export"), "s")
      metrics("restore_s") = (rtTime("restore"), "s")
      metrics("archive_s") = (rtTime("archive"), "s")
      metrics("incremental_s") = (rtTime("incremental"), "s")
      metrics("export_gets_per_kedge") = (rtCount("liveexport.gets") / kedges, "1/kedge")
      metrics("restore_patches_per_kedge") = (rtCount("restore.patches") / kedges, "1/kedge")
      metrics("stored_bytes_per_json_byte") =
        (rtCount("stored_bytes") / roundtrip.jsonBytes, "ratio")
      val ok = sweeps.flatMap(_.value).filter(c => c.error.isEmpty && reference.matches(c)).toSeq
      val perQuery = ok.groupBy(_.name).values.map(cs => m(cs.map(_.totalS))).toSeq
      metrics("sweep_s") = (perQuery.sum, "s")
      val samples = ok.map(_.totalS)
      metrics("query_p50_s") = (Result.percentile(samples, 0.5), "s")
      metrics("query_p80_s") = (Result.percentile(samples, 0.8), "s")
    } else {
      def split[T](xs: Seq[Timed[T]]) = xs.zipWithIndex.partition(x => isTraced(x._2)) match {
        case (t, u) => (t.map(_._1), u.map(_._1))
      }
      val (tSweeps, uSweeps) = split(sweeps.toSeq)
      val (tRounds, uRounds) = split(rounds)
      // query-layer metrics are per traced sweep; spark.* cover one
      // traced round trip plus one traced sweep
      def perSweep(f: Sweep.Call => Double) = m(tSweeps.map(_.value.map(f).sum))
      def sparkSum(k: String) = m(tRounds.map(_.spark(k))) + m(tSweeps.map(_.spark(k)))
      val tracedWall = m(tRounds.map(_.wallS)) + m(tSweeps.map(_.wallS))
      val untracedWall = m(uRounds.map(_.wallS)) + m(uSweeps.map(_.wallS))
      def med(f: Roundtrip.Round => Double) = m(tRounds.map(r => f(r.value)))
      def cnt(k: String) = med(_.counts(k))
      def tm(k: String) = med(_.times(k))
      metrics("operators.construct_s") = (perSweep(_.constructS), "s")
      metrics("operators.construct_jobs") = (perSweep(_.jobsInConstruct.toDouble), "count")
      metrics("catalyst.plan_s") = (perSweep(_.catalystS), "s")
      metrics("spark.exec_s") = (perSweep(_.execS), "s")
      metrics("spark.task_s") = (sparkSum("task_s"), "s")
      metrics("spark.core_util") = (sparkSum("task_s") / (cores * tracedWall), "ratio")
      metrics("spark.idle_s") = (sparkSum("idle_s"), "s")
      metrics("spark.jobs") = (sparkSum("jobs"), "count")
      metrics("spark.stages") = (sparkSum("stages"), "count")
      metrics("spark.tasks") = (sparkSum("tasks"), "count")
      metrics("spark.shuffle_read_bytes") = (sparkSum("shuffle_read_bytes"), "bytes")
      metrics("spark.shuffle_write_bytes") = (sparkSum("shuffle_write_bytes"), "bytes")
      metrics("spark.spill_bytes") = (sparkSum("spill_bytes"), "bytes")
      metrics("spark.gc_s") = (sparkSum("gc_s"), "s")
      metrics("liveexport.plan_s") = (tm("liveexport.plan"), "s")
      metrics("liveexport.plan_gets") = (cnt("liveexport.plan_gets"), "count")
      metrics("liveexport.gets") = (cnt("liveexport.gets"), "count")
      metrics("liveexport.repeat_gets") = (cnt("liveexport.repeat_gets"), "count")
      metrics("liveexport.rejected_gets") = (cnt("liveexport.rejected_gets"), "count")
      metrics("liveexport.page_yield") =
        (med(r => r.counts("liveexport.page_gets_ok") / r.counts("liveexport.page_gets")), "ratio")
      metrics("liveexport.shallow_gets") = (cnt("liveexport.shallow_gets"), "count")
      metrics("liveexport.bytes_in") = (cnt("liveexport.bytes_in"), "bytes")
      metrics("export.write_s") = (tm("export.write"), "s")
      metrics("export.diff_s") = (tm("export.diff"), "s")
      metrics("export.diff_rows") = (cnt("export.diff_rows"), "count")
      metrics("archive.write_s") = (tm("archive.write"), "s")
      metrics("archive.read_s") = (tm("archive.read"), "s")
      metrics("archive.bytes") = (cnt("archive.bytes"), "bytes")
      metrics("restore.patches") = (cnt("restore.patches"), "count")
      metrics("restore.rejected_patches") = (cnt("restore.rejected_patches"), "count")
      metrics("restore.patch_yield") =
        (med(r => r.counts("restore.patches_ok") / r.counts("restore.patches")), "ratio")
      metrics("restore.patch_bytes") = (cnt("restore.patch_bytes"), "bytes")
      metrics("restore.diff_apply_s") = (tm("restore.diff_apply"), "s")
      metrics("standin.busy_s") =
        (med(r => r.counts("liveexport.standin_busy_s") + r.counts("restore.standin_busy_s")), "s")
      metrics("standin.max_inflight") =
        (med(r => math.max(r.counts("liveexport.standin_max_inflight"),
          r.counts("restore.standin_max_inflight"))), "count")
      metrics("trace.overhead") = (tracedWall / untracedWall - 1, "ratio")
      metrics("trace.spans") = (trace.size.toDouble, "count")
      trace.write(new File(opt("traces"), s"${w.name}-$seed.jsonl"))
    }

    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> w.name, "seed" -> seed, "trace" -> traced,
      "nproc" -> Runtime.getRuntime.availableProcessors, "master" -> s"local[$cores]",
      "sf" -> sf, "edges" -> roundtrip.edges, "json_bytes" -> roundtrip.jsonBytes,
      "standin_delay_ms" -> DelayMs, "payload_cap" -> PayloadCap,
      "patch_key_cap" -> PatchKeyCap, "queries" -> w.queries.map(_.name),
      "reference_cores" -> reference.cores, "sweeps" -> sweeps.size, "rounds" -> rounds.size,
      "sweep_s" -> sweeps.map(_.wallS), "roundtrip_s" -> rounds.map(_.wallS), "seconds" -> seconds,
      "startup_s" -> startupS, "measured_s" -> measuredS, "warm_s" -> warmS, "setup_reps_s" -> setupTimes,
      "host_probe_s" -> Map("start" -> probeStart, "end" -> probeEnd, "wall" -> probeS),
      "query_samples" -> sweeps.map(_.value.count(_.error.isEmpty)).sum,
      "errors" -> (calls.flatMap(c => c.error.map(e => s"${c.name}: $e")) ++
        mismatches.map(c => s"${c.name}: digest mismatch").distinct ++
        allRounds.flatMap(_.failures)).distinct.take(20),
      "query_s" -> w.queries.map(q => q.name ->
        sweeps.flatMap(_.value).filter(c => c.name == q.name && c.error.isEmpty).map(_.totalS)).toMap)
    record("total_s") = uptimeS()
    println("PERFBENCH_RECORD " + Result.value(record))

    val metricJson = metrics.map { case (k, (v, u)) => s"${Result.str(k)}:{\"value\":${Result.value(v)},\"unit\":${Result.str(u)}}" }
    println(s"""PERFBENCH_RESULT {"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":{${metricJson.mkString(",")}}}""")
    spark.stop()
  }

  /** The session every run uses: local[cores], the run's own warehouse
    * and local dirs, settings as in graft.Bench. */
  def session(name: String, cores: Int, work: File): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(name)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(work, "local").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Copy a table directory to `dst`; returns its absolute path. */
  def stage(from: File, dst: File): String = {
    dst.mkdirs()
    from.listFiles.foreach(f => Files.copy(f.toPath, new File(dst, f.getName).toPath,
      StandardCopyOption.REPLACE_EXISTING))
    dst.getAbsolutePath
  }

  /** A pass's result, wall time and, when traced, Spark counter deltas. */
  final case class Timed[T](value: T, wallS: Double, spark: Map[String, Double])

  /** Run `body`, timing it; with `counters`, attach the listener for
    * the pass and return the counters' change over it. */
  private def timed[T](spark: SparkSession, counters: Option[SparkCounters])(body: => T): Timed[T] = {
    counters.foreach(spark.sparkContext.addSparkListener)
    val snap = counters.map(snapshot)
    val wall0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val value = body
    val t1 = System.nanoTime()
    val wall1 = System.currentTimeMillis()
    val delta = counters.map { c =>
      SparkCounters.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(c)
      val a = snap.get
      snapshot(c).map { case (k, v) => k -> (v - a(k)) } + ("idle_s" -> c.idleMs(wall0, wall1) / 1e3)
    }.getOrElse(Map.empty[String, Double])
    Timed(value, (t1 - t0) / 1e9, delta)
  }

  private def roundTrip(rt: Roundtrip, trace: Trace): Roundtrip.Round =
    trace.span("roundtrip") {
      try rt.run(trace)
      catch { case e: Throwable =>
        Roundtrip.Round(Map.empty.withDefaultValue(Double.NaN),
          Map.empty.withDefaultValue(Double.NaN), List.fill(Roundtrip.Checks)(s"round threw: $e"))
      }
    }

  private def sweep(spark: SparkSession, w: Workload, dir: String, trace: Trace,
                    jobs: () => Long): Seq[Sweep.Call] =
    trace.span("sweep")(w.queries.map(q => Sweep.call(spark, q, dir, jobs, trace)))

  private def snapshot(c: SparkCounters): Map[String, Double] = Map(
    "jobs" -> c.jobs.get.toDouble, "stages" -> c.stages.get.toDouble,
    "tasks" -> c.tasks.get.toDouble, "task_s" -> c.taskNanos.get / 1e9,
    "gc_s" -> c.gcMs.get / 1e3, "shuffle_read_bytes" -> c.shuffleRead.get.toDouble,
    "shuffle_write_bytes" -> c.shuffleWrite.get.toDouble, "spill_bytes" -> c.spill.get.toDouble)

  private def uptimeS(): Double =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3

  /** Peak resident set of this JVM (VmHWM), in MB. */
  private def peakRssMb(): Double = {
    val status = scala.io.Source.fromFile("/proc/self/status")
    try status.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(Double.NaN)
    finally status.close()
  }
}
