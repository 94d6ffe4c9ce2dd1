package graft

import graft.operators.Events
import graft.streaming.EventStreams
import graft.streaming.EventStreams.Ev
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import java.sql.Timestamp

/** Streaming semantics, driven through MemoryStream: the streaming
  * windowed aggregate must agree with its batch twin (the oracle-checked
  * q_events_window), and sessionization must close sessions on gap and
  * on watermark timeout. */
class StreamingSpec extends SparkSuite {

  // +1 day so no event sits at the initial watermark (epoch 0), which
  // Spark's late-row filter would drop
  private def ts(min: Long): Timestamp = new Timestamp((1440 + min) * 60000L)
  private val base = 1440L * 60

  test("streaming windowed counts equal the batch result") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = sp.sqlContext

    val events = Tables.events(sp, sf)
      .select("event_id", "ts", "user_id", "event_type", "value").as[Ev]
      .collect().toSeq

    val input = MemoryStream[Ev]
    val q = EventStreams.windowedCounts(input.toDF())
      .writeStream.format("memory").queryName("wc")
      .outputMode("append").start()
    try {
      input.addData(events)
      // push the watermark far past the data so all windows finalize
      input.addData(Ev(-1L, ts(40000000L), -1L, "drain", 0.0)) // ~2046
      q.processAllAvailable()
    } finally q.stop()

    val streamed = sp.table("wc")
      .filter(col("event_type") =!= "drain")
      .select("ws", "event_type", "n")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
      .toSet
    val batch = SparkEntry.queries("q_events_window")(sp, sf)
      .select("ws", "event_type", "n")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
      .toSet
    assert(streamed == batch)
  }

  test("compactSessions rejoins a session split across micro-batches") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = sp.sqlContext

    // user 1's batch-twin sessions: {0,10,35} (gaps 10, 25 min) and
    // {100}. The stream sees 100 first, then the late pair (0,10) —
    // flushed as a fragment — then 35, which is ADJACENT to the
    // flushed fragment but cannot merge (Append emitted it already):
    // the boundary-split case compactSessions exists for. Sub-second
    // offsets on the fragment boundary pin the exact-bounds contract:
    // compacting on floor-truncated seconds would misjudge gaps right
    // at the threshold (the 29m59.2s hop below stays one session only
    // if end_ms is exact).
    def tsMs(min: Long, ms: Long): java.sql.Timestamp =
      new java.sql.Timestamp((1440 + min) * 60000L + ms)
    val evs = Seq(
      Ev(1, ts(100), 1, "click", 1.0),
      Ev(2, ts(0), 1, "click", 1.0),
      Ev(3, tsMs(10, 800), 1, "click", 1.0),
      Ev(4, tsMs(40, 0), 1, "click", 1.0)) // gap 29m59.2s < 30m

    val input = MemoryStream[Ev]
    val q = EventStreams.sessionize(input.toDS())
      .writeStream.format("memory").queryName("frag_sessions")
      .outputMode("append").start()
    try {
      input.addData(evs(0))
      q.processAllAvailable()
      input.addData(evs(1), evs(2))
      q.processAllAvailable()
      input.addData(evs(3))
      q.processAllAvailable()
      // watermark drivers: time out user 1's open session
      input.addData(Ev(99, ts(40000), 2, "click", 1.0))
      q.processAllAvailable()
      input.addData(Ev(100, ts(80000), 2, "click", 1.0))
      q.processAllAvailable()
    } finally q.stop()

    val frags = sp.table("frag_sessions").filter(col("user_id") === 1)
    // the premise: the stream really did fragment the {0,10,35} session
    assert(frags.count() > 2, "expected boundary-split fragments")

    // compact on the EXACT ms bounds (gap in ms); truncate to seconds
    // only at presentation — the same discipline as q_session_compact
    val compacted = Events.compactSessions(
      frags.select(col("user_id"),
        col("start_ms").as("start"), col("end_ms").as("end"),
        col("n_events")), gap = 1800L * 1000L)
      .select(col("user_id"),
        expr("start div 1000").as("session_start_sec"), col("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    val batch = evs.toDF()
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_timestamp(col("session_window.start")).as("session_start_sec"),
        col("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(compacted == batch,
      s"compacted=$compacted batch=$batch")
  }

  test("compactSessions reconstructs sessions under arbitrary slicings") {
    // the oracled q_session_compact proves ONE slicing (2-hour
    // epoch-aligned); the operator's law is stronger — fragments from
    // ANY partition of the timeline compact back to the direct
    // sessionization. Randomized slicings against a fold reference.
    val sp = spark; import sp.implicits._
    val gap = 100L
    val rnd = new scala.util.Random(42)
    def sessions(ts: Seq[Long]): Vector[(Long, Long, Long)] =
      ts.sorted.foldLeft(Vector.empty[(Long, Long, Long)]) {
        case (acc, t) => acc.lastOption match {
          case Some((s, e, n)) if t - e < gap => acc.init :+ ((s, t, n + 1))
          case _ => acc :+ ((t, t, 1L))
        }
      }
    (0 until 5).foreach { trial =>
      val evs = Seq.fill(120)(
        (rnd.nextInt(3).toLong, rnd.nextInt(5000).toLong)).distinct
      val want = evs.groupBy(_._1).flatMap { case (u, es) =>
        sessions(es.map(_._2)).map { case (s, _, n) => (u, s, n) }
      }.toSet
      val cuts = Seq.fill(6)(rnd.nextInt(5000).toLong).sorted
      def sliceOf(t: Long) = cuts.count(_ <= t)
      val frags = evs.groupBy(e => (e._1, sliceOf(e._2))).toSeq.flatMap {
        case ((u, _), es) =>
          sessions(es.map(_._2)).map { case (s, e, n) => (u, s, e, n) }
      }
      val got = Events.compactSessions(
        frags.toDF("user_id", "start", "end", "n_events"), gap)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
      assert(got == want, s"slicing trial $trial diverged")
    }
  }

  test("streaming dedup drops replayed event_ids") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = sp.sqlContext

    val input = MemoryStream[Ev]
    val q = EventStreams.dedupStream(input.toDF())
      .writeStream.format("memory").queryName("dedup")
      .outputMode("append").start()
    try {
      input.addData(Ev(1, ts(0), 1, "click", 1.0), Ev(2, ts(1), 1, "view", 1.0))
      q.processAllAvailable()
      // replay event 1 (at-least-once upstream), plus a fresh event
      input.addData(Ev(1, ts(0), 1, "click", 1.0), Ev(3, ts(2), 1, "click", 1.0))
      q.processAllAvailable()
    } finally q.stop()

    val ids = sp.table("dedup").select("event_id")
      .collect().map(_.getLong(0)).sorted
    assert(ids.sameElements(Array(1L, 2L, 3L)), s"got ${ids.toSeq}")
  }

  test("streaming parquet sink writes exactly-once with checkpointing") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_stream").toString

    val input = MemoryStream[Ev]
    val q = EventStreams.windowedCounts(input.toDF())
      .writeStream.format("parquet")
      .option("path", s"$dir/out")
      .option("checkpointLocation", s"$dir/ckpt")
      .outputMode("append").start()
    try {
      input.addData((1 to 20).map(i => Ev(i, ts(i * 7), i % 3, "click", 1.0)))
      input.addData(Ev(-1L, ts(40000000L), -1L, "drain", 0.0))
      q.processAllAvailable()
    } finally q.stop()

    val written = sp.read.parquet(s"$dir/out")
      .filter(col("event_type") === "click")
    // 20 events at 7-min spacing span minutes 7..140 => hour buckets
    assert(written.agg(sum("n")).collect().head.getLong(0) == 20L)
  }

  test("stream-stream interval join matches the batch interval join") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = sp.sqlContext

    val evs = Seq(
      Ev(1, ts(0), 1, "click", 1.0),     // within 1h of purchase @40
      Ev(2, ts(30), 1, "click", 1.0),    // within 1h
      Ev(3, ts(40), 1, "purchase", 9.0),
      Ev(4, ts(200), 1, "click", 1.0),   // later than the purchase
      Ev(5, ts(35), 2, "click", 1.0),    // other user
      Ev(6, ts(300), 2, "purchase", 5.0) // >1h after user 2's click
    )
    val input = MemoryStream[Ev]
    val q = EventStreams.clickPurchaseJoin(input.toDF())
      .writeStream.format("memory").queryName("cpj")
      .outputMode("append").start()
    try {
      input.addData(evs)
      input.addData(Ev(-1L, ts(40000000L), -1L, "drain", 0.0))
      q.processAllAvailable()
    } finally q.stop()

    val streamed = sp.table("cpj").select("purchase_id", "click_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // batch twin over the same rows
    val batch = EventStreams.clickPurchaseJoin(evs.toDF())
      .select("purchase_id", "click_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == Set((3L, 1L), (3L, 2L)), s"got $streamed")
    assert(streamed == batch)
  }

  test("stream-static enrichment joins the batch dimension per batch") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = sp.sqlContext

    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val input = MemoryStream[Ev]
    val q = EventStreams.enrich(input.toDF(), dim)
      .writeStream.format("memory").queryName("enriched")
      .outputMode("append").start()
    try {
      input.addData(
        Ev(1, ts(0), 1, "click", 1.0),
        Ev(2, ts(1), 2, "click", 1.0),
        Ev(3, ts(2), 9, "click", 1.0)) // no dim row -> left outer null
      q.processAllAvailable()
    } finally q.stop()

    val got = sp.table("enriched").select("event_id", "tier")
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(got == Map(1L -> Some("gold"), 2L -> Some("silver"), 3L -> None))
  }

  test("sessionize closes sessions on gap and timeout") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = sp.sqlContext

    val input = MemoryStream[Ev]
    val q = EventStreams.sessionize(input.toDS())
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try {
      // user 1: two events 10 min apart (one session), then a 40-min
      // gap (closes it), then one more event
      input.addData(
        Ev(1, ts(0), 1, "click", 1.0),
        Ev(2, ts(10), 1, "click", 1.0),
        Ev(3, ts(50), 1, "click", 1.0))
      q.processAllAvailable()
      // watermark driver: an event far in the future times out user 1's
      // open session (50min start) once the watermark passes it
      input.addData(Ev(99, ts(10000), 2, "click", 1.0))
      q.processAllAvailable()
      input.addData(Ev(100, ts(20000), 2, "click", 1.0))
      q.processAllAvailable()
    } finally q.stop()

    val rows = sp.table("sessions")
      .filter(col("user_id") === 1)
      .select("session_start_sec", "n_events", "duration_sec")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows.contains((base, 2L, 600L)),
      s"first session (2 events, 10 min) missing: $rows")
    assert(rows.contains((base + 3000L, 1L, 0L)),
      s"timed-out single-event session missing: $rows")
  }

  test("sessionize handles late in-watermark events without regressing") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = sp.sqlContext

    val input = MemoryStream[Ev]
    val q = EventStreams.sessionize(input.toDS())
      .writeStream.format("memory").queryName("latesess")
      .outputMode("append").start()
    try {
      // batch 1: a session open at [60, 70]
      input.addData(Ev(1, ts(60), 1, "click", 1.0),
        Ev(2, ts(70), 1, "click", 1.0))
      q.processAllAvailable()
      // batch 2: one late event INSIDE the open session (65 — must not
      // regress lastTs to 65) and one from a full gap before it (10 —
      // its own closed session, emitted immediately)
      input.addData(Ev(3, ts(65), 1, "click", 1.0),
        Ev(4, ts(10), 1, "click", 1.0))
      q.processAllAvailable()
      // close the open session via gap
      input.addData(Ev(5, ts(140), 1, "click", 1.0))
      q.processAllAvailable()
    } finally q.stop()

    val rows = sp.table("latesess").filter(col("user_id") === 1)
      .select("session_start_sec", "n_events", "duration_sec")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows.contains((base + 600L, 1L, 0L)),
      s"pre-gap late event should close as its own session: $rows")
    assert(rows.contains((base + 3600L, 3L, 600L)),
      s"open session must keep [60,70] span with the late 65 counted: $rows")
    assert(rows.forall(_._3 >= 0), s"negative duration: $rows")
  }

  test("adjacent late session fragments coalesce within a micro-batch") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = sp.sqlContext

    val input = MemoryStream[Ev]
    val q = EventStreams.sessionize(input.toDS())
      .writeStream.format("memory").queryName("latecoal")
      .outputMode("append").start()
    try {
      // batch 1: a session open at [200, 210]
      input.addData(Ev(1, ts(200), 1, "click", 1.0),
        Ev(2, ts(210), 1, "click", 1.0))
      q.processAllAvailable()
      // batch 2: four late in-watermark events from well before the
      // open session — 95/100 adjacent (one batch-twin session), then
      // a >= gap jump to 160/165 (a second one). Singleton-per-event
      // emission would produce four sessions here; the batch twin
      // produces exactly these two.
      input.addData(Ev(3, ts(95), 1, "click", 1.0),
        Ev(4, ts(100), 1, "click", 1.0),
        Ev(5, ts(160), 1, "click", 1.0),
        Ev(6, ts(165), 1, "click", 1.0))
      q.processAllAvailable()
    } finally q.stop()

    val rows = sp.table("latecoal").filter(col("user_id") === 1)
      .select("session_start_sec", "n_events", "duration_sec")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows == Set((base + 95 * 60, 2L, 300L),
      (base + 160 * 60, 2L, 300L)),
      s"late fragments should coalesce pairwise: $rows")
  }

  test("a bridging late event merges its fragment into the open session") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = sp.sqlContext

    val input = MemoryStream[Ev]
    val q = EventStreams.sessionize(input.toDS())
      .writeStream.format("memory").queryName("latebridge")
      .outputMode("append").start()
    try {
      // batch 1: a session open at [720, 730]
      input.addData(Ev(1, ts(720), 1, "click", 1.0),
        Ev(2, ts(730), 1, "click", 1.0))
      q.processAllAvailable()
      // batch 2: late events at 670 and 695 — 670 starts a fragment
      // (a full gap before the session), 695 is within gap of BOTH
      // the fragment and the session start, chaining 670→695→720 with
      // every hop under 30 min: the batch twin is ONE 4-event session
      input.addData(Ev(3, ts(670), 1, "click", 1.0),
        Ev(4, ts(695), 1, "click", 1.0))
      q.processAllAvailable()
      // close via gap so the merged session emits
      input.addData(Ev(5, ts(800), 1, "click", 1.0))
      q.processAllAvailable()
    } finally q.stop()

    val rows = sp.table("latebridge").filter(col("user_id") === 1)
      .select("session_start_sec", "n_events", "duration_sec")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows == Set((base + 670 * 60, 4L, 3600L)),
      s"bridged fragment must merge into one 4-event session: $rows")
  }

  test("streaming decontaminate equals the batch operator row for row") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    import graft.streaming.CorpusStreams
    import graft.streaming.CorpusStreams.Doc

    val docs = Tables.documents(sp, sf).select("doc_id", "text")
    val evalDocs = docs.filter(col("doc_id") % 41 === 0)
    val train = docs.filter(col("doc_id") % 41 =!= 0).as[Doc].collect()

    val input = MemoryStream[Doc]
    val q = CorpusStreams.decontaminateStream(input.toDS(), evalDocs)
      .writeStream.format("memory").queryName("decon")
      .outputMode("append").start()
    try {
      // two micro-batches: verdicts must not depend on batching
      val (a, b) = train.splitAt(train.length / 2)
      input.addData(a.toSeq)
      q.processAllAvailable()
      input.addData(b.toSeq)
      q.processAllAvailable()
    } finally q.stop()

    def triples(df: org.apache.spark.sql.DataFrame) =
      df.select("train_id", "eval_id", "n_shared").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val streamed = triples(sp.table("decon"))
    val batch = triples(SparkEntry.queries("q_decontaminate")(sp, sf))
    assert(batch.nonEmpty, "batch decontaminate found nothing to compare")
    assert(streamed == batch)
  }

  test("streaming span-dup hits equal the batch operator's dup counts") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    import graft.streaming.CorpusStreams
    import graft.streaming.CorpusStreams.Doc

    val docs = Tables.documents(sp, sf).select("doc_id", "text")
      .as[Doc].collect()

    val input = MemoryStream[Doc]
    val q = CorpusStreams.spanDupStream(input.toDS())
      .writeStream.format("memory").queryName("spandup")
      .outputMode("append").start()
    try {
      // split mid-corpus so planted near-dup pairs straddle the batch
      // boundary: the first holder must be flagged RETROACTIVELY when
      // its twin arrives in a later micro-batch
      val (a, b) = docs.splitAt(docs.length / 2)
      input.addData(a.toSeq)
      q.processAllAvailable()
      input.addData(b.toSeq)
      q.processAllAvailable()
    } finally q.stop()

    val streamedDup = sp.table("spandup").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (d, hs) => d -> hs.map(_._2).distinct.length }
    val batch = SparkEntry.queries("q_span_dup")(sp, sf)
      .select("doc_id", "n_dup_spans").collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .filter(_._2 > 0).toMap
    assert(batch.nonEmpty, "no planted dup spans in the corpus?")
    assert(streamedDup.map { case (d, n) => d -> n.toLong } == batch,
      s"streamed dup counts diverge from batch")
  }

  test("streaming seq-pack equals the batch packing row for row") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    import graft.streaming.CorpusStreams
    import graft.streaming.CorpusStreams.Doc

    val docs = Tables.documents(sp, sf).select("doc_id", "text")
      .as[Doc].collect().sortBy(_.doc_id)

    val input = MemoryStream[Doc]
    val q = CorpusStreams.seqPackStream(input.toDS())
      .writeStream.format("memory").queryName("seqpack")
      .outputMode("append").start()
    try {
      // doc_id-ascending across batches (the append-ordered ingest
      // contract); the split exercises cross-batch cumsum state
      val (a, b) = docs.splitAt(docs.length / 3)
      input.addData(a.toSeq)
      q.processAllAvailable()
      input.addData(b.toSeq)
      q.processAllAvailable()
    } finally q.stop()

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "shard", "n_tokens", "bin", "bin_offset")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
    val streamed = rows(sp.table("seqpack"))
    val batch = rows(SparkEntry.queries("q_seq_pack")(sp, sf))
    assert(batch.nonEmpty)
    assert(streamed == batch)
  }

  test("streaming dedup-keep verdicts equal the batch q_dedup_keep") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    import graft.streaming.CorpusStreams
    import graft.streaming.CorpusStreams.Doc

    // plant exact duplicates that straddle the batch boundary: the
    // first copy must KEEP and the later copy (next micro-batch) must
    // DROP against cross-batch state; case-insensitivity pinned too
    val base = Tables.documents(sp, sf).select("doc_id", "text")
      .as[Doc].collect().sortBy(_.doc_id).take(40)
    val maxId = base.map(_.doc_id).max
    val docs = (base :+
      // Locale.ROOT: the default locale's uppercase is not the
      // inverse of Spark's lowercase for e.g. Turkish dotted I
      Doc(maxId + 1, base.head.text.toUpperCase(java.util.Locale.ROOT)) :+
      Doc(maxId + 2, base(1).text)).sortBy(_.doc_id)

    val input = MemoryStream[Doc]
    val q = CorpusStreams.dedupKeepStream(input.toDS())
      .writeStream.format("memory").queryName("dedupkeep")
      .outputMode("append").start()
    try {
      // doc_id-ascending across batches (the append-ordered contract
      // under which keep-first == keep-min-doc_id)
      val (a, b) = docs.splitAt(docs.length / 2)
      input.addData(a.toSeq)
      q.processAllAvailable()
      input.addData(b.toSeq)
      q.processAllAvailable()
    } finally q.stop()

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "fingerprint", "keep").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2))).toSet
    val streamed = rows(sp.table("dedupkeep"))
    val batchDf = {
      // the batch semantics over the SAME planted corpus
      docs.toSeq.toDF("doc_id", "text").createOrReplaceTempView("dk_docs")
      sp.sql("SELECT doc_id, md5(cast(lower(text) as binary)) AS " +
        "fingerprint, doc_id = min(doc_id) OVER (PARTITION BY " +
        "md5(cast(lower(text) as binary))) AS keep FROM dk_docs")
    }
    val batch = rows(batchDf)
    assert(batch.count(!_._3) >= 2, "planted duplicates missing")
    assert(streamed == batch)
    // and the operator itself agrees on the real corpus rows it covers
    val opKeep = rows(SparkEntry.queries("q_dedup_keep")(sp, sf)
      .filter(col("doc_id").isin(base.map(_.doc_id): _*)))
    assert(opKeep.nonEmpty)
  }

  test("streaming quality filter equals batch q_quality_calibrated " +
      "under the calibration-snapshot cutoff") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    import graft.streaming.CorpusStreams
    import graft.streaming.CorpusStreams.Doc

    val docs = Tables.documents(sp, sf).select("doc_id", "text")
      .as[Doc].collect().sortBy(_.doc_id)
    // freeze the cutoff on the same snapshot the batch op calibrates
    // over -> stream == batch exactly
    val cutoff = CorpusStreams.calibrateQuality(
      docs.toSeq.toDF("doc_id", "text"))

    val input = MemoryStream[Doc]
    val q = CorpusStreams.qualityFilterStream(input.toDF(), cutoff)
      .writeStream.format("memory").queryName("qual")
      .outputMode("append").start()
    try {
      // map-only and stateless: the boundary split just pins that
      // verdicts don't depend on micro-batch grouping
      val (a, b) = docs.splitAt(docs.length / 2)
      input.addData(a.toSeq)
      q.processAllAvailable()
      input.addData(b.toSeq)
      q.processAllAvailable()
    } finally q.stop()

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "quality", "cutoff", "keep").collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2),
          r.getBoolean(3))).toSet
    val streamed = rows(sp.table("qual"))
    val batch = rows(SparkEntry.queries("q_quality_calibrated")(sp, sf))
    assert(batch.exists(!_._4) && batch.exists(_._4),
      "calibrated filter should both keep and drop")
    assert(streamed == batch)
  }

  test("recalibration cadence: drift visible, then post-recalibration " +
      "batches equal the batch scoring under the new snapshot") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    import graft.streaming.CorpusStreams
    import graft.streaming.CorpusStreams.Doc

    // two synthetic quality regimes (qualityExpr = 0.4*min(1,n/50) +
    // 0.3*ttr + 0.3*[3<=mwl<=8]): family A is short docs (scores
    // ~0.62-0.77), family B is 50-token docs with varying distinctness
    // (~0.71-1.0) — every B doc clears A's 20th-percentile cutoff, so
    // a frozen-on-A filter drifts to keep-rate 1.0 on a B batch
    def lowDoc(id: Long, i: Int): Doc =
      Doc(id, (1 to (2 + i % 20)).map(k => f"aaa$k%02d").mkString(" "))
    def highDoc(id: Long, i: Int): Doc = {
      val j = 1 + (i % 50)
      Doc(id, (0 until 50).map(k => f"bbb${k % j}%02d").mkString(" "))
    }
    val a  = (0 until 50).map(i => lowDoc(i.toLong, i))
    val b1 = (0 until 50).map(i => highDoc(1000L + i, i))
    // same TEXTS as b1, fresh ids: scoring b2 under a snapshot of b1
    // is then bit-identical to the batch operator SELF-calibrating on
    // b2 — the law below compares against that independent batch path
    val b2 = (0 until 50).map(i => highDoc(2000L + i, i))
    val byId = (a ++ b1 ++ b2).map(d => d.doc_id -> d).toMap

    // sliding-window snapshot policy: the last completed batch
    var window: Seq[Doc] = a
    val recal = new CorpusStreams.Recalibrator[Double](
      () => CorpusStreams.calibrateQuality(
        window.toDF("doc_id", "text")), 2)
    val got = scala.collection.mutable.Map
      .empty[Long, Set[(Long, Double, Double, Boolean)]]
    val input = MemoryStream[Doc]
    val q = CorpusStreams.qualityFilterStreamCadenced(input.toDF(), recal) {
      (df, id) =>
        val rows = df.select("doc_id", "quality", "cutoff", "keep")
          .collect().map(r => (r.getLong(0), r.getDouble(1),
            r.getDouble(2), r.getBoolean(3))).toSet
        got(id) = rows
        window = rows.toSeq.map(t => byId(t._1))
    }.start()
    try {
      input.addData(a); q.processAllAvailable()     // batch 0: A under cutoff(A)
      input.addData(b1); q.processAllAvailable()    // batch 1: drifted, stale cutoff
      input.addData(b2); q.processAllAvailable()    // batch 2: recalibrated on b1
    } finally q.stop()

    // batch 0 keeps ~80% of its own calibration family
    val keep0 = got(0).count(_._4).toDouble / got(0).size
    assert(keep0 >= 0.7 && keep0 <= 0.9, s"batch0 keep-rate $keep0")
    // batch 1: the drift the cadence exists to correct — all kept
    assert(got(1).forall(_._4), "family-B batch under the stale " +
      "family-A cutoff should keep everything (visible drift)")
    // batch 2 equals the BATCH operator formula under the new
    // snapshot: qualityExpr + the independently re-derived cutoff
    val c2 = CorpusStreams.calibrateQuality(b1.toDF("doc_id", "text"))
    val expected = b2.toDF("doc_id", "text")
      .select(col("doc_id"),
        graft.operators.TextAnalysis.qualityExpr.as("q"))
      .select(col("doc_id"), round(col("q"), 6).as("quality"),
        round(lit(c2), 6).as("cutoff"), (col("q") >= lit(c2)).as("keep"))
      .collect().map(r => (r.getLong(0), r.getDouble(1),
        r.getDouble(2), r.getBoolean(3))).toSet
    assert(got(2) == expected,
      "post-recalibration batch diverged from batch scoring under the new snapshot")
    val keep2 = got(2).count(_._4).toDouble / got(2).size
    assert(keep2 >= 0.7 && keep2 <= 0.9,
      s"recalibrated keep-rate $keep2 still drifted")
    // replay idempotence: re-announcing a seen batch id must not
    // advance the cadence even if the snapshot has changed since
    val frozen = recal.state
    window = a
    assert(recal.onBatch(2) == frozen, "replayed batch id recalibrated")
  }

  test("perplexity recalibration: post-recalibration batch equals the " +
      "self-calibrated batch operator on the new snapshot") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    import graft.streaming.CorpusStreams
    import graft.streaming.CorpusStreams.{BigramLm, Doc}

    // family A: repetitive bigrams; family B: different vocabulary —
    // an LM frozen on A treats every B bigram as unseen
    def aDoc(id: Long, i: Int): Doc =
      Doc(id, (0 until 12).map(k => s"w${(k + i) % 5}").mkString(" "))
    def bDoc(id: Long, i: Int): Doc =
      Doc(id, (0 until 12).map(k => s"z${(k * (1 + i % 7)) % 9}").mkString(" "))
    val a  = (0 until 40).map(i => aDoc(i.toLong, i))
    val b1 = (0 until 40).map(i => bDoc(1000L + i, i))
    val b2 = (0 until 40).map(i => bDoc(2000L + i, i)) // same texts as b1
    val byId = (a ++ b1 ++ b2).map(d => d.doc_id -> d).toMap

    var window: Seq[Doc] = a
    def cal(): (BigramLm, Double) = {
      val snap = window.toDF("doc_id", "text")
      (CorpusStreams.trainLm(snap), CorpusStreams.calibratePerplexity(snap))
    }
    val recal = new CorpusStreams.Recalibrator[(BigramLm, Double)](cal _, 2)
    val got = scala.collection.mutable.Map
      .empty[Long, Set[(Long, Long, Double, Double, Boolean)]]
    val input = MemoryStream[Doc]
    val q = CorpusStreams.perplexityFilterStreamCadenced(input.toDS(), recal) {
      (ds, id) =>
        val rows = ds.collect().map(v => (v.doc_id, v.n_bigrams,
          v.avg_nll, v.cutoff, v.keep)).toSet
        got(id) = rows
        window = rows.toSeq.map(t => byId(t._1))
    }.start()
    try {
      input.addData(a); q.processAllAvailable()
      input.addData(b1); q.processAllAvailable()
      input.addData(b2); q.processAllAvailable()
    } finally q.stop()

    // batch 2 scored under LM(b1) == the batch operator self-training
    // on b2 (identical texts): avg_nll from lmNllOf, cutoff from the
    // independent percentile — the fully batch-side derivation
    val b2df = b2.toDF("doc_id", "text")
    val nll = graft.operators.TextAnalysis.lmNllOf(b2df, occAgg = false)
      .select("doc_id", "n_bigrams", "avg_nll").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val c2 = CorpusStreams.calibratePerplexity(b2df)
    def r6(x: Double) = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    val expected = nll.map { case (id, nb, v) =>
      (id, nb, v, r6(c2), v <= c2) }.toSet
    assert(got(2) == expected,
      "post-recalibration batch diverged from the self-calibrated batch operator")
    // and the stale batch 1 really was mis-scored: every b1 bigram is
    // unseen by LM(a), so its nll differs from the self-trained value
    val selfB1 = graft.operators.TextAnalysis
      .lmNllOf(b1.toDF("doc_id", "text"), occAgg = false)
      .select("doc_id", "avg_nll").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val stale1 = got(1).map(t => t._1 -> t._3).toMap
    assert(stale1.keySet == selfB1.keySet)
    assert(stale1.exists { case (id, v) => v != selfB1(id) },
      "stale-LM scoring should differ from self-trained scoring (drift)")
  }

  test("streaming perplexity filter equals batch q_perplexity_filter " +
      "under the frozen calibration LM") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    import graft.streaming.CorpusStreams
    import graft.streaming.CorpusStreams.Doc

    val docs = Tables.documents(sp, sf).select("doc_id", "text")
      .as[Doc].collect().sortBy(_.doc_id)
    // LM + cutoff frozen on the same corpus the batch op self-trains
    // on -> every scored bigram hits the LM and stream == batch holds
    // bit for bit
    val snapshot = docs.toSeq.toDF("doc_id", "text")
    val lm = CorpusStreams.trainLm(snapshot)
    val cutoff = CorpusStreams.calibratePerplexity(snapshot)

    val input = MemoryStream[Doc]
    val q = CorpusStreams.perplexityFilterStream(input.toDS(), lm, cutoff)
      .writeStream.format("memory").queryName("ppl")
      .outputMode("append").start()
    try {
      val (a, b) = docs.splitAt(docs.length / 2)
      input.addData(a.toSeq)
      q.processAllAvailable()
      input.addData(b.toSeq)
      q.processAllAvailable()
    } finally q.stop()

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "avg_nll", "cutoff", "keep").collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2),
          r.getBoolean(3))).toSet
    val streamed = rows(sp.table("ppl"))
    val batch = rows(SparkEntry.queries("q_perplexity_filter")(sp, sf))
    assert(batch.exists(!_._4) && batch.exists(_._4),
      "perplexity filter should both keep and drop")
    assert(streamed == batch)
    // the streamed n_bigrams matches the batch scorer's too
    val nb = sp.table("ppl").select("doc_id", "n_bigrams").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nbBatch = SparkEntry.queries("q_ngram_lm")(sp, sf)
      .select("doc_id", "n_bigrams").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(nb == nbBatch)
  }

  test("streaming curation chain equals the batch pipeline's first " +
      "three stages under snapshot calibration") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    import graft.streaming.CorpusStreams
    import graft.streaming.CorpusStreams.Doc
    import graft.operators.TextAnalysis

    // mirror the batch pipeline's stage scoping exactly: calibrate the
    // quality cutoff on the pipeline INPUT (non-eval docs), the LM and
    // perplexity cutoff on the stage-1 SURVIVORS
    val train0 = Tables.documents(sp, sf)
      .filter(col("doc_id") % 41 =!= 0).select("doc_id", "text")
    val qCut = CorpusStreams.calibrateQuality(train0)
    val s1 = train0.withColumn("q", TextAnalysis.qualityExpr)
      .filter(col("q") >= qCut).select("doc_id", "text")
    val lm = CorpusStreams.trainLm(s1)
    val pCut = CorpusStreams.calibratePerplexity(s1)

    val docs = train0.as[Doc].collect().sortBy(_.doc_id)
    val input = MemoryStream[Doc]
    val q = CorpusStreams.curateStream(input.toDS(), lm, qCut, pCut)
      .writeStream.format("memory").queryName("curstream")
      .outputMode("append").start()
    try {
      val (a, b) = docs.splitAt(docs.length / 2)
      input.addData(a.toSeq)
      q.processAllAvailable()
      input.addData(b.toSeq)
      q.processAllAvailable()
    } finally q.stop()

    // batch truth: s2 = perplexity survivors of s1, s3 = dedup keepers
    val nll = TextAnalysis.lmNllOf(s1, occAgg = false)
    val s2 = s1.join(nll.filter(col("avg_nll") <= pCut)
      .select("doc_id"), Seq("doc_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(lower(col("text")).cast("binary")))
    val s3 = s2.withColumn("keeper", min("doc_id").over(w))
      .filter(col("doc_id") === col("keeper"))
    val expectKept = s3.select("doc_id").collect()
      .map(_.getLong(0)).toSet
    val expectScored = s2.select("doc_id").collect()
      .map(_.getLong(0)).toSet

    val got = sp.table("curstream")
    val gotKept = got.filter(col("keep"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(expectKept.nonEmpty && gotKept == expectKept,
      s"stream kept ${gotKept.size}, batch ${expectKept.size}")
    // every emitted verdict is a stage-2 survivor, and its scores
    // match the batch scorer bit for bit
    val gotAll = got.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(gotAll == expectScored)
    val batchNll = nll.select("doc_id", "avg_nll").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val streamNll = got.select("doc_id", "avg_nll").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(streamNll.forall { case (id, v) => batchNll(id) == v })
  }

  test("continuous restore drains a stream of edges into the KV sink") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = sp.sqlContext

    val store =
      new java.util.concurrent.ConcurrentHashMap[(String, String), String]()
    SinkRegistry.sinks.put("stream-restore", new graft.pipeline.Restore.KVSink {
      override def update(path: String, batch: Map[String, String]): Boolean = {
        batch.foreach { case (k, v) => store.put((path, k), v) }
        true
      }
    })
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-stream-restore").toString

    val input = MemoryStream[(String, String, String)]
    input.addData(("/a", "k1", "1"), ("/a", "k2", "2"), ("/b", "k1", "10"))
    // live tail (ProcessingTime), not AvailableNow: the default would
    // drain the backlog and stop before the second addData below
    val q = graft.streaming.StreamRestore.continuousRestore(
      input.toDS().toDF("path", "key", "value_json"),
      RegistrySink("stream-restore"), ckpt,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    try {
      q.processAllAvailable()
      assert(store.size == 3 && store.get(("/b", "k1")) == "10")
      // a later micro-batch re-writing an existing key converges (the
      // idempotent-PATCH contract the at-least-once replay relies on)
      input.addData(("/a", "k2", "22"), ("/c", "k9", "9"))
      q.processAllAvailable()
      assert(store.size == 4 && store.get(("/a", "k2")) == "22")
    } finally q.stop()
  }

  test("delta dedup stream equals the batch operator per micro-batch") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    graft.functions.GraftFunctions.register(spark)
    import graft.streaming.CorpusStreams
    val batch = spark.read.parquet(s"$sf/documents.parquet")
      .filter(graft.operators.Dedup.isDeltaBatch(col("doc_id")))
      .select("doc_id", "text").as[CorpusStreams.Doc]
      .collect().sortBy(_.doc_id)
    val mid = batch(batch.length / 2).doc_id
    val (h1, h2) = batch.partition(_.doc_id < mid)
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    def expected(half: Array[CorpusStreams.Doc]) = {
      val (frame, cached) = graft.operators.Dedup.deltaDedupOf(
        spark, sf, half.toSeq.toDS().toDF())
      val rows = rowsOf(frame)
      cached.unpersist(blocking = true)
      rows
    }
    val e1 = expected(h1)
    val e2 = expected(h2)
    assert((e1 ++ e2).nonEmpty, "planted dups must touch the halves")

    val got = scala.collection.mutable.Map.empty[Long, Set[(Long, Long, Double)]]
    val input = MemoryStream[CorpusStreams.Doc]
    val q = CorpusStreams.deltaDedupStream(input.toDS(), sf) { (df, id) =>
      got(id) = rowsOf(df)
    }.start()
    try {
      input.addData(h1.toSeq); q.processAllAvailable()
      input.addData(h2.toSeq); q.processAllAvailable()
    } finally q.stop()
    // per micro-batch the stream IS the batch operator on those docs
    assert(got(0L) == e1, "micro-batch 0 != batch operator on its docs")
    assert(got(1L) == e2, "micro-batch 1 != batch operator on its docs")

    // contract: relative to one big batch, the stream misses EXACTLY
    // the pairs straddling two micro-batches (caught at the next index
    // refresh, per the documented cadence) — nothing else
    val (fullFrame, fullCached) =
      graft.operators.Dedup.deltaDedup(spark, sf)
    val full = rowsOf(fullFrame)
    fullCached.unpersist(blocking = true)
    assert((e1 ++ e2).subsetOf(full), "stream emitted a pair the batch lacks")
    val ids1 = h1.map(_.doc_id).toSet
    val ids2 = h2.map(_.doc_id).toSet
    val missed = full -- e1 -- e2
    assert(missed.forall { case (a, b, _) =>
      (ids1(a) && ids2(b)) || (ids2(a) && ids1(b))
    }, s"non-cross-batch pair missing from the stream: ${missed.take(3)}")
  }

  test("ingest stream converges to delta-dedup + components semantics " +
    "regardless of the arrival split") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    graft.functions.GraftFunctions.register(spark)
    import graft.streaming.CorpusStreams
    def txt(g: Int, variant: Int = 0): String = {
      val toks = (1 to 30).map(i => s"g${g}w$i").toArray
      if (variant != 0) toks(29) = s"g${g}v$variant"
      toks.mkString(" ")
    }
    val tmp = java.nio.file.Files.createTempDirectory("graft_ingest")
    val dir = new java.io.File(tmp.toFile, "d").toString
    Seq(0L -> txt(0), 1L -> txt(1), 2L -> txt(2))
      .toDF("doc_id", "text").coalesce(1).write
      .parquet(s"$dir/documents.parquet")
    // a 3-doc duplicate CHAIN split across batches: 300 ~ corpus doc
    // 0, 400 ~ 300 (cross-batch), plus an isolated pair in batch 2 —
    // the component {0, 300, 400} only exists if pairs from different
    // batches fold into one union-find
    val h1 = Seq(CorpusStreams.Doc(300L, txt(0, 1)),
      CorpusStreams.Doc(301L, txt(9)))
    val h2 = Seq(CorpusStreams.Doc(400L, txt(0, 2)),
      CorpusStreams.Doc(401L, txt(9, 1)))
    val allPairs = scala.collection.mutable.ListBuffer.empty[(Long, Long, Double)]
    val labels = scala.collection.mutable.Map.empty[Long, Long]
    val input = MemoryStream[CorpusStreams.Doc]
    val q = CorpusStreams.dedupIngestStream(input.toDS(), dir,
      streamId = "ing1") { (pairs, changed, _) =>
      allPairs ++= pairs
      changed.foreach(u => labels(u.node) = u.lbl)
    }.start()
    try {
      input.addData(h1); q.processAllAvailable()
      input.addData(h2); q.processAllAvailable()
    } finally q.stop()
    // comparator: one-big-batch delta on a FRESH index state (the
    // stream appended its batches, so compare against a rebuilt-from-
    // dir index with the same docs as one batch)
    graft.operators.Dedup.dropShingleIndex(spark, dir)
    graft.operators.PersistedIndex.forgetMemo()
    val (fullFrame, fullSh) = graft.operators.Dedup.deltaDedupOf(
      spark, dir, (h1 ++ h2).toDS().toDF())
    val full = fullFrame.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    fullSh.unpersist(blocking = true)
    assert(allPairs.toSet == full,
      "streamed ingest pairs != one-big-batch delta operator")
    // the cross-batch chain must collapse into ONE component rooted
    // at the corpus doc
    assert(labels.get(300L).contains(0L) && labels.get(400L).contains(0L),
      s"chain component not merged: $labels")
    val expLabels = graft.operators.Dedup.connectedComponents(
      full.toSeq.map(p => (p._1, p._2)).toDF("da", "db"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.toMap == expLabels,
      "streamed labels != batch connected components over all pairs")
  }

  test("cc stream labels equal the batch operator after every prefix, " +
    "and bridge merges ripple-relabel") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    import graft.streaming.CorpusStreams
    val b1 = Seq(CorpusStreams.Pair(1L, 2L), CorpusStreams.Pair(3L, 4L),
      CorpusStreams.Pair(9L, 8L)) // reversed orientation on purpose
    val b2 = Seq(CorpusStreams.Pair(2L, 3L)) // bridge: merges {1,2},{3,4}
    val got = scala.collection.mutable.Map.empty[Long, Seq[CorpusStreams.CcUpdate]]
    val input = MemoryStream[CorpusStreams.Pair]
    val q = CorpusStreams.ccStream(input.toDS()) { (changed, id) =>
      got(id) = changed
    }.start()
    try {
      input.addData(b1); q.processAllAvailable()
      input.addData(b2); q.processAllAvailable()
    } finally q.stop()
    def cumulative(upTo: Long): Map[Long, Long] =
      (0L to upTo).flatMap(i => got(i)).map(u => u.node -> u.lbl).toMap
    def batchCc(pairs: Seq[CorpusStreams.Pair]): Map[Long, Long] =
      graft.operators.Dedup.connectedComponents(
        pairs.map(p => (math.min(p.da, p.db), math.max(p.da, p.db)))
          .toDF("da", "db"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // law: after each prefix the cumulative emitted state == the
    // batch operator over the union of pairs so far
    assert(cumulative(0L) == batchCc(b1))
    assert(cumulative(1L) == batchCc(b1 ++ b2))
    // the bridge relabeled node 4 even though no batch-2 pair names it
    assert(got(1L).exists(u => u.node == 4L && u.lbl == 1L),
      s"ripple relabel missing: ${got(1L)}")
    // and only genuinely changed labels were re-emitted
    assert(!got(1L).exists(u => u.node == 8L || u.node == 9L),
      "untouched component re-emitted")
  }

  test("cc stream with stateDir keeps the cumulative-labels law " +
    "across a driver restart") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    import graft.streaming.CorpusStreams
    val tmp = java.nio.file.Files.createTempDirectory("graft_ccres").toFile
    val ckpt = new java.io.File(tmp, "ckpt").toString
    val sd = new java.io.File(tmp, "state").toString
    val labels = scala.collection.mutable.Map.empty[Long, Long]
    val input = MemoryStream[CorpusStreams.Pair]
    val q1 = CorpusStreams.ccStream(input.toDS(), Some(sd)) { (ch, _) =>
      ch.foreach(u => labels(u.node) = u.lbl)
    }.option("checkpointLocation", ckpt).start()
    try {
      input.addData(Seq(CorpusStreams.Pair(1L, 2L),
        CorpusStreams.Pair(3L, 4L)))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(labels.toMap == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L))
    // "restart": a NEW writer over the same checkpoint — committed
    // batches do NOT replay, so the union-find must be rebuilt from
    // the durable edge log, or the bridge below cannot ripple-relabel
    // nodes it has never seen
    val q2 = CorpusStreams.ccStream(input.toDS(), Some(sd)) { (ch, _) =>
      ch.foreach(u => labels(u.node) = u.lbl)
    }.option("checkpointLocation", ckpt).start()
    try {
      input.addData(Seq(CorpusStreams.Pair(2L, 3L)))
      q2.processAllAvailable()
      // ten more single-pair micro-batches: enough per-batch log dirs
      // to cross the consolidation threshold on the NEXT seed
      (10L to 19L).foreach { i =>
        input.addData(Seq(CorpusStreams.Pair(i * 10, i * 10 + 1)))
        q2.processAllAvailable()
      }
    } finally q2.stop()
    assert(labels.toMap.view.filterKeys(_ <= 4L).toMap ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L),
      s"post-restart labels diverge from batch components: $labels")
    // third start: the seed reads >8 per-batch dirs, consolidates them
    // into one, and the state must be unchanged by the fold
    val q3 = CorpusStreams.ccStream(input.toDS(), Some(sd)) { (ch, _) =>
      ch.foreach(u => labels(u.node) = u.lbl)
    }.option("checkpointLocation", ckpt).start()
    try {
      input.addData(Seq(CorpusStreams.Pair(190L, 40L)))
      q3.processAllAvailable()
    } finally q3.stop()
    assert(labels(191L) == 40L && labels(190L) == 40L,
      s"post-consolidation merge wrong: $labels")
    val pairDirs = new java.io.File(sd, "pairs").listFiles()
      .count(_.isDirectory)
    assert(pairDirs <= 3,
      s"edge log not consolidated: $pairDirs per-batch dirs remain")
  }

  test("ingest stream with stateDir keeps cumulative semantics across " +
    "a restart mid-chain") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    graft.functions.GraftFunctions.register(spark)
    import graft.streaming.CorpusStreams
    def txt(g: Int, variant: Int = 0): String = {
      val toks = (1 to 30).map(i => s"g${g}w$i").toArray
      if (variant != 0) toks(29) = s"g${g}v$variant"
      toks.mkString(" ")
    }
    val tmp = java.nio.file.Files.createTempDirectory("graft_ingres")
    val dir = new java.io.File(tmp.toFile, "d").toString
    val ckpt = new java.io.File(tmp.toFile, "ckpt").toString
    val sd = new java.io.File(tmp.toFile, "state").toString
    Seq(0L -> txt(0), 1L -> txt(1), 2L -> txt(2))
      .toDF("doc_id", "text").coalesce(1).write
      .parquet(s"$dir/documents.parquet")
    // the same 3-doc chain as the convergence law, but the two halves
    // are separated by a STOP + NEW WRITER instead of two micro-batches
    val h1 = Seq(CorpusStreams.Doc(300L, txt(0, 1)),
      CorpusStreams.Doc(301L, txt(9)))
    val h2 = Seq(CorpusStreams.Doc(400L, txt(0, 2)),
      CorpusStreams.Doc(401L, txt(9, 1)))
    val allPairs = scala.collection.mutable.ListBuffer.empty[(Long, Long, Double)]
    val labels = scala.collection.mutable.Map.empty[Long, Long]
    val input = MemoryStream[CorpusStreams.Doc]
    def writer() = CorpusStreams.dedupIngestStream(input.toDS(), dir,
      streamId = "ingres", stateDir = Some(sd)) { (pairs, changed, _) =>
      allPairs ++= pairs
      changed.foreach(u => labels(u.node) = u.lbl)
    }.option("checkpointLocation", ckpt)
    val q1 = writer().start()
    try { input.addData(h1); q1.processAllAvailable() } finally q1.stop()
    val q2 = writer().start()
    try { input.addData(h2); q2.processAllAvailable() } finally q2.stop()
    // the one-big-batch comparator on a rebuilt-from-dir index
    graft.operators.Dedup.dropShingleIndex(spark, dir)
    graft.operators.PersistedIndex.forgetMemo()
    val (fullFrame, fullSh) = graft.operators.Dedup.deltaDedupOf(
      spark, dir, (h1 ++ h2).toDS().toDF())
    val full = fullFrame.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    fullSh.unpersist(blocking = true)
    assert(allPairs.toSet == full,
      "restarted ingest pairs != one-big-batch delta operator")
    // the cross-RESTART chain must still collapse into one component:
    // impossible unless the restarted union-find was reseeded from
    // the durable edge log
    assert(labels.get(300L).contains(0L) && labels.get(400L).contains(0L),
      s"chain component not merged across restart: $labels")
    val expLabels = graft.operators.Dedup.connectedComponents(
      full.toSeq.map(p => (p._1, p._2)).toDF("da", "db"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.toMap == expLabels,
      "post-restart labels != batch connected components over all pairs")
  }

  test("ann stream probes the persisted IVF index; maintainIndex " +
    "makes arrivals findable by later batches") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    graft.functions.GraftFunctions.register(spark)
    import graft.streaming.CorpusStreams
    def vec(seed: Long): Array[Float] = {
      val r = new scala.util.Random(seed)
      Array.fill(64)(r.nextFloat() * 2 - 1)
    }
    // own corpus dir — maintenance appends must never touch the
    // shared sf fixture's index
    val tmp = java.nio.file.Files.createTempDirectory("graft_annstr")
    val dir = new java.io.File(tmp.toFile, "d").toString
    (0L until 150L).map(i => (i, vec(i)))
      .toDF("vec_id", "embedding").coalesce(1).write
      .parquet(s"$dir/embeddings.parquet")
    // batch 0 delivers an arrival vector 2000; batch 1 queries with
    // an exact copy (3000) — findable only if batch 0 was appended
    val h1 = Seq(CorpusStreams.Vec(2000L, vec(777L)))
    val h2 = Seq(CorpusStreams.Vec(3000L, vec(777L)),
      CorpusStreams.Vec(3001L, vec(5L)))
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    // batch-operator comparator for batch 0 BEFORE the stream runs
    // (the stream appends after probing, so the comparable state is
    // the pre-append index)
    val exp1 = rowsOf(graft.operators.Similarity
      .ivfProbe(spark, dir, h1.toDS().toDF(), 5))
    val got = scala.collection.mutable.Map.empty[Long, Set[(Long, Long, Double, Long)]]
    val input = MemoryStream[CorpusStreams.Vec]
    val q = CorpusStreams.annStream(input.toDS(), dir,
      maintainIndex = true, streamId = "a1") { (df, id) =>
      got(id) = rowsOf(df)
    }.start()
    try {
      input.addData(h1); q.processAllAvailable()
      input.addData(h2); q.processAllAvailable()
    } finally q.stop()
    assert(got(0L) == exp1,
      "streamed probe != batch probe on the same vectors")
    // the copy of 2000's vector must rank it first with cosine 1.0
    val top3000 = got(1L).find { case (qid, _, _, rn) =>
      qid == 3000L && rn == 1L }
    assert(top3000.exists(t => t._2 == 2000L && t._3 == 1.0),
      s"appended arrival not found by the later batch: $top3000")
    // and the maintained index equals a batch probe on the SAME
    // post-append state. The appends ran in the stream's CLONED
    // micro-batch session; this root session cached the assignment
    // table's file listing at the exp1 probe, so it must refresh
    // first (standard Spark relation-cache semantics, documented on
    // annStream — without this the comparator sees the pre-append
    // index and the law is tested against the wrong state)
    val (at2, _) = graft.operators.Similarity.ensureIvfIndex(spark, dir)
    spark.catalog.refreshTable(at2)
    assert(got(1L) == rowsOf(graft.operators.Similarity
      .ivfProbe(spark, dir, h2.toDS().toDF(), 5)),
      "batch-1 streamed probe != batch probe over the appended index")
  }

  test("graph ingest stream: arrivals fold into the persisted graph, " +
    "later batches displace stored adjacencies, stream == one-shot") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    graft.functions.GraftFunctions.register(spark)
    import graft.streaming.CorpusStreams
    import graft.operators.Similarity
    def vec(seed: Long): Array[Float] = {
      val r = new scala.util.Random(seed)
      Array.fill(64)(r.nextFloat() * 2 - 1)
    }
    val tmp = java.nio.file.Files.createTempDirectory("graft_graphstr")
    val dir = new java.io.File(tmp.toFile, "d").toString
    (0L until 150L).map(i => (i, vec(i)))
      .toDF("vec_id", "embedding").coalesce(1).write
      .parquet(s"$dir/embeddings.parquet")
    // batch 0 delivers a novel node (2000); batch 1 delivers 3000 —
    // an exact copy of corpus node 7, which must DISPLACE into 7's
    // stored adjacency through the fold's reverse pass — and 3001, an
    // exact copy of 2000 (its rank-1 mate exists only because batch
    // 0's fold is visible to batch 1: the cross-batch law)
    val h1 = Seq(CorpusStreams.Vec(2000L, vec(777L)))
    val h2 = Seq(CorpusStreams.Vec(3000L, vec(7L)),
      CorpusStreams.Vec(3001L, vec(777L)))
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val got = scala.collection.mutable.Map
      .empty[Long, Set[(Long, Long, Double, Long)]]
    val input = MemoryStream[CorpusStreams.Vec]
    val q = CorpusStreams.graphIngestStream(input.toDS(), dir,
      3, streamId = "g1") { (df, id) => got(id) = rowsOf(df) }.start()
    try {
      input.addData(h1); q.processAllAvailable()
      input.addData(h2); q.processAllAvailable()
    } finally q.stop()
    assert(got(0L).nonEmpty && got(0L).forall(_._1 == 2000L),
      s"batch 0's node gained no adjacency of its own: ${got(0L)}")
    assert(got(1L).exists(e =>
        e._1 == 3001L && e._2 == 2000L && e._3 == 1.0 && e._4 == 1L),
      "cross-batch mate not found: batch 0's fold is invisible to batch 1")
    // comparator reads from the root session: the folds ran in the
    // stream's cloned micro-batch session, so refresh the cached
    // relations first (the annStream comparator idiom, rule 33)
    val (et, rt) = Similarity.ensureKnnGraphIndex(spark, dir, 3)
    spark.catalog.refreshTable(et); spark.catalog.refreshTable(rt)
    def resolved() = rowsOf(Similarity.graphEdges(spark, dir, 3))
    val streamed = resolved()
    assert(streamed.exists(e =>
        e._1 == 7L && e._2 == 3000L && e._3 == 1.0 && e._4 == 1L),
      "reverse displacement: node 7's stored adjacency missed its copy")
    // replayed fold no-ops (idempotent per streamId_batchId)
    assert(!Similarity.appendToKnnGraphIndex(spark, dir, 3,
      h2.toDF(), "g1_1"), "replayed stream batch re-applied")
    // LAW (restated for the r20 refined contract — folds keep exact
    // top-k algebra but never refine): the stream-folded graph
    // per-(src, rank) DOMINATES a ring-only one-shot rebuild over
    // everything ingested (same frozen quantizer), and the
    // maintenance re-refine pass dominates the stream-folded state
    def ranks(rowsSet: Set[(Long, Long, Double, Long)])
        : Map[(Long, Long), Double] =
      rowsSet.map(e => (e._1, e._4) -> e._3).toMap
    def assertDominates(a: Map[(Long, Long), Double],
                        b: Map[(Long, Long), Double], what: String): Unit =
      b.foreach { case (key, s0) =>
        val s1 = a.getOrElse(key, Double.NegativeInfinity)
        assert(s1 >= s0, s"$what: rank ${key._2} of src ${key._1} " +
          s"fell $s0 -> $s1")
      }
    assert(Similarity.refineKnnGraphIndex(spark, dir, 3),
      "streamed folds left nothing to re-refine")
    val rerefined = resolved()
    assertDominates(ranks(rerefined), ranks(streamed),
      "re-refine over the streamed graph")
    Similarity.KnngRefineOverride = Some(0)
    val ringMerged = try {
      graft.operators.PersistedIndex.forgetMemo()
      Similarity.ensureKnnGraphIndex(spark, dir, 3)
      resolved()
    } finally {
      Similarity.KnngRefineOverride = None
      graft.operators.PersistedIndex.forgetMemo()
    }
    assertDominates(ranks(streamed), ranks(ringMerged),
      "stream-folded graph vs ring-only merged rebuild")
  }

  test("semantic ingest stream: probe pairs at tau feed the durable " +
    "union-find, cross-batch chains merge through the appended index") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    graft.functions.GraftFunctions.register(spark)
    import graft.streaming.CorpusStreams
    def vec(seed: Long): Array[Float] = {
      val r = new scala.util.Random(seed)
      Array.fill(64)(r.nextFloat() * 2 - 1)
    }
    val tmp = java.nio.file.Files.createTempDirectory("graft_semcc")
    val dir = new java.io.File(tmp.toFile, "d").toString
    val sd = new java.io.File(tmp.toFile, "s").toString
    (0L until 150L).map(i => (i, vec(i)))
      .toDF("vec_id", "embedding").coalesce(1).write
      .parquet(s"$dir/embeddings.parquet")
    // a duplicate CHAIN split across batches: 2000 copies corpus
    // vector 5 (links in batch 0), 3000 copies 2000 (links only if
    // batch 0's append is probe-visible to batch 1); 2001 is isolated
    val h1 = Seq(CorpusStreams.Vec(2000L, vec(5L)),
      CorpusStreams.Vec(2001L, vec(888L)))
    val h2 = Seq(CorpusStreams.Vec(3000L, vec(5L)))
    val allPairs = scala.collection.mutable.ListBuffer.empty[(Long, Long, Double)]
    val labels = scala.collection.mutable.Map.empty[Long, Long]
    val input = MemoryStream[CorpusStreams.Vec]
    val q = CorpusStreams.semanticIngestStream(input.toDS(), dir,
      tau = 0.99, streamId = "sc1", stateDir = Some(sd)) {
      (pairs, changed, _) =>
        allPairs ++= pairs
        changed.foreach(u => labels(u.node) = u.lbl)
    }.start()
    try {
      input.addData(h1); q.processAllAvailable()
      input.addData(h2); q.processAllAvailable()
    } finally q.stop()
    // every emitted pair respects tau; the chain observed both links
    assert(allPairs.forall(_._3 >= 0.99))
    assert(allPairs.exists(p => p._1 == 2000L && p._2 == 5L))
    assert(allPairs.exists(p => p._1 == 3000L && p._2 == 2000L),
      s"cross-batch link missing (append not probe-visible): $allPairs")
    // cumulative labels == batch components over all emitted pairs,
    // rooted at the corpus vector (min id 5)
    assert(labels.get(2000L).contains(5L) && labels.get(3000L).contains(5L),
      s"chain not merged to the corpus root: $labels")
    assert(!labels.contains(2001L), "isolated arrival must emit no label")
    val expLabels = graft.operators.Dedup.connectedComponents(
      allPairs.toSeq.map(p => (p._1, p._2)).toDF("da", "db"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.toMap == expLabels,
      "streamed labels != batch connected components over all pairs")
    // restart on the same state dir: a NEW writer reseeds the
    // union-find from the edge log — a fresh link to 3000 must land
    // in the SAME component without re-reading batches 0-1
    val labels2 = scala.collection.mutable.Map.empty[Long, Long]
    val input2 = MemoryStream[CorpusStreams.Vec]
    val q2 = CorpusStreams.semanticIngestStream(input2.toDS(), dir,
      tau = 0.99, streamId = "sc2", stateDir = Some(sd)) {
      (_, changed, _) => changed.foreach(u => labels2(u.node) = u.lbl)
    }.start()
    try {
      input2.addData(Seq(CorpusStreams.Vec(4000L, vec(5L))))
      q2.processAllAvailable()
    } finally q2.stop()
    assert(labels2.get(4000L).contains(5L),
      s"restarted stream lost the seeded component: $labels2")
  }

  test("semantic ingest stream drives condition-driven maintenance: " +
    "the append-layout threshold compacts in-stream") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    graft.functions.GraftFunctions.register(spark)
    import graft.streaming.CorpusStreams
    def vec(seed: Long): Array[Float] = {
      val r = new scala.util.Random(seed)
      Array.fill(64)(r.nextFloat() * 2 - 1)
    }
    val tmp = java.nio.file.Files.createTempDirectory("graft_semmnt")
    val dir = new java.io.File(tmp.toFile, "d").toString
    (0L until 150L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    val input = MemoryStream[CorpusStreams.Vec]
    val q = CorpusStreams.semanticIngestStream(input.toDS(), dir,
      tau = 0.99, streamId = "sm1", maintainEvery = 1) {
      (_, _, _) => ()
    }.start()
    try {
      // i.i.d. singleton batches reach DefaultCompactAfter = 8: the
      // per-batch maintain pass must compact the accumulated layout
      // (never refresh — occupancy stays healthy)
      (0 until 8).foreach { i =>
        input.addData(Seq(CorpusStreams.Vec(5000L + i, vec(7777L + i))))
        q.processAllAvailable()
      }
    } finally q.stop()
    val rep = graft.operators.Similarity
      .maintainIvfIndex(spark, dir, dryRun = true)
    assert(rep.appliedBatches == 8, s"expected 8 applied batches: $rep")
    assert(rep.uncompactedBatches == 0,
      s"maintainEvery never compacted the appended layout: ${rep.render}")
    assert(rep.action == "none",
      s"post-maintain state must be settled: ${rep.render}")
  }

  test("ann stream maintainEvery refreshes only when the hot-cell " +
    "symptom appears") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    graft.functions.GraftFunctions.register(spark)
    import graft.streaming.CorpusStreams
    def vec(seed: Long): Array[Float] = {
      val r = new scala.util.Random(seed)
      Array.fill(64)(r.nextFloat() * 2 - 1)
    }
    // the SimilaritySpec maintainIvfIndex fixture rules: 6000-vector
    // base (hot-cell concentration is an extreme-value effect that
    // needs ~100 cells), the drift gate's unit-normalized 0.2-shrink +
    // offset transform (the corpus embeddings the gate ran on are
    // unit vectors)
    def drift(seed: Long): Array[Float] = {
      val v = vec(seed)
      val n = math.sqrt(v.map(x => x * x.toDouble).sum).toFloat
      v.zipWithIndex.map { case (x, i) =>
        0.2f * (x / n) + (if (i == 0) 1.0f else 0.0f) }
    }
    val tmp = java.nio.file.Files.createTempDirectory("graft_annmnt")
    val dir = new java.io.File(tmp.toFile, "d").toString
    val merged = new java.io.File(tmp.toFile, "m").toString
    val base = (0L until 6000L).map(i => (i, vec(i)))
    base.toDF("vec_id", "embedding")
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    val (_, ct) = graft.operators.Similarity.ensureIvfIndex(spark, dir)
    def centroidIds(): Set[Long] = {
      spark.catalog.refreshTable(ct)
      spark.table(ct).select("cid").collect().map(_.getLong(0)).toSet
    }
    val healthy = (10000L until 10020L).map(i => CorpusStreams.Vec(i, vec(i)))
    val drifted =
      (50000L until 53000L).map(i => CorpusStreams.Vec(i, drift(i)))
    val input = MemoryStream[CorpusStreams.Vec]
    val q = CorpusStreams.annStream(input.toDS(), dir,
      maintainIndex = true, streamId = "am", maintainEvery = 1) {
      (df, _) => df.collect(); ()
    }.start()
    try {
      // healthy i.i.d. batch: the maintain pass measures and leaves
      // the index alone — no appended id may appear as a centroid
      input.addData(healthy)
      q.processAllAvailable()
      assert(centroidIds().forall(_ < 10000L),
        "healthy batch must not trigger a refresh")
      // concentrated drift batch: the same cadence now measures a hot
      // cell and refreshes — appended mass contributes centroids and
      // occupancy is healthy again
      input.addData(drifted)
      q.processAllAvailable()
    } finally q.stop()
    assert(centroidIds().exists(_ >= 50000L),
      "drift batch must trigger an in-stream refresh")
    val (mx, md) = graft.operators.Similarity.ivfOccupancy(spark, dir)
    assert(md > 0 &&
      mx <= graft.operators.Maintenance.DefaultHotCellRatio * md,
      s"post-refresh occupancy still hot: max $mx median $md")
    // the drift batch's refresh was the last write: the index must now
    // be content-identical to a one-shot build over base + both batches
    (base ++ (healthy ++ drifted).map(v => (v.vec_id, v.embedding)))
      .toDF("vec_id", "embedding").coalesce(1).write
      .parquet(s"$merged/embeddings.parquet")
    val (atM, ctM) = graft.operators.Similarity.ensureIvfIndex(spark, merged)
    val (at, _) = graft.operators.Similarity.ensureIvfIndex(spark, dir)
    Seq(at, ct, atM, ctM).foreach(spark.catalog.refreshTable)
    def cents(t: String): Set[(Long, Seq[Float], Double)] =
      spark.table(t).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1), r.getDouble(2))).toSet
    def cells(t: String): Set[(Long, Long, Long)] =
      spark.table(t).select("cid", "vec_id", "code").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(cents(ct) == cents(ctM),
      "stream-refreshed centroids diverge from the one-shot build")
    assert(cells(at) == cells(atM),
      "stream-refreshed assignment diverges from the one-shot build")
  }

  test("delta dedup stream with maintainIndex catches cross-batch " +
    "pairs — streamed union == one big batch exactly") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    graft.functions.GraftFunctions.register(spark)
    import graft.streaming.CorpusStreams
    def txt(g: Int, variant: Int = 0): String = {
      val toks = (1 to 30).map(i => s"g${g}w$i").toArray
      if (variant != 0) toks(29) = s"g${g}v$variant"
      toks.mkString(" ")
    }
    // own corpus dir: index maintenance APPENDS, which must never
    // touch the shared sf fixture's index (ids % 5 != 4 so the whole
    // file is the indexed slice)
    val tmp = java.nio.file.Files.createTempDirectory("graft_sdidx")
    val dir = new java.io.File(tmp.toFile, "d").toString
    Seq(0L -> txt(0), 1L -> txt(1), 2L -> txt(2))
      .toDF("doc_id", "text").coalesce(1).write
      .parquet(s"$dir/documents.parquet")
    // h1 carries a near-dup of corpus doc 0; h2 carries a near-dup of
    // h1's OTHER doc — the cross-micro-batch pair the unmaintained
    // stream documents as out of contract
    val h1 = Seq(CorpusStreams.Doc(300L, txt(0, 1)),
      CorpusStreams.Doc(301L, txt(9)))
    val h2 = Seq(CorpusStreams.Doc(400L, txt(9, 1)),
      CorpusStreams.Doc(401L, txt(10)))
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // comparator FIRST (the one-big-batch probe must see the
    // pre-append index; ensure is memoized so build happens here)
    val (fullFrame, fullSh) = graft.operators.Dedup.deltaDedupOf(
      spark, dir, (h1 ++ h2).toDS().toDF())
    val full = rowsOf(fullFrame)
    fullSh.unpersist(blocking = true)
    assert(full.exists { case (a, b, _) => a == 301L && b == 400L },
      "cross-batch pair must be planted or the law is vacuous")

    val got = scala.collection.mutable.Map.empty[Long, Set[(Long, Long, Double)]]
    val input = MemoryStream[CorpusStreams.Doc]
    val q = CorpusStreams.deltaDedupStream(input.toDS(), dir,
      maintainIndex = true, streamId = "t1") { (df, id) =>
      got(id) = rowsOf(df)
    }.start()
    try {
      input.addData(h1); q.processAllAvailable()
      input.addData(h2); q.processAllAvailable()
    } finally q.stop()
    assert(got(1L).exists { case (a, b, _) => a == 301L && b == 400L },
      "batch 1 must catch the cross-batch pair via the appended index")
    assert((got(0L) ++ got(1L)) == full,
      "streamed union with index maintenance != one-big-batch result")
  }

  test("search ingest stream scores arrivals against the maintained " +
    "lex index and appends them for later batches") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    import graft.streaming.CorpusStreams
    val tmp = java.nio.file.Files.createTempDirectory("graft_lexstr")
    val dir = new java.io.File(tmp.toFile, "d").toString
    // base corpus: distinct per-doc vocab, 'dup' planted in g%3 docs
    (0 until 10).map { g =>
      (g.toLong, ((1 to 20).map(i => s"g${g}w$i") ++
        Seq.fill(g % 3)("dup")).mkString(" "))
    }.toDF("doc_id", "text").coalesce(1).write
      .parquet(s"$dir/documents.parquet")
    val b0 = Seq(CorpusStreams.Doc(100L, "dup dup alpha beta"),
      CorpusStreams.Doc(101L, "gamma delta"))
    val b1 = Seq(CorpusStreams.Doc(200L, "dup epsilon"),
      CorpusStreams.Doc(201L, "zeta eta"))
    val input = MemoryStream[CorpusStreams.Doc]
    val got = scala.collection.mutable.Map[Long, Seq[(Long, Double)]]()
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val q = CorpusStreams.searchIngestStream(input.toDS(), dir,
      Seq("dup"), maintainIndex = true, streamId = "s1") { (df, id) =>
      got(id) = rowsOf(df)
    }.start()
    try {
      input.addData(b0: _*); q.processAllAvailable()
      input.addData(b1: _*); q.processAllAvailable()
    } finally q.stop()
    // batch 0: only doc 100 carries the monitored term
    assert(got(0L).map(_._1) == Seq(100L) && got(0L).head._2 > 0,
      s"batch-0 emission: ${got(0L)}")
    // batch 1's emission must equal the excludeBatch comparator over
    // the maintained index (the replay-equality law, evaluated from
    // the root session — refresh the cloned-session appends first)
    val (postT, dlT) = graft.operators.Retrieval.ensureLexIndex(spark, dir)
    spark.catalog.refreshTable(postT)
    spark.catalog.refreshTable(dlT)
    val cmp = rowsOf(graft.operators.Retrieval
      .bm25BatchScores(spark, dir, b1.toDF(), Seq("dup"),
        excludeBatch = true).orderBy("doc_id"))
    assert(got(1L) == cmp,
      s"streamed emission != replay view: ${got(1L)} vs $cmp")
    // both batches' arrivals are in the standing corpus ranking now
    val all = graft.operators.Retrieval
      .bm25IndexedScores(spark, dir, Seq("dup"))
      .collect().map(_.getLong(0)).toSet
    assert(all.contains(100L) && all.contains(200L),
      s"appended arrivals missing from the corpus ranking: $all")
  }

  /** Runs `writer` over micro-batches `b0` and `b1`, then simulates a
    * driver crash after batch 1's append and before its checkpoint
    * commit: `commits/1` is deleted and a NEW writer starts over the
    * same MemoryStream and checkpointLocation, so Spark re-runs batch
    * 1 under the same id (the restart mechanics of the "ingest stream
    * with stateDir" test). Returns `state()` before and after the
    * replay. */
  private def replayLastBatch[T, A](input: MemoryStream[T], b0: Seq[T],
      b1: Seq[T])(writer: () => org.apache.spark.sql.streaming
        .DataStreamWriter[T])(state: () => A): (A, A) = {
    val ckpt = java.nio.file.Files.createTempDirectory("graft_replay")
      .resolve("ckpt").toString
    val q1 = writer().option("checkpointLocation", ckpt).start()
    try {
      input.addData(b0); q1.processAllAvailable()
      input.addData(b1); q1.processAllAvailable()
    } finally q1.stop()
    val before = state()
    val commits = new java.io.File(ckpt, "commits")
    Seq("1", ".1.crc").foreach(n => new java.io.File(commits, n).delete())
    assert(!new java.io.File(commits, "1").exists())
    val q2 = writer().option("checkpointLocation", ckpt).start()
    try q2.processAllAvailable() finally q2.stop()
    (before, state())
  }

  /** The applied-batch list of `dir`'s index in family `prefix`. */
  private def appliedBatches(prefix: String, dir: String): Seq[(String, Long)] =
    graft.operators.PersistedIndex.read(spark,
      graft.operators.PersistedIndex.Spec(prefix, prefix, dir, Nil))
      .map(_._2).getOrElse(Nil)

  /** The replay law: batch 1 ran twice and emitted the same rows both
    * times, and the index's applied-batch list (which holds both
    * batches' tags) is unchanged by the replay. */
  private def assertReplayed[E](got: Seq[(Long, E)], streamId: String,
      before: Seq[(String, Long)], after: Seq[(String, Long)]): Unit = {
    assert(got.map(_._1) == Seq(0L, 1L, 1L),
      s"batch 1 did not re-run exactly once: ${got.map(_._1)}")
    assert(got(1)._2 == got(2)._2,
      s"replayed emission ${got(2)._2} != original ${got(1)._2}")
    assert(Set(s"${streamId}_0", s"${streamId}_1")
      .subsetOf(before.map(_._1).toSet), s"batches not appended: $before")
    assert(after == before, s"replay changed the applied batches: $after")
  }

  private def emitted(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  test("delta dedup stream: a replayed micro-batch emits what it " +
    "emitted before") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    graft.functions.GraftFunctions.register(spark)
    import graft.streaming.CorpusStreams
    def txt(g: Int, variant: Int = 0): String = {
      val toks = (1 to 30).map(i => s"g${g}w$i").toArray
      if (variant != 0) toks(29) = s"g${g}v$variant"
      toks.mkString(" ")
    }
    val tmp = java.nio.file.Files.createTempDirectory("graft_repdd")
    val dir = new java.io.File(tmp.toFile, "d").toString
    Seq(0L -> txt(0), 1L -> txt(1), 2L -> txt(2))
      .toDF("doc_id", "text").coalesce(1).write
      .parquet(s"$dir/documents.parquet")
    // batch 1 pairs with batch 0 (400 ~ 301) and within itself
    // (402 ~ 401): without the replay view the re-run would fail the
    // disjointness guard on its own appended docs
    val h1 = Seq(CorpusStreams.Doc(300L, txt(0, 1)),
      CorpusStreams.Doc(301L, txt(9)))
    val h2 = Seq(CorpusStreams.Doc(400L, txt(9, 1)),
      CorpusStreams.Doc(401L, txt(10)), CorpusStreams.Doc(402L, txt(10, 1)))
    val got = scala.collection.mutable.ListBuffer.empty[(Long, Seq[Seq[Any]])]
    val input = MemoryStream[CorpusStreams.Doc]
    val (before, after) = replayLastBatch(input, h1, h2) { () =>
      CorpusStreams.deltaDedupStream(input.toDS(), dir,
        maintainIndex = true, streamId = "rd") { (df, id) =>
        got += id -> emitted(df)
      }
    } { () => appliedBatches("graft_shidx", dir) }
    assert(got(1)._2.size == 2, s"batch 1 must emit two pairs: $got")
    assertReplayed(got.toSeq, "rd", before, after)
  }

  test("ann stream: a replayed micro-batch emits what it emitted before") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    graft.functions.GraftFunctions.register(spark)
    import graft.streaming.CorpusStreams
    def vec(seed: Long): Array[Float] = {
      val r = new scala.util.Random(seed)
      Array.fill(64)(r.nextFloat() * 2 - 1)
    }
    val tmp = java.nio.file.Files.createTempDirectory("graft_repann")
    val dir = new java.io.File(tmp.toFile, "d").toString
    (0L until 150L).map(i => (i, vec(i)))
      .toDF("vec_id", "embedding").coalesce(1).write
      .parquet(s"$dir/embeddings.parquet")
    // 3000 copies batch 0's 2000 and 3001 copies 3000: without the
    // replay view each would also find the other as its own batch's
    // appended neighbour
    val h1 = Seq(CorpusStreams.Vec(2000L, vec(777L)))
    val h2 = Seq(CorpusStreams.Vec(3000L, vec(777L)),
      CorpusStreams.Vec(3001L, vec(777L)))
    val got = scala.collection.mutable.ListBuffer.empty[(Long, Seq[Seq[Any]])]
    val input = MemoryStream[CorpusStreams.Vec]
    val (before, after) = replayLastBatch(input, h1, h2) { () =>
      CorpusStreams.annStream(input.toDS(), dir,
        maintainIndex = true, streamId = "ra") { (df, id) =>
        got += id -> emitted(df)
      }
    } { () => appliedBatches("graft_ivf", dir) }
    assert(!got(1)._2.exists(r => r(0) == 3000L && r(1) == 3001L),
      s"batch 1 saw its own rows: ${got(1)._2}")
    assertReplayed(got.toSeq, "ra", before, after)
  }

  test("search ingest stream: a replayed micro-batch emits what it " +
    "emitted before") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    import graft.streaming.CorpusStreams
    val tmp = java.nio.file.Files.createTempDirectory("graft_replex")
    val dir = new java.io.File(tmp.toFile, "d").toString
    (0 until 10).map { g =>
      (g.toLong, ((1 to 20).map(i => s"g${g}w$i") ++
        Seq.fill(g % 3)("dup")).mkString(" "))
    }.toDF("doc_id", "text").coalesce(1).write
      .parquet(s"$dir/documents.parquet")
    // batch 1's own 'dup' docs move df, n_docs and avgdl if the replay
    // counted them
    val b0 = Seq(CorpusStreams.Doc(100L, "dup dup alpha beta"),
      CorpusStreams.Doc(101L, "gamma delta"))
    val b1 = Seq(CorpusStreams.Doc(200L, "dup epsilon"),
      CorpusStreams.Doc(201L, "dup dup dup zeta eta"))
    val got = scala.collection.mutable.ListBuffer.empty[(Long, Seq[Seq[Any]])]
    val input = MemoryStream[CorpusStreams.Doc]
    val (before, after) = replayLastBatch(input, b0, b1) { () =>
      CorpusStreams.searchIngestStream(input.toDS(), dir, Seq("dup"),
        maintainIndex = true, streamId = "rs") { (df, id) =>
        got += id -> emitted(df)
      }
    } { () => appliedBatches("graft_lexidx", dir) }
    assert(got(1)._2.map(_.head) == Seq(200L, 201L),
      s"batch-1 emission: ${got(1)._2}")
    assertReplayed(got.toSeq, "rs", before, after)
  }

  test("semantic ingest stream: a replayed micro-batch emits the same " +
    "pairs and leaves the cumulative labels unchanged") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    graft.functions.GraftFunctions.register(spark)
    import graft.streaming.CorpusStreams
    def vec(seed: Long): Array[Float] = {
      val r = new scala.util.Random(seed)
      Array.fill(64)(r.nextFloat() * 2 - 1)
    }
    val tmp = java.nio.file.Files.createTempDirectory("graft_repsem")
    val dir = new java.io.File(tmp.toFile, "d").toString
    val sd = new java.io.File(tmp.toFile, "s").toString
    (0L until 150L).map(i => (i, vec(i)))
      .toDF("vec_id", "embedding").coalesce(1).write
      .parquet(s"$dir/embeddings.parquet")
    // the cross-batch chain 5 <- 2000 <- 3000, plus 3001 ~ 3000 inside
    // batch 1 (a pair the replay must not double through its own rows)
    val h1 = Seq(CorpusStreams.Vec(2000L, vec(5L)),
      CorpusStreams.Vec(2001L, vec(888L)))
    val h2 = Seq(CorpusStreams.Vec(3000L, vec(5L)),
      CorpusStreams.Vec(3001L, vec(5L)))
    val got = scala.collection.mutable.ListBuffer
      .empty[(Long, Seq[(Long, Long, Double)])]
    val labels = scala.collection.mutable.Map.empty[Long, Long]
    val input = MemoryStream[CorpusStreams.Vec]
    val (before, after) = replayLastBatch(input, h1, h2) { () =>
      CorpusStreams.semanticIngestStream(input.toDS(), dir, tau = 0.99,
        streamId = "rc", stateDir = Some(sd)) { (pairs, changed, id) =>
        got += id -> pairs
        changed.foreach(u => labels(u.node) = u.lbl)
      }
    } { () => (appliedBatches("graft_ivf", dir), labels.toMap) }
    assert(got(1)._2.exists(p => p._1 == 3000L && p._2 == 2000L),
      s"cross-batch link missing: ${got(1)._2}")
    assert(before._2.get(3000L).contains(5L),
      s"chain not merged before the replay: ${before._2}")
    assertReplayed(got.toSeq, "rc", before._1, after._1)
    assert(after._2 == before._2,
      s"replay changed the cumulative labels: ${after._2}")
  }
}
