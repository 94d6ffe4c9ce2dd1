package graft

import graft.pipeline.{Export, HttpRestClient, LiveExport, Restore,
  RestClient, RestResponse, TreeCodec}
import org.apache.spark.sql.functions.col

import java.nio.file.Files

/** The live HTTP pair — LiveExport's C1-C3 pagination against a stub
  * Firebase server, HttpKVSink's PATCH restore, and the full
  * export -> parquet -> restore round-trip over the wire (the
  * reference's whole lifecycle, BackupProcessor + RestoreProcessor,
  * with Spark in the middle). */
class LiveSpec extends SparkSuite {

  private val wideTree: String = {
    // 120 keys at /users so ipp=16 needs several pages; a nested branch
    // and scalar leaves so flattening is exercised
    val users = (1 to 120).map(i =>
      s""""u${"%03d".format(i)}": {"name": "user$i", "score": $i}""")
      .mkString(",")
    s"""{"users": {$users},
        "config": {"mode": "live", "depth": {"a": 1, "b": 2}},
        "version": 7}"""
  }

  /** The planner fixture: /fat's 30 children are each ~400 bytes, so
    * even a floor page of /fat exceeds a 600-byte cap while every child
    * pages whole. */
  private val fatTree: String = {
    val kids = (0 until 30).map(i =>
      s""""c$i": {"k1": "${"x" * 180}", "k2": "${"y" * 180}"}""")
      .mkString(",")
    s"""{"fat": {$kids}, "tiny": 1, "cfg": {"m": "a"}}"""
  }

  private def edgesOf(json: String): Set[TreeCodec.Edge] =
    TreeCodec.flatten(json).toSet

  test("walker fetches a whole tree page by page (C1 keyset pagination)") {
    val stub = new FirebaseStub()
    try {
      stub.seed(wideTree)
      val walker = new LiveExport.Walker(
        new HttpRestClient(stub.url), maxIpp = 16)
      val got = (walker.fetchTree("/users") ++ walker.fetchTree("/config") ++
        walker.fetchTree("/version")).toSet
      assert(got == edgesOf(wideTree))
      // keyset pagination really paged: 120 keys / 16-ipp pages means
      // at least 8 GETs for /users alone
      assert(stub.getCount.get() >= 8)
    } finally stub.stop()
  }

  test("payload-too-large shrinks the page size, then succeeds (C2)") {
    // each user entry is ~40 bytes; cap pages at ~300 bytes so ipp=1000
    // must halve several times before pages fit
    val stub = new FirebaseStub(maxPayloadBytes = 300)
    try {
      stub.seed(wideTree)
      val walker = new LiveExport.Walker(new HttpRestClient(stub.url))
      val got = walker.fetchTree("/users").toSet
      assert(got == edgesOf(wideTree).filter(_.path.startsWith("/users")))
    } finally stub.stop()
  }

  test("root_start_ipp seeds the first page size (reference knob)") {
    // ExportCommand.php:45 / BackupProcessor.php:44-46: the user can
    // seed the initial IPP so a known-too-big default skips its halve
    // churn. Record every limitToFirst the walker sends.
    val stub = new FirebaseStub()
    try {
      stub.seed(wideTree)
      val limits = scala.collection.mutable.ArrayBuffer.empty[Int]
      val recording = new graft.pipeline.RestClient {
        private val inner = new HttpRestClient(stub.url)
        override def getR(path: String, query: Map[String, String])
            : graft.pipeline.RestResponse = {
          query.get("limitToFirst").foreach(l => limits += l.toInt)
          inner.getR(path, query)
        }
        override def patch(path: String, body: String): Boolean =
          inner.patch(path, body)
      }
      val walker = new LiveExport.Walker(recording, startIpp = Some(16))
      val got = walker.fetchTree("/users").toSet
      assert(got == edgesOf(wideTree).filter(_.path.startsWith("/users")))
      assert(limits.head == 16, s"first page used ${limits.head}, not the seed")
      // adaptive growth takes over from the seed (GrowAfter straight
      // successes at 16 -> x1.2), exactly the reference's bookkeeping
      assert(limits.forall(_ >= 16))
      // seed is clamped into [MinIpp, maxIpp]
      val clamped = new LiveExport.Walker(recording, maxIpp = 8,
        startIpp = Some(5000))
      limits.clear()
      clamped.fetchTree("/users")
      assert(limits.head == 8)
    } finally stub.stop()
  }

  test("max_ipp below the walker's floor fails on the driver before any request") {
    // at max_ipp = 1, growth capped pages at one item, and a one-item
    // page after an inclusive startAt holds only the cursor key: the
    // walker read it as the last page and returned 7 of 50 edges
    val flat = (0 until 50).map(i => s""""k$i": $i""").mkString(",")
    val json = s"""{"flat": {$flat}}"""
    val stub = new FirebaseStub()
    try {
      stub.seed(json)
      val u = stub.url
      def chain(t: Throwable): String =
        if (t == null) "" else s"${t.getMessage}\n${chain(t.getCause)}"
      val floor = s"max_ipp must be at least ${LiveExport.MinIpp}"
      val walkerErr = intercept[IllegalArgumentException] {
        new LiveExport.Walker(new HttpRestClient(u), maxIpp = 1)
      }
      assert(walkerErr.getMessage.contains(floor), walkerErr.getMessage)
      val exportErr = intercept[IllegalArgumentException] {
        LiveExport.export(spark, () => new HttpRestClient(u), maxIpp = 1)
      }
      assert(exportErr.getMessage.contains(floor), exportErr.getMessage)
      val sourceErr = intercept[Exception] {
        spark.read.format("firebase").option("url", u)
          .option("maxIpp", "1").load().collect()
      }
      assert(chain(sourceErr).contains(floor), chain(sourceErr))
      assert(stub.getCount.get() == 0,
        s"a bad max_ipp sent ${stub.getCount.get()} requests before failing")
      // the floor itself walks the whole node
      val got = new LiveExport.Walker(new HttpRestClient(u),
        maxIpp = LiveExport.MinIpp).fetchTree("/flat").toSet
      assert(got == edgesOf(json))
    } finally stub.stop()
  }

  test("a child too fat for the floor triggers go-deeper recursion (C3)") {
    // /big/fat is one child whose serialized size exceeds the payload
    // cap, so even a MIN_IPP page at /big fails -> shallow listing ->
    // descend into /big/fat where the small leaves page fine
    val fat = (1 to 200).map(i => s""""k$i": "${"x" * 10}$i"""").mkString(",")
    val json = s"""{"big": {"fat": {$fat}, "thin": 1}, "tiny": 2}"""
    val stub = new FirebaseStub(maxPayloadBytes = 600)
    try {
      stub.seed(json)
      val walker = new LiveExport.Walker(new HttpRestClient(stub.url))
      val got = walker.fetchTree("/big").toSet
      assert(got == edgesOf(json).filter(_.path.startsWith("/big")))
    } finally stub.stop()
  }

  test("KeyOrdering mirrors Firebase's nameCompare integer rule") {
    val ord = LiveExport.KeyOrdering
    // integers first (numeric, '-' ok, leading zeros ok), then strings
    // lexicographically. "+5" is a STRING key to Firebase — Scala's
    // toIntOption alone would sort it among the integers and re-create
    // the resume-skip bug for its subtree. Equal values tie-break by
    // length ("1" before "01", "0" before "-0"), the server's rule.
    assert(Seq("x", "10", "+5", "2", "-3", "01", "1").sorted(ord) ==
      Seq("-3", "1", "01", "2", "10", "+5", "x"))
    assert(Seq("-0", "0").sorted(ord) == Seq("0", "-0"))
    // 32-bit bounds: 2^31 is a string key, -2^31 an integer key
    assert(Seq("2147483648", "-2147483648", "5").sorted(ord) ==
      Seq("-2147483648", "5", "2147483648"))
    assert(Seq("007", "7", "07").sorted(ord) == Seq("7", "07", "007"))
    // non-ASCII Unicode digits are STRING keys: '٥' (ARABIC-INDIC
    // FIVE) parses as 5 via Integer.parseInt, but Firebase's
    // nameCompare digit class is ASCII-only — a client sorting it
    // among the integers re-creates the resume-skip subtree loss
    assert(Seq("٥", "5", "x").sorted(ord) == Seq("5", "x", "٥"))
    // zero-padding: the adopted authority is the JS SDK's
    // ^-?(0*)\d{1,10}$ (unlimited leading zeros); Firebase's Java/ObjC
    // SDKs cap key length at 11 chars, so '000000000001' is an integer
    // here but a string there — documented divergence, JS rule chosen
    assert(Seq("000000000001", "0000000000012", "2").sorted(ord) ==
      Seq("000000000001", "2", "0000000000012"))
  }

  test("go-deeper resume respects Firebase integer-first key order") {
    // keys "1","2","10","+5","x" cursor-order as 1,2,10,+5,x (32-bit-
    // integer keys first, numerically; "+5" is a STRING key). A
    // lexicographic client sort (1,10,2,x)
    // resumes at "10" after descending "1" and the server cursor then
    // skips key "2"'s subtree entirely — silent data loss. Each child
    // is fat enough that /mix itself always go-deepers.
    // '٥' (ARABIC-INDIC FIVE) is a STRING key sorting after "x": a
    // client using bare toIntOption would sort it among the integers
    // (value 5) and the resume cursor would skip subtrees around it
    val blob = (1 to 40).map(i => s""""k$i": "${"v" * 12}"""").mkString(",")
    val json = s"""{"mix": {"1": {$blob}, "2": {$blob}, "10": {$blob},
                   "+5": {$blob}, "x": {$blob}, "٥": {$blob}}}"""
    val stub = new FirebaseStub(maxPayloadBytes = 400)
    try {
      stub.seed(json)
      val walker = new LiveExport.Walker(new HttpRestClient(stub.url),
        sleep = _ => ())
      val got = walker.fetchTree("/mix").toSet
      assert(got == edgesOf(json),
        s"missing: ${edgesOf(json) -- got}")
    } finally stub.stop()
  }

  test("go-deeper resumes at a key holding backslashes and quotes") {
    // /mix's children in cursor order: a, b (fat), k\\m, k\\z, q"r, z.
    // After descending into b the walker resumes at k\\m. Sent
    // unescaped, the server reads the cursor "k\\m" as the JSON string
    // k\m, which sorts after k\\m and k\\z, so both would be skipped.
    val blob = (1 to 40).map(i => s""""k$i": "${"v" * 12}"""").mkString(",")
    val json = s"""{"mix": {"a": 1, "b": {$blob}, "k\\\\\\\\m": 2,
                   "k\\\\\\\\z": 3, "q\\"r": {"s": 4}, "z": 5}}"""
    assert(TreeCodec.flatten(json).map(_.key).contains("k\\\\m"))
    val stub = new FirebaseStub(maxPayloadBytes = 400)
    try {
      stub.seed(json)
      val walker = new LiveExport.Walker(new HttpRestClient(stub.url),
        sleep = _ => ())
      val got = walker.fetchTree("/mix")
      def sorted(es: Seq[TreeCodec.Edge]) = es.sortBy(e => (e.path, e.key))
      assert(sorted(got) == sorted(TreeCodec.flatten(json)))
      // the cursor went out as the JSON string for k\\m
      val mixQueries = stub.getRequests.collect { case ("/mix", q) =>
        java.net.URLDecoder.decode(q, "UTF-8") }
      assert(mixQueries.exists(_.contains("startAt=\"k\\\\\\\\m\"")))
    } finally stub.stop()
  }

  test("empty database exports an empty frame instead of failing") {
    // a 200 null/{} shallow answer is DEFINITIVE — retrying a correct
    // 'nothing here' ~33s and then aborting would turn an empty (or
    // concurrently-deleted) path into a BackupFailure
    val stub = new FirebaseStub()
    try {
      stub.seed("{}")
      val delays = scala.collection.mutable.ArrayBuffer.empty[Long]
      val walker = new LiveExport.Walker(new HttpRestClient(stub.url),
        sleep = delays += _)
      assert(walker.shallowKeys("/") == Vector.empty)
      assert(delays.isEmpty, s"empty answer slept: $delays")
      val u = stub.url
      val df = LiveExport.export(spark, () => new HttpRestClient(u))
      assert(df.collect().isEmpty)
    } finally stub.stop()
  }

  test("data whose child key is literally 'error' exports as data") {
    // a page of such a node answers {"error": <value>} with HTTP 200 —
    // indistinguishable from an error payload by body shape alone; the
    // walker must classify by status, not shape
    val json = """{"config": {"error": "none", "mode": "live"}}"""
    val stub = new FirebaseStub()
    try {
      stub.seed(json)
      val walker = new LiveExport.Walker(new HttpRestClient(stub.url),
        sleep = _ => ())
      assert(walker.fetchTree("/config").toSet == edgesOf(json))
    } finally stub.stop()
  }

  test("keys with URI-illegal characters round-trip through the client") {
    // Firebase forbids only . $ # [ ] / in keys — spaces and unicode
    // are legal and must be percent-encoded per path segment, not
    // crash URI construction
    val json = """{"my app": {"key one": "v1", "kéy": "v2"}}"""
    val stub = new FirebaseStub()
    try {
      stub.seed(json)
      val walker = new LiveExport.Walker(new HttpRestClient(stub.url),
        sleep = _ => ())
      assert(walker.fetchTree("/my app").toSet == edgesOf(json))
    } finally stub.stop()
  }

  /** One walker per failure mode of the first `n` shallow listings of
    * `/big` (and of its first `pages` page GETs, where the client
    * injects the fault): the server answers 503, a proxy answers an
    * HTML 502, or the transport throws IOException. The check is told
    * whether the failure was in transport. */
  private def shallowFailing(json: String, n: Int, pages: Int = 0)(
      check: (LiveExport.Walker, Boolean) => Unit): Unit =
    Seq("503", "502", "reset").foreach { mode =>
      val stub = new FirebaseStub(maxPayloadBytes = 600,
        failShallow = if (mode == "503") n else 0)
      try {
        stub.seed(json)
        val client =
          if (mode == "503") new HttpRestClient(stub.url)
          else FaultyClient(stub.url, s"big-$mode-${System.nanoTime()}",
            "/big", pages, n, html = mode == "502")
        check(new LiveExport.Walker(client, sleep = _ => ()), mode == "reset")
      } finally stub.stop()
    }

  test("shallow listing failing 10x raises BackupFailure (retry cap)") {
    // go-deeper needs shallow keys; the listing fails 10 times, after
    // /big's page GETs failed for their size, or failed for good
    val fat = (1 to 200).map(i => s""""k$i": "${"x" * 10}$i"""").mkString(",")
    Seq(0, Int.MaxValue).foreach { pages =>
      shallowFailing(s"""{"big": {"fat": {$fat}}}""", 10, pages) {
        (walker, transport) =>
          val e = intercept[LiveExport.BackupFailure] { walker.fetchTree("/big") }
          assert(e.getCause.isInstanceOf[java.io.IOException] == transport,
            s"pages=$pages, cause: ${e.getCause}")
      }
    }
  }

  test("shallow listing recovering within 10 tries succeeds") {
    val fat = (1 to 200).map(i => s""""k$i": "${"x" * 10}$i"""").mkString(",")
    val json = s"""{"big": {"fat": {$fat}}}"""
    shallowFailing(json, 9) { (walker, _) =>
      assert(walker.fetchTree("/big").toSet == edgesOf(json))
    }
  }

  test("failed page GETs and listings are retried smaller: walk and export stay exact") {
    // each fault is a transport failure or a proxy's HTML 502
    Seq(false, true).foreach { html =>
      def client(url: String, path: String, pages: Int, listings: Int) =
        FaultyClient(url, s"$path-$html-${System.nanoTime()}", path, pages,
          listings, html)
      // the walk: /users' first 12 page GETs fail, so it halves to the
      // floor, goes deeper (its first listing fails too), and resumes
      // paging once the faults stop
      val stub = new FirebaseStub()
      try {
        stub.seed(wideTree)
        val c = client(stub.url, "/users", 12, 1)
        val got = new LiveExport.Walker(c, sleep = _ => ()).fetchTree("/users")
        assert(got.toSet == edgesOf(wideTree).filter(_.path.startsWith("/users")),
          s"html=$html")
        assert(FaultyClient.seen(c.id, "page") > 12 &&
          FaultyClient.seen(c.id, "listing") == 2, s"html=$html")
      } finally stub.stop()
      // a scalar whose page GETs all fail goes deeper, and its listing
      // answers the leaf
      val leafStub = new FirebaseStub()
      try {
        leafStub.seed(fatTree)
        val c = client(leafStub.url, "/tiny", Int.MaxValue, 0)
        val got = new LiveExport.Walker(c, sleep = _ => ()).fetchTree("/tiny")
        assert(got == Seq(TreeCodec.Edge("/", "tiny", "1")), s"html=$html")
        assert(FaultyClient.seen(c.id, "listing") == 1, s"html=$html")
      } finally leafStub.stop()
      // the export: the root listing fails 3 times; /fat's probe and 2
      // listings fail while planning splits it; /cfg's failed probe
      // splits it into its scalar child; the scalar /tiny's failed
      // probe lists a leaf, which is walked whole
      Seq(("/", 0, 3), ("/fat", 1, 2), ("/cfg", 1, 0), ("/tiny", 1, 0)).foreach {
        case (path, pages, listings) =>
          val stub = new FirebaseStub(maxPayloadBytes = 600)
          try {
            stub.seed(fatTree)
            val c = client(stub.url, path, pages, listings)
            val df = LiveExport.export(spark, () => c)
            assert(ordered(edgeRows(df)) == ordered(TreeCodec.flatten(fatTree)),
              s"$path, html=$html")
            // every fault was injected
            assert(FaultyClient.seen(c.id, "page") >= pages &&
              FaultyClient.seen(c.id, "listing") >= listings, s"$path, html=$html")
          } finally stub.stop()
      }
    }
  }

  test("distributed export reads the live database into the edge frame") {
    val stub = new FirebaseStub()
    try {
      stub.seed(wideTree)
      val u = stub.url // capture the string, not the stub
      val df = LiveExport.export(spark, () => new HttpRestClient(u))
      val got = df.collect().map(r =>
        TreeCodec.Edge(r.getString(0), r.getString(1), r.getString(2))).toSet
      assert(got == edgesOf(wideTree))
    } finally stub.stop()
  }

  test("HttpKVSink PATCHes batches; drainPath shrinks on rejection") {
    // sink rejects >8-key patches: drainPath must halve down from 50
    val stub = new FirebaseStub(maxPatchKeys = 8)
    try {
      val sink = new Restore.HttpKVSink(stub.url)
      val data = (1 to 50).map(i => s"k$i" -> i.toString).toMap
      Restore.drainPath(sink, "/dst", data, sleep = _ => ())
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val dst = mapper.readTree(stub.snapshot()).get("dst")
      assert(dst.size() == 50)
      assert(dst.get("k17").asInt() == 17)
      // really was batched adaptively, not per-key
      assert(stub.patchCount.get() < 50)
    } finally stub.stop()
  }

  test("array node pages as index-keyed edges (Firebase array encoding)") {
    // /arr is a dense integer-keyed node: the stub answers paginated
    // reads with null-padded ARRAYS, the representation that crashed
    // the object-only walker (fields() empty -> .last threw). 50
    // elements at ipp=16 forces several mid-pagination array pages.
    val elems = (0 until 50).map(i => s""""v$i"""").mkString(",")
    val json = s"""{"arr": [$elems], "z": 1}"""
    val stub = new FirebaseStub()
    try {
      stub.seed(json)
      val walker = new LiveExport.Walker(
        new HttpRestClient(stub.url), maxIpp = 16)
      val got = (walker.fetchTree("/arr") ++ walker.fetchTree("/z")).toSet
      assert(got == edgesOf(json))
      assert(got.contains(TreeCodec.Edge("/arr", "17", "\"v17\"")))
    } finally stub.stop()
  }

  test("go-deeper descends into an array child via index-keyed shallow") {
    // /big's page is too large even at the floor, so the walker
    // shallow-lists /big and descends; /big/fat is an ARRAY whose
    // shallow listing must come back as indices, and whose own pages
    // are arrays
    val elems = (0 until 200).map(i => s""""${"x" * 10}$i"""").mkString(",")
    val json = s"""{"big": {"fat": [$elems], "thin": 1}, "tiny": 2}"""
    val stub = new FirebaseStub(maxPayloadBytes = 600)
    try {
      stub.seed(json)
      val walker = new LiveExport.Walker(new HttpRestClient(stub.url))
      val got = walker.fetchTree("/big").toSet
      assert(got == edgesOf(json).filter(_.path.startsWith("/big")))
    } finally stub.stop()
  }

  test("a null-padded array exports the same edges paged whole or walked into") {
    // the stub serves the seeded array as is: index 0 is Firebase's
    // padding for an absent index, not a child. Uncapped, the array
    // rides inside /x's page; at a 300-byte cap /x's floor page is too
    // large, so the planner (export) and the walker's go-deeper
    // (fetchTree) both fetch /x/arr as a path of its own.
    val json = s"""{"x": {"arr": [null, "a", "b"], "y": "${"y" * 400}"}}"""
    def exportAt(cap: Int): (Set[TreeCodec.Edge], Set[TreeCodec.Edge], Seq[String]) = {
      val stub = new FirebaseStub(maxPayloadBytes = cap)
      try {
        stub.seed(json)
        val u = stub.url
        val exported = edgeRows(LiveExport.export(spark, () => new HttpRestClient(u))).toSet
        val listed = stub.getRequests.collect { case (p, "shallow=true") => p }
        val walked = new LiveExport.Walker(new HttpRestClient(u)).fetchTree("/").toSet
        (exported, walked, listed)
      } finally stub.stop()
    }
    val (whole, wholeWalk, wholeListed) = exportAt(Int.MaxValue)
    val (deeper, deeperWalk, deeperListed) = exportAt(300)
    assert(wholeListed == Seq("/"), s"uncapped export split: $wholeListed")
    assert(deeperListed.contains("/x"), s"capped export did not split /x: $deeperListed")
    val want = Set(TreeCodec.Edge("/x/arr", "1", "\"a\""),
      TreeCodec.Edge("/x/arr", "2", "\"b\""),
      TreeCodec.Edge("/x", "y", "\"" + "y" * 400 + "\""))
    assert(whole == want, s"uncapped: $whole")
    assert(deeper == want, s"capped: $deeper")
    assert(wholeWalk == want && deeperWalk == want)
    assert(TreeCodec.flatten(json).toSet == want)
  }

  test("shallow retries pace out exponentially; happy path never sleeps") {
    val fat = (1 to 200).map(i => s""""k$i": "${"x" * 10}$i"""").mkString(",")
    val json = s"""{"big": {"fat": {$fat}}}"""
    val delays = scala.collection.mutable.ArrayBuffer.empty[Long]
    val stub = new FirebaseStub(maxPayloadBytes = 600, failShallow = 4)
    try {
      stub.seed(json)
      val walker = new LiveExport.Walker(new HttpRestClient(stub.url),
        sleep = delays += _)
      assert(walker.fetchTree("/big").toSet == edgesOf(json))
      // 4 failures -> 4 paced retries: 100, 200, 400, 800 (doubling
      // from Backoff.BaseMs), and nothing after the success
      assert(delays.toList == List(100L, 200L, 400L, 800L))
    } finally stub.stop()

    val quiet = new FirebaseStub()
    try {
      quiet.seed(json)
      val happyDelays = scala.collection.mutable.ArrayBuffer.empty[Long]
      val walker = new LiveExport.Walker(new HttpRestClient(quiet.url),
        sleep = happyDelays += _)
      walker.fetchTree("/big")
      assert(happyDelays.isEmpty, s"happy path slept: $happyDelays")
    } finally quiet.stop()
  }

  test("restore retries pace out; drain schedule resets on success") {
    val delays = scala.collection.mutable.ArrayBuffer.empty[Long]
    var failuresLeft = 3
    val sink = new Restore.KVSink {
      override def update(p: String, b: Map[String, String]): Boolean = {
        if (failuresLeft > 0) { failuresLeft -= 1; false } else true
      }
    }
    Restore.drainPath(sink, "/p",
      (1 to 20).map(i => s"k$i" -> i.toString).toMap, sleep = delays += _)
    assert(delays.toList == List(100L, 200L, 400L))
  }

  test("a fat subtree splits into per-child work items (planner)") {
    // /fat holds ~90% of all keys and each child is large enough that
    // even a floor-sized page of /fat exceeds the payload cap — the
    // case the serial walker go-deepers on, and the case the OLD
    // planner handed to ONE task. plan() must split /fat into its 30
    // children (31+ work items total) so the walk stage spreads it
    // over the cluster; the walked edges must still be exactly the
    // tree's.
    val stub = new FirebaseStub(maxPayloadBytes = 600)
    try {
      stub.seed(fatTree)
      val u = stub.url
      val items = LiveExport.plan(spark,
        () => new LiveExport.Walker(new HttpRestClient(u)))
      assert(items.count(_.startsWith("/fat/")) == 30,
        s"fat subtree not split into its children: $items")
      assert(items.contains("/tiny") && items.contains("/cfg"))
      assert(!items.contains("/fat"))
      // request budget: one shallow GET for the root, one floor-page
      // GET per probed path (/fat, /tiny, /cfg and /fat's 30
      // children), one shallow GET per split path (/fat): 1 + 33 + 1
      val (shallow, pages) = stub.getRequests.partition(_._2 == "shallow=true")
      assert(shallow.map(_._1).sorted == Seq("/", "/fat"))
      assert(pages.map(_._1).sorted ==
        (Seq("/fat", "/tiny", "/cfg") ++ (0 until 30).map(i => s"/fat/c$i")).sorted)
      assert(pages.forall(_._2.contains(s"limitToFirst=${LiveExport.MinIpp}")),
        s"probe not floor-sized: ${pages.map(_._2).distinct}")
      assert(stub.getCount.get() == 35)
      val df = LiveExport.export(spark, () => new HttpRestClient(u))
      val got = df.collect().map(r =>
        TreeCodec.Edge(r.getString(0), r.getString(1), r.getString(2))).toSet
      assert(got == edgesOf(fatTree))
    } finally stub.stop()
  }

  test("HttpKVSink quarantines malformed values; the rest restore") {
    val stub = new FirebaseStub()
    try {
      val acc = spark.sparkContext.longAccumulator("restore_quarantined")
      val sink = new Restore.HttpKVSink(stub.url, None, Some(acc))
      val data = (1 to 20).map(i => s"k$i" -> i.toString).toMap +
        ("bad" -> """{oops""") + // unparseable value_json
        // parses as a complete value then has trailing garbage — a
        // default readTree ACCEPTS this yet it corrupts the PATCH body
        ("trail" -> """{"a":1}garbage""")
      val calls = Restore.drainPath(sink, "/dst", data, sleep = _ => ())
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val dst = mapper.readTree(stub.snapshot()).get("dst")
      assert(dst.size() == 20, "good rows did not restore")
      assert(dst.get("k7").asInt() == 7)
      assert(!dst.has("bad"))
      assert(!dst.has("trail"))
      assert(sink.quarantined.sum() == 2)
      // driver-visible: the count also lands in the Spark accumulator
      assert(acc.value == 2L)
      // no halve-to-1 stall: the whole path drains in one batch call
      assert(calls == 1, s"drain stalled/shrank: $calls calls")
    } finally stub.stop()
  }

  test("DSv2 firebase source matches LiveExport.export row-for-row") {
    val stub = new FirebaseStub()
    try {
      stub.seed(wideTree)
      val u = stub.url
      val df = spark.read.format("firebase").option("url", u).load()
      val viaDsv2 = df.collect().map(r =>
        TreeCodec.Edge(r.getString(0), r.getString(1), r.getString(2))).toSet
      assert(viaDsv2 == edgesOf(wideTree))
      val viaFn = LiveExport.export(spark,
          () => new HttpRestClient(u)).collect()
        .map(r => TreeCodec.Edge(r.getString(0), r.getString(1),
          r.getString(2))).toSet
      assert(viaDsv2 == viaFn)
      // one InputPartition per top-level subtree (users, config, version)
      assert(df.rdd.getNumPartitions == 3)
    } finally stub.stop()
  }

  test("DSv2 planning splits a fat subtree into per-child partitions") {
    val kids = (0 until 30).map(i =>
      s""""c$i": {"k1": "${"x" * 180}", "k2": "${"y" * 180}"}""")
      .mkString(",")
    val json = s"""{"fat": {$kids}, "tiny": 1}"""
    val stub = new FirebaseStub(maxPayloadBytes = 600)
    try {
      stub.seed(json)
      val df = spark.read.format("firebase").option("url", stub.url).load()
      assert(df.rdd.getNumPartitions == 31) // 30 fat children + /tiny
      val got = df.collect().map(r =>
        TreeCodec.Edge(r.getString(0), r.getString(1), r.getString(2))).toSet
      assert(got == edgesOf(json))
    } finally stub.stop()
  }

  test("DSv2 pushdown: path-pinned key range never fetches below the cursor") {
    // flat record tree: scalar top-level children (the reference's P1
    // shape) plus one container BELOW the range — pruning it is sound
    // because the path pin excludes its nested rows anyway
    val flat = (1 to 20).map(i => s""""k${"%02d".format(i)}": $i""")
      .mkString(",")
    val json = s"""{$flat, "a_nested": {"zz": 1}}"""
    val stub = new FirebaseStub()
    try {
      stub.seed(json)
      val df = spark.read.format("firebase").option("url", stub.url).load()
        .filter(col("path") === "/" && col("key") >= "k10")
      val got = df.collect().map(r =>
        TreeCodec.Edge(r.getString(0), r.getString(1), r.getString(2))).toSet
      val want = edgesOf(json)
        .filter(e => e.path == "/" && e.key >= "k10")
      assert(got == want)
      // the pruned children were never requested — the server-side
      // startAt effect (BackupProcessor.php:167-169)
      val below = stub.getPaths.filter(p =>
        p.matches("/k0[1-9].*") || p.startsWith("/a_nested"))
      assert(below.isEmpty, s"fetched below the cursor: $below")
      // and the scan consumed the filters (visible in the plan)
      val scans = df.queryExecution.executedPlan.collectLeaves().collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.scan.asInstanceOf[graft.pipeline.FirebaseScan]
      }
      assert(scans.nonEmpty && scans.head.pushedFilters().length == 2,
        s"pushed=${scans.map(_.pushedFilters().toSeq)}")
    } finally stub.stop()
  }

  test("DSv2 pushdown: path prefix prunes sibling subtrees") {
    val stub = new FirebaseStub()
    try {
      stub.seed(wideTree)
      val df = spark.read.format("firebase").option("url", stub.url).load()
        .filter(col("path").startsWith("/config"))
      val got = df.collect().map(r =>
        TreeCodec.Edge(r.getString(0), r.getString(1), r.getString(2))).toSet
      assert(got == edgesOf(wideTree).filter(_.path.startsWith("/config")))
      val strayed = stub.getPaths.filter(p =>
        p.startsWith("/users") || p.startsWith("/version"))
      assert(strayed.isEmpty, s"fetched outside the prefix: $strayed")
    } finally stub.stop()
  }

  test("DSv2 column pruning narrows the scan's emitted schema") {
    val stub = new FirebaseStub()
    try {
      stub.seed(wideTree)
      val df = spark.read.format("firebase").option("url", stub.url).load()
        .select("path", "key")
      val scans = df.queryExecution.executedPlan.collectLeaves().collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.scan.asInstanceOf[graft.pipeline.FirebaseScan]
      }
      assert(scans.nonEmpty &&
        scans.head.readSchema().fieldNames.toSeq == Seq("path", "key"),
        s"scan schema not pruned: ${scans.map(_.readSchema().fieldNames.toSeq)}")
      // values never enter the rows; the walk itself still works
      val got = df.collect().map(r => (r.getString(0), r.getString(1))).toSet
      assert(got == edgesOf(wideTree).map(e => (e.path, e.key)))
    } finally stub.stop()
  }

  test("fetchTreeLimited edge cases: oversize limit walks whole, zero walks none") {
    val stub = new FirebaseStub()
    try {
      stub.seed(wideTree)
      val walker = new LiveExport.Walker(new HttpRestClient(stub.url))
      assert(walker.fetchTreeLimited("/", 1000000).toSet == edgesOf(wideTree))
      val before = stub.getCount.get()
      assert(walker.fetchTreeLimited("/", 0).isEmpty)
      assert(stub.getCount.get() == before, "limit 0 still fetched")
      assert(walker.fetchTreeLimited("/users", 7).size == 7)
    } finally stub.stop()
  }

  test("DSv2 limit pushdown stops the walk, not just the rows") {
    val stub = new FirebaseStub()
    try {
      stub.seed(wideTree)
      // ipp 16 -> /users alone needs ~8 pages for a full walk; with
      // limit(5) pushed, each partition's walker stops after its first
      // page, so /users sees the planning probe + ONE data page
      val df = spark.read.format("firebase").option("url", stub.url)
        .option("maxipp", "16").load().limit(5)
      val rows = df.collect()
      assert(rows.length == 5)
      val all = edgesOf(wideTree)
      assert(rows.forall(r => all.contains(
        TreeCodec.Edge(r.getString(0), r.getString(1), r.getString(2)))))
      val userFetches = stub.getPaths.count(_ == "/users")
      assert(userFetches <= 3,
        s"limit did not stop the walk: $userFetches /users fetches")
    } finally stub.stop()
  }

  test("DSv2 limit pushdown caps planning probes, not just the walk") {
    val stub = new FirebaseStub()
    try {
      stub.seed(wideTree)
      // limit(1): ONE partition suffices (every walkable subtree from
      // the shallow listing emits >= 1 edge), so of the three
      // top-level children only the cursor-first one may be probed
      val rows = spark.read.format("firebase").option("url", stub.url)
        .load().limit(1).collect()
      assert(rows.length == 1)
      val children = stub.getPaths.filter(p =>
        Seq("/users", "/config", "/version").contains(p)).distinct
      assert(children.size <= 1,
        s"planning probed beyond the limit: $children")
    } finally stub.stop()
  }

  test("DSv2 limit planning still splits fat subtrees it must enter") {
    // the planning cap interacts with go-deeper splits: a fat first
    // child is probed (and split) without counting toward the cap;
    // the cap then takes the first WALKABLE work item — one row out,
    // and the sibling subtree is never probed
    val kids = (0 until 30).map(i =>
      s""""c$i": {"k1": "${"x" * 180}", "k2": "${"y" * 180}"}""")
      .mkString(",")
    val json = s"""{"fat": {$kids}, "tiny": 1}"""
    val stub = new FirebaseStub(maxPayloadBytes = 600)
    try {
      stub.seed(json)
      val rows = spark.read.format("firebase").option("url", stub.url)
        .load().limit(1).collect()
      assert(rows.length == 1)
      assert(!stub.getPaths.contains("/tiny"),
        s"probed past the planning cap: ${stub.getPaths.distinct}")
    } finally stub.stop()
  }

  test("pushed filters disable the limit cap (guarded planner invariant)") {
    // The planning cap and per-partition early-stop assume every
    // planned partition contributes >= 1 SURVIVING row — false once
    // residual filters are in play (a kept partition can emit zero
    // matching rows while a cap-pruned one held the matches). Spark
    // today never pushes a limit past a Filter so the pair can't
    // co-occur via the DataFrame API; drive the ScanBuilder directly
    // to pin the explicit guard for a future Spark that does.
    import org.apache.spark.sql.sources.GreaterThanOrEqual
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    val stub = new FirebaseStub()
    try {
      stub.seed("""{"a": {"x1": 1, "x2": 2, "x3": 3},
                    "b": {"y1": 4}, "c": {"z1": 5}}""")
      val opts = new java.util.HashMap[String, String]()
      opts.put("url", stub.url)
      val scan = new graft.pipeline.FirebaseScan(
        graft.pipeline.FirebaseSource.conf(new CaseInsensitiveStringMap(opts)))
      scan.pushFilters(Array(GreaterThanOrEqual("key", "x")))
      assert(scan.pushLimit(1) == false)
      // all three containers MIGHT hold matching keys: with a filter
      // pushed the cap must not stop planning at 1 partition
      val parts = scan.planInputPartitions()
        .map(_.asInstanceOf[graft.pipeline.FirebasePartition].path).toSet
      assert(parts == Set("/a", "/b", "/c"),
        s"limit cap pruned planning despite pushed filters: $parts")
      // and the per-partition walk must not early-stop at 1 edge:
      // /a holds all 3 matches, which Spark's residual filter needs
      val factory = scan.createReaderFactory()
      val reader = factory.createReader(graft.pipeline.FirebasePartition("/a"))
      var n = 0
      while (reader.next()) n += 1
      reader.close()
      assert(n == 3, s"walk early-stopped under a pushed filter: $n rows")
    } finally stub.stop()
  }

  test("DSv2 startat option resumes in cursor order, subtrees whole") {
    // integer keys cursor-order 1,2,10 then string "x"; startat=2 keeps
    // 2,10,x (NOT lexicographic, which would drop "10") and each kept
    // child's subtree exports WHOLE regardless of its leaf keys —
    // the reference's resume semantics, inexpressible as a row filter
    val json = """{"1": {"za": 1}, "2": {"ab": 2}, "10": {"mm": 3},
                   "x": {"qq": 4}}"""
    val stub = new FirebaseStub()
    try {
      stub.seed(json)
      val df = spark.read.format("firebase").option("url", stub.url)
        .option("startat", "2").load()
      val got = df.collect().map(r =>
        TreeCodec.Edge(r.getString(0), r.getString(1), r.getString(2))).toSet
      assert(got == edgesOf(json).filter(_.path != "/1"))
      assert(!stub.getPaths.exists(p => p == "/1" || p.startsWith("/1/")),
        s"fetched below startat: ${stub.getPaths}")
    } finally stub.stop()
  }

  test("live round-trip: HTTP export -> parquet backup -> HTTP restore") {
    val src = new FirebaseStub()
    val dst = new FirebaseStub()
    try {
      src.seed(wideTree)
      val srcUrl = src.url
      val edges = LiveExport.export(spark, () => new HttpRestClient(srcUrl))
      val dir = Files.createTempDirectory("live_rt").toString
      Export.writeBackup(edges, dir)
      val back = Export.readBackup(spark, dir)
      Restore.restore(back, new Restore.HttpKVSink(dst.url))
      assert(TreeCodec.jsonEqual(dst.snapshot(), wideTree))
    } finally { src.stop(); dst.stop() }
  }

  private def edgeRows(df: org.apache.spark.sql.DataFrame): Seq[TreeCodec.Edge] =
    df.collect().toSeq.map(r =>
      TreeCodec.Edge(r.getString(0), r.getString(1), r.getString(2)))

  private def ordered(es: Seq[TreeCodec.Edge]): Seq[TreeCodec.Edge] =
    es.sortBy(e => (e.path, e.key, e.valueJson))

  test("kept-alive connections: one walker reuses its sockets") {
    // a 300-byte cap interleaves 400 answers with the pages, so the
    // error-body path must hand its socket back too
    val stub = new FirebaseStub(maxPayloadBytes = 300)
    try {
      stub.seed(wideTree)
      val walker = new LiveExport.Walker(new HttpRestClient(stub.url))
      assert(walker.fetchTree("/users").toSet ==
        edgesOf(wideTree).filter(_.path.startsWith("/users")))
      val ports = stub.remotePorts
      assert(ports.size >= 8)
      assert(ports.distinct.size < ports.size,
        s"every one of ${ports.size} requests opened a new connection")
    } finally stub.stop()
  }

  test("one-task restores of 120 paths reuse at most Window + 2 sockets") {
    // each restore keeps its task's window of PATCHes in flight (one
    // partition on all the test session's slots: Restore.taskWindow's
    // cap), and all its sockets go idle together when its task ends; a
    // client that keeps at most 5 idle sockets per host
    // (HttpURLConnection's default) opens new ones for the next restore
    val stub = new FirebaseStub()
    try {
      val sp = spark; import sp.implicits._
      val rows = for (p <- 0 until 120; k <- 0 until 3)
        yield (f"/r/p$p%03d", s"k$k", s"${p * 10 + k}")
      val df = rows.toDF("path", "key", "value_json").coalesce(1)
      Restore.restore(df, new Restore.HttpKVSink(stub.url))
      Restore.restore(df, new Restore.HttpKVSink(stub.url))
      assert(TreeCodec.jsonEqual(stub.snapshot(),
        TreeCodec.assemble(rows.map { case (p, k, v) => TreeCodec.Edge(p, k, v) })))
      val ports = stub.remotePorts
      assert(ports.size == 240)
      val window = Restore.taskWindow(spark.sparkContext.defaultParallelism, 1)
      assert(ports.distinct.size <= window + 2,
        s"${ports.distinct.size} sockets for ${ports.size} PATCHes")
    } finally stub.stop()
  }

  test("export + writeBackup fetches every (path, query) once") {
    val stub = new FirebaseStub(maxPayloadBytes = 600)
    try {
      stub.seed(fatTree)
      val u = stub.url
      val dir = Files.createTempDirectory("live_once").toString
      Export.writeBackup(LiveExport.export(spark, () => new HttpRestClient(u)),
        dir)
      val repeats = stub.getRequests.groupBy(identity)
        .collect { case (req, n) if n.size > 1 => req -> n.size }
      assert(repeats.isEmpty,
        s"${repeats.size} requests served more than once, e.g. ${repeats.take(3)}")
      assert(Export.readBackup(spark, dir).count() == edgesOf(fatTree).size)
    } finally stub.stop()
  }

  test("export returns a snapshot: later database writes never show") {
    val stub = new FirebaseStub()
    try {
      stub.seed(wideTree)
      val u = stub.url
      val df = LiveExport.export(spark, () => new HttpRestClient(u))
      stub.seed("""{"other": {"k": 1}}""")
      val before = stub.getCount.get()
      val same = ordered(edgeRows(df)) == ordered(TreeCodec.flatten(wideTree))
      assert(same, "the frame re-read the re-seeded database")
      assert(stub.getCount.get() == before, "collect() walked the database again")
    } finally stub.stop()
  }

  test("random trees: export is exact and plan splits iff the floor page is too large") {
    import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
    import com.fasterxml.jackson.databind.node.ObjectNode
    import graft.pipeline.{FirebasePartition, FirebaseScan, FirebaseSource}
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import scala.jdk.CollectionConverters._

    val mapper = new ObjectMapper()
    val cursor = FirebaseStub.NameCompare
    // the stub's answer to a floor page, rebuilt from the tree itself:
    // the first MinIpp children in cursor order, rendered as JSON
    def floorPageBytes(o: ObjectNode): Int = {
      val page = mapper.createObjectNode()
      o.fieldNames().asScala.toVector.sorted(cursor).take(LiveExport.MinIpp)
        .foreach(k => page.set[JsonNode](k, o.get(k)))
      mapper.writeValueAsString(page).getBytes("UTF-8").length
    }

    var seed = Seed(20261017L)
    var splitRounds = 0
    (1 to 24).foreach { round =>
      val json = RandomTrees.node(3).apply(Gen.Parameters.default, seed)
        .getOrElse(sys.error("gen failed"))
      val cap = Gen.choose(150, 1500).apply(Gen.Parameters.default, seed.next)
        .getOrElse(sys.error("gen failed"))
      seed = seed.next.next
      val tree = mapper.readTree(json).asInstanceOf[ObjectNode]
      val split = scala.collection.mutable.ArrayBuffer.empty[String]
      def expectWork(path: String, n: JsonNode): Seq[String] =
        n match {
          case o: ObjectNode if floorPageBytes(o) > cap =>
            split += path
            o.fieldNames().asScala.toVector.flatMap(k =>
              expectWork(TreeCodec.childPath(path, k), o.get(k)))
          case _ => Seq(path)
        }
      val wantWork = tree.fieldNames().asScala.toVector.flatMap(k =>
        expectWork(TreeCodec.childPath("/", k), tree.get(k)))
      if (split.nonEmpty) splitRounds += 1

      val stub = new FirebaseStub(maxPayloadBytes = cap)
      try {
        stub.seed(json)
        val u = stub.url
        val work = LiveExport.plan(spark,
          () => new LiveExport.Walker(new HttpRestClient(u)))
        val listed = stub.getRequests.collect { case (p, "shallow=true") => p }
        val ctx = s"round $round, cap $cap, tree $json"
        assert(listed.sorted == ("/" +: split.toSeq).sorted, s"split set differs: $ctx")
        assert(work.sorted == wantWork.sorted, s"work list differs: $ctx")
        val got = edgeRows(LiveExport.export(spark, () => new HttpRestClient(u)))
        val same = ordered(got) == ordered(TreeCodec.flatten(json))
        assert(same, s"export differs: $ctx")
        // the DSv2 source plans with the same loop and walks the same way
        val parts = new FirebaseScan(FirebaseSource.conf(
            new CaseInsensitiveStringMap(java.util.Map.of("url", u))))
          .planInputPartitions().map(_.asInstanceOf[FirebasePartition].path)
        assert(parts.toSeq.sorted == work.sorted, s"DSv2 partitions differ: $ctx")
        val rows = edgeRows(spark.read.format("firebase").option("url", u).load())
        assert(ordered(rows) == ordered(TreeCodec.flatten(json)), s"DSv2 rows differ: $ctx")
      } finally stub.stop()
    }
    // the generator must reach both verdicts
    assert(splitRounds > 0 && splitRounds < 24, s"$splitRounds of 24 rounds split")
  }
}

/** An `HttpRestClient` whose first `pages` page GETs and first
  * `listings` shallow listings of `path` fail: the transport throws
  * IOException, as on a connection reset, or with `html` a proxy
  * answers 502 with an HTML page. Serializable, since the export builds
  * one per work item in its tasks; the counts live in the JVM, under
  * `id`. */
final case class FaultyClient(url: String, id: String, path: String,
                              pages: Int, listings: Int, html: Boolean)
    extends RestClient {
  def getR(p: String, query: Map[String, String]): RestResponse = {
    val listing = query.get("shallow").contains("true")
    val budget = if (listing) listings else pages
    if (p == path &&
        FaultyClient.count(id, if (listing) "listing" else "page") <= budget) {
      if (html) RestResponse(502, "<html>Bad Gateway</html>")
      else throw new java.io.IOException("connection reset")
    } else new HttpRestClient(url).getR(p, query)
  }
  def patch(p: String, bodyJson: String): Boolean =
    new HttpRestClient(url).patch(p, bodyJson)
}

object FaultyClient {
  private val counts =
    new java.util.concurrent.ConcurrentHashMap[(String, String), java.util.concurrent.atomic.AtomicInteger]()
  private def counter(id: String, kind: String) =
    counts.computeIfAbsent((id, kind), _ => new java.util.concurrent.atomic.AtomicInteger())
  /** Counts one more GET of `kind` at the faulty path; its 1-based number. */
  def count(id: String, kind: String): Int = counter(id, kind).incrementAndGet()
  /** GETs of `kind` seen at the faulty path. */
  def seen(id: String, kind: String): Int = counter(id, kind).get()
}
