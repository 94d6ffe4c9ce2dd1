package graft

import graft.pipeline.{Export, HttpRestClient, LiveExport, Restore, TreeCodec}
import org.apache.spark.sql.functions.col

/** Incremental backup: the snapshot-diff operator and its restore.
  * Laws: (1) diff classifies exactly and drops the unchanged rows;
  * (2) prev + restoreDiff(diff) == cur against a live stub, including
  * deletes via null-PATCH; (3) diff(x, x) is empty. */
class IncrementalSpec extends SparkSuite {

  private def frame(rows: Seq[(String, String, String)]) = {
    val sp = spark; import sp.implicits._
    rows.toDF("path", "key", "value_json")
  }

  test("diffBackups classifies added/removed/changed, drops unchanged") {
    val prev = frame(Seq(
      ("/a", "k1", "1"), ("/a", "k2", "2"), ("/a", "k3", "3"),
      ("/b", "k1", "\"x\"")))
    val cur = frame(Seq(
      ("/a", "k1", "1"),            // unchanged
      ("/a", "k2", "22"),           // changed
      // k3 removed
      ("/a", "k4", "4"),            // added
      ("/b", "k1", "\"y\"")))       // changed
    val got = Export.diffBackups(prev, cur)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        Option(r.getString(3)), Option(r.getString(4)))).toSet
    assert(got == Set(
      ("/a", "k2", "changed", Some("2"), Some("22")),
      ("/a", "k3", "removed", Some("3"), None),
      ("/a", "k4", "added", None, Some("4")),
      ("/b", "k1", "changed", Some("\"x\""), Some("\"y\""))))
  }

  test("diff of identical snapshots is empty") {
    val snap = frame(Seq(("/a", "k1", "1"), ("/b", "k2", "[1,2]")))
    assert(Export.diffBackups(snap, snap).count() == 0L)
  }

  test("value-fetch join form is results-invariant across the " +
    "broadcast size gate (r20: keyset broadcast under " +
    "DiffBroadcastMaxKeys, shuffle join past it)") {
    val prev = frame(Seq(
      ("/a", "k1", "1"), ("/a", "k2", "2"), ("/a", "k3", "3"),
      ("/b", "k1", "\"x\"")))
    val cur = frame(Seq(
      ("/a", "k1", "1"), ("/a", "k2", "22"), ("/a", "k4", "4"),
      ("/b", "k1", "\"y\"")))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        Option(r.getString(3)), Option(r.getString(4)))).toSet
    val bcast = rows(Export.diffBackups(prev, cur)) // 4 keys <= cap
    val shuffled = rows(Export.diffBackups(prev, cur,
      broadcastMaxKeys = 0L)) // force the over-cap shuffle branch
    assert(bcast == shuffled && bcast.size == 4)
  }

  test("restoreDiff brings a live destination from prev to cur") {
    val stub = new FirebaseStub()
    try {
      // destination currently holds the PREV snapshot
      stub.seed("""{"users": {"u1": 1, "u2": 2, "u3": 3},
                    "cfg": {"mode": "old"}}""")
      val prev = frame(Seq(
        ("/users", "u1", "1"), ("/users", "u2", "2"), ("/users", "u3", "3"),
        ("/cfg", "mode", "\"old\"")))
      val cur = frame(Seq(
        ("/users", "u1", "1"),          // unchanged: must not be PATCHed
        ("/users", "u2", "20"),         // changed
        ("/users", "u4", "4"),          // added
        ("/cfg", "mode", "\"new\"")))   // changed; u3 removed
      val before = stub.patchCount.get()
      Restore.restoreDiff(Export.diffBackups(prev, cur),
        new Restore.HttpKVSink(stub.url))
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val root = mapper.readTree(stub.snapshot())
      assert(root.get("users").get("u1").asInt() == 1)
      assert(root.get("users").get("u2").asInt() == 20)
      assert(!root.get("users").has("u3"), "removed key not deleted")
      assert(root.get("users").get("u4").asInt() == 4)
      assert(root.get("cfg").get("mode").asText() == "new")
      // incremental contract: only the changed paths PATCH (2 paths),
      // never one PATCH per row of the full snapshot
      assert(stub.patchCount.get() - before <= 2)
    } finally stub.stop()
  }

  test("restoreDiff keeps keys that turn between scalar and object, " +
    "whatever order the diff rows come in") {
    // a: object -> scalar, b: scalar -> object, c: unchanged. Each
    // change is a null PATCH at one path plus a write at the parent or
    // child path; a null PATCH that lands after its write deletes the
    // new value.
    val prevJson = """{"a": {"x": 1}, "b": 2, "c": {"k": 1}}"""
    val curJson = """{"a": 5, "b": {"y": 3}, "c": {"k": 1}}"""
    def edges(json: String) = frame(TreeCodec.flatten(json)
      .map(e => (e.path, e.key, e.valueJson)))
    val diff = Export.diffBackups(edges(prevJson), edges(curJson))
    Seq("writes first" -> col("new_value").isNull,
        "deletes first" -> col("new_value").isNotNull).foreach {
      case (order, sortKey) =>
        val stub = new FirebaseStub()
        try {
          stub.seed(prevJson)
          val rows = diff.orderBy(sortKey).coalesce(1)
          Restore.restoreDiff(rows, new Restore.HttpKVSink(stub.url))
          assert(TreeCodec.jsonEqual(stub.snapshot(), curJson),
            s"$order: ${stub.snapshot()}")
        } finally stub.stop()
    }
  }

  test("restoreDiff law: random tree pairs, writes-first row order") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // a three-key alphabet, so prev and cur share locations and keys
    // often turn between scalar and object, at any depth
    def node(depth: Int): Gen[String] =
      if (depth <= 0) Gen.choose(0, 9).map(_.toString)
      else Gen.frequency(1 -> Gen.choose(0, 9).map(_.toString), 2 -> obj(depth))
    def obj(depth: Int): Gen[String] =
      Gen.atLeastOne("a", "b", "c").flatMap { keys =>
        Gen.sequence[List[String], String](keys.toList.map(k =>
          node(depth - 1).map(v => s""""$k": $v""")))
      }.map(_.mkString("{", ",", "}"))
    val pair = for { prev <- obj(3); cur <- obj(3) } yield (prev, cur)
    def leaves(json: String) = TreeCodec.flatten(json).toSet
    var seed = Seed(20261017L)
    (1 to 20).foreach { round =>
      val (prevJson, curJson) =
        pair.apply(Gen.Parameters.default, seed).getOrElse(sys.error("gen failed"))
      seed = seed.next
      def edges(json: String) = frame(TreeCodec.flatten(json)
        .map(e => (e.path, e.key, e.valueJson)))
      val diff = Export.diffBackups(edges(prevJson), edges(curJson))
        .orderBy(col("new_value").isNull).coalesce(1)
      val stub = new FirebaseStub()
      try {
        stub.seed(prevJson)
        Restore.restoreDiff(diff, new Restore.HttpKVSink(stub.url))
        // the stub keeps emptied objects; Firebase has none, and
        // flatten drops them
        assert(leaves(stub.snapshot()) == leaves(curJson),
          s"round $round: prev $prevJson cur $curJson got ${stub.snapshot()}")
      } finally stub.stop()
    }
  }

  test("round-trip: export, mutate, diff against re-export is exact") {
    val stub = new FirebaseStub()
    try {
      stub.seed("""{"t": {"a": 1, "b": 2, "c": 3}}""")
      val u = stub.url
      // export returns a materialized snapshot: snap1 must not see the
      // mutation below
      val snap1 = LiveExport.export(spark, () => new HttpRestClient(u))
      // mutate the live db: change b, delete c, add d
      val sink = new Restore.HttpKVSink(u)
      sink.update("/t", Map("b" -> "22", "c" -> "null", "d" -> "4"))
      val snap2 = LiveExport.export(spark, () => new HttpRestClient(u))
      val diff = Export.diffBackups(snap1, snap2).collect()
        .map(r => (r.getString(1), r.getString(2))).toSet
      assert(diff == Set(("b", "changed"), ("c", "removed"), ("d", "added")))
    } finally stub.stop()
  }
}
