package graft.pipeline

import org.apache.spark.sql.DataFrame

/** The Spark-native `do_restore` (SURVEY.md §7 step 3).
  *
  * The reference replays the backup into Firebase with batched
  * idempotent PATCHes and a shrink/grow/drain loop
  * (RestoreProcessor.php:70-106): batch of up to 1000 key-writes,
  * halve on failure (floor 1 -> per-key recursion, :86-94), grow x1.2
  * after 5 straight successes (:100-102), remove written keys from the
  * pending map (`array_diff_key`, :99) and loop until drained (:105).
  *
  * Spark shape: the data plane is `foreachPartition` — every partition
  * drains independently on its executor, so restore throughput scales
  * with the cluster, not with one PHP process. Inside a task, up to
  * [[taskWindow]] paths drain at once, so a task's wall time is
  * not the sum of its PATCH round trips. The adaptive batching logic
  * is preserved verbatim per path against a pluggable [[KVSink]] (HTTP
  * in production, in-memory in tests — no network in CI, SURVEY.md §7).
  */
object Restore {

  /** Destination abstraction over Firebase's `update(path, map)` PATCH
    * (RestoreProcessor.php:80). Returns true on success. Implementations
    * must be idempotent — the drain loop may retry written keys.
    *
    * Thread safety: [[restore]] drains up to [[taskWindow]] paths
    * of one task at once, so `update` may be called concurrently on one
    * instance for DISTINCT paths. Calls for one path never overlap: a
    * path is drained by one thread at a time, in input order. */
  trait KVSink extends Serializable {
    def update(path: String, batch: Map[String, String]): Boolean
  }

  /** Reference constants (BASELINE.md): initial batch 1000, floor 1,
    * shrink x0.5, grow x1.2 after 5 consecutive successes. */
  val InitialBatch = 1000
  val MinBatch = 1
  val GrowAfter = 5

  /** Drain one path's pending key->value map into the sink with the
    * reference's adaptive loop. Returns the number of update() calls
    * (for tests/metrics).
    *
    * The reference loops until drained with no call cap
    * (RestoreProcessor.php:105); `maxStalled` is our only divergence —
    * a pure no-progress guard, so a healthy path of any size (any
    * number of successful batches) never trips it. It counts
    * *consecutive* update() calls that drained nothing; 64 straight
    * failures even after the batch has shrunk to the floor means the
    * sink is permanently rejecting — the RestoreFailureException
    * analog. */
  def drainPath(sink: KVSink, path: String,
                data: Map[String, String],
                maxStalled: Int = 64,
                sleep: Long => Unit = Thread.sleep): Int = {
    var pending = scala.collection.immutable.SortedMap[String, String]() ++ data
    var batchSize = math.min(InitialBatch, math.max(pending.size, MinBatch))
    var successes = 0
    var calls = 0
    var stalled = 0
    while (pending.nonEmpty) {
      val batch = pending.take(batchSize)
      calls += 1
      if (sink.update(path, batch.toMap)) {
        pending = pending.drop(batch.size) // the array_diff_key drain
        stalled = 0
        successes += 1
        if (successes >= GrowAfter) {      // grow x1.2 after 5 straight
          // capped at the reference's 1000-key ceiling (InitialBatch,
          // RestoreProcessor.php batch contract): unbounded growth
          // eventually serializes+sends a body the server must reject,
          // then oscillates around the limit forever
          batchSize = math.min(InitialBatch,
            math.max(math.ceil(batchSize * 1.2).toInt, batchSize + 1))
          successes = 0
        }
      } else {
        stalled += 1
        if (stalled > maxStalled)
          throw new IllegalStateException(
            s"restore of $path stalled: $maxStalled consecutive failed " +
              s"updates at batchSize=$batchSize")
        successes = 0
        batchSize = math.max(math.ceil(batchSize / 2.0).toInt, MinBatch)
        // pace the retry (Backoff scaladoc): a failing sink is usually
        // a rate limit or an outage, and immediate re-PATCH burns the
        // stall budget inside one quota window. Resets with the streak,
        // so an occasional rejection costs one base delay, not a ramp.
        sleep(Backoff.delayMs(stalled - 1))
      }
    }
    calls
  }

  /** PATCHes one restore task keeps in flight at most. */
  val MaxWindow = 64

  /** A restore task's window: [[InFlight.Window]] for each task slot
    * the drain's `partitions` leave to it, capped at [[MaxWindow]]. A
    * backup of fewer files than slots then keeps about as many PATCHes
    * in flight as one of a file per slot. */
  private[graft] def taskWindow(slots: Int, partitions: Int): Int =
    math.min(MaxWindow,
      InFlight.Window * math.max(1, slots / math.max(1, partitions)))

  /** Restore a backup rows DataFrame: partitions drain concurrently,
    * grouped by path within each partition, and each task keeps up to
    * [[taskWindow]] paths draining at once. Full-backup writes at
    * distinct paths commute (a node is either a leaf or a parent, never
    * both), so the final state does not depend on the order paths
    * finish in.
    *
    * Memory contract: the backup artifact is range-partitioned AND
    * sorted by (path, key) within partitions (Export.writeBackup), so a
    * path's rows are a contiguous run — the task reads the iterator run
    * by run and holds at most `window + 1` paths' keys at a time: the
    * paths draining plus the one waiting for a free slot. Executor
    * memory is bounded by the largest paths, not the partition (a
    * 128 MB partition of many small paths restores in page-sized
    * working sets). Unsorted input still restores correctly: each
    * contiguous run of a path drains as its own idempotent batch
    * sequence after the path's earlier runs have finished (PATCH
    * semantics make replays safe), it just costs more update() calls.
    *
    * One task drains each scan partition, and a small file is never
    * split between two, so the backup's file count caps the restore's
    * tasks; [[Export.writeBackup]] sizes the files by bytes, and a
    * backup below AQE's minimum partition size (1 MB by default) is one
    * file. So the window follows the task slots
    * (`defaultParallelism`), not the file count: each task keeps
    * `Window × max(1, slots / partitions)` PATCHes in flight, at most
    * [[MaxWindow]]. The partition count comes from the RDD that drains
    * (`Dataset.rdd` is the RDD `foreachPartition` runs), so reading it
    * adds no job. Against a sink that waits 20 ms per PATCH and serves
    * every one at once (`graft.RestoreLatency` in the tests, local[8],
    * 4 vCPU), 14,000 PATCHes (56,000 edges, 0.8 MB stored, one file)
    * took 4.6 s with 64 in flight, as long as the same rows in 8 files;
    * one window of 8 had taken 35.6 s. It is still the window times the
    * reference's serial replay.
    *
    * `maxStalled` and `sleep` are passed to every [[drainPath]]. */
  def restore(rows: DataFrame, sink: KVSink, maxStalled: Int = 64,
              sleep: Long => Unit = Thread.sleep): Unit = {
    val scan = rows.select("path", "key", "value_json")
    val window = taskWindow(rows.sparkSession.sparkContext.defaultParallelism,
      scan.rdd.getNumPartitions)
    scan.foreachPartition {
      it: Iterator[org.apache.spark.sql.Row] =>
        val edges = it.map(r => (r.getString(0), r.getString(1), r.getString(2)))
          .buffered
        val runs = new Iterator[(String, Map[String, String])] {
          def hasNext: Boolean = edges.hasNext
          def next(): (String, Map[String, String]) = {
            val path = edges.head._1
            val run = Map.newBuilder[String, String]
            while (edges.hasNext && edges.head._1 == path) {
              val e = edges.next()
              run += (e._2 -> e._3)
            }
            (path, run.result())
          }
        }
        InFlight.foreach(runs, window)(_._1) {
          case (path, data) => drainPath(sink, path, data, maxStalled, sleep)
        }
    }
  }

  /** Apply a snapshot diff ([[Export.diffBackups]] shape) instead of
    * replaying a full backup: added/changed rows PATCH their new
    * value; removed rows PATCH JSON `null`, which in Firebase's
    * update semantics DELETES the key — so one idempotent pass brings
    * the destination from the old snapshot to the new one without
    * touching the unchanged 99%. Same partition-drain machinery as
    * [[restore]] (adaptive batches, window, quarantine, backoff).
    *
    * A removed leaf whose location is an ancestor or a descendant of a
    * written leaf is not sent ([[dropSubsumed]]). A key that turned
    * from a scalar into an object is a removed row `P {k: null}` plus
    * written rows `P/k {j: v}`; one that turned from an object into a
    * scalar is the reverse. Paths drain in any order, and a null PATCH
    * that lands after its write would delete the new value. It is not
    * needed either: a write replaces whatever is at or above its
    * location, leaf or subtree. Every other removal is at a location no
    * write touches, so all rows sent commute.
    *
    * Nested locations share their first segment, so one shuffle on it
    * brings each such pair into one partition, where a sort on the
    * location puts the ancestor right before its subtree. */
  def restoreDiff(diff: DataFrame, sink: KVSink): Unit = {
    import org.apache.spark.sql.functions.{array, coalesce, col, concat, filter, lit, split}
    val spark = diff.sparkSession
    import spark.implicits._
    val loc = concat(filter(split(col("path"), "/"), _ =!= ""), array(col("key")))
    val kept = diff.select(loc.as("loc"), col("path"), col("key"), col("new_value"))
      .repartition(col("loc")(0))
      .sortWithinPartitions("loc")
      .as[(Seq[String], String, String, String)]
      .mapPartitions(dropSubsumed)
      .toDF("path", "key", "new_value")
    restore(kept.sortWithinPartitions("path")
      .select(col("path"), col("key"),
        coalesce(col("new_value"), lit("null")).as("value_json")), sink)
  }

  /** Diff rows `(location segments, path, key, new_value)` in location
    * order, so that an ancestor comes right before its subtree, as
    * `(path, key, new_value)` without the removals (null new_value)
    * that are nested with a write. In a diff the only nested pairs are
    * a removal and a write: the prev and cur snapshots are each a tree,
    * in which no leaf lies under another. So the open ancestors of a
    * row number at most one. */
  private[pipeline] def dropSubsumed(
      rows: Iterator[(Seq[String], String, String, String)])
      : Iterator[(String, String, String)] = {
    final class Open(val loc: Seq[String], val row: (String, String, String),
                     var drop: Boolean)
    var open = List.empty[Open] // the ancestors of the current row, nearest first
    def close(o: Open) = if (o.drop) None else Some(o.row)
    rows.flatMap { case (loc, p, k, v) =>
      val (ancestors, closed) = open.partition(o => loc.startsWith(o.loc))
      val removal = v == null
      if (!removal) ancestors.foreach(o => if (o.row._3 == null) o.drop = true)
      open = new Open(loc, (p, k, v),
        removal && ancestors.exists(_.row._3 != null)) :: ancestors
      closed.flatMap(close)
    } ++ open.flatMap(close)
  }

  /** Live HTTP sink — the reference's `firebase->update` PATCH
    * (RestoreProcessor.php:80) behind the KVSink seam: one PATCH per
    * adaptive batch, body `{key: value, ...}` with values embedded as
    * raw JSON (they are already canonical value_json strings). A non-2xx
    * or transport failure returns false, which drainPath answers with
    * the reference's halve-and-retry. Fields are plain strings so the
    * sink serializes into foreachPartition closures; each executor
    * makes its own connections.
    *
    * Meets the [[KVSink]] thread-safety contract: the transient fields
    * are lazy vals (initialized once, under a lock, on first use); the
    * ObjectMapper is configured inside its initializer and only read
    * afterwards, which Jackson documents as thread-safe; the client
    * keeps no per-call state (see [[HttpRestClient]]); the quarantine
    * counter is a LongAdder, and the accumulator, which is not
    * thread-safe, is added to under its own lock. */
  final class HttpKVSink(baseUrl: String,
                         authToken: Option[String] = None,
                         quarantineAcc: Option[org.apache.spark.util.LongAccumulator] = None)
      extends KVSink {
    @transient private lazy val client = new HttpRestClient(baseUrl, authToken)
    @transient private lazy val mapper = {
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
      // readTree stops at the first complete value by default, so
      // '{"a":1}garbage' would VALIDATE yet corrupt the hand-built
      // PATCH body — the exact poisoned-batch stall quarantine exists
      // to prevent. Fail on trailing tokens.
      m.enable(com.fasterxml.jackson.databind.DeserializationFeature
        .FAIL_ON_TRAILING_TOKENS)
      m
    }
    /** Keys dropped by [[update]] because their value_json would not
      * parse — per executor instance (the field is transient; read it
      * where the sink runs: tests, or executor logs via the stderr
      * line). */
    @transient lazy val quarantined = new java.util.concurrent.atomic.LongAdder()
    override def update(path: String, batch: Map[String, String]): Boolean = {
      // The PATCH body embeds value_json strings verbatim, so ONE
      // malformed value used to poison the whole batch: Firebase
      // rejects the body, drainPath halves it all the way to 1, and
      // the path stalls out after 64 calls. Validate with the mapper
      // and quarantine bad rows instead — the rest of the batch
      // restores, and the drain counts the quarantined keys as
      // handled (they are: no retry can ever fix an unparseable row).
      // The body embeds the RE-SERIALIZED parse tree, not the raw
      // string, so the payload is well-formed by construction.
      val parsed = batch.flatMap { case (k, v) =>
        try Some(k -> mapper.readTree(v))
        catch { case scala.util.control.NonFatal(_) => None }
      }
      val bad = batch.size - parsed.size
      if (bad > 0) {
        quarantined.add(bad.toLong)
        quarantineAcc.foreach(acc => acc.synchronized(acc.add(bad.toLong)))
        val badKeys = (batch.keySet -- parsed.keySet).take(3)
        System.err.println(s"HttpKVSink: quarantined $bad " +
          s"malformed value(s) at $path: ${badKeys.mkString(", ")}")
      }
      if (parsed.isEmpty) true
      else {
        val body = parsed.toSeq.sortBy(_._1).map { case (k, node) =>
          mapper.writeValueAsString(k) + ":" + mapper.writeValueAsString(node)
        }.mkString("{", ",", "}")
        client.patch(path, body)
      }
    }
  }
}
