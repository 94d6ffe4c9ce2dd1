package graft.operators

import graft.Tables
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col

/** The one owner of the persisted-index durability protocol shared by
  * the shingle (Dedup), lexical (Retrieval), IVF and kNN-graph
  * (Similarity) indexes. [[IndexManifest]] is the manifest FORMAT;
  * this object decides when manifests, tables and batch stores are
  * written, dropped and renamed, in what order, and what a crash
  * between two of those mutations leaves for the next ensure to
  * repair. Families supply plain functions — their base-build and
  * batch-fold writers, per-table compaction folds, and their own
  * extra freshness conditions — and never touch the catalog, the
  * manifest file or the batch store directly.
  *
  * The protocol, in one place:
  *  - names: every table, the manifest and the batch store derive
  *    from one 32-bit tag of the index key ([[Spec]]);
  *  - ensure: memo, then base count + fingerprint against the
  *    manifest's base prefix, re-attach, row-count freshness, then
  *    refuse-or-refold (a partial append refolds manifest-listed
  *    batches from the batch store, or refuses loudly when one is
  *    missing), drop with location, build, refold, manifest LAST;
  *  - append: id check, idempotence, disjointness, batch store FIRST,
  *    fold, then the manifest's batch list;
  *  - rewrite: every compaction / refresh / refine stages its tables
  *    under [[Staging]] names, drops the live tables only once every
  *    staging write finished, renames, then records the layout in the
  *    manifest — a crash between drop and rename reads as a missing
  *    table, which ensure rebuilds;
  *  - drop: every table, every staging name, manifest, store, memo.
  *
  * Every filesystem and catalog mutation goes through [[step]], so a
  * crash after any one of them can be injected ([[faultHook]]). */
private[graft] object PersistedIndex {

  /** One persisted index: family `prefix` (graft_shidx, graft_lexidx,
    * graft_ivf, graft_knng), human name `what` for messages, identity
    * `key` (the corpus dir; dir#k=k for the graph), and its tables as
    * (role, bucket key) — None for an unbucketed table. */
  final case class Spec(prefix: String, what: String, key: String,
                        roles: Seq[(String, Option[String])]) {
    val tag: String =
      (scala.util.hashing.MurmurHash3.stringHash(key).toLong & 0xffffffffL)
        .toHexString
    def table(role: String): String = s"${prefix}_${role}_$tag"
    val tables: Seq[String] = roles.map(r => table(r._1))
  }

  /** Stored manifest text + its applied batch list. */
  type Stored = (String, Seq[(String, Long)])

  /** Suffix of the staging table every rewrite writes before its swap. */
  private val Staging = "_c"

  // ---------------------------------------------------------------
  // fault injection

  /** Crash-matrix hook: called with the name of every mutation right
    * after it completes ("<family prefix> <mutation>"); a test throws
    * from it to simulate a crash there. None in production, and set
    * only by tests. */
  @volatile private[graft] var faultHook: Option[String => Unit] = None

  private def step[A](ix: Spec, what: String)(body: => A): A = {
    val out = body
    faultHook.foreach(_(s"${ix.prefix} $what"))
    out
  }

  // ---------------------------------------------------------------
  // names and reads

  private def warehouse(s: SparkSession): String =
    s.conf.get("spark.sql.warehouse.dir")

  private def fsOf(s: SparkSession, p: Path) =
    p.getFileSystem(s.sparkContext.hadoopConfiguration)

  private def manifestPath(s: SparkSession, ix: Spec): Path =
    IndexManifest.path(s, ix.prefix, ix.tag)

  /** Durable store of every appended batch's rows — written BEFORE
    * the table fold so a crash that leaves the index partial-append
    * repairs by refolding manifest-listed batches, instead of
    * rebuilding from the corpus dir alone and losing stream-only
    * arrivals whose checkpoints already committed (they never
    * replay). */
  private def batchStore(s: SparkSession, ix: Spec): Path =
    new Path(warehouse(s), s"${ix.prefix}_batches_${ix.tag}")

  def batchPath(s: SparkSession, ix: Spec, batchId: String): Path =
    new Path(batchStore(s, ix), batchId)

  def read(s: SparkSession, ix: Spec): Option[Stored] =
    IndexManifest.read(s, manifestPath(s, ix))

  /** The manifest an ensure just validated or wrote. */
  def stored(s: SparkSession, ix: Spec): Stored =
    read(s, ix).getOrElse(throw new IllegalStateException(
      s"${ix.what} for ${ix.key} has no manifest after ensure"))

  def exists(s: SparkSession, ix: Spec): Boolean = {
    val mp = manifestPath(s, ix)
    fsOf(s, mp).exists(mp)
  }

  /** Has `batchId` already been folded in? The replay detector for
    * maintaining streams: a manifest-listed batch arriving again is a
    * foreachBatch replay whose append committed before the crash.
    * One small file read. */
  def isApplied(s: SparkSession, ix: Spec, batchId: String): Boolean =
    read(s, ix).exists(_._2.exists(_._1 == batchId))

  /** A table's FILES, not its catalog entry — the rule-20a read every
    * rewrite of a bucketed table into a bucketed table needs (the
    * bucketed scan's advertised partitioning elides the alignment
    * repartition while AQE degrades the actual scan to coalesced
    * splits), and the rule-33 read for maintenance-adjacent scans. */
  def files(s: SparkSession, table: String): DataFrame =
    s.read.parquet(new Path(warehouse(s), table).toString)

  def checkBatchId(batchId: String): Unit =
    require(batchId.matches("[A-Za-z0-9_.\\-]+"),
      s"batchId must match [A-Za-z0-9_.-]+ (manifest round-trip): $batchId")

  // ---------------------------------------------------------------
  // memo

  // per-(context, family, key) freshness memo: a probe-heavy caller
  // pays the freshness counts + fingerprint scan once, not per batch.
  // Keyed by applicationId — unique per SparkContext, and sessions of
  // one context share the catalog the tables live in (an identity
  // hash could collide with a dead context's and skip the existence
  // check against a fresh empty catalog). Set only AFTER a check or
  // build succeeds; appends keep the manifest invariant.
  private val memo =
    java.util.Collections.newSetFromMap(
      new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]())

  private def memoKey(s: SparkSession, prefix: String, key: String) =
    s"${s.sparkContext.applicationId}:$prefix:$key"

  def isFresh(s: SparkSession, ix: Spec): Boolean =
    memo.contains(memoKey(s, ix.prefix, ix.key))

  def markFresh(s: SparkSession, ix: Spec): Unit =
    memo.add(memoKey(s, ix.prefix, ix.key))

  /** Forget every memo entry of family `prefix` whose key starts with
    * `keyPrefix` — e.g. every graph over one corpus dir after an IVF
    * mutation breaks lockstep. */
  def forget(s: SparkSession, prefix: String, keyPrefix: String): Unit = {
    val p = memoKey(s, prefix, keyPrefix)
    memo.removeIf(new java.util.function.Predicate[String] {
      def test(k: String): Boolean = k.startsWith(p)
    })
  }

  /** Test hook: forget every memoized freshness so the next ensure
    * re-runs the real check. */
  private[graft] def forgetMemo(): Unit = memo.clear()

  // ---------------------------------------------------------------
  // mutations

  /** The bucketed table write every index uses — ONE copy of the
    * repartition-before-bucketed-write rule (CLAUDE.md 20: a bucketed
    * write emits one file per task x present bucket, so an unaligned
    * upstream layout sprays tasks x buckets tiny files) plus the
    * bucket marker re-attach reads (resolved at the table's CURRENT
    * location, so staging tables carry it through their rename). */
  def writeBucketed(s: SparkSession, df: DataFrame, table: String,
                    key: String, buckets: Int, mode: SaveMode): Unit = {
    df.repartition(buckets, col(key))
      .write.mode(mode).bucketBy(buckets, key).sortBy(key)
      .format("parquet").saveAsTable(table)
    IndexManifest.markBuckets(s, table, buckets)
  }

  /** Drop a catalog entry AND its warehouse location: the default
    * catalog is per-JVM but the directory persists, and a later
    * saveAsTable refuses an orphan location. Re-attached tables are
    * EXTERNAL, so the explicit delete is what keeps them from
    * leaking. Dropping a table that is absent mutates nothing, so it
    * is no step. */
  private def dropTable(s: SparkSession, ix: Spec, t: String): Unit = {
    val p = new Path(warehouse(s), t)
    val fs = fsOf(s, p)
    if (s.catalog.tableExists(t) || fs.exists(p)) step(ix, s"drop $t") {
      s.sql(s"DROP TABLE IF EXISTS $t")
      if (fs.exists(p)) fs.delete(p, true)
    }
  }

  private def writeManifest(s: SparkSession, ix: Spec, txt: String): Unit =
    step(ix, "manifest") {
      IndexManifest.writeText(s, manifestPath(s, ix), txt)
    }

  /** Rewrite the stored manifest through `f` (no-op when absent). */
  def updateManifest(s: SparkSession, ix: Spec)(f: String => String): Unit =
    read(s, ix).foreach { case (txt, _) => writeManifest(s, ix, f(txt)) }

  /** Cross-JVM re-attach of the index's surviving tables
    * ([[IndexManifest.reattachTables]]); callers only attempt it when
    * the manifest base matches this corpus. */
  def reattach(s: SparkSession, ix: Spec): Unit =
    step(ix, "reattach") {
      IndexManifest.reattachTables(s,
        ix.tables.zip(ix.roles.map(_._2)))
    }

  /** Drop the tables, build them, write the manifest LAST: its
    * presence asserts the tables are complete, so a crash anywhere
    * before it leaves the OLD manifest for the next ensure to
    * re-detect. */
  def rebuild(s: SparkSession, ix: Spec, manifest: String)
             (build: => Unit): Unit = {
    ix.tables.foreach(dropTable(s, ix, _))
    step(ix, "build")(build)
    writeManifest(s, ix, manifest)
  }

  /** Fold one batch (`fold` returns the rows it added), then record it
    * in the manifest's batch list. */
  def foldBatch(s: SparkSession, ix: Spec, batchId: String)
               (fold: => Long): Unit = {
    val rows = step(ix, s"fold $batchId")(fold)
    val (txt, batches) = stored(s, ix)
    writeManifest(s, ix, IndexManifest.withBatch(txt, batches, batchId, rows))
  }

  /** The shared ensure of the indexes that own their data (shingle,
    * lexical, IVF). Fresh when every table exists, the stored base
    * prefix equals `expect`'s (src + rows + content fingerprint), the
    * family's `fresh` condition holds and `countTable` holds exactly
    * baseRows + the manifest's batch rows. Otherwise two not-fresh
    * states, never conflated: a SAME-base mismatch is a partial
    * append whose manifest-listed batches are refolded from the batch
    * store after the base rebuild (and whose missing store refuses
    * loudly); a different base is a real corpus change, which
    * discards the store. `build(expect)` writes the base tables with
    * `expect.buckets` and returns the batch fold the refold uses.
    *
    * Returns the replaced same-base manifest text when it repaired a
    * partial append (a family carries state forward from it), None
    * otherwise. */
  def ensure(s: SparkSession, ix: Spec, expect: => IndexManifest.Manifest,
             countTable: String, fresh: => Boolean)
            (build: IndexManifest.Manifest => DataFrame => Unit)
      : Option[String] = {
    if (isFresh(s, ix)) return None
    val exp = expect
    val prior = read(s, ix)
    val sameBase = prior.exists(_._1.startsWith(exp.basePrefix))
    // re-attach only a matching base: attaching stale tables just to
    // drop them would pay pointless schema inference
    if (sameBase) reattach(s, ix)
    val ok = sameBase && ix.tables.forall(s.catalog.tableExists) &&
      prior.exists { case (_, batches) =>
        fresh && s.table(countTable).count() ==
          exp.baseRows + batches.map(_._2).sum
      }
    val repaired =
      if (ok) None
      else {
        val refold = if (sameBase) prior.get._2 else Nil
        val store = batchStore(s, ix)
        val fs = fsOf(s, store)
        if (!sameBase && fs.exists(store))
          step(ix, "delete store") { fs.delete(store, true) }
        refold.foreach { case (bid, _) =>
          val p = batchPath(s, ix, bid)
          if (!fs.exists(p)) throw new IllegalStateException(
            s"${ix.what} for ${ix.key} is in a partial-append state " +
              "(table rows != baseRows + manifest batches) and appended " +
              s"batch '$bid' has no persisted rows at $p — refusing to " +
              "rebuild from the corpus dir alone, which silently drops " +
              "stream-only arrivals whose checkpoints committed. " +
              "Restore the batch store, or drop the index explicitly " +
              "to accept the loss.")
        }
        rebuild(s, ix, exp.copy(batches = refold).render) {
          val fold = build(exp)
          refold.foreach { case (bid, _) =>
            step(ix, s"refold $bid") {
              fold(s.read.parquet(batchPath(s, ix, bid).toString))
            }
          }
        }
        prior.filter(_ => sameBase).map(_._1)
      }
    markFresh(s, ix)
    repaired
  }

  /** The shared append: id check, ensure, idempotence per batchId,
    * the range-pruned disjointness guard on `keyCol` against
    * `guardTable`, the batch store written FIRST (`storeCols` of the
    * batch), then the family's fold and the manifest. Returns false
    * when the batch is already in the manifest. */
  def append(s: SparkSession, ix: Spec, batch: DataFrame, batchId: String,
             keyCol: String, storeCols: Seq[String], guardTable: String,
             ensure: () => Unit)(fold: String => Long): Boolean = {
    checkBatchId(batchId)
    ensure()
    val (txt, batches) = stored(s, ix)
    if (batches.exists(_._1 == batchId)) return false
    IndexManifest.requireDisjoint(s, guardTable, keyCol, batch,
      s"append to ${ix.what} ($batchId)")
    step(ix, s"store $batchId") {
      batch.select(storeCols.map(col): _*)
        .write.mode(SaveMode.Overwrite)
        .parquet(batchPath(s, ix, batchId).toString)
    }
    foldBatch(s, ix, batchId)(fold(txt))
    true
  }

  /** One table of a rewrite: the live table it replaces, its new
    * rows, and its bucket key (None = unbucketed). */
  final case class Staged(table: String, rows: DataFrame,
                          key: Option[String])

  /** The staging + rename rewrite behind every compaction, IVF
    * refresh and graph refine: write every staged table under its
    * [[Staging]] name (marker included, so the rename carries it),
    * and only then drop the live tables and rename — so a table is
    * never read and overwritten in one plan, and every crash state
    * between the first drop and the last rename has a missing table,
    * which the next ensure rebuilds. The manifest then records every
    * applied batch as compacted, the new bucket spec, and the
    * family's own `record`. */
  def rewrite(s: SparkSession, ix: Spec, buckets: Int, staged: Seq[Staged],
              record: String => String = identity): Unit = {
    val (txt, batches) = stored(s, ix)
    staged.foreach(t => dropTable(s, ix, t.table + Staging))
    staged.foreach { t =>
      step(ix, s"stage ${t.table}") {
        t.key match {
          case Some(k) => writeBucketed(s, t.rows, t.table + Staging, k,
            buckets, SaveMode.ErrorIfExists)
          case None =>
            t.rows.write.format("parquet").saveAsTable(t.table + Staging)
        }
      }
    }
    staged.foreach(t => dropTable(s, ix, t.table))
    staged.foreach { t =>
      step(ix, s"rename ${t.table}") {
        s.sql(s"ALTER TABLE ${t.table + Staging} RENAME TO ${t.table}")
      }
    }
    writeManifest(s, ix, record(IndexManifest.withBuckets(
      IndexManifest.withCompacted(txt, batches, batches.size), buckets)))
  }

  /** Layout compaction: when an applied batch is still unfolded or
    * the bucket spec differs from the target (`rebucketTo`, else
    * Tables.indexBuckets over the GROWN row count — an index that
    * grew past a threshold through appends would otherwise keep its
    * build-time spec forever), rewrite the family's `staged(buckets,
    * stored)` tables. Returns false when already compact. */
  def compact(s: SparkSession, ix: Spec, rebucketTo: Option[Int])
             (staged: (Int, Stored) => Seq[Staged]): Boolean = {
    val st @ (txt, batches) = stored(s, ix)
    val buckets = rebucketTo.getOrElse(
      Tables.indexBuckets(IndexManifest.indexRowsOf(txt, batches)))
    if (batches.size <= IndexManifest.compactedOf(txt) &&
        buckets == IndexManifest.bucketsOf(txt, ix.what))
      return false
    rewrite(s, ix, buckets, staged(buckets, st))
    true
  }

  /** The layout half of every maintain: applied batches, how many are
    * not yet compacted, and the stored vs target bucket spec. */
  final case class Layout(applied: Int, uncompacted: Int,
                          storedBuckets: Int, target: Int) {
    /** No appended batches means the base build already fits the
      * corpus; otherwise >= compactAfter uncompacted batches (each
      * adds one file per bucket) or an outgrown spec. */
    def wantsCompact(compactAfter: Int): Boolean =
      applied > 0 && (uncompacted >= compactAfter || target != storedBuckets)

    def report(family: String, action: String,
               ran: Boolean): MaintenanceReport =
      MaintenanceReport(family, action, ran, applied, uncompacted,
        storedBuckets, target, -1L, -1L)
  }

  def layout(s: SparkSession, ix: Spec): Layout = {
    val (txt, batches) = stored(s, ix)
    Layout(batches.size, batches.size - IndexManifest.compactedOf(txt),
      IndexManifest.bucketsOf(txt, ix.what),
      Tables.indexBuckets(IndexManifest.indexRowsOf(txt, batches)))
  }

  /** Drop the index: every table and every staging name a rewrite can
    * leave behind, the manifest, the batch store, and the memo. */
  def drop(s: SparkSession, ix: Spec): Unit = {
    ix.tables.flatMap(t => Seq(t, t + Staging)).foreach(dropTable(s, ix, _))
    Seq(manifestPath(s, ix), batchStore(s, ix)).foreach { p =>
      val fs = fsOf(s, p)
      if (fs.exists(p)) step(ix, s"delete ${p.getName}") { fs.delete(p, true) }
    }
    memo.remove(memoKey(s, ix.prefix, ix.key))
  }
}
