package graft.pipeline

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownLimit, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, StringStartsWith}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSourceV2 face of the live walker (SURVEY.md §4's deferred item):
  *
  * {{{
  *   spark.read.format("firebase")
  *     .option("url", "https://<project>.firebaseio.com")
  *     .option("token", "<secret>")        // optional
  *     .option("root", "/")                // optional
  *     .option("maxIpp", "1000")           // optional
  *     .load()                             // (path, key, value_json)
  * }}}
  *
  * Planning is [[LiveExport.plan]]'s loop ([[LiveExport.planRounds]]) —
  * one InputPartition per walkable subtree, fat subtrees (floor page
  * too large, the go-deeper condition) split into their children — so
  * a skewed database still spreads across the cluster. Its probes run
  * ON THE DRIVER (DSv2 planning cannot launch jobs), up to
  * [[InFlight.Window]] floor-page GETs at once; the function-API path
  * (LiveExport.export) distributes even the probing when the top level
  * is huge.
  *
  * Each partition reader walks its subtree with its own [[LiveExport
  * .Walker]] (C1 keyset pagination, C2 adaptive IPP, C3 go-deeper
  * recursion — BackupProcessor.php:71-199) and emits the engine's
  * canonical leaf-edge rows. Memory per reader is bounded by one
  * subtree, the same contract as the mapPartitions walk.
  *
  * Unlike [[LiveExport.export]], which returns a materialized snapshot,
  * a DSv2 frame is a live scan: every action plans and walks the
  * database again. Pin it (`localCheckpoint()`) before handing it to
  * Export.writeBackup, whose range sampler and shuffle each evaluate
  * their input — unpinned, that is two walks, and two different
  * snapshots if the database changes in between.
  */
class FirebaseSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "firebase"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    FirebaseSource.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new FirebaseTable(FirebaseSource.conf(
      new CaseInsensitiveStringMap(properties)))
}

object FirebaseSource {
  val Schema: StructType = StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("key", StringType, nullable = false),
    StructField("value_json", StringType, nullable = false)))

  /** Plain-string config so every plan node serializes cleanly into
    * executor tasks.
    *
    * `startAt`/`endAt` are the reference's server-side keyset cursor
    * (BackupProcessor.php:167-169) surfaced as reader options: they
    * bound which TOP-LEVEL children of `root` are exported, in
    * Firebase `$key` cursor order, and an in-range child's subtree is
    * included WHOLE — the reference's resume-an-export semantics,
    * which no DataFrame filter on the leaf-edge schema can express
    * (a `key >= k` filter constrains leaf keys at every depth). */
  final case class Conf(url: String, token: Option[String],
                        root: String, maxIpp: Int,
                        startIpp: Option[Int] = None,
                        startAt: Option[String] = None,
                        endAt: Option[String] = None) {
    def client(): RestClient = new HttpRestClient(url, token)
    def walker(): LiveExport.Walker =
      new LiveExport.Walker(client(), maxIpp, startIpp = startIpp)
  }

  def conf(o: CaseInsensitiveStringMap): Conf = {
    val url = o.get("url")
    require(url != null && url.nonEmpty,
      "firebase source requires .option(\"url\", ...)")
    Conf(url,
      Option(o.get("token")).filter(_.nonEmpty),
      Option(o.get("root")).filter(_.nonEmpty).getOrElse("/"),
      Option(o.get("maxipp")).map(_.toInt)
        .getOrElse(LiveExport.DefaultMaxIpp),
      // the reference's root_start_ipp (ExportCommand.php:45)
      Option(o.get("rootstartipp")).map(_.toInt),
      Option(o.get("startat")).filter(_.nonEmpty),
      Option(o.get("endat")).filter(_.nonEmpty))
  }
}

/** Partition pruning for the firebase scan's filter pushdown (P1,
  * SURVEY.md §2 — the reference's `startAt` predicate re-expressed as
  * DSv2 `SupportsPushDownFilters`).
  *
  * A planned work item at subtree path `p` can emit two row shapes:
  *
  *  - `p`'s node is a SCALAR: exactly one row
  *    `(parent(p), lastSegment(p), v)` — both path and key are known
  *    at plan time, so every pushed conjunct can be tested.
  *  - `p`'s node is a CONTAINER: rows `(q, k, v)` where `q` is `p` or
  *    a descendant path of `p` and `k` is arbitrary — only path
  *    predicates constrain these.
  *
  * `keep(p)` is true iff SOME emittable row could satisfy ALL pushed
  * conjuncts (plan time cannot see which shape `p` is, so both are
  * tried — a conservative, always-sound prune). Spark re-applies every
  * filter on the rows that do come back (`pushFilters` returns all as
  * residual), so pruning only ever removes fetches, never changes
  * results. The payoff is the reference's: with `path = root` pinned,
  * a key range prunes exactly the out-of-range direct children — the
  * server never sees a request below the cursor.
  *
  * String comparison uses UTF8String binary order — the order Spark's
  * own string comparisons use — NOT String's UTF-16 order, so pruning
  * can never disagree with the residual filter on non-BMP keys. */
private[pipeline] object FirebasePushdown {

  def supported(f: Filter): Boolean = f match {
    case EqualTo("path", _: String)             => true
    case StringStartsWith("path", _)            => true
    case EqualTo("key", _: String)              => true
    case GreaterThan("key", _: String)          => true
    case GreaterThanOrEqual("key", _: String)   => true
    case LessThan("key", _: String)             => true
    case LessThanOrEqual("key", _: String)      => true
    case _                                      => false
  }

  private def cmp(a: String, b: String): Int =
    UTF8String.fromString(a).compareTo(UTF8String.fromString(b))

  private def keyInRange(k: String, fs: Seq[Filter]): Boolean = fs.forall {
    case EqualTo("key", v: String)            => cmp(k, v) == 0
    case GreaterThan("key", v: String)        => cmp(k, v) > 0
    case GreaterThanOrEqual("key", v: String) => cmp(k, v) >= 0
    case LessThan("key", v: String)           => cmp(k, v) < 0
    case LessThanOrEqual("key", v: String)    => cmp(k, v) <= 0
    case _                                    => true
  }

  def keep(p: String, fs: Seq[Filter]): Boolean = {
    val pathEqs  = fs.collect { case EqualTo("path", v: String) => v }
      .distinct.toList
    val prefixes = fs.collect { case StringStartsWith("path", v) => v }
    val (par, last) = TreeCodec.splitPath(p)
    // shape 1: p is a scalar leaf — row (parent(p), lastSegment(p), v)
    val scalarOk =
      pathEqs.forall(_ == par) &&
        prefixes.forall(par.startsWith) &&
        keyInRange(last, fs)
    // shape 2: p is a container — rows at p or any descendant of p,
    // keys unconstrained
    val containerOk = pathEqs match {
      case Nil =>
        // some q ∈ {p} ∪ descendants(p) could start with every prefix
        prefixes.forall(s =>
          p.startsWith(s) || (p + "/").startsWith(s) || s.startsWith(p + "/"))
      case q :: rest =>
        rest.isEmpty && (q == p || q.startsWith(p + "/")) &&
          prefixes.forall(q.startsWith)
    }
    scalarOk || containerOk
  }

  /** The reader-option cursor (reference startAt/endAt): bounds a
    * TOP-LEVEL child key in Firebase `$key` cursor order, inclusive on
    * both ends like the REST API's. */
  def inCursor(k: String, startAt: Option[String],
               endAt: Option[String]): Boolean = {
    val ord = LiveExport.KeyOrdering
    startAt.forall(s => !ord.lt(k, s)) && endAt.forall(e => !ord.gt(k, e))
  }
}

final class FirebaseTable(conf: FirebaseSource.Conf)
    extends Table with SupportsRead {
  override def name(): String = s"firebase(${conf.url}${conf.root})"
  override def schema(): StructType = FirebaseSource.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new FirebaseScan(conf)
}

final class FirebaseScan(conf: FirebaseSource.Conf)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns with SupportsPushDownLimit
    with Scan with Batch {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = FirebaseSource.Schema
  private var limit: Option[Int] = None

  /** Limit pushdown — the reference's `limitToFirst`
    * (BackupProcessor.php:165) lifted to the distributed walk: each
    * partition's walker STOPS FETCHING once it has `limit` edges
    * (Walker.fetchTreeLimited), so pages past the limit are never
    * requested. Returns false (partial push): partitions emit up to
    * `limit` rows each, and Spark's own Limit still trims the union. */
  override def pushLimit(l: Int): Boolean = {
    limit = Some(l)
    false
  }

  /** Column pruning: a keys-only projection (`select("path","key")`)
    * narrows the rows the scan EMITS to the requested fields — the
    * HTTP walk still fetches values (leaf keys are only knowable from
    * the paged fetch), but value_json strings never enter the Spark
    * row, the reference's shallow=true data shape
    * (BackupProcessor.php:82) on the output side. */
  override def pruneColumns(requiredSchema: StructType): Unit =
    // preserve canonical column ORDER (Spark may request any order;
    // emitting in ours keeps the reader's ordinal logic trivial)
    required = StructType(FirebaseSource.Schema.fields
      .filter(f => requiredSchema.fieldNames.contains(f.name)))

  /** Prune-only pushdown: the supported conjuncts drive partition
    * pruning in [[planInputPartitions]] (subtrees that cannot contain
    * a matching row are never probed or walked — the server-side
    * `startAt` effect, BackupProcessor.php:167-169), but every filter
    * is returned as residual so Spark re-applies exact row semantics
    * to whatever the kept partitions emit. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(FirebasePushdown.supported)
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed

  /** The limit actually applied to planning and per-partition walks.
    *
    * The cap logic reasons "each planned partition emits >= 1 row, so
    * `limit` partitions suffice" — that only holds when NO filters are
    * in play, because a kept partition may emit zero rows that survive
    * the residual filters while a cap-pruned one held matches (and the
    * per-partition early-stop counts raw edges, not matching ones).
    * Today Spark never delivers both: it only pushes a limit that sits
    * directly on the scan, and pushFilters returns every filter as
    * residual, so a Filter node always sits between Limit and this
    * scan. Guard explicitly instead of relying on that planner
    * invariant — with pushed filters present the limit is ignored
    * (partitions walk whole; Spark's own Limit trims), so a future
    * Spark that pushes both degrades to correct-but-unpruned rather
    * than silently returning fewer than `limit` matching rows. */
  private def effectiveLimit: Option[Int] =
    if (pushed.nonEmpty) None else limit

  override def build(): Scan = this
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"firebase(${conf.url}${conf.root}) " +
      s"PushedFilters: [${pushed.mkString(", ")}], " +
      s"ReadSchema: [${required.fieldNames.mkString(", ")}], " +
      s"limit: ${limit.getOrElse(-1)}, " +
      s"cursor: [${conf.startAt.getOrElse("")}..${conf.endAt.getOrElse("")}]"

  /** [[LiveExport.planRounds]], driver-side: probe pending subtrees
    * with one floor page each, up to [[InFlight.Window]] at once, and
    * split the too-fat ones into their children until every work item
    * is walkable whole. The option cursor bounds the top-level children
    * (reference resume semantics); pushed filters prune every round's
    * candidates before their probe fetch. */
  override def planInputPartitions(): Array[InputPartition] = {
    val keep = (p: String) => FirebasePushdown.keep(p, pushed.toSeq)
    val roots = conf.walker().shallowKeys(conf.root)
      .filter(FirebasePushdown.inCursor(_, conf.startAt, conf.endAt))
      .map(TreeCodec.childPath(conf.root, _))
      .filter(keep)
    // a pushed limit also caps PLANNING: every walkable subtree came
    // from a shallow listing, so it exists and emits >= 1 edge —
    // `limit` planned partitions emit >= limit rows, and probing the
    // rest (one floor-page GET each) would be pure waste. (A subtree
    // deleted between listing and walk can under-deliver, but a
    // concurrent delete loses those rows on ANY live scan — the
    // reference has the same read-skew, BackupProcessor.php:71-136.)
    val cap = effectiveLimit.getOrElse(Int.MaxValue)
    LiveExport.planRounds(roots, cap, batch =>
      batch.zip(InFlight.map(batch.toVector)(p =>
        conf.walker().probeSplit(p).filter(keep))))
      .map(FirebasePartition(_)).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new FirebaseReaderFactory(conf, required.fieldNames, effectiveLimit)
}

final case class FirebasePartition(path: String) extends InputPartition

final class FirebaseReaderFactory(conf: FirebaseSource.Conf,
                                  columns: Array[String],
                                  limit: Option[Int] = None)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val walker = conf.walker()
      private val path = p.asInstanceOf[FirebasePartition].path
      private val it = limit
        .map(walker.fetchTreeLimited(path, _))
        .getOrElse(walker.fetchTree(path)).iterator
      // column extractors resolved ONCE per reader, not per row — the
      // emit loop is the scan's only hot path
      private val extractors: Array[TreeCodec.Edge => UTF8String] =
        columns.map[TreeCodec.Edge => UTF8String] {
          case "path"       => e => UTF8String.fromString(e.path)
          case "key"        => e => UTF8String.fromString(e.key)
          case "value_json" => e => UTF8String.fromString(e.valueJson)
        }
      private var cur: TreeCodec.Edge = _
      override def next(): Boolean =
        if (it.hasNext) { cur = it.next(); true } else false
      override def get(): InternalRow = {
        val vals = new Array[Any](extractors.length)
        var i = 0
        while (i < extractors.length) { vals(i) = extractors(i)(cur); i += 1 }
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(vals)
      }
      override def close(): Unit = ()
    }
}
