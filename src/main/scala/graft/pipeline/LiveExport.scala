package graft.pipeline

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.io.IOException
import scala.collection.mutable

/** The live Firebase-REST export path — the reference's actual reason to
  * exist (`firebase->get` pagination, BackupProcessor.php:150-200) for a
  * user who holds only a live database, no archive.
  *
  * Faithful control-plane semantics, per path (all references are
  * BackupProcessor.php):
  *
  *  - C1 keyset pagination: `orderBy="$key"` + `limitToFirst=ipp` +
  *    `startAt="<lastKey>"`, startAt inclusive so every page after the
  *    first drops its leading duplicate key (:150-199).
  *  - C2 adaptive page sizing ("intelligent IPP"): halve on
  *    `Payload is too large` (floor MIN_IPP=2, :10,:173-175), grow x1.2
  *    after 5 consecutive successful pages, capped at max_ipp
  *    (:181-184), remembered per path across the path's pages.
  *  - C3 go-deeper recursion: a page that still fails at the floor means
  *    one child is too fat to fetch whole — list the path's keys with
  *    `shallow=true` (retried <=10x, then BackupFailure — :80-87),
  *    descend into exactly one child, then resume pagination at the next
  *    shallow key with the preserve-last-key flag so the resumed page
  *    keeps its inclusive first element (:88-127).
  *
  * The data plane diverges deliberately: the reference is one PHP
  * process walking the whole tree; here the driver only lists the
  * root's shallow keys and each executor task walks its own top-level
  * subtrees ([[export]]), so a 1000-executor cluster drains a database
  * 1000 subtrees at a time. Page payloads are flattened to the engine's
  * canonical leaf-edge frame (TreeCodec) instead of chunk files.
  *
  * Ordering note: shallow keys sort in Firebase's `$key` CURSOR order
  * ([[LiveExport.KeyOrdering]] — integer-parseable keys first,
  * numerically), NOT the reference's plain lexicographic
  * `sort($this->shallow_tree[$path])` (:90): the go-deeper resume sets
  * `startAt` from the client-side sort while the server pages in cursor
  * order, so a lexicographic sort (which puts "10" before "2") makes a
  * resume at "10" silently skip key "2"'s subtree — a latent
  * completeness bug in the reference for mixed integer/string keys.
  */
object LiveExport {

  /** Reference constants: BackupProcessor.php:10 (MIN_IPP), :16
    * (max_ipp default), :84 (shallow retry cap), :181 (grow-after). */
  val MinIpp = 2
  val DefaultMaxIpp = 1000
  val ShallowRetries = 10
  val GrowAfter = 5

  /** Shared by every Walker: an ObjectMapper is thread-safe once
    * configured, and a Walker per work item is cheap only if it does
    * not build its own. */
  private val Mapper = new ObjectMapper()

  /** The BackupFailureException analog (exceptions/
    * BackupFailureException.php): shallow listing failed 10x. */
  final class BackupFailure(msg: String) extends RuntimeException(msg)

  /** Control-flow sentinel for [[Walker.fetchTreeLimited]]'s early
    * stop; never escapes it (stackless — thrown once per limited
    * walk, not worth a fill-in). */
  private[pipeline] final class StopWalk
      extends RuntimeException(null, null, false, false)

  /** Firebase `$key` cursor order (REST API "Ordering of data"): keys
    * parseable as 32-bit integers sort FIRST, numerically; everything
    * else follows lexicographically. The go-deeper resume
    * (startAt = the child after the one descended into) walks pages in
    * this order, so the client-side shallow-key sort MUST match the
    * server's EXACTLY — a lexicographic sort puts "10" before "2", and
    * resuming at "10" makes the server-side cursor silently skip key
    * "2"'s subtree. Same failure mode for any parser disagreement,
    * which is why [[parseIntKey]] mirrors the server's `nameCompare`
    * integer rule (the SDKs' `^-?(0*)\d{1,10}$` + 32-bit bounds)
    * rather than the JVM's: Scala's `toIntOption` accepts a leading
    * '+' that Firebase treats as a string key — a client sorting "+5"
    * first among integers while the server pages it among strings
    * re-creates the resume-skip bug for that key's subtree. Equal
    * integer values ("1" vs "01" vs "-0"/"0") tie-break by string
    * LENGTH, the server's rule. That leaves one class of distinct keys
    * that compare EQUAL: a negative zero and the all-zero key of the
    * same length ("-0"/"00", "-00"/"000", ...) — the only distinct
    * integer keys of equal value and equal length; the server's
    * `nameCompare` (and the test stub's) ties them too. No tie-break
    * is added here, because any other rule (say, by string) would
    * disagree with the server's. The go-deeper resume
    * (`shallow.indexOf(lastKey)` and the inclusive `startAt` drop)
    * therefore relies on the server listing and paging a tied pair in
    * ONE order, which the test stub does (a stable sort of the stored
    * field order). */
  val KeyOrdering: Ordering[String] = Ordering.by { k: String =>
    parseIntKey(k) match {
      case Some(v) => (0, v.toLong, k.length, "")
      case None => (1, 0L, 0, k)
    }
  }

  /** Firebase's integer-key test: optional '-', digits only (leading
    * zeros fine, leading '+' NOT an integer), value within 32-bit
    * bounds. Every digit must be ASCII '0'..'9': `Integer.parseInt`
    * (and so `toIntOption`) accepts non-ASCII Unicode digits
    * (e.g. '٥' ARABIC-INDIC FIVE parses as 5), but Firebase's
    * nameCompare matches only ASCII — a Unicode-digit key sorted
    * among integers client-side but paged among strings server-side
    * re-creates the resume-skip subtree loss for that key class.
    * `toIntOption` then supplies only the 32-bit bounds check
    * (11-significant-digit overflows come back None).
    *
    * Adopted authority: the JS SDK's `^-?(0*)\d{1,10}$` — unlimited
    * leading zeros, so '000000000001' is an integer key here. The
    * Java/ObjC SDKs additionally cap key length at 11 chars and would
    * classify it as a string; against a server following the capped
    * rule this client diverges for zero-padded keys >11 chars (the
    * stub's independent NameCompare encodes the same JS choice, so
    * the suite documents rather than hides it). */
  private[graft] def parseIntKey(k: String): Option[Int] = {
    val digits = if (k.startsWith("-")) k.substring(1) else k
    if (digits.isEmpty || !digits.forall(c => c >= '0' && c <= '9')) None
    else k.toIntOption
  }

  private sealed trait PageOut
  /** One fetched page: direct children in key order (leading startAt
    * duplicate already dropped unless preserved). */
  private final case class Page(data: Seq[(String, JsonNode)],
                                lastKey: String,
                                isLastPage: Boolean) extends PageOut
  /** Even MIN_IPP items exceed the payload limit — descend (C3). */
  private case object GoDeeper extends PageOut
  /** The path itself is a scalar leaf (possible when descending into a
    * shallow key whose value is not a container). */
  private final case class ScalarLeaf(json: String) extends PageOut

  /** One walker instance per work item or thread (holds per-path IPP
    * state; not thread-safe by design — cheap to construct).
    *
    * @param sleep retry pacing seam: called with the backoff delay in
    *        ms before every shallow-listing RETRY (never on the first
    *        attempt — the happy path performs zero sleeps). Injectable
    *        so tests assert the schedule instead of waiting it out.
    * @param startIpp the reference's `root_start_ipp` knob
    *        (ExportCommand.php:45, seeded into the IPP map at
    *        BackupProcessor.php:44-46): the FIRST page size tried for a
    *        path with no IPP history yet, instead of min(1000, maxIpp).
    *        A user who knows the default is too big for their data
    *        seeds a smaller start and skips the halve-churn. One
    *        deliberate generalization: the reference seeds only the
    *        root path, but in the distributed export every work item
    *        is the root of its own walk, so the seed applies to every
    *        path's first fetch (adaptive per-path sizing takes over
    *        from there, exactly as in the reference).
    */
  final class Walker(client: RestClient, maxIpp: Int = DefaultMaxIpp,
                     sleep: Long => Unit = Thread.sleep,
                     startIpp: Option[Int] = None) {
    // below the floor, growth caps pages at one item, and a one-item
    // page after an inclusive startAt holds only the cursor key — read
    // as the last page, it would silently end the walk early
    require(maxIpp >= MinIpp,
      s"max_ipp must be at least $MinIpp (the walker's floor page size), got $maxIpp")
    private val initIpp: Int =
      math.max(MinIpp, math.min(startIpp.getOrElse(DefaultMaxIpp), maxIpp))
    private val mapper = Mapper
    /** path -> (current ipp, consecutive successes) — the reference's
      * `intelligent_IPP` map (BackupProcessor.php:151-155). */
    private val ipp = mutable.Map.empty[String, (Int, Int)]

    /** 401/403 are definitive — retrying or halving cannot fix a bad
      * token, and degrading into the go-deeper path buries the real
      * cause in "could not get shallow data" noise. */
    private def failIfDenied(resp: RestResponse, path: String): Unit =
      if (resp.status == 401 || resp.status == 403)
        throw new BackupFailure(
          s"permission denied for $path (HTTP ${resp.status}): ${resp.body}")

    /** The reference classifies errors by BODY shape because its PHP
      * lib discards the HTTP status (`{"error": ...}` — BackupProcessor
      * .php:174). Body shape alone misclassifies legitimate data whose
      * child KEY is "error" (a page of such a node answers
      * `{"error": <value>}` with 200), so here the status — which
      * Firebase does send (400 for size-capped reads) — is the signal,
      * one of the deliberate production-shaped divergences. Only a 2xx
      * body is parsed. */
    private def isErrorResponse(resp: RestResponse): Boolean =
      resp.status < 200 || resp.status >= 300

    private def isEmptyPayload(n: JsonNode): Boolean =
      n == null || n.isNull || n.isMissingNode ||
        (n.isContainerNode && n.size() == 0)

    /** One page request of `itemsPerPage` children: the page (or the
      * scalar the path holds), or None when the answer says "shrink"
      * (a transport failure, an error status or an empty payload). */
    private def fetchPage(path: String, startKey: Option[String],
                          preserveLastKey: Boolean,
                          itemsPerPage: Int): Option[PageOut] = {
      // startAt is a JSON value, so a key holding '"' or '\' is
      // escaped (Firebase allows both in keys)
      val query = Map("orderBy" -> "\"$key\"",
        "limitToFirst" -> itemsPerPage.toString) ++
        startKey.map(k => "startAt" -> mapper.writeValueAsString(k))
      // a transport failure (the IOException getR throws) is a shrink,
      // like an error status: a path that keeps failing reaches the
      // floor, goes deeper, and ends in shallowKeys' capped retry
      val resp = try client.getR(path, query)
        catch { case _: IOException => return None }
      failIfDenied(resp, path)
      // an error body need not be JSON (a proxy's HTML 502 page)
      val node = if (isErrorResponse(resp)) null else mapper.readTree(resp.body)
      if (isEmptyPayload(node)) None
      else if (!node.isContainerNode)
        Some(ScalarLeaf(mapper.writeValueAsString(node)))
      else {
        // Firebase serializes dense integer-keyed nodes as JSON
        // ARRAYS (element index = key), padding skipped leading
        // indices with nulls on filtered reads; TreeCodec.children
        // reads them as index-keyed fields, so the startAt-duplicate
        // drop and isLast logic apply unchanged (the first non-null
        // element IS the inclusive startAt key).
        val fields = TreeCodec.children(node).toVector
        if (fields.isEmpty)
          // an all-null padded array page past the end: final page
          Some(Page(Vector.empty, startKey.getOrElse(""), isLastPage = true))
        else {
          val lastKey = fields.last._1
          val isLast = fields.size < itemsPerPage ||
            (fields.size == 1 && startKey.contains(lastKey))
          val data = if (startKey.isDefined && !preserveLastKey)
            fields.drop(1) else fields
          Some(Page(data, lastKey, isLast))
        }
      }
    }

    /** BackupProcessor.php:150-199, one call = one successful page (or
      * a go-deeper verdict), shrinking inside the loop. */
    private def getPathsPaginated(path: String, startKey: Option[String],
                                  preserveLastKey: Boolean): PageOut = {
      var itemsPerPage = ipp.getOrElse(path, (initIpp, 0))._1
      var out: PageOut = null
      while (out == null) {
        fetchPage(path, startKey, preserveLastKey, itemsPerPage) match {
          case None if itemsPerPage == MinIpp =>
            ipp(path) = (MinIpp, 0)
            out = GoDeeper
          case None =>
            itemsPerPage =
              math.max(MinIpp, math.ceil(itemsPerPage / 2.0).toInt)
            // store the halved size AND reset the success streak —
            // the reference counts its grow-after-5 successes FROM the
            // failure (BackupProcessor.php:181-188); without the reset
            // one post-failure success inherits the old streak and
            // immediately re-grows toward the size that just failed
            ipp(path) = (itemsPerPage, 0)
          case Some(leaf: ScalarLeaf) => out = leaf
          case Some(page) =>
            // success: per-path IPP bookkeeping (:180-188)
            val (_, succ) = ipp.getOrElse(path, (itemsPerPage, 0))
            if (succ + 1 > GrowAfter)
              ipp(path) = (math.min(maxIpp,
                math.ceil(itemsPerPage * 1.2).toInt), 0)
            else ipp(path) = (itemsPerPage, succ + 1)
            out = page
        }
      }
      out
    }

    /** `shallow=true` key listing with the reference's retry law
      * (BackupProcessor.php:80-87): <=10 attempts, then BackupFailure.
      * An error status and a transport failure (the IOException
      * `getR` throws — a connection reset, a timeout) are both a
      * failed attempt; the final BackupFailure carries the last
      * IOException as its cause. Retries pace out exponentially via
      * [[Backoff]] — the reference retries back-to-back, which against
      * a rate-limited live database burns all 10 attempts in
      * milliseconds; a transient quota window outlives our whole
      * schedule. Any 2xx answer is definitive: the keys (`Right`), none
      * for an empty path, or `Left` with the JSON of the scalar the
      * path holds. Array nodes list as their non-null element indices
      * ([[TreeCodec.children]]). Keys sort in the server's cursor
      * order, which the go-deeper resume
      * (`shallow.indexOf(lastKey) + 1`) relies on. */
    private def listing(path: String): Either[String, Vector[String]] = {
      var tries = 0
      var transport: Option[IOException] = None
      while (tries < ShallowRetries) {
        if (tries > 0) sleep(Backoff.delayMs(tries - 1))
        tries += 1
        val attempt =
          try Right(client.getR(path, Map("shallow" -> "true")))
          catch { case e: IOException => Left(e) }
        attempt match {
          case Left(e) => transport = Some(e)
          case Right(resp) =>
            failIfDenied(resp, path)
            if (!isErrorResponse(resp)) {
              val node = mapper.readTree(resp.body)
              // a 200 null/{}/[] is DEFINITIVE: the path is empty (an
              // empty database, or a subtree deleted since planning) —
              // retrying a correct answer ~33s just to abort the whole
              // export would turn "nothing here" into a failure
              if (isEmptyPayload(node)) return Right(Vector.empty)
              if (!node.isContainerNode) return Left(mapper.writeValueAsString(node))
              // sorted in the SERVER's cursor order (integer keys
              // first, numerically) — the go-deeper resume depends on it
              return Right(TreeCodec.children(node).map(_._1).toVector
                .sorted(KeyOrdering))
            }
        }
      }
      val failure = new BackupFailure(
        s"Could not get database shallow data for $path " +
          s"($ShallowRetries attempts)")
      transport.foreach(failure.initCause)
      throw failure
    }

    /** The child keys of `path` by [[listing]]. A path that holds a
      * scalar has none, as [[Export.subtree]] of it has no rows. */
    def shallowKeys(path: String): Vector[String] = listing(path).getOrElse(Vector.empty)

    /** The reference's `getData` loop (BackupProcessor.php:71-136):
      * paginate `path`, recursing into children too large to page. */
    def fetchSubtree(path: String, emit: TreeCodec.Edge => Unit): Unit = {
      // a path that holds a scalar IS one edge at its parent
      def leaf(json: String): Unit = {
        val (parent, key) = TreeCodec.splitPath(path)
        emit(TreeCodec.Edge(parent, key, json))
      }
      var firstKey: Option[String] = None
      var preserveLastKey = false
      var isLastPage = false
      var shallowCache: Vector[String] = null
      while (!isLastPage) {
        getPathsPaginated(path, firstKey, preserveLastKey) match {
          case ScalarLeaf(json) =>
            leaf(json)
            isLastPage = true
          case Page(data, lastKey, last) =>
            data.foreach { case (k, v) =>
              TreeCodec.flattenChild(path, k, v, emit) }
            firstKey = Some(lastKey)
            isLastPage = last
            preserveLastKey = false
          case GoDeeper =>
            // a leaf whose page GETs failed shows in its listing
            if (shallowCache == null) shallowCache =
              listing(path).fold(json => { leaf(json); Vector.empty }, identity)
            val shallow = shallowCache
            if (shallow.isEmpty) isLastPage = true
            else {
              // BackupProcessor.php:96-121: pick the ONE child to
              // descend into, then resume pagination at the next key
              val nextIdx: Option[Int] = firstKey match {
                case Some(fk) =>
                  val sub = if (preserveLastKey) -1 else 0
                  val cand = shallow.indexOf(fk) + 1 + sub
                  if (cand >= 0 && cand < shallow.size) Some(cand)
                  else { isLastPage = true; None }
                case None => Some(0)
              }
              nextIdx.foreach { i =>
                fetchSubtree(TreeCodec.childPath(path, shallow(i)), emit)
                if (i + 1 < shallow.size) {
                  firstKey = Some(shallow(i + 1))
                  preserveLastKey = true
                } else isLastPage = true
              }
            }
        }
      }
    }

    /** Materialized convenience (tests, per-task use). */
    def fetchTree(path: String): Seq[TreeCodec.Edge] = {
      val buf = Vector.newBuilder[TreeCodec.Edge]
      fetchSubtree(path, buf += _)
      buf.result()
    }

    /** [[fetchTree]] that STOPS WALKING once `limit` edges are
      * collected — the reference's `limitToFirst` effect
      * (BackupProcessor.php:165) lifted to the whole-subtree walk:
      * pages past the limit are never requested, not fetched-then-
      * dropped. Mid-walk pagination state is simply abandoned (the
      * walker is per-task and the caller discards it). */
    def fetchTreeLimited(path: String, limit: Int): Seq[TreeCodec.Edge] = {
      if (limit <= 0) return Vector.empty
      val buf = Vector.newBuilder[TreeCodec.Edge]
      var n = 0
      try fetchSubtree(path, { e =>
        buf += e; n += 1
        if (n >= limit) throw new LiveExport.StopWalk
      })
      catch { case _: LiveExport.StopWalk => () }
      buf.result()
    }

    /** Planning probe — the go-deeper verdict applied at PLAN time
      * instead of mid-walk. ONE floor-size page request
      * (`limitToFirst=MinIpp`): a floor page is a prefix of every larger
      * first page, so if even it is too large (the exact condition the
      * serial walker answers with recursion) no page size fits, and the
      * subtree is too fat to be one task's unit of work — return its
      * shallow children as independent work items. A failed probe does
      * the same, unless the listing finds a scalar. Anything else (a
      * normal page, a scalar leaf) means the path is walkable whole:
      * return empty. The probe page itself is discarded (edge data
      * never routes through the driver) and the walker's IPP state is
      * left untouched: the walk of a walkable path starts at its usual
      * first page size, so the probe costs one small GET, not a second
      * halving ladder. */
    def probeSplit(path: String): Seq[String] =
      fetchPage(path, None, preserveLastKey = false, MinIpp) match {
        // a listing that finds a scalar: walk the leaf whole
        case None => listing(path).fold(_ => Nil, _.map(TreeCodec.childPath(path, _)))
        case Some(_) => Nil
      }
  }

  /** `items` dealt round-robin into at most `defaultParallelism`
    * slices, one partition each — no shuffle stage in front of the
    * HTTP stage, and neighbouring siblings (often alike in size) land
    * in different tasks. */
  private def slices(spark: SparkSession, items: Seq[String]) = {
    val par = math.max(1, math.min(items.size,
      spark.sparkContext.defaultParallelism))
    val dealt = Vector.tabulate(par)(i =>
      items.indices.drop(i).by(par).map(items).toVector)
    spark.sparkContext.parallelize(dealt, par)
  }

  /** The go-deeper split loop, written once for [[plan]] and the DSv2
    * source's planning. Each round hands `probe` the first
    * `cap - planned` pending paths; `probe` answers each path's splits
    * (empty: the path is walkable whole). Walkable paths become work
    * items in probe order; the splits, followed by the paths not yet
    * probed, form the next round. The loop ends when nothing is
    * pending or `cap` work items are planned. */
  private[pipeline] def planRounds(
      first: Seq[String], cap: Int,
      probe: Seq[String] => Seq[(String, Seq[String])]): Seq[String] = {
    var pending = first
    val work = Vector.newBuilder[String]
    var planned = 0
    while (pending.nonEmpty && planned < cap) {
      val batch = pending.take(cap - planned)
      val verdicts = probe(batch)
      val walkable = verdicts.collect { case (p, splits) if splits.isEmpty => p }
      work ++= walkable
      planned += walkable.size
      pending = verdicts.flatMap(_._2) ++ pending.drop(batch.size)
    }
    work.result()
  }

  /** Work-list planner for the distributed export: [[planRounds]] from
    * the root's shallow children, uncapped. Each round probes every
    * pending path IN PARALLEL ([[Walker.probeSplit]]: one floor-page
    * fetch). Each task keeps up to [[InFlight.Window]] of its probes in
    * flight, one Walker per probed path, so a round costs about
    * paths / (tasks x Window) round trips, not paths / tasks. Only
    * PATHS flow through the driver — never edge data — and the number
    * of rounds is bounded by the depth of the fat spine, not the tree.
    *
    * This is what makes the export's parallelism granularity survive a
    * skewed database: the earlier planner assigned whole top-level
    * subtrees to tasks, so one fat subtree (the exact case go-deeper
    * exists for, BackupProcessor.php:96-127) was walked serially by
    * ONE task while the rest of the cluster idled. Now that subtree
    * splits into its children and drains cluster-wide. Page-size
    * settings send no different request: every probe is one floor
    * page. `walker` is called on the driver for the root listing, so
    * a bad setting fails there, before any request. */
  def plan(spark: SparkSession, walker: () => Walker,
           root: String = "/"): Seq[String] =
    planRounds(
      walker().shallowKeys(root)
        .map(TreeCodec.childPath(root, _)),
      Int.MaxValue,
      batch => slices(spark, batch).mapPartitions { it =>
        val paths = it.flatten.toVector
        paths.iterator.zip(InFlight.map(paths)(p =>
          walker().probeSplit(p)).iterator)
      }.collect().toSeq)

  /** Distributed live export: [[plan]] builds the work list (splitting
    * fat subtrees so no single task owns one), then each executor task
    * walks its assigned subtrees, up to [[InFlight.Window]] at once with
    * one Walker each — the cluster-wide form of the reference's
    * single-process tree walk. Work items are disjoint paths and each
    * path's page-size state lives in its item's Walker, so the C1-C3
    * laws and the requests sent are those of a serial walk; only their
    * timing overlaps. A task's edges come out in work-item order, once
    * its last item is walked.
    *
    * The walk runs ONCE, here: the returned frame is an eager
    * `localCheckpoint` of the walked edges, a materialized snapshot of
    * the database as of this call. Export.writeBackup's range sampler
    * and its shuffle (and any later action) read the stored edges
    * instead of re-running the HTTP walk, so a write to the database
    * after `export` returns never shows in the frame.
    *
    * @param clientFactory called once per work item ON THE EXECUTOR (the
    *        closure must be serializable; HttpRestClient instances are),
    *        from up to [[InFlight.Window]] threads of one task at once
    */
  def export(spark: SparkSession, clientFactory: () => RestClient,
             root: String = "/", maxIpp: Int = DefaultMaxIpp,
             startIpp: Option[Int] = None): DataFrame = {
    import spark.implicits._
    val walker = () => new Walker(clientFactory(), maxIpp, startIpp = startIpp)
    val items = plan(spark, walker, root)
    val edges = slices(spark, items).mapPartitions { it =>
      InFlight.map(it.flatten.toVector)(p => walker().fetchTree(p))
        .iterator.flatten
    }
    spark.createDataset(edges).toDF("path", "key", "value_json")
      .localCheckpoint(eager = true)
  }
}
