package perfbench

import com.fasterxml.jackson.databind.node.{JsonNodeFactory, ObjectNode}
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.sun.net.httpserver.{HttpExchange, HttpServer}

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import java.util.concurrent.locks.ReentrantReadWriteLock
import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}
import scala.jdk.CollectionConverters._

/** The benchmark's own Firebase Realtime Database REST stand-in.
  *
  * Serves the slice of the REST surface the backup job uses:
  *
  *   GET   <path>.json?shallow=true
  *   GET   <path>.json?orderBy="$key"&limitToFirst=N[&startAt="k"]
  *   PATCH <path>.json  (or POST with X-HTTP-Method-Override: PATCH)
  *
  * Each object node keeps its children in a TreeMap ordered by
  * Firebase's `$key` rule, so a page is a tail-map walk, never a
  * re-sort. Reads share a read lock; PATCHes take the write lock.
  * Responses render objects whose keys are dense non-negative integers
  * as JSON arrays, as the service does. A page whose body exceeds
  * `maxPayloadBytes` answers 400 "Payload is too large"; a
  * PATCH with more than `maxPatchKeys` keys answers the same.
  *
  * Every request sleeps `delayMs` on its server thread before it is
  * answered (a fixed network round trip) and the server runs at most
  * `threads` handler threads, so request counts show in wall time the
  * way they would against the real service.
  *
  * Counters: requests by method and status, bytes in and out, handler
  * busy time (excluding the fixed delay), peak concurrency, and GETs
  * whose (path, query) was already served since the last [[resetPhase]].
  */
final class StandIn(maxPayloadBytes: Int, maxPatchKeys: Int,
                    delayMs: Int, threads: Int) {
  import StandIn._

  // without TCP_NODELAY the server's header and body writes meet the
  // client's delayed ACK, and every request waits ~40 ms
  System.setProperty("sun.net.httpserver.nodelay", "true")

  private val lock = new ReentrantReadWriteLock()
  private var root: Obj = new Obj

  private val server =
    HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 64)
  private val pool = Executors.newFixedThreadPool(threads)
  server.setExecutor(pool)
  server.createContext("/", (ex: HttpExchange) => handle(ex))
  server.start()

  def url: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  def stop(): Unit = {
    server.stop(0)
    pool.shutdown()
    pool.awaitTermination(30, TimeUnit.SECONDS)
  }

  @volatile private var phase = new Counters
  private val inflight = new AtomicInteger()

  /** Start a new counting phase and return the counters of the one
    * that ended. */
  def resetPhase(): Counters = { val p = phase; phase = new Counters; p }

  // ---- data -------------------------------------------------------------

  /** Replace the whole tree with `json` (an object). */
  def load(json: String): Unit = write {
    root = toNode(Mapper.readTree(json)) match {
      case o: Obj => o
      case _ => throw new IllegalArgumentException("root must be an object")
    }
  }

  /** The whole tree, rendered as the service would answer `GET /.json`. */
  def snapshot(): String = read {
    if (root.kids.isEmpty) "null" else Mapper.writeValueAsString(render(root))
  }

  // ---- request handling ---------------------------------------------------

  private def read[T](f: => T): T = {
    lock.readLock.lock(); try f finally lock.readLock.unlock()
  }
  private def write[T](f: => T): T = {
    lock.writeLock.lock(); try f finally lock.writeLock.unlock()
  }

  private def handle(ex: HttpExchange): Unit = {
    val c = phase
    val now = inflight.incrementAndGet()
    c.maxInflight.accumulateAndGet(now, math.max)
    try {
      if (delayMs > 0) Thread.sleep(delayMs.toLong)
      val t0 = System.nanoTime()
      val (method, status, body) =
        try serve(ex, c)
        catch {
          case e: Throwable =>
            ("ERR", 500, s"""{"error":${Mapper.writeValueAsString(String.valueOf(e))}}""")
        }
      val bytes = body.getBytes(StandardCharsets.UTF_8)
      c.busyNanos.addAndGet(System.nanoTime() - t0)
      c.byMethodStatus.computeIfAbsent(s"$method $status",
        _ => new AtomicLong()).incrementAndGet()
      c.bytesOut.addAndGet(bytes.length.toLong)
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(status, bytes.length.toLong)
      ex.getResponseBody.write(bytes)
    } finally {
      inflight.decrementAndGet()
      ex.close()
    }
  }

  private def serve(ex: HttpExchange, c: Counters): (String, Int, String) = {
    val uriPath = ex.getRequestURI.getPath
    if (!uriPath.endsWith(".json")) return ("GET", 404, "null")
    val path = {
      val p = uriPath.stripSuffix(".json")
      if (p.isEmpty || p == "/") "/" else p.stripSuffix("/")
    }
    val rawQuery = Option(ex.getRequestURI.getRawQuery).getOrElse("")
    val q = parseQuery(rawQuery)
    val isPatch = ex.getRequestMethod == "PATCH" ||
      (ex.getRequestMethod == "POST" &&
        "PATCH" == ex.getRequestHeaders.getFirst("X-HTTP-Method-Override"))
    if (isPatch) {
      val in = ex.getRequestBody.readAllBytes()
      c.bytesIn.addAndGet(in.length.toLong)
      val patch = Mapper.readTree(new String(in, StandardCharsets.UTF_8))
      if (!patch.isObject) return ("PATCH", 400, """{"error":"Invalid data"}""")
      if (patch.size() > maxPatchKeys) return ("PATCH", 400, TooLarge)
      write(applyPatch(segments(path), patch.asInstanceOf[ObjectNode]))
      c.patchKeysOk.addAndGet(patch.size().toLong)
      return ("PATCH", 200, Mapper.writeValueAsString(patch))
    }
    if (!c.seen.add(path + "?" + rawQuery)) c.repeatGets.incrementAndGet()
    if (q.get("shallow").contains("true")) {
      c.shallowGets.incrementAndGet()
      return ("GET", 200, read(shallow(path)))
    }
    if (!q.get("orderBy").contains("\"$key\""))
      return ("GET", 400, """{"error":"only shallow and orderBy=\"$key\" reads are served"}""")
    c.pageGets.incrementAndGet()
    val limit = q.get("limitToFirst").map(_.toInt).getOrElse(Int.MaxValue)
    val startAt = q.get("startAt").map(_.stripPrefix("\"").stripSuffix("\""))
    val body = read(page(path, startAt, limit))
    if (body.getBytes(StandardCharsets.UTF_8).length > maxPayloadBytes)
      ("GET", 400, TooLarge)
    else { c.pageGetsOk.incrementAndGet(); ("GET", 200, body) }
  }

  private def lookup(path: String): Node =
    segments(path).foldLeft(root: Node) {
      case (o: Obj, seg) => o.kids.get(seg)
      case _ => null
    }

  private def shallow(path: String): String = lookup(path) match {
    case null => "null"
    case o: Obj =>
      val out = Json.objectNode()
      o.kids.keySet.asScala.foreach(out.put(_, true))
      Mapper.writeValueAsString(arrayIfDense(out))
    case Leaf(v) => Mapper.writeValueAsString(v)
  }

  private def page(path: String, startAt: Option[String], limit: Int): String =
    lookup(path) match {
      case null => "null"
      case Leaf(v) => Mapper.writeValueAsString(v)
      case o: Obj =>
        val from = startAt match {
          case Some(s) => o.kids.tailMap(s, true)
          case None => o.kids
        }
        val out = Json.objectNode()
        val it = from.entrySet.iterator
        var n = 0
        while (n < limit && it.hasNext) {
          val e = it.next()
          out.set[JsonNode](e.getKey, render(e.getValue))
          n += 1
        }
        Mapper.writeValueAsString(arrayIfDense(out))
    }

  /** Firebase update: each named child is replaced, a null deletes it,
    * and nodes left without children disappear. */
  private def applyPatch(segs: Seq[String], patch: ObjectNode): Unit = {
    val chain = segs.scanLeft(root) { (o, seg) =>
      o.kids.get(seg) match {
        case c: Obj => c
        case _ => val c = new Obj; o.kids.put(seg, c); c
      }
    }
    val target = chain.last
    patch.fields().asScala.foreach { e =>
      if (e.getValue.isNull) target.kids.remove(e.getKey)
      else target.kids.put(e.getKey, toNode(e.getValue))
    }
    segs.indices.reverse.foreach { i =>
      if (chain(i + 1).kids.isEmpty) chain(i).kids.remove(segs(i))
    }
  }
}

object StandIn {
  private val Mapper = new ObjectMapper()
  private val Json = JsonNodeFactory.instance
  private val TooLarge = """{"error":"Payload is too large"}"""

  /** Request counters of one phase (see [[StandIn.resetPhase]]). */
  final class Counters {
    val byMethodStatus = new ConcurrentHashMap[String, AtomicLong]()
    val bytesIn = new AtomicLong()
    val bytesOut = new AtomicLong()
    val busyNanos = new AtomicLong()
    val repeatGets = new AtomicLong()
    val shallowGets = new AtomicLong()
    val pageGets = new AtomicLong()
    val pageGetsOk = new AtomicLong()
    val patchKeysOk = new AtomicLong()
    val maxInflight = new AtomicInteger()
    val seen: java.util.Set[String] = ConcurrentHashMap.newKeySet[String]()
    def count(method: String, status: Int): Long =
      Option(byMethodStatus.get(s"$method $status")).map(_.get).getOrElse(0L)
    def total(method: String): Long =
      byMethodStatus.asScala.collect {
        case (k, v) if k.startsWith(method + " ") => v.get
      }.sum
    def ok(method: String): Long =
      byMethodStatus.asScala.collect {
        case (k, v) if k.startsWith(method + " 2") => v.get
      }.sum
  }

  private sealed trait Node
  private final case class Leaf(value: JsonNode) extends Node
  private final class Obj extends Node {
    val kids = new java.util.TreeMap[String, Node](KeyOrder)
  }

  private def toNode(n: JsonNode): Node =
    if (n.isObject || n.isArray) {
      val o = new Obj
      if (n.isObject)
        n.fields().asScala.foreach(e => putChild(o, e.getKey, e.getValue))
      else
        n.elements().asScala.zipWithIndex.foreach { case (v, i) =>
          putChild(o, i.toString, v)
        }
      o
    } else Leaf(n)

  private def putChild(o: Obj, k: String, v: JsonNode): Unit =
    if (!v.isNull) {
      val c = toNode(v)
      c match {
        case x: Obj if x.kids.isEmpty => ()
        case _ => o.kids.put(k, c)
      }
    }

  private def render(n: Node): JsonNode = n match {
    case Leaf(v) => v
    case o: Obj =>
      val out = Json.objectNode()
      o.kids.entrySet.asScala.foreach(e => out.set[JsonNode](e.getKey, render(e.getValue)))
      arrayIfDense(out)
  }

  private val CanonicalIndex = "0|[1-9][0-9]{0,8}".r

  /** The service's array rendering: when every key is a canonical
    * non-negative integer and more than half of the slots 0..max are
    * filled, the object is answered as an array (holes are null). */
  private def arrayIfDense(o: ObjectNode): JsonNode = {
    val keys = o.fieldNames().asScala.toVector
    if (keys.isEmpty || !keys.forall(CanonicalIndex.matches)) o
    else {
      val idx = keys.map(_.toInt)
      val max = idx.max
      if (idx.size * 2 <= max + 1) o
      else {
        val arr = Json.arrayNode()
        (0 to max).foreach(i => arr.add(Option(o.get(i.toString)).getOrElse(Json.nullNode())))
        arr
      }
    }
  }

  private def segments(path: String): Seq[String] =
    if (path == "/" || path.isEmpty) Nil
    else path.stripPrefix("/").split('/').toSeq

  private def parseQuery(raw: String): Map[String, String] =
    if (raw.isEmpty) Map.empty
    else raw.split('&').toSeq.map { kv =>
      val dec = (s: String) => java.net.URLDecoder.decode(s, StandardCharsets.UTF_8)
      kv.indexOf('=') match {
        case -1 => dec(kv) -> ""
        case i => dec(kv.take(i)) -> dec(kv.drop(i + 1))
      }
    }.toMap

  /** Firebase's `$key` order: names that are 32-bit integers (optional
    * '-', ASCII digits, leading zeros allowed) first, numerically, equal
    * values shorter name first; then every other name by UTF-16 order. */
  val KeyOrder: Ordering[String] = new Ordering[String] {
    private val IntName = "(-?)0*([0-9]{1,10})".r
    private def intValue(k: String): Long = k match {
      case IntName(sign, digits) =>
        val v = digits.toLong * (if (sign == "-") -1 else 1)
        if (v >= Int.MinValue && v <= Int.MaxValue) v else Long.MinValue
      case _ => Long.MinValue
    }
    def compare(a: String, b: String): Int = {
      val (x, y) = (intValue(a), intValue(b))
      if (x != Long.MinValue && y != Long.MinValue) {
        if (x != y) java.lang.Long.compare(x, y)
        else Integer.compare(a.length, b.length)
      } else if (x != Long.MinValue) -1
      else if (y != Long.MinValue) 1
      else a.compareTo(b)
    }
  }
}
