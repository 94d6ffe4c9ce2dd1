package graft

import com.fasterxml.jackson.databind.node.ObjectNode
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.sun.net.httpserver.{HttpExchange, HttpServer}

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** In-process stand-in for the Firebase Realtime Database REST surface
  * the reference consumes (no network in CI): a JSON tree behind
  * `com.sun.net.httpserver` (JDK-only) answering
  *
  *   GET  <path>.json?shallow=true                      -> {key: true,...}
  *   GET  <path>.json?orderBy="$key"&limitToFirst=N
  *                   [&startAt="k"]                     -> key-ordered page
  *   GET  <path>.json                                   -> whole node
  *   PATCH <path>.json  {k: v, ...}                     -> merge children
  *
  * Fault injection mirrors the failure modes the reference's loops
  * exist for: `maxPayloadBytes` makes oversized pages answer
  * `{"error":"Payload is too large"}` with HTTP 400 (Firebase's real
  * status for size-capped reads — the C2/C3 trigger,
  * BackupProcessor.php:174), `failShallow` makes the first N shallow
  * listings answer HTTP 503 (the <=10-retry path, :80-87), and
  * `maxPatchKeys` rejects PATCH bodies with more keys (drives the
  * restore's shrink loop, RestoreProcessor.php:82).
  *
  * Keys order in Firebase's `$key` cursor order — but deliberately
  * NOT via `LiveExport.KeyOrdering`: the stub hand-codes its own
  * `nameCompare` (below) straight from the server rule, so LiveSpec
  * tests client-vs-server FIDELITY rather than self-consistency. A
  * rule both sides got wrong the same way (e.g. the Unicode-digit
  * class) now disagrees in tests instead of passing silently.
  * All handlers synchronize on the tree (single test server).
  */
final class FirebaseStub(maxPayloadBytes: Int = Int.MaxValue,
                         failShallow: Int = 0,
                         maxPatchKeys: Int = Int.MaxValue) {
  private val mapper = new ObjectMapper()
  private var root: ObjectNode = mapper.createObjectNode()
  private val shallowFailsLeft = new AtomicInteger(failShallow)
  val getCount = new AtomicInteger(0)
  val patchCount = new AtomicInteger(0)
  /** Every GET's tree path (".json" stripped) and raw query string
    * ("" when absent), in arrival order — lets pushdown tests assert
    * which subtrees were never requested, and cost tests count
    * repeated (path, query) reads. */
  private val getLog =
    new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
  def getRequests: Seq[(String, String)] = getLog.asScala.toVector
  def getPaths: Seq[String] = getRequests.map(_._1)
  /** The client-side port of every request (GET and PATCH), in arrival
    * order: requests sharing a port shared one kept-alive connection. */
  private val portLog = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
  def remotePorts: Seq[Int] = portLog.asScala.toVector

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  server.createContext("/", (ex: HttpExchange) => handle(ex))
  server.start()

  def url: String = s"http://127.0.0.1:${server.getAddress.getPort}"
  def stop(): Unit = server.stop(0)

  def seed(json: String): Unit = synchronized {
    root = mapper.readTree(json).asInstanceOf[ObjectNode]
  }
  def snapshot(): String = synchronized { mapper.writeValueAsString(root) }

  private def nodeAt(path: String): JsonNode =
    if (path == "/" || path.isEmpty) root
    else path.stripPrefix("/").split('/')
      .foldLeft(root: JsonNode) { (n, seg) =>
        if (n == null) null
        else if (n.isObject) n.get(seg)
        else if (n.isArray && seg.forall(_.isDigit)) n.get(seg.toInt)
        else null
      }

  private def parseQuery(raw: String): Map[String, String] =
    if (raw == null || raw.isEmpty) Map.empty
    else raw.split('&').toSeq.map { kv =>
      val i = kv.indexOf('=')
      val dec = (s: String) =>
        java.net.URLDecoder.decode(s, StandardCharsets.UTF_8.name())
      if (i < 0) dec(kv) -> "" else dec(kv.take(i)) -> dec(kv.drop(i + 1))
    }.toMap

  /** A `startAt` parameter is a JSON value, as the server reads it: a
    * key holding '"' or '\' arrives escaped. */
  private def startKey(raw: String): String = mapper.readTree(raw).asText()

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  private def handle(ex: HttpExchange): Unit = synchronized {
    try {
      val uriPath = ex.getRequestURI.getPath
      if (!uriPath.endsWith(".json")) { respond(ex, 404, "null"); return }
      val path = {
        val p = uriPath.stripSuffix(".json")
        if (p.isEmpty) "/" else p
      }
      val rawQuery = Option(ex.getRequestURI.getRawQuery).getOrElse("")
      val q = parseQuery(rawQuery)
      portLog.add(ex.getRemoteAddress.getPort)
      val isPatch = ex.getRequestMethod == "PATCH" ||
        (ex.getRequestMethod == "POST" &&
          "PATCH" == ex.getRequestHeaders.getFirst("X-HTTP-Method-Override"))
      if (isPatch) {
        patchCount.incrementAndGet()
        val body = new String(ex.getRequestBody.readAllBytes(),
          StandardCharsets.UTF_8)
        val patch = mapper.readTree(body)
        if (!patch.isObject) { respond(ex, 400, """{"error":"bad patch"}"""); return }
        if (patch.size() > maxPatchKeys) {
          respond(ex, 400, """{"error":"Payload is too large"}"""); return
        }
        // materialize the parent chain, then replace each named child
        val target = {
          if (path == "/") root
          else path.stripPrefix("/").split('/').foldLeft(root) { (n, seg) =>
            n.get(seg) match {
              case o: ObjectNode => o
              case _ =>
                val c = mapper.createObjectNode()
                n.set[JsonNode](seg, c); c
            }
          }
        }
        patch.fields().asScala.foreach { e =>
          // Firebase update semantics: a null value DELETES the key
          if (e.getValue.isNull) target.remove(e.getKey)
          else target.set[JsonNode](e.getKey, e.getValue.deepCopy[JsonNode]())
        }
        respond(ex, 200, mapper.writeValueAsString(patch))
        return
      }
      // GET
      getCount.incrementAndGet()
      getLog.add(path -> rawQuery)
      val node = nodeAt(path)
      if (q.get("shallow").contains("true")) {
        if (shallowFailsLeft.get() > 0) {
          shallowFailsLeft.decrementAndGet()
          respond(ex, 503, """{"error":"Service unavailable"}"""); return
        }
        node match {
          case o: ObjectNode =>
            val out = mapper.createObjectNode()
            o.fieldNames().asScala.foreach(out.put(_, true))
            respond(ex, 200, mapper.writeValueAsString(out))
          case a: com.fasterxml.jackson.databind.node.ArrayNode =>
            // Firebase's array encoding: shallow over a dense
            // integer-keyed node answers [true, true, ...]
            val out = mapper.createArrayNode()
            a.elements().asScala.foreach { v =>
              if (v.isNull) out.addNull() else out.add(true)
            }
            respond(ex, 200, mapper.writeValueAsString(out))
          case null => respond(ex, 200, "null")
          case other => respond(ex, 200, mapper.writeValueAsString(other))
        }
        return
      }
      (q.get("orderBy"), node) match {
        case (Some("\"$key\""), o: ObjectNode) =>
          val limit = q.get("limitToFirst").map(_.toInt).getOrElse(Int.MaxValue)
          val startAt = q.get("startAt").map(startKey)
          val ord = FirebaseStub.NameCompare
          val keys = o.fieldNames().asScala.toVector.sorted(ord)
            .dropWhile(k => startAt.exists(s => ord.lt(k, s)))
            .take(limit)
          val page = mapper.createObjectNode()
          keys.foreach(k => page.set[JsonNode](k, o.get(k)))
          val body = mapper.writeValueAsString(page)
          if (body.getBytes(StandardCharsets.UTF_8).length > maxPayloadBytes)
            respond(ex, 400, """{"error":"Payload is too large"}""")
          else respond(ex, 200, body)
        case (Some("\"$key\""), a: com.fasterxml.jackson.databind.node.ArrayNode) =>
          // integer keys order NUMERICALLY; a filtered read of an
          // array node answers an ARRAY padded with nulls below the
          // first included index (Firebase REST array encoding)
          val limit = q.get("limitToFirst").map(_.toInt).getOrElse(Int.MaxValue)
          val start = q.get("startAt").map(startKey(_).toInt).getOrElse(0)
          val page = mapper.createArrayNode()
          (0 until math.min(start, a.size())).foreach(_ => page.addNull())
          (start until math.min(a.size(), start + limit))
            .foreach(i => page.add(a.get(i).deepCopy[JsonNode]()))
          val body = mapper.writeValueAsString(page)
          if (body.getBytes(StandardCharsets.UTF_8).length > maxPayloadBytes)
            respond(ex, 400, """{"error":"Payload is too large"}""")
          else respond(ex, 200, body)
        case (Some("\"$key\""), null) => respond(ex, 200, "null")
        case (Some("\"$key\""), scalar) =>
          // ordering a scalar: Firebase returns the scalar itself
          respond(ex, 200, mapper.writeValueAsString(scalar))
        case (None, null) => respond(ex, 200, "null")
        case (None, n) =>
          val body = mapper.writeValueAsString(n)
          if (body.getBytes(StandardCharsets.UTF_8).length > maxPayloadBytes)
            respond(ex, 400, """{"error":"Payload is too large"}""")
          else respond(ex, 200, body)
        case (Some(other), _) =>
          respond(ex, 400, s"""{"error":"unsupported orderBy $other"}""")
      }
    } catch {
      case e: Throwable =>
        try respond(ex, 500, s"""{"error":"${e.getMessage}"}""")
        catch { case _: Throwable => () }
    }
  }
}

object FirebaseStub {
  /** Independent re-implementation of Firebase's server-side
    * `nameCompare`, written from the published rule (integer names
    * first, numerically; then other names lexicographically; an
    * integer name is `-?0*[0-9]{1,10}` in ASCII digits whose value
    * fits in 32 bits; equal-value integer names tie-break shorter
    * string first). Deliberately NOT `LiveExport.KeyOrdering` — the
    * point is that client and "server" can disagree in tests. Java's
    * `\d` matches only ASCII [0-9] without UNICODE_CHARACTER_CLASS,
    * which is exactly Firebase's digit class. Adopted authority: the
    * JS SDK regex (unlimited leading zeros) — the Java/ObjC SDKs cap
    * key length at 11 chars, a documented divergence for zero-padded
    * keys like '000000000001' (see the KeyOrdering law in LiveSpec). */
  val NameCompare: Ordering[String] = new Ordering[String] {
    private val IntShape = java.util.regex.Pattern.compile("^(-?)0*(\\d{1,10})$")
    private def intName(k: String): Option[Long] = {
      val m = IntShape.matcher(k)
      if (!m.matches()) None
      else {
        val v = (if (m.group(1) == "-") -1L else 1L) * m.group(2).toLong
        if (v >= Int.MinValue.toLong && v <= Int.MaxValue.toLong) Some(v)
        else None
      }
    }
    override def compare(a: String, b: String): Int =
      (intName(a), intName(b)) match {
        case (Some(x), Some(y)) =>
          if (x != y) java.lang.Long.compare(x, y)
          else Integer.compare(a.length, b.length)
        case (Some(_), None) => -1
        case (None, Some(_)) => 1
        case (None, None)    => a.compareTo(b)
      }
  }
}
