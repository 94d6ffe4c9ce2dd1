package graft.pipeline

import java.io.IOException
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.net.{URI, URLEncoder}
import java.nio.charset.StandardCharsets
import java.time.Duration

/** Exponential retry pacing shared by the live walker's shallow-retry
  * loop and the restore drain. The reference retries back-to-back
  * (BackupProcessor.php:80-87, RestoreProcessor.php:82-94) — against a
  * real rate-limited database that burns the whole retry budget inside
  * the same quota window; pacing 100ms → 200 → 400 → ... capped at 10s
  * is the one deliberate production-shaped divergence. `attempt` is
  * 0-based (the delay BEFORE retry attempt+2). */
object Backoff {
  val BaseMs = 100L
  val CapMs = 10000L
  def delayMs(attempt: Int): Long =
    math.min(CapMs, BaseMs << math.min(attempt, 16))
}

/** One GET's outcome: HTTP status + raw body. Firebase signals real
  * errors (auth, size limits) with 4xx statuses AND an
  * `{"error": ...}` body; the status is what disambiguates them from
  * legitimate user data whose child KEY happens to be "error" — a page
  * read of such a node answers `{"error": <value>}` with 200, which is
  * indistinguishable from an error payload by shape alone. */
final case class RestResponse(status: Int, body: String)

/** Transport abstraction over the slice of the Firebase REST surface the
  * reference uses (via FirebaseLib — BackupProcessor.php:172 `get`,
  * RestoreProcessor.php:80 `update`):
  *
  *   GET   <base><path>.json?orderBy="$key"&limitToFirst=N[&startAt="k"]
  *   GET   <base><path>.json?shallow=true
  *   PATCH <base><path>.json   (merge-update of direct children)
  *
  * A trait so the pagination/restore logic is testable against an
  * in-process stub server (no network in CI) and fault-injectable;
  * Serializable so executor tasks can carry a client per partition in
  * the distributed export (LiveExport.export).
  */
trait RestClient extends Serializable {

  /** GET `path` with query params: the HTTP status and the raw JSON
    * body (see [[RestResponse]]). The reference's PHP lib discards the
    * status, which is why it must classify errors by body shape; the
    * walker here uses the status when the transport provides one.
    * Implementations that cannot report a status answer 200. Throws
    * IOException only on transport failure. */
  def getR(path: String, query: Map[String, String]): RestResponse

  /** PATCH `path` with a JSON object body (Firebase `update` — merge of
    * direct children). True on 2xx. The restore drain interprets false
    * as "shrink the batch" (RestoreProcessor.php:82). */
  def patch(path: String, bodyJson: String): Boolean
}

/** `java.net.http.HttpClient`-based client (JDK-only, no extra
  * dependencies). Stateless per call, so a single instance is safe to
  * share across threads and partition tasks; all fields are plain
  * Strings so the instance serializes into closures.
  *
  * Every instance in a JVM sends through ONE shared `HttpClient`
  * ([[HttpRestClient.shared]]), whose connection pool keeps every idle
  * socket: with [[InFlight.Window]] requests in flight per task, each
  * finished request hands its socket to the next one (one TLS handshake
  * saved per request against the real service). The JDK's older
  * `HttpURLConnection` keeps at most 5 idle sockets per host per JVM
  * (`http.maxConnections`), so at that width most sockets would close
  * after one request. Over https the client negotiates HTTP/2 and
  * multiplexes the requests on one connection; plain http (test
  * stand-ins) stays on HTTP/1.1. PATCH is sent as PATCH.
  *
  * @param baseUrl   e.g. `https://<project>.firebaseio.com` (or a test
  *                  stub's `http://localhost:<port>`)
  * @param authToken Firebase database secret / ID token, sent as the
  *                  `auth` query param exactly like the reference's
  *                  FirebaseLib (frdbackup config `project_key`)
  */
final class HttpRestClient(baseUrl: String,
                           authToken: Option[String] = None) extends RestClient {

  private def enc(s: String): String =
    URLEncoder.encode(s, StandardCharsets.UTF_8.name())

  // Firebase keys may contain URI-illegal characters (spaces, unicode —
  // only . $ # [ ] / are forbidden): each path SEGMENT percent-encodes
  // (URLEncoder is form-encoding, so its '+' must become '%20' in a
  // path), else `new URI` throws URISyntaxException mid-export
  private def encPath(path: String): String =
    path.split("/", -1).map(seg =>
      enc(seg).replace("+", "%20")).mkString("/")

  private def request(path: String, query: Map[String, String]): HttpRequest.Builder = {
    val p = if (path == "/" || path.isEmpty) "/" else encPath(path)
    val q = (query ++ authToken.map("auth" -> _))
      .map { case (k, v) => enc(k) + "=" + enc(v) }.mkString("&")
    val uri = new URI(baseUrl.stripSuffix("/") + p + ".json" +
      (if (q.isEmpty) "" else "?" + q))
    HttpRequest.newBuilder(uri)
      .version(if (uri.getScheme == "https") HttpClient.Version.HTTP_2
               else HttpClient.Version.HTTP_1_1)
      .timeout(HttpRestClient.ReadTimeout)
  }

  private def send(req: HttpRequest): HttpResponse[String] =
    HttpRestClient.shared.send(req,
      HttpResponse.BodyHandlers.ofString(StandardCharsets.UTF_8))

  override def getR(path: String,
                    query: Map[String, String]): RestResponse = {
    val resp = send(request(path, query).GET().build())
    RestResponse(resp.statusCode, resp.body)
  }

  override def patch(path: String, bodyJson: String): Boolean = {
    val req = request(path, Map.empty)
      .header("Content-Type", "application/json")
      .method("PATCH", HttpRequest.BodyPublishers.ofString(bodyJson,
        StandardCharsets.UTF_8))
      .build()
    try {
      val code = send(req).statusCode
      code >= 200 && code < 300
    } catch {
      case _: IOException => false // transport failure == failed batch
    }
  }
}

object HttpRestClient {
  private val ConnectTimeout = Duration.ofSeconds(10)
  /** How long one request may wait for its response. */
  private val ReadTimeout = Duration.ofSeconds(120)

  /** The JVM's one HTTP client: thread-safe, with a connection pool
    * that has no idle cap, so every executor JVM reuses its sockets at
    * any request concurrency. Redirects are followed as a browser
    * would (never https to http). */
  lazy val shared: HttpClient = HttpClient.newBuilder()
    .connectTimeout(ConnectTimeout)
    .followRedirects(HttpClient.Redirect.NORMAL)
    .build()
}
