package graft.sources

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.time.Duration
import java.util.concurrent.ConcurrentHashMap

import com.fasterxml.jackson.databind.ObjectMapper

/** Connection/auth config for the live REST fetch layer — the executed
  * analog of the reference's Lambda env contract
  * (`src/lms_to_s3_lambda.py:17-24`: REST_API_URL, LMS_USERNAME,
  * LMS_PASSWORD, LMS_PRIVATE_KEY). Plain strings so the whole config
  * ships to executors; nothing driver-bound is captured. */
case class RestAuthConfig(baseUrl: String, username: String,
    password: String, privateKey: String) extends Serializable

/** Live HTTP fetch layer for [[PagedRestSource]] — the real twin of the
  * reference's auth + extract (`src/lms_to_s3_lambda.py:16-51`):
  *
  *  - `authenticate()` POSTs `{baseUrl}/authenticate` with the JSON
  *    payload `{username, password, privateKey}` and the
  *    `x-api-key`/`x-api-version: 2` headers (`:18-26`), and accepts
  *    either a bare JSON string token or an object carrying
  *    `access_token`/`token` (the reference interpolates whatever
  *    `json.loads` returns at `:30`, so both shapes occur in the wild).
  *  - `fetchPage()` GETs `{baseUrl}/users?limit=N&offset=M` with
  *    `Authorization: Bearer <token>` + the same two headers (`:36-44`),
  *    forwarding an optional server-side `_filter` expression exactly
  *    like the reference's `params` (`:196-200`), and decodes the
  *    reference envelope `{totalItems, limit, offset, returnedItems,
  *    users: [...]}` (`:79-80`).
  *
  * Tokens are cached per (JVM, baseUrl, username): on a 1000-executor
  * cluster every task re-authenticating would turn the token endpoint
  * into a DDoS target — one POST per executor JVM is the ceiling, and
  * a 401 on a cached token invalidates + retries once (token expiry
  * mid-job). Built on `java.net.http.HttpClient` (JDK) and Jackson
  * (already on Spark's runtime classpath) — no new dependencies. Every
  * instance in a JVM sends through one `HttpClient`
  * ([[HttpRestClient.http]]), so one selector thread and one connection
  * pool serve every partition's reader and the planning probe. */
class HttpRestClient(cfg: RestAuthConfig) extends Serializable {

  import HttpRestClient.http
  @transient private lazy val om = new ObjectMapper()

  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** POST /authenticate → token (reference `get_access_token`). */
  private[sources] def authenticate(): String = {
    val payload = s"""{"username":${jsonStr(cfg.username)},""" +
      s""""password":${jsonStr(cfg.password)},""" +
      s""""privateKey":${jsonStr(cfg.privateKey)}}"""
    val req = HttpRequest.newBuilder(URI.create(s"${cfg.baseUrl}/authenticate"))
      .header("x-api-key", cfg.privateKey)
      .header("x-api-version", "2")
      .header("content-type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(payload, StandardCharsets.UTF_8))
      .build()
    val resp = http.send(req, HttpResponse.BodyHandlers.ofString())
    if (resp.statusCode() != 200)
      throw new RuntimeException(
        s"Failed to obtain access token: HTTP ${resp.statusCode()} from ${cfg.baseUrl}/authenticate")
    val node = om.readTree(resp.body())
    if (node.isTextual) node.asText()
    else if (node.hasNonNull("access_token")) node.get("access_token").asText()
    else if (node.hasNonNull("token")) node.get("token").asText()
    else throw new RuntimeException(
      s"Unrecognized /authenticate response shape: ${resp.body().take(200)}")
  }

  private def token: String =
    HttpRestClient.tokenCache.computeIfAbsent(
      s"${cfg.baseUrl}|${cfg.username}", _ => authenticate())

  private def invalidateToken(): Unit =
    HttpRestClient.tokenCache.remove(s"${cfg.baseUrl}|${cfg.username}")

  private def get(url: String, tok: String): HttpResponse[String] = {
    val req = HttpRequest.newBuilder(URI.create(url))
      .header("Authorization", s"Bearer $tok")
      .header("x-api-key", cfg.privateKey)
      .header("x-api-version", "2")
      .GET().build()
    http.send(req, HttpResponse.BodyHandlers.ofString())
  }

  /** GET one page of the users endpoint (reference `extract_data` with
    * the list_users endpoint + limit/offset paging). Returns the raw
    * user records plus the envelope's totalItems. */
  def fetchPage(limit: Int, offset: Int, filter: Option[String])
      : (Seq[RestUser], Long) = {
    val f = filter.fold("")(v =>
      "&_filter=" + java.net.URLEncoder.encode(v, "UTF-8"))
    val url = s"${cfg.baseUrl}/users?limit=$limit&offset=$offset$f"
    var resp = get(url, token)
    if (resp.statusCode() == 401) { // cached token expired → re-auth once
      invalidateToken()
      resp = get(url, token)
    }
    if (resp.statusCode() != 200)
      throw new RuntimeException(
        s"Failed to retrieve data: HTTP ${resp.statusCode()} from $url")
    val root = om.readTree(resp.body())
    val total = if (root.hasNonNull("totalItems")) root.get("totalItems").asLong() else -1L
    val users = root.get("users")
    if (users == null || !users.isArray)
      throw new RuntimeException(
        s"Envelope missing 'users' array: ${resp.body().take(200)}")
    val out = Seq.newBuilder[RestUser]
    users.forEach { u =>
      out += RestUser(
        id = u.get("id").asLong(),
        firstName = if (u.hasNonNull("firstName")) u.get("firstName").asText() else "",
        departmentId = if (u.hasNonNull("departmentId")) u.get("departmentId").asText() else "",
        activeStatus = if (u.hasNonNull("activeStatus")) u.get("activeStatus").asInt() else 0)
    }
    (out.result(), total)
  }

  /** Driver-side probe: totalItems from a limit-1 page — how the source
    * learns the page count when the caller doesn't pin `pages`. */
  def probeTotalItems(filter: Option[String]): Long = fetchPage(1, 0, filter)._2
}

object HttpRestClient {
  /** The JVM's one client, shared by every partition's reader: each
    * `HttpClient` starts its own selector thread and keeps its own
    * connection pool. */
  private lazy val http: HttpClient = HttpClient.newBuilder()
    .connectTimeout(Duration.ofSeconds(10)).build()

  /** Per-JVM token cache keyed by (baseUrl, username) — bounds auth
    * traffic to one POST per executor JVM regardless of task count. */
  private val tokenCache = new ConcurrentHashMap[String, String]()

  /** Test seams: drop all cached tokens (fresh-auth scenarios) / plant
    * a stale one (expiry-retry scenarios). */
  private[graft] def clearTokenCache(): Unit = tokenCache.clear()
  private[graft] def seedToken(key: String, tok: String): Unit =
    tokenCache.put(key, tok)
}

/** One raw user record in the reference's pre-rename field shape
  * (`src/lms_to_s3_lambda.py:100-103`: id, firstName, departmentId,
  * activeStatus — the P3 bulk rename happens downstream, not here). */
case class RestUser(id: Long, firstName: String, departmentId: String,
    activeStatus: Int)
