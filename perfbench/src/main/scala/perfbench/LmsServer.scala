package perfbench

import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.sql.{Connection, DriverManager, PreparedStatement}
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** In-process LMS API: `POST /authenticate` and `GET /users?limit=&offset=`
  * serving one night's pre-rendered envelope pages. It counts what
  * crosses the wire. `firstUser` answers the source's page-count probe. */
final class LmsServer(threads: Int, apiKey: String, password: String,
    pages: Array[Array[Byte]], pageSize: Int, total: Int, firstUser: String) {
  val requests = new AtomicLong()
  val authRequests = new AtomicLong()
  val non200 = new AtomicLong()
  val pageNanos = new ConcurrentLinkedQueue[java.lang.Long]()
  private val token = "tok-lms"
  private val pool = Executors.newFixedThreadPool(threads)
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  server.setExecutor(pool)
  server.createContext("/", (ex: HttpExchange) => handle(ex))
  server.start()

  def baseUrl: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  def resetCounters(): Unit = {
    requests.set(0); authRequests.set(0); non200.set(0); pageNanos.clear()
  }

  def pageMsP50: Double = {
    val xs = pageNanos.asScala.toSeq.map(_.longValue / 1e6)
    if (xs.isEmpty) 0.0 else Stats.median(xs)
  }

  private def respond(ex: HttpExchange, code: Int, body: Array[Byte]): Unit = {
    if (code != 200) non200.incrementAndGet()
    ex.getResponseHeaders.add("content-type", "application/json")
    ex.sendResponseHeaders(code, body.length.toLong)
    val os = ex.getResponseBody
    try os.write(body) finally os.close()
  }

  private def text(s: String) = s.getBytes(StandardCharsets.UTF_8)

  private def handle(ex: HttpExchange): Unit = {
    val t0 = System.nanoTime()
    requests.incrementAndGet()
    try {
      val path = ex.getRequestURI.getPath
      val keyOk = ex.getRequestHeaders.getFirst("x-api-key") == apiKey
      if (!keyOk) respond(ex, 404, text("""{"error":"not found"}"""))
      else if (path == "/authenticate") {
        authRequests.incrementAndGet()
        val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
        if (ex.getRequestMethod == "POST" && body.contains(s""""password":"$password""""))
          respond(ex, 200, text(s"""{"access_token":"$token"}"""))
        else respond(ex, 401, text("""{"error":"bad credentials"}"""))
      } else if (path == "/users") {
        if (ex.getRequestHeaders.getFirst("Authorization") != s"Bearer $token")
          respond(ex, 401, text("""{"error":"unauthorized"}"""))
        else {
          val q = Option(ex.getRequestURI.getRawQuery).getOrElse("").split("&")
            .filter(_.contains("=")).map { kv =>
              val Array(k, v) = kv.split("=", 2); k -> v }.toMap
          val limit = q.getOrElse("limit", "0").toInt
          val offset = q.getOrElse("offset", "0").toInt
          if (limit == pageSize && offset % limit == 0 && offset / limit < pages.length) {
            respond(ex, 200, pages(offset / limit))
            pageNanos.add(System.nanoTime() - t0)
          } else if (limit == 1 && offset == 0)
            respond(ex, 200, text(s"""{"totalItems":$total,"limit":1,"offset":0,""" +
              s""""returnedItems":1,"users":[$firstUser]}"""))
          else respond(ex, 400, text("""{"error":"unsupported page"}"""))
        }
      } else respond(ex, 404, text("""{"error":"not found"}"""))
    } catch {
      case e: Throwable =>
        non200.incrementAndGet()
        throw e
    }
  }

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(30, TimeUnit.SECONDS): Unit
  }
}

/** JDBC connection factory that counts connections, executed batches,
  * commits and rollbacks of the connections it hands out. Executors run
  * in the benchmark's JVM, so the counters are process-wide. */
object CountingJdbc {
  val connections = new AtomicLong()
  val batches = new AtomicLong()
  val commits = new AtomicLong()
  val rollbacks = new AtomicLong()
  /** The first JDBC call that failed: the writer's rollback after a
    * failure can raise its own error and hide the cause. */
  val firstError = new java.util.concurrent.atomic.AtomicReference[String]()

  def reset(): Unit = {
    connections.set(0); batches.set(0); commits.set(0); rollbacks.set(0); firstError.set(null)
  }

  def factory(url: String): () => Connection = () => open(url)

  def open(url: String): Connection = {
    connections.incrementAndGet()
    wrap(DriverManager.getConnection(url), classOf[Connection]) { name =>
      if (name == "commit") commits.incrementAndGet()
      if (name == "rollback") rollbacks.incrementAndGet()
    }
  }

  private def wrap[T](target: T, iface: Class[T])(onCall: String => Unit): T = {
    val handler = new InvocationHandler {
      override def invoke(p: Any, m: Method, args: Array[AnyRef]): AnyRef = {
        onCall(m.getName)
        val out =
          try m.invoke(target, (if (args == null) Array.empty[AnyRef] else args): _*)
          catch {
            case e: InvocationTargetException =>
              firstError.compareAndSet(null, s"${m.getName}: ${e.getCause}")
              throw e.getCause
          }
        out match {
          case ps: PreparedStatement if m.getName == "prepareStatement" =>
            wrap(ps, classOf[PreparedStatement]) { n =>
              if (n == "executeBatch") batches.incrementAndGet()
            }
          case o => o
        }
      }
    }
    Proxy.newProxyInstance(getClass.getClassLoader, Array[Class[_]](iface), handler)
      .asInstanceOf[T]
  }
}
