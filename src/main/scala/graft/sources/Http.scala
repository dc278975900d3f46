package graft.sources

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration
import scala.jdk.CollectionConverters._

/** One fetched page: status + lower-cased first-value headers + body. */
final case class Page(status: Int, headers: Map[String, String], body: String) {
  def header(name: String): Option[String] = headers.get(name.toLowerCase)
}

/** Client-side fetch policy. Plain data only, so it is Serializable and
  * executor-side page fetches can carry it.
  *
  * @param headers        static request headers (auth tokens etc.)
  * @param maxAttempts    total tries per URL (first + retries)
  * @param baseBackoffMs  backoff for attempt n is `base << (n-1)`, capped
  * @param maxBackoffMs   backoff cap
  * @param requestTimeoutMs per-request timeout
  */
final case class HttpConf(
    headers: Map[String, String] = Map.empty,
    maxAttempts: Int = 5,
    baseBackoffMs: Long = 25L,
    maxBackoffMs: Long = 2000L,
    requestTimeoutMs: Long = 30000L) {
  def withBearer(token: String): HttpConf =
    copy(headers = headers + ("Authorization" -> s"Bearer $token"))
  def withBasicAuth(user: String, pass: String): HttpConf = {
    val b64 = java.util.Base64.getEncoder.encodeToString(s"$user:$pass".getBytes("UTF-8"))
    copy(headers = headers + ("Authorization" -> s"Basic $b64"))
  }
}

final case class HttpFailure(status: Int, url: String, attempts: Int, detail: String)
    extends RuntimeException(s"HTTP $status after $attempts attempt(s) for $url: $detail")

/** Minimal retrying HTTP GET on the JDK 11+ client (no extra deps).
  *
  * Retry policy (the part of the reference ETLs' extraction layer that its
  * Python API clients handled implicitly — `square_ETL.py:79-96` just
  * catches `ApiException`):
  *   - 2xx → return the page.
  *   - 429 / 503 → honor `Retry-After` (seconds) when present, else back off.
  *   - other 5xx and transport `IOException`s → exponential backoff.
  *   - other 4xx → fail fast (a bad token never fixes itself by retrying).
  * Backoff is deterministic (no jitter): page fetches of one extraction run
  * against one host gain nothing from jitter, and determinism keeps specs
  * exact.
  */
object Http {

  def newClient(): HttpClient =
    HttpClient.newBuilder().connectTimeout(Duration.ofSeconds(10)).build()

  def get(client: HttpClient, url: String, conf: HttpConf): Page = {
    var attempt = 0
    var lastDetail = ""
    while (attempt < conf.maxAttempts) {
      attempt += 1
      val req = {
        val b = HttpRequest
          .newBuilder(URI.create(url))
          .timeout(Duration.ofMillis(conf.requestTimeoutMs))
          .GET()
        conf.headers.foreach { case (k, v) => b.header(k, v) }
        b.build()
      }
      val respOpt =
        try Some(client.send(req, HttpResponse.BodyHandlers.ofString()))
        catch {
          case e: java.io.IOException => lastDetail = s"${e.getClass.getSimpleName}: ${e.getMessage}"; None
          case e: InterruptedException => throw e
        }
      respOpt match {
        case Some(r) if r.statusCode() >= 200 && r.statusCode() < 300 =>
          return Page(r.statusCode(), flatten(r), r.body())
        case Some(r) if r.statusCode() == 429 || r.statusCode() >= 500 =>
          lastDetail = s"body=${r.body().take(200)}"
          if (attempt < conf.maxAttempts) {
            val retryAfterMs = r
              .headers()
              .firstValue("Retry-After")
              .map[Option[Long]](s => s.toLongOption.map(_ * 1000L))
              .orElse(None)
            sleep(retryAfterMs.getOrElse(backoff(attempt, conf)))
          } else throw HttpFailure(r.statusCode(), url, attempt, lastDetail)
        case Some(r) =>
          throw HttpFailure(r.statusCode(), url, attempt, s"body=${r.body().take(200)}")
        case None =>
          if (attempt >= conf.maxAttempts) throw HttpFailure(-1, url, attempt, lastDetail)
          sleep(backoff(attempt, conf))
      }
    }
    throw HttpFailure(-1, url, attempt, lastDetail) // unreachable; keeps the compiler total
  }

  private def backoff(attempt: Int, conf: HttpConf): Long =
    // clamp the exponent: a large maxAttempts would overflow the shift
    // into a negative "backoff" and turn the retry loop into a hot loop
    math.min(conf.baseBackoffMs << math.min(attempt - 1, 20), conf.maxBackoffMs)

  private def sleep(ms: Long): Unit = if (ms > 0) Thread.sleep(ms)

  private def flatten(r: HttpResponse[String]): Map[String, String] =
    r.headers().map().asScala.iterator.collect {
      case (k, vs) if !vs.isEmpty => k.toLowerCase -> vs.get(0)
    }.toMap
}
