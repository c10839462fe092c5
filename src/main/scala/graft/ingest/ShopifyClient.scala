package graft.ingest

import scala.annotation.tailrec

/** Paginated/retrying Shopify REST client (S1/S2 —
  * `/root/reference/shopify.py:96-203`) with an injectable [[Transport]]
  * so the offline environment runs against fixtures (SURVEY §7.4 risk 8).
  *
  * Reference constants reproduced: 10 retries, 4 s base wait, ×1.5 backoff
  * (`shopify.py:9-11`); page limit 250; `status=any` unless disabled
  * (`shopify.py:131-141`).
  *
  * Fixed reference bug (documented): `fetch_single` hardcodes the store
  * URL (`shopify.py:175-177`) — here every request uses the configured
  * base URL.
  */
object ShopifyClient {

  final case class HttpResponse(status: Int, reason: String,
                                headers: Map[String, String], body: String)

  /** The seam between the client and the network. Implementations must be
    * Serializable so fan-outs can run inside executors (mapPartitions).
    */
  trait Transport extends Serializable {
    def get(url: String, params: Map[String, String]): HttpResponse
  }

  /** Production transport over java.net.http (JDK built-in, no extra
    * dependency): URL-encoded query parameters, HTTP Basic auth with the
    * API key and password. `ShopifyClientSpec` runs it against a loopback
    * HTTP server (parameters, auth header, Link paging, retries).
    */
  final class UrlTransport(apiKey: String, apiPass: String,
                           timeoutMs: Long = 30000) extends Transport {
    @transient private lazy val client = java.net.http.HttpClient.newBuilder()
      .connectTimeout(java.time.Duration.ofMillis(timeoutMs)).build()
    def get(url: String, params: Map[String, String]): HttpResponse = {
      val qs = params.map { case (k, v) =>
        java.net.URLEncoder.encode(k, "UTF-8") + "=" + java.net.URLEncoder.encode(v, "UTF-8")
      }.mkString("&")
      val sep = if (url.contains("?")) "&" else "?"
      val full = if (qs.isEmpty) url else s"$url$sep$qs"
      val auth = java.util.Base64.getEncoder.encodeToString(
        s"$apiKey:$apiPass".getBytes("UTF-8"))
      val req = java.net.http.HttpRequest.newBuilder(java.net.URI.create(full))
        .timeout(java.time.Duration.ofMillis(timeoutMs))
        .header("Authorization", s"Basic $auth")
        .GET().build()
      val resp = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
      val headers = resp.headers().map().entrySet().iterator()
      val b = Map.newBuilder[String, String]
      while (headers.hasNext) {
        val e = headers.next()
        if (!e.getValue.isEmpty) b += (e.getKey -> e.getValue.get(0))
      }
      // normalize the Link header casing (HTTP/2 lowercases field names)
      val hm = b.result()
      val withLink = hm.get("link").map(v => hm + ("Link" -> v)).getOrElse(hm)
      HttpResponse(resp.statusCode(), "", withLink, resp.body())
    }
  }

  /** Deterministic fixture transport: exact-match on (url, params-subset). */
  final class FixtureTransport(fixtures: Map[String, String]) extends Transport {
    def get(url: String, params: Map[String, String]): HttpResponse = {
      val key = url + params.get("page_info").map("?page_info=" + _).getOrElse("")
      fixtures.get(key) match {
        case Some(body) => HttpResponse(200, "OK", linkHeaderFor(key), body)
        case None       => HttpResponse(404, "Not Found", Map.empty, "{}")
      }
    }
    private def linkHeaderFor(key: String): Map[String, String] =
      fixtures.get(key + "::next") match {
        case Some(next) => Map("Link" -> s"""<$next>; rel="next"""")
        case None       => Map.empty
      }
  }

  /** Mutable token-bucket state (guarded by its own monitor in acquire). */
  private final class TokenBucket(capacity: Double) {
    var tokens: Double = capacity // start full: first burst is immediate
    var last: Long = Long.MinValue
    def refill(now: Long, ratePerSec: Double): Unit = {
      if (last == Long.MinValue) last = now
      val elapsed = (now - last) / 1e9
      tokens = math.min(capacity, tokens + elapsed * ratePerSec)
      last = now
    }
  }

  /** `pagination_links` (`shopify.py:96-109`): extract rel links from the
    * `Link` header, then the `page_info` cursor of the `next` link.
    */
  def nextPageCursor(linkHeader: Option[String]): Option[String] = {
    linkHeader.flatMap { h =>
      val relRe = """<([^>]*)>;\s*rel="([a-z]+)"""".r
      val next = relRe.findAllMatchIn(h).collectFirst {
        case m if m.group(2) == "next" => m.group(1)
      }
      next.flatMap { url =>
        """(?<=page_info=)[^&>]*""".r.findFirstIn(url)
      }
    }
  }
}

final class ShopifyClient(
    transport: ShopifyClient.Transport,
    baseUrl: String,
    retryLimit: Int = 10,
    retryWaitMs: Long = 4000,
    retryIncrease: Double = 1.5,
    sleeper: Long => Unit = Thread.sleep,
    maxRequestsPerSec: Double = 0.0,
    nanoTime: () => Long = () => System.nanoTime(),
) extends Serializable {
  import ShopifyClient._

  /** Token bucket honoring Shopify's REST leaky bucket (`shopify.py:9-11`
    * context): burst capacity = one second's worth of tokens, refilled at
    * `maxRequestsPerSec` (0 disables). The bucket is `@transient lazy`, so
    * every deserialized client copy — one per mapPartitions task in the
    * fan-outs — gets its OWN bucket: with P partitions, configure
    * `maxRequestsPerSec = shopTotalRate / P`. `sleeper`/`nanoTime` are
    * injectable as a consistent pair for fake-clock testing.
    */
  @transient private lazy val bucket = new ShopifyClient.TokenBucket(
    math.max(1.0, maxRequestsPerSec))

  private def acquire(): Unit = if (maxRequestsPerSec > 0) bucket.synchronized {
    var acquired = false
    while (!acquired) {
      val now = nanoTime()
      bucket.refill(now, maxRequestsPerSec)
      if (bucket.tokens >= 1.0) { bucket.tokens -= 1.0; acquired = true }
      else {
        val needMs = math.ceil((1.0 - bucket.tokens) / maxRequestsPerSec * 1000).toLong
        sleeper(needMs)
      }
    }
  }

  /** `fetch_all` (`shopify.py:112-163`): GET with retry/backoff, returning
    * (body, nextCursor).
    */
  def fetchPage(endpoint: String, fields: Seq[String], limit: Int = 250,
                createdAtMin: Option[String] = None, createdAtMax: Option[String] = None,
                filterOnStatus: Boolean = true,
                order: Option[String] = None,
                pageInfo: Option[String] = None): (String, Option[String]) = {
    // When paging with page_info, Shopify forbids most other params
    val params: Map[String, String] = pageInfo match {
      case Some(p) => Map("limit" -> limit.toString, "page_info" -> p)
      case None =>
        Map("limit" -> limit.toString, "fields" -> fields.mkString(",")) ++
          (if (filterOnStatus) Map("status" -> "any") else Map.empty) ++
          createdAtMin.map("created_at_min" -> _) ++
          createdAtMax.map("created_at_max" -> _) ++
          order.map("order" -> _)
    }
    val resp = getWithRetry(s"$baseUrl$endpoint", params)
    (resp.body, nextPageCursor(resp.headers.get("Link")))
  }

  /** Full page loop: bodies of every page, in order. */
  def fetchAll(endpoint: String, fields: Seq[String], limit: Int = 250,
               createdAtMin: Option[String] = None, createdAtMax: Option[String] = None,
               filterOnStatus: Boolean = true): Seq[String] = {
    @tailrec def loop(cursor: Option[String], seen: Set[String],
                      acc: Vector[String]): Vector[String] = {
      val (body, next) = fetchPage(endpoint, fields, limit, createdAtMin,
        createdAtMax, filterOnStatus, pageInfo = cursor)
      val acc2 = acc :+ body
      next match {
        case Some(c) =>
          // A server re-issuing ANY previously-seen cursor (echo of the one
          // just used, or a longer A→B→A cycle) would loop forever — fail
          // loudly instead (also catches caller-side cursor plumbing bugs:
          // the echo form of this stall once shipped as a positional-arg
          // slip). The seen-set is bounded by the true page count.
          if (seen.contains(c)) throw new IllegalStateException(
            s"$endpoint pagination cycled back to cursor $c after ${acc2.size} pages")
          loop(next, seen + c, acc2)
        case None => acc2
      }
    }
    loop(None, Set.empty, Vector.empty)
  }

  /** Resource count via the REST count endpoint (`<resource>/count.json`):
    * one request returns `{"count": N}` for the whole `created_at` window —
    * the transfer-free answer to `SELECT count(*)` that the DSv2 scan's
    * aggregate pushdown targets. Same bound semantics as [[fetchPage]].
    */
  def fetchCount(endpoint: String,
                 createdAtMin: Option[String] = None,
                 createdAtMax: Option[String] = None,
                 filterOnStatus: Boolean = true): Long = {
    val params: Map[String, String] =
      (if (filterOnStatus) Map("status" -> "any") else Map.empty[String, String]) ++
        createdAtMin.map("created_at_min" -> _) ++
        createdAtMax.map("created_at_max" -> _)
    val body = getWithRetry(s"$baseUrl$endpoint", params).body
    """"count"\s*:\s*(\d+)""".r.findFirstMatchIn(body).map(_.group(1).toLong)
      .getOrElse(throw new RuntimeException(
        s"count endpoint returned no count: ${body.take(200)}"))
  }

  /** `fetch_single` (`shopify.py:166-203`): per-order sub-resource. */
  def fetchOrderResource(orderId: Long, resource: String, fields: Seq[String]): String =
    getWithRetry(s"$baseUrl" + s"orders/$orderId/$resource.json",
      Map("fields" -> fields.mkString(","))).body

  private def getWithRetry(url: String, params: Map[String, String]): HttpResponse = {
    var waitMs = retryWaitMs
    var attempt = 0
    while (true) {
      acquire() // rate limit covers first tries AND retries
      val resp = transport.get(url, params)
      if (resp.status == 200) return resp
      attempt += 1
      if (attempt >= retryLimit)
        throw new RuntimeException(
          s"$attempt unsuccessful requests from $url. " +
            s"Error code ${resp.status}, reason: ${resp.reason}")
      sleeper(waitMs)
      waitMs = (waitMs * retryIncrease).toLong
    }
    throw new IllegalStateException("unreachable")
  }
}
