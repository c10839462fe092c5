package graft.ingest

import java.net.{InetAddress, InetSocketAddress}
import java.nio.charset.StandardCharsets.UTF_8
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.scalatest.funsuite.AnyFunSuite
import ShopifyClient._

/** Unit coverage for the S1/S2 client semantics: Link-header cursor
  * parsing, the 10×/4s/×1.5 retry policy, page-loop termination, and the
  * page_info parameter switch. No Spark needed. [[UrlTransport]] runs
  * against the JDK's HTTP server on the loopback interface.
  */
class ShopifyClientSpec extends AnyFunSuite {

  test("nextPageCursor parses the reference Link header shape") {
    val h = """<https://x.myshopify.com/admin/api/2021-07/orders.json?page_info=abc123&limit=250>; rel="next", <https://x.myshopify.com/admin?page_info=zzz>; rel="previous""""
    assert(nextPageCursor(Some(h)).contains("abc123"))
    assert(nextPageCursor(Some("""<https://x/a?page_info=only>; rel="previous"""")).isEmpty)
    assert(nextPageCursor(None).isEmpty)
  }

  /** Transport scripted to fail n times then succeed. */
  private final class Flaky(failures: Int, body: String = "{}") extends Transport {
    var calls = 0
    def get(url: String, params: Map[String, String]): HttpResponse = {
      calls += 1
      if (calls <= failures) HttpResponse(429, "Too Many Requests", Map.empty, "")
      else HttpResponse(200, "OK", Map.empty, body)
    }
  }

  test("retry policy: backoff sequence 4s ×1.5, success after transient failures") {
    val waits = scala.collection.mutable.ArrayBuffer.empty[Long]
    val t = new Flaky(3)
    val c = new ShopifyClient(t, "https://base/", sleeper = waits.append(_))
    val (body, next) = c.fetchPage("orders.json", Seq("id"))
    assert(body == "{}" && next.isEmpty)
    assert(t.calls == 4)
    assert(waits.toSeq == Seq(4000L, 6000L, 9000L))
  }

  test("retry policy: gives up after the limit with the reference message") {
    val t = new Flaky(100)
    val c = new ShopifyClient(t, "https://base/", retryLimit = 3, sleeper = _ => ())
    val e = intercept[RuntimeException](c.fetchPage("orders.json", Seq("id")))
    assert(e.getMessage.contains("3 unsuccessful requests"))
    assert(e.getMessage.contains("429"))
  }

  test("page loop follows cursors and passes page_info instead of filters") {
    val seen = scala.collection.mutable.ArrayBuffer.empty[Map[String, String]]
    val t = new Transport {
      def get(url: String, params: Map[String, String]): HttpResponse = {
        seen += params
        params.get("page_info") match {
          case None =>
            HttpResponse(200, "OK", Map("Link" -> """<https://x/o.json?page_info=p2>; rel="next""""), """{"orders":[1]}""")
          case Some("p2") =>
            HttpResponse(200, "OK", Map.empty, """{"orders":[2]}""")
          case other => fail(s"unexpected cursor $other")
        }
      }
    }
    val c = new ShopifyClient(t, "https://base/")
    val pages = c.fetchAll("orders.json", Seq("id", "name"),
      createdAtMin = Some("2021-05-01"))
    assert(pages == Seq("""{"orders":[1]}""", """{"orders":[2]}"""))
    assert(seen(0).contains("fields") && seen(0).contains("created_at_min") &&
      seen(0)("status") == "any")
    // cursor page: only limit + page_info (Shopify rejects other params)
    assert(seen(1).keySet == Set("limit", "page_info"))
  }

  test("page loop fails loudly on a stalled cursor instead of spinning") {
    // A server that echoes the same next-cursor forever (or a caller that
    // drops the cursor on the floor — the positional-arg slip that once
    // turned MainSpec into an infinite loop) must raise, not hang.
    val t = new Transport {
      def get(url: String, params: Map[String, String]): HttpResponse =
        HttpResponse(200, "OK",
          Map("Link" -> """<https://x/o.json?page_info=stuck>; rel="next""""),
          """{"orders":[]}""")
    }
    val c = new ShopifyClient(t, "https://base/")
    val e = intercept[IllegalStateException](c.fetchAll("orders.json", Seq("id")))
    assert(e.getMessage.contains("cycled back to cursor"))
  }

  test("page loop detects cursor cycles longer than one (A→B→A)") {
    // an echo guard alone misses a 2-cycle: the server alternates cursors
    // A and B forever — the seen-set must trip on the first repeat
    val t = new Transport {
      def get(url: String, params: Map[String, String]): HttpResponse = {
        val next = params.get("page_info") match {
          case None      => "A"
          case Some("A") => "B"
          case Some("B") => "A"
          case Some(x)   => x
        }
        HttpResponse(200, "OK",
          Map("Link" -> s"""<https://x/o.json?page_info=$next>; rel="next""""),
          """{"orders":[]}""")
      }
    }
    val c = new ShopifyClient(t, "https://base/")
    val e = intercept[IllegalStateException](c.fetchAll("orders.json", Seq("id")))
    assert(e.getMessage.contains("cycled back to cursor A"))
  }

  test("fetchOrderResource hits the configured base url (reference bug fixed)") {
    var urls = List.empty[String]
    val t = new Transport {
      def get(url: String, params: Map[String, String]): HttpResponse = {
        urls ::= url; HttpResponse(200, "OK", Map.empty, """{"refunds":[]}""")
      }
    }
    new ShopifyClient(t, "https://mystore.example/api/").fetchOrderResource(42L, "refunds", Seq("id"))
    assert(urls.head == "https://mystore.example/api/orders/42/refunds.json")
  }

  test("token bucket: N calls sleep at least (N-1)/rate with a fake clock") {
    val t = new Transport {
      def get(url: String, params: Map[String, String]): HttpResponse =
        HttpResponse(200, "OK", Map.empty, "{}")
    }
    var clockNs = 0L
    var sleptMs = 0L
    val rate = 2.0 // req/s → bucket capacity 2 (one second's burst)
    val c = new ShopifyClient(t, "https://base/",
      sleeper = ms => { sleptMs += ms; clockNs += ms * 1000000L },
      maxRequestsPerSec = rate,
      nanoTime = () => clockNs)
    val n = 9
    (1 to n).foreach(i => c.fetchOrderResource(i.toLong, "transactions", Seq("id")))
    // capacity 2 burst is free; the remaining n-2 calls each wait 1/rate
    val minMs = (((n - 2) / rate) * 1000).toLong
    assert(sleptMs >= minMs, s"slept ${sleptMs}ms < ${minMs}ms")
    // and not pathologically more than (n-1)/rate (bucket refills properly)
    assert(sleptMs <= (((n - 1) / rate) * 1000).toLong + 1000)
  }

  test("token bucket disabled by default: no sleeps, no clock reads") {
    val t = new Transport {
      def get(url: String, params: Map[String, String]): HttpResponse =
        HttpResponse(200, "OK", Map.empty, "{}")
    }
    var slept = false
    val c = new ShopifyClient(t, "https://base/",
      sleeper = _ => slept = true,
      nanoTime = () => fail("clock must not be read when rate is unset"))
    (1 to 5).foreach(i => c.fetchOrderResource(i.toLong, "transactions", Seq("id")))
    assert(!slept)
  }

  /** A loopback HTTP server answering every request with `handle`; gives
    * `body` its base URL (ending in '/') and stops when `body` returns.
    */
  private def withServer[T](handle: HttpExchange => (Int, Map[String, String], String))(
      body: String => T): T = {
    val server = HttpServer.create(new InetSocketAddress(InetAddress.getLoopbackAddress, 0), 0)
    server.createContext("/", (ex: HttpExchange) => {
      val (status, headers, text) = handle(ex)
      headers.foreach { case (k, v) => ex.getResponseHeaders.add(k, v) }
      val bytes = text.getBytes(UTF_8)
      ex.sendResponseHeaders(status, if (bytes.isEmpty) -1 else bytes.length.toLong)
      if (bytes.nonEmpty) ex.getResponseBody.write(bytes)
      ex.close()
    })
    server.start()
    try body(s"http://127.0.0.1:${server.getAddress.getPort}/admin/")
    finally server.stop(0)
  }

  test("UrlTransport sends URL-encoded parameters and Basic auth") {
    val seen = new java.util.concurrent.LinkedBlockingQueue[(String, String, String)]()
    withServer { ex =>
      seen.put((ex.getRequestURI.getRawPath, ex.getRequestURI.getRawQuery,
        ex.getRequestHeaders.getFirst("Authorization")))
      (200, Map.empty, """{"orders":[]}""")
    } { base =>
      val resp = new UrlTransport("key", "p@ss:word").get(s"${base}orders.json",
        Map("fields" -> "id,name", "created_at_min" -> "2021-05-01T00:00:00+02:00"))
      assert(resp.status == 200 && resp.body == """{"orders":[]}""")
    }
    assert(seen.size == 1)
    val (path, query, auth) = seen.take()
    assert(path == "/admin/orders.json")
    assert(query.split("&").toSet ==
      Set("fields=id%2Cname", "created_at_min=2021-05-01T00%3A00%3A00%2B02%3A00"))
    val expected = java.util.Base64.getEncoder.encodeToString("key:p@ss:word".getBytes(UTF_8))
    assert(auth == s"Basic $expected")
  }

  test("UrlTransport: fetchAll follows the Link rel=next cursor across two pages") {
    val queries = new java.util.concurrent.CopyOnWriteArrayList[String]()
    withServer { ex =>
      val q = ex.getRequestURI.getRawQuery
      queries.add(q)
      if (q.contains("page_info=p2")) (200, Map.empty, """{"orders":[2]}""")
      else {
        val next = s"http://127.0.0.1:${ex.getLocalAddress.getPort}/admin/orders.json?limit=250&page_info=p2"
        (200, Map("Link" -> s"""<$next>; rel="next""""), """{"orders":[1]}""")
      }
    } { base =>
      val c = new ShopifyClient(new UrlTransport("k", "p"), base, sleeper = _ => fail("no retry expected"))
      assert(c.fetchAll("orders.json", Seq("id")) == Seq("""{"orders":[1]}""", """{"orders":[2]}"""))
    }
    assert(queries.size == 2)
    assert(queries.get(0).contains("fields=id") && !queries.get(0).contains("page_info"))
    assert(queries.get(1).split("&").toSet == Set("limit=250", "page_info=p2"))
  }

  test("UrlTransport: a 429 and a 500 are retried to a 200") {
    val calls = new java.util.concurrent.atomic.AtomicInteger
    val waits = scala.collection.mutable.ArrayBuffer.empty[Long]
    withServer { _ =>
      calls.incrementAndGet() match {
        case 1 => (429, Map.empty, "")
        case 2 => (500, Map.empty, "oops")
        case _ => (200, Map.empty, """{"refunds":[]}""")
      }
    } { base =>
      val c = new ShopifyClient(new UrlTransport("k", "p"), base, sleeper = waits.append(_))
      assert(c.fetchOrderResource(7L, "refunds", Seq("id")) == """{"refunds":[]}""")
    }
    assert(calls.get == 3)
    assert(waits.toSeq == Seq(4000L, 6000L))
  }

  test("UrlTransport: a 429 with Retry-After waits the header's seconds") {
    val calls = new java.util.concurrent.atomic.AtomicInteger
    val waits = scala.collection.mutable.ArrayBuffer.empty[Long]
    withServer { _ =>
      // the JDK server sends the field name as "Retry-after"
      if (calls.incrementAndGet() == 1) (429, Map("Retry-After" -> "2"), "")
      else (200, Map.empty, """{"refunds":[]}""")
    } { base =>
      val c = new ShopifyClient(new UrlTransport("k", "p"), base, sleeper = waits.append(_))
      assert(c.fetchOrderResource(7L, "refunds", Seq("id")) == """{"refunds":[]}""")
    }
    assert(calls.get == 2)
    assert(waits.toSeq == Seq(2000L))
  }

  test("retryAfterMs reads seconds in any header case and rejects other forms") {
    import ShopifyClient.retryAfterMs
    assert(retryAfterMs(Map("retry-after" -> "2.0")).contains(2000L))
    assert(retryAfterMs(Map("RETRY-AFTER" -> " 0.25 ")).contains(250L))
    assert(retryAfterMs(Map.empty).isEmpty)
    assert(retryAfterMs(Map("Retry-After" -> "Wed, 21 Oct 2026 07:28:00 GMT")).isEmpty)
    assert(retryAfterMs(Map("Retry-After" -> "-1")).isEmpty)
    assert(retryAfterMs(Map("Retry-After" -> "NaN")).isEmpty)
  }
}
