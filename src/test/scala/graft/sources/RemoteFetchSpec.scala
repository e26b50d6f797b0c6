package graft.sources

import graft.SparkSpec
import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import java.net.InetSocketAddress
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

/** Exercises the URL→staging loader against a loopback HTTP server
  * (JDK-built-in HttpServer — no network egress) serving the
  * lookup workbook's bytes ([[XlsxFixtures]]). */
class RemoteFetchSpec extends SparkSpec {
  import spark.implicits._

  private val workbook = XlsxFixtures.bytes("bases_norte")

  private def withServer(handler: HttpExchange => Unit)(
      body: String => Unit): Unit = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", new HttpHandler {
      def handle(ex: HttpExchange): Unit = handler(ex)
    })
    server.start()
    try body(s"http://127.0.0.1:${server.getAddress.getPort}")
    finally server.stop(0)
  }

  private def serveBytes(ex: HttpExchange, bytes: Array[Byte]): Unit = {
    ex.sendResponseHeaders(200, bytes.length.toLong)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  test("normalizeShareUrl applies the reference's download=1 rewrite") {
    assert(RemoteFetch.normalizeShareUrl("https://h/x/file?e=abc") ==
      "https://h/x/file?download=1")
    assert(RemoteFetch.normalizeShareUrl("https://h/x/file") ==
      "https://h/x/file?download=1")
  }

  test("loadXlsxLookup: fetch over HTTP → staging → distributed parse") {
    withServer(ex => serveBytes(ex, workbook)) { base =>
      val staging = Files.createTempDirectory("staging").toString
      val df = RemoteFetch.loadXlsxLookup(spark,
        s"$base/bases_norte.xlsx?e=share", staging)
      assert(df.columns.toSeq == Seq("documento", "ips"))
      assert(df.as[(String, String)].collect().toSeq ==
        Seq(("1", "X HOSPITAL SUBA ESE")))
      // the staged artifact exists under its url basename
      assert(Files.exists(Paths.get(staging, "bases_norte.xlsx")))
    }
  }

  test("fetchToStaging retries through transient failures, atomic result") {
    val calls = new AtomicInteger(0)
    withServer { ex =>
      if (calls.incrementAndGet() <= 2) { // fail the first two attempts
        ex.sendResponseHeaders(500, -1); ex.close()
      } else serveBytes(ex, workbook)
    } { base =>
      val staging = Files.createTempDirectory("staging2").toString
      val p = RemoteFetch.fetchToStaging(s"$base/wb.xlsx", staging,
        retries = 3, backoffMs = 10)
      assert(calls.get() == 3)
      assert(Files.readAllBytes(p).sameElements(workbook))
      // no .part leftovers from the failed attempts
      val leftovers = Files.list(Paths.get(staging)).toArray.map(_.toString)
        .filter(_.endsWith(".part"))
      assert(leftovers.isEmpty)
    }
  }

  test("fetchToStaging gives up after bounded retries") {
    withServer { ex => ex.sendResponseHeaders(404, -1); ex.close() } { base =>
      val staging = Files.createTempDirectory("staging3").toString
      intercept[java.io.IOException] {
        RemoteFetch.fetchToStaging(s"$base/missing.xlsx", staging,
          retries = 2, backoffMs = 10)
      }
    }
  }
}
