package graft

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}

import graft.pipelines.{Crawl, HttpCrawl}

/** Remote-vs-local crawl parity over a directory-index HTTP server — the
  * analog of tests/test_crawl.py:5-22 (which crawls `http://localhost:8000/
  * src` and the same fixture dir locally, asserting identical key sets and
  * the pinned testdir/test.txt sha1). Here both crawls read the golden
  * corpus [[Fixtures.src]]: once served over HTTP, once from disk.
  */
class HttpCrawlSpec extends SparkSpec {
  import spark.implicits._

  private val srcDir = Paths.get(Fixtures.src)

  /** Minimal index-page file server (the shape `python -m http.server`
    * presents): directories render percent-encoded href listings with
    * trailing slashes on subdirectories; files stream bytes. */
  private def startServer(root: Path): HttpServer = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", new HttpHandler {
      def handle(ex: HttpExchange): Unit = {
        val rel = java.net.URLDecoder.decode(
          ex.getRequestURI.getRawPath.stripPrefix("/"), "UTF-8")
        val target = if (rel.isEmpty) root else root.resolve(rel)
        if (!Files.exists(target)) {
          ex.sendResponseHeaders(404, -1); ex.close()
        } else if (Files.isDirectory(target)) {
          val entries = Files.list(target).iterator()
          val sb = new StringBuilder("<html><body><a href=\"../\">..</a>\n")
          while (entries.hasNext) {
            val p = entries.next()
            val name = p.getFileName.toString
            val enc = HttpCrawl.encodeSegment(name)
            if (Files.isDirectory(p)) sb.append(s"""<a href="$enc/">$name/</a>\n""")
            else sb.append(s"""<a href="$enc">$name</a>\n""")
          }
          val body = sb.append("</body></html>").toString.getBytes(StandardCharsets.UTF_8)
          ex.getResponseHeaders.set("Content-Type", "text/html; charset=utf-8")
          ex.sendResponseHeaders(200, body.length)
          ex.getResponseBody.write(body); ex.close()
        } else {
          val bytes = Files.readAllBytes(target)
          ex.sendResponseHeaders(200, if (bytes.isEmpty) -1 else bytes.length)
          if (bytes.nonEmpty) ex.getResponseBody.write(bytes)
          ex.close()
        }
      }
    })
    server.start()
    server
  }

  test("remote HTTP crawl matches local crawl on the golden corpus (S7)") {
    val server = startServer(srcDir)
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      val none = spark.emptyDataFrame.select(
        org.apache.spark.sql.functions.lit("").as("key")).limit(0)
      val remote = HttpCrawl.crawl(spark, base, existing = none).cache()
      val local = Crawl.crawl(spark, srcDir.toString, existing = none).cache()

      val rKeys = remote.select("key").as[String].collect().toSet
      val lKeys = local.select("key").as[String].collect().toSet
      assert((rKeys diff lKeys).isEmpty, s"remote-only: ${rKeys diff lKeys}")
      assert((lKeys diff rKeys).isEmpty, s"local-only: ${lKeys diff rKeys}")

      val rHash = remote.select("key", "content_hash").as[(String, String)].collect().toMap
      val lHash = local.select("key", "content_hash").as[(String, String)].collect().toMap
      assert(rHash == lHash)
      assert(rHash("testdir/test.txt") == "2aae6c35c94fcfb415dbe95f408b9ce91ee846ed")

      // sizes counted from the HTTP stream must match filesystem sizes
      val rSize = remote.select("key", "size").as[(String, Long)].collect().toMap
      val lSize = local.select("key", "size").as[(String, Long)].collect().toMap
      assert(rSize == lSize)
    } finally server.stop(0)
  }

  test("HTTP crawl respects globs and skip-existing (P2/J2 over S7)") {
    val server = startServer(srcDir)
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      val none = spark.emptyDataFrame.select(
        org.apache.spark.sql.functions.lit("").as("key")).limit(0)
      val pdf = HttpCrawl.crawl(spark, base, existing = none, include = Some("*.pdf"))
      val pdfKeys = pdf.select("key").as[String].collect()
      assert(pdfKeys.nonEmpty && pdfKeys.forall(_.endsWith(".pdf")))
      assert(pdfKeys.contains("empty.pdf")) // zero-byte file survives HTTP fetch
      val again = HttpCrawl.crawl(spark, base, existing = pdf.select("key"),
        include = Some("*.pdf"))
      assert(again.isEmpty)
    } finally server.stop(0)
  }

  test("full dataset lifecycle over an HTTP source (facade dispatch + blob copy)") {
    val server = startServer(srcDir)
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      val lake = java.nio.file.Files.createTempDirectory("http-lake").toString
      val arch = new GraftArchive(spark, lake)
      val remote = arch.dataset("remote_ds")
      val counts = remote.crawl(base, include = Some("*.txt"))
      assert(counts("added") > 0 && counts("blobs_copied") == counts("added"))
      // blob bytes round-trip through the content-addressed store
      val bytes = remote.openBlob("utf.txt").get
      assert(new String(bytes, "UTF-8") == "Îș unî©ođ€.\n")
      // re-crawl is incremental over HTTP too
      val again = remote.crawl(base, include = Some("*.txt"))
      assert(again("added") == 0 && again("blobs_copied") == 0)
      // extract over HTTP is an explicit unsupported error, not silence
      intercept[IllegalArgumentException] {
        remote.crawl(base, extract = true)
      }
    } finally server.stop(0)
  }

  test("transient HTTP failures are retried (bounded backoff)") {
    // server fails the FIRST request for every path with 503, then serves
    val failedOnce = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", new HttpHandler {
      def handle(ex: HttpExchange): Unit = {
        val path = ex.getRequestURI.getRawPath
        if (failedOnce.add(path)) {
          ex.sendResponseHeaders(503, -1); ex.close()
        } else if (path == "/") {
          val body = """<a href="a.txt">a.txt</a>""".getBytes("UTF-8")
          ex.sendResponseHeaders(200, body.length)
          ex.getResponseBody.write(body); ex.close()
        } else {
          val body = "payload".getBytes("UTF-8")
          ex.sendResponseHeaders(200, body.length)
          ex.getResponseBody.write(body); ex.close()
        }
      }
    })
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      val none = spark.emptyDataFrame.select(
        org.apache.spark.sql.functions.lit("").as("key")).limit(0)
      val crawled = HttpCrawl.crawl(spark, base, existing = none)
      val rows = crawled.select("key", "size").as[(String, Long)].collect()
      assert(rows.toSeq == Seq(("a.txt", 7L)))
    } finally server.stop(0)
  }

  test("index-link parsing: relative + same-tree absolute hrefs, nothing else") {
    val html = """<a href="../">..</a><a href="sub/">sub/</a>
      |<a href="a%20b.txt">a b.txt</a><a href="?C=N;O=D">sort</a>
      |<a href="http://evil.example/x">x</a><a href="/other/y.txt">y</a>
      |<a href="/src/abs.txt">abs</a><a href="/src/absdir/">absdir</a>""".stripMargin
    // Apache-style absolute hrefs under the page's own path are rebased;
    // other-tree absolutes, parent links, queries, and full URLs drop
    assert(HttpCrawl.parseIndexLinks(html, "src") ==
      Seq("sub/", "a%20b.txt", "abs.txt", "absdir/"))
    // root page: any single-segment absolute path is a child
    assert(HttpCrawl.parseIndexLinks("""<a href="/top.txt">t</a>""", "") ==
      Seq("top.txt"))
  }

  test("apache-style absolute-href index crawls identically (S7 robustness)") {
    // same tree, but the server emits absolute-path hrefs like Apache autoindex
    val root = java.nio.file.Files.createTempDirectory("apache-src")
    java.nio.file.Files.write(root.resolve("top.txt"), "t".getBytes)
    java.nio.file.Files.createDirectories(root.resolve("d"))
    java.nio.file.Files.write(root.resolve("d/in.txt"), "in".getBytes)
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", new HttpHandler {
      def handle(ex: HttpExchange): Unit = {
        val rel = java.net.URLDecoder.decode(
          ex.getRequestURI.getRawPath.stripPrefix("/"), "UTF-8")
        val target = if (rel.isEmpty) root else root.resolve(rel)
        if (!java.nio.file.Files.exists(target)) { ex.sendResponseHeaders(404, -1); ex.close() }
        else if (java.nio.file.Files.isDirectory(target)) {
          val sb = new StringBuilder("<html><a href=\"/\">parent</a>\n")
          java.nio.file.Files.list(target).forEach { p =>
            val abs = "/" + root.relativize(p).toString +
              (if (java.nio.file.Files.isDirectory(p)) "/" else "")
            sb.append(s"""<a href="$abs">${p.getFileName}</a>\n""")
          }
          val body = sb.toString.getBytes("UTF-8")
          ex.sendResponseHeaders(200, body.length)
          ex.getResponseBody.write(body); ex.close()
        } else {
          val bytes = java.nio.file.Files.readAllBytes(target)
          ex.sendResponseHeaders(200, bytes.length)
          ex.getResponseBody.write(bytes); ex.close()
        }
      }
    })
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      val keys = HttpCrawl.listKeys(spark, base)
        .select("key").as[String].collect().toSet
      assert(keys == Set("top.txt", "d/in.txt"))
    } finally server.stop(0)
  }
}
