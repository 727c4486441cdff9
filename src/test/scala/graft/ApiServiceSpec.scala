package graft

import java.net.{HttpURLConnection, URI}

import graft.api.{ApiService, Jwt}

/** End-to-end serving-surface contract (S13) — the analog of the
  * reference's API tests: public HEAD/GET by path, private /file by JWT,
  * debug token mint, and 404-for-everything information hiding. */
class ApiServiceSpec extends SparkSpec {

  private val srcDir = Fixtures.src
  private val secret = "test-secret"

  private lazy val archive: GraftArchive = {
    val lake = java.nio.file.Files.createTempDirectory("api-lake").toString
    val arch = new GraftArchive(spark, lake)
    arch.dataset("api_ds").crawl(srcDir, include = Some("*.txt"))
    arch
  }

  private def request(port: Int, method: String, path: String,
                      headers: Map[String, String] = Map.empty)
      : (Int, Map[String, String], Array[Byte]) = {
    val conn = new URI(s"http://127.0.0.1:$port$path").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod(method)
    headers.foreach { case (k, v) => conn.setRequestProperty(k, v) }
    val code = conn.getResponseCode
    import scala.jdk.CollectionConverters._
    val hs = conn.getHeaderFields.asScala.collect {
      case (k, v) if k != null => k.toLowerCase -> v.get(0)
    }.toMap
    val body =
      if (code == 200 && method != "HEAD")
        try conn.getInputStream.readAllBytes() catch { case _: Exception => Array.emptyByteArray }
      else Array.emptyByteArray
    conn.disconnect()
    (code, hs, body)
  }

  test("public HEAD and GET serve metadata headers and bytes; misses 404") {
    val svc = new ApiService(archive, secret).start()
    try {
      val (hc, hh, _) = request(svc.port, "HEAD", "/api_ds/utf.txt")
      assert(hc == 200)
      assert(hh("x-graft-sha1") == "5a6acf229ba576d9a40b09292595658bbb74ef56")
      assert(hh("x-graft-name") == "utf.txt")

      val (gc, gh, body) = request(svc.port, "GET", "/api_ds/testdir/test.txt")
      assert(gc == 200)
      assert(gh("x-graft-key") == "testdir/test.txt")
      // tests/test_api.py:15-22 header contract: size + content type
      assert(gh("x-graft-size") == "11")
      assert(gh("content-type").startsWith("text/plain"))
      assert(new String(body, "UTF-8") == "hello world")

      assert(request(svc.port, "GET", "/api_ds/nope.txt")._1 == 404)
      assert(request(svc.port, "GET", "/unknown_ds/utf.txt")._1 == 404)
      assert(request(svc.port, "GET", "/api_ds/")._1 == 404)
      assert(request(svc.port, "POST", "/api_ds/utf.txt")._1 == 404)
    } finally svc.stop()
  }

  test("private /file requires a valid unexpired bearer token (JWT auth)") {
    val svc = new ApiService(archive, secret).start()
    try {
      val now = System.currentTimeMillis() / 1000
      val good = Jwt.create("api_ds", "testdir/test.txt", now + 600, secret)
      val (c1, h1, body) = request(svc.port, "GET", "/file",
        Map("Authorization" -> s"Bearer $good"))
      assert(c1 == 200)
      assert(h1("x-graft-key") == "testdir/test.txt")
      assert(new String(body, "UTF-8") == "hello world")

      // query-token variant (auth.py ensure_token_context)
      assert(request(svc.port, "HEAD", s"/file?token=$good")._1 == 200)

      val expired = Jwt.create("api_ds", "testdir/test.txt", now - 10, secret)
      assert(request(svc.port, "GET", "/file",
        Map("Authorization" -> s"Bearer $expired"))._1 == 404)

      val wrongKeySig = Jwt.create("api_ds", "testdir/test.txt", now + 600, "other")
      assert(request(svc.port, "GET", "/file",
        Map("Authorization" -> s"Bearer $wrongKeySig"))._1 == 404)

      // tampered payload (signature mismatch)
      val parts = good.split('.')
      val tampered = parts(0) + "." + java.util.Base64.getUrlEncoder.withoutPadding
        .encodeToString("""{"sub":"api_ds/secret.txt","exp":9999999999}""".getBytes) +
        "." + parts(2)
      assert(request(svc.port, "GET", "/file",
        Map("Authorization" -> s"Bearer $tampered"))._1 == 404)

      assert(request(svc.port, "GET", "/file")._1 == 404)
    } finally svc.stop()
  }

  test("debug mode mints tokens; production mode does not (main.py:35-52)") {
    val dbg = new ApiService(archive, secret, debug = true).start()
    try {
      val (c, _, body) = request(dbg.port, "GET", "/api_ds/utf.txt/token")
      assert(c == 200)
      val tok = """"access_token":"([^"]+)"""".r
        .findFirstMatchIn(new String(body, "UTF-8")).get.group(1)
      assert(Jwt.verify(tok, secret, System.currentTimeMillis() / 1000)
        .contains(("api_ds", "utf.txt")))
      // the minted token round-trips through /file
      assert(request(dbg.port, "GET", "/file",
        Map("Authorization" -> s"Bearer $tok"))._1 == 200)
      // token mint for a missing key 404s
      assert(request(dbg.port, "GET", "/api_ds/nope.txt/token")._1 == 404)
    } finally dbg.stop()
    val prod = new ApiService(archive, secret, debug = false).start()
    try assert(request(prod.port, "GET", "/api_ds/utf.txt/token")._1 == 404)
    finally prod.stop()
  }

  test("JWT codec: first-slash subject split keeps slashes in keys") {
    val t = Jwt.create("ds", "a/b/c.txt", System.currentTimeMillis() / 1000 + 60,
      secret)
    assert(Jwt.verify(t, secret, System.currentTimeMillis() / 1000)
      .contains(("ds", "a/b/c.txt")))
  }
}
