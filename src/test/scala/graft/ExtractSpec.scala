package graft

import graft.pipeline.{Extract, LichessClient, LichessConfig}
import java.nio.charset.StandardCharsets.UTF_8
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** R1–R3 semantics: monotone [since, until) windows, watermark committed
  * only after the durable write (the reference's at-most-once ordering,
  * /root/reference/etl/extract.py:72-73, deliberately inverted).
  */
class ExtractSpec extends AnyFunSuite with TempDirs {

  private def tempDir = freshDir("extract")

  test("watermark advances across runs and windows are contiguous") {
    val state = tempDir
    val ex = new Extract(state)
    var windows = Vector.empty[(Option[Long], Long)]
    def fetch(since: Option[Long], until: Long): Iterator[String] = {
      windows :+= (since, until)
      Iterator.single(s"""{"id":"g$until"}""")
    }
    ex.run(fetch, state.resolve("raw"), until = 100L)
    ex.run(fetch, state.resolve("raw"), until = 200L)
    assert(windows === Vector((None, 100L), (Some(100L), 200L)))
  }

  test("fetch failure leaves the watermark untouched (at-least-once)") {
    val state = tempDir
    val ex = new Extract(state)
    ex.run((_, _) => Iterator.single("""{"id":"a"}"""), state.resolve("raw"), 100L)
    intercept[RuntimeException] {
      ex.run((_, _) => throw new RuntimeException("boom"), state.resolve("raw"), 200L)
    }
    assert(ex.loadWatermark() === Some(100L)) // not advanced past failure
  }

  test("a torn watermark fails with a named error giving file and content") {
    val state = tempDir
    val ex = new Extract(state)
    ex.run((_, _) => Iterator.single("""{"id":"a"}"""), state.resolve("raw"), 100L)
    val wm = state.resolve("last_timestamp.txt")
    for (content <- Seq("", "17000#3")) {
      java.nio.file.Files.write(wm, content.getBytes)
      val e = intercept[Extract.BadWatermark](ex.loadWatermark())
      assert(e.getMessage.contains(s"""$wm holds no timestamp: "$content""""), e.getMessage)
    }
    intercept[Extract.BadWatermark] {
      ex.run((_, _) => fail("must not fetch past a bad watermark"), state.resolve("raw"), 200L)
    }
  }

  /** Loopback stub of the games-export endpoint: records the request,
    * serves canned NDJSON. No external network anywhere.
    */
  private def withStubServer(status: Int, body: String)(
      f: (String, () => com.sun.net.httpserver.HttpExchange) => Unit): Unit = {
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    @volatile var last: com.sun.net.httpserver.HttpExchange = null
    server.createContext("/", { exchange =>
      last = exchange
      val bytes = body.getBytes("UTF-8")
      exchange.sendResponseHeaders(status, bytes.length)
      exchange.getResponseBody.write(bytes)
      exchange.close()
    })
    server.start()
    try f(s"http://127.0.0.1:${server.getAddress.getPort}/api/games/user", () => last)
    finally server.stop(0)
  }

  test("HTTP client sends the reference's query params and decodes NDJSON") {
    val ndjson = """{"id":"g1"}""" + "\n" + """{"id":"g2"}""" + "\n"
    withStubServer(200, ndjson) { (url, lastExchange) =>
      val client = new LichessClient(LichessConfig(apiUrl = url, username = "carlsen"))
      val lines = client.fetch(Some(1700000000000L), 1700000100000L).toVector
      assert(lines === Vector("""{"id":"g1"}""", """{"id":"g2"}"""))
      val ex = lastExchange()
      assert(ex.getRequestURI.getPath.endsWith("/carlsen"))
      val q = ex.getRequestURI.getQuery.split("&").map { kv =>
        val Array(k, v) = kv.split("=", 2); k -> java.net.URLDecoder.decode(v, "UTF-8")
      }.toMap
      assert(q("since") === "1700000000000")
      assert(q("until") === "1700000100000")
      assert(q("max") === "3")
      assert(q("perfType") === "ultraBullet, bullet, blitz")
      assert(q("analysed") === "true" && q("clocks") === "true" && q("opening") === "true")
      assert(q("sort") === "dateAsc")
      assert(ex.getRequestHeaders.getFirst("Accept") === "application/x-ndjson")
    }
  }

  test("first pull omits `since` (no watermark yet)") {
    withStubServer(200, """{"id":"g"}""") { (url, lastExchange) =>
      new LichessClient(LichessConfig(url, "u")).fetch(None, 42L).toVector
      assert(!lastExchange().getRequestURI.getQuery.contains("since="))
    }
  }

  test("HTTP error throws, so Extract keeps the watermark (at-least-once)") {
    withStubServer(500, "oops") { (url, _) =>
      val state = tempDir
      val ex = new Extract(state)
      val client = new LichessClient(LichessConfig(url, "u"))
      intercept[java.io.IOException] {
        ex.run(client.fetch, state.resolve("raw"), 100L)
      }
      assert(ex.loadWatermark() === None)
    }
  }

  test("end-to-end: stub server -> Extract.run writes NDJSON + watermark") {
    withStubServer(200, """{"id":"g1"}""" + "\n") { (url, _) =>
      val state = tempDir
      val out = LichessClient.runExtract(
        state, state.resolve("raw"), until = 123L,
        env = Map("LICHESS_API_URL" -> url, "LICHESS_USERNAME" -> "u"))
      assert(out.isDefined)
      assert(new String(java.nio.file.Files.readAllBytes(out.get)).trim === """{"id":"g1"}""")
      assert(new Extract(state).loadWatermark() === Some(123L))
    }
  }

  test("the raw file holds the served NDJSON as UTF-8, whatever the JVM's default charset") {
    val ndjson = """{"id":"g1","opening":{"name":"Grünfeld Defense"}}""" + "\n" +
      """{"id":"g2","opening":{"name":"Réti Opening"}}""" + "\n"
    withStubServer(200, ndjson) { (url, _) =>
      val state = tempDir
      val client = new LichessClient(LichessConfig(url, "u"))
      val out = new Extract(state).run(client.fetch, state.resolve("raw"), 100L)
      assert(java.nio.file.Files.readAllBytes(out.get).sameElements(
        ndjson.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    }
  }

  test("config comes from env or .env file, env winning; absent -> None") {
    assert(LichessConfig.fromEnv(Map.empty, None) === None)
    val dir = tempDir
    val envFile = dir.resolve(".env")
    java.nio.file.Files.write(envFile,
      "# comment\nLICHESS_API_URL=\"http://file/api\"\nLICHESS_USERNAME=fileuser\n".getBytes)
    val fromFile = LichessConfig.fromEnv(Map.empty, Some(envFile)).get
    assert(fromFile.apiUrl === "http://file/api" && fromFile.username === "fileuser")
    val envWins = LichessConfig.fromEnv(
      Map("LICHESS_API_URL" -> "http://env/api"), Some(envFile)).get
    assert(envWins.apiUrl === "http://env/api" && envWins.username === "fileuser")
  }

  /** Scripted stub: serves the listed responses in request order (the
    * last repeats), exposing the request count — the 429/5xx retry
    * scenarios need per-request behavior the single-response stub
    * can't express.
    */
  private def withScriptedServer(
      responses: Seq[(Int, Map[String, String], String)])(
      f: (String, () => Int) => Unit): Unit = {
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    val count = new java.util.concurrent.atomic.AtomicInteger(0)
    server.createContext("/", { exchange =>
      val (status, headers, body) =
        responses(math.min(count.getAndIncrement(), responses.size - 1))
      headers.foreach { case (k, v) => exchange.getResponseHeaders.add(k, v) }
      val bytes = body.getBytes("UTF-8")
      exchange.sendResponseHeaders(status, if (bytes.isEmpty) -1 else bytes.length.toLong)
      if (bytes.nonEmpty) exchange.getResponseBody.write(bytes)
      exchange.close()
    })
    server.start()
    try f(s"http://127.0.0.1:${server.getAddress.getPort}/api/games/user",
      () => count.get())
    finally server.stop(0)
  }

  test("429 then 200: one bounded retry, then the extract lands one file " +
      "and advances the watermark") {
    withScriptedServer(Seq(
      (429, Map("Retry-After" -> "0"), "rate limited"),
      (200, Map.empty[String, String], """{"id":"g1"}""" + "\n"))) { (url, requests) =>
      val state = tempDir
      val delays = scala.collection.mutable.ArrayBuffer.empty[Long]
      val client = new LichessClient(
        LichessConfig(url, "u"),
        LichessClient.defaultClient, delays += _)
      val out = new Extract(state).run(client.fetch, state.resolve("raw"), 100L)
      assert(out.isDefined)
      assert(new String(java.nio.file.Files.readAllBytes(out.get)).trim
        === """{"id":"g1"}""")
      assert(new Extract(state).loadWatermark() === Some(100L))
      assert(requests() === 2)
      assert(delays.toSeq === Seq(0L)) // Retry-After: 0 honored verbatim
    }
  }

  test("Retry-After seconds are honored (and capped at retryMaxMs)") {
    withScriptedServer(Seq(
      (429, Map("Retry-After" -> "7"), ""),
      (429, Map("Retry-After" -> "999999"), ""),
      (200, Map.empty[String, String], """{"id":"g"}"""))) { (url, requests) =>
      val delays = scala.collection.mutable.ArrayBuffer.empty[Long]
      val client = new LichessClient(
        LichessConfig(url, "u"),
        LichessClient.defaultClient, delays += _)
      assert(client.fetch(None, 1L).toVector === Vector("""{"id":"g"}"""))
      assert(requests() === 3)
      assert(delays.toSeq === Seq(7000L, 10000L))
    }
  }

  test("retries exhausted on persistent 5xx: exponential schedule, throw, " +
      "watermark untouched") {
    withScriptedServer(Seq((500, Map.empty[String, String], "oops"))) {
      (url, requests) =>
      val state = tempDir
      val delays = scala.collection.mutable.ArrayBuffer.empty[Long]
      val client = new LichessClient(
        LichessConfig(url, "u"),
        LichessClient.defaultClient, delays += _)
      val ex = new Extract(state)
      val err = intercept[java.io.IOException] {
        ex.run(client.fetch, state.resolve("raw"), 100L)
      }
      assert(err.getMessage.contains("after 4 attempts"))
      assert(requests() === 4)
      assert(delays.toSeq === Seq(500L, 1000L, 2000L)) // base · 2^attempt
      assert(ex.loadWatermark() === None) // at-least-once preserved
    }
  }

  test("plain 4xx is not retried — the request is wrong, not the moment") {
    withScriptedServer(Seq((404, Map.empty[String, String], "no such user"))) {
      (url, requests) =>
      val client = new LichessClient(
        LichessConfig(url, "u"),
        LichessClient.defaultClient, _ => fail("must not sleep on 4xx"))
      intercept[java.io.IOException] { client.fetch(None, 1L) }
      assert(requests() === 1)
    }
  }

  test("retried window overwrites the same file (idempotent names)") {
    val state = tempDir
    val raw = state.resolve("raw")
    val ex = new Extract(state)
    val f1 = ex.run((_, _) => Iterator.single("""{"id":"a"}"""), raw, 100L).get
    // simulate a retry of the same window after losing the watermark
    new Extract(state) { }
    java.nio.file.Files.delete(state.resolve("last_timestamp.txt"))
    val f2 = new Extract(state)
      .run((_, _) => Iterator.single("""{"id":"a"}"""), raw, 100L).get
    assert(f1 === f2)
    assert(java.nio.file.Files.list(raw).count() === 1)
  }

  private def names(dir: java.nio.file.Path): Seq[String] = {
    val s = java.nio.file.Files.list(dir)
    try s.iterator().asScala.map(_.getFileName.toString).toVector.sorted finally s.close()
  }

  test("the client yields each line as it arrives, before the body ends") {
    val yielded = new java.util.concurrent.CountDownLatch(1)
    val sawYield = new java.util.concurrent.atomic.AtomicBoolean(false)
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", { exchange =>
      exchange.sendResponseHeaders(200, 0) // chunked: the head goes out first
      val out = exchange.getResponseBody
      out.write(("""{"id":"g1"}""" + "\n").getBytes(UTF_8))
      out.flush()
      // a client that buffers the whole body never yields line 1 here
      sawYield.set(yielded.await(10, java.util.concurrent.TimeUnit.SECONDS))
      out.write(("""{"id":"g2"}""" + "\n").getBytes(UTF_8))
      exchange.close()
    })
    server.start()
    try {
      val state = tempDir
      val client = new LichessClient(LichessConfig(
        s"http://127.0.0.1:${server.getAddress.getPort}/api/games/user", "u"))
      val out = new Extract(state).run(
        (since, until) => client.fetch(since, until).map { line => yielded.countDown(); line },
        state.resolve("raw"), 100L)
      assert(sawYield.get(), "line 1 was not yielded while the body was still open")
      assert(new String(java.nio.file.Files.readAllBytes(out.get), UTF_8) ===
        """{"id":"g1"}""" + "\n" + """{"id":"g2"}""" + "\n")
    } finally server.stop(0)
  }

  test("a body cut short fails the run: nothing published, no staging file, " +
      "watermark kept") {
    // a raw socket, so the response can promise more bytes than it sends
    val server = new java.net.ServerSocket(0, 1, java.net.InetAddress.getLoopbackAddress)
    val responder = new Thread(() => {
      val socket = server.accept()
      try {
        val in = new java.io.BufferedReader(
          new java.io.InputStreamReader(socket.getInputStream, UTF_8))
        while (Option(in.readLine()).exists(_.nonEmpty)) {} // the request head
        val body = """{"id":"g1"}""" + "\n" + """{"id":"g2","""
        socket.getOutputStream.write(("HTTP/1.1 200 OK\r\n" +
          "Content-Type: application/x-ndjson\r\n" +
          s"Content-Length: ${body.length + 1000}\r\n\r\n" + body).getBytes(UTF_8))
        socket.getOutputStream.flush()
      } finally socket.close()
    })
    responder.setDaemon(true)
    responder.start()
    try {
      val state = tempDir
      val raw = state.resolve("raw")
      val ex = new Extract(state)
      ex.run((_, _) => Iterator.single("""{"id":"g0"}"""), raw, 100L)
      val client = new LichessClient(LichessConfig(
        s"http://127.0.0.1:${server.getLocalPort}/api/games/user", "u"))
      intercept[java.io.IOException](ex.run(client.fetch, raw, 200L))
      assert(names(raw) === Seq("games_0_100.ndjson"))
      assert(ex.loadWatermark() === Some(100L))
    } finally server.close()
  }

  test("the raw file holds the served body's trimmed, non-blank lines, as the " +
      "buffered client wrote them") {
    // lines longer than the read buffer, every line-break form, blank and
    // padded lines, multi-byte characters and no final line break
    val long = "\"" + ("Grünfeld " * 5000) + "\""
    val body = s"""  {"id":"a","n":$long}\r\n\n\t\n{"id":"b"}\r{"id":"c",\r"x":1}""" +
      s"""\n   \n{"id":"d","n":$long}  """
    val buffered = body.linesIterator.map(_.trim).filter(_.nonEmpty).mkString("", "\n", "\n")
    withStubServer(200, body) { (url, _) =>
      val state = tempDir
      val out = new Extract(state).run(new LichessClient(LichessConfig(url, "u")).fetch,
        state.resolve("raw"), 100L)
      assert(new String(java.nio.file.Files.readAllBytes(out.get), UTF_8) === buffered)
    }
  }

  test("an empty window publishes nothing and creates no raw directory, " +
      "but moves the watermark") {
    withStubServer(200, "\n  \n") { (url, _) =>
      val state = tempDir
      val ex = new Extract(state)
      assert(ex.run(new LichessClient(LichessConfig(url, "u")).fetch,
        state.resolve("raw"), 100L) === None)
      assert(!java.nio.file.Files.exists(state.resolve("raw")))
      assert(ex.loadWatermark() === Some(100L))
      assert(names(state) === Seq("last_timestamp.txt"))
    }
  }
}
