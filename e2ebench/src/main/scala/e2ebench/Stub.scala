package e2ebench

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import java.net.{InetSocketAddress, URLDecoder}
import java.nio.channels.{Channels, FileChannel}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.StandardOpenOption.READ
import java.util.concurrent.atomic.AtomicLong

/** Loopback stand-in for the games-export API over a [[GameDb]].
  *
  * It answers `GET /<user>?since=&until=&max=…` the way the export API
  * does with `sort=dateAsc`: games with `since <= createdAt < until`,
  * oldest first, at most `max` of them. Bodies stream from the
  * pre-generated files by byte range, so serving a window holds no copy
  * of it in memory. Requests run on the server's single dispatcher
  * thread.
  *
  * When `refuseShare > 0`, the first attempt at a window is refused with
  * `429 Retry-After: 0` for a fixed, seeded share of windows; the retry
  * is served.
  */
final class Stub(db: GameDb, seed: Long, refuseShare: Double) {
  val attempts = new AtomicLong
  val retries = new AtomicLong
  val served = new AtomicLong
  val bytes = new AtomicLong
  val games = new AtomicLong
  private val refusedWindows = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  server.createContext("/", (ex: HttpExchange) => handle(ex))
  server.start()

  def url: String = s"http://127.0.0.1:${server.getAddress.getPort}/api/games/user"

  def stop(): Unit = server.stop(0)

  private def lowerBound(ts: Long): Int = {
    var lo = 0; var hi = db.size
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (db.createdAt(mid) < ts) lo = mid + 1 else hi = mid
    }
    lo
  }

  private def refused(window: String): Boolean = {
    val h = window.hashCode.toLong * 0x9e3779b97f4a7c15L ^ seed
    (((h ^ (h >>> 29)) * 0xbf58476d1ce4e5b9L) >>> 11).toDouble / (1L << 53) < refuseShare
  }

  private def handle(ex: HttpExchange): Unit = try {
    attempts.incrementAndGet()
    val q = Option(ex.getRequestURI.getRawQuery).getOrElse("").split('&')
      .filter(_.contains('=')).map { kv =>
        val i = kv.indexOf('=')
        kv.substring(0, i) -> URLDecoder.decode(kv.substring(i + 1), UTF_8)
      }.toMap
    val window = s"${q.getOrElse("since", "")}/${q.getOrElse("until", "")}"
    // a request for a window refused before is that refusal's retry
    val retry = refusedWindows.remove(window)
    if (retry) retries.incrementAndGet()
    if (!retry && refuseShare > 0 && refused(window)) {
      refusedWindows.add(window)
      ex.getResponseHeaders.add("Retry-After", "0")
      ex.sendResponseHeaders(429, -1)
    } else {
      val lo = q.get("since").map(s => lowerBound(s.toLong)).getOrElse(0)
      val until = q.get("until").map(s => lowerBound(s.toLong)).getOrElse(db.size)
      val hi = math.max(lo, q.get("max").map(m => math.min(until.toLong, lo + m.toLong).toInt)
        .getOrElse(until))
      val len = rangeBytes(lo, hi)
      ex.getResponseHeaders.add("Content-Type", "application/x-ndjson")
      ex.sendResponseHeaders(200, if (len == 0) -1 else len)
      if (len > 0) {
        val out = Channels.newChannel(ex.getResponseBody)
        forRanges(lo, hi) { (c, from, to) =>
          val ch = FileChannel.open(db.files(c), READ)
          try {
            var pos = from
            while (pos < to) pos += ch.transferTo(pos, to - pos, out)
          } finally ch.close()
        }
      }
      served.incrementAndGet()
      bytes.addAndGet(len)
      games.addAndGet(hi - lo)
    }
  } finally ex.close()

  /** Calls `f(chunk, fromByte, toByte)` for each chunk's share of games
    * `[lo, hi)`. */
  private def forRanges(lo: Int, hi: Int)(f: (Int, Long, Long) => Unit): Unit = {
    var i = lo
    while (i < hi) {
      val c = db.chunkOf(i)
      val first = db.chunkFirst(c)
      val end = math.min(hi, first + db.offsets(c).length - 1)
      f(c, db.offsets(c)(i - first), db.offsets(c)(end - first))
      i = end
    }
  }

  private def rangeBytes(lo: Int, hi: Int): Long = {
    var n = 0L
    forRanges(lo, hi)((_, a, b) => n += b - a)
    n
  }
}
