package e2ebench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import java.util.concurrent.{Executors, TimeUnit}

/** Shape of one generated game population. */
final case class Mix(mateFrac: Double, standardFrac: Double, analysedFrac: Double,
    pliesMean: Double, pliesSd: Double, pliesMin: Int, pliesMax: Int)

object Mix {
  /** A player's history as the export API returns it: ~15 % mate, ~95 %
    * standard, ~30 % analysed, clocks on every game. */
  val History = Mix(0.15, 0.95, 0.30, 70, 30, 4, 300)
  /** Every game passes the pipeline's filter, with long movetext. */
  val LongMates = Mix(1.0, 1.0, 0.30, 160, 40, 100, 300)
}

/** Count plus order-independent hash of a set of 7-field projections. */
final case class Digest(count: Long, hash: Long) {
  def +(o: Digest): Digest = Digest(count + o.count, hash + o.hash)
  override def toString: String = f"$count games, hash $hash%016x"
}

object Digest {
  val Empty: Digest = Digest(0, 0)

  /** 64-bit FNV-1a over the fields (null shown as "?", as PGN writes it),
    * finished with the splitmix64 mixer so the sum over games spreads. */
  def of(fields: Array[String]): Long = {
    var h = 0xcbf29ce484222325L
    var f = 0
    while (f < fields.length) {
      val s = if (fields(f) == null) "?" else fields(f)
      var i = 0
      while (i < s.length) { h = (h ^ s.charAt(i)) * 0x100000001b3L; i += 1 }
      h = (h ^ 0x1f) * 0x100000001b3L
      f += 1
    }
    h = (h ^ (h >>> 30)) * 0xbf58476d1ce4e5b9L
    h = (h ^ (h >>> 27)) * 0x94d049bb133111ebL
    h ^ (h >>> 31)
  }
}

/** A generated population written as NDJSON chunk files, in `createdAt`
  * order, with the ground truth the output check needs: per game its
  * timestamp, byte range, and the digest of its 7-field projection when
  * it passes the pipeline's `mate`/`standard` filter (0 otherwise).
  */
final class GameDb(val files: Array[Path], val chunkFirst: Array[Int],
    val offsets: Array[Array[Long]], val createdAt: Array[Long],
    val passes: Array[Boolean], val hashes: Array[Long]) {

  def size: Int = createdAt.length

  /** Expected output digest of the games with index in `[lo, hi)`. */
  def expected(lo: Int, hi: Int): Digest = {
    var n = 0L; var h = 0L; var i = lo
    while (i < hi) { if (passes(i)) { n += 1; h += hashes(i) }; i += 1 }
    Digest(n, h)
  }

  def passRate: Double = passes.count(identity).toDouble / math.max(1, size)

  /** Chunk holding game `i`. */
  def chunkOf(i: Int): Int = {
    val c = java.util.Arrays.binarySearch(chunkFirst, i)
    if (c >= 0) c else -c - 2
  }
}

/** Seeded, deterministic Lichess-shaped game generator: the same seed
  * gives byte-identical files, whatever the thread count.
  */
object Gen {
  private val Sans = Array("e4", "e5", "d4", "d5", "Nf3", "Nc6", "c4", "c5",
    "Bb5", "a6", "Ba4", "Nf6", "O-O", "Be7", "Re1", "b5", "Bb3", "d6", "c3",
    "h3", "Nbd7", "Nc3", "Bg5", "Qxd5", "exd5", "cxd4", "Nxd4", "g6", "Bg2",
    "Qb6", "Rad1", "f4", "Kg7", "Qe2", "Rfe1", "h6", "Bxf7+", "Ng5", "Rxe8+",
    "Kh1", "a4", "Qc7", "Bd3", "Ne4", "fxe5", "Rc8", "Qh5+", "O-O-O", "Kb1")
  private val Openings = Array(
    ("C20", "King's Pawn Game", 2), ("C50", "Italian Game", 5),
    ("C60", "Ruy Lopez", 5), ("B20", "Sicilian Defense", 2),
    ("B90", "Sicilian Defense: Najdorf Variation", 10),
    ("C00", "French Defense", 2), ("B10", "Caro-Kann Defense", 2),
    ("D06", "Queen's Gambit", 3), ("D30", "Queen's Gambit Declined", 4),
    ("E60", "King's Indian Defense", 4), ("D80", "Grünfeld Defense", 6),
    ("A09", "Réti Opening", 3), ("A10", "English Opening", 1),
    ("A00", "Van't Kruijs Opening", 1), ("C42", "Petrov's Defense", 4),
    ("B01", "Scandinavian Defense", 2), ("A45", "Indian Defense", 2),
    ("C44", "Scotch Game", 5), ("A40", "Englund Gambit", 2),
    ("B07", "Pirc Defense", 4))
  private val Variants = Array("chess960", "crazyhouse", "atomic",
    "antichess", "kingOfTheHill", "threeCheck", "horde", "racingKings")
  private val Speeds = Array(("ultraBullet", 15, 0), ("bullet", 60, 0),
    ("bullet", 120, 1), ("blitz", 180, 2), ("blitz", 300, 3))
  private val Syllables = Array("ka", "ro", "mi", "ne", "zu", "ta", "li",
    "vo", "sen", "dar", "gor", "bel", "fin", "chess", "pawn", "rook", "el")
  private val Judgments = Array(("Inaccuracy", "Inaccuracy."),
    ("Mistake", "Mistake."), ("Blunder", "Blunder."))

  private def mix64(x: Long): Long = {
    var z = x * 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Unique 8-character id: a bijection of the game index onto 36^8. */
  private def gameId(salt: Long, i: Int): String = {
    val m = 2821109907456L // 36^8
    val v = Math.floorMod(i * 1000003L * 7919L + (salt & 0xffffffL), m)
    val s = java.lang.Long.toString(v, 36)
    "00000000".substring(s.length) + s
  }

  private def userName(seed: Long, k: Int): String = {
    val r = new SplittableRandom(mix64(seed ^ (k.toLong << 20)))
    val sb = new StringBuilder
    sb.append(Syllables(r.nextInt(Syllables.length)).capitalize)
    sb.append(Syllables(r.nextInt(Syllables.length)))
    if (r.nextInt(3) == 0) sb.append('_').append(Syllables(r.nextInt(Syllables.length)))
    sb.append(k % 1000)
    sb.toString
  }

  /** Writes games `[first, first + n)` of the population as NDJSON to
    * `path`, filling the ground-truth slots for those indices; returns
    * each game's byte offset in the file (plus the file's length). */
  private def chunk(seed: Long, mix: Mix, names: Array[String], first: Int,
      n: Int, path: Path, createdAt: Array[Long], passes: Array[Boolean],
      hashes: Array[Long]): Array[Long] = {
    val rng = new SplittableRandom(mix64(seed * 31 + first))
    val offsets = new Array[Long](n + 1)
    val out = new java.io.BufferedOutputStream(Files.newOutputStream(path), 1 << 20)
    val sb = new java.lang.StringBuilder(8192)
    val fields = new Array[String](7)
    val base = 1600000000000L + Math.floorMod(mix64(seed), 100000000L) * 1000L
    try {
      var k = 0
      while (k < n) {
        val i = first + k
        sb.setLength(0)
        val created = base + i * 60000L + rng.nextInt(59000)
        createdAt(i) = created
        val standard = rng.nextDouble() < mix.standardFrac
        val variant = if (standard) "standard" else Variants(rng.nextInt(Variants.length))
        val u = rng.nextDouble()
        val status =
          if (u < mix.mateFrac) "mate"
          else {
            val v = (u - mix.mateFrac) / (1 - mix.mateFrac)
            if (v < 0.50) "resign" else if (v < 0.78) "outoftime"
            else if (v < 0.88) "draw" else if (v < 0.91) "stalemate" else "timeout"
          }
        val winner =
          if (status == "draw" || status == "stalemate") null
          else if (rng.nextBoolean()) "white" else "black"
        val (speed, initial, inc) = Speeds(rng.nextInt(Speeds.length))
        val plies = math.max(mix.pliesMin, math.min(mix.pliesMax,
          math.round(mix.pliesMean + mix.pliesSd * gaussian(rng)).toInt))
        val id = gameId(seed, i)

        sb.append("{\"id\":\"").append(id).append("\",\"rated\":")
          .append(rng.nextInt(5) != 0).append(",\"variant\":\"").append(variant)
          .append("\",\"speed\":\"").append(speed).append("\",\"perf\":\"")
          .append(if (standard) speed else variant)
          .append("\",\"createdAt\":").append(created)
          .append(",\"lastMoveAt\":").append(created + plies * (initial * 10L + 500))
          .append(",\"status\":\"").append(status).append("\",\"players\":{")
        val white = player(sb, "white", rng, names)
        sb.append(',')
        val black = player(sb, "black", rng, names)
        sb.append('}')
        if (winner != null) sb.append(",\"winner\":\"").append(winner).append('"')
        val opening =
          if (standard && rng.nextInt(50) != 0) Openings(rng.nextInt(Openings.length))
          else null
        if (opening != null)
          sb.append(",\"opening\":{\"eco\":\"").append(opening._1)
            .append("\",\"name\":\"").append(opening._2)
            .append("\",\"ply\":").append(opening._3).append('}')
        sb.append(",\"moves\":\"")
        val movesStart = sb.length
        var p = 0
        while (p < plies) {
          if (p > 0) sb.append(' ')
          sb.append(Sans(rng.nextInt(Sans.length)))
          p += 1
        }
        if (status == "mate") {
          if (sb.charAt(sb.length - 1) == '+') sb.setLength(sb.length - 1)
          sb.append('#')
        }
        val moves = sb.substring(movesStart)
        sb.append("\",\"clocks\":[")
        var clock = initial * 100 + 3
        p = 0
        while (p < plies) {
          if (p > 0) sb.append(',')
          sb.append(clock)
          clock = math.max(0, clock - rng.nextInt(initial / 2 + 20) + inc * 100 / 2)
          p += 1
        }
        sb.append(']')
        if (rng.nextDouble() < mix.analysedFrac) analysis(sb, rng, plies, status == "mate")
        sb.append(",\"clock\":{\"initial\":").append(initial).append(",\"increment\":")
          .append(inc).append(",\"totalTime\":").append(initial + 40 * inc)
          .append("}}\n")

        val bytes = sb.toString.getBytes(UTF_8)
        out.write(bytes)
        offsets(k + 1) = offsets(k) + bytes.length
        val pass = status == "mate" && variant == "standard"
        passes(i) = pass
        if (pass) {
          fields(0) = id; fields(1) = white; fields(2) = black
          fields(3) = if (opening == null) null else opening._1
          fields(4) = if (opening == null) null else opening._2
          fields(5) = winner; fields(6) = moves
          hashes(i) = Digest.of(fields)
        }
        k += 1
      }
    } finally out.close()
    offsets
  }

  private def gaussian(r: SplittableRandom): Double = {
    // Box-Muller; one draw per call keeps the stream position simple
    val u1 = math.max(r.nextDouble(), 1e-12)
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  /** Appends one side's player object; returns its user name or null. */
  private def player(sb: java.lang.StringBuilder, side: String,
      rng: SplittableRandom, names: Array[String]): String = {
    sb.append('"').append(side).append("\":{")
    val name =
      if (rng.nextInt(33) == 0) null // anonymous player: no user object
      else names(rng.nextInt(names.length))
    if (name != null)
      sb.append("\"user\":{\"name\":\"").append(name).append("\",\"id\":\"")
        .append(name.toLowerCase).append("\"},")
    sb.append("\"rating\":").append(800 + rng.nextInt(2000))
      .append(",\"ratingDiff\":").append(rng.nextInt(31) - 15).append('}')
    name
  }

  private def analysis(sb: java.lang.StringBuilder, rng: SplittableRandom,
      plies: Int, mate: Boolean): Unit = {
    sb.append(",\"analysis\":[")
    var eval = rng.nextInt(60) - 30
    var p = 0
    while (p < plies) {
      if (p > 0) sb.append(',')
      if (mate && p >= plies - 3) sb.append("{\"mate\":").append(plies - p - 1).append('}')
      else if (rng.nextInt(12) == 0) {
        val (jn, jc) = Judgments(rng.nextInt(Judgments.length))
        val best = Sans(rng.nextInt(Sans.length))
        sb.append("{\"eval\":").append(eval).append(",\"best\":\"").append(best)
          .append("\",\"variation\":\"").append(best).append(' ')
          .append(Sans(rng.nextInt(Sans.length))).append(' ')
          .append(Sans(rng.nextInt(Sans.length))).append("\",\"judgment\":{\"name\":\"")
          .append(jn).append("\",\"comment\":\"").append(jc).append(' ')
          .append(best).append(" was best.\"}}")
      } else sb.append("{\"eval\":").append(eval).append('}')
      eval += rng.nextInt(81) - 40
      p += 1
    }
    sb.append(']')
  }

  /** Generates `n` games in `chunks` files under `dir`, in parallel. */
  def generate(seed: Long, mix: Mix, n: Int, chunks: Int, dir: Path,
      threads: Int): GameDb = {
    Files.createDirectories(dir)
    val names = Array.tabulate(4096)(userName(seed, _))
    val createdAt = new Array[Long](n)
    val passes = new Array[Boolean](n)
    val hashes = new Array[Long](n)
    val c = math.max(1, math.min(chunks, n))
    val firsts = Array.tabulate(c)(k => (n.toLong * k / c).toInt)
    val files = Array.tabulate(c)(k => dir.resolve(f"db-$k%03d.ndjson"))
    val offsets = new Array[Array[Long]](c)
    val pool = Executors.newFixedThreadPool(math.max(1, threads))
    try {
      val futures = (0 until c).map { k =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = {
            val end = if (k + 1 < c) firsts(k + 1) else n
            offsets(k) = chunk(seed, mix, names, firsts(k), end - firsts(k),
              files(k), createdAt, passes, hashes)
          }
        })
      }
      futures.foreach(_.get())
    } finally {
      pool.shutdown()
      pool.awaitTermination(1, TimeUnit.MINUTES)
    }
    new GameDb(files, firsts, offsets, createdAt, passes, hashes)
  }
}
