package graft

import java.util.Locale

/** Driver-run benchmark: every SparkEntry query timed at
  * SPARK_GRAFT_SF_DIR, one JSON line on stdout (BENCH_r{N}.json).
  *
  * Protocol (BASELINE.md §4): full-inventory warmup at the measured sf,
  * then each query timed as the MEDIAN of up to `SPARK_GRAFT_BENCH_RUNS`
  * (default 3) passes — as many as fit the deadline. Medians, not single
  * shots: rounds 1 and 2 showed one-off system contention inflating
  * individual passes by 0.5–2.5 s, which a median absorbs. System load
  * averages are captured before and after so a contended run is visible
  * in the artifact itself.
  *
  * Each query is forced through a noop-format write so every output
  * column is fully materialized (a bare .count() would let Spark skip
  * column decoding on projection-only plans — flattering but dishonest).
  *
  * Output contract — hardened after three rounds of unparseable driver
  * artifacts (r1/r2: 2000-char stdout-tail truncation of a ~3.5k line;
  * r3: rc=124 wall-clock timeout killed the JVM before the single final
  * println). Three defenses, in order of importance:
  *
  *  1. DEADLINE-ADAPTIVE PASSES. `SPARK_GRAFT_BENCH_DEADLINE` (seconds
  *     of budget from main() entry, default 480 — under the driver's
  *     observed ~600 s wall clock, which also pays sbt compile and
  *     JVM/Spark startup before main) bounds the run. After warmup,
  *     pass 1 is attempted whenever meaningful budget remains (an
  *     aborted pass is discarded and costs nothing); later passes are
  *     added only while the projection from the slowest completed
  *     timed pass (1.2× + 15 s slack) fits. A pass in progress is
  *     aborted (discarded) if the deadline approaches, so the run
  *     always ENDS CLEANLY with rc=0 instead of being killed.
  *  2. A COMPACT LINE AFTER EVERY PASS. The driver keeps only the last
  *     2000 chars of stdout, so the line uses the unique id prefix of
  *     each query name (`l2c_shingle_jaccard` → `l2c`; RegistrySpec pins
  *     prefix uniqueness) and 3-decimal seconds (~1.5k chars). It is
  *     printed with medians-so-far after the warmup and after every
  *     completed timed pass — whatever line is last when the process
  *     ends is a valid, parseable artifact. The warmup-only line is
  *     marked `"runs":0` (first-touch inflated, better than nothing).
  *  3. A JVM SHUTDOWN HOOK re-emits the latest line if the process is
  *     torn down (SIGTERM from `timeout`) before the clean exit —
  *     registered BEFORE the SparkSession exists so it runs after
  *     Spark's own stop hook without depending on it.
  *
  * The full-name, full-precision, per-pass record is rewritten after
  * every pass to bench_full_latest.json (gitignored scratch) — NOT to
  * the committed bench_full.json, which a driver-initiated run at an
  * arbitrary load/SF used to clobber silently (VERDICT r4 item 1). A
  * run that is meant to become the committed record sets
  * SPARK_GRAFT_BENCH_RECORD=bench_full.json explicitly.
  *
  * Diagnostic-only queries (SparkEntry.benchOptIn — currently m8's
  * exact-distinct profile, whose Expand ×4 is the documented price of
  * exactness) are skipped unless SPARK_GRAFT_BENCH_ALL=1.
  *
  * CONTAMINATION EVIDENCE (VERDICT r10 next #1): the pre-pass load
  * gate cannot see a co-tenant burst that starts MID-pass — BENCH_r10
  * recorded gate waits at load 1.95 yet five adjacent queries came out
  * 4–8× inflated by a burst the artifact couldn't attribute. The 1-min
  * load average is useless DURING a pass (it is dominated by our own
  * local[32] work), so every timed query is stamped with the EXTERNAL CPU
  * it ran alongside: /proc/stat busy jiffies minus this JVM's process
  * CPU time, over the query's wall interval, in cores — a direct
  * measurement of co-tenant CPU inside the timing window. A
  * measurement is CLEAN when external CPU ≤ `ExtMax` (2.0 cores);
  * per-query medians use clean passes only, any query left with NO
  * clean measurement is re-timed once after a fresh load gate (budget
  * permitting), and queries still unclean are listed
  * under "hot" in the stdout tail JSON so the driver can mechanically
  * discount them instead of reading contention as regression. The full
  * record carries every pass's per-query ext stamps. Two further
  * blind spots are stamped the same way: io (full-stall pressure,
  * I/O-bound co-tenants) and cap (host-level parallel-capacity theft,
  * invisible to every other in-guest counter — doc on [[M]]).
  */
object Bench {
  // latest parseable compact line; the shutdown hook replays it if the
  // normal path never got to print a final one
  @volatile private var lastLine: String = ""
  // short aggregates-only line printed AFTER the compact line: at ~190
  // queries the compact line (~2.3 kB) outgrew the driver's 2000-char
  // stdout tail (BENCH_r11 parsed=null, the r1/r2 failure at the new
  // inventory size). Tail truncation keeps the END of stdout, so a
  // ≤300-char summary printed LAST always survives at any inventory
  // size; per-query detail lives in the full record file.
  @volatile private var shortLine: String = ""
  @volatile private var cleanExit: Boolean = false

  /** A measurement is clean when at most this many cores of external
    * CPU ran alongside it. */
  private val ExtMax = 2.0
  /** I/O-contaminated when ≥ 20 % of its wall window was system-wide
    * full-stall on I/O; own-load full-stall is ~0 (doc on [[M]]). */
  private val IoMax = 0.2
  /** Capacity-contaminated when BOTH boundary canary samples exceed
    * this multiple of the run's floor (doc on [[M]]; measured healthy-
    * host distribution: p50 ≈ 1.3×, p90 ≈ 3× floor as single samples,
    * but min-of-two-adjacent over 3× is ~1 % healthy vs the rule during
    * an episode, which holds whole ~minutes windows at 2.5-5×). */
  private val CapMax = 2.5
  /** Each load gate waits for the 1-min load average to drop under this. */
  private val LoadMax = 2.0

  private def f3(d: Double): String = String.format(Locale.ROOT, "%.3f", d)

  /** One timed measurement: wall seconds (-1 on failure), the
    * external-CPU stamp (cores of non-JVM busy CPU during the window),
    * and the I/O full-stall stamp (fraction of the window in which ALL
    * runnable tasks system-wide were stalled on I/O — /proc/pressure/io
    * "full"). The r18 record runs exposed the ext stamp's blind spot:
    * an I/O-BOUND co-tenant stalls the fsync-heavy entries (streaming
    * checkpoint/commit logs, table commits; t32 measured 14.5 s vs
    * 5.2 s quiet) while burning almost no CPU, so ext stays under the
    * gate and the contamination is invisible to the artifact. Full-
    * stall pressure is ~0 under this benchmark's own load (32 compute
    * cores keep at least one task runnable through its writes), so a
    * non-trivial reading is a direct co-tenant I/O signature.
    *
    * `cap` is the parallel-capacity stamp (r18 j17-bimodality
    * forensics): the HOST of this microVM intermittently withholds
    * parallel CPU capacity, inflating identical stages 3-8x with thread
    * CPU time inflated alongside wall while /proc/stat steal, ext and
    * io all read ~0 (j17's committed-record passes: 5.62/5.80/1.95 s,
    * all three stamped clean; GC, JIT/codegen and in-guest co-tenancy
    * were each ruled out experimentally — see OPTIMIZATION_r18.md).
    * The only in-guest observable is a fixed N-thread spin workload
    * ([[CanaryProbe.Canary]]) sampled at query BOUNDARIES (Spark idle,
    * so our own load cannot contaminate it): episodes hold 2.5-5x the
    * run's floor for minutes. `cap` = min of the two boundary samples
    * around the measurement — a query inside an episode has BOTH
    * boundaries elevated, while a one-sample scheduler spike (healthy
    * tail reaches ~3x) never flags a query on its own. Gated relative
    * to the run's floor (fail-open: no floor, no flag).
    */
  private case class M(sec: Double, ext: Double, io: Double = 0.0,
    cap: Double = 0.0)

  private val osBean =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case b: com.sun.management.OperatingSystemMXBean => Some(b)
      case _ => None
    }

  /** Whole-system busy jiffies from /proc/stat (USER_HZ = 100 on every
    * mainstream Linux); -1 when unreadable (ext stamps then read 0 and
    * nothing is ever flagged — fail open, the r10 behavior).
    */
  private def busyJiffies(): Long = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      // user + nice + system + irq + softirq + steal (idle/iowait excluded)
      f(0) + f(1) + f(2) + f(5) + f(6) + (if (f.length > 7) f(7) else 0L)
    } finally src.close()
  } catch { case _: Throwable => -1L }

  /** Cumulative system-wide I/O full-stall time in µs
    * (/proc/pressure/io, "full ... total=N"); -1 when unreadable (the
    * io stamps then read 0 and nothing is flagged — fail open, like
    * [[busyJiffies]]).
    */
  private def ioStallMicros(): Long = try {
    val src = scala.io.Source.fromFile("/proc/pressure/io")
    try src.getLines().find(_.startsWith("full"))
      .flatMap(l => """total=(\d+)""".r.findFirstMatchIn(l))
      .map(_.group(1).toLong).getOrElse(-1L)
    finally src.close()
  } catch { case _: Throwable => -1L }

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - t0) / 1e9
    val sfDir = Diag.benchSfDir
    val cpus = Diag.cpus("32")
    val maxPasses = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    // 480 (was 390): at 275 entries warmup (~244 s quiet) + one steady
    // pass (~194 s) no longer fit 390, so both the r17 32-core AND
    // 8-core driver artifacts were warmup-only ("runs":0 — first-touch
    // numbers compared round over round). 390 was set when the
    // inventory summed ~120 s; the margin it bought is now spent on
    // inventory growth. 480 still clears the driver's ~600 s wall by
    // ~100 s of sbt/JVM/teardown headroom (measured: a 450-deadline
    // run ends at 438 s of sbt time), and every overrun path stays
    // parseable: the compact line is printed after warmup and after
    // every pass (driver keeps the stdout tail), a pass that cannot
    // finish is aborted cleanly, and the shutdown hook replays the
    // latest line on SIGTERM.
    val deadline = sys.env.getOrElse("SPARK_GRAFT_BENCH_DEADLINE", "480").toDouble
    def remaining: Double = deadline - elapsed

    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      if (!cleanExit && lastLine.nonEmpty) {
        println(lastLine)
        if (shortLine.nonEmpty) println(shortLine)
        System.out.flush()
      }
    }))

    val spark = Diag.session(cpus)

    def loadAvg: Double =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .getSystemLoadAverage

    val canary =
      try Some(new CanaryProbe.Canary(cpus.toInt, cpus.toInt))
      catch { case _: Throwable => None }
    CanaryProbe.spin(CanaryProbe.Spin * 4) // JIT the canary loop
    canary.foreach { c => c.sample(); c.sample() }
    // run floor of the canary (monotone min over every sample taken);
    // cleanliness is evaluated post-hoc in emit, by which point the
    // floor covers the whole run so far
    var capFloor = Double.MaxValue
    def canarySample(): Double = canary.map { c =>
      val v = c.sample()
      if (v < capFloor) capFloor = v
      v
    }.getOrElse(0.0)
    var lastCap = canarySample()
    def clean(m: M): Boolean = m.sec >= 0 && m.ext <= ExtMax &&
      m.io <= IoMax &&
      (capFloor == Double.MaxValue || m.cap <= capFloor * CapMax)
    def once(name: String): M = {
      val j0 = busyJiffies()
      val s0 = ioStallMicros()
      val c0 = osBean.map(_.getProcessCpuTime).getOrElse(0L)
      val t = System.nanoTime()
      val failed =
        try { SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save(); false }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          true
        }
      val wall = (System.nanoTime() - t) / 1e9
      val j1 = busyJiffies()
      val s1 = ioStallMicros()
      val c1 = osBean.map(_.getProcessCpuTime).getOrElse(0L)
      val capBefore = lastCap
      lastCap = canarySample()
      if (failed) return M(-1.0, 0.0)
      val ext =
        if (j0 < 0 || j1 < 0 || osBean.isEmpty || wall <= 0) 0.0
        else math.max(0.0, (j1 - j0) / 100.0 - (c1 - c0) / 1e9) / wall
      val io =
        if (s0 < 0 || s1 < 0 || wall <= 0) 0.0
        else (s1 - s0) / 1e6 / wall
      M(wall, ext, io, math.min(capBefore, lastCap))
    }

    val fullPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_RECORD", "bench_full_latest.json")
    val all = sys.env.get("SPARK_GRAFT_BENCH_ALL").contains("1")
    val names = SparkEntry.queries.keys.toSeq
      .filter(n => all || !SparkEntry.benchOptIn(n)).sorted

    // Load gate, ALL runs (VERDICT r8 missing #3; widened r10 next #6 —
    // BENCH_r09 was captured at load 8.46 because the driver's run path
    // bypassed the record-only gate, and its sql1/m5/m7 readings were
    // contention noise the driver can't tell from regressions). Before
    // warmup and before each timed pass, wait until the 1-min load
    // average drops under `LoadMax` (2.0), bounded per gate and by the
    // global deadline; every gate event is recorded in bench_full.json
    // AND the stdout tail JSON, so a still-contended artifact is
    // self-describing.
    val gateEvents = scala.collection.mutable.ArrayBuffer.empty[String]
    def loadGate(tag: String): Unit = {
      var waited = 0
      while (loadAvg > LoadMax && waited < 120 && remaining > 60) {
        Thread.sleep(5000); waited += 5
      }
      gateEvents +=
        s"""{"at":"$tag","load":${f3(loadAvg)},"waited_s":$waited}"""
    }
    val loadBefore = loadAvg

    // lower median: for an even run count this takes the faster middle
    // value (ok(size/2) would take the slower — with 2 passes that's a
    // max, penalizing one contention burst)
    def median(xs: Seq[Double]): Double = {
      val ok = xs.filter(_ >= 0).sorted
      if (ok.isEmpty) -1.0 else ok((ok.size - 1) / 2)
    }

    // committed-record baseline captured ONCE, before any pass: a
    // record run rewrites bench_full.json after every pass, so a lazy
    // read would compare the run against its own previous pass (the
    // r14 attempt-1 bug — live_over_rec degenerated to ~1.0)
    val recBase: Option[(Double, Int, Map[String, Double])] = try {
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("bench_full.json")),
        java.nio.charset.StandardCharsets.UTF_8)
      if (!txt.contains("\"sf\":\"" + sfDir + "\"")) None
      else for {
        rTotal <- """"value":([0-9.]+)""".r.findFirstMatchIn(txt)
          .map(_.group(1).toDouble)
        rRuns <- """"runs":(\d+)""".r.findFirstMatchIn(txt)
          .map(_.group(1).toInt)
        qb <- """"queries":\{(.*?)\}""".r.findFirstMatchIn(txt)
          .map(_.group(1))
      } yield (rTotal, rRuns,
        """"([A-Za-z0-9_]+)":(-?[0-9.]+)""".r.findAllMatchIn(qb)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap)
    } catch { case _: Throwable => None }

    // per-query value: median over the CLEAN measurements (ext ≤ ExtMax
    // AND io ≤ IoMax AND cap under gate; `extra` measurements — retimes
    // and aborted-pass survivors — included); a query with successes
    // but zero clean ones falls back to the all-measurements median and
    // is listed under "hot"
    def emit(perPass: Seq[Map[String, M]], runs: Int,
        extra: Map[String, Seq[M]] = Map.empty): Unit = {
      val med = names.map { n =>
        val ms = perPass.map(_(n)) ++ extra.getOrElse(n, Nil)
        val cleanMs = ms.filter(clean)
        val value =
          if (runs == 0 || cleanMs.nonEmpty) median(
            (if (runs == 0) ms else cleanMs).map(_.sec))
          else median(ms.map(_.sec))
        val hot = runs > 0 && cleanMs.isEmpty && ms.exists(_.sec >= 0)
        (n, value, hot)
      }
      val total = med.map(_._2).filter(_ >= 0).sum
      // VERDICT r15 item 8: the externally graded streaming-machinery
      // entries (t22+, multi-batch feeds + state stores) are the gate-
      // excluded class and keep growing — split their wall-clock out so
      // the driver's tail carries BOTH totals alongside per-query keys
      def isStreamMachinery(n: String): Boolean = {
        val p = n.takeWhile(_ != '_')
        p.length > 1 && p.head == 't' && p.tail.forall(_.isDigit) &&
          p.tail.toInt >= 22
      }
      val streamTotal =
        med.collect { case (n, v, _) if v >= 0 && isStreamMachinery(n) => v }.sum
      val qs = med.map { case (k, v, _) => "\"" + k.takeWhile(_ != '_') + "\":" + f3(v) }
        .mkString("{", ",", "}")
      // compact line caps the hot list at 24 ids (the realistic case is
      // a handful; an all-hot run must not blow the driver's 2000-char
      // stdout tail — the full record carries the complete list)
      val hotAll = med.filter(_._3)
      val hotIds = (hotAll.take(24).map(m => "\"" + m._1.takeWhile(_ != '_') + "\"") ++
        (if (hotAll.size > 24) Seq("\"+" + (hotAll.size - 24) + "\"") else Nil))
        .mkString("[", ",", "]")
      lastLine =
        s"""{"metric":"total","value":${f3(total)},"unit":"sec","runs":$runs,""" +
        s""""load_avg":[${f3(loadBefore)},${f3(loadAvg)}],""" +
        s""""hot":$hotIds,""" +
        s""""load_gate":${gateEvents.mkString("[", ",", "]")},""" +
        s""""queries":$qs,"sf":"$sfDir"}"""
      println(lastLine)
      // FULL-INVENTORY line printed LAST, sized for the driver's
      // 2000-char stdout tail (r12 verdict missing #5: only 6 of 203
      // medians survived the tail; the 3-decimal compact line outgrew it
      // at ~190 queries). Medians ride as INTEGER CENTISECONDS
      // ("q_unit":"cs") — ~1.75 kB at 208 queries vs 2.4 kB at 3dp —
      // with a decisecond fallback and, past that, the old 6-query
      // headline, so the last line is ALWAYS parseable whole. Full
      // 3-decimal per-query detail stays in the record file.
      val extPeak = perPass.flatMap(_.values.map(_.ext)).foldLeft(0.0)(math.max)
      // EMBEDDED CLEAN SERIES (r14 item 8): when the live window is
      // contaminated (runs=0 / ext-hot), the artifact still carries one
      // clean reference — the committed stamped-quiet record's headline
      // plus the live/record ratio over the COMMON query set, so the
      // judge can discount co-tenancy mechanically from the tail alone.
      val rec: String = recBase.map { case (rTotal, rRuns, recMed) =>
        val common = med.collect {
          case (n, v, _) if v >= 0 && recMed.get(n).exists(_ > 0) =>
            (v, recMed(n))
        }
        val ratio = if (common.isEmpty) -1.0
          else common.map(_._1).sum / common.map(_._2).sum
        s""""rec":{"total":${f3(rTotal)},"runs":$rRuns,""" +
          s""""common_n":${common.size},"live_over_rec":${f3(ratio)}},"""
      }.getOrElse("")
      def tail(unit: String, scale: Double): String = {
        val qs = med.map { case (k, v, _) =>
          "\"" + k.takeWhile(_ != '_') + "\":" +
            (if (v >= 0) math.round(v * scale).toString else "-1")
        }.mkString("{", ",", "}")
        s"""{"metric":"total","value":${f3(total)},"unit":"sec","runs":$runs,""" +
        s""""stream_total":${f3(streamTotal)},"gate_total":${f3(total - streamTotal)},""" +
        s""""n":${med.count(_._2 >= 0)},"ext_peak":${f3(extPeak)},$rec""" +
        s""""hot_n":${hotAll.size},"q_unit":"$unit","queries":$qs,"sf":"$sfDir"}"""
      }
      val headline = med.filter(_._2 >= 0).sortBy(_._1).take(6)
        .map { case (k, v, _) => "\"" + k.takeWhile(_ != '_') + "\":" + f3(v) }
        .mkString("{", ",", "}")
      val headLine =
        s"""{"metric":"total","value":${f3(total)},"unit":"sec","runs":$runs,""" +
        s""""stream_total":${f3(streamTotal)},"gate_total":${f3(total - streamTotal)},""" +
        s""""n":${med.count(_._2 >= 0)},"ext_peak":${f3(extPeak)},$rec""" +
        s""""hot_n":${hotAll.size},"queries":$headline,"sf":"$sfDir"}"""
      // Full-inventory ARRAY fallback (VERDICT r17 next #1a): at 275
      // entries even the decisecond per-key MAP is ~2.5 kB — past the
      // driver's 2000-char stdout tail — so the r17 artifact fell all
      // the way back to the 6-query headline and the driver's per-query
      // comparison covered 2 % of the inventory. Medians ride instead as
      // one integer array ("qv", cs or ds per "q_unit") in ascending
      // FULL-NAME order — the exact `names.sorted` order Verify dumps
      // and CORRECTNESS_r{N}.json lists — with "qn" (count) and "q_crc"
      // (CRC32 of the comma-joined sorted full names) pinning the order
      // so a reader can reattach names mechanically. The 6-query
      // headline map stays alongside for map-shaped parsers. ~1.5 kB at
      // 275 entries; headroom to ~500 entries before the ds variant.
      def arrLine(unit: String, scale: Double): String = {
        val crc = new java.util.zip.CRC32()
        crc.update(names.mkString(",")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        val vs = med.map { case (_, v, _) =>
          if (v >= 0) math.round(v * scale).toString else "-1" }
          .mkString("[", ",", "]")
        s"""{"metric":"total","value":${f3(total)},"unit":"sec","runs":$runs,""" +
        s""""stream_total":${f3(streamTotal)},"gate_total":${f3(total - streamTotal)},""" +
        s""""n":${med.count(_._2 >= 0)},"ext_peak":${f3(extPeak)},$rec""" +
        s""""hot_n":${hotAll.size},"q_unit":"$unit","q_order":"name_asc",""" +
        s""""q_crc":${crc.getValue},"qn":${med.size},"qv":$vs,""" +
        s""""queries":$headline,"sf":"$sfDir"}"""
      }
      shortLine = Seq(tail("cs", 100.0), tail("ds", 10.0),
          arrLine("cs", 100.0), arrLine("ds", 10.0), headLine)
        .find(_.length <= 1950).getOrElse(headLine)
      println(shortLine)
      System.out.flush()
      val passJson = perPass.map(p =>
        names.map(n => s""""$n":${p(n).sec}""").mkString("{", ",", "}"))
        .mkString("[", ",", "]")
      val extJson = perPass.map(p =>
        names.map(n => s""""$n":${f3(p(n).ext)}""").mkString("{", ",", "}"))
        .mkString("[", ",", "]")
      val ioJson = perPass.map(p =>
        names.map(n => s""""$n":${f3(p(n).io)}""").mkString("{", ",", "}"))
        .mkString("[", ",", "]")
      val capJson = perPass.map(p =>
        names.map(n => s""""$n":${f3(p(n).cap)}""").mkString("{", ",", "}"))
        .mkString("[", ",", "]")
      val extraJson = extra.toSeq.sortBy(_._1).map { case (n, ms) =>
        s""""$n":""" + ms.map(m =>
          s"""{"sec":${f3(m.sec)},"ext":${f3(m.ext)},"io":${f3(m.io)},""" +
            s""""cap":${f3(m.cap)}}""").mkString("[", ",", "]") }
        .mkString("{", ",", "}")
      val medJson = med.map { case (k, v, _) => s""""$k":${f3(v)}""" }
        .mkString("{", ",", "}")
      val hotFull = hotAll.map("\"" + _._1 + "\"").mkString("[", ",", "]")
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(fullPath),
        s"""{"metric":"total","value":${f3(total)},"unit":"sec","runs":$runs,""" +
          s""""stream_total":${f3(streamTotal)},"gate_total":${f3(total - streamTotal)},""" +
          s""""load_avg":[${f3(loadBefore)},${f3(loadAvg)}],""" +
          // ext_gate/io_gate = the configured clean-pass thresholds;
          // ext_peak/io_peak = the worst readings actually measured
          // (named so a reader cannot mistake config for measurement)
          s""""ext_gate":${f3(ExtMax)},"ext_peak":${f3(
            perPass.flatMap(_.values.map(_.ext)).foldLeft(0.0)(math.max))},""" +
          s""""io_gate":${f3(IoMax)},"io_peak":${f3(
            perPass.flatMap(_.values.map(_.io)).foldLeft(0.0)(math.max))},""" +
          // cap_floor = the run's best canary reading (seconds);
          // cap_gate = the relative threshold; cap_peak = worst
          // min-of-two-boundaries stamp actually attached to a query
          s""""cap_floor":${f3(if (capFloor == Double.MaxValue) -1.0
            else capFloor)},"cap_gate":${f3(CapMax)},"cap_peak":${f3(
            perPass.flatMap(_.values.map(_.cap)).foldLeft(0.0)(math.max))},""" +
          s""""hot":$hotFull,""" +
          s""""load_gate":${gateEvents.mkString("[", ",", "]")},""" +
          s""""queries":$medJson,"passes":$passJson,""" +
          s""""passes_ext":$extJson,"passes_io":$ioJson,""" +
          s""""passes_cap":$capJson,""" +
          // "extra" = out-of-pass measurements folded into the medians:
          // contamination retimes and aborted-pass survivors alike
          s""""extra":$extraJson,"sf":"$sfDir"}""")
    }

    // Warmup: one full-inventory pass at the MEASURED sf — §4's "1
    // warm-up then median". Rounds 1-2 warmed at sf0.001 instead, so the
    // first measured pass paid every query's sf-specific first-touch
    // (codegen for actual stats, ORC/CSV writer init, broadcast builds)
    // on top of GC settling; that plus the 8g heap is what inflated the
    // BENCH_r01/r02 artifacts. Warming at sfDir makes every timed pass
    // steady-state. The warmup is itself timed and emitted as a
    // `"runs":0` line so even a run killed right after warmup leaves a
    // parseable (if first-touch-inflated) artifact in the tail.
    // (per-query deadline guard here too: a warmup that blows the whole
    // budget must still end with a parseable runs:0 line, not rc=124)
    // SESSION BOOTSTRAP (VERDICT r17 next #2): the first query of the
    // session pays Spark-SQL-wide init — analyzer/optimizer rule
    // loading, codegen framework + Janino warm-up, parquet datasource +
    // noop sink registration. That cost belongs to the SESSION, not to
    // whichever entry sorts first: a10_pivot's "warmup" read 5.7 s in
    // BENCH_r17 against 0.38 s steady purely for being alphabetically
    // first. Two framework-sized no-inventory actions pay it up front;
    // they touch no fixture beyond the 5-row region table, so no
    // inventory work is precomputed.
    try {
      spark.range(1000).selectExpr("sum(id) s", "count(distinct id % 7) c")
        .write.format("noop").mode("overwrite").save()
      Tables.region(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
    } catch { case e: Throwable =>
      System.err.println(s"[bench] bootstrap failed: ${e.getMessage}")
    }
    // view registration is session setup (driver-side file listing),
    // not per-query work — do it for the measured dir before ANY timing
    // (it previously ran between warmup and pass 1, so the warmup-line
    // sql* numbers carried the registration cost the timed passes
    // never pay).
    // Fenced: this loads every fixture table, and an un-loadable table
    // here must cost only the queries that need it (per-query -1), not
    // the whole artifact — r7's events schema drift killed the round's
    // bench precisely because this line ran unfenced.
    try graft.operators.SqlFrontend.registerViews(spark, sfDir)
    catch { case e: Throwable =>
      System.err.println(s"[bench] view registration failed: ${e.getMessage}")
    }
    loadGate("warmup")
    // Warmup budget: 55 % of the deadline. A co-tenant burst can
    // stretch the warmup past the whole budget (measured: 302 s vs
    // 244 s quiet — one contaminated query alone read 26 s), and a
    // full warmup that leaves no room for a timed pass buys nothing:
    // the driver would compare first-touch numbers again ("runs":0).
    // Queries past the budget skip warmup and pay their first touch
    // inside pass 1 instead — a slightly inflated tail in a timed pass
    // beats a whole artifact of first-touch numbers, and with ≥2
    // passes the median absorbs it entirely.
    val warmupBudget = deadline * 0.55
    val warmup: Map[String, M] =
      names.map(n => n -> (
        if (remaining < 20 || elapsed > warmupBudget) M(-1.0, 0.0)
        else once(n))).toMap
    spark.catalog.clearCache() // drop warmup-cached subtrees
    emit(Seq(warmup), runs = 0)
    // Spark frees broadcast/shuffle blocks via weak references (the
    // ContextCleaner only sees them after a GC), so a 106-query warmup
    // leaves thousands of dead blocks pinning the heap; settle before
    // the first timed pass.
    System.gc()
    Thread.sleep(3000)

    // pass-major order (whole inventory, then again) rather than
    // query-major (same query 3× back to back): repeated immediate runs
    // would hit the OS page cache and JIT state in a way a driver's
    // single pass would not, flattering the median.
    val perPass = scala.collection.mutable.ArrayBuffer.empty[Map[String, M]]
    // Pass admission (VERDICT r17 next #1b). The old rule projected
    // EVERY pass — including the first — from the warmup total padded
    // 1.3×, and warmup is both first-touch-inflated and the pass most
    // exposed to co-tenant bursts; at the grown inventory that
    // projection refused pass 1 with 140–190 s of budget left against a
    // ~194 s steady pass (r17 32-core AND 8-core: "runs":0). A pass in
    // progress already aborts cleanly at the deadline and is discarded,
    // so attempting one is FREE: the warmup artifact stands either way,
    // and optimism converts refused budget into timed medians. Pass 1
    // is therefore attempted whenever meaningful budget remains; later
    // passes project from the slowest COMPLETED TIMED pass (steady
    // numbers, not warmup), padded for contention.
    var slowestTimed = -1.0
    var fits = true
    // out-of-pass measurements folded into the per-query pools:
    // aborted-pass survivors now, contamination retimes below. An
    // aborted pass used to be discarded whole — at 275 entries that
    // threw away up to ~250 ordinary timed measurements and left the
    // driver a pure first-touch artifact ("runs":0); the pass-major
    // cold-cache protocol holds for every completed measurement of an
    // aborted sweep, only the SWEEP is incomplete, so they are pooled
    // per query (runs still counts completed passes only).
    val extras = scala.collection.mutable.Map.empty[String, List[M]]
    def addExtra(n: String, m: M): Unit =
      extras(n) = extras.getOrElse(n, Nil) :+ m
    while (perPass.size < maxPasses && fits) {
      fits =
        if (slowestTimed < 0) remaining > 90
        else remaining > slowestTimed * 1.2 + 15
      if (fits) {
        loadGate(s"pass${perPass.size + 1}")
        val passT0 = elapsed
        // Per-query deadline check INSIDE the pass: a contention burst
        // can stretch a pass well past its projection (r4 ran at load
        // 3.2), and one hung query must not ride into the driver's
        // hard timeout — the partial pass's completed measurements are
        // pooled (extras) and the artifact keeps the completed passes'
        // medians.
        val p = scala.collection.mutable.Map.empty[String, M]
        var aborted = false
        for (n <- names if !aborted) {
          if (remaining < 20) aborted = true
          else p(n) = once(n)
        }
        if (aborted) {
          System.err.println(s"[bench] pass ${perPass.size + 1} aborted at " +
            s"${p.size}/${names.size} queries (deadline); keeping its " +
            "completed measurements")
          p.foreach { case (n, m) => addExtra(n, m) }
          fits = false
        } else {
          slowestTimed = math.max(slowestTimed, elapsed - passT0)
          perPass += p.toMap
        }
        // per-invocation .cache()s (dedup/similarity kernels) accumulate
        // across a pass; drop them so pass N+1 starts from the same
        // state pass 1 did (and give the weak-ref cleaner a GC to see
        // the dropped blocks)
        spark.catalog.clearCache()
        // zero COMPLETED passes: re-emit the warmup line with the
        // aborted pass's survivors pooled in, so tail queries the
        // partial sweep never reached keep their warmup values
        if (perPass.nonEmpty)
          emit(perPass.toSeq, runs = perPass.size, extra = extras.toMap)
        else if (extras.nonEmpty)
          emit(Seq(warmup), runs = 0, extra = extras.toMap)
        System.gc()
      }
    }

    // Contamination rescue: queries whose EVERY successful measurement
    // carried an external-CPU stamp above ExtMax get one re-time behind
    // a fresh load gate (budget permitting); the final emit folds the
    // clean re-times into the medians and lists whatever remains
    // unclean under "hot".
    val hotNow = names.filter { n =>
      val ms = perPass.map(_(n)) ++ extras.getOrElse(n, Nil)
      perPass.nonEmpty && ms.forall(!clean(_)) && ms.exists(_.sec >= 0)
    }
    var retimedAny = false
    // cap at 24 re-times: a genuine burst touches a handful of adjacent
    // queries; an all-hot run means the HOST is unusable and re-timing
    // the whole inventory would only blow the deadline and the
    // compact-line budget (each retime adds a gate event)
    for (n <- hotNow.take(24) if remaining > 30) {
      loadGate(s"retime:${n.takeWhile(_ != '_')}")
      val m = once(n)
      if (m.sec >= 0) { addExtra(n, m); retimedAny = true }
    }
    if (perPass.nonEmpty && (retimedAny || hotNow.nonEmpty))
      emit(perPass.toSeq, runs = perPass.size, extra = extras.toMap)

    cleanExit = true
    spark.stop()
  }
}
