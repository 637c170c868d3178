package e2ebench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}
import javax.management.NotificationEmitter
import javax.management.openmbean.CompositeData
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Heap still in use after each GC, from GC notifications. A section is
  * marked by each collector's collection count at its start and end: a
  * GC's id is its collector's count after it, so the GCs in a section
  * are those with an id past the start mark and up to the end mark. GC
  * start times are on another clock than the JVM's uptime, so they do
  * not place a GC. Notifications arrive late, so sections are read once
  * the runs are over. */
object HeapWatch {
  private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toVector
  private val heapNames = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  /** Collector, id and heap in use after, of every GC. */
  private val gcs = mutable.ArrayBuffer.empty[(String, Long, Long)]

  beans.foreach {
    case e: NotificationEmitter =>
      e.addNotificationListener((n, _) =>
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val gc = info.getGcInfo
          val used = gc.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapNames(pool) => u.getUsed }.sum
          gcs.synchronized(gcs += ((info.getGcName, gc.getId, used)))
        }, null, null)
    case _ =>
  }

  /** Each collector's collection count now. */
  def mark(): Map[String, Long] = beans.map(b => b.getName -> b.getCollectionCount).toMap

  /** Heap in use after each GC between the marks `from` and `to`. */
  def after(from: Map[String, Long], to: Map[String, Long]): Seq[Long] =
    gcs.synchronized(gcs.collect {
      case (name, id, used) if id > from.getOrElse(name, Long.MaxValue) &&
        id <= to.getOrElse(name, Long.MinValue) => used
    }.toVector)
}

/** What one run did: its timed wall and CPU, the input games it took,
  * the GC marks of its timed section, and whether it finished with its
  * output matching the expected one. */
final case class RunRecord(wallS: Double, cpuS: Double, games: Long,
    fromGc: Map[String, Long], toGc: Map[String, Long], ok: Boolean) {
  /** Heap in use after each GC in the timed section. */
  def heapAfterGc: Seq[Long] = HeapWatch.after(fromGc, toGc)
}

/** A run's timed section: wall and CPU seconds, GC marks at its start
  * and end. */
final case class Timing(wallS: Double, cpuS: Double, fromGc: Map[String, Long],
    toGc: Map[String, Long]) {
  def record(games: Long, ok: Boolean): RunRecord = RunRecord(wallS, cpuS, games, fromGc, toGc, ok)
}

/** Shared state of one benchmark process. */
final class Ctx(val spark: SparkSession, val seed: Long, val work: Path,
    val tracer: Tracer, var corruptPending: Boolean) {
  val cpus: Int = Runtime.getRuntime.availableProcessors
  private val listeners = new EngineListeners(tracer)
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  /** Read-back totals over the whole process. */
  var readbackWritten = 0L
  var readbackVisible = 0L
  var readbackS = 0.0

  /** A fresh directory with a nonce in its name; the caller deletes it. */
  def freshDir(prefix: String): Path =
    Files.createDirectories(work.resolve(s"$prefix-${java.util.UUID.randomUUID()}"))

  def delete(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f))
    finally s.close()
  }

  def allocatedBytes: Long = threads.getCurrentThreadAllocatedBytes

  /** Runs `body` as a run's timed section. Traced, the engine listeners
    * watch exactly this section. */
  def timed[T](body: => T): (T, Timing) = {
    // every run starts from a collected heap, so garbage left by earlier
    // runs counts in no GC of this one
    System.gc()
    listening {
      val cpu0 = os.getProcessCpuTime
      val from = HeapWatch.mark()
      val t0 = System.nanoTime()
      val r = body
      val wall = (System.nanoTime() - t0) / 1e9
      (r, Timing(wall, (os.getProcessCpuTime - cpu0) / 1e9, from, HeapWatch.mark()))
    }
  }

  private def gcMillis: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Traced, runs `body` with the engine listeners attached and adds its
    * codegen compilations and GC time; untraced, just runs it. GC time is
    * the JVM's, since local tasks share it with the driver: a task's own
    * `jvmGCTime` misses collections that fall between tasks. */
  def listening[T](body: => T): T =
    if (!tracer.enabled) body
    else {
      val h = CodegenMetrics.METRIC_COMPILATION_TIME
      val compiles0 = h.getCount
      val gc0 = gcMillis
      listeners.attach(spark)
      try body
      finally {
        listeners.detach(spark)
        tracer.add("spark.gc_s", (gcMillis - gc0) / 1e3)
        val compiles = h.getCount - compiles0
        tracer.add("spark.codegen_compiles", compiles.toDouble)
        // the histogram keeps a sample, not a sum: its mean over recent
        // compilations times their exact count
        tracer.add("spark.codegen_compile_ms", compiles * h.getSnapshot.getMean)
      }
    }

  /** The puzzle generator's read of one output directory through the
    * engine's `pgn` reader: every column, through the noop sink. Adds to
    * the read-back totals; returns the games the reader sees. */
  def readback(dir: Path, written: Long): Long = tracer.span("pgn_read.load") {
    val t0 = System.nanoTime()
    val obs = new Observation("readback")
    val df = spark.read.format("pgn").load(dir.toString)
    df.observe(obs, count(lit(1)).as("n")).write.format("noop").mode("overwrite").save()
    val n = obs.get("n").asInstanceOf[Long]
    readbackS += (System.nanoTime() - t0) / 1e9
    readbackWritten += written
    readbackVisible += n
    if (tracer.enabled) {
      val parts = df.queryExecution.sparkPlan.collect {
        case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => s.inputPartitions
      }.flatten
      tracer.add("pgn_read.partitions", parts.size.toDouble)
      // a PGN input partition is (file, start, end)
      tracer.add("pgn_read.bytes", parts.collect { case p: Product if p.productArity == 3 =>
        (p.productElement(2), p.productElement(1)) match {
          case (e: Long, s: Long) => (e - s).toDouble
          case _ => 0.0
        }
      }.sum)
      tracer.add("pgn_read.games", n.toDouble)
      tracer.add("pgn_read.written", written.toDouble)
    }
    n
  }

  /** Compares the digest of the PGN part `files` with `expected`, after
    * the self-test's pending corruption, if any. Records the output size. */
  def check(what: String, files: Seq[Path], expected: Digest): Boolean =
    tracer.span("check") {
      if (corruptPending && PgnCheck.dropOneBlock(files)) corruptPending = false
      val got = PgnCheck.digest(files)
      tracer.add("pgn.bytes_written", PgnCheck.bytes(files).toDouble)
      tracer.add("pgn.files", files.size.toDouble)
      if (got != expected) System.err.println(s"[check] $what: expected $expected, got $got")
      got == expected
    }
}
