package graft

/** Parallel-capacity canary (r18 host-degradation forensics): a fixed
  * CPU workload — work-stealing chunks of xorshift iterations drained by
  * a persistent pool of worker threads — whose wall time is inversely
  * proportional to the machine-wide cycle capacity actually granted to
  * this guest. A
  * healthy quiet host reads a stable floor (~9-15 ms at 32 threads
  * here); a host-level theft episode — which inflates Spark stages 3-8x
  * with thread CPU time inflated ALONGSIDE wall, while staying
  * invisible to /proc/stat steal, the ext-CPU stamp, io pressure, GC
  * logs and JIT state alike (all ruled out experimentally, see
  * OPTIMIZATION_r18.md) — reads 2.5-5x the floor for its whole
  * duration, with occasional single-sample spikes to 20-65x. [[Bench]]
  * samples it between query measurements (Spark idle at the boundary,
  * so the bench's own load cannot contaminate the reading), and
  * [[ProfileQuery]] before each round.
  */
object CanaryProbe {
  // one chunk: 2M xorshift64 steps (~2 ms on one healthy core)
  final val Spin = 2000000L

  def spin(n: Long): Long = {
    var h = 0x9E3779B97F4A7C15L; var i = 0L
    while (i < n) { h ^= h << 13; h ^= h >>> 7; h ^= h << 17; i += 1 }
    h
  }

  /** Persistent-pool canary: `threads` workers parked on a phaser;
    * a sample releases them to drain `chunks` work-stealing chunks.
    * Persistent threads + barrier start remove thread-creation noise
    * from the reading.
    */
  final class Canary(threads: Int, chunks: Int) {
    private val start = new java.util.concurrent.Phaser(threads + 1)
    private val done = new java.util.concurrent.Phaser(threads + 1)
    private val next = new java.util.concurrent.atomic.AtomicInteger(0)
    @volatile private var stop = false
    private val sink = new java.util.concurrent.atomic.AtomicLong(0)
    (1 to threads).foreach { _ =>
      val t = new Thread(() => {
        while (!stop) {
          start.arriveAndAwaitAdvance()
          if (!stop) {
            var c = next.getAndIncrement()
            while (c < chunks) { sink.addAndGet(spin(Spin)); c = next.getAndIncrement() }
            done.arriveAndAwaitAdvance()
          }
        }
      })
      t.setDaemon(true); t.start()
    }
    def sample(): Double = {
      next.set(0)
      val t0 = System.nanoTime()
      start.arriveAndAwaitAdvance()
      done.arriveAndAwaitAdvance()
      (System.nanoTime() - t0) / 1e9
    }
    def shutdown(): Unit = { stop = true; start.arriveAndAwaitAdvance() }
  }
}
