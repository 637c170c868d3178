package graft

import org.apache.spark.sql.SparkSession

/** Dev tool: per-stage profile of one or more SparkEntry queries at
  * sf0.1 — tasks, run/cpu/GC millis, max task, shuffle bytes — the
  * instrumentation that found the cold-cache broadcast races and the
  * fixed per-task closure-deserialization cost (see ShingleHash's doc).
  * Usage: runMain graft.Diag profile-query [queryName] [rounds=5]
  */
object ProfileQuery {
  def run(s: SparkSession, name: String, rounds: Int): Unit = {
    val d = Diag.benchSfDir

    val taskMax = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    s.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        println(f"    [job ${js.jobId}%3d start @${js.time % 1000000}%6d]")
      override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        println(f"    [job ${je.jobId}%3d end   @${je.time % 1000000}%6d]")
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        taskMax.merge(te.stageId, te.taskInfo.duration, (a, b) => math.max(a, b))
      override def onStageCompleted(st: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val m = st.stageInfo.taskMetrics
        println(f"    [stage ${st.stageInfo.stageId}%3d] tasks=${st.stageInfo.numTasks}%3d " +
          f"runMs=${m.executorRunTime}%6d cpuMs=${m.executorCpuTime / 1000000}%6d " +
          f"gcMs=${m.jvmGCTime}%5d maxTaskMs=${taskMax.getOrDefault(st.stageInfo.stageId, -1L)}%5d " +
          f"shWrMB=${m.shuffleWriteMetrics.bytesWritten / 1048576.0}%6.1f ${st.stageInfo.name.take(40)}")
      }
    })

    // Host-health canaries (r18 j17-bimodality forensics): fixed CPU
    // work whose wall time is constant on a healthy host. canary1 =
    // one thread; canary32 = all 32 cores, each the same 50 M steps
    // (25 chunks). If a slow query round coincides with inflated
    // canaries, the host itself is degraded (hypervisor-level cycle
    // theft — invisible to /proc/stat steal, ext-CPU and io-pressure
    // stamps alike); if canaries stay flat while the round is slow, the
    // cause is in-JVM state.
    import CanaryProbe.{Canary, Spin, spin}
    spin(Spin * 25) // JIT the loop before timing it
    val canary1 = new Canary(1, 25)
    val canary32 = new Canary(32, 32 * 25)
    // Continuous background canary: one fixed 10 M-iteration spin every
    // ~100 ms, worst sample per window printed with wall-clock stamps —
    // catches a mid-round host burst or a JVM-global pause (GC,
    // safepoint) that a before-round canary misses.
    @volatile var bgWorst = 0.0
    val bg = new Thread(() => {
      while (true) {
        val t0 = System.nanoTime()
        spin(Spin * 5)
        val dt = (System.nanoTime() - t0) / 1e9
        if (dt > bgWorst) bgWorst = dt
        Thread.sleep(80)
      }
    })
    bg.setDaemon(true); bg.start()

    for (round <- 1 to rounds) {
      s.catalog.clearCache(); System.gc(); Thread.sleep(500)
      println(s"=== $name round $round ===")
      val c1 = canary1.sample(); val c32 = canary32.sample()
      bgWorst = 0.0
      println(f"[canary] 1t ${c1}%6.3f s  32t ${c32}%6.3f s  @${System.currentTimeMillis}")
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(s, d)
      val t1 = System.nanoTime()
      df.queryExecution.executedPlan // force optimize + physical planning
      val t2 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val t3 = System.nanoTime()
      println(f"[prof] build ${(t1 - t0) / 1e9}%6.3f s  plan ${(t2 - t1) / 1e9}%6.3f s  exec ${(t3 - t2) / 1e9}%6.3f s  FULL ${(t3 - t0) / 1e9}%7.3f s  bgWorst ${bgWorst}%6.3f s  @${System.currentTimeMillis}")
      Thread.sleep(400)
    }
    canary1.shutdown(); canary32.shutdown()
  }
}
