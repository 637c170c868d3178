package e2ebench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.e2ebench.ExecutionEnd
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.mutable

/** One traced call: `parent` is the index of the enclosing span (-1 at a
  * run's top level); spans of one run share `run`. */
final case class Span(name: String, run: String, parent: Int, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span and counter store for the traced run. Disabled, `span`
  * is a plain call and `add` does nothing, so untraced runs pay neither.
  */
final class Tracer {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private val counters = mutable.LinkedHashMap.empty[String, mutable.Map[String, Double]]
  @volatile private var on = false
  @volatile private var run = ""

  def enabled: Boolean = on

  /** Starts recording under run id `id`; `stop()` ends it. */
  def start(id: String): Unit = synchronized { run = id; on = true; open = Nil }
  def stop(): Unit = synchronized { on = false }

  def span[T](name: String)(f: => T): T =
    if (!on) f
    else {
      val idx = synchronized {
        spans += Span(name, run, open.headOption.getOrElse(-1), System.nanoTime(), 0L)
        open = (spans.size - 1) :: open
        spans.size - 1
      }
      try f
      finally synchronized {
        spans(idx) = spans(idx).copy(endNs = System.nanoTime())
        open = open.filterNot(_ == idx)
      }
    }

  def add(name: String, v: Double): Unit = if (on) synchronized {
    counters.getOrElseUpdate(run, mutable.LinkedHashMap.empty)
      .updateWith(name)(o => Some(o.getOrElse(0.0) + v))
  }

  def max(name: String, v: Double): Unit = if (on) synchronized {
    counters.getOrElseUpdate(run, mutable.LinkedHashMap.empty)
      .updateWith(name)(o => Some(math.max(o.getOrElse(v), v)))
  }

  def allSpans: Seq[Span] = synchronized(spans.toVector)
  def runCounters: Map[String, Map[String, Double]] =
    synchronized(counters.map { case (k, v) => k -> v.toMap }.toMap)

  /** Per run: summed duration and summed self time of each span name. A
    * span's self time is its duration minus the part its children cover. */
  def layerTimes: Map[String, Map[String, (Double, Double)]] = {
    val all = allSpans
    val childCover = new Array[Long](all.size)
    all.foreach { s => if (s.parent >= 0) childCover(s.parent) += s.endNs - s.startNs }
    all.indices.groupBy(i => all(i).run).map { case (r, idx) =>
      r -> idx.groupBy(i => all(i).name).map { case (n, is) =>
        n -> (is.map(i => all(i).seconds).sum,
          is.map(i => (all(i).endNs - all(i).startNs - childCover(i)) / 1e9).sum)
      }
    }
  }

  def spansJson: String = allSpans.zipWithIndex.map { case (s, i) =>
    s"""{"id":$i,"name":"${s.name}","run":"${s.run}","parent":${s.parent},""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

/** The engine seen through its listener APIs: the listener bus (jobs,
  * stages, task metrics, and each SQL execution's `QueryPlanningTracker`
  * phases, streaming micro-batches included) and the streaming-query
  * listener (`StreamingQueryProgress.durationMs`). Attached only around
  * traced calls; every event adds to the tracer's current run.
  */
final class EngineListeners(t: Tracer) {
  private val bus = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = t.add("spark.jobs", 1)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      t.add("spark.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      t.add("spark.tasks", 1)
      if (m != null) {
        t.add("spark.task_run_s", m.executorRunTime / 1e3)
        t.add("spark.task_cpu_s", m.executorCpuTime / 1e9)
        t.max("spark.max_task_s", m.executorRunTime / 1e3)
        t.add("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        t.add("spark.shuffle_read_bytes", (m.shuffleReadMetrics.remoteBytesRead +
          m.shuffleReadMetrics.localBytesRead).toDouble)
        t.add("spark.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd =>
        ExecutionEnd.queryExecution(end).foreach(_.tracker.phases.foreach {
          case (phase, s) => t.add(s"spark.${phase}_ms", s.durationMs.toDouble)
        })
      case _ =>
    }
  }

  private val streams = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      t.add("stream.triggers", 1)
      e.progress.durationMs.forEach((k, v) => t.add(s"stream.${k}_ms", v.toDouble))
    }
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(bus)
    spark.streams.addListener(streams)
  }

  /** Waits for queued events, then detaches. */
  def detach(spark: SparkSession): Unit = {
    org.apache.spark.GraftSparkInternals.drainListenerBus(spark.sparkContext, 10000)
    spark.streams.removeListener(streams)
    spark.sparkContext.removeSparkListener(bus)
  }
}
