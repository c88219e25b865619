package perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed call into a layer's public function. */
final case class Span(id: Int, parent: Int, layer: String, name: String,
    startNs: Long, endNs: Long, runId: String) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** What Spark did on behalf of one span: jobs, stages, tasks, shuffle,
  * spill and task times.
  */
final class SparkWork {
  var jobs, stages, tasks = 0
  var shuffleRead, shuffleWrite, spill = 0L
  val taskMs = ArrayBuffer.empty[Long]
}

/** Span recorder for the traced run. Spans nest on the driver thread (the
  * benchmark is a closed loop: one job at a time), are kept in memory and
  * written out once at the end. While off, [[span]] only runs its body; a
  * traced run switches it off for the iterations it compares against.
  */
final class Trace(val enabled: Boolean, val runId: String) {
  @volatile var on: Boolean = enabled
  private val events = new java.util.concurrent.atomic.AtomicLong()
  private val streamBatches =
    new java.util.concurrent.ConcurrentHashMap[String, ArrayBuffer[Long]]()
  private val done = ArrayBuffer.empty[Span]
  private val open = ArrayBuffer.empty[(Int, String, String, Long)]
  private var nextId = 1
  @volatile private var current = 0
  private val work = new java.util.concurrent.ConcurrentHashMap[Int, SparkWork]()
  private var sc: SparkContext = null

  def spans: Seq[Span] = done.toSeq
  def workOf(id: Int): SparkWork = work.computeIfAbsent(id, _ => new SparkWork)

  def span[T](layer: String, name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = current
      open += ((id, layer, name, System.nanoTime()))
      current = id
      val group = if (sc != null) sc.getLocalProperty("spark.jobGroup.id") else null
      if (sc != null) sc.setJobGroup(s"span-$id", s"$layer:$name")
      try body
      finally {
        val end = System.nanoTime()
        val (_, l, n, start) = open.remove(open.length - 1)
        done += Span(id, parent, l, n, start, end, runId)
        current = parent
        if (sc != null) {
          if (group == null) sc.clearJobGroup() else sc.setJobGroup(group, "")
        }
      }
    }

  /** Ties Spark jobs to spans: through the job group the span set, or —
    * for jobs a streaming query starts on its own thread — to the span
    * open on the driver at the time.
    */
  def attach(spark: org.apache.spark.sql.SparkSession): Unit = if (enabled) {
    sc = spark.sparkContext
    val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    sc.addSparkListener(new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = events.incrementAndGet()
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        events.incrementAndGet()
        val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        val id = g.filter(_.startsWith("span-")).map(_.stripPrefix("span-").toInt)
          .getOrElse(current)
        val w = workOf(id)
        w.synchronized { w.jobs += 1 }
        e.stageIds.foreach(s => stageSpan.put(s, id))
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val w = workOf(stageSpan.getOrDefault(e.stageInfo.stageId, current))
        w.synchronized { w.stages += 1 }
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        events.incrementAndGet()
        val w = workOf(stageSpan.getOrDefault(e.stageId, current))
        val m = e.taskMetrics
        w.synchronized {
          w.tasks += 1
          if (m != null) {
            w.taskMs += m.executorRunTime
            w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
      }
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      // keyed by the query name's first token (q89_delta_<id> → q89):
      // progress arrives on the listener thread, after the batch ran
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        events.incrementAndGet()
        val key = Option(e.progress.name).getOrElse("").takeWhile(_ != '_')
        val b = streamBatches.computeIfAbsent(key, _ => ArrayBuffer.empty[Long])
        b.synchronized {
          b += e.progress.batchDuration
          b += -e.progress.stateOperators.map(_.numRowsTotal).sum
        }
      }
    })
  }

  /** Wait until the listener threads have caught up: no new event for
    * 300 ms (at most 5 s).
    */
  def settle(): Unit = if (enabled) {
    val t0 = System.nanoTime()
    var last = -1L
    while (events.get() != last && (System.nanoTime() - t0) < 5000000000L) {
      last = events.get()
      Thread.sleep(300)
    }
  }

  /** Batch durations (ms) and the largest state row count seen for the
    * streaming queries named `key`_….
    */
  def streamOf(key: String): (Seq[Long], Long) = {
    val b = streamBatches.getOrDefault(key, ArrayBuffer.empty[Long])
    b.synchronized {
      (b.grouped(2).map(_.head).toSeq, b.grouped(2).map(p => -p(1)).foldLeft(0L)(math.max))
    }
  }

  /** Every span and its Spark work as JSON lines. */
  def write(path: java.nio.file.Path): Unit = {
    val kids = done.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    val lines = done.sortBy(_.id).map { s =>
      val w = workOf(s.id)
      val tm = w.taskMs.toSeq.map(_.toDouble)
      f"""{"run_id":"${s.runId}","id":${s.id},"parent":${s.parent},"layer":"${s.layer}",""" +
        f""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        f""""self_s":${s.seconds - kids.getOrElse(s.id, 0.0)}%.6f,"jobs":${w.jobs},"stages":${w.stages},""" +
        f""""tasks":${w.tasks},"shuffle_read":${w.shuffleRead},"shuffle_write":${w.shuffleWrite},""" +
        f""""spill":${w.spill},"task_ms_p50":${Stats.median(tm)}%.1f,"task_ms_max":${if (tm.isEmpty) 0.0 else tm.max}%.1f}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

object Trace {
  /** Self time (a span's duration minus its direct children's), summed
    * per layer.
    */
  def selfByLayer(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => s.seconds - kids.getOrElse(s.id, 0.0)).sum
    }
  }
}
