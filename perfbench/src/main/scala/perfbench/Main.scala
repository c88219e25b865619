package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** Peak heap in use after a garbage collection: the most the live data
  * needed, which unlike the raw peak does not depend on when the
  * collector happened to run.
  */
object Heap {
  @volatile private var peak = 0L

  def install(): Unit = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: javax.management.NotificationEmitter =>
        e.addNotificationListener((n: javax.management.Notification, _: Any) => {
          if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = com.sun.management.GarbageCollectionNotificationInfo.from(
              n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum
            synchronized { peak = math.max(peak, used) }
          }
        }, null, null)
      case _ =>
    }
  }

  def peakMb(): Double = peak / 1048576.0
}

/** What one run of a workload hands back. */
final class Result {
  var attempted = 0
  val failures = scala.collection.mutable.ArrayBuffer.empty[String]
  val endToEnd = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
  val perLayer = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]

  /** Count one operation or output check; a false check is a failure. */
  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    attempted += 1
    if (!ok) {
      failures += name
      System.err.println(s"[perfbench] CHECK FAILED $name $detail")
    }
  }
  def e2e(name: String, v: Double, unit: String): Unit = endToEnd(name) = (v, unit)
  def layer(name: String, v: Double, unit: String): Unit = perLayer(name) = (v, unit)
}

/** Everything a workload needs for one run. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Double, cpus: Int,
    work: Path, trace: Trace) {

  def span[T](layer: String, name: String)(body: => T): T = trace.span(layer, name)(body)

  def fresh(name: String): String = {
    val p = work.resolve(name)
    Ctx.deleteTree(p)
    p.toString
  }

  /** `setup_s`: seconds from the start of the JVM to the first timed call
    * (the first timed iteration of the first closed loop), less the time
    * the benchmark's own output checks took before it. It takes in Spark's
    * start, generating and writing the input, and the warm-up iterations.
    */
  var setupS: Double = Double.NaN
  private var checkS = 0.0

  /** Run `body`, one of the benchmark's own checks, outside `setup_s`. */
  def check[T](body: => T): T = {
    val (v, s) = Ctx.seconds(body)
    checkS += s
    v
  }

  def firstTimedCall(): Unit = if (setupS.isNaN) setupS =
    (System.currentTimeMillis() - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0 - checkS

  /** Run `df` to completion through the noop sink; returns its row count. */
  def drain(df: DataFrame): Long = {
    val obs = Observation()
    df.observe(obs, count(lit(1)).as("rows")).write.format("noop").mode("overwrite").save()
    obs.get("rows").asInstanceOf[Long]
  }
}

object Ctx {
  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally s.close()
  }

  def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }

  /** Seconds of `par` and of `one` over two interleaved passes. */
  def scaling(par: => Any, one: => Any): Seq[(Double, Double)] =
    (1 to 2).map(_ => (seconds(par)._2, seconds(one)._2))

  /** One-task time ÷ (cpus × all-cores time), from the medians of the passes. */
  def efficiency(pairs: Seq[(Double, Double)], cpus: Int): Double =
    Stats.median(pairs.map(_._2)) / (cpus * Stats.median(pairs.map(_._1)))

  /** One timed iteration of a workload's closed loop. */
  final case class It[T](traced: Boolean, seconds: Double, spans: Seq[Span], value: T) {
    /** Summed duration of this iteration's spans called `name`. */
    def spanS(name: String): Double = spans.filter(_.name == name).map(_.seconds).sum
  }

  /** Closed loop over the workload at full size (`main`): two warm-up
    * iterations (numbered -2 and -1), since the JIT keeps speeding the loop
    * up over the first ones. An untraced run then times at least four
    * iterations and at least `seconds`, and the median leaves out the
    * slowest. A traced run times a traced iteration between two untraced
    * ones, so that both see the same conditions and a remaining trend
    * cancels out of the overhead. The other workload's pass in a traced
    * run warms up once and times one traced iteration.
    */
  def loop[T](ctx: Ctx, main: Boolean)(iter: Int => T): Seq[It[T]] = {
    val tr = ctx.trace
    val untraced = main && !tr.enabled
    val budgetS = if (untraced) ctx.seconds else 0.0
    val minOff = if (!main) 0 else if (tr.enabled) 2 else 4
    tr.on = false
    (if (main) -2 to -1 else Seq(-1)).foreach(iter)
    ctx.firstTimedCall()
    val t0 = System.nanoTime()
    val out = scala.collection.mutable.ArrayBuffer.empty[It[T]]
    def short(on: Boolean, min: Int) = out.count(_.traced == on) < min
    while (short(false, minOff) || (tr.enabled && short(true, 1)) ||
        (System.nanoTime() - t0) / 1e9 < budgetS) {
      tr.on = tr.enabled && (out.length % 2 == 1 || minOff == 0)
      // start each iteration from a collected heap: the previous one's
      // checkpoints and shuffle files are released, and no collection
      // carried over from it lands inside this one
      System.gc()
      val mark = tr.spans.length
      val (v, s) = seconds(tr.span("bench", "iteration")(iter(out.length)))
      out += It(tr.on, s, tr.spans.drop(mark), v)
    }
    tr.on = tr.enabled
    out.toSeq
  }

  /** Median of `f` over the traced iterations (all, if none is traced). */
  def tracedMedian[T](its: Seq[It[T]])(f: It[T] => Double): Double = {
    val on = its.filter(_.traced)
    Stats.median((if (on.nonEmpty) on else its).map(f))
  }

  /** The traced iterations' slowdown against the untraced ones. */
  def overhead[T](its: Seq[It[T]]): Double = {
    val (on, off) = its.partition(_.traced)
    if (on.isEmpty || off.isEmpty) 0.0
    else Stats.median(on.map(_.seconds)) / Stats.median(off.map(_.seconds)) - 1.0
  }
}

/** The benchmark's one entry point:
  * `--workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  * --cpus <n> --spans <file>`.
  * The last line of standard output is the result as one JSON object.
  */
object Main {

  val Workloads: Map[String, Ctx => Result] = Map(
    "crawl_pages" -> CrawlPages.run,
    "dedup_corpus" -> DedupCorpus.run)

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val run = Workloads.getOrElse(workload, {
      System.err.println(s"unknown workload $workload; known: ${Workloads.keys.mkString(", ")}")
      sys.exit(2)
    })
    val cpus = a.get("cpus").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)
    val work = Paths.get(a.getOrElse("work", "work")).toAbsolutePath
    Files.createDirectories(work)
    val traced = a.getOrElse("trace", "0") == "1"
    Heap.install()
    val seed = a("seed").toLong

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", work.resolve("checkpoints").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = jobs.incrementAndGet()
    })

    val trace = new Trace(traced, s"$workload-$seed")
    trace.attach(spark)
    val ctx = Ctx(spark, seed, a.getOrElse("seconds", "10").toDouble, cpus, work, trace)
    val res =
      try {
        val r = run(ctx)
        if (traced) Traced.complete(ctx, workload, r)
        r
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          spark.stop()
          sys.exit(1)
      }
    if (traced) trace.write(Paths.get(a.getOrElse("spans", work.resolve("spans.jsonl").toString)))
    spark.stop()
    import scala.jdk.CollectionConverters._
    val mx = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    println(s"[perfbench] spark_jobs=${jobs.get} gc_ms=${mx.map(_.getCollectionTime).sum} " +
      s"gc_count=${mx.map(_.getCollectionCount).sum} " +
      s"jit_ms=${java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime}")

    val metrics = if (traced) res.perLayer else res.endToEnd
    val body = metrics.map { case (k, (v, u)) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
    val correct = res.failures.isEmpty
    println(s"""{"correct": $correct, "attempted": ${math.max(1, res.attempted)}, """ +
      s""""failed": ${res.failures.length}, "metrics": {$body}}""")
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)
}
