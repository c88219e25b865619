package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline.{ExtractJob, TableIO}
import graft.ops.PageMeta

/** crawl_pages: seeded Common-Crawl-shaped pages through the bucketed
  * extraction commit path (`ExtractMain.runBuckets`) and a features pass
  * (six `PageMeta` extractors plus boilerplate-stripped extraction) over a
  * fixed quarter of the pages.
  */
object CrawlPages {

  val Pages = 2400
  val Buckets = 4

  /** The program's input: (doc_id, url, warc_ts, html, lang). */
  def table(spark: SparkSession, seed: Long, pages: Int, partitions: Int): DataFrame = {
    import spark.implicits._
    spark.range(0, pages.toLong, 1, partitions).as[Long].map { i =>
      val p = CrawlGen.page(seed, i)
      (p.docId, p.url, new java.sql.Timestamp(p.warcTsSec * 1000L),
        p.html.getBytes(java.nio.charset.StandardCharsets.UTF_8), p.lang)
    }.toDF("doc_id", "url", "warc_ts", "html", "lang")
  }

  /** Generate the pages and write them as parquet, one file per task. */
  def setUp(ctx: Ctx, pages: Int, dir: String): DataFrame = {
    table(ctx.spark, ctx.seed, pages, 2 * ctx.cpus).write.parquet(dir)
    val input = ctx.spark.read.parquet(dir)
    input.count()
    input
  }

  /** Planted totals over all pages and over the features quarter. */
  final case class Planted(wellFormed: Long, quarter: Long, outlinks: Long,
      images: Long, alternates: Long, tableRows: Long, social: Long)

  def planted(spark: SparkSession, seed: Long, pages: Int): Planted = {
    import spark.implicits._
    val rows = spark.range(0, pages.toLong).as[Long].map { i =>
      val f = CrawlGen.facts(seed, i)
      val q = if (i % 4 == 0) 1L else 0L
      (if (f.wellFormed) 1L else 0L, q, q * f.outlinks, q * f.images,
        q * f.alternates, q * f.tables, q * (if (f.social) 1L else 0L))
    }.toDF("wf", "q", "ol", "im", "al", "tb", "so")
      .agg(sum("wf"), sum("q"), sum("ol"), sum("im"), sum("al"), sum("tb"), sum("so"))
      .collect().head
    Planted(rows.getLong(0), rows.getLong(1), rows.getLong(2), rows.getLong(3),
      rows.getLong(4), rows.getLong(5), rows.getLong(6))
  }

  /** The features pass; returns each extractor's row count. */
  def features(ctx: Ctx, quarter: DataFrame): Map[String, Long] = Seq[(String, String, () => DataFrame)](
    ("ops", "head_meta", () => PageMeta.headMeta(quarter).toDF()),
    ("ops", "outlinks_with_base", () => PageMeta.outlinksWithBase(quarter)),
    ("ops", "images", () => PageMeta.images(quarter)),
    ("ops", "alternates", () => PageMeta.alternates(quarter)),
    ("ops", "tables", () => PageMeta.tables(quarter)),
    ("ops", "social_meta", () => PageMeta.socialMeta(quarter)),
    ("pipeline", "extract_strip", () => ExtractJob.run(quarter, stripBoilerplate = true).toDF())
  ).map { case (layer, name, df) => name -> ctx.span(layer, name)(ctx.drain(df())) }.toMap

  /** `ExtractMain.runBuckets`, its progress lines dropped. */
  def extract(ctx: Ctx, pages: DataFrame, out: String): Unit =
    Console.withOut(new java.io.PrintStream(java.io.OutputStream.nullOutputStream())) {
      graft.ExtractMain.runBuckets(ctx.spark, pages, out, Buckets, 0, -1)
    }

  /** The calls `ExtractMain.runBuckets` makes, in its order, each phase
    * under its own span: resume discovery and the pending-bucket scan,
    * then per bucket the extraction write, the read-back of the written
    * rows, and the commit (metrics row, manifest, snapshot), then the
    * closing summary reads. A traced run times it once, for the phase
    * times; [[sameCommit]] holds its output to that of `runBuckets`.
    */
  def extractPhases(ctx: Ctx, pages: DataFrame, out: String): Unit = {
    val spark = ctx.spark
    val (pending, buckets) = ctx.span("pipeline", "pending_only") {
      TableIO.committedBuckets(out)
      TableIO.reconcileSnapshots(out)
      val p = TableIO.pendingOnly(pages, out, Buckets)
      (p, p.select(TableIO.BucketCol).distinct().collect().map(_.getLong(0)).sorted)
    }
    buckets.foreach { bucket =>
      val t0 = System.nanoTime()
      ctx.span("pipeline", "write_bucket") {
        val slice = pending.filter(col(TableIO.BucketCol) === bucket).drop(TableIO.BucketCol)
        TableIO.writeBucketData(ExtractJob.run(slice, saltPartitions = 0).toDF(), out, bucket)
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val m = ctx.span("pipeline", "readback") {
        spark.read.parquet(s"$out/${TableIO.BucketCol}=$bucket")
          .agg(ExtractJob.metricAggs.head, ExtractJob.metricAggs.tail: _*).collect().head
      }
      ctx.span("pipeline", "commit") {
        TableIO.writeBucketMetrics(spark, out, TableIO.BucketMetrics(
          bucket, m.getLong(0), m.getLong(1), m.getLong(2), m.getLong(3),
          wall, m.getLong(0) / math.max(wall, 1e-9),
          attempt = TableIO.nextAttempt(spark, out, bucket)))
        TableIO.commitManifest(out, bucket, m.getLong(0))
        TableIO.appendSnapshot(out, bucket)
      }
    }
    ctx.span("pipeline", "summary") {
      spark.read.parquet(out).agg(count(lit(1)), sum(when(col("parse_ok"), 1L).otherwise(0L)),
        sum("n_bytes")).collect()
      TableIO.committedBuckets(out)
      val mt = TableIO.metricsTable(spark, out)
      if (!mt.isEmpty) {
        mt.agg(sum("docs"), sum("wall_sec")).collect()
        mt.count()
      }
    }
  }

  /** Where two committed tables differ: rows, committed buckets, snapshot
    * log and metrics rows (all but their wall times).
    */
  def sameCommit(spark: SparkSession, a: String, b: String): Seq[String] = {
    val metrics = (t: String) => Layers.digest(TableIO.metricsTable(spark, t).drop("wall_sec", "docs_per_sec"))
    Seq[(String, String => Any)](
      "rows" -> (t => Layers.digest(spark.read.parquet(t))),
      "committed_buckets" -> (t => TableIO.committedBuckets(t)),
      "snapshots" -> (t => TableIO.snapshots(t)),
      "metrics" -> metrics
    ).collect { case (name, f) if f(a) != f(b) => s"$name: ${f(a)} != ${f(b)}" }
  }

  final case class Iter(extractS: Double, featuresS: Double,
      scaling: Seq[(Double, Double)], counts: Map[String, Long]) {
    def parS: Double = Stats.median(scaling.map(_._1))
    def oneS: Double = Stats.median(scaling.map(_._2))
  }

  /** The workload at full size (`main`), or a one-iteration traced pass
    * over `pages` pages that another workload's traced run adds for the
    * per-layer numbers this workload owns.
    */
  def run(ctx: Ctx): Result = run(ctx, Pages, main = true)

  def run(ctx: Ctx, pages: Int, main: Boolean): Result = {
    val res = new Result
    val spark = ctx.spark
    import spark.implicits._
    val input = setUp(ctx, pages, ctx.fresh("crawl_input"))
    val inputParts = input.rdd.getNumPartitions
    res.check("input_partitions>=cpus", inputParts >= ctx.cpus, s"$inputParts")
    val quarter = input.filter(col("doc_id") % 4 === 0)
    val nQuarter = quarter.count()
    // traced runs: ExtractJob alone over half the pages, on all cores and
    // in one task
    val half = input.filter(col("doc_id") % 2 === 0)
    val par = half.repartition(ctx.cpus)
    val one = half.coalesce(1)
    val nHalf = if (!ctx.trace.enabled) 0L else { par.cache(); one.cache().count(); par.count() }
    val inputBytes = input.agg(sum(length(col("html")))).collect().head.getLong(0)

    val out = ctx.work.resolve("crawl_out").toString
    val its = Ctx.loop(ctx, main) { _ =>
      ctx.fresh("crawl_out")
      val (_, e) = Ctx.seconds(ctx.span("pipeline", "run_buckets")(extract(ctx, input, out)))
      val (counts, f) = Ctx.seconds(features(ctx, quarter))
      val sc = if (!ctx.trace.enabled) Nil else Ctx.scaling(
        ctx.span("pipeline", "extract_job")(ctx.drain(ExtractJob.run(par).toDF())),
        ctx.span("pipeline", "extract_job_1task")(ctx.drain(ExtractJob.run(one).toDF())))
      Iter(e, f, sc, counts)
    }
    par.unpersist(); one.unpersist()
    val phaseSpans = if (!ctx.trace.enabled) Seq.empty[Span] else {
      val mark = ctx.trace.spans.length
      val phases = ctx.fresh("crawl_phases")
      ctx.span("pipeline", "run_buckets_phases")(extractPhases(ctx, input, phases))
      val diff = sameCommit(spark, out, phases)
      res.check("phases=run_buckets", diff.isEmpty, diff.mkString("; "))
      ctx.trace.spans.drop(mark)
    }

    // ---- output checks on the last iteration ----
    val p = planted(spark, ctx.seed, pages)
    val outDf = spark.read.parquet(out)
    val agg = outDf.agg(count(lit(1)), countDistinct(col("url")),
      sum(when(col("parse_ok"), 1L).otherwise(0L))).collect().head
    res.check("committed_rows", agg.getLong(0) == pages, s"${agg.getLong(0)} != $pages")
    val manifests = TableIO.committedBuckets(out).size
    res.check("committed_buckets", manifests == Buckets, s"$manifests")
    res.check("distinct_urls", agg.getLong(1) == pages, s"${agg.getLong(1)}")
    res.check("parse_ok=planted_well_formed", agg.getLong(2) == p.wellFormed,
      s"${agg.getLong(2)} != ${p.wellFormed}")
    val r = Rand.rng(ctx.seed, 10, 0)
    val sample = Seq.fill(24)(r.nextInt(pages).toLong).distinct
    val got = outDf.filter(col("doc_id").isin(sample: _*)).select("doc_id", "text_out")
      .as[(Long, String)].collect().toMap
    sample.foreach { id =>
      val want = CrawlGen.page(ctx.seed, id).expectedText
      res.check(s"text_out[$id]", got.get(id).contains(want),
        s"got ${got.get(id).map(_.take(120))} want ${want.take(120)}")
    }
    val last = its.last.value.counts
    Seq("head_meta" -> p.quarter, "outlinks_with_base" -> p.outlinks,
      "images" -> p.images, "alternates" -> p.alternates, "tables" -> p.tableRows,
      "social_meta" -> p.social, "extract_strip" -> p.quarter).foreach { case (k, want) =>
      res.check(s"rows[$k]", last(k) == want, s"${last(k)} != $want")
    }
    val (storedBytes, files) = dirStats(java.nio.file.Paths.get(out))

    // ---- metrics ----
    val med = (f: Iter => Double) => Stats.median(its.filterNot(_.traced).map(i => f(i.value)))
    if (main) {
      res.e2e("setup_s", ctx.setupS, "s")
      res.e2e("docs_per_s", pages / med(i => i.extractS + i.featuresS), "1/s")
      res.layer("trace.overhead_share", Ctx.overhead(its), "ratio")
    }
    val tm = (f: Ctx.It[Iter] => Double) => Ctx.tracedMedian(its)(f)
    res.layer("pipeline.extract_docs_per_s", pages / tm(_.value.extractS), "1/s")
    res.layer("ops.features_docs_per_s", nQuarter / tm(_.value.featuresS), "1/s")
    res.layer("pipeline.scaling_efficiency", Ctx.efficiency(its.flatMap(_.value.scaling), ctx.cpus), "ratio")
    res.layer("pipeline.extract_job_docs_per_s", nHalf / tm(_.value.parS), "1/s")
    res.layer("pipeline.extract_job_1task_docs_per_s", nHalf / tm(_.value.oneS), "1/s")
    res.layer("pipeline.extract_strip_s", tm(_.spanS("extract_strip")), "s")
    Seq("pending_only", "write_bucket", "readback", "commit", "summary").foreach(n =>
      res.layer(s"pipeline.${n}_s", phaseSpans.filter(_.name == n).map(_.seconds).sum, "s"))
    Seq("head_meta", "outlinks_with_base", "images", "alternates", "tables", "social_meta")
      .foreach(n => res.layer(s"ops.${n}_s", tm(_.spanS(n)), "s"))
    res.layer("ops.page_meta_rows", last.filter(_._1 != "extract_strip").values.sum.toDouble, "count")
    res.layer("pipeline.bytes_written", storedBytes.toDouble, "bytes")
    res.layer("pipeline.files_written", files.toDouble, "count")
    res.layer("pipeline.stored_bytes_per_input_byte", storedBytes.toDouble / inputBytes, "ratio")
    if (ctx.trace.enabled) {
      val sizes = input.select(length(col("html")).cast("double")).as[Double].collect().toSeq
      val hosts = input.groupBy(regexp_extract(col("url"), "//([^/]+)/", 1)).count()
        .agg(max("count")).collect().head.getLong(0)
      println(s"[perfbench] crawl_pages input: pages=$pages partitions=$inputParts " +
        f"size_p50=${Stats.nearestRank(sizes, 50)}%.0f size_p99=${Stats.nearestRank(sizes, 99)}%.0f " +
        f"malformed_share=${1.0 - p.wellFormed.toDouble / pages}%.4f " +
        f"host_top1_share=${hosts.toDouble / pages}%.4f")
    }
    println(s"[perfbench] crawl_pages pages=$pages " +
      s"input_bytes=$inputBytes stored_bytes=$storedBytes iterations(extract,features,par,one)=" +
      its.map(i => f"${if (i.traced) "T" else "U"}(${i.value.extractS}%.2f,${i.value.featuresS}%.2f," +
        f"${i.value.parS}%.2f,${i.value.oneS}%.2f)").mkString(" "))
    res
  }

  /** Bytes and number of the regular files under `p`. */
  def dirStats(p: java.nio.file.Path): (Long, Long) = {
    import scala.jdk.CollectionConverters._
    val s = java.nio.file.Files.walk(p)
    try {
      val sizes = s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(java.nio.file.Files.size).toSeq
      (sizes.sum, sizes.length.toLong)
    } finally s.close()
  }
}
