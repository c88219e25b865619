package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.kernel.{Boilerplate, Entities, HtmlParser, Query}

/** Layer probes of the traced run: the kernel single-threaded on a seeded
  * sample of crawl_pages pages, the row boundary, the Spark functions, the
  * streaming harnesses and a fixed set of queries.
  */
object Layers {

  val SamplePages = 240

  /** Units per second of `body` (which returns the units it processed),
    * repeated for at least `minS` seconds; the median of three trials.
    */
  def rate(minS: Double)(body: => Double): Double = Stats.median((1 to 3).map { _ =>
    var units = 0.0
    val t0 = System.nanoTime()
    var el = 0.0
    while (el < minS) { units += body; el = (System.nanoTime() - t0) / 1e9 }
    units / el
  })

  def sample(seed: Long): Array[String] =
    Array.tabulate(SamplePages)(i => CrawlGen.page(seed, 1000000L + i).html)

  def kernel(ctx: Ctx, res: Result, pages: Array[String], small: Array[String]): Unit = {
    val mb = pages.map(_.getBytes(UTF_8).length.toDouble).sum / 1e6
    val t = 0.25
    res.layer("kernel.parse_mb_per_s", ctx.span("kernel", "HtmlParser.parse") {
      rate(t) { pages.foreach(HtmlParser.parse(_)); mb }
    }, "MB/s")
    val roots = pages.map(HtmlParser.parse(_))
    res.layer("kernel.structured_text_mb_per_s", ctx.span("kernel", "Element.structuredText") {
      rate(t) { roots.foreach(_.structuredText); mb }
    }, "MB/s")
    res.layer("kernel.entities_decode_mb_per_s", ctx.span("kernel", "Entities.decode") {
      rate(t) { pages.foreach(Entities.decode); mb }
    }, "MB/s")
    val sels = Seq("a", "img", "meta", "link[rel=\"alternate\"]", "table").map(Query.compileUnion)
    res.layer("kernel.query_selector_all_docs_per_s", ctx.span("kernel", "Query.querySelectorAll") {
      rate(t) { roots.foreach(r => sels.foreach(Query.querySelectorAll(r, _))); roots.length }
    }, "1/s")
    res.layer("kernel.boilerplate_strip_docs_per_s", ctx.span("kernel", "Boilerplate.strip") {
      Stats.median((1 to 3).map { _ =>
        val fresh = pages.map(HtmlParser.parse(_))
        val (_, s) = Ctx.seconds(fresh.foreach(Boilerplate.strip(_)))
        fresh.length / s
      })
    }, "1/s")
    res.layer("kernel.small_page_docs_per_s", ctx.span("kernel", "small_pages") {
      rate(t) { small.foreach(HtmlParser.parse(_).structuredText); small.length }
    }, "1/s")
    res.layer("kernel.valid_share", roots.count(_.valid).toDouble / roots.length, "ratio")
    val single = rate(t) { pages.foreach(HtmlParser.parse(_).structuredText); pages.length }
    val n = ctx.cpus
    val multi = ctx.span("kernel", "threads") {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
      try {
        val t0 = System.nanoTime()
        val fs = (0 until n).map(_ => pool.submit(new java.util.concurrent.Callable[Int] {
          def call(): Int = {
            var docs = 0
            while ((System.nanoTime() - t0) / 1e9 < 1.5) {
              pages.foreach(HtmlParser.parse(_).structuredText); docs += pages.length
            }
            docs
          }
        }))
        val docs = fs.map(_.get()).sum
        docs / ((System.nanoTime() - t0) / 1e9)
      } finally pool.shutdown()
    }
    res.layer("kernel.thread_efficiency_nproc", multi / (n * single), "ratio")
    // row boundary: bytes → String, and ParsedDoc → Spark row
    val bytes = pages.map(_.getBytes(UTF_8))
    res.layer("pipeline.utf8_decode_mb_per_s", ctx.span("pipeline", "utf8_decode") {
      rate(t) { bytes.foreach(new String(_, UTF_8)); mb }
    }, "MB/s")
    val docs = bytes.zipWithIndex.map { case (b, i) =>
      graft.pipeline.ExtractJob.parsePage(i, s"u$i", new java.sql.Timestamp(0L), b, "en") }
    val outMb = docs.map(_.text_out.length.toDouble).sum / 1e6
    val ser = org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[graft.pipeline.ParsedDoc]()
      .createSerializer()
    res.layer("pipeline.row_codec_mb_per_s", ctx.span("pipeline", "row_codec") {
      rate(t) { docs.foreach(ser(_)); outMb }
    }, "MB/s")
    // kernel share of a one-task ExtractJob: the same pages in one task
    val kernelS = pages.length / single
    val df = ctx.spark.createDataFrame(bytes.zipWithIndex.map { case (b, i) =>
      (i.toLong, s"https://k.example/$i", new java.sql.Timestamp(0L), b, "en") }.toSeq)
      .toDF("doc_id", "url", "warc_ts", "html", "lang").coalesce(1).cache()
    df.count()
    val oneTask = Stats.median((1 to 3).map(_ =>
      Ctx.seconds(ctx.drain(graft.pipeline.ExtractJob.run(df).toDF()))._2))
    res.layer("pipeline.kernel_share", kernelS / oneTask, "ratio")
    df.unpersist()
  }

  def functions(ctx: Ctx, res: Result, pages: Array[String]): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    graft.functions.GraftExtensions.register(spark)
    val html = pages.toSeq.toDF("html").repartition(ctx.cpus).cache()
    html.count()
    val texts = pages.toSeq.map(p => p.substring(0, math.min(p.length, 4000))).toDF("t")
      .repartition(ctx.cpus).cache()
    val textMb = texts.as[String].collect().map(_.getBytes(UTF_8).length.toDouble).sum / 1e6
    def best(body: => Long) = Stats.median((1 to 3).map(_ => Ctx.seconds(body)._2))
    res.layer("functions.css_count_native_docs_per_s", pages.length / ctx.span("functions", "css_count_native") {
      best(ctx.drain(html.select(call_function("css_count_native", col("html"), lit("a")))))
    }, "1/s")
    res.layer("functions.css_count_udf_docs_per_s", pages.length / ctx.span("functions", "css_count_udf") {
      best(ctx.drain(html.select(graft.functions.HtmlFunctions.cssCount(col("html"), lit("a")))))
    }, "1/s")
    res.layer("functions.html_unescape_native_mb_per_s", textMb / ctx.span("functions", "html_unescape_native") {
      best(ctx.drain(texts.select(call_function("html_unescape_native", col("t")))))
    }, "MB/s")
    html.unpersist(); texts.unpersist()
  }

  /** The queries the query layer runs: the slow and composite ones, and
    * the two streaming harnesses. q40 is left out: it writes its scratch
    * copy to a fixed directory outside the benchmark's checkout.
    */
  val QueryNames: Seq[String] = Seq("q01", "q09", "q13", "q17", "q18", "q28", "q35", "q36",
    "q38", "q39", "q43", "q46", "q62", "q71", "q78", "q81", "q94", "q95", "q98", "q99",
    "q89", "q92")

  /** Order-independent digest of a result: row count and the sum of a
    * 64-bit hash of each row, with floating-point values rounded to 6
    * digits and arrays and maps put in a canonical order.
    */
  def digest(df: DataFrame): (Long, String) = {
    def canon(c: Column, t: DataType): Column = t match {
      case DoubleType | FloatType => round(c.cast(DoubleType), 6)
      case ArrayType(et, _) => sort_array(transform(c, x => canon(x, et)))
      case MapType(kt, vt, _) =>
        sort_array(transform(map_entries(c), e =>
          struct(canon(e.getField("key"), kt), canon(e.getField("value"), vt))))
      case StructType(fs) => struct(fs.map(f => canon(c.getField(f.name), f.dataType).as(f.name)).toSeq: _*)
      case _ => c
    }
    val cols = df.schema.fields.map(f => canon(col(s"`${f.name}`"), f.dataType))
    val r = df.select(xxhash64(cols.toSeq: _*).cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), sum("h")).collect().head
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toString).getOrElse("0"))
  }

  def expected(): Map[String, (Long, String)] = {
    val in = getClass.getResourceAsStream("/expected_queries.tsv")
    if (in == null) Map.empty
    else scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(l => l.nonEmpty && !l.startsWith("#")).map(_.split("\t"))
      .map(a => a(0) -> (a(1).toLong, a(2))).toMap
  }

  /** Each query once, in an order the seed permutes, under its own span.
    * The timed call is the result digest: it forces every output column
    * (a bare count() lets Catalyst prune columns a consumer would read) and
    * is what the output check compares with the recorded value.
    */
  def queries(ctx: Ctx, res: Result, dir: String): Unit = {
    val all = graft.SparkEntry.queries
    val names = QueryNames.map(p => all.keys.find(_.startsWith(p + "_")).get)
    val order = new scala.util.Random(ctx.seed).shuffle(names)
    val want = expected()
    val seen = scala.collection.mutable.ArrayBuffer.empty[String]
    val before = ctx.trace.spans.length
    val (_, wall) = Ctx.seconds(order.foreach { n =>
      val layer = if (n.startsWith("q89") || n.startsWith("q92")) "streaming" else "query"
      val got = ctx.span(layer, n)(scala.util.Try(digest(all(n)(ctx.spark, dir))))
      seen += s"$n\t${got.map(_._1).getOrElse(-1L)}\t${got.map(_._2).getOrElse("error")}"
      res.check(s"query[$n]", got.toOption.contains(want.getOrElse(n, (-2L, ""))),
        s"got $got want ${want.get(n)}")
    })
    sys.env.get("PERFBENCH_RECORD").foreach(p => java.nio.file.Files.write(
      java.nio.file.Paths.get(p), (seen.sorted.mkString("\n") + "\n").getBytes(UTF_8)))
    ctx.trace.settle()
    val spans = ctx.trace.spans.drop(before)
    spans.filter(_.layer == "query").sortBy(_.name)
      .foreach(s => res.layer(s"query.${s.name}_s", s.seconds, "s"))
    val work = spans.map(s => ctx.trace.workOf(s.id))
    res.layer("query.jobs_total", work.map(_.jobs).sum, "count")
    res.layer("query.stages_total", work.map(_.stages).sum, "count")
    res.layer("query.tasks_total", work.map(_.tasks).sum, "count")
    res.layer("query.shuffle_bytes_total", work.map(w => w.shuffleRead + w.shuffleWrite).sum.toDouble, "bytes")
    res.layer("query.task_busy_share", work.map(_.taskMs.sum).sum / 1000.0 / (wall * ctx.cpus), "ratio")
    Seq("q89", "q92").foreach { q =>
      val (batches, state) = ctx.trace.streamOf(q)
      res.layer(s"streaming.${q}_s", spans.find(_.name.startsWith(q)).get.seconds, "s")
      res.layer(s"streaming.${q}_batch_p50_ms", Stats.median(batches.map(_.toDouble)), "ms")
      if (q == "q92") res.layer("streaming.state_rows", state.toDouble, "count")
    }
  }
}
