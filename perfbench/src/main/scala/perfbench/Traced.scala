package perfbench

import org.apache.spark.sql.functions.col

/** The rest of a traced run, after the workload's own loop: the other
  * workload once at a small size (so every traced run reports every
  * per-layer metric), the layer probes, and self time per layer.
  */
object Traced {

  val MiniPages = 600
  val MiniDocs = 15000

  def complete(ctx: Ctx, workload: String, res: Result): Unit = {
    ctx.trace.on = true
    val other =
      if (workload == "crawl_pages") DedupCorpus.run(ctx, MiniDocs, main = false)
      else CrawlPages.run(ctx, MiniPages, main = false)
    merge(res, other)

    val qdir = ctx.fresh("query_data")
    ctx.span("bench", "query_data")(QueryData.write(ctx.spark, qdir))
    val spark = ctx.spark
    import spark.implicits._
    val small = graft.pipeline.Synth.pages(spark, qdir).select(col("html")).as[Array[Byte]]
      .collect().map(new String(_, java.nio.charset.StandardCharsets.UTF_8))
    val pages = Layers.sample(ctx.seed)
    Layers.kernel(ctx, res, pages, small)
    Layers.functions(ctx, res, pages)
    Layers.queries(ctx, res, qdir)

    res.layer("jvm.peak_heap_after_gc_mb", Heap.peakMb(), "MB")
    ctx.trace.settle()
    val self = Trace.selfByLayer(ctx.trace.spans)
    Seq("bench", "kernel", "pipeline", "ops", "functions", "streaming", "query").foreach(l =>
      res.layer(s"self.${l}_s", self.getOrElse(l, 0.0), "s"))
  }

  private def merge(into: Result, from: Result): Unit = {
    into.attempted += from.attempted
    into.failures ++= from.failures
    from.perLayer.foreach { case (k, v) => if (!into.perLayer.contains(k)) into.perLayer(k) = v }
  }
}
