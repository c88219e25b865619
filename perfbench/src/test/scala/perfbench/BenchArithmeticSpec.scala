package perfbench

import org.scalatest.funsuite.AnyFunSuite

class BenchArithmeticSpec extends AnyFunSuite {

  test("nearest-rank p89 of 97 samples is the 87th value") {
    val xs = scala.util.Random.shuffle((1 to 97).map(_.toDouble))
    assert(Stats.nearestRank(xs, 89) == 87.0)
    assert(Stats.nearestRank(xs, 50) == 49.0)
    assert(Stats.nearestRank(xs, 100) == 97.0)
    assert(Stats.nearestRank(Seq(3.0), 1) == 3.0)
  }

  test("median of odd and even samples, skew of task times") {
    assert(Stats.median(Seq(5.0, 1.0, 3.0)) == 3.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.skew(Seq(1.0, 1.0, 4.0)) == 4.0)
  }

  test("self time is a span's time minus its direct children's, summed per layer") {
    def s(id: Int, parent: Int, layer: String, start: Long, end: Long) =
      Span(id, parent, layer, s"s$id", start * 1000000000L, end * 1000000000L, "r")
    val spans = Seq(
      s(1, 0, "bench", 0, 10),
      s(2, 1, "pipeline", 1, 7),
      s(3, 2, "kernel", 2, 4),
      s(4, 2, "kernel", 4, 5),
      s(5, 1, "ops", 8, 9))
    val self = Trace.selfByLayer(spans)
    assert(self("bench") == 3.0)
    assert(self("pipeline") == 3.0)
    assert(self("kernel") == 3.0)
    assert(self("ops") == 1.0)
    assert(self.values.sum == 10.0)
  }

  test("a traced recorder nests spans; a switched-off one records nothing") {
    val t = new Trace(enabled = true, "r")
    t.span("bench", "outer") { t.span("kernel", "inner")(()) }
    assert(t.spans.map(s => (s.name, s.parent)) == Seq(("inner", 1), ("outer", 0)))
    t.on = false
    t.span("bench", "skipped")(())
    assert(t.spans.length == 2)
  }

  test("the page generator is a pure function of (seed, index)") {
    val a = (0 until 20).map(i => CrawlGen.page(3, i))
    val b = (0 until 20).reverse.map(i => CrawlGen.page(3, i)).reverse
    assert(a == b)
    assert(CrawlGen.page(4, 0).html != a.head.html)
    assert(a.forall(p => p.facts == CrawlGen.facts(3, p.docId)))
    // page sizes sit at stratified quantiles: a seed's total hardly varies
    val totals = (1 to 6).map(seed => (0 until 2400).map(i => CrawlGen.facts(seed, i).targetBytes.toLong).sum)
    assert(totals.max < 1.02 * totals.min, totals)
  }

  test("planted facts and expected text are what the kernel and extractors produce") {
    val sels = new graft.ops.PageMeta.PageSelectors
    (0 until 200).foreach { i =>
      val p = CrawlGen.page(11, i)
      val root = graft.kernel.HtmlParser.parse(p.html)
      val f = p.facts
      assert(root.valid == f.wellFormed, s"page $i")
      assert(root.structuredText == p.expectedText, s"page $i")
      assert(graft.ops.PageMeta.outlinksOf(i, root, sels).length == f.outlinks)
      assert(graft.ops.PageMeta.imagesOf(i, root, sels).length == f.images)
      assert(graft.ops.PageMeta.alternatesOf(i, root, sels).length == f.alternates)
      assert(graft.ops.PageMeta.tableRowsOf(i, root, sels).length == f.tables)
      assert(graft.ops.PageMeta.socialMetaOf(i, root, sels).isDefined == f.social)
    }
  }

  test("the dedup layout covers every id once and plants the same clusters per seed") {
    val a = DedupGen.layout(9, 5000)
    val b = DedupGen.layout(9, 5000)
    assert(a.sizes.sameElements(b.sizes) && a.sizes.sum == 5000)
    assert((0L until 5000L).forall(id => a.clusterOf(id) >= 0 &&
      id >= a.starts(a.clusterOf(id)) && id < a.starts(a.clusterOf(id)) + a.sizes(a.clusterOf(id))))
    assert(DedupGen.text(9, 3, 1, a.starts(3) + 1) == DedupGen.text(9, 3, 1, a.starts(3) + 1))
    // a copy keeps its base's words; the base is the same for every seed
    val base = DedupGen.text(9, 3, 0, a.starts(3)).split(" ")
    assert(base.sameElements(DedupGen.text(10, 3, 0, 0).split(" ")))
    val copies = (1 to 20).map(m => DedupGen.text(9, 3, m, a.starts(3) + m).split(" "))
    assert(copies.forall(c => c.sorted.sameElements(base.sorted)))
    assert(copies.exists(c => !c.sameElements(base)))
  }

  test("generated tables are identical across two runs of one seed, however split") {
    val spark = org.apache.spark.sql.SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      def rows(parts: Int) = CrawlPages.table(spark, 5, 60, parts).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2), new String(r.getAs[Array[Byte]](3)), r.getString(4)))
        .sortBy(_._1).toSeq
      assert(rows(1) == rows(3))
      def docs(parts: Int) = DedupGen.table(spark, 5, DedupGen.layout(5, 3000), parts)
        .collect().map(_.toString).sorted.toSeq
      assert(docs(1) == docs(4))
    } finally spark.stop()
  }

  test("the traced phase pass commits what ExtractMain.runBuckets commits") {
    val spark = org.apache.spark.sql.SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2")
      .getOrCreate()
    try {
      val work = java.nio.file.Paths.get("target", "spec-work").toAbsolutePath
      Ctx.deleteTree(work)
      java.nio.file.Files.createDirectories(work)
      val ctx = Ctx(spark, 7, 1, 2, work, new Trace(enabled = true, "spec"))
      val pages = CrawlPages.table(spark, 7, 40, 2)
      val (a, b) = (ctx.fresh("a"), ctx.fresh("b"))
      CrawlPages.extract(ctx, pages, a)
      CrawlPages.extractPhases(ctx, pages, b)
      assert(CrawlPages.sameCommit(spark, a, b).isEmpty)
      assert(graft.pipeline.TableIO.committedBuckets(b).size == CrawlPages.Buckets)
      assert(ctx.trace.spans.map(_.name).toSet ==
        Set("pending_only", "write_bucket", "readback", "commit", "summary"))
      // a commit log that differs is reported
      graft.pipeline.TableIO.appendSnapshot(b, 0)
      assert(CrawlPages.sameCommit(spark, a, b).map(_.takeWhile(_ != ':')) == Seq("snapshots"))
      Ctx.deleteTree(work)
    } finally spark.stop()
  }
}
