package graft

/** Adversarial-input sweep over EVERY per-page extractor: parse each fuzz
  * document once and drive all extraction surfaces — crash-safety on
  * hostile markup is a hard requirement for a crawl pipeline (one throw
  * in 10^12 docs kills a task and, un-caught, a stage). Run:
  *
  *   python3 tools/gen_fuzz.py /tmp/fuzz_r5 1500 99
  *   sbt -batch "runMain graft.AdversarialSweep /tmp/fuzz_r5"
  *
  * Prints per-extractor call counts and total wall; exits nonzero on ANY
  * throw, naming the file and extractor.
  */
object AdversarialSweep {
  def main(args: Array[String]): Unit = {
    val dir = new java.io.File(if (args.nonEmpty) args(0) else "/tmp/fuzz_r5")
    val files = dir.listFiles().filter(_.getName.endsWith(".html")).sortBy(_.getName)
    require(files.nonEmpty, s"no html files in $dir")
    val sels = new graft.ops.PageMeta.PageSelectors
    var calls = 0L
    val t0 = System.nanoTime()
    var failed = 0
    files.foreach { f =>
      val html = new String(java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8)
      def drive(name: String)(body: => Any): Unit = {
        try { body; calls += 1 }
        catch { case e: Throwable =>
          failed += 1
          System.err.println(s"THROW in $name on ${f.getName}: $e")
        }
      }
      val root = graft.kernel.HtmlParser.parse(html)
      drive("headMetaOf")(graft.ops.PageMeta.headMetaOf(0L, root, sels))
      drive("outlinksOf")(graft.ops.PageMeta.outlinksOf(0L, root, sels))
      drive("tableRowsOf")(graft.ops.PageMeta.tableRowsOf(0L, root, sels))
      drive("alternatesOf")(graft.ops.PageMeta.alternatesOf(0L, root, sels))
      drive("metaRefreshOf")(graft.ops.PageMeta.metaRefreshOf(0L, root, sels))
      drive("outlineOf")(graft.ops.PageMeta.outlineOf(0L, root))
      drive("templateFpOf")(graft.ops.PageMeta.templateFpOf(root))
      drive("mainContent")(graft.kernel.Boilerplate.mainContent(html))
      drive("feedEntries")(graft.sources.Feed.entries(html))
      drive("sitemapEntries")(graft.sources.Sitemap.entries(html))
      // round-5 extractors
      drive("pageBaseOf")(graft.ops.PageMeta.pageBaseOf(root, sels))
      drive("imagesOf")(graft.ops.PageMeta.imagesOf(0L, root, sels))
      drive("socialMetaOf")(graft.ops.PageMeta.socialMetaOf(0L, root, sels))
      drive("captionsOf")(graft.ops.PageMeta.captionsOf(0L, root, sels))
      drive("mediaSourcesOf")(graft.ops.PageMeta.mediaSourcesOf(0L, root))
      // JSON-LD reads script bodies, which only a script = true parse keeps
      drive("jsonLdOf")(graft.ops.PageMeta.jsonLdOf(0L, graft.kernel.HtmlParser
        .parse(html, graft.kernel.ParseOptions(script = true)), sels))
      drive("parseSrcset")(graft.ops.PageMeta.parseSrcset(html.take(4096)))
    }
    val wall = (System.nanoTime() - t0) / 1e9
    println(f"[sweep] ${files.length} docs, $calls extractor calls, $failed throws, $wall%.1f s")
    if (failed > 0) sys.exit(1)
  }
}
