package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.SparkSession

/** Page-metadata + link-graph extraction edge cases (missing fields,
  * href-less anchors, rel/robots token parsing, entity-decoded anchors).
  */
class PageMetaSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient private lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[2]")
      .appName("pagemeta-spec")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def pagesOf(html: String) = {
    import spark.implicits._
    Seq((1L, html.getBytes("UTF-8"))).toDF("doc_id", "html")
  }

  private def pagesOfMany(docs: Seq[(Long, String)]) = {
    import spark.implicits._
    docs.map { case (id, h) => (id, h.getBytes("UTF-8")) }.toDF("doc_id", "html")
  }

  test("headMeta: all fields present") {
    val m = PageMeta.headMeta(pagesOf(
      "<html><head><title>T1</title>" +
        "<meta name=\"description\" content=\"d e s c\">" +
        "<link rel=\"canonical\" href=\"https://c/x\">" +
        "<meta name=\"robots\" content=\"NOINDEX,nofollow\">" +
        "</head><body></body></html>")).collect().head
    assert(m.title == "T1" && m.description == "d e s c")
    assert(m.canonical == "https://c/x")
    assert(m.noindex) // case-insensitive, comma-token parsing
  }

  test("headMeta: missing fields default to empty / false") {
    val m = PageMeta.headMeta(pagesOf("<body><p>no head</p></body>")).collect().head
    assert(m.title == "" && m.description == "" && m.canonical == "")
    assert(!m.noindex)
  }

  test("headMeta: robots without noindex token is indexable") {
    val m = PageMeta.headMeta(pagesOf(
      "<head><meta name=\"robots\" content=\"nofollow, noarchive\"></head>"))
      .collect().head
    assert(!m.noindex)
  }

  test("headMeta: title text is entity-decoded") {
    val m = PageMeta.headMeta(pagesOf("<title>A &amp; B</title>")).collect().head
    assert(m.title == "A & B")
  }

  test("outlinks: href-less anchors skipped, rel tokens parsed, anchor decoded") {
    val rows = PageMeta.outlinks(pagesOf(
      "<a name=\"frag\">no href</a>" +
        "<a href=\"/x\" rel=\"external nofollow\">first &amp; best</a>" +
        "<a href=\"/y\" rel=\"nofollower\">second</a>")).collect()
    assert(rows.length == 2)
    assert(rows(0).href == "/x" && rows(0).anchor == "first & best" && rows(0).nofollow)
    assert(rows(1).href == "/y" && !rows(1).nofollow) // whole-token only
  }

  test("outlinksWithBase: first base[href] wins; base with no href is skipped") {
    val rows = PageMeta.outlinksWithBase(pagesOf(
      "<head><base target=\"_b\">" + // no href: not a base declaration
        "<base href=\"https://cdn.example/assets/\">" + // first WITH href wins
        "<base href=\"https://second.example/\">" +
        "</head><a href=\"img/x.png\">x</a><a href=\"/y\">y</a>")).collect()
    assert(rows.length == 2)
    assert(rows.forall(_.getAs[String]("page_base") == "https://cdn.example/assets/"))
    assert(rows.map(_.getAs[String]("href")).toSeq == Seq("img/x.png", "/y"))
  }

  test("outlinksWithBase: no base declaration yields empty page_base") {
    val rows = PageMeta.outlinksWithBase(pagesOf(
      "<a href=\"/only\">o</a>")).collect()
    assert(rows.head.getAs[String]("page_base") == "")
  }

  test("documentBase composition: relative base resolves against the page url first") {
    import org.apache.spark.sql.functions.{col, lit}
    // relative <base href="rel/"> → https://h.example/dir/sub/rel/, and a
    // relative outlink then resolves against THAT, not the page url — the
    // wrong-frontier defect this feature exists to prevent
    val edges = PageMeta.outlinksWithBase(pagesOf(
      "<head><base href=\"rel/\"></head><a href=\"../up/p.html\">p</a>"))
    val out = edges
      .select(col("href"),
        UrlOps.documentBase(lit("https://h.example/dir/sub/page.html"),
          col("page_base")).as("eff_base"))
      .select(col("eff_base"),
        UrlOps.resolveUrl(col("eff_base"), col("href")).as("resolved"))
      .collect().head
    assert(out.getAs[String]("eff_base") == "https://h.example/dir/sub/rel/")
    assert(out.getAs[String]("resolved") == "https://h.example/dir/sub/up/p.html")
  }

  // Hand-written pages in the shape of real ones: head metadata, nav, and
  // links of every flavour (relative, parent-relative, absolute,
  // protocol-relative, fragment, query-only, mailto, nofollow) plus
  // href-less anchors, which are not edges.
  private val webmailPage =
    """<!DOCTYPE html><html><head><meta charset="utf-8">
      |<base href="https://mail.example/app/u/0/"><title>Inbox (3)</title>
      |<link rel="stylesheet" href="static/app.css"></head>
      |<body><div id="nav"><a href="#inbox">Inbox</a> <a href="?view=sent">Sent</a>
      |<a href="compose">Compose</a> <a name="anchor-only">-</a></div>
      |<table><tr><td><a href="msg/17">Lunch on Friday?</a></td></tr>
      |<tr><td><a href="../1/msg/4">Shared inbox</a></td></tr></table>
      |<a href="https://accounts.example/logout" rel="noopener nofollow">Sign out</a>
      |</body></html>""".stripMargin

  private val rentalsPage =
    """<!DOCTYPE html><html><head><meta charset="utf-8">
      |<title>Tents &amp; tables</title><link rel="stylesheet" href="/css/site.css">
      |</head><body><nav><a href="/">Home</a> | <a href="rentals/tents.html">Tents</a>
      || <a href="../contact">Contact</a></nav>
      |<p>Call or <a href="mailto:info@rentals.example">write</a>. <a name="top">top</a></p>
      |<ul><li><a href="https://partner.example/deal" rel="nofollow sponsored">Deal</a></li>
      |<li><a href="#faq">FAQ</a></li><li><a href="?page=2">More</a></li></ul>
      |<footer><a href="//cdn.example/terms.pdf">Terms</a></footer></body></html>""".stripMargin

  private def edgesOf(html: String) =
    PageMeta.outlinksWithBase(pagesOf(html)).collect().toSeq.map(r =>
      (r.getAs[String]("href"), r.getAs[String]("anchor"),
        r.getAs[Boolean]("nofollow"), r.getAs[String]("page_base")))

  test("outlinksWithBase: a hand-written page's declared <base href> rides every edge") {
    val rows = edgesOf(webmailPage)
    assert(rows.map(_._1) == Seq("#inbox", "?view=sent", "compose", "msg/17",
      "../1/msg/4", "https://accounts.example/logout"))
    assert(rows.forall(_._4 == "https://mail.example/app/u/0/"))
    assert(rows.map(_._3) == Seq(false, false, false, false, false, true))
  }

  test("outlinksWithBase: a hand-written page with no base yields \"\" on every edge") {
    val rows = edgesOf(rentalsPage)
    assert(rows.length == 8)
    assert(rows.forall(_._4 == ""))
  }

  test("outlinksWithBase: a base injected into a hand-written page is honoured; edge set unchanged") {
    val injected = rentalsPage.replaceFirst("<head>",
      "<head><base href=\"https://base.example/g/\">")
    assert(injected != rentalsPage)
    val plain = edgesOf(rentalsPage)
    val rows = edgesOf(injected)
    assert(rows.map(r => (r._1, r._2, r._3)) == plain.map(r => (r._1, r._2, r._3)))
    assert(rows.forall(_._4 == "https://base.example/g/"))
  }

  test("real-page golden: gmail.html's real <base href> rides every edge; injected base honored") {
    // the reference corpus is optional: cancel, like CorpusSpec, when absent
    def read(p: String) = {
      val path = java.nio.file.Paths.get(p)
      if (!java.nio.file.Files.exists(path)) cancel(s"corpus file $p not available")
      new String(java.nio.file.Files.readAllBytes(path), "UTF-8")
    }
    // gmail.html declares a REAL base — the exact production shape this
    // feature exists for (reference test/html/gmail.html)
    val gmail = PageMeta.outlinksWithBase(pagesOf(
      read("/root/reference/test/html/gmail.html"))).collect()
    assert(gmail.nonEmpty)
    assert(gmail.forall(
      _.getAs[String]("page_base") == "https://mail.google.com/mail/u/0/"))
    // hillcrest declares none (29 real anchors) — and an injected base is
    // picked up without disturbing the edge set
    val page = read("/root/reference/test/html/hillcrestpartyrentals.html")
    val plain = PageMeta.outlinksWithBase(pagesOf(page)).collect()
    assert(plain.nonEmpty && plain.forall(_.getAs[String]("page_base") == ""))
    val injected = page.replaceFirst("<head>",
      "<head><base href=\"https://base.example/g/\">")
    assert(injected != page)
    val rows = PageMeta.outlinksWithBase(pagesOf(injected)).collect()
    assert(rows.length == plain.length)
    assert(rows.forall(_.getAs[String]("page_base") == "https://base.example/g/"))
  }

  test("parseSrcset: w/x descriptors, commas inside URLs, trailing commas, descriptor-less") {
    // the WHATWG rule: URL tokens run to whitespace, NOT to commas
    assert(PageMeta.parseSrcset("a.png 1x, b.png 2x") ==
      Seq(("a.png", "1x"), ("b.png", "2x")))
    assert(PageMeta.parseSrcset("/w/400.jpg 400w,/w/800.jpg 800w") ==
      Seq(("/w/400.jpg", "400w"), ("/w/800.jpg", "800w")))
    // comma INSIDE a url (not followed by whitespace) stays in the url
    assert(PageMeta.parseSrcset("p,q.png 1x, r.png") ==
      Seq(("p,q.png", "1x"), ("r.png", "")))
    // url token ending in comma(s): comma is the separator, no descriptor
    assert(PageMeta.parseSrcset("a.png, b.png 2x") ==
      Seq(("a.png", ""), ("b.png", "2x")))
    assert(PageMeta.parseSrcset("a.png,, b.png") ==
      Seq(("a.png", ""), ("b.png", "")))
    // a comma mid-token (no whitespace after) stays IN the url per spec:
    // 'a.png,b.png' is one URL token — split-on-comma parsers get this wrong
    assert(PageMeta.parseSrcset("a.png,b.png 2x") ==
      Seq(("a.png,b.png", "2x")))
    assert(PageMeta.parseSrcset("only.png") == Seq(("only.png", "")))
    assert(PageMeta.parseSrcset("  spaced.png   3x  ,  next.png  ") ==
      Seq(("spaced.png", "3x"), ("next.png", "")))
    // parenthesized future-syntax descriptors may contain commas
    assert(PageMeta.parseSrcset("x.png calc(1x, 2x), y.png 1x") ==
      Seq(("x.png", "calc(1x, 2x)"), ("y.png", "1x")))
    assert(PageMeta.parseSrcset("") == Seq.empty)
    assert(PageMeta.parseSrcset(" , ,, ") == Seq.empty) // bare commas: skipped
  }

  test("images: document order, src-less srcset-only imgs, alt entity decode") {
    val rows = PageMeta.images(pagesOf(
      "<div><img src=\"/a.png\" alt=\"A &amp; B\" srcset=\"a1.png 1x, a2.png 2x\">" +
        "<p><img srcset=\"only.png 400w\" alt=\"inner\"></p>" +
        "<img src=\"/c.png\"></div>")).collect()
      .map(r => (r.getAs[Int]("img_idx"), r.getAs[String]("src"),
        r.getAs[String]("alt"), r.getAs[String]("srcset")))
    assert(rows.toSeq == Seq(
      (0, "/a.png", "A & B", "a1.png 1x|a2.png 2x"),
      (1, "", "inner", "only.png 400w"),
      (2, "/c.png", "", "")))
  }

  test("socialMeta: first declaration wins, case-insensitive keys, silent pages emit nothing") {
    val rows = PageMeta.socialMeta(pagesOfMany(Seq(
      1L -> ("<head><meta property=\"og:title\" content=\"First\">" +
        "<meta property=\"OG:TITLE\" content=\"Second\">" +
        "<meta name=\"twitter:card\" content=\"summary_large_image\">" +
        "<meta property=\"og:image\" content=\"https://x/i.png\"></head>"),
      2L -> "<head><meta name=\"viewport\" content=\"width=device-width\"></head>",
      3L -> "<head><meta property=\"og:description\" content=\"A &amp; B\"></head>")))
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(rows.size == 2) // page 2 declares no card: no row
    assert(rows(1L).getAs[String]("og_title") == "First")
    assert(rows(1L).getAs[String]("twitter_card") == "summary_large_image")
    assert(rows(1L).getAs[String]("og_image") == "https://x/i.png")
    assert(rows(1L).getAs[String]("og_url") == "")
    assert(rows(3L).getAs[String]("og_description") == "A & B") // decoded
  }

  test("captions: nested figures pair each img with ITS caption, never the gallery's") {
    val rows = PageMeta.captions(pagesOf(
      "<figure><figcaption>Gallery</figcaption>" +
        "<figure><img src=\"/a.png\"><figcaption>Photo A</figcaption></figure>" +
        "<figure><img src=\"/b.png\"><figcaption>Photo B</figcaption></figure>" +
        "</figure>"))
      .collect().map(r => (r.getAs[String]("img_src"), r.getAs[String]("caption")))
    // the outer gallery figure owns no img directly (both belong to their
    // nearest figure ancestor) — exactly one row per photo, right caption
    assert(rows.toSeq == Seq(("/a.png", "Photo A"), ("/b.png", "Photo B")))
  }

  test("captions: figure->img+figcaption pairs; imgless figures skipped; caption optional") {
    val rows = PageMeta.captions(pagesOf(
      "<figure><pre>no img</pre></figure>" +
        "<figure><img src=\"/a.png\" alt=\"one\">" +
        "<figcaption>Caption &amp; one</figcaption></figure>" +
        "<figure><img src=\"/b.png\"></figure>"))
      .collect().map(r => (r.getAs[Int]("fig_idx"), r.getAs[String]("img_src"),
        r.getAs[String]("img_alt"), r.getAs[String]("caption")))
    assert(rows.toSeq == Seq(
      (0, "/a.png", "one", "Caption & one"),
      (1, "/b.png", "", "")))
  }

  test("mediaSources: self src + source children, srcset normalization, document order, nested media") {
    val rows = PageMeta.mediaSources(pagesOf(
      "<video src=\"/v.mp4\" poster=\"/p.jpg\">" +
        "<source src=\"/v.webm\" type=\"video/webm\">" +
        "<p>fallback <audio><source src=\"/nested.ogg\"></audio></p></video>" +
        "<picture><source srcset=\"a.avif 1x, b.avif 2x\" type=\"image/avif\">" +
        "<img src=\"/fallback.jpg\"></picture>"))
      .collect().map(r => (r.getAs[Int]("media_idx"), r.getAs[Int]("item_idx"),
        r.getAs[String]("tag"), r.getAs[String]("kind"), r.getAs[String]("url"),
        r.getAs[String]("mime")))
    assert(rows.toSeq == Seq(
      (0, 0, "video", "self", "/v.mp4", ""),
      (0, 1, "video", "source", "/v.webm", "video/webm"),
      (1, 0, "audio", "source", "/nested.ogg", ""), // nested media: its own element
      (2, 0, "picture", "source", "a.avif 1x|b.avif 2x", "image/avif")))
    // the picture's img FALLBACK belongs to images(), not mediaSources
    assert(!rows.exists(_._5.contains("fallback")))
  }

  test("alternates: hreflang/href pairs in order; stylesheet and href-less skipped") {
    val rows = PageMeta.alternates(pagesOf(
      "<head><link rel=\"alternate\" hreflang=\"en\" href=\"https://e/en\">" +
        "<link rel=\"stylesheet\" href=\"/s.css\">" +
        "<link rel=\"alternate\" hreflang=\"de\">" + // no href: skipped
        "<link rel=\"alternate\" href=\"https://e/feed\">" + // no hreflang: skipped
        "<link rel=\"alternate\" hreflang=\"x-default\" href=\"https://e/\">" +
        "</head>")).collect()
      .map(r => (r.getAs[Long]("alt_idx"), r.getAs[String]("hreflang"),
        r.getAs[String]("href")))
    assert(rows.toSeq == Seq((0L, "en", "https://e/en"),
      (1L, "x-default", "https://e/")))
  }

  test("per-page extractors stay O(doc) on pathological 50k-deep nesting") {
    // same probe recipe that drove the round-3 kernel hardening: every
    // round-4 extractor must ride the memoized/iterative traversals, not
    // reintroduce an O(depth²) walk
    val deep = "<div>" * 50000 +
      "<a href=\"/x\">t</a><table><tr><td>c</td></tr></table>" +
      "<link rel=\"alternate\" hreflang=\"fr\" href=\"/fr\">" +
      "<script type=\"application/ld+json\">{\"@type\":\"Thing\"}</script>" +
      "</div>" * 50000
    val t0 = System.nanoTime()
    val root = graft.kernel.HtmlParser.parse(deep)
    val sels = new PageMeta.PageSelectors
    assert(PageMeta.templateFpOf(root) != 0L)
    PageMeta.headMetaOf(0L, root, sels)
    assert(PageMeta.outlinksOf(0L, root, sels).nonEmpty)
    assert(PageMeta.tableRowsOf(0L, root, sels).nonEmpty)
    assert(PageMeta.alternatesOf(0L, root, sels).nonEmpty)
    PageMeta.metaRefreshOf(0L, root, sels)
    // round-5 extractors on the same probe
    PageMeta.pageBaseOf(root, sels)
    PageMeta.imagesOf(0L, root, sels)
    PageMeta.socialMetaOf(0L, root, sels)
    PageMeta.captionsOf(0L, root, sels)
    PageMeta.mediaSourcesOf(0L, root)
    // JSON-LD needs script bodies kept, so it reads its own parse
    val scripted = graft.kernel.HtmlParser.parse(deep,
      graft.kernel.ParseOptions(script = true))
    assert(PageMeta.jsonLdOf(0L, scripted, sels).map(_._3) ==
      Seq("{\"@type\":\"Thing\"}"))
    val sec = (System.nanoTime() - t0) / 1e9
    assert(sec < 20.0, s"deep extractors took $sec s — quadratic regression?")
  }

  test("captionsOf stays O(doc) on 20k-deep NESTED FIGURES (the quadratic trap)") {
    // per-figure subtree scans would be O(doc²) here: 20k figures, each
    // enclosing all deeper ones; the single-DFS frame stack must emit one
    // row per img-bearing figure in figure document order
    val depth = 20000
    val deep = "<figure>" * depth + "<img src=\"/deep.png\">" + "</figure>" * depth
    val t0 = System.nanoTime()
    val rows = PageMeta.captionsOf(0L, graft.kernel.HtmlParser.parse(deep),
      new PageMeta.PageSelectors)
    val sec = (System.nanoTime() - t0) / 1e9
    // only the INNERMOST figure owns the img (it is every outer figure's
    // descendant but their nearest-figure-ancestor chain stops inside)
    assert(rows.length == 1 && rows.head._3 == "/deep.png")
    assert(sec < 5.0, s"nested-figure captions took $sec s — quadratic regression?")
  }

  test("metaRefresh: delay+url forms, quote styles, pure reload, first wins") {
    def one(html: String) = PageMeta.metaRefresh(pagesOf(html)).collect()
      .map(r => (r.getLong(1), r.getString(2))).headOption
    assert(one("<meta http-equiv=\"refresh\" content=\"5;url=https://t/x\">")
      .contains((5L, "https://t/x")))
    assert(one("<meta http-equiv=\"Refresh\" content=\"0; URL='https://t/q'\">")
      .contains((0L, "https://t/q")))
    assert(one("<meta http-equiv=\"refresh\" content=\"30\">").contains((30L, "")))
    assert(one("<meta http-equiv=\"refresh\" content=\"not a number\">").isEmpty)
    assert(one("<p>no refresh</p>").isEmpty)
    // first valid declaration wins (browser behavior)
    assert(one("<meta http-equiv=\"refresh\" content=\"1;url=/a\">" +
      "<meta http-equiv=\"refresh\" content=\"2;url=/b\">").contains((1L, "/a")))
    // DOCUMENT order wins across http-equiv casings (a selector union
    // would return part-order: all 'refresh' before any 'Refresh')
    assert(one("<meta http-equiv=\"Refresh\" content=\"1;url=/a\">" +
      "<meta http-equiv=\"refresh\" content=\"2;url=/b\">").contains((1L, "/a")))
    // WHATWG-style leniency: fractional delay truncates; space separator
    assert(one("<meta http-equiv=\"refresh\" content=\"0.5; url=https://t/f\">")
      .contains((0L, "https://t/f")))
    assert(one("<meta http-equiv=\"refresh\" content=\"5 url=/s\">")
      .contains((5L, "/s")))
    // an over-Long digit run clamps instead of crashing the task
    assert(one("<meta http-equiv=\"refresh\" content=\"99999999999999999999\">")
      .contains((Long.MaxValue, "")))
  }

  test("reciprocalAlternates keeps only bidirectionally-confirmed pairs") {
    import spark.implicits._
    val alts = Seq(
      ("https://e/en/1", "fr", "https://e/fr/1"),
      ("https://e/fr/1", "en", "https://e/en/1"), // reciprocal: verified
      ("https://e/en/2", "fr", "https://e/fr/2"), // one-way: dropped
      ("https://e/fr/3", "de", "https://e/de/3")) // dangling: dropped
      .toDF("url", "hreflang", "href")
    val rows = PageMeta.reciprocalAlternates(alts).collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getString(0) == "https://e/en/1" && r.getString(1) == "https://e/fr/1")
    assert(r.getAs[String]("lang_of_1") == "en" && r.getAs[String]("lang_of_2") == "fr")
  }

  test("reciprocalAlternates collapses multi-declaration pairs to one row") {
    import spark.implicits._
    // a page declaring the same href under several hreflangs (en + en-US +
    // x-default is common) must still yield ONE row per unordered pair,
    // with the lexicographically smallest declared language per side
    val alts = Seq(
      ("https://e/a", "fr", "https://e/b"),
      ("https://e/a", "x-default", "https://e/b"),
      ("https://e/b", "en-US", "https://e/a"),
      ("https://e/b", "en", "https://e/a"))
      .toDF("url", "hreflang", "href")
    val rows = PageMeta.reciprocalAlternates(alts).collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[String]("lang_of_1") == "en") // min(en, en-US)
    assert(rows.head.getAs[String]("lang_of_2") == "fr") // min(fr, x-default)
  }

  test("template fingerprint: structure-only identity, nesting-sensitive") {
    def fp(html: String) =
      PageMeta.templateFpOf(graft.kernel.HtmlParser.parse(html))
    // same skeleton, different text/attrs/ids → SAME template
    assert(fp("<div id=\"a\"><p class=\"x\">hello</p></div>") ==
      fp("<div><p>completely other words</p></div>"))
    // extra element → different template
    assert(fp("<div><p>a</p></div>") != fp("<div><p><i>a</i></p></div>"))
    // nesting vs siblings must differ (the depth-exit marker)
    assert(fp("<div><p>a</p></div><p>b</p>") != fp("<div><p>a</p><p>b</p></div>"))
    // tag identity matters
    assert(fp("<div><p>a</p></div>") != fp("<div><li>a</li></div>"))
  }

  test("templates: group populations and canonical representatives") {
    val pages = pagesOfMany(Seq(
      10L -> "<div><p>x</p></div>",
      11L -> "<div><p>other text</p></div>",
      12L -> "<div><span>y</span></div>"))
    val rows = PageMeta.templates(pages).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("template_docs"), r.getAs[Long]("template_rep"))).toMap
    assert(rows(10L) == ((2L, 10L)))
    assert(rows(11L) == ((2L, 10L))) // same template, rep = smallest id
    assert(rows(12L) == ((1L, 12L)))
  }

  test("outline: headings in strict document order with levels and decoded text") {
    val root = graft.kernel.HtmlParser.parse(
      "<body><h1>Top &amp; main</h1><div><h2>A</h2><p>x</p></div>" +
        "<h3>A.1</h3><section><h2>B</h2></section><h6>deep</h6></body>")
    val rows = PageMeta.outlineOf(7L, root)
    assert(rows == Seq(
      (7L, 0, 1, "Top & main"),
      (7L, 1, 2, "A"),
      (7L, 2, 3, "A.1"),
      (7L, 3, 2, "B"),
      (7L, 4, 6, "deep")))
    // no headings → no rows
    assert(PageMeta.outlineOf(1L,
      graft.kernel.HtmlParser.parse("<p>plain</p>")).isEmpty)
    // malformed nesting: a heading indirectly nested inside another (the
    // implied-end-tag rule only closes on a DIRECT following heading)
    // appears once — in its ancestor's subtree text — not twice
    val nested = PageMeta.outlineOf(2L, graft.kernel.HtmlParser.parse(
      "<h1>A<div><h2>B</h2></div></h1>"))
    assert(nested == Seq((2L, 0, 1, "AB")))
  }

  test("outline: Spark path keeps document order and h1–h6 levels, emits a nested heading once") {
    val rows = PageMeta.outline(pagesOfMany(Seq(
      1L -> ("<body><h1>Top</h1><div><h3>Deep &amp; low</h3></div>" +
        "<h2>Mid</h2><section><h5>five</h5></section><h6>six</h6></body>"),
      2L -> "<p>no headings</p>",
      3L -> "<h1>A<div><h2>B</h2></div></h1><h4>C</h4>")))
      .collect().toSeq.map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("pos"),
        r.getAs[Int]("level"), r.getAs[String]("heading")))
    assert(rows == Seq(
      (1L, 0, 1, "Top"), (1L, 1, 3, "Deep & low"), (1L, 2, 2, "Mid"),
      (1L, 3, 5, "five"), (1L, 4, 6, "six"),
      // the h2 nested inside the h1 is in the h1's text, not its own row
      (3L, 0, 1, "AB"), (3L, 1, 4, "C")))
  }

  test("hostGraph: external edges and distinct destinations per source host") {
    import spark.implicits._
    val edges = Seq(
      ("https://a.ex/p1", "https://a.ex/q"), // internal
      ("https://a.ex/p2", "https://b.ex/r"), // external
      ("https://a.ex/p3", "https://b.ex/s"), // external, same dst host
      ("https://A.EX/p4", "https://cdn.ex/t"), // host casing normalized
      ("https://b.ex/p5", "https://b.ex/u"), // internal
      ("https://b.ex/p6", "/relative/unresolved"), // hostless: DROPPED
      ("https://b.ex/p7", "mailto:x@y.ex")) // not a fetchable edge: DROPPED
      .toDF("src_url", "href")
    val rows = PageMeta.hostGraph(edges).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(rows("a.ex") == ((4L, 3L, 3L))) // 4 edges, 3 external, dsts {a,b,cdn}
    assert(rows("b.ex") == ((1L, 0L, 1L))) // phantom ''-host rows dropped
  }

  test("degrees: out/in aggregations reconcile with the edge list") {
    import spark.implicits._
    val edges = Seq(
      (1L, "a", "x", false), (1L, "b", "y", true),
      (2L, "a", "z", false)).toDF("doc_id", "href", "anchor", "nofollow")
    val (out, in) = PageMeta.degrees(edges)
    val outM = out.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(outM(1L) == ((2L, 1L)) && outM(2L) == ((1L, 0L)))
    val inM = in.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(inM("a") == 2L && inM("b") == 1L)
  }
}
