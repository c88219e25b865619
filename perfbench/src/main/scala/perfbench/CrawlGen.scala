package perfbench

import java.util.SplittableRandom

/** Seeded randomness: every generated row draws from its own stream, keyed
  * by (seed, stream, row index), so a table is the same for a seed however
  * Spark splits the index range into tasks.
  */
object Rand {
  def mix64(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 33)) * 0xff51afd7ed558ccdL
    z = (z ^ (z >>> 33)) * 0xc4ceb9fe1a85ec53L
    z ^ (z >>> 33)
  }

  def rng(seed: Long, stream: Long, i: Long): SplittableRandom =
    new SplittableRandom(mix64(mix64(seed * 0x9e3779b97f4a7c15L + stream) ^ i))

  /** Inverse-CDF table of a Zipf(s) law over n ranks. */
  def zipfCdf(n: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(n)(k => 1.0 / math.pow(k + 1, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x; acc / total }
  }

  def zipf(cdf: Array[Double], r: SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    math.min(if (i >= 0) i else -i - 1, cdf.length - 1)
  }

  /** Pronounceable pseudo-words: `n` distinct lowercase tokens. */
  def words(n: Int, seed: Long): Array[String] = {
    val syl = Array("ka", "lo", "mi", "ne", "su", "ta", "ri", "po", "de", "va",
      "zu", "be", "sha", "qui", "tor", "len", "mar", "fi", "go", "hu")
    val out = new scala.collection.mutable.LinkedHashSet[String]
    val r = rng(seed, 99, 0)
    while (out.size < n) {
      val k = 1 + r.nextInt(4)
      out += (0 until k).map(_ => syl(r.nextInt(syl.length))).mkString
    }
    out.toArray
  }
}

/** The crawl_pages generator: Common-Crawl-shaped pages with a planted
  * structure the benchmark can check extraction output against.
  *
  * Structure (counts, hosts, sizes, well-formedness) comes from one random
  * stream and body text from another, so [[facts]] can recount a page's
  * planted rows without building its HTML.
  */
object CrawlGen {

  /** Page size: log-normal around 23 KB, clipped to [1.5 KB, 600 KB]. */
  val MedianBytes = 23000.0
  val Sigma = 0.9
  val MinBytes = 1500
  val MaxBytes = 600000
  private val Normal = new org.apache.commons.math3.distribution.NormalDistribution(0, 1)
  /** Share of pages whose tail never closes. */
  val MalformedShare = 0.125
  /** Hosts, Zipf(1.1)-skewed. */
  val Hosts = 400
  private val HostCdf = Rand.zipfCdf(Hosts, 1.1)

  /** What a page plants, as the extractors count it. */
  final case class Facts(
      host: Int,
      lang: String,
      targetBytes: Int,
      wellFormed: Boolean,
      hasBase: Boolean,
      social: Boolean,
      alternates: Int,
      navLinks: Int,
      inlineLinks: Int,
      footerLinks: Int,
      tableRows: Seq[Int],
      images: Int) {
    def outlinks: Int = navLinks + inlineLinks + footerLinks
    def tables: Int = tableRows.sum
  }

  final case class Page(docId: Long, url: String, warcTsSec: Long, lang: String,
      html: String, expectedText: String, facts: Facts)

  val Langs: Array[String] = Array("en", "en", "en", "de", "fr", "es", "ja", "zh")
  private val Vocab = Rand.words(4096, 7L)
  private val Entities = Array(
    "&amp;" -> "&", "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
    "&eacute;" -> "é", "&copy;" -> "©", "&#8212;" -> "—",
    "&#x27;" -> "'", "&uuml;" -> "ü")

  def hostName(h: Int): String = s"site-$h.example"

  def url(docId: Long, f: Facts): String =
    s"https://${hostName(f.host)}/${f.lang}/article/$docId.html"

  /** Ten days of capture times, so hour buckets are all populated. */
  def warcTsSec(docId: Long): Long = 1704067200L + (Rand.mix64(docId) & 0x7fffffffL) % 864000L

  def facts(seed: Long, i: Long): Facts = {
    val r = Rand.rng(seed, 1, i)
    val host = Rand.zipf(HostCdf, r)
    val lang = Langs(r.nextInt(Langs.length))
    val size = math.exp(math.log(MedianBytes) + Sigma * Normal.inverseCumulativeProbability(sizeQuantile(seed, i)))
    val target = math.max(MinBytes, math.min(MaxBytes, size.toInt))
    val wellFormed = r.nextDouble() >= MalformedShare
    val hasBase = r.nextDouble() < 0.08
    val social = r.nextDouble() < 0.7
    val alternates = if (r.nextDouble() < 0.6) 0 else 2 + r.nextInt(5)
    val nav = 5 + r.nextInt(16)
    val inline = r.nextInt(12)
    val footer = 3 + r.nextInt(6)
    val tables = if (r.nextDouble() < 0.6) Seq.empty[Int]
      else Seq.fill(1 + r.nextInt(2))(2 + r.nextInt(7))
    val images = r.nextInt(7)
    Facts(host, lang, target, wellFormed, hasBase, social, alternates, nav,
      inline, footer, tables, images)
  }

  /** Page i's size quantile: a golden-ratio sequence from a seeded start.
    * Any run of consecutive pages, and every second or fourth of them,
    * covers the size distribution evenly, so the total size of a seed's
    * pages hardly varies with the seed.
    */
  def sizeQuantile(seed: Long, i: Long): Double =
    (Rand.rng(seed, 6, 0).nextDouble() + i * 0.6180339887498949) % 1.0

  def page(seed: Long, i: Long): Page = {
    val f = facts(seed, i)
    val b = new Builder(Rand.rng(seed, 2, i))
    val u = url(i, f)
    val title = b.phrase(3 + b.r.nextInt(6))
    b.raw("<html lang=\"").raw(f.lang).raw("\"><head>")
    b.raw("<meta charset=\"utf-8\">")
    b.open("title").text(title._1, title._2).close("title")
    b.raw("<meta name=\"description\" content=\"").raw(b.phrase(12)._1).raw("\">")
    b.raw("<link rel=\"canonical\" href=\"").raw(u).raw("\">")
    if (f.hasBase) b.raw(s"<base href=\"https://cdn.${hostName(f.host)}/${f.lang}/\">")
    if (f.social) {
      b.raw("<meta property=\"og:title\" content=\"").raw(title._1).raw("\">")
      b.raw("<meta property=\"og:type\" content=\"article\">")
      b.raw("<meta property=\"og:image\" content=\"https://img.example/").raw(i.toString).raw(".jpg\">")
      b.raw("<meta name=\"twitter:card\" content=\"summary_large_image\">")
      b.raw("<meta name=\"twitter:title\" content=\"").raw(title._1).raw("\">")
    }
    val altLangs = Seq("en", "de", "fr", "es", "ja", "zh", "x-default")
    (0 until f.alternates).foreach { k =>
      b.raw("<link rel=\"alternate\" hreflang=\"").raw(altLangs(k))
        .raw(s"\" href=\"https://${hostName(f.host)}/${altLangs(k)}/article/$i.html\">")
    }
    b.raw("<script>window.dataLayer=window.dataLayer||[];function gtag(){dataLayer.push(arguments)}" +
      " if (a < b && c > d) { track('page', ").raw(i.toString).raw("); }</script>")
    b.raw("<style>body{margin:0;font:16px/1.5 sans-serif}.nav a{color:#333}" +
      " div > p{margin:0 0 1em}</style>")
    b.raw("</head><body>")
    b.raw("<nav class=\"nav\">").open("ul")
    (0 until f.navLinks).foreach { k =>
      b.open("li").raw(s"<a href=\"/section/$k\">").text1().raw("</a>").close("li")
    }
    b.close("ul").raw("</nav>")
    b.open("div", " id=\"main\" class=\"article\"")
    b.raw("<h1>").text(title._1, title._2).raw("</h1>")
    var bytesSoFar = b.html.length
    var para = 0
    var tablesLeft = f.tableRows
    var imagesLeft = f.images
    while (bytesSoFar < f.targetBytes - 900 || para < f.inlineLinks) {
      b.open("p")
      b.sentence(8 + b.r.nextInt(30))
      if (para < f.inlineLinks) {
        b.text(" ", " ").raw(s"<a href=\"/read/${b.r.nextInt(100000)}\">").text1().raw("</a>")
        b.text(" ", " ")
      } else b.text(" ", " ")
      b.sentence(6 + b.r.nextInt(20))
      b.close("p")
      if (para % 6 == 5 && imagesLeft > 0) {
        imagesLeft -= 1
        b.image(i, f.images - imagesLeft)
      }
      if (para % 9 == 8 && tablesLeft.nonEmpty) {
        b.table(tablesLeft.head)
        tablesLeft = tablesLeft.tail
      }
      para += 1
      bytesSoFar = b.html.length
    }
    tablesLeft.foreach(b.table)
    while (imagesLeft > 0) { imagesLeft -= 1; b.image(i, f.images - imagesLeft) }
    b.close("div")
    b.raw("<footer class=\"site-footer\">")
    (0 until f.footerLinks).foreach { k =>
      b.open("div").raw(s"<a href=\"https://${hostName(f.host)}/about/$k\">").text1()
        .raw("</a>").close("div")
    }
    b.raw("</footer>")
    if (f.wellFormed) b.raw("</body></html>")
    else {
      // the tail never closes: the kernel must repair the tree and report
      // the page as not valid, with the text unchanged
      b.open("div").raw("<h3>").text1()
    }
    Page(i, u, warcTsSec(i), f.lang, b.html.toString, b.expectedText, f)
  }

  /** Builds the HTML and, beside it, the text the kernel's
    * `structuredText` must produce for it: blocks open and close at the
    * kernel's block tags, text is entity-decoded, blocks join with '\n'.
    */
  private final class Builder(val r: SplittableRandom) {
    val html = new java.lang.StringBuilder(32768)
    private val blocks = scala.collection.mutable.ArrayBuffer(new java.lang.StringBuilder)
    private val blockTags = Set("div", "p", "li", "td", "section", "br")

    private def boundary(): Unit =
      if (blocks.last.length > 0) blocks += new java.lang.StringBuilder

    def raw(s: String): this.type = { html.append(s); this }
    def open(tag: String, attrs: String = ""): this.type = {
      if (blockTags(tag)) boundary()
      html.append('<').append(tag).append(attrs).append('>'); this
    }
    def close(tag: String): this.type = {
      html.append("</").append(tag).append('>')
      if (blockTags(tag)) boundary()
      this
    }
    def text(src: String, decoded: String): this.type = {
      html.append(src); blocks.last.append(decoded); this
    }
    def word(): (String, String) =
      if (r.nextInt(40) == 0) { val e = Entities(r.nextInt(Entities.length)); (e._1, e._2) }
      else { val w = Vocab(r.nextInt(Vocab.length)); (w, w) }
    def phrase(n: Int): (String, String) = {
      val ws = Seq.fill(n)(word())
      (ws.map(_._1).mkString(" "), ws.map(_._2).mkString(" "))
    }
    def text1(): this.type = { val p = phrase(1 + r.nextInt(3)); text(p._1, p._2) }
    def sentence(n: Int): this.type = { val p = phrase(n); text(p._1, p._2) }
    def image(docId: Long, k: Int): this.type = {
      val src = s"https://img.example/$docId/$k.jpg"
      if (r.nextBoolean()) raw(s"<img src=\"$src\" alt=\"").raw(phrase(3)._1).raw("\">")
      else raw(s"<img src=\"$src\" srcset=\"$src 1x, https://img.example/$docId/$k@2x.jpg 2x\" alt=\"photo\">")
    }
    def table(rows: Int): this.type = {
      raw("<table>")
      raw("<tr>"); (0 until 3).foreach(_ => raw("<th>").text1().raw("</th>")); raw("</tr>")
      (1 until rows).foreach { _ =>
        raw("<tr>"); (0 until 3).foreach(_ => open("td").text1().close("td")); raw("</tr>")
      }
      raw("</table>")
    }
    def expectedText: String = {
      val out = blocks.map(b => b.toString.trim).filter(_.nonEmpty)
      out.mkString("\n")
    }
  }
}
