package graft.ops

import scala.reflect.runtime.universe.TypeTag
import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import graft.kernel.{Element, HtmlParser, ParseOptions, Query}

/** Page-level metadata extraction — the two tables every crawl pipeline
  * builds next to the text corpus:
  *
  *   - [[headMeta]]: title / meta-description / canonical / robots-noindex
  *     per page (dedup canonicalization, indexability filtering, snippet
  *     generation all read this table, not the HTML)
  *   - [[outlinks]]: the link-graph edge list (href, anchor text, nofollow)
  *     — the input to in/out-degree metrics, host-level graphs, and
  *     connected components (Dedup.clustersFromMemberships takes any edge
  *     table, this one included, as two-member buckets)
  *
  * Every extractor is one kernel parse per page through [[perPage]], the
  * same mapPartitions shape as ExtractJob (map-only, no shuffle); selectors
  * compile once per partition, the reference-compile-once-per-query pattern
  * (/root/reference/src/index.ts:408). Degree metrics are plain relational
  * aggregations over the edge table.
  */
object PageMeta {

  final case class HeadMeta(
      doc_id: Long,
      title: String,
      description: String,
      canonical: String,
      noindex: Boolean)

  final case class Outlink(
      doc_id: Long,
      href: String,
      anchor: String,
      nofollow: Boolean)

  /** Compiled-selector bundle for the per-page extractors — build ONE per
    * partition (or per test thread): selector compilation is the
    * compile-once-per-query pattern, not per-row work.
    */
  final class PageSelectors {
    private[ops] val title = Query.compileUnion("title")
    private[ops] val desc = Query.compileUnion("meta[name=\"description\"]")
    private[ops] val canon = Query.compileUnion("link[rel=\"canonical\"]")
    private[ops] val robots = Query.compileUnion("meta[name=\"robots\"]")
    private[ops] val a = Query.compileUnion("a")
    private[ops] val table = Query.compileUnion("table")
    private[ops] val alternate = Query.compileUnion("link[rel=\"alternate\"]")
    private[ops] val meta = Query.compileUnion("meta")
    private[ops] val base = Query.compileUnion("base")
    private[ops] val img = Query.compileUnion("img")
    private[ops] val figure = Query.compileUnion("figure")
    private[ops] val figcaption = Query.compileUnion("figcaption")
    private[ops] val jsonLd = Query.compileUnion("script[type=\"application/ld+json\"]")
  }

  /** The one per-page operator every extractor here runs on: projects
    * (doc_id, html) out of a pages frame, decodes the bytes as UTF-8,
    * builds one [[PageSelectors]] per partition, parses each page once with
    * `opts` and emits whatever the pure `f` returns for it, in page order.
    */
  private def perPage[T <: Product : TypeTag](pages: DataFrame,
      opts: ParseOptions = ParseOptions())(
      f: (Long, Element, PageSelectors) => IterableOnce[T]): Dataset[T] =
    pages.select(col("doc_id").cast("long"), col("html"))
      .as(Encoders.product[(Long, Array[Byte])])
      .mapPartitions { it =>
        val sels = new PageSelectors
        it.flatMap { case (id, html) =>
          f(id, HtmlParser.parse(
            new String(html, java.nio.charset.StandardCharsets.UTF_8), opts), sels)
        }
      }(Encoders.product[T])

  /** Document BASE declaration (`<base href=...>`): the first `base`
    * element carrying an `href` attribute wins, in tree order, exactly as
    * WHATWG defines the document base URL — CDN-served and legacy sites
    * use it routinely, and resolving their relative outlinks against the
    * page url instead silently enqueues wrong frontier entries. Returns
    * the RAW declared value ("" when no base/href exists); it may itself
    * be relative — compose with [[graft.ops.UrlOps.documentBase]] to get
    * the absolute base the hrefs resolve against. Lenient like every
    * extractor here: a `base` outside `<head>` still counts (browsers
    * honor the first one wherever it parsed), `href=""` counts as
    * declared (the spec resolves it to the page url, which is what ""
    * composes to downstream). The kernel already parses `base` as a void
    * element (HtmlParser tag table — reference src/index.ts:36); this is
    * the extraction half.
    */
  def pageBaseOf(root: graft.kernel.Element, s: PageSelectors): String =
    Query.querySelectorAll(root, s.base).iterator
      .flatMap(_.getAttribute("href"))
      .take(1).toSeq.headOption.getOrElse("")

  /** Per-page head-metadata extraction (pure kernel function — the exact
    * logic [[headMeta]] runs per row; corpus goldens pin it on real pages).
    */
  def headMetaOf(id: Long, root: graft.kernel.Element,
      s: PageSelectors): HeadMeta = {
    val title = Query.querySelector(root, s.title).map(_.text).getOrElse("")
    val desc = Query.querySelector(root, s.desc)
      .flatMap(_.getAttribute("content")).getOrElse("")
    val canon = Query.querySelector(root, s.canon)
      .flatMap(_.getAttribute("href")).getOrElse("")
    val noindex = Query.querySelector(root, s.robots)
      .flatMap(_.getAttribute("content"))
      .exists(_.toLowerCase(java.util.Locale.ROOT).split("[,\\s]+")
        .contains("noindex"))
    HeadMeta(id, title, desc, canon, noindex)
  }

  /** (doc_id, html) or a full pages frame → one HeadMeta row per page. */
  def headMeta(pages: DataFrame): Dataset[HeadMeta] =
    perPage(pages)((id, root, s) => Some(headMetaOf(id, root, s)))

  /** (doc_id, html) → link-graph edges in document order. `href`-less
    * anchors are skipped (they are fragment targets, not edges); `nofollow`
    * follows the whitespace/comma-token reading of rel.
    */
  /** Per-page edge extraction (pure kernel function shared with
    * [[outlinks]]; corpus goldens pin it on real pages).
    */
  def outlinksOf(id: Long, root: graft.kernel.Element,
      s: PageSelectors): Seq[Outlink] =
    Query.querySelectorAll(root, s.a).iterator.flatMap { a =>
      a.getAttribute("href").map { href =>
        val nofollow = a.getAttribute("rel")
          .exists(_.toLowerCase(java.util.Locale.ROOT).split("[,\\s]+")
            .contains("nofollow"))
        Outlink(id, href, a.text, nofollow)
      }
    }.toSeq

  def outlinks(pages: DataFrame): Dataset[Outlink] =
    perPage(pages)(outlinksOf)

  /** [[outlinks]] plus the page's `<base href>` declaration riding every
    * edge row as `page_base` ("" when the page declares none) — ONE kernel
    * parse serves both extractions, keeping the map-only shape. This is
    * the edge table frontier construction should start from: resolve each
    * href against `UrlOps.documentBase(page_url, page_base)`, not the page
    * url alone (q78/q81 compose it that way).
    */
  def outlinksWithBase(pages: DataFrame): DataFrame =
    perPage(pages) { (id, root, s) =>
      val base = pageBaseOf(root, s)
      outlinksOf(id, root, s).map(o =>
        (o.doc_id, o.href, o.anchor, o.nofollow, base))
    }.toDF("doc_id", "href", "anchor", "nofollow", "page_base")

  /** Structured-data (JSON-LD) extraction: the schema.org payloads sites
    * embed in `<script type="application/ld+json">` blocks — the highest-
    * precision metadata a crawl carries (article headlines, authors,
    * dates), extracted by every serious web pipeline. Pass a tree parsed
    * with `ParseOptions(script = true)`: the reference's default drops
    * script BODIES (reference src/index.ts:16, 936–959), and JSON-LD lives
    * in them. The script body comes via
    * `rawText` (the raw-text fast path — reference src/index.ts:879–884 —
    * keeps it verbatim, with NO entity decode: decoding would corrupt JSON
    * containing `&`). Blocks emit in document order with their index, one
    * row per block; downstream JSON field access is left to Spark's
    * codegen'd `get_json_object`/`from_json`, not the kernel.
    */
  def jsonLdOf(id: Long, root: Element,
      s: PageSelectors): Seq[(Long, Int, String)] =
    Query.querySelectorAll(root, s.jsonLd).iterator.zipWithIndex.map {
      case (b, i) => (id, i, b.rawText)
    }.toSeq

  def jsonLd(pages: DataFrame): DataFrame =
    perPage(pages, ParseOptions(script = true))(jsonLdOf)
      .toDF("doc_id", "block_idx", "json")

  /** HTML TABLE extraction — tables are the web's structured-data modality
    * (stats, specs, leaderboards); curation pipelines lift them out of the
    * DOM into relational rows for table-QA / table-to-text training sets.
    * One row per `<tr>`: (doc_id, table_idx, row_idx, is_header, cells)
    * with cells = entity-decoded td/th texts joined by '|' in document
    * order; indexes are document-ordered. Direct-child cells only (nested
    * tables contribute their own rows, not their ancestors'). Same
    * map-only kernel shape as the other extractors.
    */
  /** Per-page table-row extraction (pure kernel function shared with
    * [[tables]]; corpus goldens pin it on real pages). Rows:
    * (doc_id, table_idx, row_idx, is_header, cells-joined-by-|).
    */
  def tableRowsOf(id: Long, root: graft.kernel.Element,
      s: PageSelectors): Seq[(Long, Int, Int, Boolean, String)] =
    Query.querySelectorAll(root, s.table).iterator.zipWithIndex.flatMap {
      case (t, ti) =>
        val trs = t.childNodes.iterator.collect {
          case e: graft.kernel.Element
            if e.tagName.equalsIgnoreCase("tr") => e
        }.toSeq
        trs.iterator.zipWithIndex.map { case (tr, ri) =>
          val cells = tr.childNodes.collect {
            case e: graft.kernel.Element
              if e.tagName.equalsIgnoreCase("td") ||
                e.tagName.equalsIgnoreCase("th") => e
          }
          val isHeader = cells.nonEmpty &&
            cells.forall(_.tagName.equalsIgnoreCase("th"))
          (id, ti, ri, isHeader, cells.map(_.text).mkString("|"))
        }
    }.toSeq

  def tables(pages: DataFrame): DataFrame =
    perPage(pages)(tableRowsOf)
      .toDF("doc_id", "table_idx", "row_idx", "is_header", "cells")

  /** WHATWG srcset microsyntax parser → (url, descriptor) candidates in
    * declaration order. The splitting rule is NOT split-on-comma — URLs
    * may contain commas: a candidate's URL token runs to the first
    * WHITESPACE; only a comma that ends the URL token (or stands between
    * candidates) separates them. Descriptors run to the next top-level
    * comma (parenthesized future-syntax skipped per spec); a candidate may
    * omit its descriptor entirely ("" here — the spec's density-1x
    * default is the consumer's business, not the parser's). Malformed
    * runs (bare commas, empty candidates) are skipped, never thrown —
    * like every extractor in this codebase.
    */
  def parseSrcset(s: String): Seq[(String, String)] = {
    if (s == null || s.isEmpty) return Seq.empty
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val n = s.length
    var i = 0
    while (i < n) {
      while (i < n && (Character.isWhitespace(s.charAt(i)) || s.charAt(i) == ',')) i += 1
      if (i < n) {
        val start = i
        while (i < n && !Character.isWhitespace(s.charAt(i))) i += 1
        var url = s.substring(start, i)
        if (url.endsWith(",")) {
          // URL token ended in comma(s): strip them — candidate has no
          // descriptor and the comma already separates the next one
          var e = url.length
          while (e > 0 && url.charAt(e - 1) == ',') e -= 1
          url = url.substring(0, e)
          if (url.nonEmpty) out += ((url, ""))
        } else if (url.nonEmpty) {
          while (i < n && Character.isWhitespace(s.charAt(i))) i += 1
          val dstart = i
          var depth = 0
          while (i < n && (depth > 0 || s.charAt(i) != ',')) {
            val c = s.charAt(i)
            if (c == '(') depth += 1
            else if (c == ')' && depth > 0) depth -= 1
            i += 1
          }
          out += ((url, s.substring(dstart, i).trim))
          if (i < n) i += 1 // consume the separating comma
        }
      }
    }
    out.toSeq
  }

  /** IMAGE-TEXT pair extraction — the first stage of every interleaved
    * image-text / caption-pair training pipeline: one row per `img` in
    * document order with its src, alt text, and parsed srcset candidates
    * (normalized to `url descriptor` joined by `|` — relational and
    * oracle-hashable; RFC 3986 forbids an unencoded `|` in URLs, so the
    * separator is unambiguous for spec-conforming values, but raw
    * attribute bytes are unconstrained — a literal `|` inside a crawled
    * URL/descriptor is preserved verbatim, and a downstream `split('|')`
    * of such a row mis-splits. Consumers needing hostile-input safety
    * should re-run [[parseSrcset]] on the raw attribute). `src` may
    * legitimately be absent ("" — responsive images can declare only
    * srcset); resolution against the page url / document base is the
    * caller's composition ([[graft.ops.UrlOps.resolveUrl]]), keeping this
    * map-only and url-table-free like the other extractors. Composes with
    * the multimodal layer: join fetched payloads on the resolved url and
    * the (image bytes, alt text) pair table falls out.
    */
  def imagesOf(id: Long, root: graft.kernel.Element,
      s: PageSelectors): Seq[(Long, Int, String, String, String)] =
    Query.querySelectorAll(root, s.img).iterator.zipWithIndex.map {
      case (img, i) =>
        val src = img.getAttribute("src").getOrElse("")
        val alt = img.getAttribute("alt").getOrElse("")
        val srcset = img.getAttribute("srcset").map(parseSrcset).getOrElse(Seq.empty)
          .map { case (u, d) => if (d.isEmpty) u else u + " " + d }
          .mkString("|")
        (id, i, src, alt, srcset)
    }.toSeq

  def images(pages: DataFrame): DataFrame =
    perPage(pages)(imagesOf).toDF("doc_id", "img_idx", "src", "alt", "srcset")

  /** SOCIAL-CARD metadata (OpenGraph + Twitter cards) — the
    * publisher-declared summary every caption/article pipeline mines
    * first (og:image + og:title/description IS a curated image-text pair;
    * og:type routes article vs video corpora): `meta[property="og:*"]`
    * and `meta[name="twitter:*"]` scanned in DOCUMENT order with
    * first-declaration-wins per property (scrapers and crawlers read them
    * that way; a selector union would return part-order — same design as
    * [[metaRefreshOf]]). Property matching is case-insensitive, values
    * come entity-decoded from the attribute table. Pages declaring no
    * card emit NOTHING (the common case at crawl scale — the output table
    * is sparse).
    */
  def socialMetaOf(id: Long, root: graft.kernel.Element,
      s: PageSelectors): Option[(Long, String, String, String, String, String, String)] = {
    var ogTitle, ogDesc, ogImage, ogUrl, ogType, twCard: String = null
    Query.querySelectorAll(root, s.meta).foreach { m =>
      val key = m.getAttribute("property").orElse(m.getAttribute("name"))
        // Locale.ROOT: under a Turkish default locale 'OG:TITLE' would
        // lowercase to a dotless-i key and silently never match
        .map(_.toLowerCase(java.util.Locale.ROOT)).getOrElse("")
      lazy val v = m.getAttribute("content").getOrElse("")
      key match {
        case "og:title" => if (ogTitle == null) ogTitle = v
        case "og:description" => if (ogDesc == null) ogDesc = v
        case "og:image" => if (ogImage == null) ogImage = v
        case "og:url" => if (ogUrl == null) ogUrl = v
        case "og:type" => if (ogType == null) ogType = v
        case "twitter:card" => if (twCard == null) twCard = v
        case _ =>
      }
    }
    if (ogTitle == null && ogDesc == null && ogImage == null &&
      ogUrl == null && ogType == null && twCard == null) None
    else Some((id, Option(ogTitle).getOrElse(""), Option(ogDesc).getOrElse(""),
      Option(ogImage).getOrElse(""), Option(ogUrl).getOrElse(""),
      Option(ogType).getOrElse(""), Option(twCard).getOrElse("")))
  }

  def socialMeta(pages: DataFrame): DataFrame =
    perPage(pages)(socialMetaOf)
      .toDF("doc_id", "og_title", "og_description", "og_image", "og_url",
        "og_type", "twitter_card")

  /** IMAGE-CAPTION pairs from semantic figure markup — the richest
    * publisher-authored caption signal a page carries (`alt` text is
    * accessibility metadata; `figcaption` is an editorial caption):
    * one row per `figure` that contains an `img`, with the FIRST
    * descendant img's src/alt and the FIRST descendant figcaption's
    * entity-decoded text ("" when the figure has no caption). Figures
    * without an img (code listings, quotes) emit nothing. Document
    * order; same map-only kernel shape; src resolution composes with
    * [[graft.ops.UrlOps.resolveUrl]]/[[graft.ops.UrlOps.documentBase]]
    * downstream like every url here.
    */
  def captionsOf(id: Long, root: graft.kernel.Element,
      s: PageSelectors): Seq[(Long, Int, String, String, String)] = {
    // ownership: a node belongs to the figure that is its NEAREST figure
    // ancestor — nested galleries (<figure><figcaption>Gallery</figcaption>
    // <figure><img…><figcaption>Photo</figcaption></figure></figure>)
    // must pair the img with ITS caption once, not also hand it to the
    // outer figure with the gallery caption. ONE iterative DFS with a
    // figure-frame stack, O(doc) — per-figure subtree scans would go
    // quadratic on pathologically nested figures; rows keep the FIGURE's
    // document order (frames record their entry rank, output sorts by it)
    final class Frame(val rank: Int) {
      var img: graft.kernel.Element = null
      var caption: String = null
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String)]
    val frames = new scala.collection.mutable.ArrayBuffer[Frame](8)
    val stack = new scala.collection.mutable.ArrayBuffer[AnyRef](32)
    stack += root
    var rank = 0
    while (stack.nonEmpty) {
      stack.remove(stack.length - 1) match {
        case e: graft.kernel.Element =>
          val t = e.tagName
          if (t.equalsIgnoreCase("figure")) {
            frames += new Frame(rank); rank += 1
            stack += FrameEnd
          } else if (frames.nonEmpty) {
            val f = frames(frames.length - 1)
            if (t.equalsIgnoreCase("img")) { if (f.img == null) f.img = e }
            else if (t.equalsIgnoreCase("figcaption")) {
              if (f.caption == null) f.caption = e.text
            }
          }
          var j = e.childNodes.length - 1
          while (j >= 0) {
            e.childNodes(j) match {
              case c: graft.kernel.Element => stack += c
              case _ =>
            }
            j -= 1
          }
        case _ => // FrameEnd: close the innermost figure
          val f = frames.remove(frames.length - 1)
          if (f.img != null)
            out += ((f.rank, f.img.getAttribute("src").getOrElse(""),
              f.img.getAttribute("alt").getOrElse(""),
              Option(f.caption).getOrElse("")))
      }
    }
    out.sortBy(_._1).iterator.zipWithIndex.map {
      case ((_, src, alt, cap), i) => (id, i, src, alt, cap)
    }.toSeq
  }
  private object FrameEnd

  def captions(pages: DataFrame): DataFrame =
    perPage(pages)(captionsOf)
      .toDF("doc_id", "fig_idx", "img_src", "img_alt", "caption")

  /** MEDIA-SOURCE extraction (`video` / `audio` / `picture`) — the URL
    * table a multimodal corpus fetch starts from: one row per media
    * element's own `src` (kind "self") and per direct `source` child
    * (kind "source", carrying its media query and MIME type; a source's
    * `srcset` — the picture form — is normalized through [[parseSrcset]]
    * exactly like [[images]]). Elements walk in strict DOCUMENT order via
    * one iterative DFS (a selector union of three tags would return
    * part-order); nested media (fallback content inside `video`) emit as
    * their own elements. `img` fallbacks inside `picture` belong to
    * [[images]], not here. Map-only, composes with the byte-histogram /
    * frame-sampling multimodal ops by joining fetched payloads on the
    * resolved url.
    */
  def mediaSourcesOf(id: Long, root: graft.kernel.Element): Seq[(Long, Int, Int, String, String, String, String, String)] = {
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Int, Int, String, String, String, String, String)]
    val stack = new scala.collection.mutable.ArrayBuffer[graft.kernel.Element](32)
    stack += root
    var mIdx = 0
    while (stack.nonEmpty) {
      val e = stack.remove(stack.length - 1)
      val t = e.tagName.toLowerCase(java.util.Locale.ROOT)
      if (t == "video" || t == "audio" || t == "picture") {
        var item = 0
        e.getAttribute("src").foreach { src =>
          out += ((id, mIdx, item, t, "self", src, "", ""))
          item += 1
        }
        e.childNodes.foreach {
          case c: graft.kernel.Element if c.tagName.equalsIgnoreCase("source") =>
            val url = c.getAttribute("src").orElse(
              c.getAttribute("srcset").map(ss => parseSrcset(ss)
                .map { case (u, d) => if (d.isEmpty) u else u + " " + d }
                .mkString("|"))).getOrElse("")
            out += ((id, mIdx, item, t, "source", url,
              c.getAttribute("media").getOrElse(""),
              c.getAttribute("type").getOrElse("")))
            item += 1
          case _ =>
        }
        mIdx += 1
      }
      var j = e.childNodes.length - 1
      while (j >= 0) {
        e.childNodes(j) match {
          case c: graft.kernel.Element => stack += c
          case _ =>
        }
        j -= 1
      }
    }
    out.toSeq
  }

  def mediaSources(pages: DataFrame): DataFrame =
    perPage(pages)((id, root, _) => mediaSourcesOf(id, root))
      .toDF("doc_id", "media_idx", "item_idx", "tag", "kind", "url",
        "media", "mime")

  /** hreflang ALTERNATES — the multilingual-corpus construction signal:
    * `<link rel="alternate" hreflang=".." href="..">` clusters the same
    * logical document across languages (parallel-text mining, per-language
    * dedup keys, x-default routing). One row per alternate in document
    * order; entries missing href or hreflang are skipped (they are not
    * language alternates). Map-only kernel pass like every extractor here.
    */
  def alternatesOf(id: Long, root: graft.kernel.Element,
      s: PageSelectors): Seq[(Long, Int, String, String)] =
    Query.querySelectorAll(root, s.alternate).iterator
      .flatMap { l =>
        for {
          lang <- l.getAttribute("hreflang").filter(_.nonEmpty)
          href <- l.getAttribute("href").filter(_.nonEmpty)
        } yield (lang, href)
      }
      .zipWithIndex
      .map { case ((lang, href), i) => (id, i, lang, href) }
      .toSeq

  def alternates(pages: DataFrame): DataFrame =
    perPage(pages)(alternatesOf).toDF("doc_id", "alt_idx", "hreflang", "href")

  /** META-REFRESH redirects — the html-level redirect mechanism crawlers
    * must honor next to HTTP 3xx (soft-404 pages, moved content, interstitials
    * all use it): `<meta http-equiv="refresh" content="N;url=TARGET">`.
    * Emits (delay_sec, target) per page that declares one; a content value
    * with no url part (pure reload) yields an empty target. Target is RAW —
    * compose with [[graft.ops.UrlOps.resolveUrl]] for the frontier.
    * Browser-faithful details: ALL `<meta>` elements scan in DOCUMENT
    * order with a case-insensitive http-equiv check (a selector union of
    * casings would return part-order, not document order), the first
    * valid declaration wins, fractional delays truncate (WHATWG takes the
    * leading digit run), `;`/`,`/space separate delay from url, and an
    * over-Long digit run clamps instead of throwing — every malformed
    * path in this codebase is lenient.
    */
  private val RefreshRe =
    """(?i)^\s*(\d+)(?:\.\d*)?\s*(?:[;,\s]\s*url\s*=\s*['"]?([^'"]*)['"]?\s*)?$""".r

  def metaRefreshOf(id: Long, root: graft.kernel.Element,
      s: PageSelectors): Option[(Long, Long, String)] =
    Query.querySelectorAll(root, s.meta).iterator
      .filter(_.getAttribute("http-equiv").exists(_.equalsIgnoreCase("refresh")))
      .flatMap(_.getAttribute("content"))
      .flatMap {
        case RefreshRe(delay, url) =>
          val d = if (delay.length <= 18) delay.toLong else Long.MaxValue
          Some((id, d, if (url == null) "" else url.trim))
        case _ => None
      }
      .take(1).toSeq.headOption // first valid declaration wins, like browsers

  def metaRefresh(pages: DataFrame): DataFrame =
    perPage(pages)(metaRefreshOf).toDF("doc_id", "delay_sec", "target")

  /** RECIPROCAL hreflang verification — the bidirectional-confirmation
    * join parallel-corpus miners run before trusting a language pair: page
    * A claiming "my French version is B" is only a pair if B claims "my
    * English version is A" back (one-way hreflang is notoriously wrong on
    * real sites). Input: an alternates table (url, hreflang, href); output:
    * one row per VERIFIED unordered pair with each side's declared
    * language. Shape: ONE self equi-join on the two (href ↔ url) keys —
    * hash-partitioned, shuffle-bounded, never a cartesian; at 10^12 pages
    * the alternates table is link-sparse and the join keys are urls.
    */
  def reciprocalAlternates(alts: DataFrame): DataFrame = {
    // materialize the skinny (url, hreflang, href) projection ONCE: both
    // sides of the self equi-join otherwise re-evaluate the caller's whole
    // upstream (q77/q99 feed a kernel extraction here — that was two full
    // parse passes); the alternates table is link-sparse at any scale
    val m = alts.select(col("url"), col("hreflang"), col("href"))
      .localCheckpoint(false)
    val a = m.select(col("url").as("url1"), col("hreflang").as("decl1"),
      col("href").as("href1"))
    val b = m.select(col("url").as("url2"), col("hreflang").as("decl2"),
      col("href").as("href2"))
    a.join(b, col("href1") === col("url2") && col("href2") === col("url1") &&
        col("url1") < col("url2"))
      // decl1 is what page1 declares ABOUT page2 and vice versa. A page
      // declaring the SAME href under several hreflangs (en + en-US +
      // x-default is a common real-site pattern) would otherwise fan the
      // join out into one row per declaration pair — collapse to ONE row
      // per unordered pair, keeping the lexicographically smallest
      // declared language on each side (deterministic, hash-gateable).
      .groupBy(col("url1"), col("url2"))
      .agg(min(col("decl2")).as("lang_of_1"), min(col("decl1")).as("lang_of_2"))
  }

  /** Structural TEMPLATE fingerprint of a page: FNV-1a/64 over the
    * element-tag outline (tag names + depth transitions, text/attrs
    * excluded) — two pages render the same fingerprint iff their element
    * skeletons are identical, which is exactly the "same CMS template"
    * signal corpus pipelines cluster on (template churn is boilerplate at
    * corpus scale even when per-page heuristics pass it). Iterative DFS,
    * O(doc), no strings materialized.
    */
  def templateFpOf(root: graft.kernel.Element): Long = {
    val FnvPrime = 0x100000001b3L
    var h = 0xcbf29ce484222325L
    def mixChar(c: Char): Unit = { h = (h ^ c) * FnvPrime }
    val stack = new scala.collection.mutable.ArrayBuffer[AnyRef](32)
    stack += root
    while (stack.nonEmpty) {
      stack.remove(stack.length - 1) match {
        case e: graft.kernel.Element =>
          mixChar('<')
          val t = e.tagName
          var i = 0
          while (i < t.length) { mixChar(t.charAt(i)); i += 1 }
          stack += PopMark
          var j = e.childNodes.length - 1
          while (j >= 0) {
            e.childNodes(j) match {
              case c: graft.kernel.Element => stack += c
              case _ => // text/comments are NOT part of the template
            }
            j -= 1
          }
        case _ => mixChar('>') // PopMark: depth-exit transition
      }
    }
    h
  }
  private object PopMark

  /** TEMPLATE CLUSTERING over a pages frame: per page, the structural
    * fingerprint plus the population and canonical representative
    * (smallest doc_id) of its template group. Shape: map-only kernel
    * fingerprint → ONE hash agg on the 8-byte fp (map-side combined) →
    * equi-join back; the template table is tiny relative to the corpus
    * (thousands of templates per billions of pages), broadcast-able at
    * scale.
    */
  def templates(pages: DataFrame): DataFrame = {
    val fps = perPage(pages)((id, root, _) => Some((id, templateFpOf(root))))
      .toDF("doc_id", "template_fp")
      // one kernel pass: the 16-byte (doc_id, fp) rows are materialized
      // (lazy localCheckpoint) so the group aggregation and the join-back
      // don't each re-parse the corpus
      .localCheckpoint(false)
    val groups = fps.groupBy("template_fp")
      .agg(count(lit(1)).as("template_docs"),
        min(col("doc_id")).as("template_rep"))
    fps.join(groups, "template_fp")
      .select("doc_id", "template_fp", "template_docs", "template_rep")
  }

  /** ANCHOR-TEXT aggregation per link target — the web-graph relevance
    * signal (what the rest of the web calls a page): per target url, the
    * incoming-edge count, distinct anchor phrasings, and the dominant
    * anchor (highest count; ties broken to the lexicographically smallest
    * anchor so the result is deterministic and hash-gateable).
    *
    * Shape: (href, anchor) hash agg (map-side combined), then a min-STRUCT
    * agg per href — count negated inside the struct so `min` picks
    * highest-count-then-smallest-anchor in one pass, no window over the
    * href key (hot targets — homepages with millions of in-links — would
    * make a per-href sorted window the skew bottleneck).
    */
  def anchorStats(edges: DataFrame): DataFrame =
    edges.groupBy("href", "anchor").agg(count(lit(1)).as("cnt"))
      .groupBy("href").agg(
        sum("cnt").as("in_edges"),
        count(lit(1)).as("n_anchors"),
        min(struct((-col("cnt")).as("neg"), col("anchor"))).as("top"))
      .select(col("href"), col("in_edges"), col("n_anchors"),
        col("top.anchor").as("top_anchor"),
        (-col("top.neg")).cast("long").as("top_anchor_count"))

  /** Document OUTLINE extraction — the h1–h6 heading hierarchy in strict
    * DOCUMENT order (a selector union would return part-order): the
    * sectioning signal long-document training pipelines use to split
    * pages into coherent chunks, build tables of contents, and weight
    * heading text. One iterative DFS per page, rows
    * (doc_id, pos, level, heading-text).
    */
  def outlineOf(id: Long, root: graft.kernel.Element): Seq[(Long, Int, Int, String)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Int, String)]
    val stack = new scala.collection.mutable.ArrayBuffer[graft.kernel.Element](32)
    stack += root
    var pos = 0
    while (stack.nonEmpty) {
      val e = stack.remove(stack.length - 1)
      val t = e.tagName
      if (t.length == 2 && (t.charAt(0) == 'h' || t.charAt(0) == 'H') &&
          t.charAt(1) >= '1' && t.charAt(1) <= '6') {
        out += ((id, pos, t.charAt(1) - '0', e.text))
        pos += 1
        // do NOT traverse into the heading: its subtree text is already in
        // this row, so a (malformed-HTML) heading nested inside it would
        // otherwise appear twice — inside the ancestor's text AND as its
        // own row
      } else {
        var j = e.childNodes.length - 1
        while (j >= 0) {
          e.childNodes(j) match {
            case c: graft.kernel.Element => stack += c
            case _ =>
          }
          j -= 1
        }
      }
    }
    out.toSeq
  }

  def outline(pages: DataFrame): DataFrame =
    perPage(pages)((id, root, _) => outlineOf(id, root))
      .toDF("doc_id", "pos", "level", "heading")

  /** HOST-level link graph rollup — the domain-granularity view every
    * crawl ranks and curates with (page-level graphs are too big to eyeball
    * and too sparse to trust; host aggregates are the SEO/reputation
    * unit): per source host, total out-edges, external edges (cross-host —
    * the external-link ratio separates content sites from link farms and
    * walled gardens), and distinct destination hosts. One hash agg over
    * the edge table, map-side combined; host extraction reuses
    * [[graft.ops.UrlOps.urlHost]] (one host-parsing semantic across the
    * codebase) riding the projection. CONTRACT: feed RESOLVED edges
    * ([[graft.ops.UrlOps.resolveUrl]] makes hrefs absolute first) —
    * hostless rows (relative/mailto/junk hrefs) are DROPPED rather than
    * aggregated as phantom ''-host destinations.
    */
  def hostGraph(edges: DataFrame, srcUrlCol: String = "src_url",
      hrefCol: String = "href"): DataFrame = {
    edges
      .select(graft.ops.UrlOps.urlHost(col(srcUrlCol)).as("src_host"),
        graft.ops.UrlOps.urlHost(col(hrefCol)).as("dst_host"))
      .filter(col("src_host") =!= "" && col("dst_host") =!= "")
      .groupBy("src_host")
      .agg(count(lit(1)).as("n_edges"),
        sum(when(col("dst_host") =!= col("src_host"), 1L).otherwise(0L))
          .as("n_external"),
        countDistinct(col("dst_host")).as("n_dst_hosts"))
  }

  /** Degree metrics over an edge table: out-degree per source doc plus the
    * in-degree of every distinct target. Two hash aggregations — the
    * partial/final split makes both map-side-combining at any scale.
    */
  def degrees(edges: DataFrame): (DataFrame, DataFrame) = {
    val out = edges.groupBy("doc_id").agg(
      count(lit(1)).as("out_degree"),
      sum(when(col("nofollow"), 1L).otherwise(0L)).as("out_nofollow"))
    val in = edges.groupBy("href").agg(count(lit(1)).as("in_degree"))
    (out, in)
  }
}
