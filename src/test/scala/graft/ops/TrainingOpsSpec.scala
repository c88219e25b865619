package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Round-3 training-data ops: repetition signals, corpus-wide line dedup,
  * PII scrubbing, JSON-LD extraction.
  */
class TrainingOpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("training-ops-spec")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def docsOf(texts: (Long, String)*) = {
    import spark.implicits._
    texts.toDF("doc_id", "text")
  }

  test("repetitionSignals: hand-computed fractions on a repeated-phrase doc") {
    // toks = [a,b,a,b,a,b], n_chars = 11
    // bigrams: "a b"×3 (3*3=9), "b a"×2 (2*3=6) → top2_chars = 9
    // trigrams ≥2: "a b a"×2, "b a b"×2 → dup3_chars = 2*5 + 2*5 = 20
    val r = TextAnalysis.repetitionSignals(docsOf(1L -> "a b a b a b"))
      .collect().head
    assert(r.getAs[Long]("n_chars") == 11L)
    assert(r.getAs[Long]("top2_chars") == 9L)
    assert(r.getAs[Long]("dup3_chars") == 20L)
    assert(r.getAs[Double]("top2gram_frac") == 9.0 / 11.0)
    assert(!r.getAs[Boolean]("rep_pass"))
  }

  test("repetitionSignals: diverse text passes the gate; degenerate docs are safe") {
    val out = TextAnalysis.repetitionSignals(docsOf(
      1L -> ("the quick brown fox jumps over one lazy dog today while " +
        "seven other animals watch from a distant hill near the old river"),
      2L -> "solo",   // no bigrams at all
      3L -> ""))      // no tokens
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[Boolean]("rep_pass"))
    assert(out(1L).getAs[Long]("dup3_chars") == 0L)
    assert(out(2L).getAs[Long]("top2_chars") == 0L)
    assert(out(3L).getAs[Long]("n_chars") == 0L)
    assert(out(3L).getAs[Double]("top2gram_frac") == 0.0)
  }

  test("lineDedup keeps only the first corpus-wide occurrence of a line") {
    val out = TextAnalysis.lineDedup(docsOf(
      0L -> "a b c d a b",  // lines(2): ["a b","c d","a b"]
      1L -> "a b x y",      // "a b" already seen in doc 0
      2L -> ""),
      lineTokens = 2)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(0L).getAs[Long]("n_lines") == 3L)
    assert(out(0L).getAs[Long]("n_kept") == 2L) // within-doc repeat dropped too
    assert(out(0L).getAs[String]("cleaned_text") == "a b c d")
    assert(out(1L).getAs[Long]("n_kept") == 1L)
    assert(out(1L).getAs[String]("cleaned_text") == "x y")
    assert(out(2L).getAs[Long]("n_lines") == 0L)
    assert(out(2L).getAs[String]("cleaned_text") == "")
  }

  test("lineDedupNewline strips corpus-repeated lines from extracted text") {
    val out = TextAnalysis.lineDedupNewline(docsOf(
      0L -> "unique content zero\nSubscribe to our newsletter\nfooter (c) site",
      1L -> "unique content one\nSubscribe to our newsletter\nfooter (c) site",
      2L -> "Subscribe to our newsletter\nsomething else entirely"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(0L).getAs[Long]("n_kept") == 3L) // first sighting keeps all
    assert(out(1L).getAs[String]("cleaned_text") == "unique content one")
    assert(out(2L).getAs[String]("cleaned_text") == "something else entirely")
  }

  test("lineDedup: a ragged tail chunk is its own line") {
    val out = TextAnalysis.lineDedup(docsOf(0L -> "p q r"), lineTokens = 2)
      .collect().head
    assert(out.getAs[Long]("n_lines") == 2L) // "p q", "r"
    assert(out.getAs[String]("cleaned_text") == "p q r")
  }

  test("PiiScrub counts and redacts email, ipv4, phone") {
    val out = PiiScrub.scrub(docsOf(
      1L -> "reach bob.smith+x@mail.example.org or 192.168.0.1 call +44-020-123-4567 now",
      2L -> "no pii here at all"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[Long]("n_email") == 1L)
    assert(out(1L).getAs[Long]("n_ip") == 1L)
    assert(out(1L).getAs[Long]("n_phone") == 1L)
    assert(out(1L).getAs[String]("scrubbed") ==
      "reach <EMAIL> or <IP> call <PHONE> now")
    assert(out(2L).getAs[Long]("n_email") == 0L)
    assert(out(2L).getAs[String]("scrubbed") == "no pii here at all")
  }

  test("PiiScrub widened forms: parenthesized/dotted phones and IPv6") {
    val out = PiiScrub.scrub(docsOf(
      1L -> "dial (555) 123-4567 or 555.123.4567 or 555-123-4567 done",
      2L -> "hosts 2001:db8::1 and fe80::a:b and full 2001:0db8:0:0:0:0:0:1 end",
      3L -> "mapped ::ffff:192.168.0.1 stays whole",
      4L -> "meeting at 12:30 costs 50%-off nothing to scrub"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[Long]("n_phone") == 3L)
    assert(out(1L).getAs[String]("scrubbed") ==
      "dial <PHONE> or <PHONE> or <PHONE> done")
    assert(out(2L).getAs[Long]("n_ipv6") == 3L)
    assert(out(2L).getAs[String]("scrubbed") ==
      "hosts <IPV6> and <IPV6> and full <IPV6> end")
    // v4-mapped: the hex head is not matched by the compressed form
    // (leading '::'), so the dotted tail is redacted by the IPv4 pass
    assert(out(3L).getAs[Long]("n_ip") == 1L)
    assert(out(3L).getAs[String]("scrubbed") == "mapped ::ffff:<IP> stays whole")
    // times and percent signs are not phones/ips
    assert(out(4L).getAs[Long]("n_phone") == 0L)
    assert(out(4L).getAs[Long]("n_ipv6") == 0L)
    assert(out(4L).getAs[String]("scrubbed") ==
      "meeting at 12:30 costs 50%-off nothing to scrub")
  }

  test("PiiScrub documented limit: leading/trailing-:: IPv6 forms are not matched") {
    // anchoring at a bare ':' needs lookaround, which the Java∩RE2 oracle
    // subset lacks — the gap is deliberate and pinned (see Ipv6Re scaladoc)
    val out = PiiScrub.scrub(docsOf(
      1L -> "loopback ::1 and prefix 2001:db8:: stay"))
      .collect().head
    assert(out.getAs[Long]("n_ipv6") == 0L)
    assert(out.getAs[String]("scrubbed") == "loopback ::1 and prefix 2001:db8:: stay")
  }

  test("PiiScrub phone boundary: a phone-shaped suffix inside a digit run stays intact") {
    // digit-initial branches are \b-anchored: '9555.123.4567' is NOT a
    // phone with a stray leading 9 — redacting mid-number would corrupt
    // the adjacent numeric and over-count n_phone
    val out = PiiScrub.scrub(docsOf(
      1L -> "order 9555.123.4567 is not a phone but 555.123.4567 is"))
      .collect().head
    assert(out.getAs[Long]("n_phone") == 1L)
    assert(out.getAs[String]("scrubbed") ==
      "order 9555.123.4567 is not a phone but <PHONE> is")
  }

  test("PiiScrub IPv6 group cap: an over-long group run redacts only a valid-shaped prefix") {
    // left k + right r <= 7 compressed groups (:: stands for >= 1 zero
    // group): '1:2:3:4:5:6::7:8:9:a' (10 visible groups) must not be
    // swallowed whole — the longest valid-shaped prefix (…::7, 7 groups)
    // redacts and the trailing junk survives
    val out = PiiScrub.scrub(docsOf(
      1L -> "bad 1:2:3:4:5:6::7:8:9:a end",
      2L -> "max 1:2:3:4:5:6::7 ok"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[String]("scrubbed") == "bad <IPV6>:8:9:a end")
    assert(out(2L).getAs[Long]("n_ipv6") == 1L)
    assert(out(2L).getAs[String]("scrubbed") == "max <IPV6> ok")
  }

  test("dropDupSpans: planted shared passage removed, unique text survives byte-identical") {
    val passage = "this exact passage was copied verbatim between two documents " +
      "and span level dedup must excise it from both of them entirely"
    val u1 = "completely original opening material with distinct vocabulary okay"
    val u2 = "another unrelated document body that shares nothing textual at all"
    val u3 = "third standalone document with no copied content whatsoever fine"
    val out = TextAnalysis.dropDupSpans(docsOf(
      1L -> (u1 + " " + passage),
      2L -> (passage + " " + u2),
      3L -> u3))
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    // the untouched doc comes back byte-identical with zero removals
    assert(out(3L).getAs[String]("clean_text") == u3)
    assert(out(3L).getAs[Long]("n_spans_removed") == 0L)
    assert(out(3L).getAs[Long]("n_chars_removed") == 0L)
    // the planted passage is gone from both carriers
    Seq(1L, 2L).foreach { id =>
      val clean = out(id).getAs[String]("clean_text")
      assert(!clean.contains(passage), s"doc $id still carries the passage")
      assert(out(id).getAs[Long]("n_chars_removed") > 0L)
    }
    // unique text survives byte-identical OUTSIDE the excised window span:
    // winnow windows overhang the passage boundary by < window+guarantee
    // chars, so the unique PREFIX of doc 1 far from the seam is intact
    assert(out(1L).getAs[String]("clean_text").startsWith(u1.take(40)))
    assert(out(2L).getAs[String]("clean_text").endsWith(u2.takeRight(40)))
  }

  test("bpeTrain: argmax order, deterministic tie-break, non-overlapping rewrite, early stop") {
    // vocab (minCount=1): 'abab' x4 dominates -> first merge (a,b) cnt 8
    // (two occurrences per word x4); second merge pairs the new 'ab'
    // symbol with itself: (ab, ab) cnt 4; then cnt<2 stops the loop early
    // even though nMerges allows more
    val out = TextAnalysis.bpeTrain(docsOf(
      1L -> "abab abab abab abab zq"), nMerges = 10, minCount = 1)
      .collect().map(r => (r.getAs[Int]("merge_idx"), r.getAs[String]("lhs"),
        r.getAs[String]("rhs"), r.getAs[Long]("pair_count")))
    assert(out.length >= 2)
    assert(out(0) == ((0, "a", "b", 8L)))
    assert(out(1) == ((1, "ab", "ab", 4L)))
    // every learned merge was seen at least twice; indexes are dense
    assert(out.forall(_._4 >= 2L))
    assert(out.map(_._1).toSeq == out.indices.toSeq)
  }

  test("chunkDocs: overlap, short tail, empty docs emit nothing") {
    val out = TextAnalysis.chunkDocs(docsOf(
      1L -> "t1 t2 t3 t4 t5 t6 t7", // 7 toks, chunk 4 stride 3 → starts 0,3,6
      2L -> "only two",
      3L -> ""), chunkTokens = 4, stride = 3)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_idx"),
        r.getAs[String]("chunk_text"), r.getAs[Long]("n_tokens")))
      .sortBy(t => (t._1, t._2))
    assert(out.toSeq == Seq(
      (1L, 0L, "t1 t2 t3 t4", 4L),
      (1L, 1L, "t4 t5 t6 t7", 4L), // overlap: t4 appears in both
      (1L, 2L, "t7", 1L), // short tail
      (2L, 0L, "only two", 2L)))
  }

  test("ngramContamination: verbatim n-token overlap flags, clean docs emit nothing") {
    val passage = "one two three four five six seven" // 7 tokens
    val out = TextAnalysis.ngramContamination(
      docsOf(
        1L -> ("prefix words here " + passage + " suffix tail"),
        2L -> "totally unrelated content with no overlap at all whatsoever",
        3L -> "short"),
      docsOf(100L -> (passage + " and some benchmark padding")),
      n = 7)
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Long]("n_contaminated_grams"), r.getAs[Long]("n_bench_docs")))
    // doc 1 shares exactly the 7-gram passage (1 distinct gram, 1 bench doc);
    // docs 2 (no overlap) and 3 (under n tokens) emit nothing
    assert(out.toSeq == Seq((1L, 1L, 1L)))
  }

  test("nfcNormalize composes decomposed sequences; NFC text passes through") {
    val out = TextAnalysis.nfcNormalize(docsOf(
      1L -> "café and Ångström", // decomposed
      2L -> "plain ascii stays put"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[String]("nfc_text") == "café and Ångström")
    assert(out(1L).getAs[Boolean]("was_normalized"))
    assert(out(2L).getAs[String]("nfc_text") == "plain ascii stays put")
    assert(!out(2L).getAs[Boolean]("was_normalized"))
  }

  test("bpePairCounts: frequency-weighted adjacent pairs over the vocabulary") {
    val out = TextAnalysis.bpePairCounts(
      docsOf(1L -> "ab ab cd", 2L -> "ab aaa x"), minCount = 1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // "ab" occurs 3x -> pair 'ab' weight 3; "cd" 1x; "aaa" 1x contributes
    // TWO 'aa' positions with weight 1 each; single-char "x" contributes
    // nothing
    assert(out == Map("ab" -> 3L, "cd" -> 1L, "aa" -> 2L))
  }

  test("hashSample is deterministic, nested by threshold, and roughly calibrated") {
    import spark.implicits._
    val docs = (0L until 2000L).map(i => (i, if (i % 2 == 0) "en" else "fr"))
      .toDF("doc_id", "lang")
    val narrow = TextAnalysis.hashSample(docs, Map("en" -> "4000"), "8000")
      .collect().map(_.getLong(0)).toSet
    val narrow2 = TextAnalysis.hashSample(docs, Map("en" -> "4000"), "8000")
      .collect().map(_.getLong(0)).toSet
    assert(narrow == narrow2) // same cut on every run — resumability
    val wide = TextAnalysis.hashSample(docs, Map("en" -> "8000"), "ffff")
      .collect().map(_.getLong(0)).toSet
    assert(narrow.subsetOf(wide)) // raising thresholds only ADDS documents
    // ~25% of 1000 en docs and ~50% of 1000 fr docs, generous tolerance
    val en = narrow.count(_ % 2 == 0)
    val fr = narrow.count(_ % 2 == 1)
    assert(en > 150 && en < 350, s"en sample was $en")
    assert(fr > 400 && fr < 600, s"fr sample was $fr")
  }

  test("pageRankInt: cycle is a fixed point; fan-out matches hand arithmetic") {
    import spark.implicits._
    // 3-cycle, out_deg 1 everywhere: rank = unit is exactly stationary
    // (base + damp*unit/100 = 150000 + 850000 = unit)
    val cyc = LinkGraph.pageRankInt(
      Seq(1L, 2L, 3L).toDF("node"),
      Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst"), iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cyc == Map(1L -> 1000000L, 2L -> 1000000L, 3L -> 1000000L))
    // fan-out 1 -> {2,3}, 2/3 dangling; two iterations by hand:
    // r1: 1=150000, 2=3=150000+85*500000/100=575000
    // r2: 1=150000, 2=3=150000+85*(150000 div 2)/100=213750
    val fan = LinkGraph.pageRankInt(
      Seq(1L, 2L, 3L).toDF("node"),
      Seq((1L, 2L), (1L, 3L)).toDF("src", "dst"), iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fan == Map(1L -> 150000L, 2L -> 213750L, 3L -> 213750L))
  }

  test("dupSpanStats flags a shared passage, not unrelated text") {
    val shared = "the quick brown fox jumps over the lazy dog again and again today"
    val out = TextAnalysis.dupSpanStats(docsOf(
      1L -> ("AAAA unique lead-in before " + shared),
      2L -> (shared + " with a different unique tail CCCC"),
      3L -> "completely unrelated content nothing here matches anything at all"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[Long]("n_shared_fp") > 0L)
    assert(out(2L).getAs[Long]("n_shared_fp") > 0L)
    assert(out(3L).getAs[Long]("n_shared_fp") == 0L)
    assert(out(3L).getAs[Double]("shared_frac") == 0.0)
  }

  test("typicality: hand-computed mean document frequency") {
    val out = TextAnalysis.typicality(docsOf(1L -> "a b", 2L -> "a c"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    // df: a=2, b=1, c=1 → each doc: (2+1)/2 = 1.5
    assert(out(1L).getAs[Long]("n_tok") == 2L)
    assert(out(1L).getAs[Long]("sum_df") == 3L)
    assert(out(1L).getAs[Double]("typicality") == 1.5)
    assert(out(2L).getAs[Double]("typicality") == 1.5)
  }

  test("crawlDelta classifies new/gone/modified/unchanged in one pass") {
    val old = docsOf(1L -> "alpha", 2L -> "beta", 3L -> "gamma")
    val nu = docsOf(2L -> "beta", 3L -> "gamma CHANGED", 4L -> "delta")
    val out = CrawlDelta.delta(old, nu)
      .collect().map(r => r.getAs[Long]("key") -> r.getAs[String]("status")).toMap
    assert(out == Map(1L -> "gone", 2L -> "unchanged", 3L -> "modified", 4L -> "new"))
    val stats = CrawlDelta.deltaStats(CrawlDelta.delta(old, nu))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(stats == Map("gone" -> 1L, "unchanged" -> 1L, "modified" -> 1L, "new" -> 1L))
  }

  test("compressionRatio separates repetitive spam from prose and is deterministic") {
    val spam = ("buy now " * 200).trim
    val prose = "the quick brown fox jumps over a lazy dog while seven " +
      "other animals watch quietly from a distant hill near an old river " +
      "and nobody expects any of this to repeat itself in quite this way"
    val out = TextAnalysis.compressionRatio(docsOf(1L -> spam, 2L -> prose, 3L -> ""))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("compression_ratio")).toMap
    assert(out(1L) < 0.05, s"spam ratio ${out(1L)}")
    assert(out(2L) > 0.5, s"prose ratio ${out(2L)}")
    assert(out(3L) == 1.0)
    val again = TextAnalysis.compressionRatio(docsOf(1L -> spam))
      .collect().head.getAs[Double]("compression_ratio")
    assert(again == out(1L)) // fixed level/strategy → deterministic
  }

  test("anchorStats picks the dominant anchor with deterministic tie-breaks") {
    import spark.implicits._
    val edges = Seq(
      ("t1", "click here"), ("t1", "click here"), ("t1", "docs"),
      ("t2", "beta"), ("t2", "alpha"), // tie at cnt 1 → lexicographic min
      ("t3", "solo")).toDF("href", "anchor")
    val out = PageMeta.anchorStats(edges)
      .collect().map(r => r.getAs[String]("href") -> r).toMap
    assert(out("t1").getAs[Long]("in_edges") == 3L)
    assert(out("t1").getAs[Long]("n_anchors") == 2L)
    assert(out("t1").getAs[String]("top_anchor") == "click here")
    assert(out("t1").getAs[Long]("top_anchor_count") == 2L)
    assert(out("t2").getAs[String]("top_anchor") == "alpha")
    assert(out("t3").getAs[Long]("n_anchors") == 1L)
  }

  test("tables lifts header and data rows with decoded, direct-child cells") {
    import spark.implicits._
    val html = "<body><table>" +
      "<tr><th>a&amp;b</th><th>c</th></tr>" +
      "<tr><td>1</td><td>mixed<th>th-cell</th></td></tr>" +
      "</table><p>x</p><table><tr><td>second</td></tr></table></body>"
    val rows = PageMeta.tables(Seq((5L, html.getBytes("UTF-8"))).toDF("doc_id", "html"))
      .orderBy("table_idx", "row_idx").collect()
    assert(rows.length == 3)
    assert(rows(0).getAs[Boolean]("is_header"))
    assert(rows(0).getAs[String]("cells") == "a&b|c") // entity-decoded
    assert(!rows(1).getAs[Boolean]("is_header")) // td present -> data row
    assert(rows(2).getAs[Int]("table_idx") == 1)
    assert(rows(2).getAs[String]("cells") == "second")
  }

  test("jsonLd extracts blocks verbatim, in document order, untyped scripts skipped") {
    import spark.implicits._
    val html =
      """<html><head><script type="application/ld+json">{"a":"x &amp; y"}</script>
        |<script>var ignored = 1;</script></head>
        |<body><script type="application/ld+json">{"b":2}</script></body></html>"""
        .stripMargin.replace("\n", "")
    val pages = Seq((7L, html.getBytes("UTF-8"))).toDF("doc_id", "html")
    val rows = PageMeta.jsonLd(pages)
      .orderBy("block_idx").collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[Int]("block_idx") == 0)
    // &amp; survives verbatim — entity decode would corrupt JSON payloads
    assert(rows(0).getAs[String]("json") == """{"a":"x &amp; y"}""")
    assert(rows(1).getAs[String]("json") == """{"b":2}""")
  }
}
