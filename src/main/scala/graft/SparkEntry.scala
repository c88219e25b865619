package graft

import org.apache.spark.sql.{DataFrame, SparkSession, Column}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.pipeline.{Synth, ExtractJob}
import graft.functions.HtmlFunctions

/** Driver contract (see /root/repo/SURVEY.md §7.4).
  *
  * Every entry in `queries` is matched by an `oracleSql` DuckDB statement
  * over the same parquet tables. Sketch/heuristic ops not expressible in
  * SQL directly (minhash q15, simhash q16, language-ID q27, winnowing q33)
  * compare against expected-value parquet fixtures precomputed by an
  * independent Python implementation (tools/gen_expected_fixtures.py).
  * Only q18 (float-precision LSH re-rank) and q26 (HTML corpus goldens) get
  * the weaker rows-only check; both are pinned by ScalaTest instead.
  *
  * HTML queries synthesize the page body deterministically from `documents`
  * with pure SQL expressions (graft.pipeline.Synth), so DuckDB can compute
  * the expected kernel output (extracted text, validity, selector counts,
  * serialized bytes) without parsing any HTML.
  */
object SparkEntry {

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")
  private def emb(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")
  private def events(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/events.parquet")
  private def pagesDf(s: SparkSession, dir: String): DataFrame =
    Synth.pages(s, dir)
  private def htmlStr: Column = decode(col("html"), "UTF-8")

  /** Temp dir for queries with eager write side effects (q71). At most ONE
    * such dir exists at a time: each call deletes the previous invocation's
    * dir (bench warmup + N passes in one JVM would otherwise hold N+1
    * full-corpus copies under /tmp simultaneously), and a single shutdown
    * hook removes whichever dir is current at JVM exit.
    */
  private val eagerTempDir =
    new java.util.concurrent.atomic.AtomicReference[java.nio.file.Path](null)
  private def delTree(f: java.io.File): Unit = {
    val cs = f.listFiles(); if (cs != null) cs.foreach(delTree); f.delete(); ()
  }
  private lazy val eagerTempHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      val p = eagerTempDir.get(); if (p != null) delTree(p.toFile)
    }))
  private def tempDirCleanedOnExit(prefix: String): String = {
    eagerTempHook
    val p = java.nio.file.Files.createTempDirectory(prefix)
    val prev = eagerTempDir.getAndSet(p)
    if (prev != null) delTree(prev.toFile)
    p.toString
  }

  /** Flagship: full extraction pipeline on the smallest SF. */
  def entry(spark: SparkSession): DataFrame = {
    val pages = Synth.pages(spark, "/root/testdata/sf0.001")
    ExtractJob.run(pages, saltPartitions = 0).toDF()
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- parser / extraction (SURVEY.md §2.B, §2.E) ----
    "q01_extract_text" -> ((s, dir) =>
      // doc_id rides through ParsedDoc — scan → mapPartitions → project,
      // no join-back against the source table
      ExtractJob.run(pagesDf(s, dir)).toDF().select("doc_id", "text_out")),
    "q02_parse_valid" -> ((s, dir) =>
      ExtractJob.metrics(ExtractJob.run(pagesDf(s, dir)))
        .select("lang", "docs", "parse_ok_docs", "links")),
    "q03_css_count" -> ((s, dir) => {
      // native Catalyst expression — the selector count stays inside
      // whole-stage codegen (no ScalaUDF island); UDF form remains as
      // HtmlFunctions.cssCount for Column-API users
      graft.functions.GraftExtensions.register(s)
      pagesDf(s, dir).select(col("doc_id"),
        call_function("css_count_native", htmlStr, lit("li.item")).as("n_li"))
    }),
    "q04_css_attr_ops" -> ((s, dir) => {
      graft.functions.GraftExtensions.register(s)
      def cnt(sel: String) = call_function("css_count_native", htmlStr, lit(sel))
      pagesDf(s, dir).select(col("doc_id"),
        cnt("a[href^=\"https://\"]").as("n_https"),
        cnt("[lang=\"en\"]").as("n_lang_en"),
        cnt("ul [class~=\"item\"]").as("n_item"),
        cnt("[lang|=\"zh\"]").as("n_lang_dash"))
    }),
    "q05_entity_decode" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        HtmlFunctions.cssFirstText(
          concat(lit("<p id=\"e\">"), regexp_replace(col("text"), lit(" "), lit("&nbsp;")),
            lit("&amp;</p>")),
          lit("#e")).as("decoded"))),
    "q06_serialize" -> ((s, dir) =>
      pagesDf(s, dir).select(col("doc_id"),
        md5(encode(HtmlFunctions.htmlOuter(htmlStr), "UTF-8")).as("outer_md5"),
        length(HtmlFunctions.htmlOuter(htmlStr)).cast("long").as("outer_len"))),
    "q07_select_first" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        HtmlFunctions.cssFirstText(
          concat(lit("<p class=\"a\">A-"), col("doc_id"), lit("</p><p class=\"b\">B-"),
            col("doc_id"), lit("</p>")),
          lit(".b, .a")).as("hit"))),
    "q08_mutate" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        HtmlFunctions.mutateDemo(
          concat(lit("<div> <p> "), col("text"), lit(" </p> </div>")),
          lit("data-n"), col("doc_id").cast("string")).as("mutated"))),

    "q09_node_explode" -> ((s, dir) =>
      // relational selector surface: exploded element table + pure Catalyst
      // predicates (no HTML parsing downstream of the explode); doc_id is a
      // node-table column now, so the plan is scan → explode → one hash agg
      ExtractJob.explodeNodes(pagesDf(s, dir)).toDF()
        .groupBy("doc_id").agg(
          sum(when(col("tag") === "li" && array_contains(col("classes"), "item"), 1L)
            .otherwise(0L)).as("n_li_rel"),
          sum(when(col("attrs").getItem("lang") === "en", 1L).otherwise(0L))
            .as("n_lang_en_rel"),
          count(lit(1)).as("n_elements"))),

    // ---- text analysis / training-data ops ----
    "q10_tokens_quality" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        expr("cast(size(filter(split(text, ' '), t -> t in ('the','of','and','a','to','in','is','it'))) as bigint)").as("n_stop"),
        expr("cast(size(filter(split(text, ' '), t -> length(t) > 6)) as bigint)").as("n_long"))),
    "q11_dedup_exact" -> ((s, dir) =>
      docs(s, dir).agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("text")).as("n_distinct_text"),
        countDistinct(md5(encode(col("text"), "UTF-8"))).as("n_distinct_fp"))),
    "q12_fingerprint" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        md5(encode(col("text"), "UTF-8")).as("fp"),
        length(col("text")).cast("long").as("len"))),
    "q13_ngram_jaccard" -> ((s, dir) => {
      val words = docs(s, dir)
        .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("tok"))
      val a = words.toDF("id1", "tok_a")
      val b = words.toDF("id2", "tok_b")
      a.join(b, col("id2") === col("id1") + 1 && col("tok_a") === col("tok_b"))
        .groupBy("id1", "id2")
        .agg(count(lit(1)).as("inter"))
    }),
    "q14_lang_markers" -> ((s, dir) =>
      docs(s, dir).groupBy("lang").agg(
        count(lit(1)).as("docs"),
        sum(when(concat(lit(" "), col("text"), lit(" ")).contains(" the "), 1L)
          .otherwise(0L)).as("docs_with_the"),
        sum(when(col("text").startsWith("the "), 1L).otherwise(0L)).as("docs_start_the"))),

    // dedup sketches (independent-fixture oracles + ScalaTest)
    "q15_minhash_bands" -> ((s, dir) =>
      graft.ops.Dedup.minhashBands(docs(s, dir), numHashes = 32, bands = 8)),
    "q16_simhash" -> ((s, dir) =>
      graft.ops.Dedup.simhash(docs(s, dir))),

    // ---- similarity search ----
    "q17_embed_topk" -> ((s, dir) =>
      graft.ops.Similarity.bruteForceTopK(emb(s, dir), nQueries = 8, k = 3)),
    "q18_embed_lsh" -> ((s, dir) =>
      graft.ops.Similarity.lshTopK(emb(s, dir), nQueries = 8, k = 3, nPlanes = 8)),

    // ---- multimodal stub ----
    "q19_binary_meta" -> ((s, dir) =>
      graft.ops.Multimodal.decodeStub(
        docs(s, dir).select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"),
          col("lang")))),

    // ---- pipeline ops (§2.G): resume, metrics, windows, joins, top-k ----
    "q20_resume_antijoin" -> ((s, dir) => {
      val all = docs(s, dir)
      val committed = all.filter(col("doc_id") % 10 < 3).select("doc_id")
      all.join(committed, Seq("doc_id"), "left_anti").select("doc_id", "lang")
    }),
    "q21_metrics_agg" -> ((s, dir) =>
      docs(s, dir).groupBy("lang").agg(
        count(lit(1)).as("docs"),
        sum("n_chars").as("sum_chars"),
        min("n_chars").as("min_chars"),
        max("n_chars").as("max_chars"),
        countDistinct("source").as("n_sources"))),
    "q22_events_hourly" -> ((s, dir) =>
      events(s, dir).groupBy(
        col("event_type"),
        floor(unix_timestamp(col("ts")) / 86400).as("day"),
        hour(col("ts")).as("hr"))
        .agg(count(lit(1)).as("cnt"),
          sum(round(col("value") * 100).cast("long")).as("sum_cents"))),
    "q23_sessions" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts")
      events(s, dir)
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("new_session",
          when(col("prev_ts").isNull ||
            unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > 1800, 1L)
            .otherwise(0L))
        .groupBy("user_id").agg(sum("new_session").as("n_sessions"),
          count(lit(1)).as("n_events"))
    }),
    "q24_topk_users" -> ((s, dir) => {
      val counts = events(s, dir).groupBy("user_id").agg(count(lit(1)).as("cnt"))
      // orderBy+limit plans TakeOrderedAndProject (per-partition top-k +
      // driver merge) — no WindowExec over the unbounded aggregate. Rank is
      // derived AFTER the limit via row_number over the k=5 rows: fully
      // determined by the window's ORDER BY, no physical-ordering
      // assumption an optimizer change could break. The window partitions
      // on pmod(user_id, 1) — constantly 0, but opaque to the optimizer, so
      // it never degenerates into the unpartitioned-window shape; the
      // window runs over one tiny 5-row partition either way.
      counts.orderBy(col("cnt").desc, col("user_id")).limit(5)
        .withColumn("rank",
          row_number().over(Window.partitionBy(pmod(col("user_id"), lit(1)))
            .orderBy(col("cnt").desc, col("user_id"))))
        .select("rank", "user_id", "cnt")
    }),
    "q25_star_join" -> ((s, dir) =>
      docs(s, dir).join(broadcast(emb(s, dir)),
        col("doc_id") === col("vec_id"))
        .groupBy("label").agg(count(lit(1)).as("docs"),
          sum("n_chars").as("sum_chars"))),

    // reference corpus goldens (rows-only; determinism pinned in ScalaTest)
    "q26_corpus_golden" -> ((s, dir) => graft.ops.CorpusGolden.run(s)),

    // ---- text analysis (language ID, quality, tokenization, fingerprints) ----
    "q27_langid" -> ((s, dir) =>
      graft.ops.TextAnalysis.langId(docs(s, dir)).groupBy("lang", "lang_guess")
        .agg(count(lit(1)).as("docs"))),
    "q28_embed_neardup" -> ((s, dir) =>
      // embedding-cosine near-dup over the FULL table: sign-block LSH
      // candidates (equi-join on the block key — no cartesian) + exact
      // cosine re-rank; the oracle mirrors the block construction exactly
      graft.ops.Similarity.blockedNearDup(emb(s, dir), threshold = 0.2)),
    "q29_frame_sample" -> ((s, dir) =>
      graft.ops.Multimodal.sampleFrames(
        docs(s, dir).select(col("doc_id"),
          encode(repeat(col("text"), 40), "UTF-8").as("payload")),
        frameBytes = 1024, stride = 3)),
    "q30_quality" -> ((s, dir) =>
      graft.ops.TextAnalysis.qualityScore(docs(s, dir))
        .select("doc_id", "q_chars", "q_tokens", "q_punct_ratio", "q_uniq_ratio")),
    "q31_bpe_tokens" -> ((s, dir) =>
      graft.ops.TextAnalysis.tokenCounts(docs(s, dir))
        .select("doc_id", "n_ws_tokens", "n_bpeish_tokens")),
    "q32_unescape_native" -> ((s, dir) => {
      graft.functions.GraftExtensions.register(s)
      docs(s, dir).select(col("doc_id"),
        call_function("html_unescape_native",
          concat(lit("&lt;"), regexp_replace(col("text"), lit(" "), lit("&nbsp;")),
            lit("&amp;&#33;&unknown;"))).as("decoded"))
    }),
    "q33_winnow_fp" -> ((s, dir) =>
      graft.ops.TextAnalysis.fingerprints(docs(s, dir))),

    "q35_minhash_candidates" -> ((s, dir) =>
      // the full near-dup candidate pipeline (bands → capped bucket
      // self-join → distinct pairs); the oracle reproduces it from the
      // independent band fixture with the same cap. maxBucket=200 is
      // load-bearing on this corpus: the synthetic texts are so
      // self-similar that ONE bucket holds 52% of all docs at sf0.1 —
      // uncapped, that's 23.6M candidate pairs (vs 183k capped), the
      // textbook degenerate-bucket blowup the cap exists to stop.
      graft.ops.Dedup.minhashCandidates(docs(s, dir), numHashes = 32,
        bands = 8, maxBucket = 200)),

    "q38_neardup_clusters" -> ((s, dir) =>
      // the dedup endgame: minhash candidates → connected components;
      // cluster_id = smallest reachable doc_id. Oracle recomputes the same
      // components with a recursive CTE over the fixture-derived pairs.
      graft.ops.Dedup.nearDupClusters(docs(s, dir), numHashes = 32,
        bands = 8, maxBucket = 200)),

    "q37_byte_histogram" -> ((s, dir) => {
      // REAL multimodal feature extraction (byte-value histogram over the
      // binary payload). Oracle-able on the ASCII subset, where UTF-8 bytes
      // == codepoints; counts are reconstructed as exact integers
      // (round(frac * n)) so no float32-vs-double rounding can bite.
      val ascii = docs(s, dir)
        .filter(length(col("text")) === length(encode(col("text"), "UTF-8")) &&
          length(col("text")) > 0)
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"),
          length(col("text")).as("n"))
      graft.ops.Multimodal.byteHistogramFeatures(ascii, bins = 64)
        .select(col("doc_id"), col("n"), posexplode(col("features")).as(Seq("bin", "frac")))
        .filter(col("frac") > 0f)
        .select(col("doc_id"), col("bin"),
          round(col("frac") * col("n")).cast("long").as("cnt"))
    }),

    "q36_simhash_neardup" -> ((s, dir) =>
      // pigeonhole-exact chunk banding: equi-join plan with PROVABLY 100%
      // recall at hamming <= 3, so the brute-force O(n^2) DuckDB oracle
      // must agree hash-for-hash with the banded Spark plan
      graft.ops.Dedup.simhashNearDup(docs(s, dir), maxHamming = 3)),

    "q39_dedup_materialize" -> ((s, dir) => {
      // the dedup ENDGAME made concrete: cluster (q38's pipeline), then
      // MATERIALIZE the deduplicated corpus — one canonical survivor per
      // cluster (doc_id == cluster_id), annotated with how many docs it
      // absorbed. This is the operator every training-data pipeline ends
      // with; the oracle re-derives survivors + sizes from the same
      // recursive-CTE components as q38.
      val d = docs(s, dir)
      val clusters = graft.ops.Dedup.nearDupClusters(d, numHashes = 32,
        bands = 8, maxBucket = 200)
      graft.ops.Dedup.dedupCorpus(d, clusters)
        .select("doc_id", "lang", "cluster_size")
    }),

    "q40_warc_roundtrip" -> ((s, dir) => {
      // the WARC path under the driver gate: synthesize the pages table
      // into real .warc.gz shards (CC layout, one gzip member per record,
      // HTTP envelopes), then stream-read them back and run the FULL
      // extraction kernel. Output is (doc_id, text_out) — byte-identical
      // extracted text per url — so the oracle is exactly q01's: any
      // corruption in the WARC writer, the streaming record parser, the
      // envelope stripping, or the gzip framing breaks the hash.
      val tmp = s"/tmp/graft_q40_warc_${Integer.toHexString(dir.hashCode)}"
      // shard count scales with the session's parallelism instead of a
      // constant 8: the write and the read-back extraction then both use
      // the full cluster (a fixed shard count serializes the gzip encode
      // on large clusters; output rows are unaffected)
      graft.sources.WarcSource.write(
        pagesDf(s, dir).repartition(
          s.sparkContext.defaultParallelism, col("doc_id")), tmp)
      graft.sources.WarcSource.extract(s, tmp)
        .select(regexp_extract(col("url"), "/([0-9]+)$", 1).cast("long")
          .as("doc_id"), col("text_out"))
    }),

    "q41_host_sessions" -> ((s, dir) =>
      // batch twin of the stateful-streaming hostSessions: same gap-based
      // session semantics over the extracted corpus, expressed as window
      // functions — the oracle-checked replay of what
      // ExtractStream.hostSessions computes incrementally with
      // flatMapGroupsWithState
      graft.streaming.ExtractStream.hostSessionsBatch(
        ExtractJob.run(pagesDf(s, dir)).toDF(), gapSec = 3600L)),

    "q43_embed_ivf" -> ((s, dir) =>
      // IVF-flat ANN: deterministic coarse centroids (first-16 vectors) →
      // broadcast argmax assignment (map-only) → probe the 4 nearest lists →
      // exact cosine re-rank inside probed lists. The oracle rebuilds the
      // identical inverted file in SQL (same HALF_UP round-4 ordering and
      // smaller-id tie-breaks), so the approximate structure itself is
      // hash-checked, not just sampled.
      graft.ops.Similarity.ivfTopK(emb(s, dir), nQueries = 8, k = 3,
        nCentroids = 16, nProbes = 4)),

    "q54_sitemap" -> ((s, dir) => {
      // sitemap ingestion: per-doc synthesized urlset XML → <loc> list via
      // the kernel parser + selector query (entity-decoded), exploded to
      // the frontier-url table the crawler seeds from
      val sm = concat(lit("<?xml version=\"1.0\"?><urlset>"),
        expr("concat_ws('', transform(sequence(0, 2), i -> " +
          "concat('<url><loc>https://s.example/', cast(doc_id * 3 + i as string), " +
          "'</loc><lastmod>2024-01-01</lastmod></url>')))"),
        lit("</urlset>"))
      val locsUdf = udf { (xml: String) =>
        graft.sources.Sitemap.locations(xml)
      }
      docs(s, dir).select(col("doc_id"), explode(locsUdf(sm)).as("loc"))
    }),

    "q55_charset_extract" -> ((s, dir) => {
      // charset-sniffing extraction: pages are REAL ISO-8859-1 bytes (the
      // non-ASCII 'é' is a single 0xE9 byte — invalid UTF-8, so a blind
      // UTF-8 decode would mojibake) carrying a meta declaration; the
      // sniffing pipeline must recover the exact text
      val body = concat(
        lit("<html><head><meta charset=\"iso-8859-1\"></head><body><p>"),
        regexp_replace(col("text"), lit("a"), lit("é")),
        lit("</p></body></html>"))
      val pages = docs(s, dir).select(col("doc_id"),
        concat(lit("https://cs.example/"), col("doc_id")).as("url"),
        expr("timestamp_seconds(1704067200)").as("warc_ts"),
        encode(body, "ISO-8859-1").as("html"),
        col("lang"))
      ExtractJob.run(pages, sniffCharset = true).toDF()
        .select("doc_id", "text_out")
    }),

    "q53_robots_filter" -> ((s, dir) => {
      // robots.txt frontier gate: per-host policies (base Disallow, a
      // host-dependent Allow override, a host-dependent wildcard+$ rule)
      // evaluated by the real RFC 9309 parser against per-doc paths; the
      // oracle predicts every decision from the construction. At scale the
      // per-host policy table is parsed once and broadcast against the
      // frontier; here the parse rides in the UDF for a self-contained
      // query.
      val h = col("doc_id") % 20
      val robots = concat(lit("User-agent: *\nDisallow: /private\n"),
        when(h % 2 === 0, lit("Allow: /private/pub\n")).otherwise(lit("")),
        when(h % 3 === 0, lit("Disallow: /*.tmp$\n")).otherwise(lit("")))
      val path = when(col("doc_id") % 4 === 0, lit("/private/doc"))
        .when(col("doc_id") % 4 === 1, lit("/private/pub/doc"))
        .when(col("doc_id") % 4 === 2,
          concat(lit("/data/doc"), col("doc_id"), lit(".tmp")))
        .otherwise(lit("/public/doc"))
      val allowedUdf = udf { (r: String, p: String) =>
        graft.sources.Robots.parse(r).isAllowed("graftbot", p)
      }
      docs(s, dir).select(col("doc_id"), allowedUdf(robots, path).as("allowed"))
    }),

    "q52_url_canonical" -> ((s, dir) => {
      // URL canonicalization as a PURE Column expression (whole-stage
      // codegen, no UDF): messy synthesized urls — mixed-case scheme/host,
      // default and non-default ports, empty paths, dot segments
      // (/a/b/../, /./), percent-escapes (unreserved %7E %41 decode;
      // reserved %2f uppercases and stays), queries, fragments —
      // normalize to the RFC 3986 identity-preserving form. The oracle
      // constructs the expected canonical directly from the parts (no
      // regex on the oracle side — independent of the parse).
      val messy = concat(
        lit("HTTP"), when(col("doc_id") % 2 === 0, lit("S")).otherwise(lit("")),
        lit("://WWW.Host"), (col("doc_id") % 20).cast("string"), lit(".Example"),
        when(col("doc_id") % 3 === 0,
          when(col("doc_id") % 2 === 0, lit(":443")).otherwise(lit(":80")))
          .when(col("doc_id") % 3 === 1, lit(":8080")).otherwise(lit("")),
        when(col("doc_id") % 4 === 0, lit(""))
          .when(col("doc_id") % 4 === 1, concat(lit("/a/b/../P"), col("doc_id")))
          .when(col("doc_id") % 4 === 2,
            concat(lit("/%7Euser/./p%2fq/P%41"), col("doc_id")))
          .otherwise(concat(lit("/P"), col("doc_id"))),
        when(col("doc_id") % 5 === 0, lit("?b=%7e2&a=1")).otherwise(lit("")),
        when(col("doc_id") % 6 === 0, lit("#Sec")).otherwise(lit("")))
      docs(s, dir).select(col("doc_id"), messy.as("url"))
        .withColumn("canonical", graft.ops.UrlOps.canonicalizeUrl(col("url")))
        .select("doc_id", "canonical")
    }),

    "q50_vocabulary" -> ((s, dir) =>
      // tokenizer-training precursor: BPE-ish token -> count, thresholded;
      // map-side-combined hash agg (whitespace runs excluded from vocab)
      graft.ops.TextAnalysis.vocabulary(docs(s, dir), minCount = 5)),

    "q51_decontaminate" -> ((s, dir) => {
      // benchmark decontamination: winnowing-fingerprint overlap between
      // the training split and a held-out 'benchmark' split (doc_id % 13);
      // inner join on the fingerprint key — clean docs never shuffle.
      // Oracle recomputes both splits from the independent winnow fixture.
      val d = docs(s, dir)
      graft.ops.TextAnalysis.contamination(
        d.filter(col("doc_id") % 13 =!= 0),
        d.filter(col("doc_id") % 13 === 0))
    }),

    "q47_head_meta" -> ((s, dir) => {
      // page-metadata table (title / description / canonical / robots):
      // synthesized heads, extracted through the kernel SELECTOR path
      // (title text, attr lookups on meta/link matches) — so q47 gates
      // querySelector + attribute decode end-to-end against a SQL oracle.
      // The description is embedded HTML-ESCAPED (& before ") with a
      // forced `&`/`"` marker appended, and the kernel's attribute decode
      // must invert the escaping exactly for the oracle (which compares
      // the raw unescaped string) to hash green — any unescaped embed or
      // missed decode breaks the attribute value on every row.
      val desc = concat(substring(col("text"), 1, 40), lit(" Q&A \"x\""))
      val descEsc = regexp_replace(
        regexp_replace(desc, "&", "&amp;"), "\"", "&quot;")
      val page = concat(
        lit("<html lang=\""), col("lang"), lit("\"><head><title>Doc "),
        col("doc_id"), lit(" - "), col("lang"), lit("</title>"),
        lit("<meta name=\"description\" content=\""),
        descEsc, lit("\">"),
        lit("<link rel=\"canonical\" href=\"https://c.example/"), col("doc_id"),
        lit("\">"),
        when(col("doc_id") % 9 === 0,
          lit("<meta name=\"robots\" content=\"noindex, nofollow\">"))
          .otherwise(lit("")),
        lit("</head><body><p>x</p></body></html>"))
      graft.ops.PageMeta.headMeta(
        docs(s, dir).select(col("doc_id"), encode(page, "UTF-8").as("html")))
        .toDF()
    }),

    "q48_outlinks" -> ((s, dir) => {
      // link-graph edge extraction: every page carries doc_id%5+1 anchors
      // with deterministic hrefs/anchors/rel flags; the kernel emits the
      // edge list in document order
      val page = concat(lit("<div>"),
        expr("concat_ws('', transform(sequence(1, cast(doc_id % 5 + 1 as int)), i -> " +
          "concat('<a href=\"https://t.example/', cast((doc_id * 7 + i) % 100 as string), '\"', " +
          "case when i % 2 = 0 then ' rel=\"nofollow\"' else '' end, " +
          "'>w', cast(i as string), ' ', lang, '</a>')))"),
        lit("</div>"))
      graft.ops.PageMeta.outlinks(
        docs(s, dir).select(col("doc_id"), encode(page, "UTF-8").as("html")))
        .toDF()
    }),

    "q49_link_degrees" -> ((s, dir) => {
      // in-degree of every distinct link target over the whole corpus —
      // the aggregation side of the link graph (one hash agg, map-side
      // combined)
      val page = concat(lit("<div>"),
        expr("concat_ws('', transform(sequence(1, cast(doc_id % 5 + 1 as int)), i -> " +
          "concat('<a href=\"https://t.example/', cast((doc_id * 7 + i) % 100 as string), '\"', " +
          "case when i % 2 = 0 then ' rel=\"nofollow\"' else '' end, " +
          "'>w', cast(i as string), ' ', lang, '</a>')))"),
        lit("</div>"))
      val edges = graft.ops.PageMeta.outlinks(
        docs(s, dir).select(col("doc_id"), encode(page, "UTF-8").as("html")))
        .toDF()
      graft.ops.PageMeta.degrees(edges)._2
    }),

    "q46_pipeline_e2e" -> ((s, dir) => {
      // the WHOLE training-data pipeline as one query: synthesize a crawl
      // with injected exact recrawls (every doc_id % 5 == 0 document appears
      // twice) → parse + boilerplate-strip extraction → quality gate over
      // the EXTRACTED text → exact dedup on its md5 fingerprint (min doc_id
      // survives — the 32-byte key is what you shuffle at 10^12 docs, not
      // the text) → per-lang corpus metrics. Every stage changes the
      // result, and the oracle recomputes all four from first principles.
      val base = docs(s, dir)
      val dups = base.filter(col("doc_id") % 5 === 0)
        .withColumn("doc_id", col("doc_id") + 10000)
      val crawl = Synth.pagesFromDocs(base.unionByName(dups))
      val parsed = ExtractJob.run(crawl, stripBoilerplate = true).toDF()
      val gated = graft.ops.TextAnalysis.qualityFilter(parsed,
        minChars = 60, minTokens = 12, maxPunctRatio = 0.3,
        minUniqRatio = 0.55, textCol = "text_out")
        .withColumn("fp", md5(encode(col("text_out"), "UTF-8")))
      // the min-doc_id survivor per fp falls out of ONE min-STRUCT agg
      // (doc_id leads the struct; ids are distinct within an fp group, so
      // the min struct IS the canonical row with its metrics riding along)
      // — the former groupBy(fp)+join-back re-parsed the whole crawl a
      // second time for the join probe side and paid an extra exchange
      val canon = gated
        .groupBy("fp").agg(min(struct(col("doc_id"), col("lang"),
          col("q_tokens"), length(col("text_out")).cast("long").as("n_chars")))
          .as("r"))
      canon.groupBy(col("r.lang").as("lang")).agg(
        count(lit(1)).as("docs"),
        sum("r.q_tokens").as("n_tokens"),
        sum("r.n_chars").as("n_chars"))
    }),

    "q45_quality_gate" -> ((s, dir) =>
      // quality-gate MATERIALIZATION (the filter step between extraction
      // and dedup): threshold predicates over the pure-Column quality
      // scores. Every ratio is a division of exact integer counts, so the
      // oracle reproduces the identical IEEE doubles and the pass/drop
      // decision is hash-checked for every document.
      graft.ops.TextAnalysis.qualityFilter(docs(s, dir))
        .select(col("doc_id"), col("lang"), col("q_tokens"))),

    "q44_pdf_roundtrip" -> ((s, dir) => {
      // the PDF path under the driver gate, mirroring q40's WARC shape:
      // every document becomes a REAL one-page FlateDecoded PDF (title line
      // via Tj, body via chunked TJ arrays, literal-string escaping), and
      // the from-scratch extractor (inflate → content tokenizer → text ops)
      // must read it back byte-identically. Any bug in the writer, the
      // stream framing, the zlib round trip, the escape set, or the
      // interpreter breaks the hash.
      val mk = udf { (docId: Long, text: String) =>
        graft.sources.PdfText.synthesize(Seq("Doc " + docId, text))
      }
      val ext = udf { (pdf: Array[Byte]) =>
        graft.sources.PdfText.extractText(pdf)
      }
      docs(s, dir).select(col("doc_id"),
        ext(mk(col("doc_id"), col("text"))).as("pdf_text"))
    }),

    "q42_main_content" -> ((s, dir) => {
      // boilerplate-strip main-content extraction (kernel Boilerplate
      // heuristics): the synthesized page wraps one genuine content block in
      // every chrome category the heuristics handle — tag strip (script,
      // style, nav, footer), class-token strip (sidebar), id-token strip
      // (page-header), and a link farm caught only by the link-density
      // prune. The oracle predicts the surviving text and the exact number
      // of stripped subtrees (7).
      val page = concat(
        lit("<html><head><script>var x = 1 < 2;</script>" +
          "<style>.m{color:red}</style></head><body>"),
        lit("<nav><a href=\"/\">Home</a> <a href=\"/a\">About</a></nav>"),
        lit("<div class=\"sidebar widget\"><p>subscribe now</p></div>"),
        lit("<div id=\"page-header\"><span>site</span></div>"),
        lit("<div class=\"content\"><p>"), col("text"), lit("</p></div>"),
        lit("<div><a href=\"#\">m1</a> <a href=\"#\">m2</a> <a href=\"#\">m3</a></div>"),
        lit("<footer>(c) example</footer></body></html>"))
      docs(s, dir)
        .select(col("doc_id"), HtmlFunctions.mainContent(page).as("mc"))
        .select(col("doc_id"), col("mc.main_text").as("main_text"),
          col("mc.n_stripped").cast("long").as("n_stripped"))
    }),

    "q34_css_descendant_rel" -> ((s, dir) => {
      // descendant combinators (`ul [class~=item]`, `div h3`) run RELATIONALLY:
      // explode once, then equi-join exploded ancestors — zero per-row HTML
      // UDFs downstream of the node table (reference semantics:
      // /root/reference/src/index.ts:418–454)
      // (the malformed variant's unclosed <h3> is dropped by the repair
      // pass — reference semantics, pinned by q09's n_elements=1 — so the
      // second probe uses `div p`, present only in well-formed pages.)
      // Both probes share ONE parse pass and ONE ancestor equi-join; the
      // per-probe distinct-descendant counts fall out of conditional
      // countDistinct over the joined rows.
      // ONE kernel pass: the ancestor and descendant legs are two filters
      // over the same node table — materialize the pruned projection once
      // (lazy localCheckpoint) instead of exploding the DOM twice
      val nodes = ExtractJob.explodeNodes(pagesDf(s, dir)).toDF()
        .select("doc_id", "node_idx", "tag", "classes", "ancestors")
        .localCheckpoint(false)
      val anc = nodes.filter(col("tag").isin("ul", "div"))
        .select(col("doc_id"), col("node_idx").as("anc_idx"),
          col("tag").as("anc_tag"))
      val desc = nodes
        .filter(array_contains(col("classes"), "item") || col("tag") === "p")
        .select(col("doc_id"), col("node_idx"), col("tag"), col("classes"),
          explode(col("ancestors")).as("anc_idx"))
      val counts = desc.join(anc, Seq("doc_id", "anc_idx"))
        .groupBy("doc_id").agg(
          countDistinct(when(col("anc_tag") === "ul" &&
            array_contains(col("classes"), "item"), col("node_idx")))
            .as("n_item_desc"),
          countDistinct(when(col("anc_tag") === "div" && col("tag") === "p",
            col("node_idx"))).as("n_p_in_div"))
      docs(s, dir).select("doc_id")
        .join(counts, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_item_desc"), lit(0L)).as("n_item_desc"),
          coalesce(col("n_p_in_div"), lit(0L)).as("n_p_in_div"))
    }),

    "q56_repetition" -> ((s, dir) => {
      // Gopher-style repetition quality signals: docs with doc_id%6==0 get
      // a repeated spam phrase appended, so the gate has real positives to
      // catch; grams built in one projection, two map-side-combined aggs
      val aug = when(col("doc_id") % 6 === 0,
        concat(col("text"), lit(" "),
          expr("repeat('click here now ', cast(doc_id % 4 + 2 as int))")))
        .otherwise(col("text"))
      graft.ops.TextAnalysis.repetitionSignals(
        docs(s, dir).select(col("doc_id"), aug.as("text")))
    }),

    "q57_line_dedup" -> ((s, dir) => {
      // CCNet-style corpus-wide line dedup: every 4th doc carries the same
      // 10-token cookie-banner line, which must survive exactly once
      // corpus-wide; min-struct agg + join-back (partial agg defuses the
      // hot-line skew a window over the line key would suffer)
      val aug = when(col("doc_id") % 4 === 0,
        concat(lit("cookie notice accept all cookies to continue reading this site "),
          col("text")))
        .otherwise(col("text"))
      graft.ops.TextAnalysis.lineDedup(
        docs(s, dir).select(col("doc_id"), aug.as("text")))
    }),

    "q58_pii_scrub" -> ((s, dir) => {
      // PII redaction: deterministic email/IPv4/IPv6/phone (international,
      // parenthesized, dotted) injected per doc, counted then replaced by
      // typed placeholders — pure regexp Column expressions, map-only,
      // whole-stage codegen end to end
      val d4 = lpad((col("doc_id") % 10000).cast("string"), 4, "0")
      val aug = concat(col("text"),
        lit(" contact user"), col("doc_id"), lit("@mail"), col("doc_id") % 7,
        lit(".example.com from 10."), col("doc_id") % 256, lit(".0."),
        col("doc_id") % 100, lit(" call +1-555-"), d4,
        lit(" or (555) 123-"), d4,
        lit(" alt 555.123."), d4,
        lit(" net 2001:db8::"), (col("doc_id") % 9999 + 1).cast("string"))
      graft.ops.PiiScrub.scrub(
        docs(s, dir).select(col("doc_id"), aug.as("text")))
        .select("doc_id", "n_email", "n_ip", "n_ipv6", "n_phone", "scrubbed")
    }),

    "q59_jsonld" -> ((s, dir) => {
      // schema.org JSON-LD extraction: script[type="application/ld+json"]
      // bodies come through the kernel's raw-text path VERBATIM (the
      // &amp; in the headline pins that no entity decode corrupts JSON);
      // field access is codegen'd get_json_object downstream of the kernel
      val json1 = concat(lit("{\"@type\":\"Article\",\"headline\":\"Doc "),
        col("doc_id"), lit(" &amp; x\",\"wordCount\":"),
        size(split(col("text"), " ")), lit("}"))
      val json2 = concat(
        lit("{\"@type\":\"Breadcrumb\",\"position\":"), col("doc_id") % 3, lit("}"))
      val page = concat(
        lit("<html><head><script type=\"application/ld+json\">"), json1,
        lit("</script></head><body><p>x</p>"),
        when(col("doc_id") % 5 === 0,
          concat(lit("<script type=\"application/ld+json\">"), json2,
            lit("</script>"))).otherwise(lit("")),
        lit("</body></html>"))
      graft.ops.PageMeta.jsonLd(
        docs(s, dir).select(col("doc_id"), encode(page, "UTF-8").as("html")))
        .select(col("doc_id"), col("block_idx").cast("long").as("block_idx"),
          get_json_object(col("json"), "$['@type']").as("jtype"),
          get_json_object(col("json"), "$.headline").as("headline"),
          get_json_object(col("json"), "$.wordCount").cast("long").as("word_count"),
          get_json_object(col("json"), "$.position").cast("long").as("position"))
    }),

    "q60_host_curation" -> ((s, dir) => {
      // host-reputation rollup — the table a crawl curator reads to
      // blocklist hosts: per-host docs, parse-error count, quality pass
      // rate, duplicated-content count. Composes extraction + gate +
      // dup-detection; host skew is real (Synth routes half the corpus to
      // host-0) and harmless here because every agg is map-side combined.
      val parsed = ExtractJob.run(Synth.pages(s, dir)).toDF()
      val gated = graft.ops.TextAnalysis.qualityGate(parsed,
        minChars = 60, minTokens = 12, maxPunctRatio = 0.3,
        minUniqRatio = 0.55, textCol = "text_out")
        .withColumn("fp", md5(encode(col("text_out"), "UTF-8")))
      // PRE-AGGREGATE to (fp, host) counts straight off the parse (map-side
      // combined, text never shuffles), derive the per-fp dup sizes from
      // that skinny table, and join the two aggregates — the former
      // row-level sizes join-back re-ran the whole extraction for the
      // probe side and shuffled every document row on the fp key. The
      // pre-agg is materialized once (lazy localCheckpoint) so the sizes
      // agg and the join share one parse.
      val perFpHost = gated
        .withColumn("host", graft.ops.UrlOps.urlHost(col("url")))
        .groupBy("fp", "host").agg(
          count(lit(1)).as("cnt"),
          sum(when(!col("parse_ok"), 1L).otherwise(0L)).as("p_err"),
          sum(when(col("q_pass"), 1L).otherwise(0L)).as("p_pass"))
        .localCheckpoint(false)
      val sizes = perFpHost.groupBy("fp").agg(sum("cnt").as("n_same"))
      perFpHost.join(sizes, "fp")
        .groupBy("host").agg(
          sum("cnt").as("n_docs"),
          sum("p_err").as("n_parse_err"),
          sum("p_pass").as("n_q_pass"),
          sum(when(col("n_same") > 1, col("cnt")).otherwise(0L)).as("n_dup"))
        .withColumn("q_pass_rate",
          col("n_q_pass").cast("double") / col("n_docs").cast("double"))
    }),

    "q61_stratified_sample" -> ((s, dir) =>
      // reproducible training-mix cut: per-language md5-hex-threshold
      // sampling (en ~25%, zh ~50%, everything else ~75%) — no RNG, same
      // cut on every run/retry/cluster size; map-only, pushes to the scan
      graft.ops.TextAnalysis.hashSample(docs(s, dir),
        thresholds = Map("en" -> "4000", "zh" -> "8000"),
        defaultThreshold = "c000")
        .select("doc_id", "lang")),

    "q62_pagerank" -> ((s, dir) => {
      // crawl seed-selection centrality: 3 iterations of INTEGER-arithmetic
      // PageRank over the q48-shaped link graph — integer division makes
      // every step order-independent, so the distributed result is
      // hash-identical to the oracle's unrolled iterations (float PageRank
      // could never be hash-gated: IEEE addition isn't associative)
      val edges = docs(s, dir).select(
        (col("doc_id") % 100).as("src"),
        explode(expr("transform(sequence(1, cast(doc_id % 5 + 1 as int)), " +
          "i -> (doc_id * 7 + i) % 100)")).as("dst"))
      val nodes = edges.select(col("src").as("node"))
        .union(edges.select(col("dst").as("node"))).distinct()
      graft.ops.LinkGraph.pageRankInt(nodes, edges, iters = 3)
    }),

    "q63_dup_spans" -> ((s, dir) =>
      // span-level dup analysis (Lee et al. 2022): winnowing fingerprints
      // shared across >=2 docs, per-doc shared fraction; the oracle
      // recomputes from the independent Python winnow fixture
      graft.ops.TextAnalysis.dupSpanStats(docs(s, dir))),

    "q64_typicality" -> ((s, dir) =>
      // inter-doc quality signal: mean token document-frequency — exact
      // integer counts, df table broadcast-able at scale
      graft.ops.TextAnalysis.typicality(docs(s, dir))),

    "q65_crawl_delta" -> ((s, dir) => {
      // recrawl delta: old snapshot = documents as-is; new snapshot drops
      // every 10th url, modifies every (remaining) 3rd, adds urls offset by
      // 1e9 (collision-free at any SF) — ONE full-outer join on 32-byte
      // fingerprints classifies all
      // four statuses, the gate that lets steady-state recrawls skip
      // re-extraction of the unchanged majority
      val base = docs(s, dir)
      val newSnap = base.filter(col("doc_id") % 10 =!= 0)
        .withColumn("text", when(col("doc_id") % 3 === 0,
          concat(col("text"), lit(" updated"))).otherwise(col("text")))
        .unionByName(base.filter(col("doc_id") % 8 === 0)
          .withColumn("doc_id", col("doc_id") + 1000000000L))
      graft.ops.CrawlDelta.delta(base, newSnap)
    }),

    "q66_extract_line_dedup" -> ((s, dir) => {
      // corpus-evidence boilerplate removal over REAL extracted text: the
      // repeated <li> lang items and 'link' anchor lines in the
      // synthesized pages are exactly cross-page chrome, and
      // first-occurrence line dedup strips them corpus-wide with NO
      // per-page heuristic — the corpus-level complement to q42's
      // kernel-side Boilerplate pass, composed extract → dedup
      // ONE kernel pass: lineDedupNewline reads its input three times (line
      // explode for the firsts agg, the join probe, and the doc_id spine) —
      // materialize the skinny (doc_id, text_out) projection once instead
      // of re-parsing the corpus per consumer
      val parsed = ExtractJob.run(pagesDf(s, dir)).toDF()
        .select(col("doc_id"), col("text_out")).localCheckpoint(false)
      graft.ops.TextAnalysis.lineDedupNewline(parsed, textCol = "text_out")
    }),

    "q67_anchor_stats" -> ((s, dir) => {
      // anchor-text aggregation per link target (the q48 kernel-extracted
      // edge list): dominant anchor chosen by a min-STRUCT agg — no window
      // over the href key, so a homepage with millions of in-links never
      // becomes a sorted-window skew bottleneck
      val page = concat(lit("<div>"),
        expr("concat_ws('', transform(sequence(1, cast(doc_id % 5 + 1 as int)), i -> " +
          "concat('<a href=\"https://t.example/', cast((doc_id * 7 + i) % 100 as string), '\"', " +
          "case when i % 2 = 0 then ' rel=\"nofollow\"' else '' end, " +
          "'>w', cast(i as string), ' ', lang, '</a>')))"),
        lit("</div>"))
      graft.ops.PageMeta.anchorStats(
        graft.ops.PageMeta.outlinks(
          docs(s, dir).select(col("doc_id"), encode(page, "UTF-8").as("html")))
          .toDF())
    }),

    "q68_tables" -> ((s, dir) => {
      // structured-data lift: every page carries one table (header row +
      // doc_id%3+1 data rows); the kernel emits one relational row per
      // <tr> with '|'-joined decoded cells — table-QA / table-to-text
      // dataset extraction through the same map-only kernel shape
      val dataRows = expr("concat_ws('', transform(sequence(1, cast(doc_id % 3 + 1 as int)), j -> " +
        "concat('<tr><td>r', cast(j as string), ' ', lang, '</td><td>', cast(doc_id * j as string), '</td></tr>')))")
      val page = concat(
        lit("<div><table><tr><th>name</th><th>value</th></tr>"), dataRows,
        lit("</table></div>"))
      graft.ops.PageMeta.tables(
        docs(s, dir).select(col("doc_id"), encode(page, "UTF-8").as("html")))
        .select(col("doc_id"), col("table_idx").cast("long").as("table_idx"),
          col("row_idx").cast("long").as("row_idx"), col("is_header"),
          col("cells"))
    }),

    "q69_feed_entries" -> ((s, dir) => {
      // frontier-seed FEED ingestion (the companion to q54's sitemaps —
      // feeds surface fresh urls first): even docs serve RSS (void-<link>
      // sibling-text quirk) with CDATA-WRAPPED titles and links carrying
      // raw '&'/'<' — the mainstream-RSS shape; odd docs serve Atom
      // (link[href]) with the SAME logical title entity-encoded. Both
      // branches must yield identical logical entries, so ONE oracle
      // covers them and any CDATA/entity/RSS/Atom asymmetry breaks the
      // hash.
      val rss = concat(lit("<rss><channel>"),
        expr("concat_ws('', transform(sequence(1, cast(doc_id % 3 + 1 as int)), j -> " +
          "concat('<item><title><![CDATA[T ', cast(doc_id as string), ' ', cast(j as string), ' A&B <ok>]]></title>" +
          "<link><![CDATA[https://f.example/', cast(doc_id as string), '/', cast(j as string), ']]></link>" +
          "<pubDate>D', cast((doc_id + j) % 7 as string), '</pubDate></item>')))"),
        lit("</channel></rss>"))
      val atom = concat(lit("<feed>"),
        expr("concat_ws('', transform(sequence(1, cast(doc_id % 3 + 1 as int)), j -> " +
          "concat('<entry><title>T ', cast(doc_id as string), ' ', cast(j as string), ' A&amp;B &lt;ok&gt;</title>" +
          "<link href=\"https://f.example/', cast(doc_id as string), '/', cast(j as string), '\"/>" +
          "<updated>D', cast((doc_id + j) % 7 as string), '</updated></entry>')))"),
        lit("</feed>"))
      val xml = when(col("doc_id") % 2 === 0, rss).otherwise(atom)
      val pages = docs(s, dir).select(col("doc_id"), encode(xml, "UTF-8").as("xml"))
      import s.implicits._
      pages.as[(Long, Array[Byte])].mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          graft.sources.Feed.entries(
            new String(bytes, java.nio.charset.StandardCharsets.UTF_8))
            .iterator.zipWithIndex.map { case (e, i) =>
              (id, i.toLong, e.url, e.title, e.published)
            }
        }
      }.toDF("doc_id", "entry_idx", "url", "title", "published")
    }),

    "q70_compression" -> ((s, dir) =>
      // zlib compression-ratio quality signal (spam/template churn
      // compresses far below prose): per-row pure function, map-only.
      // FULL hash oracle — CPython zlib and the JVM Deflater emit
      // byte-identical level-6 streams (both wrap zlib), so the fixture's
      // compressed_len/raw_len reproduces the exact IEEE double.
      graft.ops.TextAnalysis.compressionRatio(docs(s, dir))
        .select(col("doc_id"), col("compression_ratio"))),

    "q71_time_travel" -> ((s, dir) => {
      // Iceberg-style snapshot TIME TRAVEL through the driver gate: commit
      // the corpus's doc_id % 4 buckets in sequence (each commit appends a
      // snapshot recording the full committed set), then read the table AS
      // OF snapshot 3 — exactly buckets 0..2's rows exist in that state,
      // and the oracle predicts the row set from doc_id arithmetic. Reading
      // an old state scans ONLY that state's buckets (no full-scan+filter).
      // EAGER SIDE EFFECT: the bucket commits (full corpus writes +
      // read-backs) run at DataFrame-CONSTRUCTION time, not execution time
      // — the cost of this query is commit I/O by design. The temp table
      // is deleted on JVM exit so repeated harness/bench invocations do
      // not accumulate corpus copies under /tmp.
      import graft.pipeline.TableIO
      val tbl = tempDirCleanedOnExit("graft_q71")
      val d = docs(s, dir)
        .withColumn(TableIO.BucketCol, pmod(col("doc_id"), lit(4)))
      // ONE partitioned write lays out every bucket directory in a single
      // corpus pass; repartition on the bucket key first so each bucket
      // commits as one well-sized file instead of one per scan task. Data
      // is fully written BEFORE the first commit, and the manifests +
      // snapshots append in bucket order, so the snapshot log records the
      // incremental committed sets. Only buckets present in the read-back
      // counts commit: partitionBy creates no directory for an empty
      // bucket, and a snapshot naming one could not be read back.
      d.repartition(col(TableIO.BucketCol))
        .write.partitionBy(TableIO.BucketCol).mode("overwrite").parquet(tbl)
      val rows = s.read.parquet(tbl)
        .groupBy(TableIO.BucketCol).count().collect()
        .map(r => (r.getAs[Number](0).longValue, r.getLong(1)))
      rows.sortBy(_._1).foreach { case (b, n) =>
        TableIO.commitManifest(tbl, b, n)
        TableIO.appendSnapshot(tbl, b)
      }
      TableIO.readSnapshot(s, tbl, snapshotId = 3L)
        .select(col("doc_id"), col("lang"))
    }),

    "q72_templates" -> ((s, dir) => {
      // DOM template clustering: per page, a structural fingerprint over
      // the element skeleton (text/attrs excluded) and the population +
      // canonical representative of its template group — the corpus-level
      // template-churn signal (same-CMS pages cluster even when per-page
      // heuristics pass them). Pages synthesize doc_id%5+1 repeated
      // sections, so the oracle predicts group sizes/reps from doc_id
      // arithmetic without computing the hash (fp itself not emitted to
      // the compare — it is not SQL-reproducible).
      val page = concat(lit("<div>"),
        expr("repeat('<section><p>x</p></section>', cast(doc_id % 5 + 1 as int))"),
        lit("</div>"))
      graft.ops.PageMeta.templates(
        docs(s, dir).select(col("doc_id"), encode(page, "UTF-8").as("html")))
        .select("doc_id", "template_docs", "template_rep")
    }),

    "q73_hreflang" -> ((s, dir) => {
      // hreflang ALTERNATES — the multilingual-corpus construction signal:
      // link[rel=alternate] hreflang/href pairs cluster the same logical
      // document across languages. Synthesized heads carry an en alternate,
      // a doc-lang alternate, a conditional x-default, plus a stylesheet
      // link and an href-less alternate that must BOTH be skipped.
      val page = concat(
        lit("<html><head>"),
        lit("<link rel=\"alternate\" hreflang=\"en\" href=\"https://ex.com/en/"),
        col("doc_id"), lit("\">"),
        lit("<link rel=\"alternate\" hreflang=\""), col("lang"),
        lit("\" href=\"https://ex.com/"), col("lang"), lit("/"), col("doc_id"),
        lit("\">"),
        when(col("doc_id") % 3 === 0,
          lit("<link rel=\"alternate\" hreflang=\"x-default\" href=\"https://ex.com/\">"))
          .otherwise(lit("")),
        lit("<link rel=\"stylesheet\" href=\"/s.css\">"),
        lit("<link rel=\"alternate\" hreflang=\"de\">"),
        lit("</head><body><p>x</p></body></html>"))
      graft.ops.PageMeta.alternates(
        docs(s, dir).select(col("doc_id"), encode(page, "UTF-8").as("html")))
        .select(col("doc_id"), col("alt_idx").cast("long").as("alt_idx"),
          col("hreflang"), col("href"))
    }),

    "q74_canonical_dedup" -> ((s, dir) => {
      // canonical-URL dedup — the dedup pass that runs BEFORE content
      // dedup in a real crawl: pages declaring the same canonical are one
      // logical document. Composes the kernel selector path (headMeta
      // canonical extraction) + URL canonicalization (the embedded
      // canonicals are deliberately messy: mixed case, default port, dot
      // segments) + keep-smallest-id materialization. Every stage changes
      // the result; the oracle predicts survivors from doc_id arithmetic.
      val page = concat(
        lit("<html><head><title>t</title>"),
        lit("<link rel=\"canonical\" href=\"HTTPS://C.Example:443/a/../"),
        col("doc_id") % 100, lit("\"></head><body><p>x</p></body></html>"))
      val hm = graft.ops.PageMeta.headMeta(
        docs(s, dir).select(col("doc_id"), encode(page, "UTF-8").as("html")))
        .toDF()
      hm.select(col("doc_id"),
        graft.ops.UrlOps.canonicalizeUrl(col("canonical")).as("canonical"))
        .groupBy("canonical")
        .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_dupes"))
        .select("doc_id", "canonical", "n_dupes")
    }),

    "q75_bpe_pairs" -> ((s, dir) =>
      // tokenizer TRAINING step: adjacent symbol-pair counts weighted by
      // word frequency (the argmax is the next BPE merge). Pair generation
      // runs over the distinct-vocabulary table, not the corpus — the
      // map-reduce shape BPE trainers distribute
      graft.ops.TextAnalysis.bpePairCounts(docs(s, dir), minCount = 5)),

    "q76_nfc_normalize" -> ((s, dir) => {
      // Unicode NFC canonicalization before dedup: even docs get DECOMPOSED
      // sequences appended (e + combining acute, A + combining ring) that
      // must compose to é / Å; odd docs pass through already-NFC. The
      // oracle recomputes with DuckDB's independent utf8proc
      // nfc_normalize — two unrelated Unicode implementations must agree
      // byte-for-byte.
      val aug = when(col("doc_id") % 2 === 0,
        concat(col("text"), lit(" cafe\u0301 A\u030A"))) // decomposed on purpose
        .otherwise(col("text"))
      graft.ops.TextAnalysis.nfcNormalize(
        docs(s, dir).select(col("doc_id"), aug.as("text")))
        .select("doc_id", "nfc_text", "was_normalized")
    }),

    "q77_reciprocal_hreflang" -> ((s, dir) => {
      // parallel-corpus pair mining: every doc spawns an en page claiming
      // a fr alternate, and a fr page that claims the en back — EXCEPT
      // every 7th doc, whose fr page omits the back-link and must not
      // verify. Kernel-extracts alternates from both synthesized pages,
      // then ONE self equi-join on the (href ↔ url) keys keeps only
      // bidirectionally-confirmed pairs.
      val d = docs(s, dir)
      val enPage = concat(
        lit("<head><link rel=\"alternate\" hreflang=\"fr\" href=\"https://p.ex/fr/"),
        col("doc_id"), lit("\"></head>"))
      val frPage = concat(lit("<head>"),
        when(col("doc_id") % 7 =!= 0,
          concat(lit("<link rel=\"alternate\" hreflang=\"en\" href=\"https://p.ex/en/"),
            col("doc_id"), lit("\">"))).otherwise(lit("")),
        lit("</head>"))
      val pages = d.select((col("doc_id") * 2).as("pid"),
          encode(enPage, "UTF-8").as("html"))
        .unionAll(d.select((col("doc_id") * 2 + 1).as("pid"),
          encode(frPage, "UTF-8").as("html")))
      val alts = graft.ops.PageMeta.alternates(
        pages.select(col("pid").as("doc_id"), col("html")))
      // the page url is PURE doc_id (pid) arithmetic — recompute it on the
      // alternates rows instead of joining the pages table back (one
      // corpus-wide equi-join removed; guide §2.4)
      val withUrl = alts
        .select(concat(lit("https://p.ex/"),
            when(col("doc_id") % 2 === 0, lit("en")).otherwise(lit("fr")),
            lit("/"), expr("doc_id div 2")).as("url"),
          col("hreflang"), col("href"))
      graft.ops.PageMeta.reciprocalAlternates(withUrl)
    }),

    "q78_resolve_links" -> ((s, dir) => {
      // frontier construction: kernel-extracted outlink hrefs — absolute,
      // root-relative, relative, parent-relative, protocol-relative, and
      // query-only, one class per doc_id%6 — RESOLVED against the page's
      // DOCUMENT BASE (RFC 3986 §5 + WHATWG <base href>), not the page url
      // blindly: doc_id%5 classes declare an absolute cross-host base, a
      // RELATIVE base (itself resolved against the page url first), a
      // base with no href (ignored), TWO bases (first wins), or none.
      // Every (base-class × href-class) combination lands on a different
      // absolute, and the oracle rebuilds all 30 from parts — a resolver
      // that ignores <base> (or picks the wrong declaration) hash-fails.
      // The typed boundary between documentBase and resolveUrl is the
      // documented no-CSE HOF hazard (see UrlOps).
      import s.implicits._
      val baseTag = when(col("doc_id") % 5 === 0,
          lit("<base href=\"https://b.example/bd/sub/\">"))
        .when(col("doc_id") % 5 === 1, lit("<base href=\"rel/\">"))
        .when(col("doc_id") % 5 === 2, lit("<base target=\"_b\">"))
        .when(col("doc_id") % 5 === 3,
          lit("<base href=\"https://first.example/f/\">" +
            "<base href=\"https://second.example/s/\">"))
        .otherwise(lit(""))
      val href = when(col("doc_id") % 6 === 0,
          concat(lit("https://other.example/abs/"), col("doc_id")))
        .when(col("doc_id") % 6 === 1, concat(lit("/root/"), col("doc_id")))
        .when(col("doc_id") % 6 === 2, concat(lit("sib"), col("doc_id"), lit(".html")))
        .when(col("doc_id") % 6 === 3, concat(lit("../up/"), col("doc_id")))
        .when(col("doc_id") % 6 === 4, concat(lit("//cdn.example/c/"), col("doc_id")))
        .otherwise(concat(lit("?page="), col("doc_id")))
      val page = concat(lit("<head>"), baseTag,
        lit("</head><div><a href=\""), href, lit("\">x</a></div>"))
      val edges = graft.ops.PageMeta.outlinksWithBase(
        docs(s, dir).select(col("doc_id"), encode(page, "UTF-8").as("html")))
      // base_url is PURE doc_id arithmetic — recompute it on the edge rows
      // instead of joining the documents table back (one corpus-wide
      // equi-join removed; the edge extraction stays map-only end to end)
      val withBase = edges
        .select(col("doc_id"), col("href"),
          graft.ops.UrlOps.documentBase(
            concat(lit("https://h"), (col("doc_id") % 20).cast("string"),
              lit(".example/dir/sub/page.html")), col("page_base"))
            .as("eff_base"))
        .as[(Long, String, String)].mapPartitions(identity)
        .toDF("doc_id", "href", "eff_base")
      withBase.select(col("doc_id"), col("href"),
        graft.ops.UrlOps.resolveUrl(col("eff_base"), col("href")).as("resolved"))
    }),

    "q79_sitemap_incremental" -> ((s, dir) => {
      // incremental recrawl from sitemap lastmod — the sitemap-side twin of
      // the crawl-snapshot delta: only entries whose lastmod postdates the
      // last fetch need re-fetching (ISO dates compare lexically). Kernel
      // parses full <url> entries (loc + lastmod).
      val xml = concat(lit("<urlset>"),
        expr("concat_ws('', transform(sequence(0, 2), i -> " +
          "concat('<url><loc>https://s.example/', cast(doc_id * 3 + i as string), " +
          "'</loc><lastmod>2026-01-', lpad(cast((doc_id + i) % 28 + 1 as string), 2, '0'), " +
          "'</lastmod></url>')))"),
        lit("</urlset>"))
      val pages = docs(s, dir).select(col("doc_id"), encode(xml, "UTF-8").as("xml"))
      import s.implicits._
      pages.as[(Long, Array[Byte])].mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          graft.sources.Sitemap.entries(
            new String(bytes, java.nio.charset.StandardCharsets.UTF_8))
            .iterator.map(e => (id, e.loc, e.lastmod))
        }
      }.toDF("doc_id", "loc", "lastmod")
        .withColumn("needs_fetch", col("lastmod") > lit("2026-01-15"))
    }),

    "q80_meta_refresh" -> ((s, dir) => {
      // html-level redirects a crawler must honor next to HTTP 3xx:
      // doc_id%4==0 declares a refresh redirect (alternating quote styles +
      // http-equiv case), %4==1 a pure reload (no url), others none — the
      // extractor must emit exactly the declaring pages, first valid
      // declaration winning
      val page = concat(lit("<html><head>"),
        when(col("doc_id") % 4 === 0,
          concat(lit("<meta http-equiv=\"refresh\" content=\""),
            col("doc_id") % 10, lit(";url=https://r.example/moved/"),
            col("doc_id"), lit("\">")))
          .when(col("doc_id") % 4 === 1,
            lit("<meta http-equiv=\"Refresh\" content=\"30\">"))
          .otherwise(lit("")),
        lit("</head><body><p>x</p></body></html>"))
      graft.ops.PageMeta.metaRefresh(
        docs(s, dir).select(col("doc_id"), encode(page, "UTF-8").as("html")))
    }),

    "q81_frontier_e2e" -> ((s, dir) => {
      // the CRAWL LOOP composed end to end: kernel outlink extraction →
      // RFC 3986 resolution of relative hrefs → canonicalization of messy
      // absolute ones → robots gate (Disallow: /q/3) → resume anti-join
      // against the committed-url table → the distinct new frontier.
      // Five round-3/4 ops in one plan; every stage changes the result,
      // and the oracle recomputes all of them from doc_id arithmetic.
      val d = docs(s, dir)
      val relTarget = concat(lit("../p"), (col("doc_id") * 7) % 200, lit(".html"))
      val absTarget = concat(lit("HTTP://H"), (col("doc_id") % 20).cast("string"),
        lit(".Example/q/"), col("doc_id") % 5)
      val page = concat(lit("<div><a href=\""), relTarget,
        lit("\">r</a><a href=\""), absTarget, lit("\">a</a></div>"))
      val edges = graft.ops.PageMeta.outlinksWithBase(
        d.select(col("doc_id"), encode(page, "UTF-8").as("html")))
      import s.implicits._
      // typed boundaries between documentBase, resolve, and canonicalize:
      // the three Column pipelines each contain CodegenFallback HOF folds,
      // and nesting them in one expression makes Catalyst DUPLICATE the
      // inner tree into every sub-extraction of the outer one (no CSE for
      // fallback expressions — measured 15.9 s vs ~1 s at sf0.1). Each
      // boundary materializes its url once per row. The frontier honors
      // <base href> (none declared in this synth — documentBase passes the
      // page url through — but the composition is the production path).
      // base_url is PURE doc_id arithmetic — recompute it on the edge rows
      // (q78's optimization): the documents join-back disappears and the
      // extraction→resolution leg stays map-only
      val withBase = edges
        .select(graft.ops.UrlOps.documentBase(
            concat(lit("https://h"), (col("doc_id") % 20).cast("string"),
              lit(".example/dir/page"), col("doc_id"), lit(".html")),
            col("page_base"))
          .as("eff_base"), col("href"))
        .as[(String, String)].mapPartitions(identity).toDF("eff_base", "href")
      val resolved = withBase
        .select(graft.ops.UrlOps.resolveUrl(col("eff_base"), col("href"))
          .as("resolved"))
        .as[String].mapPartitions(identity).toDF("resolved")
      val canon = resolved
        .select(graft.ops.UrlOps.canonicalizeUrl(col("resolved")).as("url"))
        .as[String].mapPartitions(identity).toDF("url")
      val robotsTxt = "User-agent: *\nDisallow: /q/3"
      val policy = graft.sources.Robots.parse(robotsTxt) // parse ONCE
      val allowedUdf = udf { (p: String) => policy.isAllowed("graftbot", p) }
      val gated = canon
        .filter(allowedUdf(graft.ops.UrlOps.urlPath(col("url"))))
      val committed = d
        .filter((col("doc_id") * 7) % 200 % 3 === 0)
        .select(concat(lit("https://h"), (col("doc_id") % 20).cast("string"),
          lit(".example/p"), (col("doc_id") * 7) % 200, lit(".html")).as("url"))
      graft.pipeline.TableIO.resumeByUrl(gated, committed).distinct()
    }),

    "q82_politeness" -> ((s, dir) => {
      // per-host POLITENESS budget — the frontier-scheduling input: robots
      // crawl-delay (agent-specific beats *, absent → 0) and sitemap count
      // per host, times queued-page volume → estimated fetch seconds.
      // Exact-representable delays so the double product hashes.
      val robots = when(col("doc_id") % 3 === 0,
        concat(lit("User-agent: *\nCrawl-delay: "),
          (col("doc_id") % 10 + 1).cast("string"),
          lit("\nSitemap: https://h.example/s1.xml\nSitemap: https://h.example/s2.xml")))
        .when(col("doc_id") % 3 === 1,
          lit("User-agent: graftbot\nCrawl-delay: 2.5\nUser-agent: *\nCrawl-delay: 9"))
        .otherwise(lit("User-agent: *\nDisallow: /tmp/"))
      val f = udf { (r: String) =>
        val p = graft.sources.Robots.parse(r)
        (p.delayFor("graftbot"), p.sitemaps.length)
      }
      docs(s, dir).select(col("doc_id"), f(robots).as("x"))
        .select(col("doc_id"), col("x._1").as("crawl_delay"),
          col("x._2").cast("long").as("n_sitemaps"))
        .withColumn("est_fetch_sec",
          col("crawl_delay") * (col("doc_id") % 50 + 1))
    }),

    "q86_outline" -> ((s, dir) => {
      // document OUTLINE in strict document order (h1 then alternating
      // h2/h3 sections): the sectioning signal for long-document chunking.
      // Position arithmetic in the oracle reproduces the interleaving, so
      // any part-order (non-document-order) traversal breaks the hash.
      val sections = expr(
        "concat_ws('', transform(sequence(1, cast(doc_id % 3 + 1 as int)), j -> " +
          "concat('<section><h2>S ', cast(doc_id as string), ' ', cast(j as string), '</h2>', " +
          "case when j % 2 = 0 then concat('<h3>U ', cast(doc_id as string), ' ', cast(j as string), '</h3>') else '' end, " +
          "'<p>body</p></section>')))")
      val page = concat(lit("<body><h1>T "), col("doc_id"), lit("</h1>"),
        sections, lit("</body>"))
      graft.ops.PageMeta.outline(
        docs(s, dir).select(col("doc_id"), encode(page, "UTF-8").as("html")))
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
          col("level"), col("heading"))
    }),

    "q87_images" -> ((s, dir) => {
      // IMAGE-TEXT pair table — the first stage of an interleaved
      // image-text corpus (the missing input of the multimodal layer): one
      // row per img in document order, srcset parsed by the WHATWG token
      // rules (URL tokens run to WHITESPACE, so commas inside urls
      // survive; a candidate may omit its descriptor), src resolved
      // against the page url. doc_id%4 srcset classes: none /
      // x-descriptors / w-descriptors / comma-in-url + descriptor-less;
      // every 3rd doc adds a src-LESS srcset-only img (legal responsive
      // form). The oracle rebuilds every row from doc_id arithmetic — a
      // split-on-comma srcset parser hash-fails on the %4==3 class.
      val d = docs(s, dir)
      val srcset = when(col("doc_id") % 4 === 0, lit(""))
        .when(col("doc_id") % 4 === 1, lit(" srcset=\"a.png 1x, b.png 2x\""))
        .when(col("doc_id") % 4 === 2,
          concat(lit(" srcset=\"/w/"), col("doc_id"), lit("-400.jpg 400w, /w/"),
            col("doc_id"), lit("-800.jpg 800w\"")))
        .otherwise(lit(" srcset=\"p,q.png 1x, r.png\""))
      val page = concat(lit("<div><img src=\"/i/"), col("doc_id"),
        lit(".png\" alt=\"alt "), col("doc_id"), lit("\""), srcset, lit(">"),
        when(col("doc_id") % 3 === 0,
          lit("<img srcset=\"s1.png 1x\" alt=\"second\">")).otherwise(lit("")),
        lit("</div>"))
      val imgs = graft.ops.PageMeta.images(
        d.select(col("doc_id"), encode(page, "UTF-8").as("html")))
      // page_url is PURE doc_id arithmetic — recompute it on the img rows
      // instead of joining the documents table back: extraction +
      // resolution stay one map-only pass, zero exchanges
      imgs.select(col("doc_id"), col("img_idx").cast("long").as("img_idx"),
          when(col("src") === "", lit(""))
            .otherwise(graft.ops.UrlOps.resolveUrl(
              concat(lit("https://h"), (col("doc_id") % 20).cast("string"),
                lit(".example/dir/page.html")), col("src")))
            .as("src_resolved"),
          col("alt"), col("srcset"))
    }),

    "q88_drop_dup_spans" -> ((s, dir) =>
      // duplicated-span REMOVAL (the action half of Lee et al. 2022 —
      // q63 is the analysis half): spans whose winnowing fingerprints
      // appear in >= 2 docs are excised, overlap-merged to maximal
      // ranges; unique text survives byte-identical. The oracle rebuilds
      // the ENTIRE rewrite from the independent Python winnow-position
      // fixture: shared set via spread, positions -> char ranges,
      // gaps-and-islands merge, kept-segment reassembly with substr —
      // so the hash pins every output byte against a second
      // implementation. (Char arithmetic is valid because the corpus is
      // BMP-only: JVM UTF-16 indices == DuckDB char indices.)
      graft.ops.TextAnalysis.dropDupSpans(docs(s, dir))),

    "q89_stream_delta" -> ((s, dir) => {
      // the STREAMING crawl-delta path itself under the cross-engine gate
      // (its batch twin is q65; until now the stream was pinned only by
      // spec + twin equivalence): the q65 snapshots replay as two
      // MicroBatches through a MemoryStream -> flatMapGroupsWithState ->
      // memory sink, and the oracle predicts every emitted event from
      // doc_id arithmetic. batch 1 = the corpus ('new' per url); batch 2
      // drops every 10th url (absence is not an event - no 'gone'),
      // modifies every remaining 3rd, re-fetches the rest ('unchanged'),
      // and adds 1e9-offset urls ('new'). The driver-side collect feeds
      // the MemoryStream - a test-harness device by construction (the
      // production path is readStream over a crawl feed); state and sink
      // stay bounded by the SF.
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val rows = docs(s, dir).select(col("doc_id"), col("text"))
        .as[(Long, String)].collect()
      val old = rows.map { case (id, t) => ("u/" + id, t) }.toSeq
      val nw = rows.filter(_._1 % 10 != 0).map { case (id, t) =>
          ("u/" + id, if (id % 3 == 0) t + " updated" else t) }.toSeq ++
        rows.filter(_._1 % 8 == 0).map { case (id, t) =>
          ("u/" + (id + 1000000000L), t) }.toSeq
      val input = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(String, String)]
      val qname = "q89_delta_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      val stream = graft.streaming.ExtractStream.crawlDeltaStream(
        input.toDF().toDF("url", "text"))
        .writeStream.format("memory").queryName(qname)
        .outputMode("append").start()
      try {
        input.addData(old: _*); stream.processAllAvailable()
        input.addData(nw: _*); stream.processAllAvailable()
      } finally stream.stop()
      // detach the result from the memory sink and DROP its temp view —
      // repeated invocations in one JVM (bench warmup + passes) would
      // otherwise accumulate one corpus-scale event table per run
      val events = s.table(qname)
        .select("url", "status", "fp").as[(String, String, String)].collect()
      s.catalog.dropTempView(qname)
      events.toSeq.toDF("url", "status", "fp")
    }),

    "q90_social_meta" -> ((s, dir) => {
      // publisher-declared social cards (OpenGraph/Twitter): doc_id%3==0
      // declares a full og set with an entity-encoded title plus a SECOND
      // og:title that must lose (first declaration wins, document order);
      // %3==1 declares twitter:card + og:image only (sparse card);
      // %3==2 declares none and must emit NOTHING. Property matching is
      // case-insensitive ('OG:Title' in the second declaration).
      val og = concat(
        lit("<meta property=\"og:title\" content=\"T &amp; "), col("doc_id"),
        lit("\"><meta property=\"OG:Title\" content=\"loser\">"),
        lit("<meta property=\"og:description\" content=\"D "), col("doc_id"),
        lit("\"><meta property=\"og:image\" content=\"https://i.ex/"),
        col("doc_id"), lit(".jpg\"><meta property=\"og:type\" content=\"article\">"))
      val tw = concat(
        lit("<meta name=\"twitter:card\" content=\"summary\">"),
        lit("<meta property=\"og:image\" content=\"https://i.ex/t"),
        col("doc_id"), lit(".png\">"))
      val head = when(col("doc_id") % 3 === 0, og)
        .when(col("doc_id") % 3 === 1, tw).otherwise(lit(""))
      val page = concat(lit("<html><head>"), head,
        lit("</head><body><p>x</p></body></html>"))
      graft.ops.PageMeta.socialMeta(
        docs(s, dir).select(col("doc_id"), encode(page, "UTF-8").as("html")))
    }),

    "q91_captions" -> ((s, dir) => {
      // image-caption pairs from semantic figure markup — the curated
      // caption signal multimodal pipelines prefer over alt text:
      // doc_id%4==0 full figure (img + entity-encoded figcaption);
      // %4==1 figure with img but NO caption (caption "");
      // %4==2 figure with no img (emits nothing) + a second complete one;
      // %4==3 TWO figures (both emit, in document order)
      val fullFig = concat(lit("<figure><img src=\"/f/"), col("doc_id"),
        lit(".png\" alt=\"a"), col("doc_id"),
        lit("\"><figcaption>Cap &amp; "), col("doc_id"),
        lit("</figcaption></figure>"))
      val bareFig = concat(lit("<figure><img src=\"/bare/"), col("doc_id"),
        lit(".png\"></figure>"))
      val imgless = lit("<figure><pre>code</pre></figure>")
      val body = when(col("doc_id") % 4 === 0, fullFig)
        .when(col("doc_id") % 4 === 1, bareFig)
        .when(col("doc_id") % 4 === 2, concat(imgless, fullFig))
        .otherwise(concat(fullFig, bareFig))
      val page = concat(lit("<body>"), body, lit("</body>"))
      graft.ops.PageMeta.captions(
        docs(s, dir).select(col("doc_id"), encode(page, "UTF-8").as("html")))
        .select(col("doc_id"), col("fig_idx").cast("long").as("fig_idx"),
          col("img_src"), col("img_alt"), col("caption"))
    }),

    "q92_stream_sessions" -> ((s, dir) => {
      // the SECOND stateful streaming path under the cross-engine gate
      // (q89 gates crawl delta): event-time host sessionization through a
      // real flatMapGroupsWithState + watermark run. Construction: host =
      // doc_id%20, rank k = doc_id/20, event minute = 2k (+20 once k>=3)
      // — so each host's batch-1 events split into an INTRA-BATCH session
      // (ranks 0..2, emitted by the in-batch gap logic the moment the
      // batch processes) and an open tail session that only the
      // EVENT-TIME TIMEOUT can flush; a far-future sentinel event then
      // advances the watermark past every timeout. Both emission paths —
      // in-batch split AND state timeout — land in the output, and the
      // oracle rebuilds every session (docs, bytes, start/end epochs)
      // from doc_id arithmetic. The sentinel's own session stays open and
      // must NOT emit. Driver-side MemoryStream = test-harness device, as
      // in q89; the production path is readStream.
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val t0 = 1704067200L // 2024-01-01 00:00:00 UTC
      val ids = docs(s, dir).select(col("doc_id")).as[Long].collect().sorted
      def pageOf(id: Long): graft.pipeline.Page = {
        val minute = 2 * (id / 20) + (if (id / 20 >= 3) 20L else 0L)
        graft.pipeline.Page(s"https://h${id % 20}.example/p$id",
          new java.sql.Timestamp((t0 + minute * 60) * 1000L),
          s"<p>x$id</p>".getBytes(java.nio.charset.StandardCharsets.UTF_8),
          null, "en")
      }
      // sentinel DERIVED from the corpus: it must advance the watermark
      // past every session's timeout (last event minute + gap 10 + the
      // 10-minute watermark delay) at ANY scale factor — a constant here
      // would silently stop flushing session-2 state on a larger corpus
      val maxMinute = 2 * (ids.max / 20) + 20
      val sentinel = graft.pipeline.Page("https://sentinel.example/z",
        new java.sql.Timestamp((t0 + (maxMinute + 40) * 60) * 1000L),
        "<p>s</p>".getBytes(java.nio.charset.StandardCharsets.UTF_8),
        null, "en")
      val input = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[graft.pipeline.Page]
      val qname = "q92_sessions_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      val stream = graft.streaming.ExtractStream.hostSessions(
        graft.pipeline.ExtractJob.run(input.toDF()), gapMs = 600000L)
        .toDF()
        .writeStream.format("memory").queryName(qname)
        .outputMode("append").start()
      try {
        input.addData(ids.map(pageOf).toSeq: _*); stream.processAllAvailable()
        input.addData(sentinel); stream.processAllAvailable()
      } finally stream.stop()
      val out = s.table(qname)
        .select(col("host"), col("docs"), col("errors"), col("bytes"),
          unix_timestamp(col("start_ts")).as("start_epoch"),
          unix_timestamp(col("end_ts")).as("end_epoch"))
        .as[(String, Long, Long, Long, Long, Long)].collect()
      s.catalog.dropTempView(qname)
      out.toSeq.toDF("host", "docs", "errors", "bytes",
        "start_epoch", "end_epoch")
    }),

    "q93_media_sources" -> ((s, dir) => {
      // multimodal URL table: doc_id%4==0 a video with its own src plus a
      // webm source; %4==1 an audio with TWO sources (no self src);
      // %4==2 a picture with srcset-carrying sources (media query + MIME
      // type ride along; the img fallback belongs to q87, NOT here);
      // %4==3 no media at all. Document-ordered indexes; the oracle
      // rebuilds every row from doc_id arithmetic.
      val video = concat(lit("<video src=\"/v/"), col("doc_id"),
        lit(".mp4\"><source src=\"/v/"), col("doc_id"),
        lit(".webm\" type=\"video/webm\"></video>"))
      val audio = concat(lit("<audio><source src=\"/a/"), col("doc_id"),
        lit(".ogg\" type=\"audio/ogg\"><source src=\"/a/"), col("doc_id"),
        lit(".mp3\" type=\"audio/mpeg\"></audio>"))
      val picture = concat(lit("<picture><source srcset=\"/p/"), col("doc_id"),
        lit("-w.avif 800w\" media=\"(min-width: 600px)\" type=\"image/avif\">"),
        lit("<source srcset=\"/p/"), col("doc_id"),
        lit(".webp\" type=\"image/webp\"><img src=\"/p/"), col("doc_id"),
        lit(".jpg\"></picture>"))
      val body = when(col("doc_id") % 4 === 0, video)
        .when(col("doc_id") % 4 === 1, audio)
        .when(col("doc_id") % 4 === 2, picture)
        .otherwise(lit("<p>no media</p>"))
      val page = concat(lit("<body>"), body, lit("</body>"))
      graft.ops.PageMeta.mediaSources(
        docs(s, dir).select(col("doc_id"), encode(page, "UTF-8").as("html")))
        .select(col("doc_id"), col("media_idx").cast("long").as("media_idx"),
          col("item_idx").cast("long").as("item_idx"), col("tag"),
          col("kind"), col("url"), col("media"), col("mime"))
    }),

    "q94_bpe_train" -> ((s, dir) =>
      // the FULL iterated BPE training loop (q75 is one round's counting):
      // corpus touched once for the vocabulary, then 8 argmax+rewrite
      // rounds over the distinct-word table only — the distributed-BPE
      // shape production trainers run. Oracle: an independent Python
      // trainer's merge sequence, keyed by a vocabulary digest the SQL
      // side recomputes from its own regexp-token view (any drift in
      // tokenization, tie-break, or rewrite order misses the key or the
      // hash).
      graft.ops.TextAnalysis.bpeTrain(docs(s, dir), nMerges = 8, minCount = 5)
        .select(col("merge_idx").cast("long").as("merge_idx"),
          col("lhs"), col("rhs"), col("pair_count"))),

    "q95_image_pipeline" -> ((s, dir) => {
      // the interleaved image-text pipeline END TO END: kernel img
      // extraction (q87's op) → RFC 3986 src resolution → fetch-join on
      // the resolved url (the synthetic fetch keys payloads by exactly
      // that url — a wrong resolver or srcset parser breaks the join) →
      // REAL byte-histogram features over the payload (q37's op) →
      // dominant-bin signal per image via the min-STRUCT argmax (no
      // window over the url key). ASCII-pure docs only, q37's contract,
      // so the oracle reconstructs exact counts.
      // ONE ascii filter feeds both branches: the inner join on img_url
      // would drop non-ASCII docs anyway — parsing + resolving their
      // pages first would be pure wasted kernel work
      val d = docs(s, dir)
        .filter(length(col("text")) === length(encode(col("text"), "UTF-8")) &&
          length(col("text")) > 0)
      val page = concat(lit("<div><img src=\"/i/"), col("doc_id"),
        lit(".png\" alt=\"alt "), col("doc_id"), lit("\"></div>"))
      val imgs = graft.ops.PageMeta.images(
        d.select(col("doc_id"), encode(page, "UTF-8").as("html")))
      // page_url recomputed from doc_id arithmetic on the img rows (q87's
      // optimization) — the extraction→resolution leg is map-only and the
      // only joins left are the genuine fetch join + doc join
      val resolved = imgs
        .select(col("doc_id"), col("alt"),
          graft.ops.UrlOps.resolveUrl(
            concat(lit("https://h"), (col("doc_id") % 20).cast("string"),
              lit(".example/dir/page.html")), col("src")).as("img_url"))
      val fetched = d
        .select(
          concat(lit("https://h"), (col("doc_id") % 20).cast("string"),
            lit(".example/i/"), col("doc_id"), lit(".png")).as("img_url"),
          encode(col("text"), "UTF-8").as("payload"),
          length(col("text")).cast("long").as("n_bytes"))
      val feats = graft.ops.Multimodal.byteHistogramFeatures(fetched, bins = 64)
        .select(col("img_url"), col("n_bytes"),
          posexplode(col("features")).as(Seq("bin", "frac")))
        .filter(col("frac") > 0f)
        .select(col("img_url"), col("n_bytes"), col("bin"),
          round(col("frac") * col("n_bytes")).cast("long").as("cnt"))
        .groupBy("img_url", "n_bytes")
        .agg(min(struct((-col("cnt")).as("neg"), col("bin"))).as("top"))
      resolved.join(feats, "img_url")
        .select(col("doc_id"), col("img_url"), col("alt"), col("n_bytes"),
          col("top.bin").as("top_bin"),
          (-col("top.neg")).cast("long").as("top_cnt"))
    }),

    "q96_chunking" -> ((s, dir) =>
      // long-document splitting for pretraining/retrieval: sliding token
      // windows (32-token chunks, stride 24 — overlap preserves context
      // across cuts), pure Column end to end; the oracle rebuilds every
      // chunk with list_slice over the same token convention
      graft.ops.TextAnalysis.chunkDocs(docs(s, dir),
        chunkTokens = 32, stride = 24)),

    "q97_sequence_packing" -> ((s, dir) =>
      // the GPT-style packed-dataset index: docs concatenate in doc_id
      // order into a global token stream cut every 256 tokens; docs CROSS
      // boundaries, one row per (doc × bin touched) with offset + count.
      // The global exclusive prefix sum runs the scale-correct two-level
      // way (grouped window + driver prefix over the tiny group table);
      // the oracle computes the same cumsum with one SQL window — two
      // different prefix-sum strategies must agree on every boundary.
      graft.pipeline.TableIO.packSequences(docs(s, dir), binTokens = 256)),

    "q98_ngram_decontaminate" -> ((s, dir) =>
      // GPT-3-style EXACT decontamination (13-gram verbatim overlap) —
      // the complement to q51's winnowing fuzzy check: benchmark = every
      // 9th doc's full text, so contaminated docs are exactly those
      // sharing a verbatim 13-token sequence with one (themselves
      // included — real eval leakage looks like this). Grams join on
      // md5 (16-byte shuffle keys both engines compute identically).
      graft.ops.TextAnalysis.ngramContamination(
        docs(s, dir),
        docs(s, dir).filter(col("doc_id") % 9 === 0), n = 13)),

    "q99_parallel_pairs" -> ((s, dir) => {
      // parallel-corpus mining END TO END: the q77 reciprocal-hreflang
      // verification feeds the LENGTH-RATIO gate (translation pairs whose
      // char lengths differ by more than 2x are mostly misalignments —
      // the first filter every parallel-text miner runs): en text = the
      // doc text; fr "translation" = the text + a small suffix (passes)
      // EXCEPT every 5th doc, whose fr side is truncated to ~1/3 (ratio
      // fails). Every 7th doc's pair already failed verification (no
      // back-link) and must not appear at all. Output: verified pairs
      // with both lengths, the exact ratio, and the keep decision.
      val d = docs(s, dir)
      val enPage = concat(
        lit("<head><link rel=\"alternate\" hreflang=\"fr\" href=\"https://p.ex/fr/"),
        col("doc_id"), lit("\"></head>"))
      val frPage = concat(lit("<head>"),
        when(col("doc_id") % 7 =!= 0,
          concat(lit("<link rel=\"alternate\" hreflang=\"en\" href=\"https://p.ex/en/"),
            col("doc_id"), lit("\">"))).otherwise(lit("")),
        lit("</head>"))
      val pages = d.select((col("doc_id") * 2).as("pid"),
          encode(enPage, "UTF-8").as("html"))
        .unionAll(d.select((col("doc_id") * 2 + 1).as("pid"),
          encode(frPage, "UTF-8").as("html")))
      val alts = graft.ops.PageMeta.alternates(
        pages.select(col("pid").as("doc_id"), col("html")))
      // page url recomputed from pid arithmetic — no pages join-back (q77's
      // optimization, same construction)
      val withUrl = alts
        .select(concat(lit("https://p.ex/"),
            when(col("doc_id") % 2 === 0, lit("en")).otherwise(lit("fr")),
            lit("/"), expr("doc_id div 2")).as("url"),
          col("hreflang"), col("href"))
      val pairs = graft.ops.PageMeta.reciprocalAlternates(withUrl)
      val enText = d.select(concat(lit("https://p.ex/en/"), col("doc_id")).as("url1"),
        col("text").as("en_text"))
      val frText = d.select(concat(lit("https://p.ex/fr/"), col("doc_id")).as("url2"),
        when(col("doc_id") % 5 === 0,
          substring(col("text"), 1, 40)) // truncated "translation": ratio fails
          .otherwise(concat(col("text"), lit(" fr"))).as("fr_text"))
      pairs.join(enText, "url1").join(frText, "url2")
        .select(col("url1"), col("url2"),
          length(col("en_text")).cast("long").as("len1"),
          length(col("fr_text")).cast("long").as("len2"))
        .withColumn("len_ratio",
          col("len1").cast("double") / col("len2").cast("double"))
        .withColumn("keep", col("len_ratio") >= 0.5 && col("len_ratio") <= 2.0)
    }),

    "q85_quality_composite" -> ((s, dir) => {
      // the FULL multi-signal quality filter in one pass (the Gopher-style
      // stack real pipelines run): length/punctuation stats + repetition
      // gates + compression ratio + language-ID agreement → one keep
      // decision per doc, sub-signals exposed for the audit table. Four
      // ops composed; every signal is independently oracle-gated
      // elsewhere (q30/q56/q70/q27) and the CONJUNCTION is gated here.
      val d = docs(s, dir)
      // quality score, compression ratio, and language ID are all PER-ROW
      // functions of the same docs scan — compose them into ONE projection
      // instead of three doc_id equi-joins (3 corpus shuffles removed;
      // guide §2.4). Only the repetition signals genuinely aggregate, so
      // only that one join remains.
      val perRow = graft.ops.TextAnalysis.langId(
        graft.ops.TextAnalysis.compressionRatio(
          graft.ops.TextAnalysis.qualityScore(d)))
        .select(col("doc_id"), col("q_chars"), col("q_tokens"),
          col("q_punct_ratio"), col("compression_ratio"), col("lang"),
          col("lang_guess"))
      val rep = graft.ops.TextAnalysis.repetitionSignals(d)
        .select(col("doc_id"), col("rep_pass"))
      perRow.join(rep, "doc_id")
        .withColumn("keep",
          col("q_chars") >= 60 && col("q_tokens") >= 12 &&
            col("q_punct_ratio") <= 0.3 && col("rep_pass") &&
            col("compression_ratio") >= 0.3 &&
            col("lang_guess") === col("lang"))
        .select("doc_id", "rep_pass", "compression_ratio", "keep")
    }),

    "q84_host_graph" -> ((s, dir) => {
      // domain-granularity link graph: per source host, out-edges,
      // EXTERNAL edges (cross-host — the ratio that separates content
      // sites from link farms), distinct destination hosts. The second
      // anchor's host collides with the source host exactly when
      // doc_id%5==0, so the internal/external comparison is exercised
      // both ways; every 3rd doc adds a cdn edge.
      val d = docs(s, dir)
      val page = concat(
        lit("<div><a href=\"https://h"), (col("doc_id") % 10).cast("string"),
        lit(".example/in/"), col("doc_id"), lit("\">i</a>"),
        lit("<a href=\"https://h"), ((col("doc_id") * 3) % 10).cast("string"),
        lit(".example/x/"), col("doc_id") % 7, lit("\">x</a>"),
        when(col("doc_id") % 3 === 0,
          concat(lit("<a href=\"https://cdn.example/c/"), col("doc_id") % 5,
            lit("\">c</a>"))).otherwise(lit("")),
        lit("</div>"))
      val edges = graft.ops.PageMeta.outlinks(
        d.select(col("doc_id"), encode(page, "UTF-8").as("html"))).toDF()
      // src_url is PURE doc_id arithmetic — recompute it on the edge rows
      // instead of joining the documents table back; the rollup is then
      // scan → kernel edges → one hash agg, zero joins
      graft.ops.PageMeta.hostGraph(
        edges.withColumn("src_url",
          concat(lit("https://h"), (col("doc_id") % 10).cast("string"),
            lit(".example/page"), col("doc_id"))))
    }),

    "q83_train_shards" -> ((s, dir) =>
      // the pipeline's LAST operator before tokenization: deterministic
      // well-shuffled shard layout (sort key = md5(doc_id:salt) — no RNG
      // state, so any re-run/retry/cluster size reproduces identical
      // shards); one shuffle on the shard id, per-shard window for
      // position. Oracle replays the identical md5 ordering.
      graft.pipeline.TableIO.trainShards(
        docs(s, dir).select("doc_id"), nShards = 8)
        .select(col("doc_id"), col("shard"),
          col("pos_in_shard").cast("long").as("pos_in_shard")))
  )

  def oracleSql: Map[String, String] = {
    // shared construction fragments (DuckDB dialect)
    val trimmed = "trim(regexp_replace(text, '\\s{2,}', ' ', 'g'))"
    val nLi = "CASE WHEN doc_id % 7 = 0 THEN 0 ELSE cast(doc_id % 5 + 1 AS int) END"
    val bodyHtml =
      "concat('<div id=\"main\" class=\"content\"><p>', text, '</p><ul>', " +
        "repeat(concat('<li class=\"item\">', lang, '</li>'), cast(doc_id % 5 + 1 AS int)), " +
        "'</ul><a href=\"https://example.com/', doc_id, '\" lang=\"', lang, '\">link</a></div>')"
    val fullHtml = s"CASE WHEN doc_id % 7 = 0 THEN concat('<div><h3>', text) ELSE $bodyHtml END"
    // repaired serialization of the malformed variant: the parser appends
    // trailing text to the ROOT (src/index.ts:997), so the unclosed
    // <div><h3> repairs to an empty div followed by the text
    val repaired = "concat('<div></div>', text)"
    Map(
      "q01_extract_text" ->
        (s"SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN $trimmed " +
          s"ELSE concat($trimmed, chr(10), repeat(concat(lang, chr(10)), cast(doc_id % 5 + 1 AS int)), 'link') END AS text_out " +
          "FROM documents"),
      "q02_parse_valid" ->
        ("SELECT lang, count(*) AS docs, " +
          "cast(sum(CASE WHEN doc_id % 7 <> 0 THEN 1 ELSE 0 END) AS bigint) AS parse_ok_docs, " +
          "cast(sum(CASE WHEN doc_id % 7 <> 0 THEN 1 ELSE 0 END) AS bigint) AS links " +
          "FROM documents GROUP BY lang"),
      "q03_css_count" ->
        s"SELECT doc_id, $nLi AS n_li FROM documents",
      "q04_css_attr_ops" ->
        ("SELECT doc_id, " +
          "CASE WHEN doc_id % 7 = 0 THEN 0 ELSE 1 END AS n_https, " +
          "CASE WHEN doc_id % 7 = 0 OR lang <> 'en' THEN 0 ELSE 1 END AS n_lang_en, " +
          s"$nLi AS n_item, " +
          "CASE WHEN doc_id % 7 = 0 OR lang <> 'zh' THEN 0 ELSE 1 END AS n_lang_dash " +
          "FROM documents"),
      "q05_entity_decode" ->
        "SELECT doc_id, concat(replace(text, ' ', chr(160)), '&') AS decoded FROM documents",
      "q06_serialize" ->
        (s"SELECT doc_id, md5(CASE WHEN doc_id % 7 = 0 THEN $repaired ELSE $bodyHtml END) AS outer_md5, " +
          s"length(CASE WHEN doc_id % 7 = 0 THEN $repaired ELSE $bodyHtml END) AS outer_len FROM documents"),
      "q07_select_first" ->
        "SELECT doc_id, concat('B-', doc_id) AS hit FROM documents",
      "q08_mutate" ->
        ("SELECT doc_id, concat('<div data-n=\"', doc_id, '\"><p>', trim(text), '</p></div>') AS mutated " +
          "FROM documents"),
      "q09_node_explode" ->
        ("SELECT doc_id, " +
          s"cast($nLi AS bigint) AS n_li_rel, " +
          "cast(CASE WHEN doc_id % 7 = 0 OR lang <> 'en' THEN 0 ELSE 1 END AS bigint) AS n_lang_en_rel, " +
          // elements: div + p + n li + ul + a for valid docs; div only for malformed
          s"cast(CASE WHEN doc_id % 7 = 0 THEN 1 ELSE cast(doc_id % 5 + 1 AS int) + 4 END AS bigint) AS n_elements " +
          "FROM documents"),
      "q10_tokens_quality" ->
        ("SELECT doc_id, len(string_split(text, ' ')) AS n_tokens, " +
          "len(list_filter(string_split(text, ' '), t -> t IN ('the','of','and','a','to','in','is','it'))) AS n_stop, " +
          "len(list_filter(string_split(text, ' '), t -> length(t) > 6)) AS n_long " +
          "FROM documents"),
      "q11_dedup_exact" ->
        ("SELECT count(*) AS n_docs, count(DISTINCT text) AS n_distinct_text, " +
          "count(DISTINCT md5(text)) AS n_distinct_fp FROM documents"),
      "q12_fingerprint" ->
        "SELECT doc_id, md5(text) AS fp, length(text) AS len FROM documents",
      "q13_ngram_jaccard" ->
        ("WITH w AS (SELECT DISTINCT doc_id, tok FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)) " +
          "SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS inter " +
          "FROM w a JOIN w b ON b.doc_id = a.doc_id + 1 AND a.tok = b.tok GROUP BY 1, 2"),
      // q16/q33 expected values precomputed by an INDEPENDENT Python
      // implementation of the same public constructions
      // (tools/gen_expected_fixtures.py), keyed by md5(text) so one fixture
      // serves every scale factor — flips both from rows-only to full
      // rows+schema+hash oracle checks
      "q15_minhash_bands" ->
        ("SELECT d.doc_id, f.band, f.bucket FROM documents d " +
          "JOIN '/root/repo/tools/fixtures/minhash_bands_expected.parquet' f " +
          "ON md5(d.text) = f.text_md5"),
      "q27_langid" ->
        ("SELECT d.lang, f.lang_guess, count(*) AS docs FROM documents d " +
          "JOIN '/root/repo/tools/fixtures/langid_expected.parquet' f " +
          "ON md5(d.text) = f.text_md5 GROUP BY 1, 2"),
      // q18's expected top-k comes from a bit-exact Python port of the LSH
      // pipeline (hyperplane signatures, multi-probe, float32-product /
      // double-fold cosine, HALF_UP rounding) — fixture keyed by a corpus
      // digest the oracle recomputes from its own embeddings view
      "q18_embed_lsh" ->
        ("WITH k AS (SELECT md5(string_agg(cast(embedding AS varchar), '|' ORDER BY vec_id)) " +
          "AS corpus_md5 FROM embeddings) " +
          "SELECT f.query_id, f.rank, f.neighbor_id " +
          "FROM '/root/repo/tools/fixtures/lsh_topk_expected.parquet' f " +
          "JOIN k USING (corpus_md5)"),
      "q16_simhash" ->
        ("SELECT d.doc_id, f.simhash FROM documents d " +
          "JOIN '/root/repo/tools/fixtures/simhash_expected.parquet' f " +
          "ON md5(d.text) = f.text_md5"),
      "q33_winnow_fp" ->
        ("SELECT d.doc_id, f.fingerprint FROM documents d " +
          "JOIN '/root/repo/tools/fixtures/winnow_expected.parquet' f " +
          "ON md5(d.text) = f.text_md5"),
      "q14_lang_markers" ->
        ("SELECT lang, count(*) AS docs, " +
          "cast(sum(CASE WHEN concat(' ', text, ' ') LIKE '% the %' THEN 1 ELSE 0 END) AS bigint) AS docs_with_the, " +
          "cast(sum(CASE WHEN text LIKE 'the %' THEN 1 ELSE 0 END) AS bigint) AS docs_start_the " +
          "FROM documents GROUP BY lang"),
      "q17_embed_topk" ->
        ("WITH s AS (SELECT q.vec_id AS qid, e.vec_id AS nid, " +
          "round(list_cosine_similarity(q.embedding, e.embedding), 4) AS c " +
          "FROM embeddings q, embeddings e WHERE q.vec_id < 8 AND e.vec_id <> q.vec_id), " +
          "r AS (SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY c DESC, nid) AS rnk FROM s) " +
          "SELECT qid AS query_id, cast(rnk AS int) AS rank, nid AS neighbor_id FROM r WHERE rnk <= 3"),
      "q19_binary_meta" ->
        ("SELECT doc_id, octet_length(cast(text AS blob)) AS byte_len, md5(text) AS fp, " +
          "cast(octet_length(cast(text AS blob)) % 640 + 1 AS int) AS fake_width, " +
          "cast(octet_length(cast(text AS blob)) % 360 + 1 AS int) AS fake_height, " +
          "cast(octet_length(cast(text AS blob)) % 30 + 1 AS int) AS fake_frames FROM documents"),
      "q20_resume_antijoin" ->
        "SELECT doc_id, lang FROM documents WHERE doc_id % 10 >= 3",
      "q21_metrics_agg" ->
        ("SELECT lang, count(*) AS docs, cast(sum(n_chars) AS bigint) AS sum_chars, min(n_chars) AS min_chars, " +
          "max(n_chars) AS max_chars, count(DISTINCT source) AS n_sources FROM documents GROUP BY lang"),
      "q22_events_hourly" ->
        ("SELECT event_type, cast(floor(epoch(ts) / 86400) AS bigint) AS day, " +
          "cast(hour(ts) AS int) AS hr, count(*) AS cnt, " +
          "cast(sum(round(value * 100)) AS bigint) AS sum_cents " +
          "FROM events GROUP BY 1, 2, 3"),
      "q23_sessions" ->
        ("WITH x AS (SELECT user_id, ts, lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts FROM events) " +
          "SELECT user_id, cast(sum(CASE WHEN prev_ts IS NULL OR cast(floor(epoch(ts)) AS bigint) - cast(floor(epoch(prev_ts)) AS bigint) > 1800 THEN 1 ELSE 0 END) AS bigint) AS n_sessions, " +
          "count(*) AS n_events FROM x GROUP BY user_id"),
      "q24_topk_users" ->
        ("WITH c AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id), " +
          "r AS (SELECT user_id, cnt, row_number() OVER (ORDER BY cnt DESC, user_id) AS rnk FROM c) " +
          "SELECT cast(rnk AS int) AS rank, user_id, cnt FROM r WHERE rnk <= 5"),
      "q25_star_join" ->
        ("SELECT label, count(*) AS docs, cast(sum(n_chars) AS bigint) AS sum_chars " +
          "FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id GROUP BY label"),
      "q28_embed_neardup" -> {
        // sign-block LSH key mirrored bit-for-bit (embedding[d] >= 0 → bit d)
        val block = (0 until 8)
          .map(d => s"(embedding[${d + 1}] >= 0)::int * ${1 << d}")
          .mkString(" + ")
        (s"WITH e AS (SELECT vec_id, embedding, $block AS block FROM embeddings), " +
          "c AS (SELECT block, count(*) AS cnt FROM e GROUP BY 1), " +
          "k AS (SELECT e.* FROM e JOIN c USING (block) WHERE cnt <= 100000) " +
          "SELECT a.vec_id AS id1, b.vec_id AS id2, " +
          "round(cast(list_cosine_similarity(a.embedding, b.embedding) AS double), 4) AS c " +
          "FROM k a JOIN k b USING (block) WHERE a.vec_id < b.vec_id " +
          "AND round(cast(list_cosine_similarity(a.embedding, b.embedding) AS double), 4) >= 0.2")
      },
      "q29_frame_sample" ->
        ("WITH f AS (SELECT doc_id, greatest(1, (octet_length(cast(text AS blob)) * 40) // 1024) AS nf FROM documents) " +
          "SELECT doc_id, cast(unnest(range(0, nf, 3)) AS int) AS frame_idx FROM f"),
      "q30_quality" ->
        ("SELECT doc_id, length(text) AS q_chars, " +
          "len(string_split_regex(text, '\\s+')) AS q_tokens, " +
          "CASE WHEN length(text) > 0 THEN " +
          "(length(text) - length(regexp_replace(text, '[!-/:-@\\[-`{-~]', '', 'g')))::double / length(text) " +
          "ELSE 0.0 END AS q_punct_ratio, " +
          "CASE WHEN len(string_split_regex(text, '\\s+')) > 0 THEN " +
          "len(list_distinct(string_split_regex(text, '\\s+')))::double / len(string_split_regex(text, '\\s+')) " +
          "ELSE 0.0 END AS q_uniq_ratio " +
          "FROM documents"),
      "q31_bpe_tokens" ->
        ("SELECT doc_id, len(string_split_regex(text, '\\s+')) AS n_ws_tokens, " +
          "len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]+|\\s+')) AS n_bpeish_tokens " +
          "FROM documents"),
      "q32_unescape_native" ->
        ("SELECT doc_id, concat('<', replace(text, ' ', chr(160)), '&!&unknown;') AS decoded " +
          "FROM documents"),
      "q35_minhash_candidates" ->
        ("WITH b AS (SELECT d.doc_id, f.band, f.bucket FROM documents d " +
          "JOIN '/root/repo/tools/fixtures/minhash_bands_expected.parquet' f " +
          "ON md5(d.text) = f.text_md5), " +
          "keep AS (SELECT band, bucket FROM b GROUP BY 1, 2 HAVING count(*) <= 200) " +
          "SELECT DISTINCT a.doc_id AS id1, c.doc_id AS id2 " +
          "FROM b a JOIN keep USING (band, bucket) JOIN b c USING (band, bucket) " +
          "WHERE a.doc_id < c.doc_id"),
      "q38_neardup_clusters" ->
        ("WITH RECURSIVE b AS (SELECT d.doc_id, f.band, f.bucket FROM documents d " +
          "JOIN '/root/repo/tools/fixtures/minhash_bands_expected.parquet' f " +
          "ON md5(d.text) = f.text_md5), " +
          "keep AS (SELECT band, bucket FROM b GROUP BY 1, 2 HAVING count(*) <= 200), " +
          "cand AS (SELECT DISTINCT a.doc_id AS id1, c.doc_id AS id2 " +
          "FROM b a JOIN keep USING (band, bucket) JOIN b c USING (band, bucket) " +
          "WHERE a.doc_id < c.doc_id), " +
          "e AS (SELECT id1 AS src, id2 AS dst FROM cand " +
          "UNION ALL SELECT id2, id1 FROM cand), " +
          "r(id, label) AS (SELECT doc_id, doc_id FROM documents " +
          "UNION SELECT e.dst, r.label FROM r JOIN e ON r.id = e.src) " +
          "SELECT id AS doc_id, min(label) AS cluster_id FROM r GROUP BY id"),
      "q39_dedup_materialize" ->
        ("WITH RECURSIVE b AS (SELECT d.doc_id, f.band, f.bucket FROM documents d " +
          "JOIN '/root/repo/tools/fixtures/minhash_bands_expected.parquet' f " +
          "ON md5(d.text) = f.text_md5), " +
          "keep AS (SELECT band, bucket FROM b GROUP BY 1, 2 HAVING count(*) <= 200), " +
          "cand AS (SELECT DISTINCT a.doc_id AS id1, c.doc_id AS id2 " +
          "FROM b a JOIN keep USING (band, bucket) JOIN b c USING (band, bucket) " +
          "WHERE a.doc_id < c.doc_id), " +
          "e AS (SELECT id1 AS src, id2 AS dst FROM cand " +
          "UNION ALL SELECT id2, id1 FROM cand), " +
          "r(id, label) AS (SELECT doc_id, doc_id FROM documents " +
          "UNION SELECT e.dst, r.label FROM r JOIN e ON r.id = e.src), " +
          "comp AS (SELECT id AS doc_id, min(label) AS cluster_id FROM r GROUP BY id), " +
          "sz AS (SELECT cluster_id, count(*) AS cluster_size FROM comp GROUP BY 1) " +
          "SELECT d.doc_id, d.lang, sz.cluster_size FROM documents d " +
          "JOIN comp c ON d.doc_id = c.doc_id AND c.doc_id = c.cluster_id " +
          "JOIN sz ON c.cluster_id = sz.cluster_id"),
      // q40 is q01's oracle verbatim: the WARC write→read→extract roundtrip
      // must reproduce byte-identical extracted text per url
      "q40_warc_roundtrip" ->
        (s"SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN $trimmed " +
          s"ELSE concat($trimmed, chr(10), repeat(concat(lang, chr(10)), cast(doc_id % 5 + 1 AS int)), 'link') END AS text_out " +
          "FROM documents"),
      "q41_host_sessions" ->
        ("WITH p AS (SELECT doc_id, " +
          "concat('host-', CASE WHEN doc_id % 2 = 0 THEN '0' ELSE cast(doc_id % 50 AS varchar) END, '.example') AS host, " +
          "1704067200 + (doc_id * 3607) % 864000 AS epoch, " +
          "CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END AS err, " +
          s"octet_length(cast($fullHtml AS blob)) AS nb FROM documents), " +
          "x AS (SELECT *, lag(epoch) OVER (PARTITION BY host ORDER BY epoch) AS prev FROM p), " +
          "y AS (SELECT *, CASE WHEN prev IS NULL OR epoch - prev > 3600 THEN 1 ELSE 0 END AS ns FROM x), " +
          "z AS (SELECT *, cast(sum(ns) OVER (PARTITION BY host ORDER BY epoch " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bigint) AS session_seq FROM y) " +
          "SELECT host, session_seq, count(*) AS docs, cast(sum(err) AS bigint) AS errors, " +
          "cast(sum(nb) AS bigint) AS bytes, cast(min(epoch) AS bigint) AS start_epoch, " +
          "cast(max(epoch) AS bigint) AS end_epoch FROM z GROUP BY 1, 2"),
      "q37_byte_histogram" ->
        ("WITH d AS (SELECT doc_id, text FROM documents " +
          "WHERE octet_length(cast(text AS blob)) = length(text) AND length(text) > 0), " +
          "b AS (SELECT doc_id, ascii(substr(text, cast(i AS int), 1)) // 4 AS bin " +
          "FROM d, unnest(range(1, length(text) + 1)) AS t(i)) " +
          "SELECT doc_id, cast(bin AS int) AS bin, count(*) AS cnt " +
          "FROM b GROUP BY 1, 2"),
      "q36_simhash_neardup" ->
        ("WITH s AS (SELECT d.doc_id, f.simhash FROM documents d " +
          "JOIN '/root/repo/tools/fixtures/simhash_expected.parquet' f " +
          "ON md5(d.text) = f.text_md5) " +
          "SELECT a.doc_id AS id1, b.doc_id AS id2, " +
          "cast(bit_count(xor(a.simhash, b.simhash)) AS int) AS hamming " +
          "FROM s a JOIN s b ON a.doc_id < b.doc_id " +
          "WHERE bit_count(xor(a.simhash, b.simhash)) <= 3"),
      "q42_main_content" ->
        (s"SELECT doc_id, $trimmed AS main_text, cast(7 AS bigint) AS n_stripped " +
          "FROM documents"),
      "q54_sitemap" ->
        ("SELECT doc_id, concat('https://s.example/', doc_id * 3 + i) AS loc " +
          "FROM documents, unnest(range(0, 3)) AS t(i)"),
      "q55_charset_extract" ->
        ("SELECT doc_id, trim(regexp_replace(replace(text, 'a', 'é'), " +
          "'\\s{2,}', ' ', 'g')) AS text_out FROM documents"),
      "q53_robots_filter" ->
        ("SELECT doc_id, CASE cast(doc_id % 4 AS int) " +
          "WHEN 0 THEN false " +
          "WHEN 1 THEN (doc_id % 20) % 2 = 0 " +
          "WHEN 2 THEN NOT ((doc_id % 20) % 3 = 0) " +
          "ELSE true END AS allowed FROM documents"),
      "q52_url_canonical" ->
        ("SELECT doc_id, concat('http', CASE WHEN doc_id % 2 = 0 THEN 's' ELSE '' END, " +
          "'://www.host', doc_id % 20, '.example', " +
          "CASE WHEN doc_id % 3 = 1 THEN ':8080' ELSE '' END, " +
          "CASE WHEN doc_id % 4 = 0 THEN '/' " +
          "WHEN doc_id % 4 = 1 THEN concat('/a/P', doc_id) " +
          "WHEN doc_id % 4 = 2 THEN concat('/~user/p%2Fq/PA', doc_id) " +
          "ELSE concat('/P', doc_id) END, " +
          "CASE WHEN doc_id % 5 = 0 THEN '?b=~2&a=1' ELSE '' END) AS canonical " +
          "FROM documents"),
      "q50_vocabulary" ->
        ("WITH tok AS (SELECT unnest(regexp_extract_all(text, " +
          "'[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]+|\\s+')) AS token FROM documents) " +
          "SELECT token, count(*) AS n FROM tok " +
          "WHERE NOT regexp_matches(token, '^\\s+$') " +
          "GROUP BY token HAVING count(*) >= 5"),
      "q51_decontaminate" ->
        ("WITH fp AS (SELECT d.doc_id, f.fingerprint FROM documents d " +
          "JOIN '/root/repo/tools/fixtures/winnow_expected.parquet' f " +
          "ON md5(d.text) = f.text_md5), " +
          "bench AS (SELECT * FROM fp WHERE doc_id % 13 = 0), " +
          "train AS (SELECT * FROM fp WHERE doc_id % 13 <> 0) " +
          "SELECT t.doc_id, count(DISTINCT t.fingerprint) AS n_shared_fp, " +
          "count(DISTINCT b.doc_id) AS n_bench_docs " +
          "FROM train t JOIN bench b USING (fingerprint) GROUP BY t.doc_id"),
      "q47_head_meta" ->
        ("SELECT doc_id, concat('Doc ', doc_id, ' - ', lang) AS title, " +
          "concat(substr(text, 1, 40), ' Q&A \"x\"') AS description, " +
          "concat('https://c.example/', doc_id) AS canonical, " +
          "(doc_id % 9 = 0) AS noindex FROM documents"),
      "q48_outlinks" ->
        ("SELECT doc_id, " +
          "concat('https://t.example/', (doc_id * 7 + i) % 100) AS href, " +
          "concat('w', i, ' ', lang) AS anchor, (i % 2 = 0) AS nofollow " +
          "FROM documents, unnest(range(1, cast(doc_id % 5 + 2 AS int))) AS t(i)"),
      "q49_link_degrees" ->
        ("WITH e AS (SELECT concat('https://t.example/', (doc_id * 7 + i) % 100) AS href " +
          "FROM documents, unnest(range(1, cast(doc_id % 5 + 2 AS int))) AS t(i)) " +
          "SELECT href, count(*) AS in_degree FROM e GROUP BY href"),
      "q46_pipeline_e2e" ->
        ("WITH base AS (SELECT doc_id, lang, text FROM documents " +
          "UNION ALL SELECT doc_id + 10000, lang, text FROM documents WHERE doc_id % 5 = 0), " +
          s"ex AS (SELECT doc_id, lang, CASE WHEN doc_id % 7 = 0 THEN $trimmed " +
          s"ELSE concat($trimmed, chr(10), repeat(concat(lang, chr(10)), cast(doc_id % 5 + 1 AS int)), 'link') END AS t FROM base), " +
          "q AS (SELECT doc_id, lang, t, len(string_split_regex(t, '\\s+')) AS toks FROM ex " +
          "WHERE length(t) >= 60 " +
          "AND len(string_split_regex(t, '\\s+')) >= 12 " +
          "AND (length(t) - length(regexp_replace(t, '[!-/:-@\\[-`{-~]', '', 'g')))::double / length(t) <= 0.3 " +
          "AND len(list_distinct(string_split_regex(t, '\\s+')))::double / len(string_split_regex(t, '\\s+')) >= 0.55), " +
          "k AS (SELECT md5(t) AS fp, min(doc_id) AS doc_id FROM q GROUP BY 1), " +
          "kept AS (SELECT q.* FROM q JOIN k ON md5(q.t) = k.fp AND q.doc_id = k.doc_id) " +
          "SELECT lang, count(*) AS docs, cast(sum(toks) AS bigint) AS n_tokens, " +
          "cast(sum(length(t)) AS bigint) AS n_chars FROM kept GROUP BY lang"),
      "q45_quality_gate" ->
        ("SELECT doc_id, lang, len(string_split_regex(text, '\\s+')) AS q_tokens " +
          "FROM documents " +
          "WHERE length(text) >= 100 " +
          "AND len(string_split_regex(text, '\\s+')) >= 20 " +
          "AND (length(text) - length(regexp_replace(text, '[!-/:-@\\[-`{-~]', '', 'g')))::double " +
          "/ length(text) <= 0.3 " +
          "AND len(list_distinct(string_split_regex(text, '\\s+')))::double " +
          "/ len(string_split_regex(text, '\\s+')) >= 0.55"),
      "q44_pdf_roundtrip" ->
        ("SELECT doc_id, concat('Doc ', doc_id, chr(10), text) AS pdf_text " +
          "FROM documents"),
      "q43_embed_ivf" ->
        // same inverted file, rebuilt in SQL: centroids = vec_id < 16;
        // assignment = argmax round-4 cosine (ties → smaller cid); lists
        // over 100000 members dropped; probes = top-4 lists per query;
        // re-rank = round-4 cosine, ties → smaller neighbor_id
        ("WITH c AS (SELECT vec_id AS cid, embedding AS cemb FROM embeddings WHERE vec_id < 16), " +
          "ac AS (SELECT e.vec_id, e.embedding, c.cid, " +
          "round(cast(list_cosine_similarity(e.embedding, c.cemb) AS double), 4) AS cc " +
          "FROM embeddings e, c), " +
          "a AS (SELECT vec_id, embedding, cid AS list FROM " +
          "(SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cc DESC, cid) AS rn FROM ac) " +
          "WHERE rn = 1), " +
          "keep AS (SELECT list FROM a GROUP BY list HAVING count(*) <= 100000), " +
          "ak AS (SELECT a.* FROM a JOIN keep USING (list)), " +
          "p AS (SELECT query_id, qemb, cid AS list FROM " +
          "(SELECT q.vec_id AS query_id, q.embedding AS qemb, c.cid, " +
          "row_number() OVER (PARTITION BY q.vec_id ORDER BY " +
          "round(cast(list_cosine_similarity(q.embedding, c.cemb) AS double), 4) DESC, c.cid) AS rn " +
          "FROM embeddings q, c WHERE q.vec_id < 8) WHERE rn <= 4), " +
          "cand AS (SELECT p.query_id, ak.vec_id AS neighbor_id, " +
          "round(cast(list_cosine_similarity(p.qemb, ak.embedding) AS double), 4) AS cs " +
          "FROM p JOIN ak USING (list) WHERE ak.vec_id <> p.query_id), " +
          "r AS (SELECT query_id, neighbor_id, " +
          "row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id) AS rnk FROM cand) " +
          "SELECT query_id, cast(rnk AS int) AS rank, neighbor_id FROM r WHERE rnk <= 3"),
      "q34_css_descendant_rel" ->
        ("SELECT doc_id, " +
          "cast(CASE WHEN doc_id % 7 = 0 THEN 0 ELSE doc_id % 5 + 1 END AS bigint) AS n_item_desc, " +
          "cast(CASE WHEN doc_id % 7 = 0 THEN 0 ELSE 1 END AS bigint) AS n_p_in_div " +
          "FROM documents"),
      "q56_repetition" ->
        ("WITH d AS (SELECT doc_id, CASE WHEN doc_id % 6 = 0 THEN " +
          "concat(text, ' ', repeat('click here now ', cast(doc_id % 4 + 2 AS int))) " +
          "ELSE text END AS text FROM documents), " +
          "t AS (SELECT doc_id, length(text) AS n_chars, " +
          "list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM d), " +
          "g AS (SELECT doc_id, 2 AS n, concat(toks[i], ' ', toks[i+1]) AS gram " +
          "FROM t, unnest(range(1, len(toks))) AS r(i) " +
          "UNION ALL " +
          "SELECT doc_id, 3 AS n, concat(toks[i], ' ', toks[i+1], ' ', toks[i+2]) AS gram " +
          "FROM t, unnest(range(1, len(toks) - 1)) AS r(i)), " +
          "c AS (SELECT doc_id, n, gram, count(*) AS cnt FROM g GROUP BY doc_id, n, gram), " +
          "a AS (SELECT doc_id, " +
          "max(CASE WHEN n = 2 THEN cnt * length(gram) END) AS top2, " +
          "sum(CASE WHEN n = 3 AND cnt >= 2 THEN cnt * length(gram) END) AS dup3 " +
          "FROM c GROUP BY doc_id), " +
          "f AS (SELECT t.doc_id, t.n_chars, " +
          "cast(coalesce(a.top2, 0) AS bigint) AS top2_chars, " +
          "cast(coalesce(a.dup3, 0) AS bigint) AS dup3_chars " +
          "FROM t LEFT JOIN a USING (doc_id)) " +
          "SELECT doc_id, n_chars, top2_chars, dup3_chars, " +
          "CASE WHEN n_chars > 0 THEN cast(top2_chars AS double) / n_chars ELSE 0.0 END AS top2gram_frac, " +
          "CASE WHEN n_chars > 0 THEN cast(dup3_chars AS double) / n_chars ELSE 0.0 END AS dup3gram_frac, " +
          "((CASE WHEN n_chars > 0 THEN cast(top2_chars AS double) / n_chars ELSE 0.0 END) <= 0.20 " +
          "AND (CASE WHEN n_chars > 0 THEN cast(dup3_chars AS double) / n_chars ELSE 0.0 END) <= 0.18) AS rep_pass " +
          "FROM f"),
      "q57_line_dedup" ->
        ("WITH d AS (SELECT doc_id, CASE WHEN doc_id % 4 = 0 THEN " +
          "concat('cookie notice accept all cookies to continue reading this site ', text) " +
          "ELSE text END AS text FROM documents), " +
          "t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM d), " +
          "l AS (SELECT doc_id, i AS line_idx, " +
          "array_to_string(toks[i * 10 + 1 : i * 10 + 10], ' ') AS line " +
          "FROM t, unnest(range(0, cast(ceil(len(toks) / 10.0) AS bigint))) AS r(i)), " +
          "k AS (SELECT doc_id, line_idx, line, " +
          "row_number() OVER (PARTITION BY line ORDER BY doc_id, line_idx) AS rn FROM l), " +
          "a AS (SELECT doc_id, count(*) AS n_lines, " +
          "sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS n_kept, " +
          "coalesce(string_agg(CASE WHEN rn = 1 THEN line END, ' ' ORDER BY line_idx), '') AS cleaned_text " +
          "FROM k GROUP BY doc_id) " +
          "SELECT d.doc_id, cast(coalesce(a.n_lines, 0) AS bigint) AS n_lines, " +
          "cast(coalesce(a.n_kept, 0) AS bigint) AS n_kept, " +
          "coalesce(a.cleaned_text, '') AS cleaned_text " +
          "FROM d LEFT JOIN a USING (doc_id)"),
      "q58_pii_scrub" -> {
        val email = graft.ops.PiiScrub.EmailRe
        val ip = graft.ops.PiiScrub.Ipv4Re
        val ip6 = graft.ops.PiiScrub.Ipv6Re
        val phone = graft.ops.PiiScrub.PhoneRe
        "WITH d AS (SELECT doc_id, concat(text, ' contact user', doc_id, '@mail', " +
          "doc_id % 7, '.example.com from 10.', doc_id % 256, '.0.', doc_id % 100, " +
          "' call +1-555-', lpad(cast(doc_id % 10000 AS varchar), 4, '0'), " +
          "' or (555) 123-', lpad(cast(doc_id % 10000 AS varchar), 4, '0'), " +
          "' alt 555.123.', lpad(cast(doc_id % 10000 AS varchar), 4, '0'), " +
          "' net 2001:db8::', doc_id % 9999 + 1) AS text " +
          "FROM documents) " +
          s"SELECT doc_id, cast(len(regexp_extract_all(text, '$email')) AS bigint) AS n_email, " +
          s"cast(len(regexp_extract_all(text, '$ip')) AS bigint) AS n_ip, " +
          s"cast(len(regexp_extract_all(text, '$ip6')) AS bigint) AS n_ipv6, " +
          s"cast(len(regexp_extract_all(text, '$phone')) AS bigint) AS n_phone, " +
          s"regexp_replace(regexp_replace(regexp_replace(regexp_replace(text, " +
          s"'$email', '<EMAIL>', 'g'), '$ip6', '<IPV6>', 'g'), " +
          s"'$ip', '<IP>', 'g'), '$phone', '<PHONE>', 'g') AS scrubbed " +
          "FROM d"
      },
      "q59_jsonld" ->
        ("SELECT doc_id, cast(0 AS bigint) AS block_idx, 'Article' AS jtype, " +
          "concat('Doc ', doc_id, ' &amp; x') AS headline, " +
          "cast(len(string_split(text, ' ')) AS bigint) AS word_count, " +
          "cast(NULL AS bigint) AS position FROM documents " +
          "UNION ALL " +
          "SELECT doc_id, cast(1 AS bigint), 'Breadcrumb', NULL, NULL, " +
          "cast(doc_id % 3 AS bigint) FROM documents WHERE doc_id % 5 = 0"),
      "q60_host_curation" ->
        ("WITH ex AS (SELECT doc_id, lang, " +
          "CASE WHEN doc_id % 2 = 0 THEN 'host-0.example' " +
          "ELSE concat('host-', doc_id % 50, '.example') END AS host, " +
          "(doc_id % 7 <> 0) AS parse_ok, " +
          s"CASE WHEN doc_id % 7 = 0 THEN $trimmed " +
          s"ELSE concat($trimmed, chr(10), repeat(concat(lang, chr(10)), cast(doc_id % 5 + 1 AS int)), 'link') END AS t " +
          "FROM documents), " +
          "g AS (SELECT *, (length(t) >= 60 " +
          "AND len(string_split_regex(t, '\\s+')) >= 12 " +
          "AND (length(t) - length(regexp_replace(t, '[!-/:-@\\[-`{-~]', '', 'g')))::double / length(t) <= 0.3 " +
          "AND len(list_distinct(string_split_regex(t, '\\s+')))::double / len(string_split_regex(t, '\\s+')) >= 0.55) AS q_pass FROM ex), " +
          "c AS (SELECT t, count(*) AS n_same FROM g GROUP BY t), " +
          "j AS (SELECT g.*, c.n_same FROM g JOIN c USING (t)) " +
          "SELECT host, count(*) AS n_docs, " +
          "cast(sum(CASE WHEN NOT parse_ok THEN 1 ELSE 0 END) AS bigint) AS n_parse_err, " +
          "cast(sum(CASE WHEN q_pass THEN 1 ELSE 0 END) AS bigint) AS n_q_pass, " +
          "cast(sum(CASE WHEN n_same > 1 THEN 1 ELSE 0 END) AS bigint) AS n_dup, " +
          "cast(sum(CASE WHEN q_pass THEN 1 ELSE 0 END) AS double) / count(*) AS q_pass_rate " +
          "FROM j GROUP BY host"),
      "q61_stratified_sample" ->
        ("SELECT doc_id, lang FROM documents " +
          "WHERE substr(md5(concat(doc_id, ':graft')), 1, 4) <= " +
          "CASE lang WHEN 'en' THEN '4000' WHEN 'zh' THEN '8000' ELSE 'c000' END"),
      "q62_pagerank" ->
        ("WITH e AS (SELECT doc_id % 100 AS src, (doc_id * 7 + i) % 100 AS dst " +
          "FROM documents, unnest(range(1, cast(doc_id % 5 + 2 AS int))) AS t(i)), " +
          "n AS (SELECT src AS node FROM e UNION SELECT dst FROM e), " +
          "o AS (SELECT src, count(*) AS od FROM e GROUP BY src), " +
          "r0 AS (SELECT node, cast(1000000 AS bigint) AS rank FROM n), " +
          "s1 AS (SELECT e.dst, sum(r0.rank // o.od) AS sh FROM e " +
          "JOIN r0 ON e.src = r0.node JOIN o ON e.src = o.src GROUP BY e.dst), " +
          "r1 AS (SELECT n.node, cast(150000 + (85 * coalesce(s1.sh, 0)) // 100 AS bigint) AS rank " +
          "FROM n LEFT JOIN s1 ON n.node = s1.dst), " +
          "s2 AS (SELECT e.dst, sum(r1.rank // o.od) AS sh FROM e " +
          "JOIN r1 ON e.src = r1.node JOIN o ON e.src = o.src GROUP BY e.dst), " +
          "r2 AS (SELECT n.node, cast(150000 + (85 * coalesce(s2.sh, 0)) // 100 AS bigint) AS rank " +
          "FROM n LEFT JOIN s2 ON n.node = s2.dst), " +
          "s3 AS (SELECT e.dst, sum(r2.rank // o.od) AS sh FROM e " +
          "JOIN r2 ON e.src = r2.node JOIN o ON e.src = o.src GROUP BY e.dst), " +
          "r3 AS (SELECT n.node, cast(150000 + (85 * coalesce(s3.sh, 0)) // 100 AS bigint) AS rank " +
          "FROM n LEFT JOIN s3 ON n.node = s3.dst) " +
          "SELECT node, rank FROM r3"),
      "q63_dup_spans" ->
        ("WITH fp AS (SELECT d.doc_id, f.fingerprint FROM documents d " +
          "JOIN '/root/repo/tools/fixtures/winnow_expected.parquet' f " +
          "ON md5(d.text) = f.text_md5), " +
          "spread AS (SELECT fingerprint, count(DISTINCT doc_id) AS ndocs " +
          "FROM fp GROUP BY fingerprint) " +
          "SELECT doc_id, count(*) AS n_fp, " +
          "cast(sum(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END) AS bigint) AS n_shared_fp, " +
          "cast(sum(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END) AS double) / count(*) AS shared_frac " +
          "FROM fp JOIN spread USING (fingerprint) GROUP BY doc_id"),
      "q64_typicality" ->
        ("WITH t AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok FROM documents), " +
          "dfp AS (SELECT tok, count(DISTINCT doc_id) AS df FROM t GROUP BY tok) " +
          "SELECT doc_id, count(*) AS n_tok, cast(sum(df) AS bigint) AS sum_df, " +
          "cast(sum(df) AS double) / count(*) AS typicality " +
          "FROM t JOIN dfp USING (tok) GROUP BY doc_id"),
      "q65_crawl_delta" ->
        ("SELECT doc_id AS key, CASE " +
          "WHEN doc_id % 10 = 0 THEN 'gone' " +
          "WHEN doc_id % 3 = 0 THEN 'modified' " +
          "ELSE 'unchanged' END AS status FROM documents " +
          "UNION ALL " +
          "SELECT doc_id + 1000000000, 'new' FROM documents WHERE doc_id % 8 = 0"),
      "q66_extract_line_dedup" ->
        (s"WITH ex AS (SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN $trimmed " +
          s"ELSE concat($trimmed, chr(10), repeat(concat(lang, chr(10)), cast(doc_id % 5 + 1 AS int)), 'link') END AS t " +
          "FROM documents), " +
          "l AS (SELECT doc_id, i - 1 AS line_idx, ls[i] AS line FROM " +
          "(SELECT doc_id, string_split(t, chr(10)) AS ls FROM ex), " +
          "unnest(range(1, len(ls) + 1)) AS r(i)), " +
          "k AS (SELECT doc_id, line_idx, line, " +
          "row_number() OVER (PARTITION BY line ORDER BY doc_id, line_idx) AS rn FROM l), " +
          "a AS (SELECT doc_id, count(*) AS n_lines, " +
          "sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS n_kept, " +
          "coalesce(string_agg(CASE WHEN rn = 1 THEN line END, chr(10) ORDER BY line_idx), '') AS cleaned_text " +
          "FROM k GROUP BY doc_id) " +
          "SELECT d.doc_id, cast(coalesce(a.n_lines, 0) AS bigint) AS n_lines, " +
          "cast(coalesce(a.n_kept, 0) AS bigint) AS n_kept, " +
          "coalesce(a.cleaned_text, '') AS cleaned_text " +
          "FROM documents d LEFT JOIN a USING (doc_id)"),
      "q67_anchor_stats" ->
        ("WITH e AS (SELECT concat('https://t.example/', (doc_id * 7 + i) % 100) AS href, " +
          "concat('w', i, ' ', lang) AS anchor " +
          "FROM documents, unnest(range(1, cast(doc_id % 5 + 2 AS int))) AS t(i)), " +
          "c AS (SELECT href, anchor, count(*) AS cnt FROM e GROUP BY href, anchor), " +
          "r AS (SELECT href, anchor, cnt, " +
          "sum(cnt) OVER (PARTITION BY href) AS in_edges, " +
          "count(*) OVER (PARTITION BY href) AS n_anchors, " +
          "row_number() OVER (PARTITION BY href ORDER BY cnt DESC, anchor) AS rn FROM c) " +
          "SELECT href, cast(in_edges AS bigint) AS in_edges, " +
          "cast(n_anchors AS bigint) AS n_anchors, anchor AS top_anchor, " +
          "cast(cnt AS bigint) AS top_anchor_count FROM r WHERE rn = 1"),
      "q68_tables" ->
        ("SELECT doc_id, cast(0 AS bigint) AS table_idx, cast(0 AS bigint) AS row_idx, " +
          "true AS is_header, 'name|value' AS cells FROM documents " +
          "UNION ALL " +
          "SELECT doc_id, cast(0 AS bigint), cast(j AS bigint), false, " +
          "concat('r', j, ' ', lang, '|', doc_id * j) " +
          "FROM documents, unnest(range(1, cast(doc_id % 3 + 2 AS int))) AS t(j)"),
      "q69_feed_entries" ->
        ("SELECT doc_id, cast(j - 1 AS bigint) AS entry_idx, " +
          "concat('https://f.example/', doc_id, '/', j) AS url, " +
          "concat('T ', doc_id, ' ', j, ' A&B <ok>') AS title, " +
          "concat('D', (doc_id + j) % 7) AS published " +
          "FROM documents, unnest(range(1, cast(doc_id % 3 + 2 AS int))) AS t(j)"),
      "q70_compression" ->
        ("SELECT d.doc_id, CASE WHEN f.raw_len = 0 THEN 1.0 " +
          "ELSE f.compressed_len::double / f.raw_len END AS compression_ratio " +
          "FROM documents d " +
          "JOIN '/root/repo/tools/fixtures/zlib_expected.parquet' f " +
          "ON md5(d.text) = f.text_md5"),
      "q71_time_travel" ->
        "SELECT doc_id, lang FROM documents WHERE doc_id % 4 < 3",
      "q72_templates" ->
        ("WITH g AS (SELECT doc_id % 5 AS k, count(*) AS template_docs, " +
          "min(doc_id) AS template_rep FROM documents GROUP BY 1) " +
          "SELECT d.doc_id, g.template_docs, g.template_rep " +
          "FROM documents d JOIN g ON d.doc_id % 5 = g.k"),
      "q73_hreflang" ->
        ("SELECT doc_id, cast(0 AS bigint) AS alt_idx, 'en' AS hreflang, " +
          "concat('https://ex.com/en/', doc_id) AS href FROM documents " +
          "UNION ALL " +
          "SELECT doc_id, cast(1 AS bigint), lang, " +
          "concat('https://ex.com/', lang, '/', doc_id) FROM documents " +
          "UNION ALL " +
          "SELECT doc_id, cast(2 AS bigint), 'x-default', 'https://ex.com/' " +
          "FROM documents WHERE doc_id % 3 = 0"),
      "q74_canonical_dedup" ->
        ("SELECT min(doc_id) AS doc_id, " +
          "concat('https://c.example/', doc_id % 100) AS canonical, " +
          "count(*) AS n_dupes FROM documents GROUP BY 2"),
      "q75_bpe_pairs" ->
        ("WITH tok AS (SELECT unnest(regexp_extract_all(text, " +
          "'[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]+|\\s+')) AS token FROM documents), " +
          "tc AS (SELECT token, count(*) AS n FROM tok " +
          "WHERE NOT regexp_matches(token, '^\\s+$') GROUP BY token), " +
          "p AS (SELECT substr(token, i, 2) AS pair, n FROM tc, " +
          "unnest(range(1, length(token))) AS r(i) WHERE length(token) >= 2) " +
          "SELECT pair, cast(sum(n) AS bigint) AS n FROM p " +
          "GROUP BY pair HAVING sum(n) >= 5"),
      "q76_nfc_normalize" ->
        ("WITH d AS (SELECT doc_id, CASE WHEN doc_id % 2 = 0 THEN " +
          "concat(text, ' caf', chr(101), chr(769), ' ', chr(65), chr(778)) " +
          "ELSE text END AS t FROM documents) " +
          "SELECT doc_id, nfc_normalize(t) AS nfc_text, " +
          "t <> nfc_normalize(t) AS was_normalized FROM d"),
      "q77_reciprocal_hreflang" ->
        ("SELECT concat('https://p.ex/en/', doc_id) AS url1, " +
          "concat('https://p.ex/fr/', doc_id) AS url2, " +
          "'en' AS lang_of_1, 'fr' AS lang_of_2 " +
          "FROM documents WHERE doc_id % 7 <> 0"),
      "q78_resolve_links" ->
        // effective document base per doc_id%5 class (auth / base dir /
        // base path / parent-of-base-dir), then the RFC 3986 resolution
        // per doc_id%6 href class — every combination rebuilt from parts
        ("WITH p AS (SELECT doc_id, " +
          "concat('https://h', doc_id % 20, '.example') AS host, " +
          "cast(doc_id % 5 AS int) AS b, cast(doc_id % 6 AS int) AS c " +
          "FROM documents), " +
          "e AS (SELECT doc_id, c, " +
          "CASE b WHEN 0 THEN 'https://b.example' " +
          "WHEN 3 THEN 'https://first.example' ELSE host END AS auth, " +
          "CASE b WHEN 0 THEN '/bd/sub/' WHEN 1 THEN '/dir/sub/rel/' " +
          "WHEN 3 THEN '/f/' ELSE '/dir/sub/' END AS bdir, " +
          "CASE b WHEN 0 THEN '/bd/sub/' WHEN 1 THEN '/dir/sub/rel/' " +
          "WHEN 3 THEN '/f/' ELSE '/dir/sub/page.html' END AS bpath, " +
          "CASE b WHEN 0 THEN '/bd/' WHEN 1 THEN '/dir/sub/' " +
          "WHEN 3 THEN '/' ELSE '/dir/' END AS pdir " +
          "FROM p) " +
          "SELECT doc_id, " +
          "CASE c " +
          "WHEN 0 THEN concat('https://other.example/abs/', doc_id) " +
          "WHEN 1 THEN concat('/root/', doc_id) " +
          "WHEN 2 THEN concat('sib', doc_id, '.html') " +
          "WHEN 3 THEN concat('../up/', doc_id) " +
          "WHEN 4 THEN concat('//cdn.example/c/', doc_id) " +
          "ELSE concat('?page=', doc_id) END AS href, " +
          "CASE c " +
          "WHEN 0 THEN concat('https://other.example/abs/', doc_id) " +
          "WHEN 1 THEN concat(auth, '/root/', doc_id) " +
          "WHEN 2 THEN concat(auth, bdir, 'sib', doc_id, '.html') " +
          "WHEN 3 THEN concat(auth, pdir, 'up/', doc_id) " +
          "WHEN 4 THEN concat('https://cdn.example/c/', doc_id) " +
          "ELSE concat(auth, bpath, '?page=', doc_id) " +
          "END AS resolved FROM e"),
      "q79_sitemap_incremental" ->
        ("SELECT doc_id, concat('https://s.example/', doc_id * 3 + i) AS loc, " +
          "concat('2026-01-', lpad(cast((doc_id + i) % 28 + 1 AS varchar), 2, '0')) AS lastmod, " +
          "concat('2026-01-', lpad(cast((doc_id + i) % 28 + 1 AS varchar), 2, '0')) > '2026-01-15' AS needs_fetch " +
          "FROM documents, unnest(range(0, 3)) AS t(i)"),
      "q80_meta_refresh" ->
        ("SELECT doc_id, cast(doc_id % 10 AS bigint) AS delay_sec, " +
          "concat('https://r.example/moved/', doc_id) AS target " +
          "FROM documents WHERE doc_id % 4 = 0 " +
          "UNION ALL " +
          "SELECT doc_id, cast(30 AS bigint), '' FROM documents WHERE doc_id % 4 = 1"),
      "q81_frontier_e2e" ->
        ("WITH t AS (" +
          "SELECT concat('https://h', doc_id % 20, '.example/p', (doc_id * 7) % 200, '.html') AS url FROM documents " +
          "UNION ALL " +
          "SELECT concat('http://h', doc_id % 20, '.example/q/', doc_id % 5) FROM documents), " +
          "allowed AS (SELECT url FROM t WHERE url NOT LIKE '%/q/3'), " +
          "committed AS (SELECT DISTINCT concat('https://h', doc_id % 20, " +
          "'.example/p', (doc_id * 7) % 200, '.html') AS url FROM documents " +
          "WHERE ((doc_id * 7) % 200) % 3 = 0) " +
          "SELECT DISTINCT a.url FROM allowed a " +
          "LEFT JOIN committed c USING (url) WHERE c.url IS NULL"),
      "q82_politeness" ->
        ("SELECT doc_id, " +
          "CASE WHEN doc_id % 3 = 0 THEN cast(doc_id % 10 + 1 AS double) " +
          "WHEN doc_id % 3 = 1 THEN 2.5 ELSE 0.0 END AS crawl_delay, " +
          "CASE WHEN doc_id % 3 = 0 THEN cast(2 AS bigint) ELSE cast(0 AS bigint) END AS n_sitemaps, " +
          "(CASE WHEN doc_id % 3 = 0 THEN cast(doc_id % 10 + 1 AS double) " +
          "WHEN doc_id % 3 = 1 THEN 2.5 ELSE 0.0 END) * (doc_id % 50 + 1) AS est_fetch_sec " +
          "FROM documents"),
      "q86_outline" ->
        ("SELECT doc_id, cast(0 AS bigint) AS pos, 1 AS level, " +
          "concat('T ', doc_id) AS heading FROM documents " +
          "UNION ALL " +
          "SELECT doc_id, cast(1 + (j - 1) + (j - 1) // 2 AS bigint), 2, " +
          "concat('S ', doc_id, ' ', j) " +
          "FROM documents, unnest(range(1, cast(doc_id % 3 + 2 AS int))) AS t(j) " +
          "UNION ALL " +
          "SELECT doc_id, cast(2 + (j - 1) + (j - 1) // 2 AS bigint), 3, " +
          "concat('U ', doc_id, ' ', j) " +
          "FROM documents, unnest(range(1, cast(doc_id % 3 + 2 AS int))) AS t(j) " +
          "WHERE j % 2 = 0"),
      "q87_images" ->
        ("WITH p AS (SELECT doc_id, " +
          "concat('https://h', doc_id % 20, '.example') AS host, " +
          "cast(doc_id % 4 AS int) AS k FROM documents) " +
          "SELECT doc_id, cast(0 AS bigint) AS img_idx, " +
          "concat(host, '/i/', doc_id, '.png') AS src_resolved, " +
          "concat('alt ', doc_id) AS alt, " +
          "CASE k WHEN 0 THEN '' WHEN 1 THEN 'a.png 1x|b.png 2x' " +
          "WHEN 2 THEN concat('/w/', doc_id, '-400.jpg 400w|/w/', doc_id, '-800.jpg 800w') " +
          "ELSE 'p,q.png 1x|r.png' END AS srcset " +
          "FROM p " +
          "UNION ALL " +
          "SELECT doc_id, cast(1 AS bigint), '', 'second', 's1.png 1x' " +
          "FROM documents WHERE doc_id % 3 = 0"),
      "q88_drop_dup_spans" ->
        // full independent replay of the span rewrite: shared fingerprints
        // from the winnow fixture's spread, positions -> [pos, pos+16)
        // ranges clipped to len, gaps-and-islands merge (adjacent ranges
        // coalesce, matching the engine), kept segments reassembled with
        // substr in order
        ("WITH d AS (SELECT doc_id, text, md5(text) AS m, length(text) AS len " +
          "FROM documents), " +
          "fp AS (SELECT DISTINCT d.doc_id, w.fingerprint FROM d " +
          "JOIN '/root/repo/tools/fixtures/winnow_expected.parquet' w " +
          "ON w.text_md5 = d.m), " +
          "sh AS (SELECT fingerprint FROM fp GROUP BY 1 " +
          "HAVING count(DISTINCT doc_id) >= 2), " +
          "pos AS (SELECT DISTINCT d.doc_id, p.pos AS s, " +
          "least(p.pos + 16, d.len) AS e FROM d " +
          "JOIN '/root/repo/tools/fixtures/winnow_pos_expected.parquet' p " +
          "ON p.text_md5 = d.m JOIN sh USING (fingerprint)), " +
          "o AS (SELECT doc_id, s, e, max(e) OVER (PARTITION BY doc_id " +
          "ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax " +
          "FROM pos), " +
          "g AS (SELECT doc_id, s, e, sum(CASE WHEN pmax IS NULL OR s > pmax " +
          "THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id ORDER BY s) AS grp " +
          "FROM o), " +
          "mr AS (SELECT doc_id, grp, min(s) AS s, max(e) AS e FROM g " +
          "GROUP BY 1, 2), " +
          "agg AS (SELECT doc_id, count(*) AS nr, sum(e - s) AS rm FROM mr " +
          "GROUP BY 1), " +
          "kseg AS (SELECT doc_id, coalesce(lag(e) OVER (PARTITION BY doc_id " +
          "ORDER BY s), 0) AS ks, s AS ke FROM mr " +
          "UNION ALL " +
          "SELECT mr.doc_id, max(mr.e) AS ks, max(d.len) AS ke FROM mr " +
          "JOIN d USING (doc_id) GROUP BY mr.doc_id), " +
          "clean AS (SELECT k.doc_id, " +
          "string_agg(substr(d.text, k.ks + 1, k.ke - k.ks), '' ORDER BY k.ks) AS ct " +
          "FROM kseg k JOIN d USING (doc_id) WHERE k.ke > k.ks GROUP BY 1) " +
          "SELECT d.doc_id, " +
          "CASE WHEN a.doc_id IS NULL THEN d.text ELSE coalesce(c.ct, '') END AS clean_text, " +
          "cast(coalesce(a.nr, 0) AS bigint) AS n_spans_removed, " +
          "cast(coalesce(a.rm, 0) AS bigint) AS n_chars_removed " +
          "FROM d LEFT JOIN agg a USING (doc_id) LEFT JOIN clean c USING (doc_id)"),
      "q89_stream_delta" ->
        ("SELECT concat('u/', doc_id) AS url, 'new' AS status, " +
          "md5(text) AS fp FROM documents " +
          "UNION ALL " +
          "SELECT concat('u/', doc_id), " +
          "CASE WHEN doc_id % 3 = 0 THEN 'modified' ELSE 'unchanged' END, " +
          "CASE WHEN doc_id % 3 = 0 THEN md5(concat(text, ' updated')) " +
          "ELSE md5(text) END " +
          "FROM documents WHERE doc_id % 10 <> 0 " +
          "UNION ALL " +
          "SELECT concat('u/', doc_id + 1000000000), 'new', md5(text) " +
          "FROM documents WHERE doc_id % 8 = 0"),
      "q92_stream_sessions" ->
        // sessions rebuilt from doc_id arithmetic: rank k = doc_id//20
        // places ranks 0..2 at minutes 0/2/4 (session 1, flushed by the
        // IN-BATCH gap split) and ranks >= 3 at minutes 26,28,… (session
        // 2, flushed by the event-time TIMEOUT after the sentinel batch);
        // bytes = per-doc html byte length 8 + digits(doc_id)
        ("WITH d AS (SELECT doc_id, doc_id % 20 AS h, doc_id // 20 AS k " +
          "FROM documents), " +
          "s AS (SELECT doc_id, h, " +
          "CASE WHEN k >= 3 THEN 2 ELSE 1 END AS sess, " +
          "2 * k + CASE WHEN k >= 3 THEN 20 ELSE 0 END AS m FROM d) " +
          "SELECT concat('h', h, '.example') AS host, " +
          "count(*) AS docs, cast(0 AS bigint) AS errors, " +
          "cast(sum(8 + length(cast(doc_id AS varchar))) AS bigint) AS bytes, " +
          "cast(1704067200 + min(m) * 60 AS bigint) AS start_epoch, " +
          "cast(1704067200 + max(m) * 60 AS bigint) AS end_epoch " +
          "FROM s GROUP BY h, sess"),
      "q99_parallel_pairs" ->
        ("WITH p AS (SELECT doc_id, cast(length(text) AS bigint) AS len1, " +
          "cast(CASE WHEN doc_id % 5 = 0 THEN length(substr(text, 1, 40)) " +
          "ELSE length(text) + 3 END AS bigint) AS len2 " +
          "FROM documents WHERE doc_id % 7 <> 0) " +
          "SELECT concat('https://p.ex/en/', doc_id) AS url1, " +
          "concat('https://p.ex/fr/', doc_id) AS url2, " +
          "len1, len2, len1::double / len2 AS len_ratio, " +
          "len1::double / len2 >= 0.5 AND len1::double / len2 <= 2.0 AS keep " +
          "FROM p"),
      "q98_ngram_decontaminate" ->
        ("WITH tok AS (SELECT doc_id, " +
          "list_filter(string_split(text, ' '), x -> x <> '') AS toks " +
          "FROM documents), " +
          "g AS (SELECT doc_id, " +
          "array_to_string(list_slice(toks, i, i + 12), ' ') AS gram " +
          "FROM tok, unnest(range(1, len(toks) - 11)) AS r(i) " +
          "WHERE len(toks) >= 13), " +
          "b AS (SELECT DISTINCT doc_id AS bench_id, gram FROM g " +
          "WHERE doc_id % 9 = 0) " +
          "SELECT g.doc_id, " +
          "cast(count(DISTINCT g.gram) AS bigint) AS n_contaminated_grams, " +
          "cast(count(DISTINCT b.bench_id) AS bigint) AS n_bench_docs " +
          "FROM g JOIN b USING (gram) GROUP BY g.doc_id"),
      "q96_chunking" ->
        ("WITH t AS (SELECT doc_id, " +
          "list_filter(string_split(text, ' '), x -> x <> '') AS toks " +
          "FROM documents), " +
          "n AS (SELECT doc_id, toks, len(toks) AS nt FROM t WHERE len(toks) > 0) " +
          "SELECT doc_id, cast(k AS bigint) AS chunk_idx, " +
          "array_to_string(list_slice(toks, k * 24 + 1, k * 24 + 32), ' ') AS chunk_text, " +
          "cast(len(list_slice(toks, k * 24 + 1, k * 24 + 32)) AS bigint) AS n_tokens " +
          "FROM n, unnest(range(0, (nt - 1) // 24 + 1)) AS r(k)"),
      "q97_sequence_packing" ->
        ("WITH t AS (SELECT doc_id, " +
          "cast(len(list_filter(string_split(text, ' '), x -> x <> '')) AS bigint) AS n " +
          "FROM documents), " +
          "c AS (SELECT doc_id, n, cast(coalesce(sum(n) OVER " +
          "(ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bigint) AS cb " +
          "FROM t) " +
          "SELECT cast(b AS bigint) AS bin, doc_id, " +
          "greatest(cb - b * 256, 0) AS bin_offset, " +
          "least((b + 1) * 256, cb + n) - greatest(b * 256, cb) AS n_toks_in_bin " +
          "FROM c, unnest(range(cb // 256, (cb + n - 1) // 256 + 1)) AS r(b) " +
          "WHERE n > 0"),
      "q95_image_pipeline" ->
        ("WITH d AS (SELECT doc_id, text FROM documents " +
          "WHERE octet_length(cast(text AS blob)) = length(text) AND length(text) > 0), " +
          "b AS (SELECT doc_id, ascii(substr(text, cast(i AS int), 1)) // 4 AS bin " +
          "FROM d, unnest(range(1, length(text) + 1)) AS t(i)), " +
          "c AS (SELECT doc_id, bin, count(*) AS cnt FROM b GROUP BY 1, 2), " +
          "top AS (SELECT doc_id, bin, cnt FROM " +
          "(SELECT doc_id, bin, cnt, row_number() OVER " +
          "(PARTITION BY doc_id ORDER BY cnt DESC, bin) AS rk FROM c) WHERE rk = 1) " +
          "SELECT d.doc_id, " +
          "concat('https://h', d.doc_id % 20, '.example/i/', d.doc_id, '.png') AS img_url, " +
          "concat('alt ', d.doc_id) AS alt, " +
          "cast(length(d.text) AS bigint) AS n_bytes, " +
          "t.bin AS top_bin, cast(t.cnt AS bigint) AS top_cnt " +
          "FROM d JOIN top t USING (doc_id)"),
      "q94_bpe_train" ->
        ("WITH tok AS (SELECT unnest(regexp_extract_all(text, " +
          "'[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]+|\\s+')) AS token FROM documents), " +
          "tc AS (SELECT token, count(*) AS n FROM tok " +
          "WHERE NOT regexp_matches(token, '^\\s+$') " +
          "GROUP BY token HAVING count(*) >= 5), " +
          "k AS (SELECT md5(string_agg(concat(token, ':', n), '|' ORDER BY token)) AS corpus_md5 FROM tc) " +
          "SELECT cast(f.merge_idx AS bigint) AS merge_idx, f.lhs, f.rhs, " +
          "f.pair_count " +
          "FROM '/root/repo/tools/fixtures/bpe_merges_expected.parquet' f, k " +
          "WHERE f.corpus_md5 = k.corpus_md5"),
      "q93_media_sources" ->
        ("SELECT doc_id, cast(0 AS bigint) AS media_idx, " +
          "cast(0 AS bigint) AS item_idx, 'video' AS tag, 'self' AS kind, " +
          "concat('/v/', doc_id, '.mp4') AS url, '' AS media, '' AS mime " +
          "FROM documents WHERE doc_id % 4 = 0 " +
          "UNION ALL " +
          "SELECT doc_id, 0, 1, 'video', 'source', " +
          "concat('/v/', doc_id, '.webm'), '', 'video/webm' " +
          "FROM documents WHERE doc_id % 4 = 0 " +
          "UNION ALL " +
          "SELECT doc_id, 0, 0, 'audio', 'source', " +
          "concat('/a/', doc_id, '.ogg'), '', 'audio/ogg' " +
          "FROM documents WHERE doc_id % 4 = 1 " +
          "UNION ALL " +
          "SELECT doc_id, 0, 1, 'audio', 'source', " +
          "concat('/a/', doc_id, '.mp3'), '', 'audio/mpeg' " +
          "FROM documents WHERE doc_id % 4 = 1 " +
          "UNION ALL " +
          "SELECT doc_id, 0, 0, 'picture', 'source', " +
          "concat('/p/', doc_id, '-w.avif 800w'), '(min-width: 600px)', 'image/avif' " +
          "FROM documents WHERE doc_id % 4 = 2 " +
          "UNION ALL " +
          "SELECT doc_id, 0, 1, 'picture', 'source', " +
          "concat('/p/', doc_id, '.webp'), '', 'image/webp' " +
          "FROM documents WHERE doc_id % 4 = 2"),
      "q90_social_meta" ->
        ("SELECT doc_id, concat('T & ', doc_id) AS og_title, " +
          "concat('D ', doc_id) AS og_description, " +
          "concat('https://i.ex/', doc_id, '.jpg') AS og_image, " +
          "'' AS og_url, 'article' AS og_type, '' AS twitter_card " +
          "FROM documents WHERE doc_id % 3 = 0 " +
          "UNION ALL " +
          "SELECT doc_id, '', '', " +
          "concat('https://i.ex/t', doc_id, '.png'), '', '', 'summary' " +
          "FROM documents WHERE doc_id % 3 = 1"),
      "q91_captions" ->
        ("WITH f AS (SELECT doc_id, " +
          "concat('/f/', doc_id, '.png') AS fsrc, " +
          "concat('a', doc_id) AS falt, " +
          "concat('Cap & ', doc_id) AS fcap, " +
          "concat('/bare/', doc_id, '.png') AS bsrc, " +
          "cast(doc_id % 4 AS int) AS k FROM documents) " +
          "SELECT doc_id, cast(0 AS bigint) AS fig_idx, " +
          "CASE WHEN k = 1 THEN bsrc ELSE fsrc END AS img_src, " +
          "CASE WHEN k = 1 THEN '' ELSE falt END AS img_alt, " +
          "CASE WHEN k = 1 THEN '' ELSE fcap END AS caption " +
          "FROM f WHERE k IN (0, 1, 2, 3) " +
          "UNION ALL " +
          "SELECT doc_id, cast(1 AS bigint), bsrc, '', '' " +
          "FROM f WHERE k = 3"),
      "q85_quality_composite" ->
        ("WITH t AS (SELECT doc_id, lang, length(text) AS n_chars, " +
          "len(string_split_regex(text, '\\s+')) AS n_tokens, " +
          "CASE WHEN length(text) > 0 THEN (length(text) - " +
          "length(regexp_replace(text, '[!-/:-@\\[-`{-~]', '', 'g')))::double / length(text) " +
          "ELSE 0.0 END AS punct FROM documents), " +
          "tok AS (SELECT doc_id, length(text) AS n_chars, " +
          "list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM documents), " +
          "g AS (SELECT doc_id, 2 AS n, concat(toks[i], ' ', toks[i+1]) AS gram " +
          "FROM tok, unnest(range(1, len(toks))) AS r(i) " +
          "UNION ALL " +
          "SELECT doc_id, 3, concat(toks[i], ' ', toks[i+1], ' ', toks[i+2]) " +
          "FROM tok, unnest(range(1, len(toks) - 1)) AS r(i)), " +
          "c AS (SELECT doc_id, n, gram, count(*) AS cnt FROM g GROUP BY 1, 2, 3), " +
          "a AS (SELECT doc_id, " +
          "max(CASE WHEN n = 2 THEN cnt * length(gram) END) AS top2, " +
          "sum(CASE WHEN n = 3 AND cnt >= 2 THEN cnt * length(gram) END) AS dup3 " +
          "FROM c GROUP BY doc_id), " +
          "r AS (SELECT tok.doc_id, " +
          "CASE WHEN tok.n_chars > 0 THEN coalesce(a.top2, 0)::double / tok.n_chars ELSE 0.0 END AS top2f, " +
          "CASE WHEN tok.n_chars > 0 THEN coalesce(a.dup3, 0)::double / tok.n_chars ELSE 0.0 END AS dup3f " +
          "FROM tok LEFT JOIN a USING (doc_id)), " +
          "z AS (SELECT d.doc_id, CASE WHEN f.raw_len = 0 THEN 1.0 " +
          "ELSE f.compressed_len::double / f.raw_len END AS cr FROM documents d " +
          "JOIN '/root/repo/tools/fixtures/zlib_expected.parquet' f " +
          "ON md5(d.text) = f.text_md5), " +
          "l AS (SELECT d.doc_id, lg.lang_guess FROM documents d " +
          "JOIN '/root/repo/tools/fixtures/langid_expected.parquet' lg " +
          "ON md5(d.text) = lg.text_md5) " +
          "SELECT t.doc_id, " +
          "(r.top2f <= 0.20 AND r.dup3f <= 0.18) AS rep_pass, " +
          "z.cr AS compression_ratio, " +
          "(t.n_chars >= 60 AND t.n_tokens >= 12 AND t.punct <= 0.3 " +
          "AND r.top2f <= 0.20 AND r.dup3f <= 0.18 AND z.cr >= 0.3 " +
          "AND l.lang_guess = t.lang) AS keep " +
          "FROM t JOIN r ON t.doc_id = r.doc_id " +
          "JOIN z ON t.doc_id = z.doc_id JOIN l ON t.doc_id = l.doc_id"),
      "q84_host_graph" ->
        ("WITH e AS (" +
          "SELECT concat('h', doc_id % 10, '.example') AS src_host, " +
          "concat('h', doc_id % 10, '.example') AS dst_host FROM documents " +
          "UNION ALL SELECT concat('h', doc_id % 10, '.example'), " +
          "concat('h', (doc_id * 3) % 10, '.example') FROM documents " +
          "UNION ALL SELECT concat('h', doc_id % 10, '.example'), " +
          "'cdn.example' FROM documents WHERE doc_id % 3 = 0) " +
          "SELECT src_host, count(*) AS n_edges, " +
          "cast(sum(CASE WHEN dst_host <> src_host THEN 1 ELSE 0 END) AS bigint) AS n_external, " +
          "count(DISTINCT dst_host) AS n_dst_hosts FROM e GROUP BY src_host"),
      "q83_train_shards" -> {
        // first 12 hex chars of the md5 key -> 48-bit integer, mod nShards
        // (mirrors trainShards' conv(substring(key,1,12),16,10) % n)
        val hex48 = (0 until 12).map { i =>
          val p = 1L << (4 * (11 - i)) // 16^(11-i)
          s"(strpos('0123456789abcdef', substr(sk, ${i + 1}, 1)) - 1) * $p"
        }.mkString(" + ")
        "WITH k AS (SELECT doc_id, md5(concat(doc_id, ':graft')) AS sk FROM documents), " +
          s"s AS (SELECT doc_id, sk, cast(($hex48) % 8 AS bigint) AS shard FROM k) " +
          "SELECT doc_id, shard, " +
          "cast(row_number() OVER (PARTITION BY shard ORDER BY sk) - 1 AS bigint) AS pos_in_shard " +
          "FROM s"
      }
    )
  }
}
