package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The dedup_corpus generator: the sf0.1 `documents` table's texts
  * ([[QueryData]]: 8–95 words over a 30-word vocabulary) replicated with
  * seeded mutations into planted near-duplicate clusters, in the
  * `documents` shape (doc_id, text, lang, source, n_chars).
  *
  * Cluster k's first member is the k-th document text of the fixed query
  * data, `QueryData.docText(QueryData.Seed, k)`. Each further member is
  * that text with 0–3 seeded swaps of two words, so it keeps the base's
  * word set (and MinHash signature) while its bytes differ. The seed draws
  * the cluster sizes (1 to 80, Zipf-skewed, mean ≈ 16) and the swaps. With
  * 30 words most texts hold most of the vocabulary, so MinHash puts about
  * half of the corpus into one (band, bucket), as on the sf0.1 data: over
  * `Dedup`'s `maxBucket` cap, which then decides what can still be
  * clustered. Since every seed clusters the same texts, the rounds of
  * label propagation hardly vary with the seed. Documents of one cluster
  * get consecutive ids.
  */
object DedupGen {

  val MaxCluster = 80
  private val SizeCdf = Rand.zipfCdf(MaxCluster, 1.0)

  /** Planted layout: cluster k holds ids [starts(k), starts(k) + sizes(k)). */
  final case class Layout(sizes: Array[Int], starts: Array[Long]) {
    def clusterOf(docId: Long): Int = {
      val i = java.util.Arrays.binarySearch(starts, docId)
      if (i >= 0) i else -i - 2
    }
  }

  def layout(seed: Long, docs: Int): Layout = {
    val sizes = scala.collection.mutable.ArrayBuffer.empty[Int]
    var total = 0L
    var k = 0L
    while (total < docs) {
      val s = math.min(1L + Rand.zipf(SizeCdf, Rand.rng(seed, 3, k)), docs - total).toInt
      sizes += s
      total += s
      k += 1
    }
    val starts = sizes.scanLeft(0L)(_ + _).dropRight(1).toArray
    Layout(sizes.toArray, starts)
  }

  def text(seed: Long, cluster: Int, member: Int, docId: Long): String = {
    val base = QueryData.docText(QueryData.Seed, cluster)
    if (member == 0) base
    else {
      val toks = base.split(" ")
      val m = Rand.rng(seed, 5, docId)
      (0 until m.nextInt(4)).foreach { _ =>
        val (i, j) = (m.nextInt(toks.length), m.nextInt(toks.length))
        val t = toks(i)
        toks(i) = toks(j)
        toks(j) = t
      }
      toks.mkString(" ")
    }
  }

  def table(spark: SparkSession, seed: Long, lay: Layout, partitions: Int): DataFrame = {
    import spark.implicits._
    val sizes = lay.sizes
    val starts = lay.starts
    val langs = CrawlGen.Langs
    spark.range(0, sizes.length.toLong, 1, partitions).as[Long].flatMap { k0 =>
      val k = k0.toInt
      (0 until sizes(k)).iterator.map { m =>
        val id = starts(k) + m
        val t = text(seed, k, m, id)
        (id, t, langs((Rand.mix64(id) & 7).toInt), s"src${k % 20}", t.length.toLong)
      }
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
  }
}
