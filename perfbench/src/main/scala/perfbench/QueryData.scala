package perfbench

import org.apache.spark.sql.SparkSession

/** The tables `SparkEntry.queries` read — `documents`, `embeddings` and
  * `events` — generated with the shapes of the repository's sf0.1 test data:
  * 5000 short documents over a 30-word vocabulary with some exact
  * duplicates, 2000 64-dimensional embeddings around 10 labelled centroids,
  * and 100k events over 30 days. The tables always come from one fixed
  * seed, so the expected query results can be recorded once; a run's seed
  * only orders the queries.
  */
object QueryData {

  val Seed = 42L
  val Docs = 5000
  val Vectors = 2000
  val Events = 100000

  val Words: Array[String] = Array("spark", "window", "merge", "table", "column", "vector",
    "stream", "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row", "the",
    "agg", "key", "query", "a", "scan", "batch")
  private val Langs = Array("en", "en", "en", "en", "zh", "zh", "es", "es", "fr", "fr", "de")
  private val EventTypes = Array("signup", "purchase", "view", "click", "error")

  /** A document's text: 8–95 words of the 30-word vocabulary. */
  def docText(seed: Long, src: Long): String = {
    val r = Rand.rng(seed, 20, src)
    Array.fill(8 + r.nextInt(88))(Words(r.nextInt(Words.length))).mkString(" ")
  }

  def write(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    spark.range(0, Docs, 1, 1).as[Long].map { d =>
      val r = Rand.rng(Seed, 21, d)
      // one document in 20 repeats an earlier one, with a marker token
      val src = if (d > 0 && r.nextInt(20) == 0) math.max(0L, d - 1 - r.nextInt(50)) else d
      val text = if (src == d) docText(Seed, d) else docText(Seed, src) + " dup"
      (d, text, Langs(r.nextInt(Langs.length)), s"src${d % 20}", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")

    val centroids = Array.tabulate(10) { l =>
      val r = Rand.rng(Seed, 22, l)
      val v = Array.fill(64)(r.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    spark.range(0, Vectors, 1, 1).as[Long].map { id =>
      val r = Rand.rng(Seed, 23, id)
      val label = r.nextInt(10)
      (id, centroids(label).map(x => (x + 0.05 * r.nextGaussian()).toFloat).toSeq, label)
    }.toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")

    spark.range(0, Events, 1, 2).as[Long].map { id =>
      val r = Rand.rng(Seed, 24, id)
      // time-ordered by event_id, as a log would be
      val ts = new java.sql.Timestamp(1704067200000L +
        ((id + r.nextDouble()) * (30 * 86400000.0 / Events)).toLong)
      (id, ts, (Rand.mix64(id) & 0xffffffL) % 1500, EventTypes(r.nextInt(EventTypes.length)),
        math.round(-math.log(1 - r.nextDouble()) * 5000) / 100.0, s"""{"k": ${r.nextInt(100)}}""")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
  }
}
