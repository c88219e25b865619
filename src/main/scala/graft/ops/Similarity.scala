package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Approximate/exact nearest-neighbor search over an embedding column
  * (array<float>).
  *
  * Brute-force cosine top-k is the correctness baseline (and the oracle-
  * checked query); the random-hyperplane LSH variant is the scale path — at
  * 10^12 rows the bucketed join replaces the cross join, trading recall for
  * a shuffle-bounded plan. Hyperplanes are deterministic (derived from a
  * fixed integer mix), so results are reproducible with no RNG state.
  */
object Similarity {

  /** float32 cosine, accumulation order matching a simple sequential loop
    * (mirrors DuckDB's list_cosine_similarity float math for the oracle).
    */
  private[ops] def cosineF(a: Seq[Float], b: Seq[Float]): Double = {
    var dot = 0f
    var na = 0f
    var nb = 0f
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      dot += a(i) * b(i)
      na += a(i) * a(i)
      nb += b(i) * b(i)
      i += 1
    }
    // zero-norm vectors: define similarity 0 rather than NaN (NaN sorts
    // ABOVE all doubles in Spark desc order, which would rank a zero vector
    // as everyone's top neighbor)
    if (na == 0f || nb == 0f) 0.0
    else dot / math.sqrt(na.toDouble * nb.toDouble)
  }

  val cosineUdf = udf { (a: Seq[Float], b: Seq[Float]) => cosineF(a, b) }

  /** Pure-Column cosine via `zip_with` + `aggregate` — stays inside
    * whole-stage codegen, no UDF serialization boundary. Accumulates in
    * double (each float product widened), so the last ulps can differ from
    * cosineF's float32 accumulation; use THIS in hot paths with no
    * float32-parity oracle, and cosineUdf where DuckDB's
    * list_cosine_similarity float math must be matched bit-for-bit after
    * 4-decimal rounding (q17/q28).
    */
  def cosineCol(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    def dot(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
      aggregate(zip_with(x, y, (p, q) => p * q), lit(0.0), (acc, v) => acc + v)
    val ab = dot(a, b)
    val na = dot(a, a)
    val nb = dot(b, b)
    // zero-norm → 0.0, matching cosineF (NaN would sort above all doubles)
    when(na === 0.0 || nb === 0.0, 0.0).otherwise(ab / sqrt(na * nb))
  }

  /** Exact top-k neighbors for the first `nQueries` vectors.
    * Output: (query_id, rank, neighbor_id) — ints only, oracle-hashable.
    */
  def bruteForceTopK(emb: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val base = emb.select(col("vec_id"), col("embedding"))
    val q = base.filter(col("vec_id") < nQueries)
      .toDF("query_id", "q_embedding")
    val scored = base.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(cosineUdf(col("q_embedding"), col("embedding")), 4).as("c"))
    val w = Window.partitionBy("query_id").orderBy(col("c").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"))
  }

  /** Deterministic pseudo-random hyperplane weight for (plane, dim). */
  private def planeWeight(plane: Int, dim: Int): Float = {
    var x = plane.toLong * 0x9E3779B97F4A7C15L + dim.toLong * 0xC2B2AE3D27D4EB4FL
    x ^= (x >>> 33); x *= 0xFF51AFD7ED558CCDL; x ^= (x >>> 33)
    // map to [-1, 1)
    (x.toDouble / Long.MaxValue.toDouble).toFloat
  }

  private def signature(v: Seq[Float], nPlanes: Int): Int = {
    var sig = 0
    var p = 0
    while (p < nPlanes) {
      var dot = 0.0
      var i = 0
      while (i < v.length) { dot += v(i) * planeWeight(p, i); i += 1 }
      if (dot >= 0) sig |= (1 << p)
      p += 1
    }
    sig
  }

  /** LSH-bucketed ANN: candidates share the hyperplane-sign bucket; exact
    * cosine re-rank within the bucket. Same output shape as bruteForceTopK.
    * Multi-probe: each vector also lands in the `nProbes` buckets at Hamming
    * distance 1 (flipping one plane) to lift recall.
    *
    * `maxBucket` caps the corpus-side bucket population: a degenerate bucket
    * (e.g. all-zero or boilerplate embeddings collapsing to one signature)
    * otherwise makes the candidate join quadratic in that bucket. Members of
    * over-cap buckets are excluded from candidacy (an over-full LSH bucket
    * carries ~no discriminative signal); the drop is observable via
    * `hotBuckets`.
    */
  def lshTopK(emb: DataFrame, nQueries: Int, k: Int, nPlanes: Int,
      nProbes: Int = 4, maxBucket: Int = 100000): DataFrame = {
    val sigUdf = udf { (v: Seq[Float]) => signature(v, nPlanes) }
    val probesUdf = udf { (v: Seq[Float]) =>
      val s = signature(v, nPlanes)
      (s +: Array.tabulate(math.min(nProbes, nPlanes))(p => s ^ (1 << p)).toSeq).distinct
    }
    val base = emb.select(col("vec_id"), col("embedding"))
    // one signature pass: the bucketed table feeds the cap aggregation AND
    // the candidate join — materialized lazily so the hyperplane-dot UDF
    // runs once per corpus vector, not once per consumer
    val bucketed0 = base.withColumn("bucket", sigUdf(col("embedding")))
      .localCheckpoint(false)
    val keep = bucketed0.groupBy("bucket").agg(count(lit(1)).as("__bn"))
      .filter(col("__bn") <= maxBucket).select("bucket")
    val bucketed = bucketed0.join(keep, "bucket")
    val q = base.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"),
        explode(probesUdf(col("embedding"))).as("bucket"))
    val cand = bucketed.join(broadcast(q), "bucket")
      .filter(col("vec_id") =!= col("query_id"))
      // re-rank via the pure-Column cosine: the hot inner loop stays in
      // whole-stage codegen (no UDF boundary); no float32-parity oracle
      // binds this query (rows-only + planted-twin specs)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(cosineCol(col("q_embedding"), col("embedding")), 4).as("c"))
    // no dedup needed: each corpus vector owns exactly ONE bucket and the
    // probe list is distinct, so a (query, neighbor) pair meets at most once
    // in the equi-join — a dropDuplicates here would only add an exchange
    val w = Window.partitionBy("query_id").orderBy(col("c").desc, col("neighbor_id"))
    cand.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"))
  }

  /** HALF_UP 4-decimal rounding — matches Spark's `round(col, 4)` and
    * DuckDB's `round(x, 4)` (both round half away from zero), so centroid
    * argmax/probe ordering inside the UDFs is bit-consistent with the
    * oracle's SQL reconstruction.
    */
  private def round4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** IVF-flat ANN — the inverted-file scale path (the other standard ANN
    * layout besides hyperplane LSH): the corpus is partitioned into
    * `nCentroids` lists by nearest coarse centroid, and a query scans only
    * its `nProbes` closest lists instead of the whole corpus.
    *
    * Coarse centroids are the embeddings of the `nCentroids` smallest
    * vec_ids — a deterministic data sample (no k-means RNG/iteration state),
    * which keeps the whole operator a pure function of the table and lets
    * the q43 DuckDB oracle rebuild it exactly. Shape:
    *
    *   - centroids: one skinny collect → broadcast variable (driver-side by
    *     construction — this is the IVF coarse quantizer, not a data scan;
    *     even 10^6 centroids × 1 KB vectors is one ~1 GB broadcast)
    *   - assignment: map-only UDF over the broadcast array — no join, no
    *     shuffle; each row scans all k centroids, the right cost up to
    *     k ≈ 10^4
    *   - candidate gen: equi-join on the list id (shuffle-on-key), probing
    *     `nProbes`/`nCentroids` of the corpus — the 1/K read amplification
    *     win that makes IVF the on-disk ANN layout of choice
    *   - re-rank: exact cosine inside the probed lists only
    *
    * Ties everywhere break toward the smaller id after HALF_UP 4-decimal
    * rounding, mirrored by the oracle. Recall < 1 by construction (a true
    * neighbor assigned to an unprobed list is missed) — the recall floor vs
    * the exact scan is pinned in PipelineSpec alongside lshTopK's.
    *
    * `maxList` drops degenerate over-populated lists from candidacy
    * (identical boilerplate embeddings collapsing onto one centroid),
    * mirroring minhash/lsh hot-bucket hygiene; mirrored by the oracle.
    */
  def ivfTopK(emb: DataFrame, nQueries: Int, k: Int, nCentroids: Int = 16,
      nProbes: Int = 4, maxList: Int = 100000): DataFrame = {
    val spark = emb.sparkSession
    val cents: Array[(Long, Array[Float])] = emb
      .filter(col("vec_id") < nCentroids)
      .select(col("vec_id").cast("long"), col("embedding"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)
    require(cents.nonEmpty, "ivfTopK: empty centroid sample")
    val bc = spark.sparkContext.broadcast(cents)

    // every centroid scored for one row, in cid order
    def coarseCandidates(v: Seq[Float]): Array[(Double, Long)] =
      bc.value.map { case (cid, ce) => (round4(cosineF(v, ce)), cid) }

    val assignUdf = udf { (v: Seq[Float]) =>
      val scored = coarseCandidates(v)
      var best = scored(0)._2
      var bestC = Double.NegativeInfinity
      scored.foreach { case (c, cid) =>
        if (c > bestC) { bestC = c; best = cid } // ties keep the first seen
      }
      best
    }
    val probesUdf = udf { (v: Seq[Float]) =>
      coarseCandidates(v)
        .sortBy { case (c, cid) => (-c, cid) }
        .take(nProbes)
        .map(_._2)
        .toSeq
    }

    val base = emb.select(col("vec_id"), col("embedding"))
    // one assignment pass (same reasoning as lshTopK's bucketed table):
    // the cap aggregation and the probe join share the materialized lists
    val lists0 = base.withColumn("list", assignUdf(col("embedding")))
      .localCheckpoint(false)
    val keep = lists0.groupBy("list").agg(count(lit(1)).as("__ln"))
      .filter(col("__ln") <= maxList).select("list")
    val lists = lists0.join(keep, "list")
    val q = base.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"),
        explode(probesUdf(col("embedding"))).as("list"))
    // one list per corpus vector + distinct probes ⇒ a (query, neighbor)
    // pair meets at most once; no dedup exchange needed
    val cand = lists.join(broadcast(q), "list")
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(cosineUdf(col("q_embedding"), col("embedding")), 4).as("c"))
    val w = Window.partitionBy("query_id").orderBy(col("c").desc, col("neighbor_id"))
    cand.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"))
  }

  /** Sign-quantization block key over the first `dims` dimensions —
    * axis-aligned hyperplane LSH as a PURE Column expression (bit d set iff
    * embedding[d] >= 0). Stays in whole-stage codegen and is exactly
    * reproducible in the DuckDB oracle, unlike the mixed-weight hyperplanes.
    */
  def signBlock(embCol: org.apache.spark.sql.Column, dims: Int): org.apache.spark.sql.Column = {
    require(dims >= 1 && dims <= 31, s"signBlock dims must be in [1, 31], got $dims")
    (0 until dims).map { d =>
      val e = element_at(embCol, d + 1)
      // a missing/NULL dimension yields a NULL block key, so the row drops
      // out of the candidate join — exactly what the DuckDB oracle's
      // (embedding[d+1] >= 0)::int arithmetic does with NULL
      when(e.isNull, lit(null).cast("int"))
        .when(e >= 0f, 1 << d).otherwise(0)
    }.reduce(_ + _)
  }

  /** Embedding-cosine near-dup pairs at scale: candidates share the
    * sign-quantization block (equi-join on the block key — shuffle-bounded,
    * never a cartesian/BroadcastNestedLoop), exact cosine >= `threshold` as
    * the re-rank filter. Recall < 1 by LSH construction: a qualifying pair
    * split across blocks is missed — the standard trade for replacing the
    * O(n^2) all-pairs scan at 10^12 rows.
    *
    * `maxBucket` drops degenerate blocks (see lshTopK) — mirrored exactly by
    * the q28 oracle so capped and uncapped runs stay hash-comparable.
    */
  def blockedNearDup(emb: DataFrame, threshold: Double, dims: Int = 8,
      maxBucket: Int = 100000): DataFrame = {
    // one embedding-table pass: the cap aggregation and both self-join
    // sides otherwise each re-scan the embedding source (the block key
    // itself is cheap codegen — the saved work is the repeated scan)
    val e = emb.select(col("vec_id"), col("embedding"),
      signBlock(col("embedding"), dims).as("block"))
      .localCheckpoint(false)
    val keep = e.groupBy("block").agg(count(lit(1)).as("__bn"))
      .filter(col("__bn") <= maxBucket).select("block")
    val kept = e.join(keep, "block")
    val a = kept.toDF("block", "id1", "emb1")
    val b = kept.toDF("block", "id2", "emb2")
    a.join(b, Seq("block"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        round(cosineUdf(col("emb1"), col("emb2")), 4).as("c"))
      .filter(col("c") >= threshold)
  }
}
