package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.Dedup

/** dedup_corpus: a seeded corpus of planted near-duplicate clusters through
  * `Dedup.nearDupClusters` → `Dedup.dedupCorpus`. The kernel is never
  * called: shuffle, label propagation and materialization do the work.
  */
object DedupCorpus {

  val Docs = 100000
  /** `Dedup`'s default MinHash banding. */
  val Bands = 8

  def setUp(ctx: Ctx, lay: DedupGen.Layout, dir: String): DataFrame = {
    DedupGen.table(ctx.spark, ctx.seed, lay, 2 * ctx.cpus).write.parquet(dir)
    val docs = ctx.spark.read.parquet(dir)
    docs.count()
    docs
  }

  /** Output checks on one clustering: every document in exactly one
    * cluster, one survivor per cluster. Returns the share of planted
    * duplicates found in their planted cluster, and the cluster count.
    */
  def check(res: Result, n: Int, lay: DedupGen.Layout, docs: DataFrame,
      clusters: DataFrame): (Double, Long) = {
    val c = clusters.agg(count(lit(1)), countDistinct(col("doc_id")),
      countDistinct(col("cluster_id"))).collect().head
    res.check("every_doc_clustered_once", c.getLong(0) == n && c.getLong(1) == n,
      s"rows=${c.getLong(0)} distinct=${c.getLong(1)}")
    val kept = Dedup.dedupCorpus(docs, clusters)
      .agg(count(lit(1)), countDistinct(col("doc_id")), sum("cluster_size")).collect().head
    res.check("one_survivor_per_cluster",
      kept.getLong(0) == c.getLong(2) && kept.getLong(1) == kept.getLong(0),
      s"survivors=${kept.getLong(0)} clusters=${c.getLong(2)}")
    res.check("survivor_sizes_sum_to_corpus", kept.getLong(2) == n, s"${kept.getLong(2)}")
    val starts = lay.starts
    val planted = udf((id: Long) => DedupGen.Layout(Array.empty, starts).clusterOf(id))
    val r = clusters.withColumn("planted", planted(col("doc_id")))
      .groupBy("planted").agg(countDistinct("cluster_id").as("found"), count(lit(1)).as("n"))
      .filter(col("n") > 1)
      .agg(sum(when(col("found") === 1, col("n")).otherwise(0L)), sum("n")).collect().head
    (r.getLong(0).toDouble / math.max(1L, r.getLong(1)), c.getLong(2))
  }

  final case class Iter(dedupS: Double, scaling: Seq[(Double, Double)]) {
    def parS: Double = Stats.median(scaling.map(_._1))
    def oneS: Double = Stats.median(scaling.map(_._2))
  }

  def run(ctx: Ctx): Result = run(ctx, Docs, main = true)

  /** The workload at full size (`main`), or a one-iteration traced pass
    * for another workload's traced run.
    */
  def run(ctx: Ctx, n: Int, main: Boolean): Result = {
    val res = new Result
    val lay = DedupGen.layout(ctx.seed, n)
    val docs = setUp(ctx, lay, ctx.fresh("dedup_input"))
    // traced runs: the map stage alone (MinHash band sketches) over half
    // the corpus, on all cores and in one task
    val half = docs.filter(col("doc_id") % 2 === 0)
    val par = half.repartition(ctx.cpus)
    val one = half.coalesce(1)
    if (ctx.trace.enabled) { par.cache().count(); one.cache().count() }

    // the first (untimed) warm-up iteration keeps its clusters for the
    // output checks; the next one absorbs the clean-up of what they left
    var checked = false
    var recall = 0.0
    var nClusters = 0L
    val its = Ctx.loop(ctx, main) { _ =>
      val (_, d) = Ctx.seconds {
        val clusters = ctx.span("ops", "near_dup_clusters")(Dedup.nearDupClusters(docs))
        if (!checked) ctx.check {
          checked = true
          clusters.cache()
          val (r, c) = check(res, n, lay, docs, clusters)
          recall = r
          nClusters = c
        }
        ctx.span("ops", "dedup_corpus")(ctx.drain(Dedup.dedupCorpus(docs, clusters)))
        clusters.unpersist()
      }
      Iter(d, if (!ctx.trace.enabled) Nil else Ctx.scaling(
        ctx.span("ops", "minhash_bands")(ctx.drain(Dedup.minhashBands(par, 32, Bands))),
        ctx.span("ops", "minhash_bands_1task")(ctx.drain(Dedup.minhashBands(one, 32, Bands)))))
    }

    // share of (doc, band) memberships the hot-bucket cap drops, and the
    // largest bucket's share of the corpus
    val (hot, largest) = if (!ctx.trace.enabled) (0.0, 0.0) else {
      val h = Dedup.hotBuckets(docs).agg(sum("n"), max("n")).collect().head
      val (dropped, top) = if (h.isNullAt(0)) (0L, 0L) else (h.getLong(0), h.getLong(1))
      (dropped.toDouble / (n.toLong * Bands), top.toDouble / n)
    }
    par.unpersist(); one.unpersist()

    val med = (f: Iter => Double) => Stats.median(its.filterNot(_.traced).map(i => f(i.value)))
    if (main) {
      res.e2e("setup_s", ctx.setupS, "s")
      res.e2e("docs_per_s", n / med(_.dedupS), "1/s")
      res.layer("trace.overhead_share", Ctx.overhead(its), "ratio")
    }
    ctx.trace.settle()
    val on = its.filter(_.traced)
    val work = (name: String) => on.flatMap(_.spans.filter(_.name == name)).map(s => ctx.trace.workOf(s.id))
    val dedupWork = work("near_dup_clusters") ++ work("dedup_corpus")
    val tm = (f: Ctx.It[Iter] => Double) => Ctx.tracedMedian(its)(f)
    res.layer("ops.dedup_docs_per_s", n / tm(_.value.dedupS), "1/s")
    Seq("near_dup_clusters", "dedup_corpus").foreach(s => res.layer(s"ops.${s}_s", tm(_.spanS(s)), "s"))
    res.layer("ops.minhash_bands_s", tm(_.value.parS), "s")
    res.layer("ops.scaling_efficiency", Ctx.efficiency(its.flatMap(_.value.scaling), ctx.cpus), "ratio")
    res.layer("ops.cluster_jobs", work("near_dup_clusters").map(_.jobs).sum.toDouble / math.max(1, on.length), "count")
    res.layer("ops.dedup_shuffle_bytes",
      dedupWork.map(w => w.shuffleRead + w.shuffleWrite).sum.toDouble / math.max(1, on.length), "bytes")
    res.layer("ops.dedup_spill_bytes", dedupWork.map(_.spill).sum.toDouble / math.max(1, on.length), "bytes")
    res.layer("ops.dedup_task_skew", Stats.skew(dedupWork.flatMap(_.taskMs).map(_.toDouble)), "ratio")
    res.layer("ops.hot_bucket_drop_share", hot, "ratio")
    res.layer("ops.planted_pair_recall", recall, "ratio")
    val sizes = lay.sizes.toSeq.map(_.toDouble)
    println(s"[perfbench] dedup_corpus docs=$n clusters=$nClusters planted_clusters=${lay.sizes.length} " +
      f"singleton_share=${sizes.count(_ == 1).toDouble / sizes.length}%.3f " +
      f"largest_bucket_share=$largest%.4f hot_bucket_drop_share=$hot%.4f recall=$recall%.4f " +
      f"dup_cluster_size_p50=${Stats.nearestRank(sizes.filter(_ > 1), 50)}%.0f " +
      f"p99=${Stats.nearestRank(sizes.filter(_ > 1), 99)}%.0f max=${sizes.max}%.0f " +
      s"iterations(dedup,par,one)=" + its.map(i => f"${if (i.traced) "T" else "U"}(${i.value.dedupS}%.2f," +
        f"${i.value.parS}%.2f,${i.value.oneS}%.2f)").mkString(" "))
    res
  }
}
