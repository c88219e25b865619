package graft
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** Whole-suite physical-plan audit AND regression gate: flags
  * cartesian/nested-loop joins, counts exchanges + non-codegen UDF operators
  * per query, and FAILS (nonzero exit) when any query's final plan exceeds
  * the exchange budget or plans a non-whitelisted nested-loop join — so
  * lineage growth (the round-2 q38 defect: 4,088 Exchange nodes from an
  * uncheckpointed iterative loop) can never silently return. A query whose
  * DataFrame cannot be built gets an ERROR line, the sweep goes on, and the
  * exit is still nonzero, naming it. Run after any query change:
  *   sbt -batch "runMain graft.PlanSweep [sfDir]"
  *
  * Known, deliberate exception: q17_embed_topk is the EXACT brute-force ANN
  * baseline — a crossJoin against a broadcast 8-row query side plans as
  * BroadcastNestedLoop by construction (linear in the corpus, the correct
  * shape for an exact-scan baseline; the scale path is q18/q28's LSH).
  */
object PlanSweep {

  /** Max Exchange operators allowed in any query's FINAL physical plan.
    * Every current query plans ≤ 8; the iterative clustering queries (q38,
    * q39) end in a localCheckpoint scan, so their final plans are nearly
    * exchange-free — a budget breach means someone re-introduced unbounded
    * lineage or an accidental extra shuffle.
    */
  val ExchangeBudget = 12

  /** Queries whose nested-loop join is deliberate (documented above). */
  val BnljWhitelist: Set[String] = Set("q17_embed_topk")

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.ui.enabled", false).appName("plansweep").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val bad = Seq("CartesianProduct", "BroadcastNestedLoop")
    var violations = 0
    val unbuilt = Seq.newBuilder[String]
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val built =
        try Some(fn(spark, sfDir).queryExecution.executedPlan.toString)
        catch {
          case NonFatal(e) =>
            unbuilt += name
            println(s"$name: ERROR cannot build plan: ${e.toString.linesIterator.next()}")
            None
        }
      built.foreach { plan =>
        val hits = bad.filter(plan.contains)
          .filterNot(_ => BnljWhitelist.contains(name))
        val exchanges = "Exchange".r.findAllIn(plan).length
        val udfs = "BatchEvalPython|ScalaUDF".r.findAllIn(plan).length
        val overBudget = exchanges > ExchangeBudget
        if (hits.nonEmpty || overBudget) violations += 1
        println(s"$name: exchanges=$exchanges udf=$udfs" +
          (if (overBudget) s"  !!! OVER BUDGET ($ExchangeBudget)" else "") +
          (if (hits.nonEmpty) s"  !!! ${hits.mkString(",")}" else ""))
      }
    }
    spark.stop()
    val failed = unbuilt.result()
    if (failed.nonEmpty)
      System.err.println(s"[plansweep] FAIL: no plan for ${failed.mkString(", ")}")
    if (violations > 0)
      System.err.println(s"[plansweep] FAIL: $violations quer${if (violations == 1) "y" else "ies"} violated the plan budget")
    if (failed.nonEmpty || violations > 0) sys.exit(1)
    println("[plansweep] PASS: all plans within budget")
  }
}
