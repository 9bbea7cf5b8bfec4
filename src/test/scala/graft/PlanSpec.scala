package graft

import graft.kg.{Pipeline, Transcripts}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape pins for the KG headline queries (BENCH/PLANS.md): a query
  * may not gain a shuffle exchange. Counted on AQE's initial physical plan,
  * which is fixed at planning time (the final plan depends on runtime sizes).
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  // ShuffleExchangeExec nodes per query, measured at the commit that
  // introduced this spec (kg_link_firsthit re-measured when it moved onto
  // the fold's broadcast KbIndex lookup; kg_precedence when extract began
  // holding stage_b as a local checkpoint instead of a cache entry;
  // kg_emit_indexcard and kg_emit_assembly when edges and cards became
  // typed functions over a broadcast canon map and node catalog;
  // kg_precedence and kg_emit_assembly again when the precedence sieves
  // became one per-conversation function behind a groupByKey; the other
  // tabular exporters pinned, and kg_emit_assembly and its MITRE variant
  // (10 before) re-measured, when their rows became KgExport functions
  // behind per-conversation and per-row-key groups; kg_emit_assembly_mitre
  // (8 before) again when it began holding its kept rows as an eager local
  // checkpoint: the returned plan reads the held rows, whose own plan is
  // kg_emit_assembly's)
  private val maxShuffles = Seq(
    "kg_mentions" -> 0,
    "kg_link_firsthit" -> 0,
    "kg_precedence" -> 2,
    "kg_emit_assembly" -> 3,
    "kg_emit_assembly_mitre" -> 0,
    "kg_emit_arizona" -> 1,
    "kg_emit_cmu" -> 2,
    "kg_emit_serial" -> 0,
    "kg_emit_indexcard" -> 2)

  private def shuffles(qe: QueryExecution): Int =
    qe.executedPlan match {
      case a: AdaptiveSparkPlanExec =>
        a.initialPlan.collect { case e: ShuffleExchangeExec => e }.size
      case p => p.collect { case e: ShuffleExchangeExec => e }.size
    }

  for ((name, max) <- maxShuffles)
    test(s"$name gains no shuffle exchange (<= $max)") {
      val n = shuffles(SparkEntry.queries(name)(spark, dir).queryExecution)
      assert(n <= max, s"$name plans $n shuffle exchanges, pinned at $max")
    }

  /** (action name, exchanges) of every plan run while `name` is built: its
    * eager holds and driver-side collects, which the returned plan reads but
    * the pins above do not count. Read on a second build, once SparkEntry's
    * pipeline memo is filled, so only the query's own actions run.
    */
  private def buildPlans(name: String): Seq[(String, Int)] = {
    val build = SparkEntry.queries(name)
    build(spark, dir)
    val marker = "graft_plan_spec_marker"
    val seen = new java.util.concurrent.LinkedBlockingQueue[(String, QueryExecution)]
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        seen.add(f -> qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        seen.add(f -> qe)
    }
    spark.listenerManager.register(listener)
    try {
      build(spark, dir)
      // the listener bus is asynchronous and in order: once the marker
      // action's plan arrives, every plan the build ran has arrived too
      spark.range(1).toDF(marker).collect()
      Iterator.continually(seen.poll(60, java.util.concurrent.TimeUnit.SECONDS))
        .map(p => Option(p).getOrElse(fail(s"no marker plan after $name")))
        .takeWhile { case (_, qe) => qe.analyzed.output.map(_.name) != Seq(marker) }
        .map { case (f, qe) => f -> shuffles(qe) }.toList
    } finally spark.listenerManager.unregister(listener)
  }

  // the local checkpoint of the kept rows plans kg_emit_assembly's 3
  // exchanges, the collects of the canon map and the EVENT_IDs 0 each
  test("kg_emit_assembly_mitre's build-time plans gain no shuffle exchange " +
       "(<= 3)") {
    val plans = buildPlans("kg_emit_assembly_mitre")
    assert(plans.map(_._1).contains("localCheckpoint"), plans)
    val n = plans.map(_._2).sum
    assert(n <= 3, s"building it runs $n shuffle exchanges ($plans), pinned at 3")
  }

  // Pipeline.stageMaterialize over the golden stage_b: edges deduplicate on
  // edge_id; nodes count their surfaces per partition before the one group
  // per canonical id (a per-surface aggregate before it planned 2)
  test("stageMaterialize plans edges and nodes with 1 shuffle exchange each") {
    val run = Pipeline.extract(spark, Transcripts.goldenTurns(spark))
    val (edges, nodes) =
      Pipeline.stageMaterialize(spark, run.stageB, run.canonMap)
    assert((shuffles(edges.queryExecution), shuffles(nodes.queryExecution)) ==
      (1, 1))
  }
}
