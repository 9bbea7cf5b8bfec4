package graft

import graft.kg._
import graft.model.{Lineage, Turn}
import org.apache.spark.sql.Dataset
import org.apache.spark.util.CollectionAccumulator
import org.scalatest.funsuite.AnyFunSuite

/** The in-process conversation core ≡ the Spark stages: for every
  * conversation, the core over its turns gives the stage_b rows
  * `Pipeline.stageB ∘ stageMentions` gives it over the whole corpus.
  */
class KgCoreSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val policies =
    Seq(ConvProcessor.PolicyBackward, ConvProcessor.PolicyBidirectional)

  private def sparkRows(turns: Dataset[Turn], cfg: KgConfig): Seq[String] = {
    val acc = new CollectionAccumulator[Lineage]
    spark.sparkContext.register(acc)
    Pipeline.stageB(spark, Pipeline.stageMentions(spark, turns, "spec", acc,
      cfg), "spec", acc, cfg).toJSON.collect().toSeq.sorted
  }

  /** The core run once per conversation, in fold groups of `groupTurns`
    * turns; every row as its JSON. */
  private def coreRows(turns: Seq[Turn], cfg: KgConfig,
                       groupTurns: Int): Seq[String] = {
    val parts = KgCore.compile(cfg)
    val rows = turns.groupBy(_.conv_id).values.toSeq.flatMap(ts =>
      KgCore.fold(KgCore.mentions(ts, parts, cfg), parts, cfg, groupTurns))
    spark.createDataset(rows).toJSON.collect().toSeq.sorted
  }

  private def assertSame(turns: Seq[Turn], cfg: KgConfig,
                         groupTurns: Int = KgCore.chunkTurns): Unit = {
    val want = sparkRows(spark.createDataset(turns), cfg)
    val got = coreRows(turns, cfg, groupTurns)
    assert(want.nonEmpty)
    assert(got.size == want.size, s"${cfg.contextPolicy}: row counts")
    if (got != want) fail(s"${cfg.contextPolicy}: first diff " +
      (got.diff(want) ++ want.diff(got)).head)
  }

  test("golden corpus: core stage_b ≡ Spark stage_b per conversation, " +
       "under both context policies") {
    val turns = Transcripts.golden._1
    assert(turns.map(_.conv_id).distinct.size == 293)
    policies.foreach(p => assertSame(turns, KgConfig(contextPolicy = p)))
  }

  test("a conversation longer than chunkTurns folds in the same groups") {
    // ... and they give the rows of one whole-conversation fold
    val (ds, _) = Transcripts.corpus(spark, 6, seed = 5,
      megaTurns = KgCore.chunkTurns + 150)
    // a species context one turn before the chunk edge and the event right
    // after it: the group after the edge sees the species in its halo
    val n = KgCore.chunkTurns
    val edge = (0 until n - 1).map(i =>
      Transcripts.mkTurn("edge", i, "user", "Thanks.")) ++ Seq(
      Transcripts.mkTurn("edge", n - 1, "user", "We studied mouse fibroblasts."),
      Transcripts.mkTurn("edge", n, "user", "ERK2 was phosphorylated at T669."),
      Transcripts.mkTurn("edge", n + 1, "user", "Other work used human cells."))
    val turns = ds.collect().toSeq ++ edge
    assert(turns.count(_.conv_id == "mega") > n)
    policies.foreach(p =>
      assertSame(turns, KgConfig(contextPolicy = p), Int.MaxValue))
  }

  test("alias definitions: the rescan surfaces match, also pooled with " +
       "crossConvAliases on a one-conversation corpus") {
    val golden = Transcripts.golden._1
    Seq("g93", "g186", "g187").foreach { c =>
      val turns = golden.filter(_.conv_id == c)
      val parts = KgCore.compile(KgConfig.default)
      assert(turns.exists(t => BioRules.aliasDefsTurn(
        KgCore.annotate(parts.trie, t), parts.grammar).nonEmpty),
        s"$c defines no alias")
      Seq(false, true).foreach(pool =>
        assertSame(turns, KgConfig(crossConvAliases = pool)))
    }
  }
}
