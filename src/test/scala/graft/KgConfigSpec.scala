package graft

import graft.kg._
import graft.model._
import java.util.concurrent.{CompletableFuture, CountDownLatch}
import org.scalatest.funsuite.AnyFunSuite

/** A [[KgConfig]] is a value: configs run side by side on one session,
  * each sees only its own grammar, KB and flags, and configs that share a
  * grammar and KB share one set of broadcasts.
  */
class KgConfigSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def triples(turns: Seq[Turn], cfg: KgConfig): Set[(String, String, String)] = {
    import spark.implicits._
    Pipeline.extract(spark, spark.createDataset(turns), cfg).edges
      .select("subj", "pred", "obj").as[(String, String, String)]
      .collect().toSet
  }

  test("two configs extract concurrently on one session, each as it does " +
       "alone") {
    val turns = Seq(Transcripts.mkTurn("dslconv", 0, "user",
      "MEK1 hyperphosphorylates ERK2."))
    val dsl = KgConfig.default.withRules(RuleDsl.parse(RuleDslSpec.newRuleDsl))
    val configs = Seq(dsl, KgConfig.default)
    val serial = configs.map(triples(turns, _))
    assert(serial == Seq(RuleDslSpec.dslTriples, Set.empty))
    val start = new CountDownLatch(1)
    val inFlight = configs.map { cfg =>
      CompletableFuture.supplyAsync { () =>
        start.await()
        triples(turns, cfg)
      }
    }
    start.countDown()
    assert(inFlight.map(_.get()) == serial)
  }

  test("broadcasts: one set per grammar and KB, shared by configs that " +
       "differ only in their flags") {
    val sc = spark.sparkContext
    val base = Broadcasts.all(sc)
    assert(Broadcasts.all(sc, KgConfig.default) eq base)
    val flags = KgConfig(contextPolicy = ConvProcessor.PolicyBidirectional,
      crossConvAliases = true, overrideSpecies = true)
    val shared = Broadcasts.all(sc, flags)
    assert(shared._1 eq base._1)
    assert(shared._2 eq base._2)
    assert(shared._3 eq base._3)
    val own = Broadcasts.all(sc, KgConfig(grammar = BioRules.default
      .withRules(RuleDsl.parse(RuleDslSpec.newRuleDsl).rules)))
    assert(own._3 ne base._3)
    // the built-in KB leaves the grammar's taxonomy and heads as they are
    assert(KgConfig.default.effectiveGrammar == BioRules.default)
    intercept[IllegalArgumentException](KgConfig(contextPolicy = "forward"))
  }

  test("overrideSpecies reaches the fold through the pipeline") {
    val turns = Seq(
      Transcripts.mkTurn("os", 0, "user", "We studied mouse fibroblasts."),
      Transcripts.mkTurn("os", 1, "user", "ERK2 was phosphorylated at T669."))
    // context-sensitive default: the mouse context picks the mouse ERK2
    assert(triples(turns, KgConfig.default)
      .contains(("", "Phosphorylation", "uniprot:P63085")))
    // override: the species context is ignored and the human ERK2 wins
    val over = triples(turns, KgConfig(overrideSpecies = true))
    assert(over.contains(("", "Phosphorylation", "uniprot:P28482")), over)
    assert(!over.exists(_._3 == "uniprot:P63085"), over)
  }
}
