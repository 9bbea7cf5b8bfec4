package graft

import graft.kg._
import graft.model._
import graft.streaming.StreamingPipeline
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming mode == batch mode on in-order turn arrival, including
  * cross-turn coref carried through the bounded state.
  */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val bidi = KgConfig(contextPolicy = ConvProcessor.PolicyBidirectional)

  /** Everything a streaming query emits when fed `batches` as successive
    * micro-batches.
    */
  private def streamed(name: String, cfg: KgConfig,
                       batches: Seq[Seq[Turn]]): Seq[PreTriple] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Turn]
    val q = StreamingPipeline.triples(spark, stream.toDS(), cfg = cfg)
      .writeStream.outputMode("append").format("memory").queryName(name)
      .start()
    try {
      batches.foreach { b => stream.addData(b); q.processAllAvailable() }
      spark.table(name).as[PreTriple].collect().toSeq
    } finally q.stop()
  }

  private def conv(id: String, first: String, filler: Seq[String],
                   last: String): Seq[Turn] =
    ((first +: filler) :+ last).zipWithIndex.map { case (t, i) =>
      Transcripts.mkTurn(id, i, "user", t) }

  private def key(t: PreTriple) = (t.turn_idx, t.pred, t.obj_gid, t.ctx_species)

  /** The fold's triples of `Pipeline.extract`, before canonicalization. */
  private def batchTriples(turns: Seq[Turn], cfg: KgConfig)
      : Set[(Int, String, String, String)] = {
    import spark.implicits._
    Pipeline.extract(spark, spark.createDataset(turns), cfg).stageB
      .filter(col("kind") === "triple").select("triple.*").as[PreTriple]
      .collect().map(key).toSet
  }

  private def phospho(ts: Set[(Int, String, String, String)]) =
    ts.filter(_._2 == "Phosphorylation").map(t => (t._1, t._3, t._4))

  test("streaming triples match batch pipeline across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // g23/g189 exercise the BACKWARD alias rescan (surface used before its
    // definition) — a whole-corpus second pass that streaming append mode
    // cannot replay; the batch==stream equivalence claim excludes them
    // (documented in StreamingPipeline's scaladoc)
    val backwardAlias = Set("g23", "g189")
    val (goldenTurns, _) = Transcripts.golden match {
      case (ts, es) => (ts.filterNot(t => backwardAlias(t.conv_id)), es)
    }
    val batchRes = Pipeline.extract(spark,
      spark.createDataset(goldenTurns))
    val batchKeys = batchRes.edges
      .select("conv_id", "turn_idx", "pred", "negated").collect()
      .map(_.toSeq).toSet

    val stream = MemoryStream[Turn]
    val out = StreamingPipeline.triples(spark, stream.toDS())
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("triples_out")
      .start()
    try {
      // feed turn 0s first, then turn 1s: cross-turn coref (g08/g09) must
      // resolve via state, not within one batch
      val (t0, t1) = goldenTurns.partition(_.turn_idx == 0)
      stream.addData(t0)
      q.processAllAvailable()
      stream.addData(t1)
      q.processAllAvailable()
      val got = spark.table("triples_out")
        .select("conv_id", "turn_idx", "pred", "negated").collect()
        .map(_.toSeq).toSet
      assert(got == batchKeys,
        s"missing=${batchKeys -- got}\nspurious=${got -- batchKeys}")
    } finally q.stop()
  }

  test("streaming Policy4 delayed emission: turns seal once their forward " +
       "window is complete; the idle-timeout flush makes streaming ≡ batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val turns = Seq(
      Transcripts.mkTurn("p4", 0, "user", "ERK2 was phosphorylated at T669."),
      Transcripts.mkTurn("p4", 1, "assistant", "We studied mouse fibroblasts."),
      Transcripts.mkTurn("p4", 2, "user", "Data handling followed procedures."),
      Transcripts.mkTurn("p4", 3, "assistant", "Additional runs were recorded."),
      Transcripts.mkTurn("p4", 4, "user", "JAK3 phosphorylates HuR."))

    // batch Policy4 reference output
    val batch = Pipeline.extract(spark, spark.createDataset(turns), bidi)
      .edges.select("turn_idx", "pred", "ctx_species")
      .as[(Int, String, String)].collect().toSet

    // no idleTimeout in the streamed part: processing-time timeouts spin
    // continuous timeout-check micro-batches that defeat
    // processAllAvailable in a deterministic test — the flush body is
    // exercised directly below with the exact state the handler holds
    val stream = MemoryStream[Turn]
    val out = StreamingPipeline.triples(spark, stream.toDS(), cfg = bidi)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("triples_p4d").start()
    val sealedOut =
      try {
        stream.addData(turns)
        q.processAllAvailable()
        spark.table("triples_p4d").filter(col("conv_id") === "p4")
          .select("turn_idx", "pred", "ctx_species")
          .as[(Int, String, String)].collect().toSet
      } finally q.stop()
    // frontier is turn 4 -> sealed through turn 1: the turn-0 event
    // emits WITH the forward-filled species (full Policy4 window)...
    assert(sealedOut.contains((0, "Phosphorylation", "taxonomy:10090")),
      sealedOut.toString)
    // ...but the frontier turn's triples are held back (no forward
    // window yet — emitting now would freeze ctx prematurely)
    assert(!sealedOut.exists(_._1 == 4), sealedOut.toString)

    // idle-timeout flush ≡ batch end-of-conversation: run the step the
    // handler runs on its timeout, with the state it holds after the batch
    // above (every turn within the halo of the frontier, sealed through
    // turn 1): the unsealed turns are its own turns
    val parts = KgCore.compile(bidi)
    val mentions = KgCore.mentions(turns, parts, bidi).map(KgCore.compact)
    val flushed = KgCore.step("p4", mentions.filter(_.turn_idx > 1),
        mentions, Some(KgCore.scope(ConvProcessor.ctxCounts(mentions), mentions)),
        parts.kb, parts.grammar.taxonomy, bidi.contextPolicy,
        overrideSpecies = false)
      .flatMap(_.triple).map(t => (t.turn_idx, t.pred, t.ctx_species)).toSet
    assert(flushed.forall(_._1 > 1), flushed.toString)
    val streamedTotal = sealedOut ++ flushed
    assert(streamedTotal == batch,
      s"missing=${batch -- streamedTotal}\nspurious=${streamedTotal -- batch}")
  }

  test("streaming defaults to the backward policy; Policy4 is opted into " +
       "via the config") {
    // with the DEFAULT (backward) policy the turn-0 triple emits in the
    // micro-batch that processes turn 0, before the species arrives, so
    // its ctx_species stays "" — delayed emission happens only under a
    // bidirectional config (previous test)
    val turns = Seq(
      Transcripts.mkTurn("sp4", 0, "user", "ERK2 was phosphorylated at T669."),
      Transcripts.mkTurn("sp4", 1, "assistant", "We studied mouse fibroblasts."))
    val got = streamed("triples_p4", KgConfig.default,
      Seq(turns.take(1), turns.drop(1)))
      .map(t => (t.pred, t.ctx_species))
    val ph = got.filter(_._1 == "Phosphorylation")
    assert(ph.nonEmpty && ph.forall(_._2 == ""),
      s"streaming must stay backward-policy: $got")
    // batch under the bidirectional config DOES fill the slot — the
    // deviation is observable and exactly the forward half
    import spark.implicits._
    val batch = Pipeline.extract(spark, spark.createDataset(turns), bidi)
      .edges.select("pred", "ctx_species").as[(String, String)].collect()
      .filter(_._1 == "Phosphorylation")
    assert(batch.nonEmpty && batch.forall(_._2 == "taxonomy:10090"))
  }

  test("the default from the future stays a deviation: one turn per " +
       "micro-batch, the event emits before the species arrives") {
    // batch's backward policy takes the whole conversation's default
    // (mouse); streaming's running default has seen no species yet
    val turns = conv("dfut", "ERK2 was phosphorylated at T669.",
      Seq.fill(4)("MEK1 was detected."), "We studied mouse fibroblasts.")
    assert(phospho(batchTriples(turns, KgConfig.default)) ==
      Set((0, "uniprot:P63085", "taxonomy:10090")))
    assert(phospho(streamed("triples_dfut", KgConfig.default,
        turns.map(Seq(_))).map(key).toSet) ==
      Set((0, "uniprot:P28482", "")))
  }

  test("the default from the past reaches a turn five turns later, one " +
       "turn per micro-batch") {
    val turns = conv("dpast", "We studied mouse fibroblasts.",
      Seq.fill(4)("MEK1 was detected."), "ERK2 was phosphorylated at T669.")
    val batch = batchTriples(turns, KgConfig.default)
    assert(phospho(batch) == Set((5, "uniprot:P63085", "taxonomy:10090")))
    assert(streamed("triples_dpast", KgConfig.default, turns.map(Seq(_)))
      .map(key).toSet == batch)
  }

  test("a fold-group edge does not show: the edge conversation in " +
       "200-turn micro-batches ≡ batch") {
    // the species at turn chunkTurns - 1, the event right after the edge
    val n = KgCore.chunkTurns
    val turns = (0 until n - 1).map(i =>
      Transcripts.mkTurn("edge", i, "user", "Thanks.")) ++ Seq(
      Transcripts.mkTurn("edge", n - 1, "user", "We studied mouse fibroblasts."),
      Transcripts.mkTurn("edge", n, "user", "ERK2 was phosphorylated at T669."))
    val batch = batchTriples(turns, KgConfig.default)
    assert(phospho(batch) == Set((n, "uniprot:P63085", "taxonomy:10090")))
    assert(streamed("triples_edge", KgConfig.default, turns.grouped(200).toSeq)
      .map(key).toSet == batch)
  }

  test("a late turn emits its batch triples exactly once under either " +
       "policy") {
    import spark.implicits._
    val turns = Seq(
      "MEK1 phosphorylates ERK2.",
      "JAK3 phosphorylates HuR.",
      "We studied mouse fibroblasts.",
      "Data handling followed procedures.",
      "Additional runs were recorded.",
      "AKT1 binds MEK1.").zipWithIndex.map { case (t, i) =>
      Transcripts.mkTurn("late", i, "user", t) }
    // turn 1 arrives after turns 0 and 2-5 have been processed
    val (late, onTime) = turns.partition(_.turn_idx == 1)
    for (cfg <- Seq(KgConfig.default, bidi)) {
      val batch = Pipeline.extract(spark, spark.createDataset(turns), cfg)
        .edges.filter(col("turn_idx") === 1)
        .select("subj", "pred", "ctx_species")
        .as[(String, String, String)].collect().toSet
      assert(batch.nonEmpty)
      val got = streamed("triples_late", cfg, Seq(onTime, late))
      val lateOut = got.filter(_.turn_idx == 1)
        .map(t => (t.subj_gid, t.pred, t.ctx_species)).toSet
      assert(lateOut == batch, s"${cfg.contextPolicy}: late turn emitted " +
        s"$lateOut, batch has $batch")
      val keys = got.map(t => (t.turn_idx, t.pred, t.obj_pred, t.obj_gid,
        t.obj_gid2))
      assert(keys.distinct.size == keys.size,
        s"${cfg.contextPolicy}: triples emitted twice: " +
          keys.diff(keys.distinct))
    }
  }

  test("a comma-form alias definition reaches the alias pre-pass in batch " +
       "and streaming") {
    import spark.implicits._
    def conv(id: String, definition: String): Seq[Turn] =
      Seq("MEK1 phosphorylates ERK2.", definition,
        "Zorp1 phosphorylates MEK1.").zipWithIndex.map { case (t, i) =>
        Transcripts.mkTurn(id, i, "user", t) }
    val comma = conv("alias_comma", "Zorp1, also called AKT1, phosphorylates ERK2.")
    val paren = conv("alias_paren", "Zorp1 (also called AKT1) phosphorylates ERK2.")
    def batch(turns: Seq[Turn]): Set[(Int, String, String, String)] =
      Pipeline.extract(spark, spark.createDataset(turns)).edges
        .select("turn_idx", "subj", "pred", "obj")
        .as[(Int, String, String, String)].collect().toSet
    val fromComma = batch(comma)
    assert(fromComma == batch(paren))
    // the alias surface is used after its definition turn
    assert(fromComma((2, "uniprot:P31749", "Positive_regulation",
      "Phosphorylation(uniprot:Q02750)")))
    // one turn per micro-batch; streaming rescans forward from the
    // definition, so from the defining turn on it emits batch's
    // conversation-fold triples (streaming emits before canonicalization)
    def key(t: PreTriple) = (t.turn_idx, t.subj_gid, t.pred, t.obj_pred,
      t.obj_gid, t.obj_gid2, t.site)
    val acc = new org.apache.spark.util.CollectionAccumulator[Lineage]
    spark.sparkContext.register(acc)
    val folded = Pipeline.stageB(spark, Pipeline.stageMentions(spark,
        spark.createDataset(comma), "t", acc), "t", acc)
      .filter(col("kind") === "triple").select("triple.*").as[PreTriple]
      .collect().map(key).filter(_._1 >= 1).toSet
    assert(folded.exists(_._2 == "uaz:UAZ:zorp1"))
    val got = streamed("triples_alias_comma", KgConfig.default,
      comma.map(Seq(_))).map(key).filter(_._1 >= 1).toSet
    assert(got == folded)
  }
}
