package graft

import graft.kg._
import graft.model._
import org.scalatest.funsuite.AnyFunSuite

/** Where a conversation is cut never shows (no Spark): folding it in groups
  * of 1, 7 or [[KgCore.chunkTurns]] turns, each group through
  * [[KgCore.step]] with its halo, nearby context entities and the
  * conversation's [[KgCore.Scope]],
  * gives the stage_b rows of one whole-conversation fold, under both
  * context policies.
  */
class FoldStepSpec extends AnyFunSuite {
  private val policies =
    Seq(ConvProcessor.PolicyBackward, ConvProcessor.PolicyBidirectional)
  private val whole = Int.MaxValue
  private val sizes = Seq(1, 7, KgCore.chunkTurns)

  /** A row as a value: case classes compare their array fields by
    * reference. */
  private def norm(x: Any): Any = x match {
    case a: Array[_] => a.toSeq.map(norm)
    case p: Product => (p.productPrefix, p.productIterator.map(norm).toList)
    case o => o
  }

  private def rows(ms: Seq[MentionRow], cfg: KgConfig, parts: KgCore.Parts,
                   groupTurns: Int): Seq[String] =
    KgCore.fold(ms, parts, cfg, groupTurns).map(norm(_).toString).sorted

  private def assertCutFree(name: String, turns: Seq[Turn]): Unit =
    policies.foreach { p =>
      val cfg = KgConfig(contextPolicy = p)
      val parts = KgCore.compile(cfg)
      val ms = KgCore.mentions(turns, parts, cfg)
      val want = rows(ms, cfg, parts, whole)
      assert(want.nonEmpty)
      sizes.foreach { g =>
        val got = rows(ms, cfg, parts, g)
        if (got != want) fail(s"$name, $p, groups of $g turns: " +
          s"${got.size} rows vs ${want.size}, first diff " +
          (got.diff(want) ++ want.diff(got)).head)
      }
    }

  /** The fold-group edge probe: a species one turn before the
    * [[KgCore.chunkTurns]] edge, the event right after it. */
  private val n = KgCore.chunkTurns
  private val edge = (0 until n - 1).map(i =>
    Transcripts.mkTurn("edge", i, "user", "Thanks.")) ++ Seq(
    Transcripts.mkTurn("edge", n - 1, "user", "We studied mouse fibroblasts."),
    Transcripts.mkTurn("edge", n, "user", "ERK2 was phosphorylated at T669."),
    Transcripts.mkTurn("edge", n + 1, "user", "Other work used human cells."))

  test("the edge conversation folds the same at every group size, and its " +
       "event sees the species across the group edge") {
    assertCutFree("edge", edge)
    val ph = KgCore.stageB(edge, KgCore.compile(KgConfig.default),
        KgConfig.default).flatMap(_.triple).filter(_.pred == "Phosphorylation")
    assert(ph.map(t => (t.turn_idx, t.obj_gid, t.ctx_species)) ==
      Seq((n, "uniprot:P63085", "taxonomy:10090")))
  }

  test("a corpus with a mega-conversation longer than chunkTurns folds the " +
       "same at every group size") {
    val turns = (0L until 6).flatMap(Transcripts.corpusConv(5, _)._1) ++
      (0L until 2).flatMap(Transcripts.megaSlice(5, _, n + 150)._1)
    assert(turns.count(_.conv_id == "mega") == n + 150)
    assertCutFree("corpus", turns)
  }

  test("the golden corpus folds the same at every group size") {
    assertCutFree("golden", Transcripts.golden._1)
  }

  test("one-turn groups: the forward window and the default reach across " +
       "the edge") {
    // the species sits one turn AFTER the event, in the next group; the
    // backward policy has no window hit and takes the conversation default
    val turns = Seq(
      "ERK2 was phosphorylated at T669.",
      "We studied mouse fibroblasts.",
      "Data handling followed standard procedures.").zipWithIndex.map {
      case (t, i) => Transcripts.mkTurn("c", i, "user", t) }
    policies.foreach { p =>
      val cfg = KgConfig(contextPolicy = p)
      val parts = KgCore.compile(cfg)
      val ph = KgCore.fold(KgCore.mentions(turns, parts, cfg), parts, cfg, 1)
        .flatMap(_.triple).filter(_.pred == "Phosphorylation")
      assert(ph.nonEmpty && ph.forall(_.ctx_species == "taxonomy:10090"),
        s"$p: ${ph.map(_.ctx_species)}")
    }
  }

  test("the longest coref chain sets the halo: a generic event one turn " +
       "back whose generic argument reaches three turns further") {
    // "this phosphorylation" (turn 4) -> the turn-3 event, whose "The
    // protein" -> AKT1 at turn 0: four turns before the own turn
    val turns = Seq("AKT1 is abundant.", "Data handling followed procedures.",
      "Additional runs were recorded.", "The protein is phosphorylated.",
      "MEK1 increases this phosphorylation.").zipWithIndex.map {
      case (t, i) => Transcripts.mkTurn("chain", i, "user", t) }
    assertCutFree("chain", turns)
    val cfg = KgConfig.default
    val parts = KgCore.compile(cfg)
    assert(KgCore.fold(KgCore.mentions(turns, parts, cfg), parts, cfg, 1)
      .flatMap(_.triple).exists(t => t.turn_idx == 4 &&
        t.subj_gid == "uniprot:Q02750" && t.obj_gid == "uniprot:P31749"))
  }

  test("Policy4's forward window reads a repeated species in the next " +
       "group") {
    // the turn-n mouse is neither a first mention nor the default (human)
    val text = Map(0 -> "We studied mouse fibroblasts.",
      100 -> "Other work used human cells.", 200 -> "Other work used human cells.",
      n - 1 -> "ERK2 was phosphorylated at T669.",
      n -> "We studied mouse fibroblasts.")
    val turns = (0 to n).map(i =>
      Transcripts.mkTurn("fwd", i, "user", text.getOrElse(i, "Thanks.")))
    assertCutFree("forward", turns)
    val cfg = KgConfig(contextPolicy = ConvProcessor.PolicyBidirectional)
    val parts = KgCore.compile(cfg)
    assert(KgCore.fold(KgCore.mentions(turns, parts, cfg), parts, cfg, n)
      .flatMap(_.triple).filter(_.pred == "Phosphorylation")
      .map(_.ctx_species) == Seq("taxonomy:10090"))
  }

  test("an alias far back grounds its arguments under the species of its " +
       "own turn, not the conversation default") {
    // mouse next to the definition; human, three times later, is the
    // default; the use is more than a group past the definition
    val text = Map(0 -> "We studied mouse fibroblasts.",
      1 -> "Zorp1 (also called AKT1) phosphorylates ERK2.",
      500 -> "Other work used human cells.", 600 -> "Other work used human cells.",
      700 -> "Other work used human cells.", n + 100 -> "Zorp1 phosphorylates MEK1.")
    val turns = (0 to n + 100).map(i =>
      Transcripts.mkTurn("far", i, "user", text.getOrElse(i, "Thanks.")))
    assertCutFree("far alias", turns)
    val cfg = KgConfig.default
    val parts = KgCore.compile(cfg)
    val use = KgCore.fold(KgCore.mentions(turns, parts, cfg), parts, cfg, n)
      .flatMap(_.linked).filter(m => m.turn_idx == n + 100 && m.text == "Zorp1")
    assert(use.nonEmpty && use.forall(_.candidates.head.id == "P31750"),
      use.map(_.candidates.toSeq))
  }

  test("a mention goes to its own group, then as context to every later " +
       "group within haloTurns turns; a context entity to every group " +
       "within ctxReach turns either side") {
    val cfg = KgConfig.default
    val parts = KgCore.compile(cfg)
    val ms = KgCore.mentions(Seq(Transcripts.mkTurn("g", 0, "user",
      "ERK2 was phosphorylated in mouse fibroblasts.")), parts, cfg)
    val ent = ms.find(m => !m.is_event && !KgCore.isCtx(m)).get
    val ctx = ms.find(KgCore.isCtx).get
    def at(m: MentionRow, turn: Int, size: Int, last: Int) =
      KgCore.groups(m.copy(turn_idx = turn), size, last).toSeq
    assert(at(ent, 995, 1000, 1) == Seq(0))
    assert(at(ent, 996, 1000, 1) == Seq(0, 1))
    assert(at(ent, 996, 1000, 0) == Seq(0)) // no later group
    assert(at(ent, 1000, 1000, 1) == Seq(1))
    assert(at(ent, 5, 1, 100) == (5 to 5 + KgCore.haloTurns))
    assert(at(ctx, 1006, 1000, 2) == Seq(1, 0))
    assert(at(ctx, 1007, 1000, 2) == Seq(1))
    assert(at(ctx, 1993, 1000, 2) == Seq(1, 2))
    assert(at(ctx, 5, 1, 100) == 5 +: (0 to 5 + KgCore.ctxReach).filter(_ != 5))
    assert(at(ent, 7, whole, 0) == Seq(0))
  }

  test("a conversation's scope grows with its distinct context texts, not " +
       "with its context mentions") {
    val turns = (0 until 3000).map(i => Transcripts.mkTurn("long", i, "user",
      if (i % 10 == 0) "We studied mouse fibroblasts." else "Thanks."))
    val cfg = KgConfig.default
    val ms = KgCore.mentions(turns, KgCore.compile(cfg), cfg)
    val counts = ConvProcessor.ctxCounts(ms)
    assert(counts.map(c => (c.text, c.n, c.first.turn_idx)).toSet ==
      Set(("mouse", 300, 0)))
    // the first mention, and no context entity within contextBound turns
    assert(KgCore.scope(counts, ms).mentions.map(_.turn_idx) == Seq(0))
  }
}
