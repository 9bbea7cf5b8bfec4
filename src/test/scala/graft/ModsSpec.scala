package graft

import graft.kg._
import graft.model._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Modifications subsystem (PTM / Mutant / EventSite — reference:
  * TestModifications.scala semantics re-traced), the trigger-occurrence
  * most-complete filter (ADVICE r1), the filterRegulations port
  * (controlled-substitution + higher-order preference), alias rescan, and the
  * generalized context engine.
  */
class ModsSpec extends AnyFunSuite {
  private lazy val trie = Annotate.buildTrie(Lexicon.nerLexicon)

  private def extract(text: String, turn: Int = 0): Seq[MentionRow] =
    BioRules.extractTurn(
      AnnotatedTurn("c", turn, "user", Annotate.annotateText(trie, text)))

  private def entities(ms: Seq[MentionRow]): Seq[MentionRow] =
    ms.filter(!_.is_event)
  private def events(ms: Seq[MentionRow]): Seq[MentionRow] =
    ms.filter(_.is_event)

  test("TestDeModifications matrix: 9 de-PTM families x 7 premod/relative shapes") {
    // reference: TestDeModifications.scala:16-96 — every reverse-PTM family
    // must attach exactly one PTM mod with the De- label to Ras, in the
    // JJ/VBN premodifier shapes (bare, +site, interceding noun +site) and
    // the that-is relative with a spelled-out site
    // the positive matrix (TestModifications.scala:16-96) shares the seven
    // shapes; both directions pinned here
    val families = Seq(
      "deubiquitinated" -> "Deubiquitination",
      "dephosphorylated" -> "Dephosphorylation",
      "defarnesylated" -> "Defarnesylation",
      "deribosylated" -> "Deribosylation",
      "dehydroxylated" -> "Dehydroxylation",
      "deacetylated" -> "Deacetylation",
      "deglycosylated" -> "Deglycosylation",
      "demethylated" -> "Demethylation",
      "desumoylated" -> "Desumoylation",
      "ubiquitinated" -> "Ubiquitination",
      "ubiquitylated" -> "Ubiquitination",
      "phosphorylated" -> "Phosphorylation",
      "farnesylated" -> "Farnesylation",
      "ribosylated" -> "Ribosylation",
      "hydroxylated" -> "Hydroxylation",
      "acetylated" -> "Acetylation",
      "glycosylated" -> "Glycosylation",
      "methylated" -> "Methylation",
      "sumoylated" -> "Sumoylation")
    for ((adj, label) <- families) {
      val shapes = Seq(
        s"The $adj Ras binds AKT and ASPP2.",
        s"The $adj Ras at Ser16 binds AKT and ASPP2.",
        s"The $adj Ras protein at Ser16 binds AKT and ASPP2.",
        s"${adj.capitalize} Ras binds AKT and ASPP2.",
        s"${adj.capitalize} Ras at Ser16 binds AKT and ASPP2.",
        s"${adj.capitalize} Ras proteins at Ser16 binds AKT and ASPP2.",
        s"Src tyrosyl binds Ras that is $adj at serine 286.")
      for (s <- shapes) {
        val ms = extract(s)
        val ras = entities(ms).find(_.text == "Ras")
        assert(ras.isDefined, s"no Ras mention in: $s")
        val ptms = ras.get.mods.toSeq.filter(_.kind == "PTM")
        assert(ptms.size == 1, s"expected 1 PTM, got ${ptms.size} in: $s")
        assert(ptms.head.label == label,
          s"expected $label, got ${ptms.head.label} in: $s")
      }
    }
  }

  test("PTM participle prefix attaches a PTM modification") {
    val ms = extract("Phosphorylated ERK2 binds STAT3.")
    val erk = entities(ms).find(_.text == "ERK2").get
    assert(erk.mods.exists(m => m.kind == "PTM" && m.label == "Phosphorylation"))
    assert(events(ms).exists(_.labels.head == "Binding"))
  }

  test("post-participial PTM with site: AKT1 phosphorylated at Ser473") {
    val ms = extract("AKT1 phosphorylated at Ser473 binds BAD.")
    val akt = entities(ms).find(_.text == "AKT1").get
    assert(akt.mods.exists(m => m.kind == "PTM" &&
      m.label == "Phosphorylation" && m.site_text == "Ser473"))
    assert(events(ms).exists(_.labels.head == "Binding"))
  }

  test("fused prefix token p-AKT1 is recognized and carries a PTM") {
    val ms = extract("p-AKT1 is elevated in tumors.")
    val akt = entities(ms).find(_.text == "p-AKT1")
    assert(akt.isDefined, "fused-prefix token should be NER-tagged")
    assert(akt.get.mods.exists(m => m.kind == "PTM" &&
      m.label == "Phosphorylation"))
  }

  test("mutationsToMentions: two mutants split into two mentions") {
    val ms = extract("ERK2 T669A and T671A mutants were analyzed.")
    val erks = entities(ms).filter(_.text == "ERK2")
    assert(erks.size == 2, s"expected 2 split mentions, got ${erks.size}")
    val muts = erks.flatMap(_.mods.toSeq).filter(_.kind == "Mutant")
      .map(_.site_text).sorted
    assert(muts == Seq("T669A", "T671A"))
    assert(erks.map(_.mention_id).distinct.size == 2)
  }

  test("mutant-of code list: one split mention per code across ', and'") {
    // TestModifications mutantTest12/14
    val ms = extract("K111M, K112M, and K113M mutants of ASPP2 were phosphorylated.")
    val aspp = entities(ms).filter(_.text == "ASPP2")
    assert(aspp.size == 3, s"expected 3 split mentions, got ${aspp.size}")
    val muts = aspp.flatMap(_.mods.toSeq).filter(_.kind == "Mutant")
      .map(_.site_text).sorted
    assert(muts == Seq("K111M", "K112M", "K113M"))
  }

  test("postposed mutant-word codes: 'MEK mutant R567Q' / 'ASPP1 mutants K111M, ...'") {
    // TestModifications mutantTest4 (mutantmod_1a) and mutantTest8
    // (mutantmod_3a): an optional mutant word between the entity and its
    // rightward code list
    val ms1 = extract("MEK mutant R567Q was used.")
    val mek = entities(ms1).find(_.text == "MEK").get
    assert(mek.mods.exists(m => m.kind == "Mutant" && m.site_text == "R567Q"))
    val ms2 = extract("ASPP1 mutants K111M, K112M, and K113M and ASPP2 were used.")
    val aspp1 = entities(ms2).filter(_.text == "ASPP1")
    assert(aspp1.size == 3, s"expected 3 split mentions, got ${aspp1.size}")
    assert(aspp1.flatMap(_.mods.toSeq).filter(_.kind == "Mutant")
      .map(_.site_text).sorted == Seq("K111M", "K112M", "K113M"))
    assert(entities(ms2).find(_.text == "ASPP2").get.mods
      .forall(_.kind != "Mutant"))
  }

  test("bare and mutant-word premod codes: 'Ser785His [mutant] RAS'") {
    // TestModifications mutantTest9/10 (mutantmod_1b): a single code premod
    // attaches with or without an intervening mutant word; the all-caps
    // "RAS" surface is a registered case variant of "Ras"
    for (s <- Seq("Ser785His mutant RAS was used.", "Ser785His RAS was used.")) {
      val ras = entities(extract(s)).find(_.text == "RAS")
      assert(ras.isDefined, s"no RAS mention in: $s")
      assert(ras.get.mods.exists(m => m.kind == "Mutant" &&
        m.site_text == "Ser785His"), s"no Ser785His Mutant in: $s")
    }
  }

  test("mutant-theme x site-list cross product: 6 phospho mentions") {
    // TestTemplaticSimpleEvents sent32: 3 mutant variants x 2 sites;
    // the edges view dedupes the variants (same gid + site), but the
    // mention stream must carry all 6
    val ms = extract(
      "The K650M, K660M, and K650E-EGFR mutants are phosphorylated on Y123 and T546")
    val phos = events(ms).filter(_.labels.head == "Phosphorylation")
    assert(phos.size == 6, s"expected 6 phospho mentions, got ${phos.size}")
  }

  test("generic 'Mutation of the X gene' attaches a codeless Mutant mod") {
    // TestModifications mutantTest15 (evidence = the mutant word itself)
    val ms = extract("Mutation of the PTEN gene was detected.")
    val pten = entities(ms).find(_.text == "PTEN").get
    assert(pten.mods.exists(m => m.kind == "Mutant" &&
      m.site_text == "Mutation"))
  }

  test("HGVS-style paren mutants: substitution/deletion/insertion/dup/fs") {
    // TestModifications mutantTest16-21; Δ normalizes to "Delta"
    val cases = Seq(
      "We used a substitution mutant of BRAF (76A>T)" -> "76A>T",
      "We used a deletion mutant of BRAF (ΔF508)" -> "DeltaF508",
      "We used a deletion mutant of BRAF (K29del)" -> "K29del",
      "We used a deletion mutant of BRAF (29delK)" -> "29delK",
      "We used a deletion mutant of BRAF (M27_K29del)" -> "M27_K29del",
      "We used a deletion mutant of BRAF (27_29del)" -> "27_29del",
      "We used an insertion mutant of BRAF (K29_M30insQSK)" -> "K29_M30insQSK",
      "We used a duplication mutant of BRAF (G31_Q33dup)" -> "G31_Q33dup",
      "We used a frameshift mutant of BRAF (Arg83fs)" -> "Arg83fs")
    cases.foreach { case (text, code) =>
      val ms = extract(text)
      val braf = entities(ms).filter(_.text == "BRAF")
      assert(braf.size == 1, s"[$text] expected 1 BRAF, got ${braf.size}")
      val muts = braf.head.mods.toSeq.filter(_.kind == "Mutant")
      assert(muts.map(_.site_text) == Seq(code),
        s"[$text] got ${muts.map(_.site_text)}")
    }
  }

  test("paren mutant stays a mutant, not a site") {
    // TestModifications siteTest4: "Akt (S473M)" — mutant, no Site
    val ms = extract("Phosphorylation of AKT1 (S473M) was attenuated.")
    assert(!ms.exists(m => !m.is_event && m.labels.head == "Site"))
    val akt = entities(ms).find(_.text == "AKT1").get
    assert(akt.mods.exists(m => m.kind == "Mutant" && m.site_text == "S473M"))
  }

  test("named-domain Site becomes an EventSite on the of-entity") {
    // TestModifications sent2 / TestEntities sent3 (bio_sites dictionary)
    val ms = extract("We demonstrate that the RBD of PI3K binds KRAS.")
    val p = entities(ms).find(_.text == "PI3K").get
    assert(p.mods.exists(m => m.kind == "EventSite" && m.site_text == "RBD"))
    val ms2 = extract("Mutant ASPP2 binds to the JM domains of EGFR and HER2.")
    val egfr = entities(ms2).find(_.text == "EGFR").get
    assert(egfr.mods.exists(m => m.kind == "EventSite" &&
      m.site_text == "JM domains"))
  }

  test("mutant-of form: the T669A mutant of ERK2") {
    val ms = extract("The T669A mutant of ERK2 binds AKT1.")
    val erk = entities(ms).find(_.text == "ERK2").get
    assert(erk.mods.exists(m => m.kind == "Mutant" && m.site_text == "T669A"))
  }

  test("EventSite stored on entity and sniffed into the event's site arg") {
    val ms = extract("The phosphorylation of the Y63 residue of HuR is increased.")
    val hur = entities(ms).find(_.text == "HuR").get
    assert(hur.mods.exists(m => m.kind == "EventSite" && m.site_text == "Y63"))
    val ph = events(ms).find(_.labels.head == "Phosphorylation").get
    val siteArg = ph.args.find(_.role == "site")
    assert(siteArg.isDefined, "siteSniffer should promote the EventSite")
    val site = ms.find(_.mention_id == siteArg.get.mention_id)
    assert(site.exists(_.text == "Y63"))
  }

  test("distinct same-trigger-text events in one sentence both survive") {
    val ms = extract(
      "MEK1 phosphorylates ERK2 at T669 and JAK3 phosphorylates HuR.")
    val phos = events(ms).filter(_.labels.head == "Phosphorylation")
    assert(phos.size == 2, s"got ${phos.map(_.text)}")
    val regs = events(ms).filter(_.labels.head == "Positive_regulation")
    assert(regs.size == 2)
  }

  // ---- filterRegulations unit semantics (constructed mentions) ----------

  private def ent(id: Long, s: Int, e: Int,
                  label: String = "Gene_or_gene_product"): MentionRow =
    MentionRow(id, "c", 0, 0, s, e, Lexicon.labelClosure(label), s"E$id",
      "t", false, "", Array.empty, false, false)

  private def ev(id: Long, label: String, ts: Int, te: Int,
                 args: (String, Long)*): MentionRow =
    MentionRow(id, "c", 0, 0, 0, 9,
      Lexicon.labelClosure(label), s"V$id", "t", true, "trig",
      args.map { case (r, i) => Arg(r, i) }.toArray, false, false, ts, te)

  test("controlled-substitution redirects a regulation to the survivor") {
    val theme = ent(1, 0, 1)
    val site = ent(2, 2, 3, "Site")
    val ctl = ent(3, 4, 5)
    val small = ev(100, "Phosphorylation", 6, 7, "theme" -> 1)
    val big = ev(101, "Phosphorylation", 6, 7, "theme" -> 1, "site" -> 2)
    val reg = ev(200, "Positive_regulation", 6, 7,
      "controller" -> 3, "controlled" -> 100)
    val out = BioRules.mostComplete(Seq(theme, site, ctl, small, big, reg))
    val regs = out.filter(_.labels.head == "Positive_regulation")
    assert(regs.size == 1)
    assert(regs.head.args.find(_.role == "controlled").get.mention_id == 101,
      "controlled must be substituted with the more complete event")
    assert(!out.exists(_.mention_id == 100))
  }

  test("higher-order regulation wins over the direct form (preferRegulations)") {
    val a = ent(1, 0, 1); val b = ent(2, 2, 3); val c = ent(3, 4, 5)
    val inner = ev(100, "Phosphorylation", 5, 6, "theme" -> 2)
    val mid = ev(201, "Positive_regulation", 5, 6,
      "controller" -> 3, "controlled" -> 100)
    val high = ev(300, "Negative_regulation", 7, 8,
      "controller" -> 1, "controlled" -> 201)
    val direct = ev(301, "Negative_regulation", 7, 8,
      "controller" -> 1, "controlled" -> 100)
    val out = BioRules.mostComplete(Seq(a, b, c, inner, mid, high, direct))
    assert(out.exists(_.mention_id == 300))
    assert(!out.exists(_.mention_id == 301),
      "direct regulation is redundant given the higher-order one")
  }

  test("complex (Binding) controller preferred over its participant " +
       "(filterByController)") {
    val a = ent(1, 0, 1); val b = ent(2, 2, 3); val c = ent(3, 4, 5)
    val bind = ev(90, "Binding", 1, 2, "theme" -> 1, "theme" -> 2)
    val inner = ev(100, "Phosphorylation", 5, 6, "theme" -> 3)
    val viaComplex = ev(200, "Positive_regulation", 7, 8,
      "controller" -> 90, "controlled" -> 100)
    val viaMember = ev(201, "Positive_regulation", 9, 10,
      "controller" -> 1, "controlled" -> 100)
    val out = BioRules.mostComplete(Seq(a, b, c, bind, inner, viaComplex,
      viaMember))
    assert(out.exists(_.mention_id == 200))
    assert(!out.exists(_.mention_id == 201),
      "participant-controller regulation is redundant given the complex one")
  }

  // ---- pipeline-level: alias rescan + context columns -------------------

  lazy val spark = TestSpark.spark

  test("alias rescan canonicalizes a surface used before its definition") {
    import spark.implicits._
    val turns = spark.createDataset(Seq(
      Transcripts.mkTurn("a1", 0, "user", "OLK1 phosphorylates AKT1."),
      Transcripts.mkTurn("a1", 1, "assistant",
        "Optineurin (also known as OLK1) regulates autophagy.")))
    val res = Pipeline.extract(spark, turns)
    val edges = res.edges.collect()
    val opt = Transcripts.gidOf("optineurin")
    assert(edges.exists(r => r.getAs[String]("pred") == "Positive_regulation"
      && r.getAs[String]("subj") == opt),
      s"rescanned OLK1 should canonicalize to optineurin; got ${edges.toSeq}")
    val nodes = res.nodes.collect()
    val optNode = nodes.find(_.getAs[String]("canon_id") == opt)
    assert(optNode.exists(_.getAs[Seq[String]]("alias_surface_forms")
      .contains("OLK1")), "node must carry the rescanned surface form")
  }

  test("causal-precedence sieve links cue-opened events to the nearest " +
       "preceding event-bearing sentence") {
    import spark.implicits._
    val turns = spark.createDataset(Seq(
      Transcripts.mkTurn("pr", 0, "user", "MEK1 phosphorylates ERK2."),
      Transcripts.mkTurn("pr", 1, "assistant",
        "As a result, ERK2 activates STAT3."),
      Transcripts.mkTurn("pr", 2, "user", "JAK3 phosphorylates HuR.")))
    val prec = Precedence.precedence(Pipeline.extract(spark, turns).edges)
      .collect()
    assert(prec.nonEmpty)
    assert(prec.forall(r => r.getAs[Int]("before_turn") <
      r.getAs[Int]("after_turn")))
    // turn-2 event has no cue -> never an "after"
    assert(prec.forall(_.getAs[Int]("after_turn") == 1))
    assert(prec.exists(r => r.getAs[String]("before_pred") == "Phosphorylation"
      && r.getAs[String]("after_pred") == "Positive_activation"))
  }

  test("feature-based precedence sieve: shared-args gating, window bound, " +
       "cross-sieve dedup, pluggable classifier") {
    import spark.implicits._
    val turns = spark.createDataset(Seq(
      // fires: BAD (uniprot:Q92934) is shared input, adjacent turns, no
      // cue/tense signal for the rule sieves
      Transcripts.mkTurn("f1", 0, "user", "AKT1 phosphorylates BAD."),
      Transcripts.mkTurn("f1", 1, "assistant", "BAD binds BCL2."),
      // silent: no shared participant
      Transcripts.mkTurn("f2", 0, "user", "AKT1 phosphorylates BAD."),
      Transcripts.mkTurn("f2", 1, "assistant", "ERK2 binds STAT3."),
      // silent: shared participant but outside kWindow=1
      Transcripts.mkTurn("f3", 0, "user", "AKT1 phosphorylates BAD."),
      Transcripts.mkTurn("f3", 1, "assistant", "The samples were prepared."),
      Transcripts.mkTurn("f3", 2, "user", "We analyzed the data."),
      Transcripts.mkTurn("f3", 3, "assistant", "BAD binds BCL2."),
      // rule-sieve duplicate: the cue pair must stay sieve-1 (dedup)
      Transcripts.mkTurn("f4", 0, "user", "MEK1 phosphorylates ERK2."),
      Transcripts.mkTurn("f4", 1, "assistant",
        "As a result, ERK2 activates STAT3.")))
    val edges = Pipeline.extract(spark, turns).edges
    val byConv = edges.as[EdgeRow].collect().toSeq.groupBy(_.conv_id).values

    // gated candidates carry the features
    val cands = byConv.flatMap(Precedence.candidates).toSeq
    assert(cands.forall(_.sharedIds.nonEmpty))
    assert(!cands.exists(_.a.conv_id == "f2"), "no shared arg")
    assert(!cands.exists(_.a.conv_id == "f3"), "outside window")
    val f1 = cands.filter(c => c.a.conv_id == "f1" &&
      c.a.pred == "Phosphorylation")
    assert(f1.nonEmpty && f1.forall(_.sharedIds == Seq("uniprot:Q92934")))
    assert(f1.forall(c => c.crossSent && c.turnDist == 1))

    val prec = Precedence.precedence(edges).collect()
    // f1 fires through the default narrative-order classifier
    assert(prec.exists(r => r.getAs[String]("conv_id") == "f1" &&
      r.getAs[String]("before_pred") == "Phosphorylation" &&
      r.getAs[String]("after_pred") == "Binding" &&
      r.getAs[String]("sieve") ==
        "feature-based-classifier:narrative-order-default"))
    assert(!prec.exists(r => r.getAs[String]("conv_id") == "f2"))
    assert(!prec.exists(r => r.getAs[String]("conv_id") == "f3"))
    // the f4 cue pair keeps its rule sieve; no feature-based duplicate
    val f4 = prec.filter(_.getAs[String]("conv_id") == "f4")
    assert(f4.nonEmpty &&
      f4.forall(_.getAs[String]("sieve").startsWith("inter-sentential-rb")))

    // pluggable classifier: an E2PrecedesE1 rule reverses the orientation
    object Reversed extends Precedence.PairClassifier {
      val name = "reversed"
      def classify(c: Precedence.Candidate) = (Precedence.E2PrecedesE1, 0.9)
    }
    val rev = byConv.flatMap(Precedence.featureBased(_, Reversed)).toSeq
    assert(rev.nonEmpty && rev.forall { case (r, score) =>
      r.before_turn >= r.after_turn &&
        r.sieve == "feature-based-classifier:reversed" && score == 0.9 })
  }

  test("precedence rows on the 200-conversation corpus with a 1,000-turn " +
       "mega-conversation: row count and digest pinned") {
    val (turns, _) = Transcripts.corpus(spark, 200, 42L, megaTurns = 1000)
    val rows = Precedence.precedence(Pipeline.extract(spark, turns).edges)
      .select("conv_id", "before_pred", "before_obj", "before_turn",
        "after_pred", "after_obj", "after_turn", "sieve")
      .collect().map(_.toSeq.mkString("\t")).sorted
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(rows.mkString("\n").getBytes("UTF-8")).take(8)
      .map("%02x".format(_)).mkString
    // measured on the Catalyst self-join sieves the per-conversation
    // function replaced
    assert(rows.length == 1168)
    assert(digest == "c89f1a57e6f79509")
  }

  test("context columns: window assignment and conversation-default fill") {
    import spark.implicits._
    val turns = spark.createDataset(Seq(
      Transcripts.mkTurn("x1", 0, "user", "MEK1 phosphorylates ERK2."),
      Transcripts.mkTurn("x1", 6, "user", "We studied HeLa cells."),
      Transcripts.mkTurn("x1", 7, "user", "JAK3 phosphorylates HuR.")))
    val edges = Pipeline.extract(spark, turns).edges.collect()
    val inWindow = edges.filter(r => r.getAs[Int]("turn_idx") == 7)
    assert(inWindow.nonEmpty &&
      inWindow.forall(_.getAs[String]("ctx_cell_line") == "cellosaurus:CVCL_0030"))
    // turn 0 is outside the window of turn 6 -> conversation default applies
    val outWindow = edges.filter(r => r.getAs[Int]("turn_idx") == 0)
    assert(outWindow.nonEmpty &&
      outWindow.forall(_.getAs[String]("ctx_cell_line") == "cellosaurus:CVCL_0030"))
  }
}
