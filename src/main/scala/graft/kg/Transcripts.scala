package graft.kg

import graft.model._
import org.apache.spark.sql.{Dataset, SparkSession}

import java.sql.Timestamp
import scala.collection.mutable
import scala.util.Random

/** Deterministic synthetic transcript corpus (FIXTURES.md): golden
  * conversations with hand-traced expected triples (the exactness gate) and a
  * seeded template generator for P/R scoring + throughput benchmarks. No
  * external data; everything derives from the embedded lexicon/KB.
  *
  * Expected triples for generated conversations come from template knowledge
  * (the generator knows which template it emitted), NOT from running the
  * pipeline — so the P/R score is a real oracle.
  */
object Transcripts {

  private val epochMs = 1700000000000L // fixed base epoch (deterministic)

  def mkTurn(conv: String, idx: Int, role: String, text: String,
             tool: String = null): Turn =
    Turn(conv, idx, role, text, tool, new Timestamp(epochMs + idx * 60000L))

  /** A `(conv_id, turn_idx, text)` fixture as turns, the user's on even turns. */
  def fixtureTurns(spark: SparkSession, rows: Seq[(String, Int, String)])
      : Dataset[Turn] = {
    import spark.implicits._
    spark.createDataset(rows.map { case (c, i, text) =>
      mkTurn(c, i, if (i % 2 == 0) "user" else "assistant", text)
    })
  }

  private def tri(conv: String, turn: Int, subj: String, pred: String,
                  obj: String, site: String = "", neg: Boolean = false,
                  hyp: Boolean = false): Triple =
    Triple(subj, pred, obj, site, neg, hyp, conv, turn, "", "")

  // gid lookup via the same KbIndex the pipeline uses (its semantics are
  // pinned independently by LinkSpec unit tests)
  private lazy val kbIdx = new Link.KbIndex(Lexicon.kb)
  def gidOf(name: String, label: String = "Gene_or_gene_product"): String = {
    val g = kbIdx.resolve(name, label, "")
    g.namespace + ":" + g.id
  }

  // ---- golden corpus (hand-traced; see FIXTURES.md §4) -------------------

  lazy val golden: (Seq[Turn], Seq[Triple]) = {
    val turns = mutable.ArrayBuffer.empty[Turn]
    val triples = mutable.ArrayBuffer.empty[Triple]
    def conv(id: String)(ts: (String, String)*)(exp: Triple*): Unit = {
      ts.zipWithIndex.foreach { case ((role, text), i) =>
        turns += mkTurn(id, i, role, text)
      }
      triples ++= exp
    }
    val AKT1 = gidOf("AKT1"); val JAK3 = gidOf("JAK3"); val HuR = gidOf("HuR")
    val ASPP2 = gidOf("ASPP2"); val OPT = gidOf("optineurin")
    val MEK = gidOf("MEK"); val MEK1 = gidOf("MEK1"); val ERK2 = gidOf("ERK2")
    val JAK1 = gidOf("JAK1"); val PTEN = gidOf("PTEN")
    val GSK3 = gidOf("GSK3"); val BAD = gidOf("BAD")
    val mTOR = gidOf("mTOR"); val STAT3 = gidOf("STAT3")
    val RAPA = gidOf("rapamycin", "Simple_chemical")
    val CCND1 = gidOf("cyclin D1"); val BCAT = gidOf("beta-catenin")
    val GRB2 = gidOf("Grb2"); val SOS = gidOf("SOS")
    val RAS = gidOf("Ras", "Family")
    val NUC = gidOf("nucleus", "Cellular_component")

    conv("g01")("user" ->
      "JAK3 phosphorylates three HuR residues (Y63, Y68, Y200).")(
      tri("g01", 0, "", "Phosphorylation", HuR, "Y63"),
      tri("g01", 0, "", "Phosphorylation", HuR, "Y68"),
      tri("g01", 0, "", "Phosphorylation", HuR, "Y200"),
      tri("g01", 0, JAK3, "Positive_regulation", s"Phosphorylation($HuR@Y63)", "Y63"),
      tri("g01", 0, JAK3, "Positive_regulation", s"Phosphorylation($HuR@Y68)", "Y68"),
      tri("g01", 0, JAK3, "Positive_regulation", s"Phosphorylation($HuR@Y200)", "Y200"))

    conv("g02")("user" ->
      "The deubiquitination of ASPP2 is promoted by optineurin.")(
      tri("g02", 0, "", "Deubiquitination", ASPP2),
      tri("g02", 0, OPT, "Positive_regulation", s"Deubiquitination($ASPP2)"))

    conv("g03")("user" ->
      "The ubiquitinated Ras protein phosphorylates AKT1.")(
      tri("g03", 0, "", "Phosphorylation", AKT1),
      tri("g03", 0, RAS, "Positive_regulation", s"Phosphorylation($AKT1)"))

    conv("g04")("user" -> "AKT1 binds GSK3 and BAD.")(
      tri("g04", 0, "", "Binding", Seq(AKT1, GSK3).sorted.mkString("&")),
      tri("g04", 0, "", "Binding", Seq(AKT1, BAD).sorted.mkString("&")))

    conv("g05")("user" -> "MEK does not phosphorylate ERK2.")(
      tri("g05", 0, "", "Phosphorylation", ERK2, "", neg = false),
      tri("g05", 0, MEK, "Positive_regulation", s"Phosphorylation($ERK2)", "",
        neg = true))

    // "not" lies INSIDE the passive event's token interval (theme..trigger),
    // so the event is negated; "Without" is outside the interval and does
    // not participate (NegationHandler scans event.tokenInterval only)
    conv("g06")("user" -> "Without MEK, ERK2 is not phosphorylated.")(
      tri("g06", 0, "", "Phosphorylation", ERK2, "", neg = true))

    conv("g07")("user" ->
      "These results suggest that MEK1 phosphorylates ERK2.")(
      tri("g07", 0, "", "Phosphorylation", ERK2, "", hyp = true),
      tri("g07", 0, MEK1, "Positive_regulation", s"Phosphorylation($ERK2)", "",
        hyp = true))

    conv("g08")(
      "user" -> "AKT1 is expressed in HeLa cells.",
      "assistant" -> "It is phosphorylated by MEK.")(
      tri("g08", 0, "", "Transcription", AKT1),
      tri("g08", 1, "", "Phosphorylation", AKT1),
      tri("g08", 1, MEK, "Positive_regulation", s"Phosphorylation($AKT1)"))

    conv("g09")(
      "user" -> "Optineurin (also known as OPTN) is involved in autophagy.",
      "assistant" -> "OPTN is phosphorylated by JAK1.")(
      tri("g09", 1, "", "Phosphorylation", OPT),
      tri("g09", 1, JAK1, "Positive_regulation", s"Phosphorylation($OPT)"))

    conv("g10")(
      "user" -> "We studied mouse fibroblasts.",
      "assistant" -> "ERK2 was phosphorylated at T669.")(
      tri("g10", 1, "", "Phosphorylation", "uniprot:P63085", "T669"))

    conv("g11")("user" -> "Loss of PTEN promotes phosphorylation of AKT1.")(
      tri("g11", 0, "", "DecreaseAmount", PTEN),
      tri("g11", 0, "", "Phosphorylation", AKT1),
      tri("g11", 0, PTEN, "Negative_regulation", s"Phosphorylation($AKT1)"))

    conv("g12")("user" -> "Rapamycin inhibits mTOR.")(
      tri("g12", 0, RAPA, "Negative_activation", mTOR))

    conv("g13")("user" -> "STAT3 translocates to the nucleus.")(
      tri("g13", 0, "", "Translocation", STAT3, NUC))

    conv("g14")("user" ->
      "The transcription of cyclin D1 is induced by beta-catenin.")(
      tri("g14", 0, "", "Transcription", CCND1),
      tri("g14", 0, BCAT, "Positive_regulation", s"Transcription($CCND1)"))

    // "levels" is the amount trigger (reference amount_events.yml nn path);
    // "decreases" is a regulation over that Amount event, not an amount
    // trigger itself (the reference grammar has no increase/decrease amount
    // triggers — events_master.yml:28-37)
    conv("g15")("user" -> "Rapamycin decreases mTOR levels.")(
      tri("g15", 0, "", "Amount", mTOR),
      tri("g15", 0, RAPA, "Negative_regulation", s"Amount($mTOR)"))

    conv("g16")("user" -> "MEK1 phosphorylates ERK2 at T669.")(
      tri("g16", 0, "", "Phosphorylation", ERK2, "T669"),
      tri("g16", 0, MEK1, "Positive_regulation", s"Phosphorylation($ERK2@T669)",
        "T669"))

    // "expression" is not an amount trigger in the reference (only
    // amount|level|quantity and loss are), so no amount event here; the
    // semantic negative "Decreased" on the controller still flips the
    // regulation to negative (SEMANTIC_NEGATIVE_PATTERN)
    conv("g17")("user" ->
      "Decreased ERK2 expression increases phosphorylation of AKT1.")(
      tri("g17", 0, "", "Phosphorylation", AKT1),
      tri("g17", 0, ERK2, "Negative_regulation", s"Phosphorylation($AKT1)"),
      // "ERK2 expression" is itself a Transcription event in the reference
      // grammar (transcription_events.yml nominal trigger)
      tri("g17", 0, "", "Transcription", ERK2))

    conv("g18")("user" -> "STAT3 is activated by JAK1.")(
      tri("g18", 0, JAK1, "Positive_activation", STAT3))

    // "examine" is NOT in the reference's hypothesis-hint lemma list
    // (HypothesisHandler.scala:15-42) — no hypothesis marking here
    conv("g19")("user" -> "The interaction of Grb2 with SOS was examined.")(
      tri("g19", 0, "", "Binding", Seq(GRB2, SOS).sorted.mkString("&")))

    // two distinct same-trigger-text events in one sentence: the most-complete
    // filter must compare trigger OCCURRENCES, not strings
    // (reference: MentionFilter.scala:60-69; ADVICE r1)
    conv("g20")("user" ->
      "MEK1 phosphorylates ERK2 at T669 and JAK3 phosphorylates HuR.")(
      tri("g20", 0, "", "Phosphorylation", ERK2, "T669"),
      tri("g20", 0, MEK1, "Positive_regulation", s"Phosphorylation($ERK2@T669)",
        "T669"),
      tri("g20", 0, "", "Phosphorylation", HuR),
      tri("g20", 0, JAK3, "Positive_regulation", s"Phosphorylation($HuR)"))

    // relative clause + appositive-skip (clause-aware surrogates for the
    // reference's *_syntax_* dependency rules)
    conv("g21")("user" ->
      "ERK2, which is phosphorylated by MEK1, activates STAT3.")(
      tri("g21", 0, "", "Phosphorylation", ERK2),
      tri("g21", 0, MEK1, "Positive_regulation", s"Phosphorylation($ERK2)"),
      tri("g21", 0, ERK2, "Positive_activation", STAT3))

    conv("g25")("user" -> "MEK1, a dual-specificity kinase, phosphorylates ERK2.")(
      tri("g25", 0, "", "Phosphorylation", ERK2),
      tri("g25", 0, MEK1, "Positive_regulation", s"Phosphorylation($ERK2)"))

    // EventSite storage + siteSniffer promotion (DarpaActions.scala:90-110,
    // 266-297): the site attaches to the entity first, then moves to the event
    conv("g22")("user" ->
      "The phosphorylation of the Y63 residue of HuR is increased by JAK3.")(
      tri("g22", 0, "", "Phosphorylation", HuR, "Y63"),
      tri("g22", 0, JAK3, "Positive_regulation", s"Phosphorylation($HuR@Y63)",
        "Y63"))

    // alias-surface rescan (J3): OLK1 is used BEFORE its parenthetical
    // definition; the conversation-wide rescan + alias edge + connected
    // components still canonicalize it onto optineurin
    conv("g23")(
      "user" -> "OLK1 phosphorylates AKT1.",
      "assistant" -> "Optineurin (also known as OLK1) regulates autophagy.")(
      tri("g23", 0, "", "Phosphorylation", AKT1),
      tri("g23", 0, OPT, "Positive_regulation", s"Phosphorylation($AKT1)"))

    // mutation post-modifier skipped by the surface rule, stored as a Mutant
    // modification (mutants.yml semantics; mods pinned by ModsSpec/kg_mods)
    conv("g26")("user" -> "The ERK2 T669A mutant binds AKT1.")(
      tri("g26", 0, "", "Binding", Seq(ERK2, AKT1).sorted.mkString("&")))

    // PTM participle prefix: entity still grounds to the base protein; the
    // PTM itself is pinned as a modification (storePTM semantics)
    conv("g27")("user" -> "Phosphorylated ERK2 binds STAT3.")(
      tri("g27", 0, "", "Binding", Seq(ERK2, STAT3).sorted.mkString("&")))

    // plural coref with cardinality 2 (Anaphoric.cardinality semantics):
    // "Both" resolves to the two nearest distinct antecedents and the event
    // expands into one per antecedent
    conv("g28")(
      "user" -> "AKT1 binds GSK3.",
      "assistant" -> "Both are phosphorylated by MEK1.")(
      tri("g28", 0, "", "Binding", Seq(AKT1, GSK3).sorted.mkString("&")),
      tri("g28", 1, "", "Phosphorylation", AKT1),
      tri("g28", 1, "", "Phosphorylation", GSK3),
      tri("g28", 1, MEK1, "Positive_regulation", s"Phosphorylation($AKT1)"),
      tri("g28", 1, MEK1, "Positive_regulation", s"Phosphorylation($GSK3)"))

    // de-event coordination (TestTemplaticSimpleDeEvents:20-27 mirror)
    conv("g29")("user" ->
      "JAK3 dephosphorylates three HuR residues (Y63, Y68, Y200).")(
      tri("g29", 0, "", "Dephosphorylation", HuR, "Y63"),
      tri("g29", 0, "", "Dephosphorylation", HuR, "Y68"),
      tri("g29", 0, "", "Dephosphorylation", HuR, "Y200"),
      tri("g29", 0, JAK3, "Positive_regulation", s"Dephosphorylation($HuR@Y63)", "Y63"),
      tri("g29", 0, JAK3, "Positive_regulation", s"Dephosphorylation($HuR@Y68)", "Y68"),
      tri("g29", 0, JAK3, "Positive_regulation", s"Dephosphorylation($HuR@Y200)", "Y200"))

    // auto-events: theme doubles as controller (TestTemplaticAutoEvents)
    val EGFR = gidOf("EGFR")
    conv("g30")("user" -> "EGFR autophosphorylates.")(
      tri("g30", 0, "", "AutoPhosphorylation", EGFR),
      tri("g30", 0, EGFR, "Positive_regulation", s"AutoPhosphorylation($EGFR)"))
    conv("g31")("user" -> "EGFR phosphorylates itself.")(
      tri("g31", 0, "", "AutoPhosphorylation", EGFR),
      tri("g31", 0, EGFR, "Positive_regulation", s"AutoPhosphorylation($EGFR)"))

    // nounPhraseMatch class compatibility (DarpaLinks.scala:267-354 +
    // TestCoreference sent14): "This protein" must skip the nearer chemical
    // and resolve to mTOR
    conv("g32")(
      "user" -> "Rapamycin inhibits mTOR.",
      "assistant" -> "This protein is phosphorylated by AKT1.")(
      tri("g32", 0, RAPA, "Negative_activation", mTOR),
      tri("g32", 1, "", "Phosphorylation", mTOR),
      tri("g32", 1, AKT1, "Positive_regulation", s"Phosphorylation($mTOR)"))

    // mutantProteinMatch (DarpaLinks.scala:77-110 + TestCoreference sent33a):
    // "the mutant" resolves to the specifically-mutated AKT1
    conv("g33")("user" ->
      "AKT1 T308A is common, and the mutant binds GSK3.")(
      tri("g33", 0, "", "Binding", Seq(AKT1, GSK3).sorted.mkString("&")))

    // mutant-code mismatch (TestCoreference sent32b shape): "the T671A
    // mutant" cannot resolve to AKT1 T308A -> the binding is dropped
    conv("g34")("user" ->
      "AKT1 T308A is common, and the T671A mutant binds GSK3.")()

    // simpleEventMatch, same sentence (TestCoreference sent27a): "this
    // phosphorylation" resolves to the JAK3->HuR event; the activation's
    // subject flattens to the resolved event's theme
    conv("g35")("user" ->
      "We found that JAK3 phosphorylates HuR, and this phosphorylation upregulates STAT3.")(
      tri("g35", 0, "", "Phosphorylation", HuR),
      tri("g35", 0, JAK3, "Positive_regulation", s"Phosphorylation($HuR)"),
      tri("g35", 0, HuR, "Positive_activation", STAT3))

    // simpleEventMatch across turns, as a regulation's controlled
    conv("g36")(
      "user" -> "MEK1 phosphorylates ERK2.",
      "assistant" -> "AKT1 enhances this phosphorylation.")(
      tri("g36", 0, "", "Phosphorylation", ERK2),
      tri("g36", 0, MEK1, "Positive_regulation", s"Phosphorylation($ERK2)"),
      tri("g36", 1, AKT1, "Positive_regulation", s"Phosphorylation($ERK2)"))

    // no determiner -> no event anaphora (TestCoreference sent27b)
    conv("g37")("user" ->
      "JAK3 phosphorylates HuR, and phosphorylation upregulates STAT3.")(
      tri("g37", 0, "", "Phosphorylation", HuR),
      tri("g37", 0, JAK3, "Positive_regulation", s"Phosphorylation($HuR)"))

    // strictHeadMatch (DarpaLinks.scala:120-162): "the cyclin" links to the
    // multi-word "Cyclin D1" via its head token
    conv("g38")(
      "user" -> "Cyclin D1 is expressed in HeLa cells.",
      "assistant" -> "The cyclin binds AKT1.")(
      tri("g38", 0, "", "Transcription", CCND1),
      tri("g38", 1, "", "Binding", Seq(CCND1, AKT1).sorted.mkString("&")))

    // degree-2 dependency hypothesis scope (HypothesisHandler.scala:12,47-76):
    // the hint verb is one conj_and hop from the first clause's predicate, so
    // BOTH clauses' events are marked — deliberately blunt, as the reference is
    conv("g39")("user" ->
      "MEK1 phosphorylates ERK2, and we hypothesize that JAK3 ubiquitinates HuR.")(
      tri("g39", 0, "", "Phosphorylation", ERK2, "", hyp = true),
      tri("g39", 0, MEK1, "Positive_regulation", s"Phosphorylation($ERK2)", "",
        hyp = true),
      tri("g39", 0, "", "Ubiquitination", HuR, "", hyp = true),
      tri("g39", 0, JAK3, "Positive_regulation", s"Ubiquitination($HuR)", "",
        hyp = true))

    // LinearSelector picks the candidate closest to the START of the
    // antecedent sentence (AntecedentSelector.scala:14-31): "It" resolves to
    // AKT1, not the nearer GSK3
    conv("g40")(
      "user" -> "AKT1 binds GSK3.",
      "assistant" -> "It is phosphorylated by MEK1.")(
      // "It" takes the antecedent nearest the anaphor's sentence start —
      // GSK3, not the earlier subject (LinearSelector semantics,
      // TestCoreference sent56b: "ASPP1 binds Mek. It then binds KIAA0771."
      // resolves It -> Mek)
      tri("g40", 0, "", "Binding", Seq(AKT1, GSK3).sorted.mkString("&")),
      tri("g40", 1, "", "Phosphorylation", GSK3),
      tri("g40", 1, MEK1, "Positive_regulation", s"Phosphorylation($GSK3)"))

    // resolveDisplay disambiguation (ReachSystem.scala:249-293): MAPK is a
    // GGP-labeled mention whose only grounding is a family KB -> its node
    // displays "Family" (display pinned by ConvProcessorSpec + the
    // kg_canonical_nodes driver row)
    val MAPK = gidOf("MAPK")
    conv("g41")("user" -> "MAPK binds AKT1.")(
      tri("g41", 0, "", "Binding", Seq(MAPK, AKT1).sorted.mkString("&")))

    // ---- dependency-rule fixtures (F8: constructions the surface token
    // rules cannot express; biogrammar syntax rules + bind_events.yml) ----

    // reduced participle: the main-clause subject is ERK2 (<vmod theme),
    // and MEK1 — the participle's agent — must NOT surface as binding theme
    // (bind_events.yml:10-20 takes theme1 via nsubj)
    conv("g42")("user" -> "ERK2 phosphorylated by MEK1 binds STAT3.")(
      tri("g42", 0, "", "Phosphorylation", ERK2),
      tri("g42", 0, MEK1, "Positive_regulation", s"Phosphorylation($ERK2)"),
      tri("g42", 0, "", "Binding", Seq(ERK2, STAT3).sorted.mkString("&")))

    // object relative with bare "that": the relativized head is the theme
    // (simple-event_template.yml <rcmod paths)
    conv("g43")("user" ->
      "The AKT1 protein that MEK1 phosphorylates binds ERK2.")(
      tri("g43", 0, "", "Phosphorylation", AKT1),
      tri("g43", 0, MEK1, "Positive_regulation", s"Phosphorylation($AKT1)"),
      tri("g43", 0, "", "Binding", Seq(AKT1, ERK2).sorted.mkString("&")))

    // xcomp control: the matrix subject reaches the complement's event
    // through <xcomp nsubj (syntax_1a cause path)
    conv("g44")("user" -> "MEK1 continues to phosphorylate ERK2.")(
      tri("g44", 0, "", "Phosphorylation", ERK2),
      tri("g44", 0, MEK1, "Positive_regulation", s"Phosphorylation($ERK2)"))

    // xcomp control under a negation-class matrix verb ("fails")
    conv("g45")("user" -> "MEK1 fails to phosphorylate ERK2.")(
      tri("g45", 0, "", "Phosphorylation", ERK2, "", neg = false),
      tri("g45", 0, MEK1, "Positive_regulation", s"Phosphorylation($ERK2)", "",
        neg = true))

    // raising passive: theme via <xcomp nsubjpass ("is known to interact")
    conv("g46")("user" -> "STAT3 is known to interact with AKT1.")(
      tri("g46", 0, "", "Binding", Seq(STAT3, AKT1).sorted.mkString("&")))

    // irregular-participle vmod + subject consistency: nsubjpass of the main
    // verb is AKT1, so GSK3 (the participle's prep_to object) cannot be the
    // passive theme
    conv("g47")("user" -> "AKT1 bound to GSK3 is phosphorylated by MEK1.")(
      tri("g47", 0, "", "Binding", Seq(AKT1, GSK3).sorted.mkString("&")),
      tri("g47", 0, "", "Phosphorylation", AKT1),
      tri("g47", 0, MEK1, "Positive_regulation", s"Phosphorylation($AKT1)"))

    // passive binding ("is bound by")
    conv("g48")("user" -> "ERK2 is bound by STAT3.")(
      tri("g48", 0, "", "Binding", Seq(ERK2, STAT3).sorted.mkString("&")))

    // ---- round 3: negation / polarity-composition / copular fixtures ----
    // mined from the reference tests (NegationTests, TestRegulationEvents,
    // HypothesisTests) with lexicon-covered entities substituted

    // contracted negation, PTB clitic split (NegationTests "RAS doesn't
    // phosphorylate MEK")
    conv("g49")("user" -> "MEK1 doesn't phosphorylate ERK2.")(
      tri("g49", 0, "", "Phosphorylation", ERK2, "", neg = false),
      tri("g49", 0, MEK1, "Positive_regulation", s"Phosphorylation($ERK2)", "",
        neg = true))

    // progressive + contracted negation (NegationTests "RAS isn't
    // phosphorylating MEK")
    conv("g50")("user" -> "MEK1 isn't phosphorylating ERK2.")(
      tri("g50", 0, "", "Phosphorylation", ERK2, "", neg = false),
      tri("g50", 0, MEK1, "Positive_regulation", s"Phosphorylation($ERK2)", "",
        neg = true))

    // "plays no role in" — NegationHandler bigram (play, no); the regulation
    // is negated, the inner event is not (NegationTests)
    conv("g51")("user" ->
      "MEK1 plays no role in the phosphorylation of ERK2.")(
      tri("g51", 0, "", "Phosphorylation", ERK2),
      tri("g51", 0, MEK1, "Positive_regulation", s"Phosphorylation($ERK2)", "",
        neg = true))

    // polarity composition Neg∘Pos: semantic negative on the controller path
    // flips the positive trigger (TestRegulationEvents sent13)
    conv("g52")("user" ->
      "The inhibition of PTEN increases the phosphorylation of ASPP2.")(
      tri("g52", 0, "", "Phosphorylation", ASPP2),
      tri("g52", 0, PTEN, "Negative_regulation", s"Phosphorylation($ASPP2)"))

    // Neg∘Neg = positive (TestRegulationEvents sent16)
    conv("g53")("user" ->
      "The inhibition of PTEN decreases ASPP2 phosphorylation.")(
      tri("g53", 0, "", "Phosphorylation", ASPP2),
      tri("g53", 0, PTEN, "Positive_regulation", s"Phosphorylation($ASPP2)"))

    // passive variant of the composition (TestRegulationEvents sent14)
    conv("g54")("user" ->
      "The phosphorylation of ASPP2 is increased by the inhibition of PTEN.")(
      tri("g54", 0, "", "Phosphorylation", ASPP2),
      tri("g54", 0, PTEN, "Negative_regulation", s"Phosphorylation($ASPP2)"))

    // copular nominal triggers (TestRegulationEvents sent17/sent18)
    conv("g55")("user" -> "PTEN is an activator of the ubiquitination of ASPP2.")(
      tri("g55", 0, "", "Ubiquitination", ASPP2),
      tri("g55", 0, PTEN, "Positive_regulation", s"Ubiquitination($ASPP2)"))
    conv("g56")("user" -> "PTEN is an inhibitor of the ubiquitination of ASPP2.")(
      tri("g56", 0, "", "Ubiquitination", ASPP2),
      tri("g56", 0, PTEN, "Negative_regulation", s"Ubiquitination($ASPP2)"))

    // explicit hypothesis verb (HypothesisTests "we hypothesize that ...")
    conv("g57")("user" -> "Now, we hypothesize that MEK1 phosphorylates ERK2.")(
      tri("g57", 0, "", "Phosphorylation", ERK2, "", hyp = true),
      tri("g57", 0, MEK1, "Positive_regulation", s"Phosphorylation($ERK2)", "",
        hyp = true))

    // Hydrolysis family — irregular morphology (taxonomy AdditionEvent;
    // hydrolysis_events.yml; TestTemplaticSimpleEvents testHydrolysisPass1/
    // SubjNom1/ObjNom1): verbal "hydrolyze(s/d)", nominal "hydrolysis"
    val GTP = gidOf("GTP", "Simple_chemical")
    conv("g58")("user" -> "GTP is hydrolyzed by Ras.")(
      tri("g58", 0, "", "Hydrolysis", GTP),
      tri("g58", 0, RAS, "Positive_regulation", s"Hydrolysis($GTP)"))
    conv("g59")("user" -> "Ras hydrolysis of GTP increased.")(
      tri("g59", 0, "", "Hydrolysis", GTP),
      tri("g59", 0, RAS, "Positive_regulation", s"Hydrolysis($GTP)"))
    conv("g60")("user" -> "GTP hydrolysis by Ras increased.")(
      tri("g60", 0, "", "Hydrolysis", GTP),
      tri("g60", 0, RAS, "Positive_regulation", s"Hydrolysis($GTP)"))
    // subject-nominal cause (simple-event_template syntax_1a_noun example
    // "Ras phosphorylation of ASPP2 increased"): the nn before the nominal
    // trigger is the CAUSE, not a second theme
    conv("g61")("user" -> "MEK1 phosphorylation of ERK2 increased.")(
      tri("g61", 0, "", "Phosphorylation", ERK2),
      tri("g61", 0, MEK1, "Positive_regulation", s"Phosphorylation($ERK2)"))

    // multi-site unpack (entities.yml multi-site + unpackRelations;
    // TestTemplaticSimpleEvents sent14a / TestTemplaticSimpleDeEvents
    // sent14a-b): bare coordinated numbers after a Site become Sites; the
    // site-before-theme nominal rule (syntax token_4_noun) yields one event
    // per site
    val KRAS = gidOf("K-Ras"); val HRAS = gidOf("H-Ras")
    conv("g62")("user" ->
      "Experiments revealed ubiquitination at Lys residues 104 and 147 of K-Ras.")(
      tri("g62", 0, "", "Ubiquitination", KRAS, "Lys residues 104"),
      tri("g62", 0, "", "Ubiquitination", KRAS, "147"))
    conv("g63")("user" ->
      "Experiments revealed deubiquitination at Lys residues 117, 147, and 170 for H-Ras.")(
      tri("g63", 0, "", "Deubiquitination", HRAS, "Lys residues 117"),
      tri("g63", 0, "", "Deubiquitination", HRAS, "147"),
      tri("g63", 0, "", "Deubiquitination", HRAS, "170"))

    // translocation faithfulness (translocation_events.yml:12-172;
    // TestTranslocationEvents sent2/sent3b): one event per coordinated
    // destination/source; from-only shapes carry the source gid in the
    // site slot
    val CYTOSOL = gidOf("cytosol", "Cellular_component")
    val MEMBR = gidOf("membrane", "Cellular_component")
    val PMEMBR = gidOf("plasma membrane", "Cellular_component")
    val NMEMBR = gidOf("nuclear membrane", "Cellular_component")
    conv("g64")("user" ->
      "ASPP2 is transported from the membrane to the nucleus and cytosol.")(
      tri("g64", 0, "", "Translocation", ASPP2, NUC),
      tri("g64", 0, "", "Translocation", ASPP2, CYTOSOL))
    conv("g65")("user" ->
      "The release of ASPP2 from the plasma membrane and nuclear membrane was observed.")(
      tri("g65", 0, "", "Translocation", ASPP2, PMEMBR),
      tri("g65", 0, "", "Translocation", ASPP2, NMEMBR))

    // binding coordination (TestBindingEvents sent5 / mkBinding cross
    // product): coordinated subjects each pair with the object, never with
    // each other; the participle before the object is a PTM, not a blocker.
    // Subject-coordination with no object still pairs the subjects (sent7
    // "ASPP1 and ASPP2 bind" shape / "form a complex")
    val RAF = gidOf("RAF", "Family"); val PI3K = gidOf("PI3K")
    conv("g66")("user" -> "RAF and PI3K bind to ubiquitinated Ras.")(
      tri("g66", 0, "", "Binding", Seq(RAF, RAS).sorted.mkString("&")),
      tri("g66", 0, "", "Binding", Seq(PI3K, RAS).sorted.mkString("&")))
    conv("g67")("user" -> "Grb2 and SOS form a complex.")(
      tri("g67", 0, "", "Binding", Seq(GRB2, SOS).sorted.mkString("&")))

    // activation breadth (TestActivationEvents sent2/sent14/sent17):
    // coordinated controlled entities split one activation per pair; the
    // appositive copular nominal carries trigger-noun polarity; a trailing
    // "enzymatic activity" nominal reads as the entity itself
    conv("g68")("user" -> "Ubiquitinated Ras activates RAF and PI3K.")(
      tri("g68", 0, RAS, "Positive_activation", RAF),
      tri("g68", 0, RAS, "Positive_activation", PI3K))
    conv("g69")("user" ->
      "Rapamycin, an inhibitor of the mTOR kinase, was added.")(
      tri("g69", 0, RAPA, "Negative_activation", mTOR))
    conv("g70")("user" -> "JAK1 stimulates STAT3 enzymatic activity.")(
      tri("g70", 0, JAK1, "Positive_activation", STAT3))

    // transcription/expression family (transcription_events.yml:8-78;
    // TestTranscriptionEvents sent1/sent6/sent8): expression nominals and
    // (over)expressed passives are Transcription events; a by-cause splits
    // into a wrapping regulation; "upregulates X expression" is a regulation
    // over the Transcription, not an activation
    conv("g71")("user" ->
      "Expression of cyclin D1 by beta-catenin was detected.")(
      tri("g71", 0, "", "Transcription", CCND1),
      tri("g71", 0, BCAT, "Positive_regulation", s"Transcription($CCND1)"))
    conv("g72")("user" -> "EGFR is overexpressed by MEK1.")(
      tri("g72", 0, "", "Transcription", EGFR),
      tri("g72", 0, MEK1, "Positive_regulation", s"Transcription($EGFR)"))
    conv("g73")("user" -> "JAK1 upregulates STAT3 expression.")(
      tri("g73", 0, "", "Transcription", STAT3),
      tri("g73", 0, JAK1, "Positive_regulation", s"Transcription($STAT3)"))

    // subject-nominal regulation (TestRegulationEvents sent28): the
    // controller nn precedes the nominal reg trigger; trigger-noun polarity
    conv("g74")("user" ->
      "Rapamycin inhibition of the phosphorylation of ERK2 was observed.")(
      tri("g74", 0, "", "Phosphorylation", ERK2),
      tri("g74", 0, RAPA, "Negative_regulation", s"Phosphorylation($ERK2)"))

    // by-gerund controlled (TestRegulationEvents sent40): the regulation's
    // controlled is the gerund event behind "by"
    conv("g75")("user" -> "GSK3 promotes apoptosis by phosphorylating BAD.")(
      tri("g75", 0, "", "Phosphorylation", BAD),
      tri("g75", 0, GSK3, "Positive_regulation", s"Phosphorylation($BAD)"))

    // negation parity INSIDE one event interval (handleNegations:115-137):
    // "not" + "fail" = even -> both cancel, the regulation is asserted
    conv("g76")("user" -> "MEK1 does not fail to phosphorylate ERK2.")(
      tri("g76", 0, "", "Phosphorylation", ERK2),
      tri("g76", 0, MEK1, "Positive_regulation", s"Phosphorylation($ERK2)"))

    // activations share the regulation trigger vocabulary (events_master.yml
    // posTriggers/negTriggers feed both template families); a semantic
    // negative on the controller flips polarity — "negative of negative"
    // (NegationTests sent14/15)
    conv("g77")("user" -> "Dominant negative ASPP2 impaired AKT1.")(
      tri("g77", 0, ASPP2, "Positive_activation", AKT1))
    conv("g78")("user" -> "JAK1 knockdown impaired STAT3.")(
      tri("g78", 0, JAK1, "Positive_activation", STAT3))
    conv("g79")("user" -> "MEK1 increases ERK2.")(
      tri("g79", 0, MEK1, "Positive_activation", ERK2))

    // PTM-participle premodifier shapes (TestModifications JJ/VBN ±site
    // ±interceding "protein(s)"): the participle becomes a PTM mod on the
    // entity (with site when "at SITE" follows), never an event; the main
    // verb still extracts. Sentence-initial participles must parse as
    // premodifiers, not imperatives.
    val AKT = gidOf("AKT"); val SRC = gidOf("Src")
    conv("g80")("user" -> "Ubiquitinated Ras at Ser16 binds AKT and ASPP2.")(
      tri("g80", 0, "", "Binding", Seq(RAS, AKT).sorted.mkString("&")),
      tri("g80", 0, "", "Binding", Seq(RAS, ASPP2).sorted.mkString("&")))
    conv("g81")("user" ->
      "The phosphorylated Ras protein at Ser16 binds AKT and ASPP2.")(
      tri("g81", 0, "", "Binding", Seq(RAS, AKT).sorted.mkString("&")),
      tri("g81", 0, "", "Binding", Seq(RAS, ASPP2).sorted.mkString("&")))
    // relative-clause passive PTM with long-form site (TestModifications
    // VBNThatIs): the clause is a real event; the matrix Binding survives
    conv("g82")("user" ->
      "Src tyrosyl binds Ras that is ubiquitinated at serine 286.")(
      tri("g82", 0, "", "Binding", Seq(SRC, RAS).sorted.mkString("&")),
      tri("g82", 0, "", "Ubiquitination", RAS, "serine 286"))
    // de-PTM premodifier (TestDeModifications deubiqVBNWithSite analogue)
    conv("g83")("user" -> "Dephosphorylated Ras at Ser16 binds AKT and ASPP2.")(
      tri("g83", 0, "", "Binding", Seq(RAS, AKT).sorted.mkString("&")),
      tri("g83", 0, "", "Binding", Seq(RAS, ASPP2).sorted.mkString("&")))

    // Coref sieve faithfulness (TestCoreference sent1-sent9 shapes):
    // subject-verb agreement blocks the false {STAT3, it} theme coordination,
    // and the LinearSelector picks the mention closest to sentence START
    // ("it" -> ASPP2, not the nearer STAT3)
    conv("g84")("user" ->
      "ASPP2 is even more common than STAT3, and it is often ubiquitinated.")(
      tri("g84", 0, "", "Ubiquitination", ASPP2))
    // possessive plural nominal events: a non-binding expands per antecedent
    // (sent2), a binding takes the antecedents jointly (sent3)
    conv("g85")("user" ->
      "Even more than STAT3, ASPP2 is common, as is their phosphorylation.")(
      tri("g85", 0, "", "Phosphorylation", ASPP2),
      tri("g85", 0, "", "Phosphorylation", STAT3))
    conv("g86")("user" ->
      "Even more than STAT3, ASPP2 is common, as is their binding.")(
      tri("g86", 0, "", "Binding", Seq(ASPP2, STAT3).sorted.mkString("&")))
    // sibling-generic exclusion: "them" skips the antecedent "its" already
    // took, yielding the two cross pairs and never (STAT3, MEK1) (sent4)
    conv("g87")("user" -> ("ASPP2 is common, even more than STAT3 and MEK1, " +
      "and so is its binding to them."))(
      tri("g87", 0, "", "Binding", Seq(ASPP2, STAT3).sorted.mkString("&")),
      tri("g87", 0, "", "Binding", Seq(ASPP2, MEK1).sorted.mkString("&")))
    // unresolved generic controller drops ONLY the regulation (sent6);
    // coArguments exclusion leaves "it" unresolvable -> no events (sent7);
    // a singular anaphor cannot fill a binding -> no events (sent18)
    conv("g88")("user" -> "It phosphorylates ERK2.")(
      tri("g88", 0, "", "Phosphorylation", ERK2))
    conv("g89")("user" -> "MEK1 phosphorylates it.")()
    conv("g90")("user" -> "ASPP2 and STAT3 are common, as is its binding.")()
    // cross-sentence pronominal link once the co-argument is excluded (sent9)
    conv("g91")("user" ->
      "Much work has been done on ASPP2. It is known that MEK1 binds it.")(
      tri("g91", 0, "", "Binding", Seq(MEK1, ASPP2).sorted.mkString("&")))

    // Alias template vocabulary (TestCoreference sent37-44 shapes):
    // "a.k.a." series with ,/or separators shares grounding with every
    // target; "and" is not a series separator; the unknown side may sit
    // on the left ("AKTX4, sometimes called AKT1"); a Site can never be
    // an alias target (sent38)
    conv("g92")("user" -> ("AKT1 (a.k.a. Akt334, AktTR, or Akt4H) is " +
      "phosphorylated. AktTR is ubiquitinated."))(
      tri("g92", 0, "", "Phosphorylation", AKT1),
      tri("g92", 0, "", "Ubiquitination", AKT1))
    conv("g93")("user" -> "AKTX4, sometimes called AKT1, phosphorylates ERK2.")(
      tri("g93", 0, "", "Phosphorylation", ERK2),
      tri("g93", 0, AKT1, "Positive_regulation", s"Phosphorylation($ERK2)"))
    conv("g94")("user" -> ("AKT1 (a.k.a. Akt334 and Akt4H) is phosphorylated. " +
      "Akt334 is ubiquitinated."))(
      tri("g94", 0, "", "Phosphorylation", AKT1))
    conv("g95")("user" -> "STAT3 (hereafter referred to as Y63) is phosphorylated.")(
      tri("g95", 0, "", "Phosphorylation", STAT3))
    // compatibleMutants: a plain generic NP never links to a specifically-
    // mutated antecedent (sent33c)
    conv("g96")("user" -> "AKT1 K341L is common, and the protein binds GTP.")()

    // ---- round-3 batch 2: TestRegulationEvents sent30-57 shapes ----------
    val WORT = gidOf("wortmannin", "Simple_chemical")
    val APO = gidOf("apoptosis", "BioProcess")
    val P53 = gidOf("p53"); val GAB1 = gidOf("Gab1")
    // mutant premodifier lists as regulation controllers (sent30) — the
    // fused "K650E-AKT1" token splits, the codes become Mutant mods, and
    // the mutant variants' regs collapse to one edge (same grounding)
    conv("g97")("user" ->
      "Note that only K650M and K650E-AKT1 mutants cause STAT3 phosphorylation.")(
      tri("g97", 0, "", "Phosphorylation", STAT3),
      tri("g97", 0, AKT1, "Positive_regulation", s"Phosphorylation($STAT3)"))
    // + site list -> one phospho and one reg per site (sent31)
    conv("g98")("user" ->
      "Note that only K650M, K660M, and K650E-AKT1 mutants cause STAT3 phosphorylation on Y123 and T546.")(
      tri("g98", 0, "", "Phosphorylation", STAT3, "Y123"),
      tri("g98", 0, "", "Phosphorylation", STAT3, "T546"),
      tri("g98", 0, AKT1, "Positive_regulation", s"Phosphorylation($STAT3@Y123)", "Y123"),
      tri("g98", 0, AKT1, "Positive_regulation", s"Phosphorylation($STAT3@T546)", "T546"))
    // hyphen-fused nominal trigger (sent32)
    conv("g99")("user" -> "p53-phosphorylation of ERK2 was detected.")(
      tri("g99", 0, "", "Phosphorylation", ERK2),
      tri("g99", 0, P53, "Positive_regulation", s"Phosphorylation($ERK2)"))
    // in-response-to with "treatment with" (sent42)
    conv("g100")("user" ->
      "Cells expressing EGFR show tyrosine phosphorylation in response to treatment with KRAS.")(
      tri("g100", 0, "", "Phosphorylation", EGFR, "tyrosine"),
      tri("g100", 0, KRAS, "Positive_regulation", s"Phosphorylation($EGFR@tyrosine)", "tyrosine"))
    // negative nominal after the controller (sent44)
    conv("g101")("user" ->
      "Cells expressing EGFR show tyrosine phosphorylation in response to KRAS inhibition.")(
      tri("g101", 0, "", "Phosphorylation", EGFR, "tyrosine"),
      tri("g101", 0, KRAS, "Negative_regulation", s"Phosphorylation($EGFR@tyrosine)", "tyrosine"))
    // either/or coordinated controllers (sent49)
    conv("g102")("user" ->
      "the ability of the exogenous EGFR receptor to be tyrosine phosphorylated in response to stimulation with either rapamycin or wortmannin")(
      tri("g102", 0, "", "Phosphorylation", EGFR, "tyrosine"),
      tri("g102", 0, RAPA, "Positive_regulation", s"Phosphorylation($EGFR@tyrosine)", "tyrosine"),
      tri("g102", 0, WORT, "Positive_regulation", s"Phosphorylation($EGFR@tyrosine)", "tyrosine"))
    // auto-phosphorylation in response to (sent48)
    conv("g103")("user" ->
      "We first assayed the ability of the endogenous EGFR to be tyrosine autophosphorylated in response to rapamycin.")(
      tri("g103", 0, "", "AutoPhosphorylation", EGFR, "tyrosine"),
      tri("g103", 0, EGFR, "Positive_regulation", s"AutoPhosphorylation($EGFR@tyrosine)", "tyrosine"),
      tri("g103", 0, RAPA, "Positive_regulation", s"AutoPhosphorylation($EGFR@tyrosine)", "tyrosine"))
    // "following X activation" / "following inhibition of X" (sent54/54c)
    conv("g104")("user" -> "The phosphorylation of AKT1 following MEK activation.")(
      tri("g104", 0, "", "Phosphorylation", AKT1),
      tri("g104", 0, MEK, "Positive_regulation", s"Phosphorylation($AKT1)"))
    conv("g105")("user" -> "The phosphorylation of AKT1 following inhibition of MEK.")(
      tri("g105", 0, "", "Phosphorylation", AKT1),
      tri("g105", 0, MEK, "Negative_regulation", s"Phosphorylation($AKT1)"))
    // bioprocessValid: a BioProcess cannot control a regulation (sent55)
    conv("g106")("user" -> "Apoptosis promotes the phosphorylation of p53.")(
      tri("g106", 0, "", "Phosphorylation", P53))
    // regulation over an activation; the same-trigger activation reading and
    // the cross-trigger controller are both suppressed (sent56)
    conv("g107")("user" -> "KRAS activates AKT1-induced apoptosis.")(
      tri("g107", 0, AKT1, "Positive_activation", APO),
      tri("g107", 0, KRAS, "Positive_regulation", s"Positive_activation($APO)"))
    // event controller of a reg-over-activation (sent57)
    conv("g108")("user" ->
      "Indeed, expression of p53 has been shown to restore rapamycin induced apoptosis.")(
      tri("g108", 0, "", "Transcription", P53),
      tri("g108", 0, RAPA, "Positive_activation", APO),
      tri("g108", 0, P53, "Positive_regulation", s"Positive_activation($APO)"))
    // "decreased X expression" premodifier flips the polarity through the
    // dependency path (sent36/38 — amod on a path token); "suggest" marks
    // the complement clause hypothetical
    conv("g109")("user" ->
      "These data suggest that decreased PTEN expression increases phosphorylation of ERK2.")(
      tri("g109", 0, "", "Transcription", PTEN, hyp = true),
      tri("g109", 0, "", "Phosphorylation", ERK2, hyp = true),
      tri("g109", 0, PTEN, "Negative_regulation", s"Phosphorylation($ERK2)", hyp = true))
    // nominal reg trigger over an of-event with a by-controller; the
    // activation reading is suppressed (sent59)
    conv("g110")("user" ->
      "Up-regulation of p53 expression by active KRAS expression")(
      tri("g110", 0, "", "Transcription", P53),
      tri("g110", 0, "", "Transcription", KRAS),
      tri("g110", 0, KRAS, "Positive_regulation", s"Transcription($P53)"))
    // reduced postmodifier between passive subject and aux (sent52)
    conv("g111")("user" ->
      "As shown in Figure, the endogenous Gab1 present in WT MEFs is tyrosine phosphorylated in response to rapamycin treatment.")(
      tri("g111", 0, "", "Phosphorylation", GAB1, "tyrosine"),
      tri("g111", 0, RAPA, "Positive_regulation", s"Phosphorylation($GAB1@tyrosine)", "tyrosine"))

    // ---- round-3 batch 3: TestActivationEvents shapes ---------------------
    // activation-of wrapper on the controlled (sent1c)
    conv("g112")("user" -> "Nucleotide free KRAS inhibits activation of EGFR.")(
      tri("g112", 0, KRAS, "Negative_activation", EGFR))
    // Neg(suppression) o Pos(increases) o Neg(inhibition) = positive
    // across BOTH argument paths (sent10)
    conv("g113")("user" ->
      "The suppression of ASPP2 increases the inhibition of AKT1.")(
      tri("g113", 0, ASPP2, "Positive_activation", AKT1))
    // agent nominal between controlled and controller (sent13)
    conv("g114")("user" -> "mTOR activator rapamycin binds FKBP12.")(
      tri("g114", 0, RAPA, "Positive_activation", mTOR))
    // kinase-activity-of wrapper (sent18)
    conv("g115")("user" ->
      "Reciprocally, AKT1 stimulates the kinase activity of GSK3 on serine 15 of p53 in vitro.")(
      tri("g115", 0, AKT1, "Positive_activation", GSK3))
    // event controller of a negative activation (sent22)
    conv("g116")("user" -> "The phosphorylation of MEK deactivates K-Ras.")(
      tri("g116", 0, "", "Phosphorylation", MEK),
      tri("g116", 0, MEK, "Negative_activation", KRAS))
    // results-in activation nominal, transcription controller (sent41)
    conv("g117")("user" ->
      "AKT1 expression results in subsequent activation of MEK.")(
      tri("g117", 0, "", "Transcription", AKT1),
      tri("g117", 0, AKT1, "Positive_activation", MEK))
    // up-regulation of a gene after an of-adjective transcription (sent33)
    conv("g118")("user" ->
      "We found that prolonged expression of active KRAS resulted in up-regulation of the p53 gene.")(
      tri("g118", 0, "", "Transcription", KRAS),
      tri("g118", 0, KRAS, "Positive_activation", P53))
    // mutant premodifier controllers of an activation (sent25)
    conv("g119")("user" ->
      "Figure 2 shows that only the K650M and K650E ASPP2 mutants activated STAT3 in 293T and RCS cells.")(
      tri("g119", 0, ASPP2, "Positive_activation", STAT3))

    // ---- round-3 batch 4: TestBindingEvents shapes ------------------------
    // object nominal with by-agent (testBindingObjNom1)
    conv("g120")("user" -> "We detected elevated K-Ras binding by p53.")(
      tri("g120", 0, "", "Binding", Seq(KRAS, P53).sorted.mkString("&")))
    // appositive relative, active + passive (testBindingSubjRel1/ObjRel1)
    conv("g121")("user" ->
      "We detected elevated phosphorylation of K-Ras, a protein that subsequently binds p53.")(
      tri("g121", 0, "", "Phosphorylation", KRAS),
      tri("g121", 0, "", "Binding", Seq(KRAS, P53).sorted.mkString("&")))
    conv("g122")("user" ->
      "We detected elevated phosphorylation of K-Ras, a protein that is subsequently bound by p53.")(
      tri("g122", 0, "", "Phosphorylation", KRAS),
      tri("g122", 0, "", "Binding", Seq(KRAS, P53).sorted.mkString("&")))
    // fused pair tokens in complex context (sent21-24, sent10)
    conv("g123")("user" -> "The heterodimer AKT1-GSK3 is awesome.")(
      tri("g123", 0, "", "Binding", Seq(AKT1, GSK3).sorted.mkString("&")))
    conv("g124")("user" -> "That Grb2/SOS complex is awesome.")(
      tri("g124", 0, "", "Binding", Seq(GRB2, SOS).sorted.mkString("&")))
    conv("g125")("user" ->
      "Moreover, the KRAS-ASPP2 interaction enhances the transcription function of p53 in cancer cells.")(
      tri("g125", 0, "", "Binding", Seq(KRAS, ASPP2).sorted.mkString("&")))
    // dimerization nominal (sent19)
    conv("g126")("user" -> "The dimerization of ERK2 with BRAF helps something.")(
      tri("g126", 0, "", "Binding", Seq(gidOf("BRAF"), ERK2).sorted.mkString("&")))
    // coexist-in-complex coordination (sent28); "whether" marks hypothesis
    conv("g127")("user" ->
      "To confirm whether AKT1 and GSK3 coexist in a common complex, we carried out co-immunoprecipitation experiments in HeLa nuclear extracts.")(
      tri("g127", 0, "", "Binding", Seq(AKT1, GSK3).sorted.mkString("&"), hyp = true))

    // ---- round-3 batch 5: NegationTests sent14-17 (neg-of-neg) -----------
    conv("g128")("user" -> "AKT1 knockdown impaired the function of ASPP2.")(
      tri("g128", 0, AKT1, "Positive_activation", ASPP2))
    conv("g129")("user" -> "Silencing AKT1 impaired the function of ASPP2.")(
      tri("g129", 0, AKT1, "Positive_activation", ASPP2))

    // ---- round-3 batch 6: TestCoreference leftovers -----------------------
    // two-level complex event: reg over an induced activation whose
    // controlled sits behind "activation of the" (sent55)
    conv("g130")("user" ->
      "Gab1 mutant protein enhances rapamycin induced activation of the PI3K.")(
      tri("g130", 0, RAPA, "Positive_activation", gidOf("PI3K")),
      tri("g130", 0, GAB1, "Positive_regulation",
        s"Positive_activation(${gidOf("PI3K")})"))
    // cross-sentence pronoun takes the antecedent nearest the sentence
    // start (sent56b)
    conv("g131")(
      "user" -> "GSK3 binds MEK.",
      "user" -> "It then binds ERK2.")(
      tri("g131", 0, "", "Binding", Seq(GSK3, MEK).sorted.mkString("&")),
      tri("g131", 1, "", "Binding", Seq(MEK, ERK2).sorted.mkString("&")))
    // an intervening sentence breaks pronominal reach (sent16): no events
    conv("g132")("user" ->
      "AKT1 is common. This is an intervening sentence. It binds MEK.")()

    // ---- round-3 batch 7: TestTranslocationEvents shapes ------------------
    val PMEM = gidOf("plasma membrane", "Cellular_component")
    val CYTS = gidOf("cytosol", "Cellular_component")
    // subject-source release (testTranslocation1); site prefers destination
    conv("g133")("user" ->
      "Phosphorylation leads the plasma membrane to release p53 to the cytosol.")(
      tri("g133", 0, "", "Translocation", P53, CYTS))
    // appositive relative, passive with outer phosphorylation
    // (testTranslocation4)
    conv("g134")("user" ->
      "ASPP2, a protein which is translocated from the membrane to the nucleus, is subsequently phosphorylated.")(
      tri("g134", 0, "", "Translocation", ASPP2, NUC),
      tri("g134", 0, "", "Phosphorylation", ASPP2))
    // active relative with subject cause -> wrapping regulation
    // (testTranslocation5)
    conv("g135")("user" ->
      "ASPP2, a protein which translocates MEK1 from the membrane to the nucleus, is subsequently phosphorylated.")(
      tri("g135", 0, "", "Translocation", MEK1, NUC),
      tri("g135", 0, ASPP2, "Positive_regulation", s"Translocation($MEK1@$NUC)", NUC),
      tri("g135", 0, "", "Phosphorylation", ASPP2))
    // passive relative with by-cause (testTranslocation7)
    conv("g136")("user" ->
      "ASPP2, a protein which is translocated from the membrane to the nucleus by GSK3, is subsequently phosphorylated.")(
      tri("g136", 0, "", "Translocation", ASPP2, NUC),
      tri("g136", 0, GSK3, "Positive_regulation", s"Translocation($ASPP2@$NUC)", NUC),
      tri("g136", 0, "", "Phosphorylation", ASPP2))
    // upregulated loss composes to a negative regulation over the
    // DecreaseAmount (TestAmountEvents sent2)
    conv("g137")("user" -> "ERK2 upregulates the loss of STAT3.")(
      tri("g137", 0, "", "DecreaseAmount", STAT3),
      tri("g137", 0, ERK2, "Negative_regulation", s"DecreaseAmount($STAT3)"))

    // ---- round-3 batch 8: TestModifications shapes ------------------------
    // participle premodifier with by-cause is an event, not a PTM (sent9)
    conv("g138")("user" ->
      "The phosphorylated p53 by ASPP2 is doing something.")(
      tri("g138", 0, "", "Phosphorylation", P53),
      tri("g138", 0, ASPP2, "Positive_regulation", s"Phosphorylation($P53)"))
    // parenthesized slash site run: one phospho + reg per site (sent14)
    conv("g139")("user" ->
      "all six AKT1 mutants induced activatory ERK2(T202/Y204) phosphorylation (Fig. 2).")(
      tri("g139", 0, "", "Phosphorylation", ERK2, "T202"),
      tri("g139", 0, "", "Phosphorylation", ERK2, "Y204"),
      tri("g139", 0, AKT1, "Positive_regulation", s"Phosphorylation($ERK2@T202)", "T202"),
      tri("g139", 0, AKT1, "Positive_regulation", s"Phosphorylation($ERK2@Y204)", "Y204"))
    // parenthesized mutation codes become Mutant mods, regulations NOT
    // activations (sent15)
    conv("g140")("user" ->
      "all six AKT1 mutants induced activatory ERK2(K156M/H204M) phosphorylation (Fig. 2).")(
      tri("g140", 0, "", "Phosphorylation", ERK2),
      tri("g140", 0, AKT1, "Positive_regulation", s"Phosphorylation($ERK2)"))
    // postposed reduced participle transcriptions + amount nominals coexist
    // (TestTranscriptionEvents sent7)
    conv("g141")("user" ->
      "We went on to examine the levels of STAT3 and BAD expressed in several uveal melanoma cell lines.")(
      tri("g141", 0, "", "Amount", STAT3),
      tri("g141", 0, "", "Amount", BAD),
      tri("g141", 0, "", "Transcription", STAT3),
      tri("g141", 0, "", "Transcription", BAD))
    // "influenced" is not a reference trigger: no regulation, and the
    // siRNA-induced loss reading must not misparse into a cause
    // (TestCoreference sent20 environment)
    conv("g142")("user" ->
      "We also monitored how siRNA-induced loss of MEK1 influenced phosphorylation of ERK2.")(
      tri("g142", 0, "", "DecreaseAmount", MEK1),
      tri("g142", 0, "", "Phosphorylation", ERK2))
    // possessive anaphor inside a nominal binding with coordinated partners
    // (TestCoreference sent5 shape)
    conv("g143")("user" ->
      "To address the effect of AKT1 ubiquitination on its binding to PI3K and RAF family members, either total G12V-K-Ras or the ubiquitinated subfraction of G12V-K-Ras was immunoprecipitated.")(
      tri("g143", 0, "", "Ubiquitination", AKT1),
      tri("g143", 0, "", "Binding", Seq(AKT1, gidOf("PI3K")).sorted.mkString("&")),
      tri("g143", 0, "", "Binding", Seq(AKT1, gidOf("RAF", "Family")).sorted.mkString("&")))

    // ---- round-3 batch 9: TestEntities guards -----------------------------
    // figure/table references are not sites; substrate lookahead kills the
    // entity; inhibitor lookahead absorbs it into a chemical (sent5/6/9)
    conv("g144")("user" -> "See Figure S31 and Table R15.")()
    conv("g145")("user" ->
      "The K-Ras substrate and mTOR substrates should not be found.")()
    conv("g146")("user" -> "AKT1 inhibitor was added to the solution.")()
    // "the MEK family" relabels the GGP as Family and grounds to the family
    // KB (mekText lookahead)
    conv("g147")("user" -> "the MEK family activates ERK2.")(
      tri("g147", 0, gidOf("MEK", "Family"), "Positive_activation", ERK2))
    // multi-word protein + "inhibitor" absorbs into one chemical
    // (TestEntities sent9c)
    conv("g148")("user" ->
      "Adenylate cyclase inhibitor was added to the solution.")()
    // a protein whose own name ENDS in "inhibitor" is NOT absorbed — it
    // stays a GGP (TestEntities sent9d)
    conv("g149")("user" ->
      "Vascular endothelial cell growth inhibitor was added to solution.")()
    // ... and when that GGP is an activation's cause, its head lemma
    // "inhibitor" sits on the trigger-arg dependency path, so
    // countSemanticNegatives flips the polarity (DarpaActions.scala:454-484:
    // the arg HEAD is on the shortest path and only trigger tokens are
    // excluded)
    conv("g150")("user" ->
      "Vascular endothelial cell growth inhibitor activates ERK2.")(
      tri("g150", 0, gidOf("vascular endothelial cell growth inhibitor"),
        "Negative_activation", ERK2))
    // fused-prefix chemical cause over a nominal event; no Site misreads
    // ("SRC-3" must not shed a site; TestEntities sent8)
    conv("g151")("user" ->
      "Our model, in which E2-induced SRC-3 phosphorylation occurs in a complex with ER")(
      tri("g151", 0, "", "Phosphorylation", gidOf("SRC-3")),
      tri("g151", 0, gidOf("E2", "Simple_chemical"), "Positive_regulation",
        s"Phosphorylation(${gidOf("SRC-3")})"))

    // ---- round-3 batch 10: HypothesisTests sen1/sen2/sen4 -----------------
    // epistemic verb takes the nominal event as dobj -> hypothesis
    conv("g152")("user" -> "Ras suggests the phosphorylation of MEK")(
      tri("g152", 0, "", "Phosphorylation", MEK, "", hyp = true))
    // "hints that" over a finite complement clause
    conv("g153")("user" ->
      "After extensive experimentation, the process hints that Ras phosphorylates MEK")(
      tri("g153", 0, "", "Phosphorylation", MEK, "", hyp = true),
      tri("g153", 0, gidOf("Ras", "Family"), "Positive_regulation",
        s"Phosphorylation($MEK)", "", hyp = true))
    // "indicates" + nominal event; the of-PP subject does not become a cause
    conv("g154")("user" ->
      "The presence of p53 indicates the phosphorylation of MEK")(
      tri("g154", 0, "", "Phosphorylation", MEK, "", hyp = true))

    // ---- round-3 batch 11: NegationTests sen5/7/9/12 -----------------------
    // bare gerund complement of "fails" — regulation negated, inner event not
    // (sen7; gerund xcomp arc added to the parser for this shape)
    conv("g155")("user" -> "MEK1 fails phosphorylating ERK2.")(
      tri("g155", 0, "", "Phosphorylation", ERK2),
      tri("g155", 0, MEK1, "Positive_regulation", s"Phosphorylation($ERK2)",
        "", neg = true))
    // passive + contracted negation, no agent (sen5)
    conv("g156")("user" -> "ERK2 wasn't phosphorylated.")(
      tri("g156", 0, "", "Phosphorylation", ERK2, "", neg = true))
    // "plays little role in" bigram (sen9; NegationHandler.scala:115-137)
    conv("g157")("user" ->
      "MEK1 plays little role in the phosphorylation of ERK2.")(
      tri("g157", 0, "", "Phosphorylation", ERK2),
      tri("g157", 0, MEK1, "Positive_regulation", s"Phosphorylation($ERK2)",
        "", neg = true))
    // double negation cancels: "fails not to" (sen12)
    conv("g158")("user" -> "MEK1 fails not to phosphorylate ERK2.")(
      tri("g158", 0, "", "Phosphorylation", ERK2),
      tri("g158", 0, MEK1, "Positive_regulation", s"Phosphorylation($ERK2)"))
    // non-negative control verb with a gerund complement stays positive
    conv("g159")("user" -> "MEK1 continues phosphorylating ERK2.")(
      tri("g159", 0, "", "Phosphorylation", ERK2),
      tri("g159", 0, MEK1, "Positive_regulation", s"Phosphorylation($ERK2)"))
    // "monoubiquitinated K-Ras" keeps the Ubiquitination PTM (contains-match
    // modLabel, TestModifications sent13); the comparative clause yields only
    // the GTP-hydrolysis nominal event
    conv("g160")("user" ->
      "monoubiquitinated KRAS is less sensitive than the unmodified protein to GTP hydrolysis.")(
      tri("g160", 0, "", "Hydrolysis", gidOf("GTP", "Simple_chemical")))

    // ---- round-3 batch 12: TestModifications mutant breadth ----------------
    // leftward code list across ", and": one variant per code, collapsing to
    // one grounded edge (mutantTest12/14)
    conv("g161")("user" ->
      "K111M, K112M, and K113M mutants of ASPP2 were phosphorylated.")(
      tri("g161", 0, "", "Phosphorylation", gidOf("ASPP2")))
    // HGVS deletion code in parens + Δ normalization; the mutant carries
    // through a which-relative (mutantTest17/18 token shapes)
    conv("g162")("user" ->
      "We used a deletion mutant of BRAF (ΔF508) which was phosphorylated.")(
      tri("g162", 0, "", "Phosphorylation", gidOf("BRAF")))
    // generic "Mutation of the X gene" attaches a codeless Mutant; the
    // epistemic "detected" yields no events (mutantTest15)
    conv("g163")("user" -> "Mutation of the PTEN gene was detected.")()
    // named-domain Site -> EventSite on the entity -> sniffed into the
    // Binding (Binding IS a SimpleEvent in the taxonomy; TestModifications
    // sent2 "the RBD of PI3KC2β")
    conv("g164")("user" ->
      "We demonstrate that the RBD of PI3K binds KRAS.")(
      tri("g164", 0, "", "Binding",
        Seq(gidOf("PI3K"), gidOf("KRAS")).sorted.mkString("&"), "RBD"))

    // ---- round-3 batch 13: TestCoreference breadth (sent1-19, 28-30) ------
    val ASPP1 = gidOf("ASPP1"); val ASPP2g = gidOf("ASPP2")
    val KRASg = gidOf("KRAS"); val GTPg = gidOf("GTP", "Simple_chemical")
    // comparative clause does not steal the antecedent (sent1: "it" -> ASPP2,
    // not the nearer comparison NP)
    conv("g165")("user" ->
      "ASPP2 is even more common than KRAS, and it is often ubiquitinated.")(
      tri("g165", 0, "", "Ubiquitination", ASPP2g))
    // unresolved pronoun cause: regulation dropped, event kept (sent6)
    conv("g166")("user" -> "It phosphorylates KRAS.")(
      tri("g166", 0, "", "Phosphorylation", KRASg))
    // controller cannot antecede the controlled's argument: no events (sent7)
    conv("g167")("user" -> "KRAS phosphorylates it.")()
    // pronoun chain across clauses; controller stays KRAS (sent8)
    conv("g168")("user" ->
      "ASPP2 is common, it is well known, and KRAS sumoylates it.")(
      tri("g168", 0, "", "Sumoylation", ASPP2g),
      tri("g168", 0, KRASg, "Positive_regulation", s"Sumoylation($ASPP2g)"))
    // cross-sentence antecedent; epistemic "It is known that" pronoun ignored
    // (sent9)
    conv("g169")("user" ->
      "Much work has been done on ASPP2. It is known that KRAS binds it.")(
      tri("g169", 0, "", "Binding",
        Seq(KRASg, ASPP2g).sorted.mkString("&")))
    // plural pronoun controller -> one reg per antecedent (sent10/10a)
    conv("g170")("user" ->
      "MEK1 and KRAS are in proximity, and they phosphorylate ASPP2.")(
      tri("g170", 0, "", "Phosphorylation", ASPP2g),
      tri("g170", 0, MEK1, "Positive_regulation", s"Phosphorylation($ASPP2g)"),
      tri("g170", 0, KRASg, "Positive_regulation", s"Phosphorylation($ASPP2g)"))
    conv("g171")("user" ->
      "MEK1 and KRAS are in proximity, and they upregulate the phosphorylation of ASPP2.")(
      tri("g171", 0, "", "Phosphorylation", ASPP2g),
      tri("g171", 0, MEK1, "Positive_regulation", s"Phosphorylation($ASPP2g)"),
      tri("g171", 0, KRASg, "Positive_regulation", s"Phosphorylation($ASPP2g)"))
    // plural pronoun theme -> one event+reg per antecedent (sent11)
    conv("g172")("user" ->
      "MEK1 and KRAS are in proximity, and ASPP2 phosphorylates them.")(
      tri("g172", 0, "", "Phosphorylation", MEK1),
      tri("g172", 0, "", "Phosphorylation", KRASg),
      tri("g172", 0, ASPP2g, "Positive_regulation", s"Phosphorylation($MEK1)"),
      tri("g172", 0, ASPP2g, "Positive_regulation", s"Phosphorylation($KRASg)"))
    // pronoun activation controller / controlled (sent12/13)
    conv("g173")("user" -> "KRAS is in proximity, and it activates ASPP2.")(
      tri("g173", 0, KRASg, "Positive_activation", ASPP2g))
    conv("g174")("user" -> "MEK1 is in proximity, and ASPP2 activates it.")(
      tri("g174", 0, ASPP2g, "Positive_activation", MEK1))
    // definite generic NP resolves (sent14); bare generic with no antecedent
    // leaves the binding incomplete -> dropped (sent14b); Species is not a
    // BioChemicalEntity antecedent (sent15); antecedent search is limited to
    // the previous sentence (sent16)
    conv("g175")("user" -> "ASPP1 is common, and this protein binds GTP.")(
      tri("g175", 0, "", "Binding", Seq(ASPP1, GTPg).sorted.mkString("&")))
    conv("g176")("user" -> "This protein binds GTP.")()
    conv("g177")("user" -> "KRAS is common, and a mouse binds GTP.")()
    conv("g178")("user" ->
      "KRAS is common. This is an intervening sentence. It binds MEK1.")()
    // named-definite NP is NOT generic (sent17)
    conv("g179")("user" ->
      "ASPP2 is common, and KRAS binds the MEK1 protein.")(
      tri("g179", 0, "", "Binding", Seq(KRASg, MEK1).sorted.mkString("&")))
    // possessive + plural joint binding: anchor x each antecedent, never
    // antecedent x antecedent (sent4)
    conv("g180")("user" ->
      "ASPP2 is common, even more than KRAS and MEK1, and so is its binding to them.")(
      tri("g180", 0, "", "Binding", Seq(ASPP2g, KRASg).sorted.mkString("&")),
      tri("g180", 0, "", "Binding", Seq(ASPP2g, MEK1).sorted.mkString("&")))
    // pronoun plural binding themes (sent19)
    conv("g181")("user" -> "ASPP1 is common, and it binds MEK1 and KRAS.")(
      tri("g181", 0, "", "Binding", Seq(ASPP1, MEK1).sorted.mkString("&")),
      tri("g181", 0, "", "Binding", Seq(ASPP1, KRASg).sorted.mkString("&")))
    // open-class indefinite generics never resolve (sent28a/28b); organs and
    // species are not antecedents (sent29/30)
    conv("g182")("user" -> "ASPP1 is common, and a protein is phosphorylated.")()
    conv("g183")("user" ->
      "ASPP1 is common, and a cistron phosphorylates ASPP2.")(
      tri("g183", 0, "", "Phosphorylation", ASPP2g))
    conv("g184")("user" -> "Liver is delicious, and it phosphorylates BRAF.")(
      tri("g184", 0, "", "Phosphorylation", gidOf("BRAF")))
    conv("g185")("user" ->
      "Humans are numerous, and they are sometimes activated by BRAF.")()

    // ---- round-3 batch 14: alias breadth (TestCoreference sent40-44) ------
    // comma alias, unknown on the left ("sometimes called")
    conv("g186")("user" -> "AKT4H, sometimes called AKT1, phosphorylates ERK2.")(
      tri("g186", 0, "", "Phosphorylation", ERK2),
      tri("g186", 0, AKT1, "Positive_regulation", s"Phosphorylation($ERK2)"))
    // paren "alias" cue
    conv("g187")("user" -> "AKT4H (alias AKT1) phosphorylates ERK2.")(
      tri("g187", 0, "", "Phosphorylation", ERK2),
      tri("g187", 0, AKT1, "Positive_regulation", s"Phosphorylation($ERK2)"))
    // paren multi-target series; a later turn using one target canonicalizes
    // (sent44a)
    conv("g188")(
      "user" -> "Akt (also called Akt334, AktTR, or Akt4H) is phosphorylated.",
      "assistant" -> "AktTR is also ubiquitinated.")(
      tri("g188", 0, "", "Phosphorylation", AKT1),
      tri("g188", 1, "", "Ubiquitination", AKT1))
    // comma multi-target series defined AFTER the target's use (sent44b —
    // the conversation-wide alias rescan canonicalizes backward). The
    // "previously" hint sits inside the event span, so the hypothesis scan
    // marks the phosphorylation (HypothesisHandler hint list includes
    // "previous(ly)"; the event interval spans trigger..args)
    conv("g189")(
      "user" -> "AktTR is ubiquitinated.",
      "assistant" ->
        "Akt, previously known as Akt334, AktTR, or Akt4H, is also phosphorylated.")(
      tri("g189", 0, "", "Ubiquitination", AKT1),
      tri("g189", 1, "", "Phosphorylation", AKT1, "", hyp = true))

    // -- TestCoreference sent49-63: alias grounding share ------------------
    // known<->known paren alias with the comparative adverb ("better known
    // as", sent58): BOTH sides keep their own winner — the reference only
    // rewrites an effectively-ungrounded side (Coref.scala:396-401); the
    // share is a candidate-list union, not an identity merge
    val ASPP1g = gidOf("ASPP1")
    conv("g190")("user" -> "ASPP1 (better known as ASPP2) binds MEK1.")(
      tri("g190", 0, "", "Binding",
        Seq(ASPP1g, MEK1).sorted.mkString("&")))

    // digit-initial nonce target (sent59: "23peM"): synthesized entity,
    // conversation-wide rescan, grounding collapses onto ASPP1's
    conv("g191")(
      "user" -> "ASPP1 (better known as 23peM) is a common protein.",
      "assistant" -> "23peM phosphorylates ERK2.")(
      tri("g191", 1, "", "Phosphorylation", ERK2),
      tri("g191", 1, ASPP1g, "Positive_regulation", s"Phosphorylation($ERK2)"))

    // bare-paren reversed nonce (sent60: "23peM (ASPP1)")
    conv("g192")(
      "user" -> "23peM (ASPP1) is a common protein.",
      "assistant" -> "23peM phosphorylates ERK2.")(
      tri("g192", 1, "", "Phosphorylation", ERK2),
      tri("g192", 1, ASPP1g, "Positive_regulation", s"Phosphorylation($ERK2)"))

    // chemical<->chemical alias (sent49a/52/53): both sides grounded, so
    // DAG keeps its own winner in emitted triples (candidate lists union —
    // the share the reference test asserts — without an identity rewrite)
    val DAGC = gidOf("DAG", "Simple_chemical")
    conv("g193")(
      "user" -> ("Diacylglycerol (hereafter referred to as DAG) functions " +
        "as a second messenger signaling lipid."),
      "assistant" -> "DAG activates MEK1.")(
      tri("g193", 1, DAGC, "Positive_activation", MEK1))
    conv("g194")(
      "user" -> ("Diacylglycerol, sometimes called DAG, functions as a " +
        "second messenger signaling lipid."),
      "assistant" -> "DAG activates MEK1.")(
      tri("g194", 1, DAGC, "Positive_activation", MEK1))

    // cross-type alias pairs never merge: GGP vs chemical (sent50) and
    // chemical vs Site (sent51) — turn-2 events keep DAG's own grounding
    // in g196 because no alias edge formed
    conv("g195")(
      "user" -> "Akt (hereafter referred to as diacylglycerol) is phosphorylated.")(
      tri("g195", 0, "", "Phosphorylation", AKT1))
    conv("g196")(
      "user" -> ("Diacylglycerol (hereafter referred to as S135) functions " +
        "as a second messenger signaling lipid."),
      "assistant" -> "DAG activates MEK1.")(
      tri("g196", 1, DAGC, "Positive_activation", MEK1))

    // homolog appositions (sent62a/62b/63): fly homolog surfaces carry no KB
    // grounding; their failsafe ids collapse onto Pax6's through the
    // homolog alias edges
    val PAX6 = gidOf("Pax6")
    conv("g197")(
      "user" -> "We studied the effects of the Pax6 homologs eyeless and eyegone.",
      "assistant" -> "Eyeless phosphorylates ERK2.")(
      tri("g197", 1, "", "Phosphorylation", ERK2),
      tri("g197", 1, PAX6, "Positive_regulation", s"Phosphorylation($ERK2)"))
    conv("g198")(
      "user" -> ("The Pax6 homologs eyeless, eyefull, and eyegone were " +
        "found in established lines."),
      "assistant" -> "Eyefull binds MEK1.")(
      tri("g198", 1, "", "Binding", Seq(PAX6, MEK1).sorted.mkString("&")))
    conv("g199")(
      "user" -> "Eyeless and eyegone, homologs of Pax6, are the subject of this work.",
      "assistant" -> "Eyegone is phosphorylated.")(
      tri("g199", 1, "", "Phosphorylation", PAX6))

    // -- TestTemplaticSimpleDeEvents: reduced-passive regs + spellings -----
    // reduced participle on a nominal event, no copula (sent30 shape):
    // controller through "induced/blocked by", polarity from the trigger
    conv("g200")("user" -> "We found slight ERK2 dephosphorylation induced by BRAF.")(
      tri("g200", 0, "", "Dephosphorylation", ERK2),
      tri("g200", 0, gidOf("BRAF"), "Positive_regulation",
        s"Dephosphorylation($ERK2)"))
    conv("g201")("user" -> "ERK2 phosphorylation blocked by PTEN was seen.")(
      tri("g201", 0, "", "Phosphorylation", ERK2),
      tri("g201", 0, PTEN, "Negative_regulation", s"Phosphorylation($ERK2)"))
    // -ylate spelling variant (sent35: trigger lemma "de-?ubiquit(in|yl)ate")
    conv("g202")("user" -> "STAT3 deubiquitylates MEK1.")(
      tri("g202", 0, "", "Deubiquitination", MEK1),
      tri("g202", 0, STAT3, "Positive_regulation", s"Deubiquitination($MEK1)"))
    // spelled-out site list on a de-event (sent15: one event per site)
    conv("g203")("user" -> "ASPP2 dephosphorylates p53 at serine 125 and serine 126.")(
      tri("g203", 0, "", "Dephosphorylation", P53, "serine 125"),
      tri("g203", 0, "", "Dephosphorylation", P53, "serine 126"),
      tri("g203", 0, ASPP2, "Positive_regulation",
        s"Dephosphorylation($P53@serine 125)", "serine 125"),
      tri("g203", 0, ASPP2, "Positive_regulation",
        s"Dephosphorylation($P53@serine 126)", "serine 126"))
    // dehydrolysis passive (testDehydrolysisPass1 shape); the trailing
    // "without ubiquitination" must not yield an extra event
    conv("g204")("user" -> "Ras is dehydrolyzed by MEK1 without ubiquitination.")(
      tri("g204", 0, "", "Dehydrolysis", RAS),
      tri("g204", 0, MEK1, "Positive_regulation", s"Dehydrolysis($RAS)"))

    // -- TestComplexResolutions: Bioentities complex KB tier ----------------
    // AMPK exists in BOTH the complex KB and uniprot; the protein search
    // sequence consults the complex KB first (ReachEntityLookup proteinSeq),
    // so the controller grounds to bepc:AMPK
    conv("g205")("user" -> "AMPK phosphorylates ERK2.")(
      tri("g205", 0, "", "Phosphorylation", ERK2),
      tri("g205", 0, "bepc:AMPK", "Positive_regulation",
        s"Phosphorylation($ERK2)"))
    // Complex-labeled mention grounded through the complex KB
    conv("g206")("user" -> "Activin A binds SMAD2.")(
      tri("g206", 0, "", "Binding",
        Seq("bepc:ACTIVIN_A", gidOf("SMAD2")).sorted.mkString("&")))

    // -- TestTemplaticSimpleEvents sent8/9/10/31: prefixed nominals ---------
    // mono/poly/di/multi prefixes on triggers (the reference's lemma regexes
    // are unanchored); "phosphorylation on X" as clause subject must NOT
    // fire (sent1) while the of-embedded form does (sent9)
    conv("g207")("user" ->
      "We next considered the effect of Ras monoubiquitination on GSK3-mediated hydrolysis.")(
      tri("g207", 0, "", "Ubiquitination", RAS))
    conv("g208")(
      "user" -> "The effects of monoubiquitination on Ras are not isoform-specific.",
      "assistant" -> "The phosphorylation on AKT1 was great.")(
      tri("g208", 0, "", "Ubiquitination", RAS))
    // "Ras ligated to Ubiquitin" is a Ubiquitination of Ras, never a Binding
    // (mkBindingsFromPairs ubiquitin conversion, DarpaActions.scala:251-256);
    // the GSK3-mediated GTP hydrolysis is a regulation over the hydrolysis
    // event (taxonomy: Hydrolysis is an AdditionEvent)
    val GTPc = gidOf("GTP", "Simple_chemical")
    conv("g209")("user" ->
      ("We measured the rate of GSK3-mediated GTP hydrolysis and observed " +
        "that the response of Ras ligated to Ubiquitin was identical."))(
      tri("g209", 0, "", "Hydrolysis", GTPc),
      tri("g209", 0, GSK3, "Positive_regulation", s"Hydrolysis($GTPc)"),
      tri("g209", 0, "", "Ubiquitination", RAS))
    // light-verb nominal: each coordinated subject yields its own event
    conv("g210")("user" ->
      "We found that K-Ras and H-Ras underwent mono-ubiquitination in HeLa cells.")(
      tri("g210", 0, "", "Ubiquitination", gidOf("KRAS")),
      tri("g210", 0, "", "Ubiquitination", gidOf("HRAS")))

    // -- TestTemplaticSimpleEvents sent5/22/23: premod-theme coordination,
    // substrate-apposition themes, nominalized-cause regs ------------------
    // sent5: "both basal EGFR and ERBB3 tyrosine phosphorylation" — the nn
    // theme widens over conj (one event per conjunct); the reg trigger
    // reaches the controlled dobj through the determiner/degree premods; the
    // relative "that was not augmented by MEK inhibition" wraps EVERY event
    // on the trigger (State.mentionsFor returns all same-trigger events),
    // negated, with the inhibition flip
    val HER2 = gidOf("HER2")
    conv("g211")("user" ->
      ("In contrast, the EGFR T669A mutant increased both basal EGFR and " +
        "HER2 tyrosine phosphorylation that was not augmented by MEK inhibition"))(
      tri("g211", 0, "", "Phosphorylation", EGFR, "tyrosine"),
      tri("g211", 0, "", "Phosphorylation", HER2, "tyrosine"),
      tri("g211", 0, EGFR, "Positive_regulation",
        s"Phosphorylation($EGFR@tyrosine)", "tyrosine"),
      tri("g211", 0, EGFR, "Positive_regulation",
        s"Phosphorylation($HER2@tyrosine)", "tyrosine"),
      tri("g211", 0, MEK, "Negative_regulation",
        s"Phosphorylation($EGFR@tyrosine)", "tyrosine", neg = true),
      tri("g211", 0, MEK, "Negative_regulation",
        s"Phosphorylation($HER2@tyrosine)", "tyrosine", neg = true))
    // sent23: "the phosphorylation of the mTOR substrate, STAT3" — the
    // of-object is a role noun whose entity the substrate-lookahead absorbed;
    // theme = the apposition (prep_of -> substrate -> appos in the reference)
    conv("g212")("user" ->
      ("Shown in Figure is a Western blot detecting the phosphorylation of " +
        "the mTOR substrate, STAT3."))(
      tri("g212", 0, "", "Phosphorylation", STAT3))
    // sent6 core clause: "on the JM domains of EGFR and HER2" — site BEFORE
    // the of-theme list, one event per theme conjunct, all wrapped by the
    // blocking regulation
    conv("g213")("user" ->
      ("AKT1 blocks an inhibitory threonine phosphorylation on the JM " +
        "domains of EGFR and HER2."))(
      tri("g213", 0, "", "Phosphorylation", EGFR, "JM domains"),
      tri("g213", 0, "", "Phosphorylation", HER2, "JM domains"),
      tri("g213", 0, AKT1, "Negative_regulation",
        s"Phosphorylation($EGFR@JM domains)", "JM domains"),
      tri("g213", 0, AKT1, "Negative_regulation",
        s"Phosphorylation($HER2@JM domains)", "JM domains"))
    // sent22: subject-nominal cause — theme is the of-object (never the nn
    // cause), reg controller = the nn
    conv("g214")("user" ->
      "MEK phosphorylation of ERK2 stimulates binding to either AKT1 or GSK3")(
      tri("g214", 0, "", "Phosphorylation", ERK2),
      tri("g214", 0, MEK, "Positive_regulation", s"Phosphorylation($ERK2)"))

    // -- TestTemplaticSimpleEvents testHydrolysis* matrix (:129-166) --------
    // Ras-GDP / Ras-GTP are NER-only surfaces with no KB row (the reference
    // CRF tags them; grounding falls through to the AzFailsafeKB → uaz ns)
    val RGDP = gidOf("Ras-GDP"); val RGTP = gidOf("Ras-GTP")
    // subject-nominal: "MEK hydrolysis of Ras-GDP increased."
    conv("g215")("user" -> "MEK hydrolysis of Ras-GDP increased.")(
      tri("g215", 0, "", "Hydrolysis", RGDP),
      tri("g215", 0, MEK, "Positive_regulation", s"Hydrolysis($RGDP)"))
    // object-nominal with by-cause: "Ras-GDP hydrolysis by MEK increased."
    conv("g216")("user" -> "Ras-GDP hydrolysis by MEK increased.")(
      tri("g216", 0, "", "Hydrolysis", RGDP),
      tri("g216", 0, MEK, "Positive_regulation", s"Hydrolysis($RGDP)"))
    // which-relative subject (testHydrolysisSubjectRel1) + its negated
    // variant (sent17: only the regulation is negated, never the event)
    conv("g217")("user" ->
      ("Its many abnormal phenotypes can be rescued via MEK1, which " +
        "specifically hydrolyzes Ras-GDP."))(
      tri("g217", 0, "", "Hydrolysis", RGDP),
      tri("g217", 0, MEK1, "Positive_regulation", s"Hydrolysis($RGDP)"))
    conv("g218")("user" ->
      ("Its many abnormal phenotypes can be rescued via MEK1, which " +
        "does not hydrolyze Ras-GDP."))(
      tri("g218", 0, "", "Hydrolysis", RGDP),
      tri("g218", 0, MEK1, "Positive_regulation", s"Hydrolysis($RGDP)",
        neg = true))
    // appositive + bare-that relative (testHydrolysisSubjectRelApposition2):
    // the nsubj lands on the appos child ("an enzyme") and the cause widens
    // back over the INCOMING appos edge to MEK1
    conv("g219")("user" ->
      "A main rate-controlling step in RAS is MEK1, an enzyme that hydrolyzes Ras-GTP.")(
      tri("g219", 0, "", "Hydrolysis", RGTP),
      tri("g219", 0, MEK1, "Positive_regulation", s"Hydrolysis($RGTP)"))
    // passive which-relative object (testHydrolysisObjectRel1)
    conv("g220")("user" ->
      ("We measured transcription activation in the presence of MEK, " +
        "which is hydrolyzed by BRAF."))(
      tri("g220", 0, "", "Hydrolysis", MEK),
      tri("g220", 0, gidOf("BRAF"), "Positive_regulation", s"Hydrolysis($MEK)"))
    // subject-relative inside a main clause whose activation controller is
    // the relative-clause REGULATION event: the reference flattens a
    // ComplexEvent controller recursively through its own controller
    // (convertEventToEntity, DarpaActions.scala:668-750) → activation
    // controller = Ras, not the phospho theme
    conv("g221")("user" ->
      "Ras, which has been found to phosphorylate ASPP2, activates MEK.")(
      tri("g221", 0, "", "Phosphorylation", ASPP2),
      tri("g221", 0, RAS, "Positive_regulation", s"Phosphorylation($ASPP2)"),
      tri("g221", 0, RAS, "Positive_activation", MEK))
    // appositive over an UNKNOWN role noun ("an XXX that ...") — the cause
    // path must widen from the unknown appos child back to Ras; negated
    // variant pins the reg-only negation through the appositive relative
    conv("g222")("user" ->
      ("Its many abnormal phenotypes can be rescued via overexpressing " +
        "Ras, an XXX that specifically phosphorylates ASPP2."))(
      tri("g222", 0, "", "Phosphorylation", ASPP2),
      tri("g222", 0, RAS, "Positive_regulation", s"Phosphorylation($ASPP2)"))
    conv("g223")("user" ->
      ("Its many abnormal phenotypes can be rescued via overexpressing " +
        "Ras, an XXX that does not phosphorylate ASPP2."))(
      tri("g223", 0, "", "Phosphorylation", ASPP2),
      tri("g223", 0, RAS, "Positive_regulation", s"Phosphorylation($ASPP2)",
        neg = true))

    // -- TestRegulationEvents breadth (round-3 late batch 2) ----------------
    // sent3 / syntax_5_noun: the in-objects are THEMES (one event per
    // conjunct), the nn sibling of the trigger under "sites" is the cause
    conv("g224")("user" ->
      "Interestingly, we observed two conserved putative MAPK phosphorylation sites in ASPP1 and ASPP2")(
      tri("g224", 0, "", "Phosphorylation", ASPP1g),
      tri("g224", 0, "", "Phosphorylation", ASPP2),
      tri("g224", 0, gidOf("MAPK"), "Positive_regulation",
        s"Phosphorylation($ASPP1g)"),
      tri("g224", 0, gidOf("MAPK"), "Positive_regulation",
        s"Phosphorylation($ASPP2)"))
    // sent6: reduced postmodifier participle with by-agent across a paren
    // range and a "fragment" head noun
    conv("g225")("user" ->
      ("Under the same conditions, ASPP2 (693-1128) fragment phosphorylated " +
        "by AKT1 had very low levels of incorporated 32P"))(
      tri("g225", 0, "", "Phosphorylation", ASPP2),
      tri("g225", 0, AKT1, "Positive_regulation", s"Phosphorylation($ASPP2)"))
    // sent7: premod participle with the by-cause across "fragment"
    conv("g226")("user" ->
      ("The phosphorylated ASPP2 fragment by MAPK1 was digested by trypsin " +
        "and fractioned on a high performance liquid chromatography."))(
      tri("g226", 0, "", "Phosphorylation", ASPP2),
      tri("g226", 0, gidOf("MAPK1"), "Positive_regulation",
        s"Phosphorylation($ASPP2)"))
    // sent20: a Binding controller flattens to the Complex of its themes
    // (convertEventToEntity's BioRelationMention case)
    conv("g227")("user" ->
      "The binding of ASPP1 and ASPP2 promotes the phosphorylation of MEK")(
      tri("g227", 0, "", "Binding",
        Seq(ASPP1g, ASPP2).sorted.mkString("&")),
      tri("g227", 0, "", "Phosphorylation", MEK),
      tri("g227", 0, Seq(ASPP1g, ASPP2).sorted.mkString("&"),
        "Positive_regulation", s"Phosphorylation($MEK)"))
    // sent25: "aids in" — prep_in controlled path on a verbal reg trigger
    val MEMB = gidOf("membrane", "Cellular_component")
    conv("g228")("user" ->
      "ASPP1 aids in the translocation of KRAS to the membrane")(
      tri("g228", 0, "", "Translocation", gidOf("KRAS"), MEMB),
      tri("g228", 0, ASPP1g, "Positive_regulation",
        s"Translocation(${gidOf("KRAS")}@$MEMB)", MEMB))
    // sent27: premod participles between determiner and nominal are
    // transparent to the verbal reg's controlled path
    conv("g229")("user" ->
      "rapamycin blocked the serum-stimulated phosphorylation of ERK")(
      tri("g229", 0, "", "Phosphorylation", gidOf("ERK")),
      tri("g229", 0, gidOf("rapamycin", "Simple_chemical"),
        "Negative_regulation", s"Phosphorylation(${gidOf("ERK")})"))
    // sent29: theme-list x site-list cross product (4 events, 4 regs)
    conv("g230")("user" ->
      "BRAF phosphorylates MEK2 and MEK1 on Ser221 and Ser217")(
      tri("g230", 0, "", "Phosphorylation", gidOf("MEK2"), "Ser221"),
      tri("g230", 0, "", "Phosphorylation", gidOf("MEK2"), "Ser217"),
      tri("g230", 0, "", "Phosphorylation", MEK1, "Ser221"),
      tri("g230", 0, "", "Phosphorylation", MEK1, "Ser217"),
      tri("g230", 0, gidOf("BRAF"), "Positive_regulation",
        s"Phosphorylation(${gidOf("MEK2")}@Ser221)", "Ser221"),
      tri("g230", 0, gidOf("BRAF"), "Positive_regulation",
        s"Phosphorylation(${gidOf("MEK2")}@Ser217)", "Ser217"),
      tri("g230", 0, gidOf("BRAF"), "Positive_regulation",
        s"Phosphorylation($MEK1@Ser221)", "Ser221"),
      tri("g230", 0, gidOf("BRAF"), "Positive_regulation",
        s"Phosphorylation($MEK1@Ser217)", "Ser217"))
    // sent35 shape: paren site enumeration (appositive per member) x
    // coordinated by-causes — 8 events, 16 regulations, matching the
    // reference's asserted count exactly: the unnumbered "lysine residues"
    // span is itself a Site alongside the 7 enumerated codes
    locally {
      val sites35 =
        Seq("K164", "370", "372", "373", "381", "382", "386",
          "lysine residues")
      val P53g = gidOf("p53")
      conv("g231")("user" ->
        ("p53 can be acetylated by AKT1 and GSK3 at multiple lysine " +
          "residues ( K164 , 370 , 372 , 373 , 381 , 382 and 386 ) ."))(
        sites35.flatMap(s => Seq(
          tri("g231", 0, "", "Acetylation", P53g, s),
          tri("g231", 0, AKT1, "Positive_regulation",
            s"Acetylation($P53g@$s)", s),
          tri("g231", 0, GSK3, "Positive_regulation",
            s"Acetylation($P53g@$s)", s))): _*)
    }
    // sent23 overmatch guard: exactly one phospho + one reg; the trailing
    // "ASPP2 (693-1128) fragment" with no participle yields nothing; the
    // "suggesting" hint scopes over the clause
    conv("g232")("user" ->
      ("histone 2B phosphorylated by AKT1 had high levels of incorporated " +
        "32P, suggesting that AKT1 was active; while under the same " +
        "conditions, ASPP2 (693-1128) fragment"))(
      tri("g232", 0, "", "Phosphorylation", gidOf("histone 2B"), hyp = true),
      tri("g232", 0, AKT1, "Positive_regulation",
        s"Phosphorylation(${gidOf("histone 2B")})", hyp = true))
    // sent41: fused-premod cause inside a which-relative — exactly one
    // phospho and one reg (E2 is a KB chemical)
    val E2c = gidOf("E2", "Simple_chemical"); val SRC3 = gidOf("SRC-3")
    conv("g233")("user" ->
      "Our model, in which E2-induced SRC-3 phosphorylation occurs in a complex with ER")(
      tri("g233", 0, "", "Phosphorylation", SRC3),
      tri("g233", 0, E2c, "Positive_regulation", s"Phosphorylation($SRC3)"))
    // sent45: the dependent-interaction clause adds exactly one Binding
    conv("g234")("user" ->
      ("Together these data demonstrate that E2-induced SRC-3 " +
        "phosphorylation is dependent on a direct interaction between " +
        "SRC-3 and ER and can occur outside of the nucleus."))(
      tri("g234", 0, "", "Phosphorylation", SRC3),
      tri("g234", 0, E2c, "Positive_regulation", s"Phosphorylation($SRC3)"),
      tri("g234", 0, "", "Binding",
        Seq(SRC3, gidOf("ER")).sorted.mkString("&")))
    // sent57: a Transcription-event controller over a premod-chemical
    // activation — 1 Transcription, 1 Positive_activation, 1 Positive_reg
    // whose controller flattens to the transcribed entity
    val RETA = gidOf("retinoic acid", "Simple_chemical")
    val APOP = gidOf("apoptosis", "BioProcess")
    conv("g235")("user" ->
      "Indeed, expression of SMAD2 has been shown to restore retinoic acid induced apoptosis")(
      tri("g235", 0, "", "Transcription", gidOf("SMAD2")),
      tri("g235", 0, RETA, "Positive_activation", APOP),
      tri("g235", 0, gidOf("SMAD2"), "Positive_regulation",
        s"Positive_activation($APOP)"))
    // sent58: 1 Amount, 1 Binding, 2 Negative_regulations (inhibition flips
    // both); PTM premods before the amount head are transparent
    val ERBB3 = gidOf("ERBB3")
    conv("g236")("user" ->
      ("We observed increased ERBB3 binding to PI3K following MEK " +
        "inhibition (Figure 1D), and accordingly, MEK inhibition " +
        "substantially increased tyrosine phosphorylated ERBB3 levels " +
        "(Figure 1A)."))(
      tri("g236", 0, "", "Amount", ERBB3),
      tri("g236", 0, "", "Binding",
        Seq(ERBB3, PI3K).sorted.mkString("&")),
      tri("g236", 0, MEK, "Negative_regulation", s"Amount($ERBB3)"),
      tri("g236", 0, MEK, "Negative_regulation",
        s"Binding(${Seq(ERBB3, PI3K).sorted.mkString("&")})"))
    // sent59: two transcriptions, one regulation, zero activations
    conv("g237")("user" ->
      "Up-regulation of SMAD4 expression by active Ras expression")(
      tri("g237", 0, "", "Transcription", gidOf("SMAD4")),
      tri("g237", 0, "", "Transcription", RAS),
      tri("g237", 0, RAS, "Positive_regulation",
        s"Transcription(${gidOf("SMAD4")})"))
    // TestCoreference sent55: two-level complex event — a regulation whose
    // controlled is itself an activation (EGF is a KB protein)
    val EGFg = gidOf("EGF")
    conv("g254")("user" ->
      "Gab1 mutant protein enhances EGF induced activation of the PI3K")(
      tri("g254", 0, EGFg, "Positive_activation", gidOf("PI3K")),
      tri("g254", 0, gidOf("Gab1"), "Positive_regulation",
        s"Positive_activation(${gidOf("PI3K")})"))
    // TestTemplaticSimpleEvents sent37: in-response-to EGF supplies the
    // regulation controller over the tyrosine phosphorylation
    conv("g255")("user" ->
      "The endogenous EGFR is tyrosine phosphorylated in response to EGF in all cell lines.")(
      tri("g255", 0, "", "Phosphorylation", EGFR, "tyrosine"),
      tri("g255", 0, EGFg, "Positive_regulation",
        s"Phosphorylation($EGFR@tyrosine)", "tyrosine"))
    // -- TestAssemblySieves tamSent1-3 (subordinate-clause boundaries) ------
    // "once/when/only if" open a clause with its own subject: neither clause
    // leaks arguments into the other (exactly two events, no regulations)
    conv("g256")("user" ->
      "Once MEK1 had been phosphorylated, ERK2 was ubiquitinated")(
      tri("g256", 0, "", "Phosphorylation", MEK1),
      tri("g256", 0, "", "Ubiquitination", ERK2))
    conv("g257")("user" ->
      "ERK2 will be ubiquitinated only if MEK1 is first phosphorylated")(
      tri("g257", 0, "", "Phosphorylation", MEK1),
      tri("g257", 0, "", "Ubiquitination", ERK2))
    conv("g258")("user" ->
      "ERK2 was ubiquitinated when MEK1 had been phosphorylated")(
      tri("g258", 0, "", "Phosphorylation", MEK1),
      tri("g258", 0, "", "Ubiquitination", ERK2))
    // -- TestAssemblyManager equivalence semantics --------------------------
    // text1-3: siteless phosphorylations are ONE distinct event across
    // evidence sentences; the sited variant stays distinct
    conv("g259")("user" ->
      ("Ras is phosphorylated. Ras was phosphorylated. " +
        "Ras is phosphorylated at Ser123."))(
      tri("g259", 0, "", "Phosphorylation", RAS),
      tri("g259", 0, "", "Phosphorylation", RAS, "Ser123"))
    // text5-6: "Mek binds with Ras" / "Ras binds with MEK" are EQUIVALENT
    // complexes (sorted participant pair) -> one distinct binding
    // (text7 destination-coordination is already pinned by g64)
    conv("g260")("user" -> "Mek binds with Ras. Ras binds with MEK.")(
      tri("g260", 0, "", "Binding",
        Seq(RAS, MEK).sorted.mkString("&")))
    // TestCoreference sent18a/18b: a plural anaphor with coordinated
    // antecedents cannot fill an activation or a triggered-regulation slot
    // (number-sensitive search forbids plurals there) — the nominal events
    // themselves survive
    conv("g261")("user" ->
      "ASPP2 and STAT3 are common, as is their activation.")()
    conv("g262")("user" ->
      ("The phosphorylation of ASPP2 and STAT3 is common, " +
        "as is their upregulation."))(
      tri("g262", 0, "", "Phosphorylation", gidOf("ASPP2")),
      tri("g262", 0, "", "Phosphorylation", gidOf("STAT3")))
    // DemoTests1 (IKK subunits -> lexicon proteins): a quantified relative
    // "both of which" over an appositive list regulates through EVERY list
    // member — and never through the matrix subject
    conv("g263")("user" ->
      ("MEK1 contains two catalytic subunits, ERK2 and AKT1, both of " +
        "which are able to correctly phosphorylate STAT3."))(
      tri("g263", 0, "", "Phosphorylation", STAT3),
      tri("g263", 0, ERK2, "Positive_regulation",
        s"Phosphorylation($STAT3)"),
      tri("g263", 0, AKT1, "Positive_regulation",
        s"Phosphorylation($STAT3)"))
    // TestOutputDegrader sent6: an n-mer complex token ("The Mek-Ras-Akt1
    // complex activates ASPP1") is ONE complex with one theme per chain
    // part — the activation's controller carries all three participants
    conv("g264")("user" ->
      "The MEK1-ERK2-AKT1 complex activates GSK3.")(
      tri("g264", 0, "", "Binding",
        Seq(MEK1, ERK2, AKT1).sorted.mkString("&")),
      tri("g264", 0, Seq(MEK1, ERK2, AKT1).sorted.mkString("&"),
        "Positive_activation", GSK3))
    // TestOutputDegrader sent8: the same n-mer complex token with NO
    // downstream event stays exactly one Binding (no conversion, no
    // spurious activation from "is not well-studied")
    conv("g265")("user" ->
      "The MEK1-ERK2-AKT1 complex is not well-studied.")(
      tri("g265", 0, "", "Binding",
        Seq(MEK1, ERK2, AKT1).sorted.mkString("&")))
    // -- TestCoreference pronoun negative controls (sent6/7) ----------------
    // sent6: a subject pronoun with NO antecedent still licenses the inner
    // event but never a regulation (no hallucinated controller)
    conv("g266")("user" -> "It phosphorylates ERK2.")(
      tri("g266", 0, "", "Phosphorylation", ERK2))
    // sent7: the controller cannot be antecedent to its own controlled's
    // argument — an unresolvable object pronoun kills the event entirely
    conv("g267")("user" -> "MEK1 phosphorylates it.")()
    // sent8: clause-mate pronouns resolve across "it is well known" filler
    conv("g268")("user" ->
      "ASPP2 is common, it is well known, and MEK1 sumoylates it.")(
      tri("g268", 0, "", "Sumoylation", ASPP2),
      tri("g268", 0, MEK1, "Positive_regulation", s"Sumoylation($ASPP2)"))
    // sent9: cross-sentence antecedent; the expletive "It is known that"
    // pronoun is ignored — ONE binding, no regulation
    conv("g269")("user" ->
      "Much work has been done on ASPP2. It is known that MEK1 binds it.")(
      tri("g269", 0, "", "Binding",
        Seq(MEK1, ASPP2).sorted.mkString("&")))
    // sent10/11: number-sensitive plural resolution distributes over BOTH
    // conjuncts, as cause controllers and as cause controlleds
    conv("g270")("user" ->
      "MEK1 and ERK2 are in proximity, and they phosphorylate STAT3.")(
      tri("g270", 0, "", "Phosphorylation", STAT3),
      tri("g270", 0, MEK1, "Positive_regulation", s"Phosphorylation($STAT3)"),
      tri("g270", 0, ERK2, "Positive_regulation", s"Phosphorylation($STAT3)"))
    conv("g271")("user" ->
      "MEK1 and ERK2 are in proximity, and STAT3 phosphorylates them.")(
      tri("g271", 0, "", "Phosphorylation", MEK1),
      tri("g271", 0, "", "Phosphorylation", ERK2),
      tri("g271", 0, STAT3, "Positive_regulation", s"Phosphorylation($MEK1)"),
      tri("g271", 0, STAT3, "Positive_regulation", s"Phosphorylation($ERK2)"))
    // sent12/13: activation pronouns resolve in both argument positions —
    // one activation, nothing else
    conv("g272")("user" -> "MEK1 is in proximity, and it activates ASPP2.")(
      tri("g272", 0, MEK1, "Positive_activation", ASPP2))
    conv("g273")("user" -> "MEK is in proximity, and ASPP2 activates it.")(
      tri("g273", 0, ASPP2, "Positive_activation", MEK1))
    // sent14/14b: definite "this protein" resolves to a prior protein; with
    // NO antecedent the partially-resolved binding is filtered out entirely
    conv("g274")("user" ->
      "ASPP1 is common, and this protein binds RAS.")(
      tri("g274", 0, "", "Binding",
        Seq(gidOf("ASPP1"), gidOf("Ras", "Family")).sorted.mkString("&")))
    conv("g275")("user" -> "This protein binds RAS.")()
    // sent15: an NP that cannot carry a BioChemicalEntity antecedent
    // ("a mouse") never resolves — no events at all
    conv("g276")("user" -> "MEK1 is common, and a mouse binds RAS.")()
    // sent16: antecedent search stops beyond the previous sentence — an
    // intervening sentence kills the pronoun resolution and the event
    conv("g277")("user" ->
      "MEK1 is common. This is an intervening sentence. It binds ERK2.")()
    // sent17: the nearest compatible antecedent wins — the binding pairs
    // with the in-sentence subject, never the prior-clause mention
    conv("g278")("user" ->
      "ASPP2 is common, and MEK1 binds the ERK2 protein.")(
      tri("g278", 0, "", "Binding",
        Seq(MEK1, ERK2).sorted.mkString("&")))
    // sent18: a SINGULAR event anaphor ("its binding") over two candidate
    // antecedents has an invalid antecedent count — no event survives
    conv("g279")("user" ->
      "ASPP2 and MEK1 are common, as is its binding.")()
    // sent19: a resolved pronoun subject distributes over a coordinated
    // theme — two bindings, nothing else
    conv("g280")("user" ->
      "ASPP1 is common, and it binds MEK and ERK2")(
      tri("g280", 0, "", "Binding",
        Seq(gidOf("ASPP1"), MEK1).sorted.mkString("&")),
      tri("g280", 0, "", "Binding",
        Seq(gidOf("ASPP1"), ERK2).sorted.mkString("&")))

    // ---- round-4 batch: the TestCoreference sent20-57 untraced remainder --
    // (direct pins; entity names adapted to this lexicon where the
    // reference's test KB carries fakes — BEF/LMTK2/HSP20/Akta)
    // sent20: the siRNA-loss chain must NOT produce an activation of and by
    // the same entity; the amount reduction keeps its nn-widened controller
    // ("LMTK2 siRNAs ... reduced LMTK2 levels" — the reference's controller
    // path lands on "siRNAs" and widens over nn to the GGP)
    conv("g281")(
      "user" -> ("We also monitored how siRNA-induced loss of MEK1 " +
        "influenced phosphorylation of ERK2."),
      "user" -> ("Four different MEK1 siRNAs all markedly reduced MEK1 " +
        "levels and this led to a corresponding decrease in ERK2 " +
        "phosphorylation."))(
      tri("g281", 0, "", "DecreaseAmount", MEK1),
      tri("g281", 0, "", "Phosphorylation", ERK2),
      tri("g281", 1, "", "Amount", MEK1),
      tri("g281", 1, MEK1, "Negative_regulation", s"Amount($MEK1)"),
      tri("g281", 1, "", "Phosphorylation", ERK2))
    // sent21: the aka-colon alias list must not produce a requirement error
    // from Anaphoric.antecedent, and no generic mention survives to output
    conv("g282")(
      "user" -> ("Inhibition of mTOR kinase is feasible with the macrolide " +
        "natural product rapamycin (aka: sirolimus, RAPA, Rapamune, " +
        "AY-22989, and NSC-226080)."),
      "user" -> ("Rapamycin is an FDA-approved agent used as " +
        "immunosuppressive therapy post organ transplant ."))()
    // sent22: no activation may take an ACTIVATION as its controlled; the
    // only event surviving this tangle is the loss-of amount
    conv("g283")(
      "user" -> ("Second, STAT3 accumulates and shows nuclear localization " +
        "in the cartilage of TD-affected human fetuses as well as in mice " +
        "carrying the K644E-EGFR mutation (homologous to human K650E)" +
        "     ,     ."),
      "user" -> ("Finally, two experimental studies show that the loss of " +
        "STAT3 partially rescues the growth-inhibitory action of EGF " +
        "signaling in chondrocytes     ,     , both suggesting the role of " +
        "STAT3 in the growth-inhibitory EGFR action in cartilage."))(
      tri("g283", 1, "", "DecreaseAmount", STAT3))
    // sent23: "negatively regulated by this interaction" must produce NO
    // Regulation — the generic subject of the object relative never
    // resolves, so no event survives
    conv("g284")(
      "user" -> ("Most efforts at understanding Ras mediated transformation " +
        "have centered on identifying those targets that bind Ras-GTP ."),
      "user" -> ("However , our data raise the possibility that there is a " +
        "class of proteins , such as PI3K , that bind nucleotide-free Ras " +
        "and are negatively regulated by this interaction ."))()
    // sent25: multiple definite anaphors onto the same antecedent ("this
    // protein" twice + "it") must not error; no event fixture here
    conv("g285")(
      "user" -> "Another example can be given with mutated p53.",
      "user" -> ("The pivotal role of p53 as a tumor suppressor is " +
        "illustrated by the fact that this protein is found mutated in " +
        "50% of human cancers."),
      "user" -> ("In most cases, mutations in p53 greatly increase the " +
        "otherwise short half life of this protein and cause it to " +
        "accumulate in tumor cells."))()
    // sent26: plural possessive over coordinated antecedents must not error
    conv("g286")(
      "user" -> ("Many RTKs interact directly with Grb2, some rely on Shc " +
        "family adaptors to recruit Grb2, and others do both    ."),
      "user" -> ("While direct Grb2/RTK interactions involve binding of " +
        "the Grb2 SH2 domain to pYXNX motifs, Shc proteins interact with " +
        "RTKs primarily through the binding of their N-terminal PTB domain " +
        "to NPXpY motifs."))()
    // sent31a/31b: "this mutant ASPP1" binds through the SAME-protein
    // antecedent (adopting its K341L) or stays generic-mutated when the
    // prior mutant is a DIFFERENT protein — the binding emits either way,
    // and never onto ASPP2
    conv("g287")("user" ->
      "ASPP1 K341L is common, and this mutant ASPP1 binds GTP.")(
      tri("g287", 0, "", "Binding",
        Seq(ASPP1g, GTPc).sorted.mkString("&")))
    conv("g288")("user" ->
      "ASPP2 K341L is common, and this mutant ASPP1 binds GTP.")(
      tri("g288", 0, "", "Binding",
        Seq(ASPP1g, GTPc).sorted.mkString("&")))
    // sent32a positive control (the sent32b mismatch negative is pinned in
    // ConvProcessorSpec): the K341L mutant anaphor takes the matching-code
    // antecedent
    conv("g289")("user" ->
      "ASPP1 K341L is common, and the K341L mutant binds GTP.")(
      tri("g289", 0, "", "Binding",
        Seq(ASPP1g, GTPc).sorted.mkString("&")))
    // sent47/48: mixed generic + specific mutation mentions across clauses
    // must not error; no extraction fixture
    conv("g290")(
      "user" -> ("We analyzed sporadic CRCs in Omani (of African origin, " +
        "N = 61), Iranian (of Caucasian origin, N = 53) and African " +
        "American (N = 95) patients for microsatellite instability, " +
        "expression status of mismatched repair genes (hMLH1, hMSH2) and " +
        "presence of the BRAF (V600E) mutation."),
      "user" -> ("In the Omani group, all tumors with BRAF mutations were " +
        "located in the left side of the colon, and for African Americans, " +
        "88% of tumors with BRAF mutations were found in the right side of " +
        "the colon."))()
    conv("g291")(
      "user" -> ("Since EGFR mutation is known to be associated with " +
        "sensitivity to erlotinib, and KRAS mutations are associated with " +
        "resistance, we focused on the group of wild-type EGFR/KRAS cell " +
        "lines."),
      "user" -> ("We found that the half maximal inhibitory concentration " +
        "(IC50) for erlotinib was significantly higher in cell lines that " +
        "segregated to clusters with methylated SRAMs compared to those " +
        "that segregated to clusters with unmethylated SRAMs"))()
    // sent56a: the pronoun subject must take the NEAREST non-co-argument
    // antecedent — "It" is a co-argument of the phosphorylation whose theme
    // is AKT1, so it resolves to GSK3, never AKT1
    conv("g292")(
      "user" -> "AKT1 and GSK3 are common.",
      "user" -> "It phosphorylates AKT1.")(
      tri("g292", 1, "", "Phosphorylation", AKT1),
      tri("g292", 1, GSK3, "Positive_regulation", s"Phosphorylation($AKT1)"))
    // sent57: the plural possessive "their" takes BOTH prior proteins as
    // antecedents — the interaction nominal becomes their joint binding
    conv("g293")(
      "user" -> ("It is possible that the effects of GSK3 on AKT might " +
        "differ between normal cardiomyocytes or mesenchymal stem cells " +
        "and HCC cells."),
      "user" -> ("The binding partner(s) of GSK3 and their interaction(s) " +
        "might be dependent on the cell types."))(
      tri("g293", 1, "", "Binding",
        Seq(AKT1, GSK3).sorted.mkString("&")))
    // sent46: a mention-free conversation flows through every stage
    conv("g294")("user" -> "This sentence has no mentions.")()
    // -- TestActivationEvents breadth ---------------------------------------
    // sent8: premod binding-activity nominal is a Binding, never an
    // activation or regulation (the fused "-binding" token splits)
    conv("g250")("user" ->
      "The ASPP2-binding activity of SMAD2 is, in most cases, constitutive.")(
      tri("g250", 0, "", "Binding",
        Seq(ASPP2, gidOf("SMAD2")).sorted.mkString("&")))
    // sent36/37: a BioProcess controller is valid only over a BioProcess
    // controlled (bioprocessValid) — "Apoptosis activated p53" yields
    // nothing, "Cell aging increases apoptosis" activates
    conv("g251")(
      "user" -> "Apoptosis activated p53.",
      "assistant" -> "Cell aging increases apoptosis")(
      tri("g251", 1, gidOf("cell aging", "BioProcess"), "Positive_activation",
        APOP))
    // sent33: results-in up-regulation — 1 transcription + 1 activation
    // whose event controller flattens to the transcribed entity; NO
    // positive regulation
    conv("g252")("user" ->
      "We found that prolonged expression of active Ras resulted in up-regulation of the SMAD4 gene.")(
      tri("g252", 0, "", "Transcription", RAS),
      tri("g252", 0, RAS, "Positive_activation", gidOf("SMAD4")))
    // sent28: overlapping-path guard — phosphos and the amount survive but
    // no regulations or activations form
    conv("g253")("user" ->
      ("The basal levels of EGFR downstream signaling, shown by the levels " +
        "of activation specific phosphorylation of AKT, ERK, and STAT3, " +
        "were not consistently associated with the HER2 family expression " +
        "levels or EGFR sequence coding status in a positive or negative " +
        "manner among the cell lines."))(
      tri("g253", 0, "", "Amount", EGFR),
      tri("g253", 0, "", "Phosphorylation", gidOf("AKT")),
      tri("g253", 0, "", "Phosphorylation", gidOf("ERK")),
      tri("g253", 0, "", "Phosphorylation", STAT3))
    // TestTemplaticSimpleEvents sent30: reduced-passive regulation across a
    // wild-type premod on the controller
    conv("g240")("user" ->
      "we found slight STAT3(Y701) phosphorylation induced by wild-type BRAF.")(
      tri("g240", 0, "", "Phosphorylation", STAT3, "Y701"),
      tri("g240", 0, gidOf("BRAF"), "Positive_regulation",
        s"Phosphorylation($STAT3@Y701)", "Y701"))
    // sent36: premod site before the of-theme nominal ("the tyrosine
    // phosphorylation of EGFR"); "did not detect" is epistemic, not a
    // negation of the event itself
    conv("g241")("user" ->
      ("We did not detect a change in the tyrosine phosphorylation of EGFR " +
        "in cells expressing Gab1 proteins."))(
      tri("g241", 0, "", "Phosphorylation", EGFR, "tyrosine"))
    // testHydrolysisPass1: the trailing "without ubiquitination" yields NO
    // ubiquitination event
    conv("g242")("user" ->
      "Ras-GDP is hydrolyzed by 26S proteasome without ubiquitination.")(
      tri("g242", 0, "", "Hydrolysis", RGDP))
    // -- TestBindingEvents breadth (round-3 late batch 3) -------------------
    // sent12: by-gerund binding through the prepc_by edge; theme1 = matrix
    // subject (conj/cc-only widening excludes the GTP nn premod); the
    // "induces ... by binding" wrap also regs the bindings (cause widening
    // over nn reaches GTP, as the reference's nsubj /nn|conj|cc/ path does)
    val RAFf = gidOf("RAF", "Family")
    conv("g243")("user" ->
      ("GTP loaded Ras induces multiple signaling pathways by binding to " +
        "its numerous effectors such as RAF and PI3K."))(
      tri("g243", 0, "", "Binding", Seq(RAS, RAFf).sorted.mkString("&")),
      tri("g243", 0, "", "Binding",
        Seq(RAS, gidOf("PI3K")).sorted.mkString("&")),
      tri("g243", 0, GTPc, "Positive_regulation",
        s"Binding(${Seq(RAS, RAFf).sorted.mkString("&")})"),
      tri("g243", 0, GTPc, "Positive_regulation",
        s"Binding(${Seq(RAS, gidOf("PI3K")).sorted.mkString("&")})"))
    // sent13: interaction-of nominal across a determiner on the second theme
    conv("g244")("user" ->
      ("ERK negatively regulates the epidermal growth factor mediated " +
        "interaction of Gab1 and the PI3K."))(
      tri("g244", 0, "", "Binding",
        Seq(gidOf("Gab1"), gidOf("PI3K")).sorted.mkString("&")))
    // sent17: site-of subject + non-entity premod before the object;
    // siteSniffer promotes the RBD EventSite onto the Binding
    conv("g245")("user" ->
      "We demonstrate that the RBD of PI3K binds nucleotide-free Ras in vitro.")(
      tri("g245", 0, "", "Binding",
        Seq(RAS, gidOf("PI3K")).sorted.mkString("&"), "RBD"))
    // sent29 core clause: coordinated subjects present in a complex
    conv("g246")("user" ->
      "We found that EGFR and BRAF are present in a complex.")(
      tri("g246", 0, "", "Binding",
        Seq(EGFR, gidOf("BRAF")).sorted.mkString("&")))
    // sent32: hyphen-fused "-bound" premod splits into a binding
    conv("g247")("user" -> "Something increases the fraction of GTP-bound Ras")(
      tri("g247", 0, "", "Binding", Seq(RAS, GTPc).sorted.mkString("&")))
    // sent33: subordinate "while" clause is never an NP conjunct — exactly
    // one binding per clause; the radiolabeled nucleotides are CRF-only
    // chemical surfaces
    val P32GDP = gidOf("32P-GDP", "Simple_chemical")
    val P32GTP = gidOf("32P-GTP", "Simple_chemical")
    conv("g248")("user" ->
      ("As expected based on previous studies, wild-type K-Ras bound " +
        "primarily 32P-GDP, while G12V-Ras bound 32P-GTP."))(
      tri("g248", 0, "", "Binding",
        Seq(gidOf("KRAS"), P32GDP).sorted.mkString("&")),
      tri("g248", 0, "", "Binding", Seq(RAS, P32GTP).sorted.mkString("&")))
    // sent34: recruitment to a protein target is a Binding (the
    // translocation grammar requires a location argument)
    conv("g249")("user" ->
      "Recruitment of p53 to the p21 or PUMA promoter was normalized to input.")(
      tri("g249", 0, "", "Binding",
        Seq(gidOf("p53"), gidOf("p21")).sorted.mkString("&")),
      tri("g249", 0, "", "Binding",
        Seq(gidOf("p53"), gidOf("PUMA")).sorted.mkString("&")))
    // TestTemplaticAutoEvents example1: unnumbered residue site across a
    // determiner ("on a tyrosine residue")
    conv("g238")("user" -> "EGFR autophosphorylates on a tyrosine residue.")(
      tri("g238", 0, "", "AutoPhosphorylation", EGFR, "tyrosine residue"),
      tri("g238", 0, EGFR, "Positive_regulation",
        s"AutoPhosphorylation($EGFR@tyrosine residue)", "tyrosine residue"))
    // example5: prenominal auto-event; "Levels of EGFR autophosphorylation"
    // yields NO Amount (the of-object head is the event nominal, not a
    // BioChemicalEntity)
    conv("g239")("user" ->
      ("Levels of EGFR autophosphorylation are represented linearly " +
        "following quantitation by densitometry and normalization for " +
        "protein expression levels."))(
      tri("g239", 0, "", "AutoPhosphorylation", EGFR),
      tri("g239", 0, EGFR, "Positive_regulation",
        s"AutoPhosphorylation($EGFR)"))

    (turns.toSeq, triples.toSeq)
  }

  // ---- template generator ------------------------------------------------

  /** Gene pool with pairwise-distinct groundings (asserted in tests). */
  val genePool: Vector[String] = Vector(
    "AKT1", "AKT2", "JAK3", "JAK1", "HuR", "optineurin", "MEK1", "ERK2",
    "BRAF", "KRAS", "mTOR", "STAT3", "EGFR", "HER2", "SRC", "JNK", "GSK3",
    "PI3K", "PTEN", "cortactin", "Gab1", "Grb2", "RhoA", "Rac1", "CDC42",
    "paxillin", "talin", "vinculin", "BAD", "BAX", "BCL2", "TRAF2", "TRAF6",
    "FADD", "axin", "LRP6", "DVL1", "SMAD2", "SMAD4", "TGFBR2")

  private val fillers = Vector(
    "We then repeated the experiment under identical conditions.",
    "The samples were prepared as described previously.",
    "Thanks, that makes sense to me.",
    "Could you summarize the previous findings?",
    "The cells were cultured for 48 hours before analysis.",
    "Further work will be needed to confirm this observation.")

  /** Emit one conversation's turns + expected triples. Deterministic per
    * (seed, convIdx). `withCoref=false` for mega-conversations so chunk
    * boundaries cannot truncate anaphora lookback.
    */
  def genConv(seed: Long, convIdx: Long, nTurns: Int,
              withCoref: Boolean = true): (Seq[Turn], Seq[Triple]) = {
    val rnd = new Random(seed * 1000003L + convIdx)
    val conv = f"c$convIdx%06d"
    val turns = mutable.ArrayBuffer.empty[Turn]
    val triples = mutable.ArrayBuffer.empty[Triple]
    def genes(n: Int): Seq[String] = {
      val s = mutable.LinkedHashSet.empty[String]
      while (s.size < n) s += genePool(rnd.nextInt(genePool.size))
      s.toSeq
    }
    var t = 0
    while (t < nTurns) {
      val role = if (t % 2 == 0) "user" else "assistant"
      // kinds 14-18 need cross-turn coref and are excluded from mega slices
      // (chunk boundaries must not truncate anaphora lookback); 19-32 are
      // sentence-local families (dependency rules, hydrolysis, subject
      // nominal, multi-site, translocation, in-response-to / following
      // regulations, bioprocess guard, pair tokens, neg-of-neg activation,
      // reduced-passive regulations, -ylate de-events)
      // but stay out of mega too so the mega slice distribution is unchanged
      val maxT = if (withCoref) 36 else 14
      val kind = rnd.nextInt(maxT)
      kind match {
        case 0 =>
          val Seq(a, b) = genes(2)
          turns += mkTurn(conv, t, role, s"$a phosphorylates $b.")
          triples += tri(conv, t, "", "Phosphorylation", gidOf(b))
          triples += tri(conv, t, gidOf(a), "Positive_regulation",
            s"Phosphorylation(${gidOf(b)})")
        case 1 =>
          val Seq(a, b) = genes(2)
          turns += mkTurn(conv, t, role, s"$a does not phosphorylate $b.")
          // only the regulation is negated — the inner event's span starts at
          // the trigger, past the "not" (NegationTests sen1-4 semantics)
          triples += tri(conv, t, "", "Phosphorylation", gidOf(b))
          triples += tri(conv, t, gidOf(a), "Positive_regulation",
            s"Phosphorylation(${gidOf(b)})", neg = true)
        case 2 =>
          val Seq(a, b) = genes(2)
          turns += mkTurn(conv, t, role,
            s"The ubiquitination of $b is promoted by $a.")
          triples += tri(conv, t, "", "Ubiquitination", gidOf(b))
          triples += tri(conv, t, gidOf(a), "Positive_regulation",
            s"Ubiquitination(${gidOf(b)})")
        case 3 =>
          val Seq(a, b, c) = genes(3)
          turns += mkTurn(conv, t, role, s"$a binds $b and $c.")
          triples += tri(conv, t, "", "Binding",
            Seq(gidOf(a), gidOf(b)).sorted.mkString("&"))
          triples += tri(conv, t, "", "Binding",
            Seq(gidOf(a), gidOf(c)).sorted.mkString("&"))
        case 4 =>
          val Seq(b) = genes(1)
          turns += mkTurn(conv, t, role, s"Rapamycin inhibits $b.")
          triples += tri(conv, t, gidOf("rapamycin", "Simple_chemical"),
            "Negative_activation", gidOf(b))
        case 5 =>
          val Seq(a, b) = genes(2)
          turns += mkTurn(conv, t, role,
            s"These results suggest that $a activates $b.")
          triples += tri(conv, t, gidOf(a), "Positive_activation", gidOf(b),
            hyp = true)
        case 6 =>
          val Seq(a, b) = genes(2)
          turns += mkTurn(conv, t, role,
            s"Loss of $a promotes phosphorylation of $b.")
          triples += tri(conv, t, "", "DecreaseAmount", gidOf(a))
          triples += tri(conv, t, "", "Phosphorylation", gidOf(b))
          triples += tri(conv, t, gidOf(a), "Negative_regulation",
            s"Phosphorylation(${gidOf(b)})")
        case 7 =>
          val Seq(b) = genes(1)
          turns += mkTurn(conv, t, role, s"$b translocates to the nucleus.")
          triples += tri(conv, t, "", "Translocation", gidOf(b),
            gidOf("nucleus", "Cellular_component"))
        case 8 =>
          turns += mkTurn(conv, t, role, fillers(rnd.nextInt(fillers.size)))
        case 9 =>
          // tool turn: filtered out by the role filter, must contribute nothing
          turns += mkTurn(conv, t, "tool",
            s"""{"status": "ok", "result": [${rnd.nextInt(100)}]}""",
            "search")
        case 10 =>
          val Seq(a, b) = genes(2)
          turns += mkTurn(conv, t, role, s"$a dephosphorylates $b.")
          triples += tri(conv, t, "", "Dephosphorylation", gidOf(b))
          triples += tri(conv, t, gidOf(a), "Positive_regulation",
            s"Dephosphorylation(${gidOf(b)})")
        case 11 =>
          val Seq(a) = genes(1)
          turns += mkTurn(conv, t, role, s"$a autophosphorylates.")
          triples += tri(conv, t, "", "AutoPhosphorylation", gidOf(a))
          triples += tri(conv, t, gidOf(a), "Positive_regulation",
            s"AutoPhosphorylation(${gidOf(a)})")
        case 12 =>
          val Seq(a, b) = genes(2)
          turns += mkTurn(conv, t, role, s"Phosphorylated $a binds $b.")
          triples += tri(conv, t, "", "Binding",
            Seq(gidOf(a), gidOf(b)).sorted.mkString("&"))
        case 13 =>
          val Seq(a, b, c) = genes(3)
          turns += mkTurn(conv, t, role,
            s"$a, which is phosphorylated by $b, activates $c.")
          triples += tri(conv, t, "", "Phosphorylation", gidOf(a))
          triples += tri(conv, t, gidOf(b), "Positive_regulation",
            s"Phosphorylation(${gidOf(a)})")
          triples += tri(conv, t, gidOf(a), "Positive_activation", gidOf(c))
        case 14 if t + 1 < nTurns =>
          val Seq(a, c) = genes(2)
          turns += mkTurn(conv, t, role, s"$a is expressed in HeLa cells.")
          turns += mkTurn(conv, t + 1, if (role == "user") "assistant" else "user",
            s"It is phosphorylated by $c.")
          // "is expressed" is a Transcription event (transcription_events.yml
          // verbal passive trigger)
          triples += tri(conv, t, "", "Transcription", gidOf(a))
          triples += tri(conv, t + 1, "", "Phosphorylation", gidOf(a))
          triples += tri(conv, t + 1, gidOf(c), "Positive_regulation",
            s"Phosphorylation(${gidOf(a)})")
          t += 1
        case 15 if t + 1 < nTurns =>
          val Seq(a, b, c) = genes(3)
          turns += mkTurn(conv, t, role, s"$a binds $b.")
          turns += mkTurn(conv, t + 1, if (role == "user") "assistant" else "user",
            s"Both are phosphorylated by $c.")
          triples += tri(conv, t, "", "Binding",
            Seq(gidOf(a), gidOf(b)).sorted.mkString("&"))
          triples += tri(conv, t + 1, "", "Phosphorylation", gidOf(a))
          triples += tri(conv, t + 1, "", "Phosphorylation", gidOf(b))
          triples += tri(conv, t + 1, gidOf(c), "Positive_regulation",
            s"Phosphorylation(${gidOf(a)})")
          triples += tri(conv, t + 1, gidOf(c), "Positive_regulation",
            s"Phosphorylation(${gidOf(b)})")
          t += 1
        case 16 if t + 1 < nTurns =>
          // simpleEventMatch: event anaphora as a regulation's controlled
          val Seq(a, b, c) = genes(3)
          turns += mkTurn(conv, t, role, s"$a phosphorylates $b.")
          turns += mkTurn(conv, t + 1, if (role == "user") "assistant" else "user",
            s"$c enhances this phosphorylation.")
          triples += tri(conv, t, "", "Phosphorylation", gidOf(b))
          triples += tri(conv, t, gidOf(a), "Positive_regulation",
            s"Phosphorylation(${gidOf(b)})")
          triples += tri(conv, t + 1, gidOf(c), "Positive_regulation",
            s"Phosphorylation(${gidOf(b)})")
          t += 1
        case 17 =>
          // mutantProteinMatch: "the mutant" resolves to the mutated protein
          val Seq(a, b) = genes(2)
          turns += mkTurn(conv, t, role,
            s"$a T308A is common, and the mutant binds $b.")
          triples += tri(conv, t, "", "Binding",
            Seq(gidOf(a), gidOf(b)).sorted.mkString("&"))
        case 18 if t + 1 < nTurns =>
          // nounPhraseMatch: "This protein" skips the nearer chemical
          val Seq(a, b) = genes(2)
          turns += mkTurn(conv, t, role, s"Rapamycin inhibits $a.")
          turns += mkTurn(conv, t + 1, if (role == "user") "assistant" else "user",
            s"This protein binds $b.")
          triples += tri(conv, t, gidOf("rapamycin", "Simple_chemical"),
            "Negative_activation", gidOf(a))
          triples += tri(conv, t + 1, "", "Binding",
            Seq(gidOf(a), gidOf(b)).sorted.mkString("&"))
          t += 1
        case 19 =>
          // reduced participle (dep rule mod_dep_passive <vmod + agent guard)
          val Seq(a, b, c) = genes(3)
          turns += mkTurn(conv, t, role, s"$a phosphorylated by $b binds $c.")
          triples += tri(conv, t, "", "Phosphorylation", gidOf(a))
          triples += tri(conv, t, gidOf(b), "Positive_regulation",
            s"Phosphorylation(${gidOf(a)})")
          triples += tri(conv, t, "", "Binding",
            Seq(gidOf(a), gidOf(c)).sorted.mkString("&"))
        case 20 =>
          // xcomp control (dep cause path <xcomp nsubj)
          val Seq(a, b) = genes(2)
          turns += mkTurn(conv, t, role, s"$a continues to phosphorylate $b.")
          triples += tri(conv, t, "", "Phosphorylation", gidOf(b))
          triples += tri(conv, t, gidOf(a), "Positive_regulation",
            s"Phosphorylation(${gidOf(b)})")
        case 21 =>
          // passive binding (dep rule bind_dep_passive)
          val Seq(a, b) = genes(2)
          turns += mkTurn(conv, t, role, s"$a is bound by $b.")
          triples += tri(conv, t, "", "Binding",
            Seq(gidOf(a), gidOf(b)).sorted.mkString("&"))
        case 22 =>
          // hydrolysis (irregular morphology family)
          val Seq(a) = genes(1)
          val gtp = gidOf("GTP", "Simple_chemical")
          turns += mkTurn(conv, t, role, s"GTP is hydrolyzed by $a.")
          triples += tri(conv, t, "", "Hydrolysis", gtp)
          triples += tri(conv, t, gidOf(a), "Positive_regulation",
            s"Hydrolysis($gtp)")
        case 23 =>
          // subject-nominal cause (syntax_1a_noun)
          val Seq(a, b) = genes(2)
          turns += mkTurn(conv, t, role,
            s"$a phosphorylation of $b increased.")
          triples += tri(conv, t, "", "Phosphorylation", gidOf(b))
          triples += tri(conv, t, gidOf(a), "Positive_regulation",
            s"Phosphorylation(${gidOf(b)})")
        case 24 =>
          // multi-site unpack: one event per coordinated site
          val Seq(a, b) = genes(2)
          turns += mkTurn(conv, t, role,
            s"$a phosphorylates $b at Ser residues 21 and 25.")
          val s1 = "Ser residues 21"; val s2 = "25"
          triples += tri(conv, t, "", "Phosphorylation", gidOf(b), s1)
          triples += tri(conv, t, "", "Phosphorylation", gidOf(b), s2)
          triples += tri(conv, t, gidOf(a), "Positive_regulation",
            s"Phosphorylation(${gidOf(b)}@$s1)", s1)
          triples += tri(conv, t, gidOf(a), "Positive_regulation",
            s"Phosphorylation(${gidOf(b)}@$s2)", s2)
        case 25 =>
          // translocation with coordinated destinations (one event each)
          val Seq(b) = genes(1)
          turns += mkTurn(conv, t, role,
            s"$b is transported from the membrane to the nucleus and cytosol.")
          triples += tri(conv, t, "", "Translocation", gidOf(b),
            gidOf("nucleus", "Cellular_component"))
          triples += tri(conv, t, "", "Translocation", gidOf(b),
            gidOf("cytosol", "Cellular_component"))
        case 26 =>
          // in-response-to regulation (reg_irt; round-3 batch 2)
          val Seq(a, b) = genes(2)
          turns += mkTurn(conv, t, role,
            s"$b is tyrosine phosphorylated in response to $a treatment.")
          triples += tri(conv, t, "", "Phosphorylation", gidOf(b), "tyrosine")
          triples += tri(conv, t, gidOf(a), "Positive_regulation",
            s"Phosphorylation(${gidOf(b)}@tyrosine)", "tyrosine")
        case 27 =>
          // following-inhibition regulation (reg_following_of)
          val Seq(a, b) = genes(2)
          turns += mkTurn(conv, t, role,
            s"The phosphorylation of $b following inhibition of $a.")
          triples += tri(conv, t, "", "Phosphorylation", gidOf(b))
          triples += tri(conv, t, gidOf(a), "Negative_regulation",
            s"Phosphorylation(${gidOf(b)})")
        case 28 =>
          // bioprocessValid: a BioProcess controller yields no regulation
          val Seq(b) = genes(1)
          turns += mkTurn(conv, t, role,
            s"Apoptosis promotes the phosphorylation of $b.")
          triples += tri(conv, t, "", "Phosphorylation", gidOf(b))
        case 29 =>
          // complex-context fused pair token (bind_pair_pre)
          val Seq(a, b) = genes(2)
          turns += mkTurn(conv, t, role, s"The heterodimer $a-$b is stable.")
          triples += tri(conv, t, "", "Binding",
            Seq(gidOf(a), gidOf(b)).sorted.mkString("&"))
        case 30 =>
          // neg-of-neg activation through a function-of wrapper
          val Seq(a, b) = genes(2)
          turns += mkTurn(conv, t, role,
            s"Silencing $a impaired the function of $b.")
          triples += tri(conv, t, gidOf(a), "Positive_activation", gidOf(b))
        case 31 =>
          // reduced-passive regulation over a nominal event (late r3)
          val Seq(a, b) = genes(2)
          turns += mkTurn(conv, t, role,
            s"We found slight $b phosphorylation induced by $a.")
          triples += tri(conv, t, "", "Phosphorylation", gidOf(b))
          triples += tri(conv, t, gidOf(a), "Positive_regulation",
            s"Phosphorylation(${gidOf(b)})")
        case 32 =>
          // de-event with the -ylate spelling (late r3)
          val Seq(a, b) = genes(2)
          turns += mkTurn(conv, t, role, s"$a deubiquitylates $b.")
          triples += tri(conv, t, "", "Deubiquitination", gidOf(b))
          triples += tri(conv, t, gidOf(a), "Positive_regulation",
            s"Deubiquitination(${gidOf(b)})")
        case 33 =>
          // sites-in themes (syntax_5_noun, final r3): one event + reg per
          // in-conjunct, nn sibling is the cause
          val Seq(a, b, c) = genes(3)
          turns += mkTurn(conv, t, role,
            s"We observed two conserved putative $a phosphorylation sites in $b and $c.")
          triples += tri(conv, t, "", "Phosphorylation", gidOf(b))
          triples += tri(conv, t, "", "Phosphorylation", gidOf(c))
          triples += tri(conv, t, gidOf(a), "Positive_regulation",
            s"Phosphorylation(${gidOf(b)})")
          triples += tri(conv, t, gidOf(a), "Positive_regulation",
            s"Phosphorylation(${gidOf(c)})")
        case 34 =>
          // coordinated by-causes: one regulation per cause (final r3)
          val Seq(a, b, c) = genes(3)
          turns += mkTurn(conv, t, role,
            s"$c is acetylated by $a and $b at multiple lysine residues.")
          triples += tri(conv, t, "", "Acetylation", gidOf(c),
            "lysine residues")
          triples += tri(conv, t, gidOf(a), "Positive_regulation",
            s"Acetylation(${gidOf(c)}@lysine residues)", "lysine residues")
          triples += tri(conv, t, gidOf(b), "Positive_regulation",
            s"Acetylation(${gidOf(c)}@lysine residues)", "lysine residues")
        case 35 =>
          // fragment postmodifier participle with by-agent (final r3)
          val Seq(a, b) = genes(2)
          turns += mkTurn(conv, t, role,
            s"Under the same conditions, $b fragment phosphorylated by $a had low levels of incorporated 32P.")
          triples += tri(conv, t, "", "Phosphorylation", gidOf(b))
          triples += tri(conv, t, gidOf(a), "Positive_regulation",
            s"Phosphorylation(${gidOf(b)})")
        case _ =>
          turns += mkTurn(conv, t, role, fillers(rnd.nextInt(fillers.size)))
      }
      t += 1
    }
    (turns.toSeq, triples.toSeq)
  }

  /** Distributed corpus generation: turns are synthesized inside executors
    * (spark.range -> flatMap), so a 10^12-turn corpus never materializes on
    * the driver. Zipf-ish turn counts; optional mega-conversation for skew.
    */
  def corpus(spark: SparkSession, nConvs: Int, seed: Long,
             megaTurns: Int = 0): (Dataset[Turn], Dataset[Triple]) = {
    import spark.implicits._
    val turns = spark.range(nConvs.toLong).flatMap(corpusConv(seed, _)._1)
    val expected = spark.range(nConvs.toLong).flatMap(corpusConv(seed, _)._2)
    if (megaTurns > 0) {
      // one skewed mega-conversation, generated in parallel slices of
      // chunk-aligned spans (no coref templates -> slice independence);
      // its expected triples union in with the same conv_id/turn remap —
      // otherwise --mega with --score counts every mega edge as a false
      // positive (ADVICE r1)
      val slices = spark.range(((megaTurns + Pipeline.chunkTurns - 1) /
        Pipeline.chunkTurns).toLong)
      (turns.union(slices.flatMap(megaSlice(seed, _, megaTurns)._1)),
        expected.union(slices.flatMap(megaSlice(seed, _, megaTurns)._2)))
    } else (turns, expected)
  }

  /** Conversation `i` of [[corpus]]: Zipf-ish turn counts. */
  def corpusConv(seed: Long, i: Long): (Seq[Turn], Seq[Triple]) =
    genConv(seed, i, 2 + (new Random(seed ^ i).nextInt(49) *
      (if (i % 7 == 0) 1 else 0)) + new Random(seed ^ (i + 7)).nextInt(8))

  /** Slice `s` of [[corpus]]'s `megaTurns`-turn mega-conversation. */
  def megaSlice(seed: Long, s: Long, megaTurns: Int): (Seq[Turn], Seq[Triple]) = {
    val slice = Pipeline.chunkTurns
    val (ts, es) = genConv(seed * 31 + s, 999999L,
      math.min(slice, megaTurns - s.toInt * slice), withCoref = false)
    (ts.map(t => t.copy(conv_id = "mega", turn_idx = s.toInt * slice + t.turn_idx)),
      es.map(t => t.copy(conv_id = "mega", turn_idx = s.toInt * slice + t.turn_idx)))
  }

  def goldenTurns(spark: SparkSession): Dataset[Turn] = {
    import spark.implicits._
    spark.createDataset(golden._1)
  }
  def goldenExpected(spark: SparkSession): Dataset[Triple] = {
    import spark.implicits._
    spark.createDataset(golden._2)
  }
}
