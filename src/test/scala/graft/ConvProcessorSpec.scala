package graft

import graft.kg._
import graft.model._
import org.scalatest.funsuite.AnyFunSuite

/** Per-conversation fold semantics (no Spark): coref gap limits, context
  * window bound, alias edges, triple shapes.
  */
class ConvProcessorSpec extends AnyFunSuite {
  private lazy val trie = Annotate.buildTrie(Lexicon.nerLexicon)
  private lazy val kb = new Link.KbIndex(Lexicon.kb)

  private def run(texts: String*): Seq[StageBRow] =
    runPolicy(ConvProcessor.PolicyBackward, texts: _*)

  private def runPolicy(policy: String, texts: String*): Seq[StageBRow] =
    ConvProcessor.process("c", mentionsOf(texts), kb, policy)

  private def mentionsOf(texts: Seq[String]): Seq[MentionRow] =
    texts.zipWithIndex.flatMap { case (t, i) =>
      BioRules.extractTurn(AnnotatedTurn("c", i, "user",
        Annotate.annotateText(trie, t)))
    }
  private def triples(rows: Seq[StageBRow]): Seq[PreTriple] =
    rows.filter(_.kind == "triple").flatMap(_.triple)

  test("pronoun resolves to nearest prior entity within 1 sentence") {
    val ts = triples(run(
      "AKT1 is expressed in HeLa cells.",
      "It is phosphorylated by MEK."))
    assert(ts.exists(t => t.pred == "Phosphorylation" &&
      t.obj_gid == "uniprot:P31749"))
  }

  test("pronoun beyond the sentence gap stays unresolved and event is dropped") {
    val ts = triples(run(
      "AKT1 is expressed in HeLa cells.",
      "The samples were prepared as described previously.",
      "We then repeated the experiment under identical conditions.",
      "It is phosphorylated by MEK."))
    assert(!ts.exists(_.pred == "Phosphorylation"))
  }

  test("species context: window applies; outside the window the conversation " +
       "default fills in (RuleBasedEngine doc defaults)") {
    val near = triples(run(
      "We studied mouse fibroblasts.",
      "ERK2 was phosphorylated at T669."))
    assert(near.exists(_.obj_gid == "uniprot:P63085"))
    // beyond the 3-turn window the conversation DEFAULT species (the only
    // species mentioned -> mouse) still applies — the reference fills
    // missing context with per-document argmax defaults
    // (context/RuleBasedEngine.scala:26-37)
    val far = triples(run(
      "We studied mouse fibroblasts.",
      "The samples were prepared as described previously.",
      "We then repeated the experiment under identical conditions.",
      "Further work will be needed to confirm this observation.",
      "ERK2 was phosphorylated at T669."))
    assert(far.exists(_.obj_gid == "uniprot:P63085"))
    // with no species anywhere in the conversation, human ranks first
    val none = triples(run("ERK2 was phosphorylated at T669."))
    assert(none.exists(_.obj_gid == "uniprot:P28482"))
  }

  test("doc-level species fallback reaches events BEFORE the first species " +
       "mention (TestDeterministicPolicies fallback-species invariant)") {
    // reference: context/TestDeterministicPolicies.scala:54-61 — once a
    // document mentions a species, EVERY event mention carries exactly one
    // Species context value. The doc defaults are argmax over the WHOLE
    // document (RuleBasedEngine.scala:26-37), not just preceding text, so an
    // event in turn 0 with the species first named in turn 1 still gets it —
    // both as the ctx_species column and as the grounding re-rank. The
    // "no more than one context value per type" invariant (:45-52) is
    // structural here: ctx_* are scalar columns.
    val ts = triples(run(
      "ERK2 was phosphorylated at T669.",
      "We studied mouse fibroblasts."))
    assert(ts.nonEmpty)
    assert(ts.forall(_.ctx_species == "taxonomy:10090"), ts.map(_.ctx_species))
    assert(ts.exists(_.obj_gid == "uniprot:P63085"))
  }

  test("Policy4 bidirectional window: a species one turn AFTER the event " +
       "fills ctx_species; the default policy falls back to the doc default " +
       "(context/Policies.scala:94-98)") {
    // mouse follows the event within the 3-turn forward bound; rat appears
    // twice later, so the conversation-default argmax is RAT — the two
    // policies are observably different on the same conversation
    val texts = Seq(
      "ERK2 was phosphorylated at T669.",
      "We studied mouse fibroblasts.",
      "Data handling followed standard procedures.",
      "Additional runs were recorded for completeness.",
      "Additional controls were included for validation.",
      "The rat tissue was prepared first.",
      "The rat samples were then analyzed.")
    val backward = triples(runPolicy(ConvProcessor.PolicyBackward, texts: _*))
      .filter(_.pred == "Phosphorylation")
    assert(backward.nonEmpty)
    assert(backward.forall(_.ctx_species == "taxonomy:10116"),
      backward.map(_.ctx_species)) // doc default: rat (argmax 2 > 1)
    val bidi = triples(runPolicy(ConvProcessor.PolicyBidirectional, texts: _*))
      .filter(_.pred == "Phosphorylation")
    assert(bidi.nonEmpty)
    assert(bidi.forall(_.ctx_species == "taxonomy:10090"),
      bidi.map(_.ctx_species)) // Policy4: nearest following = mouse
    // a backward hit always wins under BOTH policies — Policy4 only adds
    // assignments, never changes one
    val both = Seq("We studied mouse fibroblasts.",
      "ERK2 was phosphorylated at T669.",
      "The rat tissue was prepared first.")
    val b1 = triples(runPolicy(ConvProcessor.PolicyBackward, both: _*))
      .filter(_.pred == "Phosphorylation").map(_.ctx_species)
    val b2 = triples(runPolicy(ConvProcessor.PolicyBidirectional, both: _*))
      .filter(_.pred == "Phosphorylation").map(_.ctx_species)
    assert(b1 == b2 && b1.forall(_ == "taxonomy:10090"))
  }

  test("grounding.overrideSpecies = true ignores species context " +
       "(ReachGrounder.scala:38, the reference's shipped default)") {
    // the mouse context is present but ignored: groundAsHuman ordering
    // (human > no-species > non-human) keeps the human ERK2
    val ts = triples(ConvProcessor.process("c", mentionsOf(Seq(
        "We studied mouse fibroblasts.",
        "ERK2 was phosphorylated at T669.")), kb,
      overrideSpecies = true))
    assert(ts.exists(_.obj_gid == "uniprot:P28482"), ts.map(_.obj_gid))
    assert(!ts.exists(_.obj_gid == "uniprot:P63085"))
  }

  test("plural coref: 'Both' expands the event over two antecedents") {
    val ts = triples(run(
      "AKT1 binds GSK3.",
      "Both are phosphorylated by MEK1."))
    val phos = ts.filter(_.pred == "Phosphorylation").map(_.obj_gid).toSet
    assert(phos == Set("uniprot:P31749", "uniprot:P49840"))
    val regs = ts.filter(_.pred == "Positive_regulation")
    assert(regs.size == 2 && regs.forall(_.subj_gid == "uniprot:Q02750"))
  }

  test("plural coref with only one antecedent stays unresolved") {
    val ts = triples(run(
      "AKT1 is expressed in HeLa cells.",
      "Both are phosphorylated by MEK1."))
    assert(!ts.exists(_.pred == "Phosphorylation"))
  }

  test("alias rule emits an equivalence edge between groundings") {
    val rows = run("Optineurin (also known as OPTN) is involved in autophagy.")
    val aliases = rows.filter(_.kind == "alias").flatMap(_.alias)
    assert(aliases.map(a => Set(a.a, a.b)) ==
      Seq(Set("uniprot:Q96CV9", "uaz:UAZ:optn")))
  }

  test("binding triple has sorted pair participants") {
    val ts = triples(run("AKT1 binds GSK3 and BAD."))
      .filter(_.pred == "Binding")
    assert(ts.size == 2)
    ts.foreach(t => assert(t.obj_gid < t.obj_gid2))
  }

  test("event-valued controller flattens to its theme gid") {
    val ts = triples(run(
      "Decreased ERK2 expression increases phosphorylation of AKT1."))
    val reg = ts.find(_.pred == "Negative_regulation").get
    assert(reg.subj_gid == "uniprot:P28482")
    assert(reg.obj_pred == "Phosphorylation" && reg.obj_gid == "uniprot:P31749")
  }

  test("coref sieves: class word, mutant, strict head, event anaphora") {
    // nounPhraseMatch: "This protein" skips the nearer chemical
    val np = triples(run("Rapamycin inhibits mTOR.",
      "This protein is phosphorylated by AKT1."))
    assert(np.exists(t => t.pred == "Phosphorylation" &&
      t.obj_gid == "uniprot:P42345"))
    // "This chemical" resolves to rapamycin, skipping the nearer protein
    val chem = triples(run("Rapamycin inhibits mTOR.",
      "This compound binds FADD."))
    assert(chem.exists(t => t.pred == "Binding" &&
      Set(t.obj_gid, t.obj_gid2).contains("pubchem:CID5284616")))
    // mutantProteinMatch: code must match
    assert(triples(run("AKT1 T308A is common, and the mutant binds GSK3."))
      .exists(_.pred == "Binding"))
    assert(!triples(run("AKT1 T308A is common, and the T671A mutant binds GSK3."))
      .exists(_.pred == "Binding"))
    assert(!triples(run("AKT1 is common, and the mutant binds GSK3."))
      .exists(_.pred == "Binding")) // no specific mutant to link to
    // simpleEventMatch requires a label-compatible antecedent
    val evt = triples(run("MEK1 ubiquitinates ERK2.",
      "AKT1 enhances this phosphorylation."))
    assert(!evt.exists(_.subj_gid == "uniprot:P31749"))
  }

  test("resolveDisplay: family-grounded GGP displays Family, transcription " +
       "theme Gene, other GGPs Protein") {
    def displays(rows: Seq[StageBRow]): Map[String, String] =
      rows.filter(_.kind == "linked").flatMap(_.linked)
        .filter(!_.is_event).map(l => l.text -> l.display_label).toMap
    val d1 = displays(run("MAPK binds AKT1."))
    assert(d1("MAPK") == "Family")
    assert(d1("AKT1") == "Protein")
    val d2 = displays(run("The transcription of cyclin D1 is induced by beta-catenin."))
    assert(d2("cyclin D1") == "Gene")
    assert(d2("beta-catenin") == "Protein") // controller, not under Transcription
  }

  test("grounding candidates column: ordered list with head == winner") {
    val linked = run("Ras phosphorylates AKT1.")
      .filter(_.kind == "linked").flatMap(_.linked).filter(!_.is_event)
    val akt = linked.find(_.text == "AKT1").get
    assert(akt.candidates.nonEmpty &&
      akt.candidates.head == Grounding("uniprot", "P31749", "human"))
    // mouse ortholog is retained as a later candidate
    assert(akt.candidates.exists(_.id == "P31750"))
  }

  test("fold is deterministic under input order shuffling") {
    val texts = Seq("MEK1 phosphorylates ERK2 at T669.",
      "AKT1 binds GSK3 and BAD.", "Rapamycin inhibits mTOR.")
    val mentions = texts.zipWithIndex.flatMap { case (t, i) =>
      BioRules.extractTurn(AnnotatedTurn("c", i, "user",
        Annotate.annotateText(trie, t)))
    }
    val a = ConvProcessor.process("c", mentions, kb)
    val b = ConvProcessor.process("c", scala.util.Random.shuffle(mentions.toList), kb)
    assert(triples(a).toSet == triples(b).toSet)
  }
}
