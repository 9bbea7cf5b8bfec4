package graft.kg

import graft.model._
import graft.kg.Matcher._

import java.util.regex.Pattern
import scala.collection.mutable

/** The rule grammar: surface token-pattern re-expression of the reference's
  * biogrammar (reference: main/src/main/resources/org/clulab/reach/biogrammar/
  * — entities.yml, simple-event_template.yml `*_token_*` rules,
  * events_master.yml:57-360) plus the Odin actions that post-process matches
  * (reference: main/.../darpa/DarpaActions.scala).
  *
  * Every rule family from the reference's event taxonomy is covered:
  * templatic simple events (9 modification types + de- variants,
  * DarpaActions.getModificationLabel:370-408), Binding pair expansion
  * (mkBinding:222-261), Transcription, Amount, Translocation, Activations and
  * Regulations with semantic-negative polarity flip
  * (switchLabel/countSemanticNegatives:425-484), negation parity
  * (NegationHandler.scala:115-137), hypothesis hints
  * (HypothesisHandler.scala:16-43), and splitSimpleEvents
  * (DarpaActions.scala:306-340).
  */
object BioRules {

  // ---- trigger lexicons -------------------------------------------------

  val modStems: Map[String, String] = Map(
    "phosphorylat" -> "Phosphorylation",
    // both spellings, as the reference trigger lemma "ubiquit(in|yl)ate"
    // (events_master.yml:85,189; "SIRT1 deubiquitylates MEK5D",
    // TestTemplaticSimpleDeEvents sent35)
    "ubiquitinat" -> "Ubiquitination",
    "ubiquitylat" -> "Ubiquitination",
    "hydroxylat" -> "Hydroxylation",
    "sumoylat" -> "Sumoylation",
    "glycosylat" -> "Glycosylation",
    "acetylat" -> "Acetylation",
    "farnesylat" -> "Farnesylation",
    "ribosylat" -> "Ribosylation",
    "methylat" -> "Methylation",
    // Hydrolysis (taxonomy AdditionEvent; hydrolysis_events.yml /
    // dehydrolysis_events.yml) has irregular morphology: verbal
    // hydrolyz|hydrolys + e/es/ed/ing, nominal "hydrolysis" (not *-ion —
    // handled by the extra alternative in modNom/modAny below)
    "hydrolyz" -> "Hydrolysis",
    "hydrolys" -> "Hydrolysis"
  )
  private val stemsAlt = modStems.keys.mkString("|")
  // quantity prefixes: the reference trigger patterns are unanchored lemma
  // regexes (`[lemma=/ubiquit(in|yl)ate/]` matches "monoubiquitination" by
  // FIND), so mono/poly/di/multi prefixed forms trigger the same events
  // (TestTemplaticSimpleEvents sent8/9/31)
  private val qPre = "((mono|poly|di|multi)-?)?"
  // verbal: phosphorylates/-ed/-ing/-e ; nominal: phosphorylation(s)
  val modVerb = s"$qPre(de-?)?($stemsAlt)(e|es|ed|ing)"
  // past participle only — the passive construction ("X is/was TRIGGERed")
  // requires it; accepting the progressive here misread "MEK1 is
  // phosphorylating ERK2" as a passive with theme MEK1
  val modParticiple = s"$qPre(de-?)?($stemsAlt)ed"
  val modNom = s"$qPre(de-?)?(($stemsAlt)ions?|hydrolys[ei]s)"
  val modAny = s"$qPre(de-?)?(($stemsAlt)(e|es|ed|ing|ions?)|hydrolys[ei]s)"

  /** Trigger text -> event label; de- prefix checked first (reference:
    * DarpaActions.getModificationLabel:370-408).
    */
  def modLabel(trigger: String): String = {
    val t = trigger.toLowerCase
    // de- forms are PREFIX-anchored; positive stems match by CONTAINS, so
    // prefixed participles keep the right label ("monoubiquitinated" ->
    // Ubiquitination, TestModifications sent13). Unknown -> "" (the
    // reference's UNKNOWN: caller attaches no PTM).
    val deStem = modStems.keys.find(s =>
      t.startsWith("de" + s) || t.startsWith("de-" + s))
    deStem match {
      case Some(s) =>
        val base = modStems(s)
        // Deubiquitination, Dephosphorylation, ... (De + lowered base)
        "De" + base.head.toLower + base.tail
      case None =>
        modStems.collectFirst { case (s, base) if t.contains(s) => base }
          .getOrElse("")
    }
  }

  // the reference's full posTriggers/negTriggers prefix inventories
  // (events_master.yml:6-7), spelled with explicit inflections where a bare
  // \w+ would swallow unrelated words ("direct" must not match "directly",
  // which the adv skip owns)
  val posRegTriggers =
    "(promot\\w+|enhanc\\w+|increas\\w+|induc\\w+|mediat\\w+|stimulat\\w+|trigger\\w*|driv(e|es|en|ing)|led|lead(s|ing)?|facilitat\\w+|accelerat\\w+|augment\\w+|up-?regulat\\w+|" +
      "aid(s|ed|ing)?|allow\\w+|cataly[zs]\\w+|caus\\w+|contribut\\w+|direct(s|ed|ing)|elev\\w+|elicit\\w+|enabl\\w+|initiat\\w+|modulat\\w+|overexpress\\w+|potentiat\\w+|" +
      "produc\\w+|prolong\\w+|rais\\w+|reactivat\\w+|re-?express\\w+|rescu\\w+|restor\\w+|signal(s|ed|ing)?|support(s|ed|ing)?|synerg\\w+|synthesiz\\w+|underl(ie|ies|ying|ay))"
  val negRegTriggers =
    "(inhibit\\w+|block\\w+|suppress\\w+|repress\\w+|decreas\\w+|reduc\\w+|prevent\\w+|impair\\w+|attenuat\\w+|abolish\\w+|abrogat\\w+|antagoniz\\w+|down-?regulat\\w+|" +
      "arrest\\w+|deactivat\\w+|degrad\\w+|deplet\\w+|deregulat\\w+|diminish\\w+|disrupt\\w+|dysregulat\\w+|eliminat\\w+|imped\\w+|inactivat\\w+|knock(ed|s)?-?(down|out)?|" +
      "limit(s|ed|ing)?|loss|lower(s|ed|ing)?|negat\\w+|nullif\\w+|perturb\\w+|reliev\\w+|resist(s|ed|ing)?|restrict\\w+|revers\\w+|sequester\\w+|shutdown|silenc\\w+|slow(s|ed|ing)?|starv\\w+)"
  val regTriggers = s"($posRegTriggers|$negRegTriggers)"

  // the reference's pos/neg-act templates share the SAME trigger vocabulary
  // as the regulations (events_master.yml:6-7 posTriggers/negTriggers feed
  // both template families) — whether the event is a Regulation or an
  // Activation is decided by the controlled's TYPE (event vs entity), not by
  // a different trigger list. "RAS impairs MEK" is a Negative_activation;
  // "MEK1 increases ERK2" a Positive_activation. The activation-vs-regulation
  // preference in mostComplete keeps the regulation reading whenever the same
  // trigger also governs an event.
  val posActTriggers = s"(activat\\w+|$posRegTriggers)"
  val negActTriggers = s"(inactivat\\w+|$negRegTriggers)"
  val actTriggers = s"($posActTriggers|$negActTriggers)"

  private val negRegP = Pattern.compile(negRegTriggers, Pattern.CASE_INSENSITIVE)
  private val negActP = Pattern.compile(negActTriggers, Pattern.CASE_INSENSITIVE)
  private val actTrigP = Pattern.compile(actTriggers, Pattern.CASE_INSENSITIVE)

  // agent nominals ("activator", "inhibitor") are NOT verbal triggers — the
  // reference's verbal rules require tag=VB; without the guard "mTOR
  // activator Rapamycin" reads backwards (TestActivationEvents sent13)
  private val agentNoun =
    "activators?|inhibitors?|suppressors?|repressors?|inducers?|enhancers?|mediators?|regulators?"
  val actTriggersVerbal = s"(?!(?i)(?:$agentNoun)$$)$actTriggers"
  val regTriggersVerbal = s"(?!(?i)(?:$agentNoun)$$)$regTriggers"

  /** Negation markers (reference: NegationHandler.scala:44-106 lexicon;
    * "little"/"insufficient" cover the handler's bigram cases
    * ("play no/little role", "be insufficient") as single-token
    * approximations — the surrounding rule spans keep them local).
    */
  private val negationP = Pattern.compile(
    "not|n't|no|never|neither|nor|without|fail(s|ed|ure)?|unable|absen(t|ce)|lack(s|ed|ing)?|cannot|can't|barely|hardly|little|insufficient",
    Pattern.CASE_INSENSITIVE)

  /** Hypothesis hints — the reference's exact lemma list
    * (HypothesisHandler.scala:15-42), matched with inflection tolerance
    * (our lemma-lite does not conflate e.g. "hypothesize"/"hypothesized").
    */
  private val hypothesisP = Pattern.compile(
    "argu(e|es|ed|ing|ment|ments)|believ(e|es|ed|ing)|beliefs?|conjectur\\w*|consider(s|ed|ing)?|hint(s|ed|ing)?|hypothes\\w+|implications?|impl(y|ies|ied|ying)|indicat(e|es|ed|ing)|predict(s|ed|ing|ion|ions)?|previous(ly)?|proposals?|propos(e|es|ed|ing)|questions?|speculat\\w+|suggest(s|ed|ing)?|suspect(s|ed|ing)?|theoriz\\w+|theor(y|ies)|think(s|ing)?|whether",
    Pattern.CASE_INSENSITIVE)

  /** Semantic negatives that flip regulation polarity — the reference's full
    * SEMANTIC_NEGATIVE_PATTERN (DarpaActions.scala:361, applied substring
    * over lemmas at :425-484; here prefix-anchored token matches), plus the
    * lack/absence/deficien/deplet/defect members kept from round 2.
    */
  private val semNegP = Pattern.compile(
    "attenuat\\w*|block\\w*|deactivat\\w*|decreas\\w+|degrad\\w+|delet(ed|ion)?|" +
      "diminish\\w+|dominant-negative|impair\\w+|imped\\w+|inhibit\\w+|" +
      "knock(ed|down|out)?|limit(s|ed|ing)?|loss|lower\\w*|negat\\w+|" +
      "reduc(e|es|ed|tion|ing)?|reliev\\w+|repress\\w+|restrict\\w+|revers\\w+|" +
      "silenc\\w+|shRNA|siRNA|slow(s|ed|ing)?|starv\\w+|suppress\\w+|supress\\w+|" +
      "target(s|ed|ing)?|lack|absence|deficien\\w+|deplet\\w+|defect(ive)?|disrupt\\w+",
    Pattern.CASE_INSENSITIVE)

  // ---- modifications lexicon (PTM / Mutant / EventSite) -------------------
  // reference: biogrammar/modifications/modifications.yml + entities/mutants.yml
  // + DarpaActions.storePTM/storeEventSite/storeMutants:59-121

  /** PTM participle adjacent to an entity: "phosphorylated ERK2". */
  private val ptmParticipleP = Pattern.compile(
    s"((mono|poly|di|multi)-?)?(de-?)?($stemsAlt)ed",
    Pattern.CASE_INSENSITIVE)

  /** Fused PTM prefix inside a single token: "p-ERK2", "phospho-AKT1". */
  private val fusedPhosP = Pattern.compile("(p|pp|phospho|phos)-.+",
    Pattern.CASE_INSENSITIVE)
  private val fusedUbiqP = Pattern.compile("u-.+", Pattern.CASE_INSENSITIVE)

  /** Mutation token shapes (reference: mutants.yml:5-80 — substitution short
    * "K182L" / long "Ser43Val", deletion "W34del"/"414delCys", "DeltaN663";
    * slash-coordinated alternatives stay one token = one Mutant mod, matching
    * the reference's single-capture patterns).
    */
  private val aaLong =
    "(Ala|Arg|Asn|Asp|Cys|Gln|Glu|Gly|His|Ile|Leu|Lys|Met|Phe|Pro|Ser|Thr|Trp|Tyr|Val)"
  private val mutantPart =
    s"([ACDEFGHIKLMNPQRSTVWY]\\d+[ACDEFGHIKLMNPQRSTVWY]|$aaLong\\d+$aaLong|" +
      s"[ACDEFGHIKLMNPQRSTVWY]?\\d+del[ACDEFGHIKLMNPQRSTVWY]?|" +
      s"(Delta|Δ)[ACDEFGHIKLMNPQRSTVWY]\\d+|" +
      // HGVS-ish shapes (mutants.yml:82-141 + TestModifications
      // mutantTest16-21): "76A>T" substitution, "K29del"/"29delK"/
      // "M27_K29del"/"27_29del" deletions, "K29_M30insQSK" insertion,
      // "G31_Q33dup" duplication, "Arg83fs" frameshift
      s"\\d+[ACDEFGHIKLMNPQRSTVWY]>[ACDEFGHIKLMNPQRSTVWY]|" +
      s"[ACDEFGHIKLMNPQRSTVWY]?\\d+(_[ACDEFGHIKLMNPQRSTVWY]?\\d+)?" +
      s"(del[ACDEFGHIKLMNPQRSTVWY]*|ins[ACDEFGHIKLMNPQRSTVWY]+|dup)|" +
      s"(?:$aaLong|[ACDEFGHIKLMNPQRSTVWY])\\d+fs|" +
      // slash-coordinated position run: "F446/472/589" (one token, one mod)
      s"[ACDEFGHIKLMNPQRSTVWY]\\d+(/\\d+)+)"
  private val mutantTokP =
    Pattern.compile(s"$mutantPart(/$mutantPart)*", Pattern.CASE_INSENSITIVE)
  private val mutantWordP =
    Pattern.compile("mutants?|mutations?", Pattern.CASE_INSENSITIVE)
  /** Mutant evidence normalization: the Greek deletion prefix is spelled out
    * ("ΔF508" -> "DeltaF508"), as the reference's mutant evidence is. */
  private def normMutCode(w: String): String = w.replace("Δ", "Delta")
  private val mutantSepP =
    Pattern.compile(",|and|or|/", Pattern.CASE_INSENSITIVE)
  private val figTableP = Pattern.compile(
    "fig(ure)?s?\\.?|tables?|panels?|lanes?", Pattern.CASE_INSENSITIVE)

  // ---- rule spec --------------------------------------------------------

  sealed trait Kind
  case class EntityK(label: String) extends Kind
  // "this mutant" / "the K341L mutant": Generic_entity carrying a Mutant mod
  // (generic when no code) for the fold's mutantProteinMatch sieve
  // (reference: DarpaLinks.scala:77-110)
  case object GenericMutantK extends Kind
  // "this phosphorylation": text-bound Generic_event anaphor; the base event
  // label rides in trigger_text for the fold's simpleEventMatch sieve
  // (reference: DarpaLinks.scala:364-427)
  case object GenericEventK extends Kind
  case object SimpleModK extends Kind // label from trigger
  // auto-modification: theme == controller ("EGFR autophosphorylates",
  // "EGFR phosphorylates itself" — reference: TestTemplaticAutoEvents,
  // events_master auto rules)
  case object AutoModK extends Kind
  case class FixedEventK(label: String, themeRole: String = "theme") extends Kind
  case object BindingK extends Kind
  case object RegulationK extends Kind // controlled is an Event
  case object ActivationK extends Kind // controlled is an entity
  case object AliasK extends Kind
  // alias whose b-side is NOT a known entity: the trigger span captures the raw
  // token; a new entity mention is synthesized for it and later re-scanned over
  // the whole conversation (reference: coref/Alias.scala:12-75 + the HashTrie
  // rescan, InstanceFinder.scala:9-34)
  case object AliasUnknownK extends Kind

  final case class Rule(name: String, priority: Int, kind: Kind, pattern: List[PE])

  /** A complete rule grammar: surface token-pattern rules + dependency-
    * pattern rules, with the per-priority dispatch tables precomputed. The
    * built-in grammar is [[BioRules.default]]; additional or replacement
    * grammars load from data via [[RuleDsl]] (the reference's grammar is
    * YAML loaded at startup and re-loadable per request —
    * RuleReader.scala:43-51, export ApiRuler), are carried by a
    * [[KgConfig]] and reach executors through [[Broadcasts.all]].
    */
  final case class Grammar(rules: List[Rule], depRules: List[DepRule],
                           taxonomy: Taxonomy = Lexicon.builtinTaxonomy) {
    @transient lazy val priorities: List[Int] =
      (rules.map(_.priority) ++ depRules.map(_.priority)).distinct.sorted
    @transient lazy val rulesByPriority: Map[Int, List[Rule]] =
      rules.groupBy(_.priority).withDefaultValue(Nil)
    @transient lazy val depRulesByPriority: Map[Int, List[DepRule]] =
      depRules.groupBy(_.priority).withDefaultValue(Nil)
    // the entity/event staging boundary (ReachSystem.scala:157-232): entity
    // rules run at p<=5, event rules after the modification pass
    @transient lazy val entityPriorities: List[Int] = priorities.filter(_ <= 5)
    @transient lazy val eventPriorities: List[Int] = priorities.filter(_ > 5)

    /** Extension: the built-in grammar plus extra data-defined rules. */
    def withRules(extraRules: Seq[Rule],
                  extraDepRules: Seq[DepRule] = Nil): Grammar =
      Grammar(rules ++ extraRules, depRules ++ extraDepRules, taxonomy)

    /** Swap the strict-head generic-anaphor rule's head alternation — the
      * one rule whose pattern is derived from the NER lexicon
      * ([[Lexicon.multiwordHeadsOf]]); a config whose KB adds multi-word
      * surfaces rebuilds it ([[KgConfig.effectiveGrammar]]) so data-added
      * entities get anaphora support. Only the STOCK pattern (the
      * alternation derived from the built-in lexicon) is rewritten: a user
      * grammar that redefined `generic_head_np`'s heads via `--rules` keeps
      * its own pattern — a data KB must never silently clobber a
      * data-defined rule.
      */
    def withLexiconHeads(heads: Set[String]): Grammar = {
      def headsRe(hs: Set[String]): String =
        if (hs.isEmpty) "(?!)" else hs.toSeq.sorted.mkString("|")
      val stockRe = headsRe(Lexicon.multiwordHeads)
      val re = headsRe(heads)
      copy(rules = rules.map {
        case r @ Rule("generic_head_np", _, _, List(det, W(cur)))
            if cur == stockRe =>
          r.copy(pattern = List(det, W(re)))
        case r => r
      })
    }
  }

  private val ENT = "BioChemicalEntity"
  private val filler = OptG(W("protein|proteins|kinase|gene|enzyme|receptor|complex"))
  private val quant = OptG(W("one|two|three|four|five|several|many|multiple|all|both|\\d+"))
  private val adv = OptG(W("directly|specifically|rapidly|strongly|significantly|also|further|subsequently|then|markedly|potently|efficiently|selectively|often|frequently|usually|typically|commonly|constitutively|primarily|preferentially|mainly|predominantly|exclusively"))
  // auxiliary verbs + optional negation between subject and trigger
  // ("MEK does not phosphorylate ERK2", "MEK1 doesn't phosphorylate ERK2",
  // "MEK1 isn't phosphorylating ERK2"). The tokenizer splits n't clitics
  // PTB-style ("does"+"n't", "ca"+"n't", "wo"+"n't"), so the stems appear
  // here and negationP sees "n't" as its own token.
  private val auxNeg = OptG(
    W("does|do|did|can|cannot|ca|could|may|might|will|wo|would|should|must|" +
      "has|have|had|is|are|was|were"),
    OptG(W("not|n't|never")))
  private val notOpt = OptG(W("not|n't"))
  // alias cue vocabulary (reference: coref/alias_template.yml, eight
  // templates sharing "[which is] [RB] CUE" with CUE one of four families)
  private val aliasWhichIs = OptG(W("which"), W("is|are|was|were"))
  private val aliasRb = OptG(
    W("also|commonly|usually|typically|sometimes|previously|hereafter|formerly|often|better"))
  // nonce alias-target token shape (reference: entities_master.yml:16
  // `[!mention & tag=/^(JJ|NNP?)$/]{1,2}` — any non-mention noun-ish token).
  // Surface stand-in: alphanumeric, 2-15 chars, at least one letter; digits
  // may lead ("23peM", TestCoreference sent59/60). Pure numbers never match.
  private val nonceTok = "(?=[0-9-]*[A-Za-z])[A-Za-z0-9][A-Za-z0-9-]{1,14}"
  private val aliasCue = AltG(
    Seq(W("referred"), W("to"), W("as")),
    Seq(W("known|designated"), OptG(W("as"))),
    Seq(W("called|termed|named")),
    // "a.k.a." tokenizes as "a.k.a" + a dangling "." token
    Seq(W("alias|a\\.k\\.a\\.?|aka"), OptG(W("\\."))))

  private val aliasCueText = Pattern.compile(
    "\\(|\\b(?:referred|known|designated|called|termed|named|alias|aka|a\\.k\\.a)\\b",
    Pattern.CASE_INSENSITIVE)

  /** Alias pre-filter: whole-word, case-insensitive `(` or `aliasCue`
    * word ("unknown" does not match). Every alias rule needs one, so the
    * batch and streaming alias pre-passes annotate only text that has one.
    */
  def hasAliasCue(text: String): Boolean =
    text != null && aliasCueText.matcher(text).find()

  private val sitePrep = OptG(AltG(
    Seq(W("on|at"), OptG(W("a|an|the")), ML("site", "Site", commaOk = true)),
    Seq(W("on|at"), W("residues?|sites?"), ML("site", "Site", commaOk = true))))
  private val parenSites = OptG(OptG(W("residues?")), W("\\("),
    ML("site", "Site", commaOk = true, conj = "and|or|&|/"), W("\\)"))
  // appositive between subject and verb: "MEK1, a dual-specificity kinase,
  // phosphorylates ..." — clause-skip surrogate for the reference's
  // dependency-pattern rules (F8; nsubj hops over appositions). Requires a
  // determiner after the comma so coordination ("MEK1, JAK3, and ...") is not
  // swallowed.
  private val appos = OptG(W(","), W("a|an|the|which"), X(12), W(","))
  // "Site [residue] of" prefix before a nominal theme: tokens skipped here are
  // recovered by the EventSite modification machinery (storeEventSite +
  // siteSniffer semantics, DarpaActions.scala:90-110,266-297)
  private val siteOfPre = OptG(OptG(W("the")),
    ML("sitepre", "Site", commaOk = true), OptG(W("residues?")), W("of"))
  // post-modifiers on an argument, skipped by the rule and recorded as
  // modifications in attachMods: participial PTM ("AKT1 phosphorylated at
  // Ser473 binds BAD") or mutation codes ("the ERK2 T669A mutant binds AKT1")
  private val postMods = OptG(AltG(
    Seq(W(s"(de-?)?($stemsAlt)ed"),
      OptG(W("at|on"), ML("ptmsite", "Site", commaOk = true))),
    Seq(W("[A-Za-z]*\\d+[A-Za-z][A-Za-z0-9/]*|[A-Za-z]\\d+(/\\d+)+"),
      OptG(W("mutants?|mutations?")))))

  // nominal reg triggers for the in-response-to / following rule families
  // (the reference's posTriggers/negTriggers NN members used by the
  // reg-only templates)
  private val negNomTrig =
    "inhibition|knockdown|silencing|depletion|suppression|blockade|loss|starvation"
  private val nomRegTrig =
    s"activation|stimulation|induction|treatment|overexpression|up-?regulation|down-?regulation|$negNomTrig"

  val rules: List[Rule] = List(
    // -- p2: generic (anaphoric) entities --------------------------------
    // plural forms carry cardinality 2 (reference: Anaphoric.cardinality
    // from determiners/number, Anaphoric.scala:49-127)
    Rule("generic_pronoun", 2, EntityK("Generic_entity"),
      List(W("it|its|they|them|both|their"))),
    // class-word generics: the head noun constrains the antecedent's label
    // in the fold's nounPhraseMatch sieve ("this protein" cannot resolve to
    // a chemical — DarpaLinks.scala:267-354 label-subset check)
    Rule("generic_np", 2, EntityK("Generic_entity"),
      List(W("this|that|the|these|those"),
        W("proteins?|kinases?|enzymes?|genes?|receptors?|molecules?|chemicals?|compounds?|drugs?|factors?"))),
    // strict-head generics: determiner + the head token of a multi-word
    // lexicon entity ("Cyclin D1 ... the cyclin" — strictHeadMatch,
    // DarpaLinks.scala:120-162); the alternation is built from the lexicon
    Rule("generic_head_np", 2, EntityK("Generic_entity"),
      List(W("the|this|that|these|those"),
        W(if (Lexicon.multiwordHeads.isEmpty) "(?!)"
          else Lexicon.multiwordHeads.toSeq.sorted.mkString("|")))),
    // mutant anaphors: "the mutant", "the K341L mutant", "these mutants"
    Rule("generic_mutant", 2, GenericMutantK,
      List(W("this|that|the|these|those"), OptG(T(mutantPart)),
        W("mutants?"))),
    // event anaphors: "this phosphorylation" (definite determiners and
    // demonstratives only — TestCoreference sent27b: bare "phosphorylation"
    // must NOT corefer)
    Rule("generic_event", 2, GenericEventK,
      List(W("this|that|the|these|those"), T(modNom))),

    // -- p5: sites by surface shape (residue codes: Y63, Ser473, T669) ---
    Rule("site_residue", 5, EntityK("Site"),
      List(W("[ACDEFGHIKLMNPQRSTVWY]\\d{1,4}|(Ser|Thr|Tyr|Lys|Arg|His)-?\\d{1,4}"))),
    Rule("site_residue_long", 5, EntityK("Site"),
      List(W("serine|threonine|tyrosine|lysine|arginine|histidine"),
        OptG(W("residues?")), W("\\d{1,4}"))),
    // 3-letter amino-acid codes with optional "residue(s)" before the number
    // ("Lys residues 104" — entities.yml site_aa3letter:68-72). Case-SENSITIVE
    // like the reference rule ("His" must not match the pronoun "his")
    Rule("site_aa3", 5, EntityK("Site"),
      List(W("(?-i:Ala|Arg|Asn|Asp|Cys|Gln|Glu|Gly|His|Ile|Leu|Lys|Met|Phe|Pro|Ser|Thr|Trp|Tyr|Val)"),
        OptG(W("residues?")), W("\\d{1,4}"))),
    // bare amino-acid site premodifier ("ERBB3 tyrosine phosphorylation",
    // "is tyrosine phosphorylated" — the reference captures site = nn/amod
    // premod, simple-event_template syntax_4/syntax_7); numbered forms are
    // owned by site_residue_long / site_aa3 above
    Rule("site_aa_bare", 5, EntityK("Site"),
      List(W("serine|threonine|tyrosine"), NotNext("residues?|\\d{1,4}"))),
    // unnumbered residue site: "autophosphorylates on a tyrosine residue"
    // (TestTemplaticAutoEvents example1) — the numbered forms are owned by
    // site_residue_long / site_aa3 above
    Rule("site_aa_residue", 5, EntityK("Site"),
      List(W("serine|threonine|tyrosine|lysine|arginine|histidine"),
        W("residues?"), NotNext("\\d{1,4}"))),

    // -- p7: templatic simple events (modifications) ---------------------
    // active: [cause] TRIGGERs [quant] theme-list [residues (S1, S2)] [on/at site-list]
    Rule("mod_active", 7, SimpleModK,
      List(M("cause", ENT), appos, filler, adv, auxNeg, T(modVerb), quant,
        ML("theme", ENT), parenSites, sitePrep)),
    // active without cause: "TRIGGER of ..." won't match this (T is verbal)
    // passive: theme-list is/was [not] TRIGGERed [on site] [by cause]
    // subject-verb agreement guards the theme list: a SINGULAR aux after a
    // multi-entity surface coordination means only the nearest entity is the
    // subject ("...more common than BEF, and it is often ubiquitinated" must
    // not unpack a {BEF, it} theme list — TestCoreference sent1)
    Rule("mod_passive", 7, SimpleModK,
      List(AltG(
        Seq(ML("theme", ENT), postMods, filler, W("are|were|be|been|being")),
        Seq(M("theme", ENT), postMods, filler, appos,
          // reduced postmodifier between subject and aux: "the endogenous
          // Gab1 present in WT MEFs is tyrosine phosphorylated ..."
          // (TestRegulationEvents sent52) — anchored on the adjective so
          // clause boundaries are never skipped
          OptG(W("present|found|located|observed|expressed"), W("in|at|on"),
            X(3)),
          W("is|was|are|were|be|been|being|gets?|got|becomes?|became"))),
        notOpt, adv, OptG(M("site", "Site")), T(modParticiple), sitePrep,
        OptG(W("by"), M("cause", ENT)))),
    // passive infinitive: "the ability of the exogenous EGFR receptor to be
    // tyrosine phosphorylated ...", "the mutant Gab1 proteins to become
    // tyrosine phosphorylated ..." (simple-event_template.yml:431-447
    // ${eventName}_token_inresponseto; TestRegulationEvents sent48-53) —
    // the in-response-to cause is picked up by reg_irt over this event
    Rule("mod_passive_inf", 7, SimpleModK,
      List(ML("theme", ENT), postMods, filler, W("to"), W("be|become"),
        notOpt, adv, OptG(M("site", "Site")), T(modParticiple), sitePrep)),
    Rule("auto_passive_inf", 7, AutoModK,
      List(ML("theme", ENT), postMods, filler, W("to"), W("be|become"),
        notOpt, adv, OptG(M("site", "Site")), T(s"auto-?($stemsAlt)ed"))),
    // nominal: TRIGGERion of theme-list [on/at site] [by cause]. The
    // optional "the X substrate(s)," bridge reaches an appositive theme when
    // the of-object is a role noun whose entity the NER substrate-lookahead
    // absorbed ("the phosphorylation of the mTOR substrate, 4EBP1" —
    // TestTemplaticSimpleEvents sent23; the reference walks prep_of to
    // "substrate" then appos to the protein)
    Rule("mod_nominal", 7, SimpleModK,
      // an optional premod site before the trigger ("the tyrosine
      // phosphorylation of EGFR" — TestTemplaticSimpleEvents sent36)
      List(OptG(M("site", "Site")), T(modNom), W("of"), siteOfPre, quant,
        OptG(OptG(W("the")), X(2), W("substrates?"), W(",")),
        ML("theme", ENT), parenSites,
        sitePrep, OptG(W("by"), M("cause", ENT)))),
    // nominal with the site list BEFORE the of/for theme (syntax_1b_noun;
    // TestTemplaticSimpleEvents sent14a: "ubiquitination at Lys residues 104
    // and 147 of K-Ras" — one event per site)
    Rule("mod_nominal_siteof", 7, SimpleModK,
      List(T(modNom), W("at|on"), OptG(W("the")),
        ML("site", "Site", commaOk = true),
        W("of|for"), OptG(W("the")), ML("theme", ENT))),
    // EMBEDDED nominal with an on-theme: "the effects of monoubiquitination
    // on Ras" (sent9) — the reference's prep_[^bt] theme paths only reach an
    // on-phrase when the trigger itself hangs under a preposition; a clause
    // SUBJECT nominal with prep_on must NOT fire ("The phosphorylation on
    // AKT was great", sent1) — the leading "of" encodes that distinction
    Rule("mod_nominal_embedded_on", 7, SimpleModK,
      List(W("of"), T(modNom), W("on"), OptG(W("the")), ML("theme", ENT),
        NotNextM(ENT))),
    // light-verb nominal: "K-Ras and H-Ras underwent mono-ubiquitination"
    // (sent31) — each coordinated subject yields its own event (the
    // reference reaches the subjects through the verb's nsubj + conj_and)
    Rule("mod_undergo", 7, SimpleModK,
      List(ML("theme", ENT), W("underwent|undergo(es)?|undergone|undergoing"),
        OptG(W("mono|poly|di|multi")), T(modNom))),
    // pre-modifier nominal: "AKT phosphorylation" (theme before nominal
    // trigger). Guarded like the reference's nn-theme rule (syntax_4_noun:
    // `!outgoing=/prep_(by|of)/`): when the trigger governs a following
    // of/by phrase the nn is the CAUSE, not the theme ("MEK1 phosphorylation
    // of ERK2" — handled by mod_subjnominal below).
    // theme is a coordinated LIST ("both basal EGFR and ERBB3 tyrosine
    // phosphorylation" -> one event per conjunct, TestTemplaticSimpleEvents
    // sent5 — the reference widens the nn theme over /conj|cc/)
    Rule("mod_prenominal", 7, SimpleModK,
      List(ML("theme", ENT), parenSites,
        // parenthesized mutation codes were consumed as Mutant mods by
        // attachMods ("ERK2(K156M/H204M) phosphorylation" -> one event per
        // mutant variant, TestModifications sent15/16); the span skips them
        OptG(W("\\("), X(5), W("\\)")),
        OptG(M("site", "Site")), T(modNom),
        // "sites" after the trigger means the nn is under the sites head
        // (syntax_5_noun shape) — the nn is the CAUSE there, never the theme
        NotNext("of|by|sites?"), sitePrep)),
    // nn-theme with by-cause (syntax_2_noun: theme prep_of? nn, cause
    // prep_by): "ERK2 phosphorylation by MEK1 increased."
    Rule("mod_prenominal_by", 7, SimpleModK,
      List(ML("theme", ENT), T(modNom), W("by"), M("cause", ENT))),
    // subject-nominal (syntax_1a_noun: cause nn, theme prep_of): "Ras
    // phosphorylation of ASPP2 increased."
    Rule("mod_subjnominal", 7, SimpleModK,
      List(M("cause", ENT), T(modNom), W("of"), siteOfPre, quant,
        ML("theme", ENT), parenSites, sitePrep)),
    // auto-modifications: label Auto<Base>, controller == theme
    Rule("auto_verb", 7, AutoModK,
      List(M("theme", ENT), filler, adv, T(s"auto-?($stemsAlt)(e|es|ed|ing)"),
        sitePrep)),
    Rule("auto_reflexive", 7, AutoModK,
      List(M("theme", ENT), filler, adv, T(modVerb), W("itself"), sitePrep)),
    Rule("auto_nominal", 7, AutoModK,
      List(T(s"auto-?($stemsAlt)ions?"), W("of"), ML("theme", ENT))),
    // prenominal auto-event: "EGFR autophosphorylation" (the of-form is
    // owned by auto_nominal; TestTemplaticAutoEvents example5-7)
    Rule("auto_prenominal", 7, AutoModK,
      List(ML("theme", ENT), T(s"auto-?($stemsAlt)ions?"), NotNext("of"))),
    // relative clause: "ERK2, which is phosphorylated by MEK1" — clause-aware
    // surrogate for the reference's *_syntax_* dependency rules (F8)
    // participle premodifier with by-cause: "The phosphorylated p53 by
    // ASPP2 is doing something" — an event with a cause, NOT a PTM
    // (TestModifications sent9)
    Rule("mod_premod_by", 7, SimpleModK,
      List(T(modParticiple), ML("theme", ENT),
        OptG(W("\\("), X(3), W("\\)")),
        OptG(W("fragment|fragments|protein|proteins")),
        W("by"), M("cause", ENT))),
    // reduced postmodifier participle with by-agent (no copula): "ASPP2
    // (693-1128) fragment phosphorylated by AKT1 had very low levels ..."
    // (TestRegulationEvents sent6 — the reference reaches the theme through
    // <vmod off the head noun); an interceding paren range and fragment/
    // protein head noun are skipped
    Rule("mod_postmod_by", 7, SimpleModK,
      List(ML("theme", ENT), OptG(W("\\("), X(3), W("\\)")),
        OptG(W("fragment|fragments|protein|proteins")),
        T(modParticiple), W("by"), M("cause", ENT))),
    // prenominal cause with a sites-in theme (syntax_5_noun: theme =
    // `< nn > prep_in`, cause = `< nn`): "two conserved putative MAPK
    // phosphorylation sites in ASPP1 and ASPP2" — the in-objects are the
    // THEMES (one event per conjunct), the nn sibling is the cause
    // (TestRegulationEvents sent3)
    Rule("mod_sites_in", 7, SimpleModK,
      List(OptG(M("cause", ENT)), T(modNom), W("sites?"), W("in"),
        OptG(W("the")), ML("theme", ENT))),
    Rule("mod_relcl", 7, SimpleModK,
      List(ML("theme", ENT), W(","), W("which"), W("is|was|are|were"), notOpt,
        adv, T(modParticiple), sitePrep, OptG(W("by"), M("cause", ENT)))),
    // "Cells expressing ErbB3 show tyrosine phosphorylation ..." — the
    // expressed entity is the theme of the shown modification nominal
    // (reference reaches it through the dep path in the reg-only rules'
    // controlled; TestRegulationEvents sent42-44); the in-response-to
    // controller is picked up by reg_irt over this event
    Rule("mod_cells_show", 7, SimpleModK,
      List(W("cells?"), W("expressing|overexpressing|rescued|transfected"),
        OptG(W("with")), OptG(W("wild"), W("type")), ML("theme", ENT), X(3),
        W("show|shows|showed|showing|exhibit|exhibits|exhibited"),
        OptG(M("site", "Site")), T(modNom), NotNext("of"))),

    // transcription — the reference trigger inventory is
    // transcription|expression (nominal) and (over)?express* (verbal)
    // (transcription_events.yml:8-78); a by-cause splits into a wrapping
    // regulation ("expression of NRF2 by Kras", "EGFR is overexpressed by
    // Mek" — TestTranscriptionEvents sent1/sent6)
    Rule("transcription_nominal", 7, FixedEventK("Transcription"),
      List(T("transcription|(over-?)?expression"), W("of"),
        OptG(W("active|activated|wild-type|endogenous|exogenous|mutant|the")),
        ML("theme", ENT),
        OptG(W("by"), M("cause", "PossibleController")))),
    // prenominal: "MMP-9 expression", "ErbB3 gene transcription" (sent2/8);
    // the of/by guard mirrors syntax_4_noun's !outgoing — with a following
    // of-phrase the nn is not the theme
    Rule("transcription_prenominal", 7, FixedEventK("Transcription"),
      List(ML("theme", ENT), OptG(W("gene|genes|protein|proteins|mRNA")),
        T("transcription|(over-?)?expression"), NotNext("of"))),
    // prenominal with a by-cause: "NRF2 expression by Kras" — the cause
    // splits into a wrapping regulation as in the nominal rule. A following
    // "by" that does NOT introduce an entity (e.g. "Up-regulation of p53
    // expression by active KRAS expression" — the by-phrase belongs to the
    // governing nominal, as the reference's !outgoing=prep_by guard decides
    // from the parse) simply leaves this rule unmatched and the bare
    // prenominal stands.
    Rule("transcription_prenominal_by", 7, FixedEventK("Transcription"),
      List(ML("theme", ENT), OptG(W("gene|genes|protein|proteins|mRNA")),
        T("transcription|(over-?)?expression"), W("by"),
        M("cause", "PossibleController"))),
    // postposed reduced participle: "the levels of MCL-1 and BIM expressed
    // in several cell lines" -> one Transcription per theme
    // (TestTranscriptionEvents sent7)
    Rule("transcription_postmod", 7, FixedEventK("Transcription"),
      List(ML("theme", ENT), T("(over-?)?expressed"), W("in"))),
    Rule("transcription_passive", 7, FixedEventK("Transcription"),
      List(ML("theme", ENT),
        W("is|are|was|were|be|been|being|gets?|got"), notOpt, adv,
        T("transcribed|(over-?)?expressed"),
        OptG(W("by"), M("cause", "PossibleController")))),

    // amount — the reference's exact trigger inventory and argument paths
    // (events_master.yml:28-37): "loss" -> DecreaseAmount over prep_of|prep_in
    // (decrease_events.yml), "amount|level|quantity" -> Amount over
    // `prep_of amod?` or `nn` (amount_events.yml). The round-2
    // increase/decrease/overexpression triggers were over-generation the
    // reference grammar does not have ("decreases ASPP2 phosphorylation" is a
    // regulation, not an amount event).
    Rule("amount_loss", 7, FixedEventK("DecreaseAmount"),
      List(T("loss(es)?"), W("of|in"), OptG(W("the")), ML("theme", ENT))),
    Rule("amount_nominal", 7, FixedEventK("Amount"),
      List(T("amounts?|levels?|quantit(y|ies)"), W("of|in"), OptG(W("the")),
        // a nominal event after the of-object means the entity is ITS
        // premodifier, not the amount's theme ("levels of EGFR
        // autophosphorylation" — the reference's prep_of lands on the
        // event nominal, which is not a BioChemicalEntity, so no Amount)
        ML("theme", ENT), NotNext(s"auto\\w+|$modNom"))),
    Rule("amount_nn", 7, FixedEventK("Amount"),
      List(ML("theme", ENT), T("amounts?|levels?|quantit(y|ies)"))),

    // translocation (translocation_events.yml:12-172): the reference trigger
    // inventory is exactly trans(loc|port)/release/export/recruit (verbal,
    // nominal, and VBN-passive shapes); every rule requires at least one
    // location argument (enforced in assemble), and coordinated sources/
    // destinations yield one event per source x destination combination
    // (TestTranslocationEvents sent2/sent3)
    Rule("transloc_active", 7, FixedEventK("Translocation"),
      List(ML("theme", ENT), T("(trans(loc|port)|releas|export|recruit)\\w*"),
        OptG(W("from"), OptG(W("the")),
          ML("source", "Cellular_component", commaOk = false)),
        OptG(W("to|into"), OptG(W("the")),
          ML("destination", "Cellular_component", commaOk = false)))),
    Rule("transloc_passive", 7, FixedEventK("Translocation"),
      List(ML("theme", ENT),
        W("is|are|was|were|be|been|being|gets?|got"),
        T("(trans(loc|port)|releas|export|recruit)ed"),
        OptG(W("from"), OptG(W("the")),
          ML("source", "Cellular_component", commaOk = false)),
        OptG(W("to|into"), OptG(W("the")),
          ML("destination", "Cellular_component", commaOk = false)))),
    Rule("transloc_nominal", 7, FixedEventK("Translocation"),
      List(T("(translocation|transport|release|export|recruitment)s?"),
        W("of"), ML("theme", ENT),
        OptG(W("from"), OptG(W("the")),
          ML("source", "Cellular_component", commaOk = false)),
        OptG(W("to|into"), OptG(W("the")),
          ML("destination", "Cellular_component", commaOk = false)))),

    // appositive relative translocations: "ASPP2, a protein which is
    // translocated from the membrane to the nucleus [by ASPP1], is
    // subsequently phosphorylated" / active "..., a protein which
    // translocates Pde2 from ... to ..." (TestTranslocationEvents
    // testTranslocation4/5/7) — the by/subject cause splits into a
    // wrapping regulation as usual
    Rule("transloc_relcl_pass", 7, FixedEventK("Translocation"),
      List(ML("theme", ENT), W(","), W("a|an"),
        OptG(W("protein|kinase|enzyme|receptor|molecule")),
        W("which|that"), W("is|was|are|were"),
        T("(trans(loc|port)|releas|export|recruit)\\w*ed"),
        W("from"), OptG(W("the")),
        M("source", "Cellular_component"),
        OptG(W("to|into"), OptG(W("the")),
          M("destination", "Cellular_component")),
        OptG(W("by"), M("cause", "PossibleController")))),
    Rule("transloc_relcl_act", 7, FixedEventK("Translocation"),
      List(M("cause", "PossibleController"), W(","), W("a|an"),
        OptG(W("protein|kinase|enzyme|receptor|molecule")),
        W("which|that"),
        T("(trans(loc|port)|releas|export|recruit)\\w*(s|es)?"),
        NotNext("from|to|into"),
        ML("theme", ENT), W("from"), OptG(W("the")),
        M("source", "Cellular_component"),
        OptG(W("to|into"), OptG(W("the")),
          M("destination", "Cellular_component")))),
    // subject-source release: "... leads the plasma membrane to release p53
    // to the cytosol" (testTranslocation1)
    Rule("transloc_src_release", 7, FixedEventK("Translocation"),
      List(M("source", "Cellular_component"), W("to"),
        T("release|releases"), ML("theme", ENT), W("to|into"),
        OptG(W("the")), M("destination", "Cellular_component"))),

    // -- p8: binding ------------------------------------------------------
    // coordinated subjects each pair with the object, never with each other
    // ("Raf and PI3K bind to Ras" -> (Raf,Ras)+(PI3K,Ras) — mkBinding
    // theme1 x theme2 cross product, DarpaActions.scala:222-261 +
    // TestBindingEvents sent5); an optional (non-)participle before the
    // object is skipped by the rule and picked up as a PTM by attachMods
    // ("bind to ubiquitinated Ras")
    Rule("bind_active", 8, BindingK,
      List(ML("theme", ENT), postMods, filler, adv, T("binds?|bound|binding|interacts?|interacted|associates?|associated|complexes?|ligates?|ligated"),
        adv, OptG(W("to|with|directly")), OptG(W("to|with")),
        OptG(W(s"(non-?)?(de-?)?($stemsAlt)ed")),
        // non-entity premods before the object ("binds nucleotide-free Ras",
        // TestBindingEvents sent17)
        OptG(W("nucleotide-free|wild-type|mutant|endogenous|exogenous|recombinant|purified")),
        ML("theme2", ENT))),

    Rule("bind_nominal", 8, BindingK,
      List(T("binding|interaction|association|complex|(hetero)?dimerization"),
        W("of|between"),
        M("theme", ENT), W("to|with|and"), OptG(W("the|a|an")),
        ML("theme2", ENT))),
    // object nominal with by-agent: "K-Ras binding by p53"
    // (TestBindingEvents testBindingObjNom1)
    Rule("bind_objnominal", 8, BindingK,
      List(M("theme", ENT), T("binding"), W("by"), M("theme2", ENT))),
    // appositive relative: "K-Ras, a protein that [subsequently] binds p53"
    // / "... that is subsequently bound by p53" (testBindingSubjRel1/ObjRel1)
    Rule("bind_apposrel", 8, BindingK,
      List(M("theme", ENT), W(","), W("a|an"),
        OptG(W("protein|kinase|gene|enzyme|receptor|molecule")),
        W("that|which"), adv,
        T("binds?|interacts?|associates?"), OptG(W("to|with")),
        ML("theme2", ENT))),
    Rule("bind_apposrel_pass", 8, BindingK,
      List(M("theme", ENT), W(","), W("a|an"),
        OptG(W("protein|kinase|gene|enzyme|receptor|molecule")),
        W("that|which"), W("is|was|are|were"), adv,
        T("bound"), W("by"), ML("theme2", ENT))),
    // fused entity pairs in complex context: "the heterodimer AKT1-GSK3",
    // "That Ku70/Ku80 complex", "the RAS-ASPP interaction" (sent10/21-24 —
    // the reference's complex_entity relation rules); the pair token is
    // split by the Annotate complex-context probe
    // the chain captures 2..N hyphen/slash-separated entities into ONE
    // "theme" list \u2014 an n-mer complex token is a single Binding with one
    // theme per part (reference complex_entity rules + the Complex
    // conversion in TestOutputDegrader sent6: "The Mek-Ras-Akt1 complex"
    // has three themes)
    Rule("bind_pair_pre", 8, BindingK,
      List(W("heterodimer|dimer|complex"), OptG(W("of")), M("theme", ENT),
        W("[-/\u2013]"), ML("theme", ENT, conj = "[-/\u2013]"))),
    Rule("bind_pair_post", 8, BindingK,
      List(M("theme", ENT), W("[-/\u2013]"), ML("theme", ENT, conj = "[-/\u2013]"),
        T("complex|heterodimer|dimer|interaction"))),
    // bare prenominal binding nominal with no linked object ("as is their
    // binding" — TestCoreference sent3/sent18): a single plural generic theme
    // later expands into the binding's joint participants in the coref fold
    Rule("bind_prenominal", 8, BindingK,
      List(ML("theme", ENT), T("binding|interaction|association"),
        NotNext("of|between|to|with"))),
    // subject-coordination binding with NO object ("A and B interact", "A and
    // B form a complex") — blocked when a to/with object follows, where the
    // coordinated subjects must pair with the object instead (bind_active)
    // premod binding-activity nominal: "The ASPP2-binding activity of CREB
    // is constitutive" -> Binding{ASPP2, CREB}, no activation
    // (TestActivationEvents sent8; the fused "-binding" token splits)
    Rule("bind_activity_of", 8, BindingK,
      List(ML("theme", ENT), T("binding"), W("activity|activities"),
        W("of"), OptG(W("the")), ML("theme2", ENT))),
    // recruitment-of-X to a protein/promoter target is a Binding, never a
    // Translocation ("Recruitment of p53 to the p21 or PUMA promoter",
    // TestBindingEvents sent34 — the translocation grammar requires a
    // location argument, so an entity destination lands here)
    Rule("bind_recruit", 8, BindingK,
      List(T("recruitments?"), W("of"), M("theme", ENT), W("to"),
        OptG(W("the|a|an")), ML("theme2", ENT))),
    // coordinated subjects present/found in a complex ("XRCC1 and DNA-PK
    // are present in a complex", TestBindingEvents sent29)
    Rule("bind_present", 8, BindingK,
      List(M("theme", ENT), W("and"), M("theme2", ENT),
        W("are|were|remain|remains"), T("present|found|detected"),
        W("in"), OptG(W("a|an|the")), OptG(W("common")),
        W("complex|complexes|dimer|heterodimer"))),
    Rule("bind_coord", 8, BindingK,
      List(M("theme", ENT), W("and"), M("theme2", ENT), adv,
        T("bind|binds|interact|interacts|associate|associates|form|" +
          "coexist|coexists|co-exist|co-exists"),
        OptG(W("a|an")), OptG(W("in")), OptG(W("a|an")),
        OptG(W("common")), OptG(W("complex|complexes|dimer|heterodimer")),
        NotNext("to|with"), NotNextM(ENT))),

    // -- p10: alias -------------------------------------------------------
    // cue vocabulary mirrors the reference's five paren + three comma alias
    // templates (alias_template.yml): "[which is] [RB] referred to as /
    // known|designated [as] / called|termed|named / alias|a.k.a." — plus the
    // cue-less paren (paren1_nil). Known<->known aliases additionally require
    // the same head label (the reference never aliases two existing mentions,
    // and cross-type pairs must not merge — TestCoreference sent38/sent50)
    Rule("alias_paren", 10, AliasK,
      List(M("a", ENT), W("\\("), aliasWhichIs, aliasRb, aliasCue,
        ML("b", ENT, commaOk = true, conj = "or|/"), W("\\)"))),
    // cue-less paren, SENTENCE-START anchored exactly like the reference's
    // paren1_nil template ("^ aCapture -LRB- bCapture ... -RRB-"): the bare
    // "23peM (ASPP1)" at clause start aliases; a mid-sentence paren does not
    // (TestCoreference sent60 — the injected rescan entity makes the nonce a
    // known mention, so this rule closes the loop the cue-ful forms get via
    // alias_paren)
    Rule("alias_paren_nil", 10, AliasK,
      List(AtStart, M("a", ENT), W("\\("),
        ML("b", ENT, commaOk = true, conj = "or|/"), W("\\)"))),
    Rule("alias_comma", 10, AliasK,
      List(M("a", ENT), W(","), aliasWhichIs, aliasRb, aliasCue,
        ML("b", ENT, commaOk = true, conj = "or|/"), W("[.,:]"))),
    // unknown-surface alias targets: "Optineurin-like kinase (OLK1)",
    // "Akt1 (a.k.a. Akt334, AktTR, or Akt4H)" — raw tokens captured as a
    // series (",", "/", "or" separators — NOT "and", sent43), one entity
    // synthesized per target, conversation-wide rescan in the pipeline (J3)
    Rule("alias_unknown", 10, AliasUnknownK,
      List(M("a", ENT), W("\\("), OptG(aliasWhichIs, aliasRb, aliasCue),
        TL(nonceTok), W("\\)"))),
    // unknown on the LEFT, known inside/after (the reference's
    // Nonce-source x Equivalable-target instantiation: "BEF4H protein
    // (hereafter referred to as BEF)", "BEF4H, sometimes called BEF,")
    Rule("alias_unknown_rev", 10, AliasUnknownK,
      List(TL(nonceTok, max = 1), filler, W("\\("),
        OptG(aliasWhichIs, aliasRb, aliasCue), M("a", ENT), W("\\)"))),
    Rule("alias_unknown_rev_comma", 10, AliasUnknownK,
      List(TL(nonceTok, max = 1), filler, W(","),
        aliasWhichIs, aliasRb, aliasCue, M("a", ENT), W("[.,:]"))),
    // known on the LEFT, unknown target series in COMMA form: "Akt, previously
    // known as Akt334, AktTR, or Akt4H, is phosphorylated"
    // (TestCoreference sent44b/45a)
    Rule("alias_unknown_comma", 10, AliasUnknownK,
      List(M("a", ENT), W(","), aliasWhichIs, aliasRb, aliasCue,
        TL(nonceTok), W("[.,:]"))),
    // homolog appositions (reference: alias_template.yml:124-148 homolog/
    // homolog2, instantiated Equivalable x Equivalable — KNOWN mentions on
    // both sides, comma+AND series unlike the or-only alias lists):
    // "the Pax6 homologs eyeless and eyegone" (TestCoreference sent62a/b),
    // "Eyeless and eyegone, homologs of Pax6, ..." (sent63)
    Rule("alias_homolog", 10, AliasK,
      List(M("a", ENT), W("homologs?"),
        ML("b", ENT, commaOk = true, conj = "and|or"))),
    Rule("alias_homolog_rev", 10, AliasK,
      List(ML("b", ENT, commaOk = true, conj = "and|or"), W(","),
        OptG(W("the|a")), W("homologs?"), W("of"), M("a", ENT))),

    // -- p12: regulations over events ------------------------------------
    // active: controller TRIGGERs controlled-event
    // determiner/degree modifiers between trigger and controlled are
    // transparent ("increased both basal EGFR ... phosphorylation" — the
    // reference reaches the controlled via dobj regardless of premodifiers)
    Rule("reg_active", 12, RegulationK,
      List(M("controller", "PossibleController"), appos, X(2), auxNeg,
        // "aids in the translocation of Kras" — prep_in controlled path
        // (TestRegulationEvents sent25)
        T(regTriggersVerbal), OptG(W("in")), OptG(W("the|a|an|both")),
        OptG(W("basal|endogenous|total|overall|global|constitutive")),
        // premod participles are transparent ("the serum-stimulated
        // phosphorylation of ERK", sent27; "increased tyrosine
        // phosphorylated ERBB3 levels", sent58 — the reference's dobj path
        // from the verb reaches the nominal head regardless of premods; the
        // tokenizer splits hyphen-fused premods into two tokens)
        OptG(X(1),
          W(s"stimulated|induced|mediated|dependent|driven|$modParticiple")),
        M("controlled", "Event"))),
    // relative clause: "the phosphorylation of ERK2, which is blocked by PTEN"
    Rule("reg_relcl", 12, RegulationK,
      List(M("controlled", "Event"), W(","), W("which"), W("is|was|are|were"),
        notOpt, T(regTriggers), W("by"), M("controller", "PossibleController"))),
    // passive: controlled-event is TRIGGERed by controller
    Rule("reg_passive", 12, RegulationK,
      List(M("controlled", "Event"), X(2), W("is|are|was|were"), notOpt, adv,
        T(regTriggers), W("by"), OptG(W("the")),
        OptG(W("inhibition|knockdown|silencing|loss|depletion|suppression|blockade"), W("of")),
        M("controller", "PossibleController"))),
    // "plays no/little/a role in <event>" (reference: NegationHandler
    // bigram cases :85 + regulation role-triggers) — polarity positive,
    // negation read off the no/little token by isNegated
    Rule("reg_role", 12, RegulationK,
      List(M("controller", "PossibleController"), appos, X(2),
        W("plays?|played|playing"),
        OptG(W("a|an|no|little|key|major|critical|central|important|essential|direct|crucial")),
        T("roles?"), W("in"), OptG(W("the")), M("controlled", "Event"))),
    // by-gerund controlled: "GSK3 promotes apoptosis by phosphorylating BAD"
    // (TestRegulationEvents sent40 — the controlled is the gerund event
    // reached through prep_by in the reference's syntax paths)
    Rule("reg_bygerund", 12, RegulationK,
      List(M("controller", "PossibleController"), appos, X(2), auxNeg,
        T(regTriggersVerbal), X(3), W("by"), M("controlled", "Event"))),
    // reduced participle on a nominal event (no copula): "STAT1(Y701)
    // dephosphorylation induced by wild-type FGFR3" (TestTemplaticSimple-
    // DeEvents sent30, TestTemplaticSimpleEvents analogue) — participle-only
    // trigger forms so active clauses stay with reg_active; polarity via
    // negRegP as usual. mostComplete's regulation-over-activation preference
    // then retires the act_dep_passive reading of the same span.
    Rule("reg_reduced_pass", 12, RegulationK,
      List(M("controlled", "Event"), notOpt, adv,
        T("(induc|stimulat|trigger|mediat|caus|promot|enhanc|augment|" +
          "facilitat|accelerat|elicit|initiat|modulat|potentiat|elevat|" +
          "inhibit|block|suppress|repress|decreas|reduc|prevent|impair|" +
          "attenuat|abolish|abrogat|antagoniz|disrupt|diminish|imped)ed|" +
          "driven|up-?regulated|down-?regulated"),
        W("by"), OptG(W("the")),
        // "induced by wild-type FGFR3" (TestTemplaticSimpleEvents sent30)
        OptG(W("wild-type|wild|mutant|endogenous|exogenous|active|activated")),
        M("controller", "PossibleController"))),
    // subject-nominal: controller nn directly before a nominal reg trigger
    // governing an of-event ("rapamycin inhibition of the phosphorylation of
    // ERK" — TestRegulationEvents sent28); polarity from the trigger via
    // negRegP as usual ("inhibition" matches inhibit\w+)
    Rule("reg_subjnominal", 12, RegulationK,
      List(M("controller", "PossibleController"), T(regTriggers), W("of"),
        OptG(W("the")), M("controlled", "Event"))),
    // copular nominal triggers: "X is an activator/inhibitor of <event>"
    // (reference: TestRegulationEvents sent17/18; pos-reg/neg-reg nominal
    // trigger lists) — polarity from the trigger noun via negRegP
    Rule("reg_copular_nominal", 12, RegulationK,
      List(M("controller", "PossibleController"), W("is|are|was|were"),
        W("a|an|the"),
        OptG(W("potent|known|novel|direct|strong|major|selective|key")),
        T("activators?|inducers?|enhancers?|inhibitors?|suppressors?|repressors?"),
        W("of"), OptG(W("the")), M("controlled", "Event"))),
    // "... tyrosine phosphorylation in response to EGF treatment /
    // treatment with RAS / stimulation with either EGF or NRG" — the
    // reference's reg-only in-response-to rules (pos-reg-only_template.yml:
    // 5-15 dep rule, neg-reg-only_template.yml:5-14 token rule;
    // TestRegulationEvents sent42-44, 48-53). Positive off the "response"
    // trigger unless a negative nominal governs the controller (reg_irt_neg
    // polarity comes from the trigger via negRegP as usual)
    Rule("reg_irt", 12, RegulationK,
      List(M("controlled", "Event"), W("in"), T("response"), W("to"),
        OptG(W("treatment|stimulation"), W("with"), OptG(W("either"))),
        ML("controller", "PossibleController", conj = "or|and"),
        NotNext(negNomTrig))),
    Rule("reg_irt_neg", 12, RegulationK,
      List(M("controlled", "Event"), W("in"), W("response"), W("to"),
        ML("controller", "PossibleController"), T(negNomTrig))),
    // "The phosphorylation of AKT1 following MEK activation / following
    // inhibition of MEK / following activation by MEK" (the reg-only
    // 'following' rule family; TestRegulationEvents sent54/54b/54c) —
    // polarity from the nominal trigger
    Rule("reg_following_nn", 12, RegulationK,
      List(M("controlled", "Event"), W("following"),
        ML("controller", "PossibleController"), T(nomRegTrig))),
    Rule("reg_following_of", 12, RegulationK,
      List(M("controlled", "Event"), W("following"), T(nomRegTrig),
        W("of|by"), OptG(W("the")), ML("controller", "PossibleController"))),
    // nominal reg trigger governing an of-event with a by-controller:
    // "Up-regulation of p53 expression by active Ras expression"
    // (TestRegulationEvents sent59: 2 transcriptions + 1 pos reg, no
    // activation — the reg's span kills the dep-rule activation reading via
    // the mkActivation intersection drop)
    Rule("reg_nominal_of", 12, RegulationK,
      List(T(regTriggers), W("of"), OptG(W("the")), M("controlled", "Event"),
        W("by"), OptG(W("active|activated")),
        M("controller", "PossibleController"))),

    // -- p14: activations (controller/controlled entities) ---------------
    // coordinated controllers/controlleds each yield an activation
    // (TestActivationEvents sent2 "activates Raf and PI3K" -> 2 events); a
    // trailing "[enzymatic] activity" nominal already reads as the entity
    // (prefix matching ignores it — sent1/sent17 shapes)
    Rule("act_active", 14, ActivationK,
      List(ML("controller", "PossibleController"), appos, X(2), auxNeg,
        T(actTriggersVerbal), OptG(W("the")),
        // controlled may sit behind an activity/activation nominal:
        // "stimulates the kinase activity of DNA-PK", "inhibits activation
        // of PI3KC2Beta", "increases the inhibition of ASPP2" (the negative
        // nominal on the controlled path flips polarity via the all-args
        // semantic-negative count — TestActivationEvents sent1c/10/18)
        OptG(AltG(
          Seq(OptG(W("the")), W("activation|inhibition|suppression"), W("of"),
            OptG(W("the"))),
          Seq(W("the"), OptG(W("kinase|enzymatic|catalytic")),
            W("activity|function"), W("of"), OptG(W("the"))))),
        ML("controlled", "BioEntity"))),
    // agent nominal between controlled and controller: "mTOR activator
    // Rapamycin" (TestActivationEvents sent13) — polarity from the nominal
    Rule("act_agent_nominal", 14, ActivationK,
      List(M("controlled", "BioEntity"), T(agentNoun),
        M("controller", "PossibleController"))),
    // "X [expression] results in [subsequent] activation of Y" /
    // "... results in subsequent Y activation" (TestActivationEvents
    // sent33/41/42: the controller is the transcription EVENT when one
    // starts the span; no wrapping regulation) — polarity from the nominal
    Rule("act_results_of", 14, ActivationK,
      List(M("controller", "PossibleController"), W("result(s|ed|ing)?"),
        W("in"), OptG(W("subsequent|a|the")), T(nomRegTrig), W("of"),
        OptG(W("the")), ML("controlled", "BioEntity"),
        OptG(W("gene|genes|protein|proteins")))),
    Rule("act_results_prenom", 14, ActivationK,
      List(M("controller", "PossibleController"), W("result(s|ed|ing)?"),
        W("in"), OptG(W("subsequent|a|the")), ML("controlled", "BioEntity"),
        T(nomRegTrig))),
    // appositive copular nominal: "Rapamycin, an inhibitor of the mTOR
    // kinase," (TestActivationEvents sent14/15)
    Rule("act_appos_nominal", 14, ActivationK,
      List(M("controller", "PossibleController"), W(","), W("a|an|the"),
        OptG(W("potent|known|novel|direct|strong|major|selective|key")),
        T("activators?|inducers?|enhancers?|inhibitors?|suppressors?|repressors?"),
        W("of"), OptG(W("the")), M("controlled", "BioEntity"), filler, W(","))),
    // relative clause: "STAT3, which is activated by JAK1"
    Rule("act_relcl", 14, ActivationK,
      List(M("controlled", "BioEntity"), W(","), W("which"), W("is|was|are|were"),
        notOpt, T(actTriggers), W("by"), M("controller", "PossibleController"))),
    Rule("act_passive", 14, ActivationK,
      List(M("controlled", "BioEntity"), filler, W("is|are|was|were"), notOpt, adv,
        T(actTriggers), W("by"), M("controller", "PossibleController"))),
    // copular nominal: "X is an inhibitor of mTOR" (entity controlled)
    Rule("act_copular_nominal", 14, ActivationK,
      List(M("controller", "PossibleController"), W("is|are|was|were"),
        W("a|an|the"),
        OptG(W("potent|known|novel|direct|strong|major|selective|key")),
        T("activators?|inhibitors?|suppressors?|repressors?"),
        W("of"), OptG(W("the")), M("controlled", "BioEntity"), filler)),

    // -- p16: regulations over activations -------------------------------
    // "RAS1 activates AKT-induced apoptosis" / "expression of RARbeta2 has
    // been shown to restore retinoic acid induced apoptosis"
    // (TestRegulationEvents sent56/57): the controlled is an ActivationEvent
    // built at p14, so this runs one priority later; the same-trigger
    // activation reading is dropped by the act-vs-reg preference in
    // mostComplete. Controllers may be events ("expression of RARbeta2" —
    // Event <: PossibleController, as in the reference taxonomy).
    Rule("reg_over_act", 16, RegulationK,
      List(M("controller", "PossibleController"), appos, X(2), auxNeg,
        OptG(W("shown|demonstrated|reported|found|known|able")),
        OptG(W("to")), T(actTriggersVerbal), OptG(W("the")),
        M("controlled", "ActivationEvent")))
  )

  val priorities: List[Int] = rules.map(_.priority).distinct.sorted

  // ---- dependency-pattern rules (F8) ------------------------------------
  // Graph-pattern re-expression of the reference's *_syntax_* grammar rules
  // (biogrammar/events/simple-event_template.yml:16-52, neg-reg_template.yml,
  // bind_events.yml): a trigger token plus labeled dependency paths to each
  // argument, with the reference's /appos|nn|conj_(and|or|nor)|cc/{,2}
  // widening tail. They run alongside the surface token rules at the same
  // priorities; identical extractions dedup through content ids, and the
  // constructions token patterns cannot express (object relatives, reduced
  // participles, xcomp control, long appositives) land here.

  /** One dependency hop: follow an outgoing (`out=true`, Odin `>label`) or
    * incoming (`<label`) edge whose label matches the regex. */
  final case class Hop(re: String, out: Boolean) {
    val p: Pattern = Pattern.compile(re)
  }
  private def O(re: String) = Hop(re, out = true)
  private def I(re: String) = Hop(re, out = false)

  /** Argument spec: try each path from the trigger token, widen landings by
    * up to two outgoing hops over `expand` labels, keep mentions whose span
    * covers a landing token and whose closure carries `label`. */
  final case class DepArg(role: String, label: String,
                          paths: Seq[List[Hop]],
                          expand: String = "conj_.*|cc|appos|nn",
                          required: Boolean = true,
                          event: Boolean = false) {
    val expandP: Pattern = Pattern.compile(expand)
  }

  final case class DepRule(name: String, priority: Int, kind: Kind,
                           trigRe: String, trigVerbal: Boolean,
                           args: Seq[DepArg],
                           notOutgoing: String = "") {
    val trigP: Pattern = Pattern.compile(trigRe, Pattern.CASE_INSENSITIVE)
    // Odin `!outgoing=/re/` trigger guard (syntax_4_noun): the rule is
    // blocked when the trigger governs an edge whose label matches
    val notOutP: Option[Pattern] =
      if (notOutgoing.isEmpty) None else Some(Pattern.compile(notOutgoing))
  }

  val depRules: List[DepRule] = List(
    // verbal active (syntax_1a): cause <xcomp? nsubj; theme (dobj|xcomp)
    DepRule("mod_dep_active", 7, SimpleModK, modVerb, trigVerbal = true, Seq(
      DepArg("theme", ENT, Seq(List(O("dobj"))),
        expand = "conj_.*|cc|nn|prep_of"),
      DepArg("cause", ENT,
        Seq(List(O("nsubj")), List(I("xcomp"), O("nsubj|nsubjpass"))),
        required = false),
      DepArg("site", "Site",
        Seq(List(O("prep_at|prep_on")), List(O("dobj"), O("prep_at|prep_on"))),
        required = false))),
    // verbal passive (syntax_2a/2b): theme nsubjpass | <vmod; cause agent
    DepRule("mod_dep_passive", 7, SimpleModK, modVerb, trigVerbal = true, Seq(
      DepArg("theme", ENT, Seq(List(O("nsubjpass")), List(I("vmod"))),
        expand = "conj_.*|cc|nn|prep_of"),
      DepArg("cause", ENT, Seq(List(O("agent|prep_by"))), required = false),
      DepArg("site", "Site", Seq(List(O("prep_at|prep_on"))),
        required = false))),
    // nominal, of-theme (syntax_1a/2_noun): theme prep_of; cause prep_by
    DepRule("mod_dep_nominal", 7, SimpleModK, modNom, trigVerbal = false, Seq(
      DepArg("theme", ENT, Seq(List(O("prep_of"))),
        expand = "conj_.*|cc|nn"),
      DepArg("cause", ENT, Seq(List(O("prep_by"))), required = false),
      DepArg("site", "Site", Seq(List(O("prep_at|prep_on"))),
        required = false))),
    // nominal, nn-theme (syntax_2/4_noun): "GTP hydrolysis [by Ras]". The
    // nn slot is the CAUSE when the trigger also governs a prep_of theme
    // ("MEK1 phosphorylation of ERK2"), so this rule carries the reference's
    // `!outgoing=prep_of` trigger guard (syntax_4_noun)
    DepRule("mod_dep_nominal_nn", 7, SimpleModK, modNom, trigVerbal = false,
      Seq(
        DepArg("theme", ENT, Seq(List(O("nn"))), expand = "conj_.*|cc"),
        DepArg("cause", ENT, Seq(List(O("prep_by"))), required = false),
        DepArg("site", "Site", Seq(List(O("prep_at|prep_on"))),
          required = false)),
      notOutgoing = "prep_of"),
    // subject-nominal (syntax_1a_noun): cause via nn ONLY when the theme came
    // via prep_of — a separate rule because an unconditional nn cause path
    // would grab the nn THEME of "GTP hydrolysis increased" and the
    // cause≠theme guard in assemble would then drop the event
    DepRule("mod_dep_subjnom", 7, SimpleModK, modNom, trigVerbal = false, Seq(
      DepArg("theme", ENT, Seq(List(O("prep_of"))),
        expand = "conj_.*|cc|nn"),
      DepArg("cause", ENT, Seq(List(O("nn"))), required = false))),
    // binding (bind_events.yml syntax rules); theme1 via nsubj and the
    // raising path <xcomp nsubj(pass) ("STAT3 is known to interact with...")
    DepRule("bind_dep", 8, BindingK,
      "binds?|bound|binding|interacts?|interacted|associates?|associated|complexes?|ligates?|ligated",
      trigVerbal = true, Seq(
        DepArg("theme", ENT, Seq(List(O("nsubj")), List(I("vmod")),
          List(I("xcomp"), O("nsubj|nsubjpass")))),
        DepArg("theme2", ENT,
          Seq(List(O("dobj")), List(O("prep_with|prep_to")))))),
    // by-gerund binding: "Ras induces multiple signaling pathways by
    // binding to its numerous effectors such as Raf and PI3K"
    // (TestBindingEvents sent12): theme1 = the matrix verb's subject
    // through the prepc_by edge; theme2 via prep_to/with (+ such-as)
    DepRule("bind_dep_bygerund", 8, BindingK,
      "binding|interacting|associating", trigVerbal = true, Seq(
        // conj/cc-only widening: an nn premod of the subject ("GTP loaded
        // Ras") is not a binding participant (sent12 asserts exactly 2)
        DepArg("theme", ENT, Seq(List(I("prep_by|prep_via"), O("nsubj"))),
          expand = "conj_.*|cc"),
        DepArg("theme2", ENT,
          Seq(List(O("prep_to|prep_with|prep_as")),
            List(O("prep_to"), O("prep_as"))),
          expand = "conj_.*|cc"))),
    // binding passive ("ERK2 is bound by STAT3")
    DepRule("bind_dep_passive", 8, BindingK,
      "bound|binding", trigVerbal = true, Seq(
        DepArg("theme", ENT, Seq(List(O("nsubjpass")))),
        DepArg("theme2", ENT, Seq(List(O("agent|prep_by")))))),
    // regulations over events (neg-reg/pos-reg templates)
    DepRule("reg_dep_active", 12, RegulationK, regTriggers,
      trigVerbal = true, Seq(
        DepArg("controlled", "Event", Seq(List(O("dobj")), List(O("xcomp"))),
          expand = "conj_.*|cc", event = true),
        DepArg("controller", "PossibleController",
          Seq(List(O("nsubj")), List(I("xcomp"), O("nsubj|nsubjpass")))))),
    DepRule("reg_dep_passive", 12, RegulationK, regTriggers,
      trigVerbal = true, Seq(
        DepArg("controlled", "Event", Seq(List(O("nsubjpass"))),
          expand = "conj_.*|cc", event = true),
        DepArg("controller", "PossibleController",
          Seq(List(O("agent|prep_by")))))),
    DepRule("reg_dep_nominal", 12, RegulationK, regTriggers,
      trigVerbal = false, Seq(
        DepArg("controlled", "Event", Seq(List(O("prep_of"))),
          expand = "conj_.*|cc", event = true),
        DepArg("controller", "PossibleController",
          Seq(List(O("prep_by")), List(O("nn")))))),
    // activations (controlled is an entity)
    DepRule("act_dep_active", 14, ActivationK, actTriggers,
      trigVerbal = true, Seq(
        DepArg("controlled", ENT, Seq(List(O("dobj")))),
        DepArg("controller", "PossibleController",
          Seq(List(O("nsubj")), List(I("xcomp"), O("nsubj|nsubjpass")))))),
    DepRule("act_dep_passive", 14, ActivationK, actTriggers,
      trigVerbal = true, Seq(
        DepArg("controlled", ENT, Seq(List(O("nsubjpass")), List(I("vmod")))),
        DepArg("controller", "PossibleController",
          Seq(List(O("agent|prep_by")))))),
    DepRule("act_dep_nominal", 14, ActivationK, actTriggers,
      trigVerbal = false, Seq(
        DepArg("controlled", ENT, Seq(List(O("prep_of")))),
        DepArg("controller", "PossibleController",
          Seq(List(O("prep_by")), List(O("nn")))))))

  /** The built-in grammar (every rule above). */
  val default: Grammar = Grammar(rules, depRules)

  private def follow(deps: DepGraph, from: Int, path: List[Hop]): List[Int] =
    path.foldLeft(List(from)) { (acc, hop) =>
      acc.flatMap { i =>
        val es = if (hop.out) deps.outgoing(i) else deps.incoming(i)
        es.collect { case (j, l) if hop.p.matcher(l).matches() => j }
      }.distinct
    }

  private def expandTokens(deps: DepGraph, seeds: List[Int],
                           re: Pattern): List[Int] = {
    var all = seeds
    var cur = seeds
    var d = 0
    while (d < 2 && cur.nonEmpty) {
      // appositives license identity in BOTH directions (the appos child
      // stands for its head): "Ras, an XXX that phosphorylates ASPP2" —
      // nsubj lands on "XXX", incoming appos recovers Ras (same convention
      // as the subject-consistency guard)
      val nxt = cur.flatMap(i => deps.outgoing(i).collect {
        case (j, l) if re.matcher(l).matches() => j
      } ++ deps.incoming(i).collect {
        case (j, l) if l == "appos" && re.matcher(l).matches() => j
      }).distinct.filterNot(all.contains)
      all = all ++ nxt
      cur = nxt
      d += 1
    }
    all
  }

  /** Mention covering `tok` with `label` in its closure: longest for
    * entities (NER longest-match convention), innermost for events (the
    * base event, not an enclosing regulation). Deterministic tiebreaks.
    */
  private def mentionAt(state: State, tok: Int, label: String,
                        event: Boolean): Seq[MentionRow] = {
    val all = state.all.filter(m => m.is_event == event &&
      m.start_tok <= tok && tok < m.end_tok && m.labels.contains(label))
    if (all.isEmpty) Nil
    else {
      // winning span (tightest for events, widest for entities) — ALL
      // mentions sharing it bind, one dep-rule match per variant
      // (multi-site unpacked events, multi-Mutant split entities)
      val w =
        if (event)
          all.minBy(m => (m.end_tok - m.start_tok, m.start_tok, m.mention_id))
        else
          all.maxBy(m => (m.end_tok - m.start_tok, -m.start_tok, m.mention_id))
      all.filter(m => m.start_tok == w.start_tok && m.end_tok == w.end_tok &&
        m.labels.head == w.labels.head).toSeq
    }
  }

  /** A PTM participle adjacent to an entity was consumed by attachMods as a
    * modification ("phosphorylated ERK2", "AKT1 phosphorylated at Ser473") —
    * the reference creates a PTM mod and scrubs the ModificationTrigger
    * (RuleReader modifications + DarpaActions.mkBioMention), so it must not
    * also act as an event predicate for the dependency rules. */
  private def consumedAsMod(state: State, words: Array[String],
                            t: Int): Boolean =
    ptmParticipleP.matcher(words(t)).matches() && (
      state.all.exists(m => !m.is_event && m.start_tok == t + 1 &&
        m.labels.contains("BioChemicalEntity")) ||
      (t + 2 < words.length &&
       (words(t + 1) == "at" || words(t + 1) == "on") &&
       state.all.exists(m => !m.is_event && m.end_tok == t &&
         m.labels.contains("BioChemicalEntity")) &&
       state.all.exists(m => !m.is_event && m.start_tok == t + 2 &&
         m.labels.head == "Site")))

  private def runDepRules(g: Grammar, prio: Int, conv: String, turn: Int,
                          sent: Sent, deps: DepGraph, state: State): Unit = {
    val rs = g.depRulesByPriority(prio)
    if (rs.isEmpty) return
    val words = sent.words
    val newMentions = mutable.ArrayBuffer.empty[MentionRow]
    rs.foreach { rule =>
      var t = 0
      while (t < words.length) {
        val tagOk =
          if (rule.trigVerbal) deps.tags(t).startsWith("V")
          else deps.tags(t) == "NN"
        // a trigger token inside an existing non-event mention is part of an
        // entity (fused PTM token, alias surface), not a predicate
        if (tagOk && rule.trigP.matcher(words(t)).matches() &&
            !state.all.exists(m => !m.is_event &&
              m.start_tok <= t && t < m.end_tok) &&
            !consumedAsMod(state, words, t) &&
            rule.notOutP.forall(p =>
              !deps.outgoing(t).exists { case (_, l) => p.matcher(l).matches() })) {
          var ok = true
          var bind = emptyBind.withTrigger(t, t + 1)
          rule.args.foreach { a =>
            if (ok) {
              val seeds = a.paths.flatMap(p => follow(deps, t, p))
                .distinct.toList
              val toks = expandTokens(deps, seeds, a.expandP)
              val ms = toks.flatMap(tok =>
                mentionAt(state, tok, a.label, a.event))
                .distinctBy(_.mention_id)
              if (ms.isEmpty) { if (a.required) ok = false }
              else ms.foreach(m => bind = bind.add(a.role, m))
            }
          }
          if (ok)
            newMentions ++= assemble(Rule(rule.name, prio, rule.kind, Nil),
              bind, conv, turn, sent, t, t + 1, state, deps, fromDep = true)
        }
        t += 1
      }
    }
    newMentions.foreach(state.add)
  }

  // ---- sentence-level extraction driver ---------------------------------

  /** Decode NER IOB into TextBound mentions (reference analogue:
    * mkNERMentions, DarpaActions.scala:45-52 + entities.yml ner rules).
    */
  private def decodeIob(conv: String, turn: Int, sent: Sent): Seq[MentionRow] = {
    val out = mutable.ArrayBuffer.empty[MentionRow]
    var i = 0
    val n = sent.ner.length
    while (i < n) {
      if (sent.ner(i).startsWith("B-")) {
        var label = sent.ner(i).substring(2)
        var j = i + 1
        while (j < n && sent.ner(j) == "I-" + label) j += 1
        val next = if (j < n) sent.words(j).toLowerCase else ""
        // substrate constraint (TestEntities sent6, the reference's NER
        // stop-list lookahead): "The K-Ras substrate" is not an entity
        if (next == "substrate" || next == "substrates") { i = j }
        // drug reading absorbs the target (TestEntities sent9a-c; the
        // reference disabled its inhibitor agent-nominal rule for this):
        // "Ras inhibitor was added" -> one Simple_chemical
        else if (next == "inhibitor" || next == "inhibitors") {
          val text = sent.words.slice(i, j + 1).mkString(" ")
          out += MentionRow(
            mentionId(conv, turn, sent.sent_idx, i, j + 1, "Simple_chemical",
              "", Nil, false, false),
            conv, turn, sent.sent_idx, i, j + 1,
            Lexicon.labelClosure("Simple_chemical"), text, "ner", false, "",
            Arg.none, false, false)
          i = j + 1
        } else {
          // family lookahead (TestEntities mekText/mekText2): "the MEK
          // [protein] family" relabels the GGP as Family
          if (label == "Gene_or_gene_product" &&
              (next == "family" || (next == "protein" && j + 1 < n &&
                sent.words(j + 1).equalsIgnoreCase("family"))))
            label = "Family"
          val text = sent.words.slice(i, j).mkString(" ")
          val labels = Lexicon.labelClosure(label)
          out += MentionRow(
            mentionId(conv, turn, sent.sent_idx, i, j, label, "", Nil, false, false),
            conv, turn, sent.sent_idx, i, j, labels, text, "ner", false, "",
            Arg.none, false, false)
          i = j
        }
      } else i += 1
    }
    out.toSeq
  }

  private def span(b: Bind): (Int, Int) = {
    val all = b.caps.values.flatten.toList
    val starts = b.trigger._1 :: all.map(_.start_tok)
    val ends = b.trigger._2 :: all.map(_.end_tok)
    (starts.filter(_ >= 0).min, ends.max)
  }

  private def countIn(p: Pattern, words: Array[String], s: Int, e: Int): Int = {
    var c = 0
    var i = math.max(0, s)
    val lim = math.min(words.length, e)
    while (i < lim) { if (p.matcher(words(i)).matches()) c += 1; i += 1 }
    c
  }

  /** Negation evidence must lie INSIDE the event's token interval, outside
    * the trigger span (reference: NegationHandler.detectNegations:48-75 scans
    * `event.tokenInterval zip event.lemmas` split around the trigger), with
    * parity over the count (handleNegations:115-137 — even cancels, odd
    * keeps one). Consequence pinned by NegationTests sen1-4: in "RAS does
    * not phosphorylate MEK" only the Positive_regulation (whose span covers
    * "not") is negated — the inner Phosphorylation, whose span starts at the
    * trigger, is NOT.
    */
  private def isNegated(words: Array[String], s: Int, e: Int,
                        trig: (Int, Int)): Boolean = {
    val left = countIn(negationP, words, s, math.max(s, trig._1))
    val right = countIn(negationP, words, math.min(e, math.max(s, trig._2)), e)
    (left + right) % 2 == 1
  }

  /** Faithful hypothesis detection (HypothesisHandler.scala:47-110): a hint
    * lemma within the degree-2 dependency neighborhood of the event span
    * marks the event. Note this is deliberately blunt, exactly as the
    * reference is — a hint one conj_and hop away in a coordinated clause
    * marks BOTH clauses' events.
    */
  private def isHypothesisDep(words: Array[String], deps: DepGraph,
                              s: Int, e: Int): Boolean =
    deps.neighborhood(s until e, 2)
      .exists(i => hypothesisP.matcher(words(i)).matches())

  /** bioprocessValid (reference: DarpaActions.scala:535-542): a BioProcess
    * can only control another BioProcess — "Apoptosis promotes the
    * phosphorylation of p53" yields NO regulation (TestRegulationEvents
    * sent55), while bioprocess-on-bioprocess control is kept.
    */
  private def bioprocessOk(ctl: MentionRow, cld: MentionRow): Boolean =
    ctl.labels.head != "BioProcess" || cld.labels.head == "BioProcess"

  /** Semantic-negative flip count, scoped to the dependency structure exactly
    * as the reference does (DarpaActions.countSemanticNegatives:452-484 +
    * addAdjectivalModifiers/nounModifiers/ofModifiers:492-520): tokens on the
    * shortest path trigger<->controller-head, plus premodifier children of
    * path tokens (reference MODIFIER_LABELS = amod; our POS-lite parser
    * renders adjectival premodifiers like "Dominant negative ASPP2" as nn
    * children, so both labels are modifier children here), plus nn/prep_of
    * GOVERNORS of the controller's own tokens ("Stat3 siRNA", "knockdown of
    * Stat3"). A linear window is wrong here — "phosphorylation of X by MEK1
    * is inhibited by ..." must not flip the inner regulation on the matrix
    * verb (TestRegulationEvents sent47).
    */
  private def semNegTokens(words: Array[String], deps: DepGraph,
                           arg: MentionRow, trigPos: Int): Seq[Int] = {
    val argHead = deps.headOfSpan(arg.start_tok, arg.end_tok)
    val path = deps.shortestPath(trigPos, argHead).getOrElse(Nil)
    val withMods = path.flatMap(t =>
      t :: deps.outgoing(t).collect { case (j, "amod" | "nn") => j })
    val argMods = (arg.start_tok until arg.end_tok).flatMap(t =>
      t +: deps.incoming(t).collect {
        case (j, l) if l == "nn" || l == "prep_of" => j
      })
    (withMods ++ argMods).distinct
      .filter(t => t != trigPos && semNegP.matcher(words(t)).matches())
  }

  private def semNegFlips(words: Array[String], deps: DepGraph,
                          ctl: MentionRow, trigPos: Int): Int =
    semNegTokens(words, deps, ctl, trigPos).size

  /** All-arguments flip count (reference switchLabel counts DISTINCT
    * negative token indexes across every argument's path,
    * DarpaActions.scala:425-447): "The suppression of ASPP1 increases the
    * inhibition of ASPP2" composes both nominals into a positive.
    */
  private def semNegFlipsAll(words: Array[String], deps: DepGraph,
                             args: Seq[MentionRow], trigPos: Int): Int =
    args.flatMap(a => semNegTokens(words, deps, a, trigPos)).distinct.size

  /** Intra-sentential precedence connectives scanned in a short window
    * before the trigger — the surface form of intrasentential.yml's
    * event-pair rules (assembly-prep-* / assembly-verb-* / assembly-surface-*
    * families; Sieves.intrasententialRBPrecedence:58-84). The marked event is
    * the textually LATER one; multi-word connectives are canonicalized with
    * underscores. Direction is decided in Precedence (intraSwapCues).
    */
  private val intraSingleCues = Set("before", "after", "following",
    "follows", "followed", "precedes", "precede", "preceded", "precipitates",
    "thereby", "subsequently", "then")

  private def intraCueAt(words: Array[String], ts: Int): String = {
    var i = ts - 1
    val lo = math.max(0, ts - 4)
    while (i >= lo) {
      val w = words(i).toLowerCase
      val prev = if (i > 0) words(i - 1).toLowerCase else ""
      val next = if (i + 1 < words.length) words(i + 1).toLowerCase else ""
      val cue =
        if (w == "prior" && next == "to") "before"
        else if (w == "due" && next == "to") "due_to"
        else if (w == "because" && next == "of") "because_of"
        else if (w == "response" && prev == "in" && next == "to")
          "in_response_to"
        else if (w == "dependent" && next == "on") "dependent_on"
        else if (w == "result" && next == "of") "result_of"
        else if (w == "results" && next == "from") "results_from"
        else if ((w == "results" || w == "resulting") && next == "in")
          "results_in"
        else if (intraSingleCues(w)) w
        else ""
      if (cue.nonEmpty) return cue
      i -= 1
    }
    ""
  }

  /** Trigger tense+aspect from auxiliaries + morphology (surface stand-in for
    * the reference's tense_aspect.yml tagger rules, Sieves.scala:93-240):
    * "had phosphorylated" -> past|perf, "has phosphorylated" -> present|perf,
    * "will phosphorylate" -> future, "was/were V-ed" and bare V-ed -> past,
    * "is/are V-ed" and V-s -> present.
    */
  private def tenseAt(words: Array[String], ts: Int): String = {
    val t = words(ts).toLowerCase
    // scan the auxiliary chain leftward, skipping adverbs/negation/"be(en)"
    // ("will be ubiquitinated", "is first phosphorylated", "had not been
    // phosphorylated") — the reference's TAM rules reach the finite aux
    // through the dependency arcs, so intervening adverbs are transparent
    var will = false; var have = false; var had = false
    var was = false; var pres = false
    var i = ts - 1
    var steps = 0
    var stop = false
    while (!stop && i >= 0 && steps < 5) {
      words(i).toLowerCase match {
        case "will" | "shall" => will = true
        case "has" | "have" => have = true
        case "had" => had = true
        case "was" | "were" => was = true
        case "is" | "are" | "am" | "being" => pres = true
        case "be" | "been" | "not" | "n't" | "first" | "only" | "also" |
             "then" | "now" | "already" | "yet" => ()
        case w if w.endsWith("ly") => ()
        case _ => stop = true
      }
      i -= 1; steps += 1
    }
    if (will) { if (have || had) "future|perf" else "future" }
    else if (had) "past|perf"
    else if (have) "present|perf"
    else if (was) "past"
    else if (pres) "present"
    else if (t.endsWith("ed")) "past"
    else if (t.endsWith("s")) "present"
    else ""
  }

  private def mkEvent(conv: String, turn: Int, sentIdx: Int,
                      words: Array[String], deps: DepGraph, label: String,
                      trig: (Int, Int),
                      args: Seq[(String, MentionRow)],
                      foundBy: String): MentionRow = {
    val starts = trig._1 +: args.map(_._2.start_tok)
    val ends = trig._2 +: args.map(_._2.end_tok)
    val (s, e) = (starts.filter(_ >= 0).min, ends.max)
    val hyp = trig._1 >= 0 && isHypothesisDep(words, deps, s, e)
    val neg = isNegated(words, s, e, trig)
    val argRefs = args.map { case (r, m) => Arg(r, m.mention_id) }
    val trigText = if (trig._1 >= 0) words.slice(trig._1, trig._2).mkString(" ") else ""
    MentionRow(
      mentionId(conv, turn, sentIdx, s, e, label, trigText, argRefs, neg, hyp),
      conv, turn, sentIdx, s, e, Lexicon.labelClosure(label),
      words.slice(s, e).mkString(" "), foundBy, true, trigText,
      argRefs.toArray, neg, hyp, trig._1, trig._2, Mod.none,
      interCueAt(words, deps, s, trig._1),
      if (trig._1 >= 0) intraCueAt(words, trig._1) else "",
      if (trig._1 >= 0) tenseAt(words, trig._1) else "")
  }

  /** Sentence-initial discourse cues for the inter-sentential precedence
    * sieve, with direction (reference: intersentential.yml inter-after1 /
    * inter-before1): an "after" cue marks its event as happening AFTER the
    * previous sentence's events; a "before" cue the converse. The cue must
    * be sentence-initial and the event must start immediately after it
    * (optional comma), exactly like the grammar's `^ cue ","? @event`.
    */
  private val afterCues: Seq[Seq[String]] = Seq(
    Seq("as", "a", "downstream", "effect"), Seq("as", "a", "result"),
    Seq("as", "a", "consequence"), Seq("following", "this"),
    Seq("following", "that"), Seq("in", "response"), Seq("later"),
    Seq("ultimately"), Seq("then"), Seq("afterwards"), Seq("subsequently"),
    Seq("consequently"), Seq("eventually"),
    // r2 extension kept: consequence adverbs beyond the yml inventory
    Seq("therefore"), Seq("thus"), Seq("hence"))
  private val beforeCues: Seq[Seq[String]] = Seq(
    Seq("prior", "to", "this"), Seq("prior", "to", "that"),
    Seq("before", "this"), Seq("for", "this"), Seq("previously"),
    Seq("beforehand"))
  /** Timex adverbs that mark a sentence-initial event as "after" through an
    * advmod on its trigger (intersentential.yml inter-after2 / timex-after1:
    * "ERK2 is then phosphorylated."). */
  private val timexAfter = Set("then", "next", "later", "subsequently",
    "consequently", "ultimately", "finally")

  // fast path: first words of any cue — one probe rejects almost every
  // sentence before the 22-cue prefix scan (this runs per event in the
  // extraction hot loop)
  private val cueFirstWords: Set[String] =
    (afterCues ++ beforeCues).map(_.head).toSet

  def interCueAt(words: Array[String], deps: DepGraph,
                 evStart: Int, trig: Int): String = {
    if (words.isEmpty) return ""
    val w0 = words(0).toLowerCase
    if (!cueFirstWords(w0) && evStart != 0) return ""
    def matchAt(c: Seq[String]): Boolean =
      c.length <= words.length && c.head == w0 &&
        (1 until c.length).forall(k => words(k).toLowerCase == c(k))
    def gate(len: Int): Boolean = {
      val off = if (len < words.length && words(len) == ",") len + 1 else len
      evStart == off
    }
    afterCues.find(c => matchAt(c) && gate(c.length)) match {
      case Some(c) => "after:" + c.mkString(" ")
      case None => beforeCues.find(c => matchAt(c) && gate(c.length)) match {
        case Some(c) => "before:" + c.mkString(" ")
        case None =>
          // inter-after2: sentence-initial event with a timex advmod
          if (evStart == 0 && trig >= 0 && trig < deps.n &&
              deps.outgoing(trig).exists { case (j, l) =>
                l == "advmod" && timexAfter(words(j).toLowerCase) })
            "after:" + deps.outgoing(trig).collectFirst {
              case (j, "advmod") if timexAfter(words(j).toLowerCase) =>
                words(j).toLowerCase
            }.get
          else ""
      }
    }
  }

  /** Assemble mentions from one rule match. Returns the new mentions
    * (events may come with a split regulation — splitSimpleEvents,
    * DarpaActions.scala:306-340).
    */
  private def assemble(rule: Rule, b: Bind, conv: String, turn: Int,
                       sent: Sent, startPos: Int, endPos: Int,
                       state: State, deps: DepGraph,
                       fromDep: Boolean = false): Seq[MentionRow] = {
    val words = sent.words
    def trigWord: String =
      if (b.trigger._1 >= 0) words(b.trigger._1) else ""

    // Reduced-participle subject guard (faithful to the reference's
    // syntax-rule subjects — bind_events.yml:10-20 takes theme1 via nsubj,
    // the reg/act templates take controller via nsubj): an argument that
    // precedes the trigger but is parsed as the agent of a DIFFERENT verb
    // ("ERK2 phosphorylated by MEK1 binds STAT3" — MEK1) is that
    // participle's by-phrase, not this trigger's subject, so the linear
    // surface match must not promote it to cause/controller/binding theme.
    def agentOfOther(m: MentionRow): Boolean =
      !fromDep && b.trigger._1 >= 0 && m.end_tok <= b.trigger._1 &&
        (m.start_tok until m.end_tok).exists(i =>
          deps.incoming(i).exists { case (g, l) =>
            l == "agent" && (g < b.trigger._1 || g >= b.trigger._2) })

    // Subject-consistency guard (same faithfulness argument): when the parse
    // identifies this trigger's subject (nsubj/nsubjpass), a pre-trigger
    // argument must overlap it — widened over /conj_.*|appos|nn/{,2} exactly
    // as the reference's subject paths do. With no parsed subject the linear
    // surface reading stands. ("AKT1 bound to GSK3 is phosphorylated by
    // MEK1": nsubjpass = AKT1, so GSK3 cannot be the passive theme.)
    // Parenthetical-island guard (parse faithfulness): a parenthetical is an
    // appositive island — its members attach to the head BEFORE the paren
    // (alias/appos templates capture them) and are never the nsubj of a verb
    // OUTSIDE the paren. A pre-trigger capture at strictly greater paren
    // depth than the trigger is that island's material, not this trigger's
    // subject/theme ("ASPP1 (better known as ASPP2) binds MEK1" must not
    // also yield ASPP2&MEK1 — TestCoreference sent58 shape).
    lazy val pdepth: Array[Int] = {
      val d = new Array[Int](words.length)
      var i = 0; var cur = 0
      while (i < words.length) {
        d(i) = cur
        if (words(i) == "(") cur += 1
        else if (words(i) == ")") cur = math.max(0, cur - 1)
        i += 1
      }
      d
    }
    def subjConsistent(m: MentionRow): Boolean = {
      // dependency rules bind arguments over labeled paths (object
      // relatives legitimately place a non-subject theme pre-trigger);
      // the guard is for LINEAR surface matches only
      if (fromDep || b.trigger._1 < 0 || m.end_tok > b.trigger._1) true
      else if (pdepth(m.start_tok) > pdepth(b.trigger._1)) false
      else {
        val subj = (b.trigger._1 until b.trigger._2).flatMap(t =>
          deps.outgoing(t).collect { case (j, l)
            if l == "nsubj" || l == "nsubjpass" => j })
        if (subj.isEmpty) true
        else {
          var all = subj.toList; var cur = all; var d = 0
          while (d < 2 && cur.nonEmpty) {
            // prep_of included: a nominalized subject's participant is its
            // of-phrase ("the inhibition of PTEN increases ..." — the parsed
            // nsubj is "inhibition"; the reference reaches PTEN through the
            // event-to-entity controller conversion, DarpaActions
            // convertEventRolesToEntityRoles, and flips polarity via the
            // semantic negatives on that path)
            val nxt = cur.flatMap(i => (deps.outgoing(i) ++
              // appositives license identity in BOTH directions: the
              // appos child ("a protein") stands for its head ("K-Ras")
              deps.incoming(i).filter(_._2 == "appos")).collect {
              case (j, l) if l.startsWith("conj") || l == "appos" ||
                l == "nn" || l == "prep_of" => j
            }).distinct.filterNot(all.contains)
            all = all ++ nxt; cur = nxt; d += 1
          }
          all.exists(t => m.start_tok <= t && t < m.end_tok)
        }
      }
    }
    def surfaceSubjOk(m: MentionRow): Boolean =
      !agentOfOther(m) && subjConsistent(m)

    // nearest-trigger guard for controllers: a pre-trigger controller whose
    // X-skipped span contains ANOTHER reg/act trigger belongs to that nearer
    // trigger, not this one ("KRAS activates AKT-induced apoptosis" — KRAS
    // controls "activates", never "induced"; the reference's dep paths
    // enforce this naturally)
    def nearerTriggerBetween(ctl: MentionRow): Boolean =
      !fromDep && b.trigger._1 >= 0 && ctl.end_tok < b.trigger._1 &&
        (ctl.end_tok until b.trigger._1).exists(i =>
          // only VERBAL competitors claim the controller — a nominal like
          // "AKT1 knockdown impaired ..." modifies the controller instead
          deps.isVerb(i) && actTrigP.matcher(words(i)).matches())

    rule.kind match {
      case EntityK(label) =>
        // NER-overlap anti-join (P3 — mkNERMentions semantics,
        // DarpaActions.scala:45-52): a rule entity overlapping an existing
        // mention is a fragment of it ("D1" inside "cyclin D1"), not a new
        // entity. Figure/table references are never sites ("See Figure S31
        // and Table R15" — TestEntities sent5).
        if (state.all.exists(m =>
            !(m.end_tok <= startPos || m.start_tok >= endPos)) ||
            (label == "Site" && startPos > 0 &&
              figTableP.matcher(words(startPos - 1)).matches())) Nil
        else {
          val text = words.slice(startPos, endPos).mkString(" ")
          Seq(MentionRow(
            mentionId(conv, turn, sent.sent_idx, startPos, endPos, label, "", Nil, false, false),
            conv, turn, sent.sent_idx, startPos, endPos,
            Lexicon.labelClosure(label), text, rule.name, false, "",
            Arg.none, false, false))
        }

      case GenericMutantK =>
        // "the [K341L] mutant(s)": a Generic_entity carrying a Mutant mod —
        // specific when a code was captured, generic otherwise. When the next
        // token is itself an entity ("this mutant ASPP1"), the entity carries
        // the generic-mutation reading through attachMods instead
        // (reference: mutantProteinMatch anaphor shapes, DarpaLinks.scala:77-110)
        if (state.all.exists(m =>
              !(m.end_tok <= startPos || m.start_tok >= endPos)) ||
            state.at(endPos, "BioChemicalEntity").nonEmpty) Nil
        else {
          val mod =
            if (b.trigger._1 >= 0) Mod("Mutant", "", words(b.trigger._1), 0L)
            else Mod("Mutant", "", "", 0L)
          val mods = Array(mod)
          val text = words.slice(startPos, endPos).mkString(" ")
          Seq(MentionRow(
            mentionId(conv, turn, sent.sent_idx, startPos, endPos,
              "Generic_entity", "", Nil, false, false, mods.toSeq),
            conv, turn, sent.sent_idx, startPos, endPos,
            Lexicon.labelClosure("Generic_entity"), text, rule.name, false, "",
            Arg.none, false, false, -1, -1, mods))
        }

      case GenericEventK =>
        // "this phosphorylation": text-bound Generic_event anaphor; skipped
        // when followed by "of" (that shape is a real nominal event handled
        // by mod_nominal) or when overlapping an existing mention. The base
        // event label rides in trigger_text for the fold's simpleEventMatch.
        if ((endPos < words.length && words(endPos).equalsIgnoreCase("of")) ||
            state.all.exists(m =>
              !(m.end_tok <= startPos || m.start_tok >= endPos))) Nil
        else {
          val label = modLabel(trigWord)
          val text = words.slice(startPos, endPos).mkString(" ")
          Seq(MentionRow(
            mentionId(conv, turn, sent.sent_idx, startPos, endPos,
              "Generic_event", label, Nil, false, false),
            conv, turn, sent.sent_idx, startPos, endPos,
            Lexicon.labelClosure("Generic_event"), text, rule.name, false,
            label, Arg.none, false, false))
        }

      case AutoModK =>
        // auto-modification: theme is also the controller
        // (TestTemplaticAutoEvents; label Auto<Base>)
        val label = "Auto" + modLabel(
          trigWord.toLowerCase.replaceFirst("^auto-?", ""))
        val themes = b.caps.getOrElse("theme", Nil)
        val sites = b.caps.getOrElse("site", Nil)
        val siteOpts: Seq[Option[MentionRow]] =
          if (sites.isEmpty) Seq(None) else sites.map(Some(_))
        for {
          theme <- themes
          siteOpt <- siteOpts
          m <- {
            val ev = mkEvent(conv, turn, sent.sent_idx, words, deps, label,
              b.trigger, Seq("theme" -> theme) ++ siteOpt.map("site" -> _),
              rule.name)
            val reg = mkEvent(conv, turn, sent.sent_idx, words, deps,
              "Positive_regulation", b.trigger,
              Seq("controller" -> theme, "controlled" -> ev),
              rule.name + "_split")
            Seq(ev, reg)
          }
        } yield m

      case AliasK =>
        // same-head-label guard: the reference only aliases an existing
        // mention with an UNKNOWN surface, so a known<->known alias is our
        // extension and must never merge across types ("Akt (referred to as
        // diacylglycerol)" — TestCoreference sent50)
        (b.caps.get("a"), b.caps.get("b")) match {
          case (Some(a :: _), Some(bs)) =>
            bs.filter(bb => a.text != bb.text &&
                a.labels.head == bb.labels.head)
              .map(bb => mkEvent(conv, turn, sent.sent_idx, words, deps,
                "Alias", (-1, -1), Seq("a" -> a, "b" -> bb), rule.name))
          case _ => Nil
        }

      case AliasUnknownK =>
        // the trigger span is a SERIES of raw alias-target tokens (TL). Each
        // target that is NOT already an entity (else alias_paren covers it —
        // the NER-overlap anti-join shape P3; Sites are Entity too, so
        // "(referred to as S135)" never aliases, sent38/sent51) yields one
        // synthesized entity + one alias edge.
        b.caps.get("a") match {
          case Some(a :: _) if b.trigger._1 >= 0 =>
            val label = a.labels.head
            (b.trigger._1 until b.trigger._2).iterator.filter { i =>
              val w = words(i)
              w != "," && w != "/" && !w.equalsIgnoreCase("or") &&
                state.at(i, "Entity").isEmpty && !w.equalsIgnoreCase(a.text) &&
                // mutation / residue codes in parens are modifications, not
                // alias targets ("ERK2(K156M/H204M)", TestModifications
                // sent15/16)
                !mutantTokP.matcher(w).matches()
            }.flatMap { i =>
              val bm = MentionRow(
                mentionId(conv, turn, sent.sent_idx, i, i + 1, label, "", Nil,
                  false, false),
                conv, turn, sent.sent_idx, i, i + 1, Lexicon.labelClosure(label),
                words(i), "alias_unknown_b", false, "",
                Arg.none, false, false)
              Seq(bm, mkEvent(conv, turn, sent.sent_idx, words, deps, "Alias",
                (-1, -1), Seq("a" -> a, "b" -> bm), rule.name))
            }.toSeq
          case _ => Nil
        }

      case SimpleModK =>
        val label = modLabel(trigWord)
        // mkUbiquitination guard: drop ubiq whose theme/cause is "ubiquitin"
        // (reference: DarpaActions.scala:128-137)
        val themes = b.caps.getOrElse("theme", Nil).filter(subjConsistent)
        val causes = b.caps.getOrElse("cause", Nil).filter(surfaceSubjOk)
        // explicit site captures, else EventSite mods sniffed off the theme
        // (siteSniffer promotion, DarpaActions.scala:266-297: one event per
        // distinct site — splitting matches the reference exactly)
        val sitesCaptured = b.caps.getOrElse("site", Nil)
        val sites =
          if (sitesCaptured.nonEmpty) sitesCaptured
          else themes.flatMap(_.mods.toSeq).filter(_.kind == "EventSite")
            .flatMap(m => state.byId(m.site_id)).distinct
        // keepIfValidArgs/proteinBetween guard, faithful dependency form
        // (DarpaActions.validArguments/proteinBetween:601-658): a chemical
        // theme is spurious when a Gene_or_gene_product lies on the
        // undirected dependency path between trigger and theme — unless the
        // path crosses two consecutive prep edges (the reference's escape
        // for prepositional-attachment noise, consecutivePreps:646-657)
        def ggpAt(i: Int): Boolean = state.all.exists(m => !m.is_event &&
          m.labels.head == "Gene_or_gene_product" &&
          m.start_tok <= i && i < m.end_tok)
        def consecutivePreps(path: List[Int]): Boolean = {
          val labs = path.zip(path.tail).map { case (u, v) =>
            deps.labelsBetween(u, v) }
          labs.zip(labs.drop(1)).exists { case (a, bl) =>
            a.exists(_.startsWith("prep")) && bl.exists(_.startsWith("prep")) }
        }
        def proteinBetween(theme: MentionRow): Boolean =
          theme.labels.head == "Simple_chemical" && b.trigger._1 >= 0 &&
            (b.trigger._1 until b.trigger._2).exists { t1 =>
              (theme.start_tok until theme.end_tok).exists { t2 =>
                deps.shortestPath(t1, t2).exists(path =>
                  path.exists(ggpAt) && !consecutivePreps(path))
              }
            }
        if (label.toLowerCase.contains("ubiquitin") &&
            (themes ++ causes).exists(_.text.equalsIgnoreCase("ubiquitin"))) Nil
        else {
          val siteOpts: Seq[Option[MentionRow]] =
            if (sites.isEmpty) Seq(None) else sites.map(Some(_))
          for {
            theme <- themes
            siteOpt <- siteOpts
            if causes.forall(_.mention_id != theme.mention_id)
            if !proteinBetween(theme)
            m <- {
              val baseArgs = Seq("theme" -> theme) ++ siteOpt.map("site" -> _)
              causes match {
                case Nil =>
                  Seq(mkEvent(conv, turn, sent.sent_idx, words, deps, label,
                    b.trigger, baseArgs, rule.name))
                case cs =>
                  // splitSimpleEvents: event loses its cause; one regulation
                  // (controller=cause) per coordinated cause is emitted over
                  // it ("acetylated by p300 and CBP" — the reference's cause
                  // widening over conj yields one match variant per cause)
                  val ev = mkEvent(conv, turn, sent.sent_idx, words, deps, label,
                    b.trigger, baseArgs, rule.name)
                  ev +: cs.filter(bioprocessOk(_, ev)).map { cause =>
                    val flips = semNegFlips(words, deps, cause, b.trigger._1)
                    val regLabel =
                      if (flips % 2 == 1) "Negative_regulation"
                      else "Positive_regulation"
                    mkEvent(conv, turn, sent.sent_idx, words, deps, regLabel,
                      b.trigger,
                      Seq("controller" -> cause, "controlled" -> ev),
                      rule.name + "_split")
                  }
              }
            }
          } yield m
        }

      case FixedEventK(label, themeRole) =>
        val srcs = b.caps.getOrElse("source", Nil)
        val dsts = b.caps.getOrElse("destination", Nil)
        // every reference translocation rule requires a location argument
        // (translocation_events.yml: each shape has a required source or
        // destination) — the bare trigger alone is not an event
        if (label == "Translocation" && srcs.isEmpty && dsts.isEmpty) Nil
        else {
          // one event per coordinated source x destination combination
          // (TestTranslocationEvents sent2: "from the membrane to the nucleus
          // and cytosol" -> 2 events)
          val sOpts = if (srcs.isEmpty) Seq(None) else srcs.map(Some(_))
          val dOpts = if (dsts.isEmpty) Seq(None) else dsts.map(Some(_))
          val causes = b.caps.getOrElse("cause", Nil).filter(surfaceSubjOk)
          for {
            theme <- b.caps.getOrElse(themeRole, Nil)
            s <- sOpts
            d <- dOpts
            if causes.forall(_.mention_id != theme.mention_id)
            m <- {
              val ev = mkEvent(conv, turn, sent.sent_idx, words, deps, label,
                b.trigger,
                Seq("theme" -> theme) ++ s.map("source" -> _) ++
                  d.map("destination" -> _), rule.name)
              causes.headOption match {
                case None => Seq(ev)
                case Some(cause) if !bioprocessOk(cause, ev) => Seq(ev)
                case Some(cause) =>
                  // splitSimpleEvents, as in SimpleModK: the event loses its
                  // cause and a regulation wraps it ("expression of NRF2 by
                  // Kras" -> Transcription + Positive_regulation,
                  // TestTranscriptionEvents sent1)
                  val flips = semNegFlips(words, deps, cause, b.trigger._1)
                  val regLabel =
                    if (flips % 2 == 1) "Negative_regulation"
                    else "Positive_regulation"
                  Seq(ev, mkEvent(conv, turn, sent.sent_idx, words, deps,
                    regLabel, b.trigger,
                    Seq("controller" -> cause, "controlled" -> ev),
                    rule.name + "_split"))
              }
            }
          } yield m
        }

      case BindingK =>
        // pair expansion (reference: DarpaActions.mkBinding:222-261)
        val as = b.caps.getOrElse("theme", Nil).filter(surfaceSubjOk)
        val bs = b.caps.getOrElse("theme2", Nil).filter(surfaceSubjOk)
        if (bs.isEmpty)
          // bare nominal with a lone GENERIC theme ("as is their binding",
          // TestCoreference sent3/sent18): keep the single-theme binding —
          // the coref fold expands a plural antecedent set into joint
          // participants, and a singular one leaves the binding incomplete
          // (dropped at emission, sent18)
          as match {
            case Seq(g) if g.labels.head == "Generic_entity" =>
              Seq(mkEvent(conv, turn, sent.sent_idx, words, deps, "Binding",
                b.trigger, Seq("theme" -> g), rule.name))
            case chain0 if chain0.length >= 2 && rule.name.startsWith("bind_pair") =>
              // fused entity-chain complex token: ONE Binding carrying every
              // chain part as a theme (the reference's complex_entity
              // relation flattens to a Complex with n themes —
              // TestOutputDegrader sent6). The 2-mer case reproduces the old
              // pairwise semantics exactly (text-sorted themes, ubiquitin
              // conversion, EventSite promotion).
              val ds = chain0.distinctBy(_.text).sortBy(_.text)
              if (ds.length < 2) Nil
              else {
                val ubiqOther =
                  if (ds.length == 2) {
                    if (ds(0).text.equalsIgnoreCase("ubiquitin")) Some(ds(1))
                    else if (ds(1).text.equalsIgnoreCase("ubiquitin")) Some(ds(0))
                    else None
                  } else None
                ubiqOther match {
                  case Some(other) =>
                    Seq(mkEvent(conv, turn, sent.sent_idx, words, deps,
                      "Ubiquitination", b.trigger, Seq("theme" -> other),
                      rule.name))
                  case None =>
                    val sniffed = ds.flatMap(_.mods.toSeq)
                      .filter(_.kind == "EventSite")
                      .flatMap(s => state.byId(s.site_id)).distinct
                    val siteOpts: Seq[Option[MentionRow]] =
                      if (sniffed.isEmpty) Seq(None) else sniffed.map(Some(_))
                    siteOpts.map { siteOpt =>
                      mkEvent(conv, turn, sent.sent_idx, words, deps,
                        "Binding", b.trigger,
                        ds.map("theme" -> _) ++ siteOpt.map("site" -> _),
                        rule.name)
                    }
                }
              }
            case _ => Nil
          }
        else
          for {
            x <- as; y <- bs
            if x.mention_id != y.mention_id && x.text != y.text
            m <- {
              val (t1, t2) =
                if (x.text <= y.text) (x, y) else (y, x)
              // a binding pair with a literal "ubiquitin" theme is a
              // Ubiquitination of the OTHER theme (mkBindingsFromPairs,
              // DarpaActions.scala:251-256 — "Ras ligated to Ubiquitin",
              // TestTemplaticSimpleEvents sent10)
              val ubiqOther =
                if (t1.text.equalsIgnoreCase("ubiquitin")) Some(t2)
                else if (t2.text.equalsIgnoreCase("ubiquitin")) Some(t1)
                else None
              ubiqOther match {
                case Some(other) =>
                  Seq(mkEvent(conv, turn, sent.sent_idx, words, deps,
                    "Ubiquitination", b.trigger, Seq("theme" -> other),
                    rule.name))
                case None =>
                  // Binding is a SimpleEvent in the reference taxonomy, so
                  // siteSniffer applies: EventSite mods on the participants
                  // are promoted to the event, one Binding per distinct site
                  // ("the RBD of PI3KC2β binds Ras", TestModifications sent2)
                  val sniffed = Seq(t1, t2).flatMap(_.mods.toSeq)
                    .filter(_.kind == "EventSite")
                    .flatMap(s => state.byId(s.site_id)).distinct
                  val siteOpts: Seq[Option[MentionRow]] =
                    if (sniffed.isEmpty) Seq(None) else sniffed.map(Some(_))
                  siteOpts.map { siteOpt =>
                    mkEvent(conv, turn, sent.sent_idx, words, deps, "Binding",
                      b.trigger,
                      Seq("theme" -> t1, "theme" -> t2) ++
                        siteOpt.map("site" -> _),
                      rule.name)
                  }
              }
            }
          } yield m

      case RegulationK =>
        // coordinated controllers each yield a regulation ("in response to
        // stimulation with either EGF or neuregulin" -> 2 regs, conj
        // expansion in the reference's syntax paths)
        (b.caps.get("controller").map(_.filter(surfaceSubjOk)),
         b.caps.get("controlled")) match {
          case (Some(ctls @ (_ :: _)), Some(clds0 @ (_ :: _))) =>
            // trigger-sibling expansion (Odin parity): the reference's
            // controlled dep path lands on the controlled event's TRIGGER
            // head and State.mentionsFor returns every event anchored there,
            // so a bound controlled event stands for all its same-trigger
            // same-label siblings ("increased both basal EGFR and ERBB3
            // tyrosine phosphorylation" -> one regulation per conjunct
            // event; TestTemplaticSimpleEvents sent5/sent6)
            val clds = clds0.flatMap { cld =>
              if (!cld.is_event || cld.trig_start < 0) List(cld)
              else cld :: state.all.filter(s => s.is_event &&
                s.mention_id != cld.mention_id &&
                s.labels.head == cld.labels.head &&
                s.trig_start == cld.trig_start &&
                s.trig_end == cld.trig_end).toList
            }.distinctBy(_.mention_id)
            for {
              ctl <- ctls
              cld <- clds
              if ctl.mention_id != cld.mention_id &&
                !cld.args.exists(_.mention_id == ctl.mention_id) &&
                bioprocessOk(ctl, cld) && !nearerTriggerBetween(ctl)
            } yield {
              val basePos = !negRegP.matcher(trigWord).matches()
              val flips = semNegFlipsAll(words, deps, Seq(ctl, cld),
                b.trigger._1)
              val pos = if (flips % 2 == 1) !basePos else basePos
              val label =
                if (pos) "Positive_regulation" else "Negative_regulation"
              mkEvent(conv, turn, sent.sent_idx, words, deps, label, b.trigger,
                Seq("controller" -> ctl, "controlled" -> cld), rule.name)
            }
          case _ => Nil
        }

      case ActivationK =>
        (b.caps.get("controller").map(_.filter(surfaceSubjOk)),
         b.caps.get("controlled")) match {
          case (Some(ctls @ (_ :: _)), Some(clds @ (_ :: _))) =>
            // coordinated controller/controlled lists cross-product into one
            // activation per pair (conj expansion in the reference's syntax
            // paths); hasDistinctControllerControlled guard per pair
            // (reference: DarpaActions.scala:538-560)
            for {
              ctl <- ctls
              cld <- clds
              if ctl.mention_id != cld.mention_id && ctl.text != cld.text &&
                bioprocessOk(ctl, cld) && !nearerTriggerBetween(ctl)
            } yield {
              val basePos = !negActP.matcher(trigWord).matches()
              val flips = semNegFlipsAll(words, deps, Seq(ctl, cld),
                b.trigger._1)
              val pos = if (flips % 2 == 1) !basePos else basePos
              val label =
                if (pos) "Positive_activation" else "Negative_activation"
              mkEvent(conv, turn, sent.sent_idx, words, deps, label,
                b.trigger, Seq("controller" -> ctl, "controlled" -> cld),
                rule.name)
            }
          case _ => Nil
        }
    }
  }

  /** keepMostCompleteMentions / filterRegulations (reference:
    * darpa/MentionFilter.scala:12-28,32-241):
    *   1. pruneMentions: per (label, trigger OCCURRENCE, sentence) keep only
    *      max-arg-count events. The key is the trigger token span, not the
    *      trigger string — the reference compares trigger *mentions*
    *      (MentionFilter.scala:60-69), so "MEK1 phosphorylates ERK2 and JAK3
    *      phosphorylates HuR" keeps both events.
    *   2. controlled-substitution: a regulation whose controlled was pruned in
    *      favor of a same-trigger superset event is redirected to the survivor
    *      (MentionFilter.scala:48-125), instead of dangling and dying.
    *   3. strict arg-subset drop within the same (label, trigger occurrence).
    *   4. higher-order-regulation preference (preferRegulations,
    *      MentionFilter.scala:151-195): a direct regulation is redundant when
    *      a same-trigger regulation with the same controller wraps a
    *      Regulation over the same controlled.
    *   5. activation-vs-regulation preference; 6. dangling-arg fixpoint.
    * Sentence-local, so it runs in-row — no shuffle.
    */
  def mostComplete(ms: Seq[MentionRow]): Seq[MentionRow] = {
    // fast path: with at most one event there is nothing to prune, substitute
    // or disambiguate — this runs per SENTENCE and most sentences carry 0-1
    // events
    if (ms.count(_.is_event) <= 1) return ms
    val (events, tbms) = ms.partition(_.is_event)
    val grouped = events
      .groupBy(e => (e.labels.head, e.trig_start, e.trig_end, e.sent_idx))
    val kept = grouped.values.flatMap { grp =>
      val maxArgs = grp.map(_.args.length).max
      grp.filter(_.args.length == maxArgs)
    }.toSeq
    // controlled-substitution remap: pruned event -> same-trigger-occurrence
    // survivor whose args are a superset (deterministic winner by id)
    val subst: Map[Long, Long] = grouped.values.flatMap { grp =>
      val maxArgs = grp.map(_.args.length).max
      val survivors = grp.filter(_.args.length == maxArgs)
      grp.filter(_.args.length < maxArgs).flatMap { d =>
        survivors.filter(s => d.args.forall(a => s.args.contains(a)))
          .sortBy(_.mention_id).headOption.map(s => d.mention_id -> s.mention_id)
      }
    }.toMap
    val substituted =
      if (subst.isEmpty) kept
      else kept.map { e =>
        val newArgs = e.args.map(a =>
          a.copy(mention_id = subst.getOrElse(a.mention_id, a.mention_id)))
        if (newArgs.sameElements(e.args)) e
        else e.copy(
          mention_id = mentionId(e.conv_id, e.turn_idx, e.sent_idx,
            e.start_tok, e.end_tok, e.labels.head, e.trigger_text,
            newArgs.toSeq, e.negated, e.hypothesis, e.mods.toSeq),
          args = newArgs)
      }.groupBy(_.mention_id).map(_._2.head).toSeq // remap can merge dupes
    // rule variants (and substitution) can leave events with identical
    // semantics — same trigger occurrence, same args — differing only in
    // span; collapse to the widest (the reference's corefDistinct, A4)
    val deduped = substituted
      .groupBy(e => (e.labels.head, e.trig_start, e.trig_end, e.sent_idx,
        e.args.map(a => (a.role, a.mention_id)).sortBy(x => (x._1, x._2)).toSeq,
        e.negated, e.hypothesis))
      .values.map(_.minBy(e => (-(e.end_tok - e.start_tok), e.mention_id)))
      .toSeq
    // strict arg-subset drop (same label head, same trigger occurrence)
    val byLabel = deduped.groupBy(_.labels.head)
    var res = deduped.filterNot { e =>
      byLabel(e.labels.head).exists { o =>
        (o.mention_id != e.mention_id) &&
        o.args.length > e.args.length &&
        e.args.forall(a => o.args.contains(a)) &&
        o.trig_start == e.trig_start && o.trig_end == e.trig_end &&
        o.sent_idx == e.sent_idx
      }
    }
    // preferRegulations higher-order redundancy (MentionFilter.scala:151-195):
    // drop reg r when a same-trigger-occurrence reg m with the same controller
    // has a controlled that is itself a Regulation over r's controlled
    val byIdPre = (tbms ++ res).map(m => m.mention_id -> m).toMap
    res = res.filterNot { r =>
      r.labels.contains("Regulation") && {
        val rCtl = r.args.find(_.role == "controller").map(_.mention_id)
        val rCld = r.args.find(_.role == "controlled").map(_.mention_id)
        rCtl.nonEmpty && res.exists { m =>
          m.mention_id != r.mention_id &&
          m.labels.contains("Regulation") &&
          m.trig_start == r.trig_start && m.trig_end == r.trig_end &&
          m.sent_idx == r.sent_idx &&
          m.args.find(_.role == "controller").map(_.mention_id) == rCtl && {
            val inner = for {
              cld <- m.args.find(_.role == "controlled")
              cldM <- byIdPre.get(cld.mention_id)
              if cldM.labels.contains("Regulation")
              innerCld <- cldM.args.find(_.role == "controlled")
            } yield innerCld.mention_id
            inner == rCld
          }
        }
      }
    }
    // filterByController (MentionFilter.scala:129-151): within a
    // same-controlled group, a regulation whose controller is a participant
    // of another regulation's complex controller (here: a Binding event — the
    // reference's Complex entities arise from bindings) is the less complete
    // reading and drops
    res = res.filterNot { r =>
      r.labels.contains("Regulation") && {
        val rCld = r.args.find(_.role == "controlled").map(_.mention_id)
        r.args.find(_.role == "controller").exists { c =>
          res.exists { m =>
            m.mention_id != r.mention_id &&
            m.labels.contains("Regulation") &&
            m.args.find(_.role == "controlled").map(_.mention_id) == rCld &&
            m.args.find(_.role == "controller").exists { mc =>
              byIdPre.get(mc.mention_id).exists { mcm =>
                (mcm.labels.contains("Complex") ||
                  mcm.labels.head == "Binding") &&
                mcm.args.exists(a => a.role == "theme" &&
                  a.mention_id == c.mention_id)
              }
            }
          }
        }
      }
    }
    // clause-attachment disambiguation: among complex events sharing the same
    // trigger occurrence and controlled, a controller strictly contained in
    // another candidate's controller span is the relative-clause-internal
    // reading ("ERK2, which is phosphorylated by MEK1, activates STAT3" must
    // not read MEK1 as the activator) — the containing span is the
    // main-clause subject, matching the reference's preference for the most
    // complete mention
    res = res.filterNot { e =>
      e.labels.contains("ComplexEvent") && {
        val cld = e.args.find(_.role == "controlled").map(_.mention_id)
        e.args.find(_.role == "controller").exists { c =>
          byIdPre.get(c.mention_id).exists { cm =>
            res.exists { o =>
              o.mention_id != e.mention_id &&
              o.labels.contains("ComplexEvent") &&
              o.trig_start == e.trig_start && o.trig_end == e.trig_end &&
              o.sent_idx == e.sent_idx &&
              o.args.find(_.role == "controlled").map(_.mention_id) == cld &&
              o.args.find(_.role == "controller").exists { oc =>
                byIdPre.get(oc.mention_id).exists { ocm =>
                  ocm.start_tok <= cm.start_tok && cm.end_tok <= ocm.end_tok &&
                  (ocm.start_tok < cm.start_tok || cm.end_tok < ocm.end_tok)
                }
              }
            }
          }
        }
      }
    }
    // drop an Activation when a Regulation in the same sentence has the same
    // controller and a controlled event whose theme is the activation's
    // controlled entity — regulations are the more specific reading
    // (reference: MentionFilter.filterRegulations preference for regulations,
    // :151-195)
    val byIdLocal = (tbms ++ res).map(m => m.mention_id -> m).toMap
    res = res.filterNot { a =>
      a.labels.contains("ActivationEvent") && {
        val aCtl = a.args.find(_.role == "controller").map(_.mention_id)
        val aCld = a.args.find(_.role == "controlled").map(_.mention_id)
        res.exists { r =>
          r.labels.contains("Regulation") &&
          r.args.find(_.role == "controller").map(_.mention_id) == aCtl && {
            val rCldTheme = for {
              cld <- r.args.find(_.role == "controlled")
              cldM <- byIdLocal.get(cld.mention_id)
              th <- cldM.args.find(_.role == "theme")
            } yield th.mention_id
            rCldTheme == aCld
          }
        }
      }
    }
    // mkActivation's regulation-intersection drop (DarpaActions.scala:
    // 190-212): an Activation is not reported when a Regulation's span
    // intersects one of the activation's controlled mentions — the
    // regulation is the more complete reading ("KRAS activates AKT-induced
    // apoptosis": the reg over the inner activation kills the spurious
    // act(KRAS -> AKT))
    val byIdLocal2 = (tbms ++ res).map(m => m.mention_id -> m).toMap
    res = res.filterNot { a =>
      a.labels.contains("ActivationEvent") && {
        a.args.find(_.role == "controlled").exists { c =>
          byIdLocal2.get(c.mention_id).exists { cm =>
            res.exists { r =>
              r.mention_id != a.mention_id &&
              r.labels.contains("Regulation") && r.sent_idx == a.sent_idx &&
              r.start_tok < cm.end_tok && cm.start_tok < r.end_tok &&
              // a reg built OVER this activation did not exist when
              // mkActivation ran — it cannot retroactively kill its own
              // controlled
              !r.args.exists(_.mention_id == a.mention_id)
            }
          }
        }
      }
    }
    // fixpoint-prune events whose args dangle on a dropped mention — keeps
    // regulations consistent with the events that survived (reference:
    // MentionFilter "keep args of kept regs" semantics, :243-260)
    var changed = true
    while (changed) {
      val known = (tbms.map(_.mention_id) ++ res.map(_.mention_id)).toSet
      val next = res.filter(_.args.forall(a => known.contains(a.mention_id)))
      changed = next.size != res.size
      res = next
    }
    tbms ++ res
  }

  // ---- modification attachment pass (between entity and event priorities) --

  /** Attach PTM / Mutant / EventSite modifications to entity mentions and
    * split multi-mutant mentions (reference: the modification engine pass of
    * extractEntitiesFrom, ReachSystem.scala:157-173 + storePTM/storeEventSite/
    * storeMutants, DarpaActions.scala:59-121 + mutationsToMentions,
    * ReachSystem.scala:203-221). The reference mutates mention objects in
    * place; here each attachment produces a *new* mention row with a new
    * deterministic id — events built afterwards reference the modified rows.
    */
  def attachMods(conv: String, turn: Int, sent: Sent,
                 ms: Seq[MentionRow]): Seq[MentionRow] = {
    val words = sent.words
    val n = words.length
    val siteByEnd: Map[Int, MentionRow] = ms
      .filter(m => !m.is_event && m.labels.head == "Site")
      .map(m => m.end_tok -> m).toMap
    val siteByStart: Map[Int, MentionRow] = ms
      .filter(m => !m.is_event && m.labels.head == "Site")
      .map(m => m.start_tok -> m).toMap

    ms.flatMap { m =>
      val head = m.labels.head
      if (m.is_event || head == "Site" || head == "Generic_entity" ||
          !m.labels.contains("BioChemicalEntity")) Seq(m)
      else {
        val mods = mutable.ArrayBuffer.empty[Mod]

        // PTM participle prefix: "phosphorylated ERK2" / "deubiquitinated X";
        // a rightward "at SITE" (optionally across "protein(s)") supplies the
        // site — "[The] ubiquitinated Ras [protein] at Ser16 binds AKT"
        // (TestModifications JJWithSite / IntercedingWithSite shapes)
        if (m.start_tok > 0 &&
            ptmParticipleP.matcher(words(m.start_tok - 1)).matches() &&
            // a following by-agent makes this an EVENT with a cause, not a
            // PTM ("The phosphorylated p53 by ASPP2", TestModifications
            // sent9 — handled by mod_premod_by)
            !(m.end_tok < n && words(m.end_tok) == "by")) {
          var r = m.end_tok
          if (r < n && (words(r) == "protein" || words(r) == "proteins")) r += 1
          val site =
            if (r < n && (words(r) == "at" || words(r) == "on"))
              siteByStart.get(r + 1)
            else None
          val lbl = modLabel(words(m.start_tok - 1))
          if (lbl.nonEmpty)
            mods += Mod("PTM", lbl,
              site.map(_.text).getOrElse(""),
              site.map(_.mention_id).getOrElse(0L))
        }
        // fused prefix in the token itself: "p-ERK2", "phospho-AKT1", "u-Ras"
        else if (m.end_tok - m.start_tok == 1 &&
                 fusedPhosP.matcher(words(m.start_tok)).matches())
          mods += Mod("PTM", "Phosphorylation", "", 0L)
        else if (m.end_tok - m.start_tok == 1 &&
                 fusedUbiqP.matcher(words(m.start_tok)).matches())
          mods += Mod("PTM", "Ubiquitination", "", 0L)

        // PTM post-participle with site: "AKT1 phosphorylated at Ser473"
        if (m.end_tok < n &&
            ptmParticipleP.matcher(words(m.end_tok)).matches() &&
            m.end_tok + 1 < n &&
            (words(m.end_tok + 1) == "at" || words(m.end_tok + 1) == "on") &&
            siteByStart.contains(m.end_tok + 2)) {
          val s = siteByStart(m.end_tok + 2)
          val lbl = modLabel(words(m.end_tok))
          if (lbl.nonEmpty)
            mods += Mod("PTM", lbl, s.text, s.mention_id)
        }

        // relative-clause participial PTM: "Ras that is deubiquitinated at
        // serine 286" (TestDeModifications *VBNThatIs shapes) — entity-phase
        // PTM like the premod shapes; a by-agent instead makes it an event
        // relative (mod_relcl), not a modification
        if (m.end_tok + 2 < n &&
            (words(m.end_tok) == "that" || words(m.end_tok) == "which") &&
            (words(m.end_tok + 1) == "is" || words(m.end_tok + 1) == "was" ||
             words(m.end_tok + 1) == "are" || words(m.end_tok + 1) == "were") &&
            ptmParticipleP.matcher(words(m.end_tok + 2)).matches() &&
            !(m.end_tok + 3 < n && words(m.end_tok + 3) == "by")) {
          val site =
            if (m.end_tok + 3 < n &&
                (words(m.end_tok + 3) == "at" || words(m.end_tok + 3) == "on"))
              siteByStart.get(m.end_tok + 4)
            else None
          val lbl = modLabel(words(m.end_tok + 2))
          if (lbl.nonEmpty)
            mods += Mod("PTM", lbl, site.map(_.text).getOrElse(""),
              site.map(_.mention_id).getOrElse(0L))
        }

        // Mutants rightward: "ERK2 T669A [, T671A] [and G12V] [mutants]",
        // optionally parenthesized: "ERK(K156M/H204M)" (TestModifications
        // sent15/16 — one mention per mutation). An optional mutant word may
        // precede the first code ("MEK mutant R567Q", "ASPP1 mutants K111M,
        // K112M, and K113M" — mutantmod_1a/3a, mutants.yml:199-259)
        var j = m.end_tok
        var parenMut = false
        if (j + 1 < n && words(j) == "(" &&
            mutantTokP.matcher(words(j + 1)).matches()) {
          parenMut = true; j += 1
        } else if (j + 1 < n && mutantWordP.matcher(words(j)).matches() &&
                   mutantTokP.matcher(words(j + 1)).matches()) {
          j += 1
        }
        var sawRight = false
        var contRight = j < n && mutantTokP.matcher(words(j)).matches()
        while (contRight && j < n) {
          val w = words(j)
          if (mutantTokP.matcher(w).matches()) {
            mods += Mod("Mutant", "", normMutCode(w), 0L)
            sawRight = true; j += 1
          // separator runs (", and") skip freely between codes
          } else if (sawRight && mutantSepP.matcher(w).matches()) j += 1
          else contRight = false
        }
        // an opened mutant paren must close, else the codes are not ours
        if (parenMut && !(j < n && words(j) == ")"))
          mods.filterInPlace(_.kind != "Mutant")
        // Mutants leftward: "the T669A mutant of ERK2", with code lists —
        // "K111M, K112M, and K113M mutants of ASPP1" attaches one Mutant mod
        // per code (TestModifications mutantTest12/14; the multi-mutant split
        // below then yields one mention per form). An optional mutant-type
        // word may precede the head noun ("a substitution mutant of Raf").
        locally {
          var lk = m.start_tok - 1
          if (lk >= 0 && words(lk) == "the") lk -= 1
          if (lk >= 0 && words(lk) == "of" && lk >= 1 &&
              mutantWordP.matcher(words(lk - 1)).matches()) {
            var lj = lk - 2
            var sawCode = false
            var cont = true
            while (cont && lj >= 0) {
              val w = words(lj)
              if (mutantTokP.matcher(w).matches()) {
                mods += Mod("Mutant", "", normMutCode(w), 0L)
                sawCode = true; lj -= 1
              // separator runs (", and") skip freely between codes
              } else if (sawCode && mutantSepP.matcher(w).matches()) lj -= 1
              else cont = false
            }
            // bare "Mutation of the PTEN gene" (mutants.yml generic-of rule,
            // mutantTest15): no code anywhere — the mutant word itself is
            // the evidence
            if (!sawCode && mods.forall(_.kind != "Mutant"))
              mods += Mod("Mutant", "", words(lk - 1), 0L)
          }
        }
        // Mutant premodifier lists: "only K650M and K650E-AKT1 mutants cause"
        // (TestRegulationEvents sent30/31 — one Mutant mod per code, the
        // multi-mutant split below yields one mention per mutant form), bare
        // single-code premods ("Ser785His RAS", mutantTest10 / mutantmod_1b)
        // and code + mutant-word premods ("Ser785His mutant RAS",
        // mutantTest9). Mirrors mutantmod_1b/2 (mutants.yml:199-233): the
        // token adjacent to the mention (across an optional mutant word)
        // must be a code; further left, codes and separator runs (", and")
        // alternate freely. Multi-code lists keep mutantmod_2's
        // (?<!BioChemicalEntity) guard: an entity immediately before the
        // list means the codes are ITS rightward codes, not our premods.
        locally {
          var lj = m.start_tok - 1
          if (lj >= 1 && mutantWordP.matcher(words(lj)).matches() &&
              mutantTokP.matcher(words(lj - 1)).matches()) lj -= 1
          var sawCode = 0
          var cont = lj >= 0 && mutantTokP.matcher(words(lj)).matches()
          val collected = mutable.ArrayBuffer.empty[Mod]
          while (cont && lj >= 0) {
            val w = words(lj)
            if (mutantTokP.matcher(w).matches()) {
              collected += Mod("Mutant", "", normMutCode(w), 0L)
              sawCode += 1
              lj -= 1
            // separator runs (", and") skip freely between codes
            } else if (sawCode > 0 && mutantSepP.matcher(w).matches()) lj -= 1
            else cont = false
          }
          val entityPrecedes = lj >= 0 && ms.exists(e =>
            !e.is_event && e.labels.contains("BioChemicalEntity") &&
              e.end_tok == lj + 1)
          if (sawCode == 1 || (sawCode > 1 && !entityPrecedes))
            mods ++= collected
        }
        // bare "mutant ERK2" marker (mutants.yml generic relation rules)
        if (m.start_tok > 0 &&
                 mutantWordP.matcher(words(m.start_tok - 1)).matches() &&
                 mods.forall(_.kind != "Mutant"))
          mods += Mod("Mutant", "", "", 0L)

        // EventSite: "[the] SITE [residue(s)] of|on|in [the] ENTITY" — stored
        // on the entity, promoted to the event's site by siteSniffer later;
        // coordinated site lists collect every site
        var k = m.start_tok - 1
        if (k >= 0 && words(k) == "the") k -= 1
        if (k >= 0 && (words(k) == "of" || words(k) == "on" || words(k) == "in")) {
          k -= 1
          if (k >= 0 && (words(k) == "residue" || words(k) == "residues")) k -= 1
          var expectSite = true
          var cont = true
          while (cont && k >= 0) {
            if (expectSite && siteByEnd.contains(k + 1)) {
              val s = siteByEnd(k + 1)
              mods += Mod("EventSite", "", s.text, s.mention_id)
              k = s.start_tok - 1
              expectSite = false
            } else if (!expectSite && k >= 0 &&
                       mutantSepP.matcher(words(k)).matches()) {
              k -= 1
              expectSite = true
            } else cont = false
          }
        }

        if (mods.isEmpty) Seq(m)
        else {
          val mutants = mods.filter(_.kind == "Mutant").toSeq
          val others = mods.filterNot(_.kind == "Mutant").toSeq
          // mutationsToMentions: one mention per Mutant when several
          // (ReachSystem.scala:203-221)
          val variants: Seq[Seq[Mod]] =
            if (mutants.size >= 2) mutants.map(mu => others :+ mu)
            else Seq(others ++ mutants)
          variants.map { mset =>
            m.copy(
              mention_id = mentionId(conv, turn, sent.sent_idx, m.start_tok,
                m.end_tok, head, "", Nil, m.negated, m.hypothesis, mset),
              mods = mset.toArray)
          }
        }
      }
    }
  }

  private def runPriority(g: Grammar, prio: Int, conv: String, turn: Int,
                          sent: Sent, deps: DepGraph,
                          state: State): Unit = {
    val n = sent.words.length
    val newMentions = mutable.ArrayBuffer.empty[MentionRow]
    g.rulesByPriority(prio).foreach { rule =>
      var pos = 0
      while (pos < n) {
        val p = pos
        tryMatchCb(rule.pattern, sent.words, state, pos, emptyBind) {
          (end, bind) =>
            newMentions ++= assemble(rule, bind, conv, turn, sent, p, end,
              state, deps)
        }
        pos += 1
      }
    }
    newMentions.foreach(state.add)
  }

  // multi-site unpack (entities.yml multi-site:114-124 + DarpaActions
  // .unpackRelations:30-36): bare [A-Za-z]?\d+ tokens coordinated after a
  // Site mention become Site mentions of their own ("Lys residues 104 and
  // 147" -> a second Site "147"); a trailing residue letter or "mM" blocks
  // the number (the reference's measurement lookahead)
  private val bareSiteP = Pattern.compile("[A-Za-z]?\\d+")
  private val siteSepP = Pattern.compile(",|and|or", Pattern.CASE_INSENSITIVE)
  private val siteStopP =
    Pattern.compile("[ACDEFGHIKLMNQRSTVWY]|mM", Pattern.CASE_INSENSITIVE)

  private def unpackMultiSites(conv: String, turn: Int, sent: Sent,
                               state: State): Unit = {
    val words = sent.words
    val anchors = state.all.iterator
      .filter(m => !m.is_event && m.labels.head == "Site")
      .map(_.end_tok).toArray.sorted
    anchors.foreach { end0 =>
      var i = end0
      var run = true
      while (run && i < words.length) {
        if (siteSepP.matcher(words(i)).matches()) i += 1
        else {
          val covering = state.all.find(m =>
            m.start_tok <= i && i < m.end_tok && !m.is_event)
          covering match {
            case Some(m) if m.labels.head == "Site" =>
              i = m.end_tok // an already-recognized Site continues the list
            case Some(_) => run = false
            case None =>
              if (bareSiteP.matcher(words(i)).matches() &&
                  (i + 1 >= words.length ||
                    !siteStopP.matcher(words(i + 1)).matches())) {
                state.add(MentionRow(
                  mentionId(conv, turn, sent.sent_idx, i, i + 1, "Site", "",
                    Nil, false, false),
                  conv, turn, sent.sent_idx, i, i + 1,
                  Lexicon.labelClosure("Site"), words(i), "multi_site", false,
                  "", Arg.none, false, false))
                i += 1
              } else run = false
          }
        }
      }
    }
  }

  /** Inject conversation-scoped alias surfaces as entity mentions (the trie
    * rescan, J3): any token run equal to a rescan surface that does not
    * overlap an existing mention becomes an entity with the alias target's
    * label (its failsafe grounding then merges with the target through the
    * alias edge + connected components).
    */
  private def injectAliasSurfaces(conv: String, turn: Int, sent: Sent,
                                  aliases: Seq[(String, String)],
                                  state: State): Unit = {
    if (aliases.isEmpty) return
    val words = sent.words
    aliases.foreach { case (surface, label) =>
      val surfToks = surface.split(" ")
      var i = 0
      while (i + surfToks.length <= words.length) {
        val matches = (0 until surfToks.length).forall(k =>
          words(i + k).equalsIgnoreCase(surfToks(k)))
        if (matches) {
          val (s, e) = (i, i + surfToks.length)
          val overlaps = state.all.exists(m =>
            !(m.end_tok <= s || m.start_tok >= e))
          if (!overlaps) {
            state.add(MentionRow(
              mentionId(conv, turn, sent.sent_idx, s, e, label, "", Nil,
                false, false),
              conv, turn, sent.sent_idx, s, e, Lexicon.labelClosure(label),
              words.slice(s, e).mkString(" "), "alias_rescan", false, "",
              Arg.none, false, false))
          }
          i = e
        } else i += 1
      }
    }
  }

  /** Run all priorities over one sentence; returns every mention found.
    * Staging mirrors the reference (ReachSystem.scala:157-232): entity rules,
    * then the modification pass, then event rules over the modified entities.
    */
  def extractSentence(conv: String, turn: Int, sent: Sent,
                      aliases: Seq[(String, String)] = Nil,
                      grammar: Grammar = default): Seq[MentionRow] = {
    val state = new State
    val deps = DepParser.parse(sent)
    decodeIob(conv, turn, sent).foreach(state.add)
    injectAliasSurfaces(conv, turn, sent, aliases, state)
    grammar.entityPriorities.foreach(
      runPriority(grammar, _, conv, turn, sent, deps, state))
    unpackMultiSites(conv, turn, sent, state)
    val state2 = new State
    attachMods(conv, turn, sent, state.all.toSeq).foreach(state2.add)
    grammar.eventPriorities.foreach { p =>
      runPriority(grammar, p, conv, turn, sent, deps, state2)
      runDepRules(grammar, p, conv, turn, sent, deps, state2)
    }
    mostComplete(state2.all.toSeq)
  }

  def extractTurn(at: AnnotatedTurn): Seq[MentionRow] = extractTurn(at, Nil)

  def extractTurn(at: AnnotatedTurn,
                  aliases: Seq[(String, String)]): Seq[MentionRow] =
    extractTurn(at, aliases, default)

  def extractTurn(at: AnnotatedTurn, aliases: Seq[(String, String)],
                  grammar: Grammar): Seq[MentionRow] =
    // install the grammar's taxonomy for the mention-construction call
    // sites (labelClosure) — the taxonomy travels on the grammar broadcast
    Lexicon.withTaxonomy(grammar.taxonomy) {
      at.sents.toSeq.flatMap(s =>
        extractSentence(at.conv_id, at.turn_idx, s, aliases, grammar))
    }

  /** Phase-A alias-definition scan (J3): entity rules + alias rules only,
    * returning (surface, label) pairs for unknown-surface aliases. Runs as a
    * narrow pre-pass over annotated turns; the aggregated result is broadcast
    * for the full extraction pass.
    */
  def aliasDefsTurn(at: AnnotatedTurn): Seq[(String, String, String)] =
    aliasDefsTurn(at, default)

  def aliasDefsTurn(at: AnnotatedTurn,
                    grammar: Grammar): Seq[(String, String, String)] =
    Lexicon.withTaxonomy(grammar.taxonomy) { at.sents.toSeq.flatMap { sent =>
      val state = new State
      val deps = DepParser.parse(sent)
      decodeIob(at.conv_id, at.turn_idx, sent).foreach(state.add)
      grammar.entityPriorities.foreach(runPriority(grammar, _, at.conv_id,
        at.turn_idx, sent, deps, state))
      val before = state.all.size
      runPriority(grammar, 10, at.conv_id, at.turn_idx, sent, deps, state)
      state.all.drop(before)
        .filter(_.found_by == "alias_unknown_b")
        .map(b => (at.conv_id, b.text, b.labels.head))
    } }
}
