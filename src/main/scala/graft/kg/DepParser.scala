package graft.kg

import graft.model.Sent

import java.util.regex.Pattern
import scala.collection.mutable

/** Deterministic dependency edge: collapsed-Stanford-style label set
  * (nsubj, nsubjpass, dobj, agent, prep_*, conj_*, nn, appos, rcmod, ccomp,
  * xcomp, aux, neg, advmod, det, amod) — the label vocabulary the reference's
  * syntax grammars pattern over (biogrammar/events/simple-event_template.yml:
  * 16-52 uses exactly these hop labels).
  */
final case class DepEdge(gov: Int, dep: Int, label: String)

/** Per-sentence dependency graph with the traversals the reference needs:
  * undirected shortest path (DarpaActions.proteinBetween:624-643 via
  * `deps.shortestPath(ignoreDirection = true)`), bounded-degree neighborhood
  * (HypothesisHandler.getSpannedIndexes:47-76), and span head finding
  * (reference: utils/DependencyUtils.findHeadStrict). Built row-locally per
  * sentence inside the extraction flatMap — never shuffled, never cached.
  */
final class DepGraph(val n: Int, val tags: Array[String],
                     val edges: Array[DepEdge]) extends Serializable {

  /** adjacency: (neighbor, label, outgoing). */
  val adj: Array[List[(Int, String, Boolean)]] = {
    val a = Array.fill(n)(List.empty[(Int, String, Boolean)])
    // reverse iteration keeps lists in edge-insertion order (deterministic)
    edges.reverseIterator.foreach { e =>
      if (e.gov >= 0 && e.gov < n && e.dep >= 0 && e.dep < n) {
        a(e.gov) ::= ((e.dep, e.label, true))
        a(e.dep) ::= ((e.gov, e.label, false))
      }
    }
    a
  }

  def outgoing(i: Int): List[(Int, String)] =
    adj(i).collect { case (j, l, true) => (j, l) }
  def incoming(i: Int): List[(Int, String)] =
    adj(i).collect { case (j, l, false) => (j, l) }

  /** Undirected BFS shortest path a -> b (token indexes, inclusive), or None
    * if disconnected. Deterministic: neighbors visited in adjacency order.
    */
  def shortestPath(a: Int, b: Int): Option[List[Int]] = {
    if (a == b) return Some(List(a))
    if (a < 0 || b < 0 || a >= n || b >= n) return None
    val prev = Array.fill(n)(-2) // -2 unvisited, -1 source
    prev(a) = -1
    var frontier = List(a)
    while (frontier.nonEmpty && prev(b) == -2) {
      val next = mutable.ListBuffer.empty[Int]
      frontier.foreach { u =>
        adj(u).foreach { case (v, _, _) =>
          if (prev(v) == -2) { prev(v) = u; next += v }
        }
      }
      frontier = next.toList
    }
    if (prev(b) == -2) None
    else {
      var path = List(b)
      var cur = b
      while (prev(cur) >= 0) { cur = prev(cur); path ::= cur }
      Some(path)
    }
  }

  /** All labels on edges (either direction) between adjacent path nodes. */
  def labelsBetween(u: Int, v: Int): List[String] =
    adj(u).collect { case (w, l, _) if w == v => l }

  /** Token indexes within `degree` undirected hops of any span token
    * (HypothesisHandler degree-2 neighborhood, HypothesisHandler.scala:12,47-76).
    */
  def neighborhood(span: Seq[Int], degree: Int): Set[Int] = {
    var seen = span.toSet
    var frontier = span.toSet
    var d = 0
    while (d < degree && frontier.nonEmpty) {
      val next = frontier.flatMap(i =>
        if (i >= 0 && i < n) adj(i).map(_._1) else Nil) -- seen
      seen ++= next
      frontier = next
      d += 1
    }
    seen
  }

  /** Syntactic head of token span [s, e): the token governed from outside the
    * span (or ungoverned); rightmost noun among candidates as tiebreak —
    * biomedical NPs are head-final (reference: DependencyUtils.findHeadStrict).
    */
  def headOfSpan(s: Int, e: Int): Int = {
    val lo = math.max(0, s)
    val hi = math.min(n, e)
    if (lo >= hi) return math.max(0, math.min(n - 1, lo))
    val cands = (lo until hi).filter { i =>
      val govs = incoming(i).map(_._1)
      govs.isEmpty || govs.exists(g => g < lo || g >= hi)
    }
    val pool = if (cands.nonEmpty) cands else (lo until hi)
    val nouns = pool.filter(i => tags(i) == "NN" || tags(i) == "NNP")
    if (nouns.nonEmpty) nouns.last else pool.last
  }

  def isVerb(i: Int): Boolean =
    i >= 0 && i < n && tags(i).startsWith("V")
}

/** Deterministic linguistic parser: POS-lite tagging + clause-aware arc
  * building producing collapsed-Stanford dependencies. A self-contained
  * stand-in for the reference's CoreNLP parse (BioNLPProcessor — unavailable
  * in-sandbox, SURVEY.md §7.0): rule-based, zero-allocation-conscious,
  * strictly sentence-local so it lives inside the same narrow `flatMap` as
  * rule matching. Covers the constructions the reference's syntax grammars
  * pattern over: active/passive/nominal argument frames, agent by-phrases,
  * PP chains, NP coordination, clause coordination, appositives,
  * relative clauses (subject + object), complement clauses, xcomp.
  */
object DepParser {

  // ---- POS-lite ----------------------------------------------------------

  private val det = Set("the", "a", "an", "this", "these", "those", "each",
    "every", "its", "their", "our", "his", "her", "some", "any", "no")
  private val preps = Set("of", "by", "at", "on", "in", "with", "from",
    "into", "between", "via", "through", "upon", "for", "during", "without",
    "under", "over", "within", "across", "along", "toward", "towards",
    "after", "before", "following", "as")
  private val auxBe = Set("is", "are", "was", "were", "be", "been", "being",
    "am", "gets", "get", "got", "becomes", "become", "became", "remains",
    "remain", "remained")
  private val auxHave = Set("has", "have", "had", "does", "do", "did")
  private val modals = Set("can", "cannot", "could", "may", "might", "will",
    "would", "shall", "should", "must")
  private val negs = Set("not", "n't", "never", "neither", "cannot")
  private val prons = Set("it", "they", "them", "we", "he", "she", "you", "i",
    "itself", "themselves", "this", "that", "these", "those", "both")
  private val ccs = Set("and", "or", "but", "nor", "&")
  /** Subordinating conjunctions: open an adverbial clause with its own
    * subject/verb ("Once MEK1 had been phosphorylated, ERK2 was
    * ubiquitinated" — the Stanford parse gives advcl + mark; what the
    * downstream grammars need is that the two clauses don't leak arguments
    * into each other, TestAssemblySieves tamSent1-3 shapes). */
  private val subord = Set("once", "when", "whenever", "if", "unless",
    "while", "whereas", "although", "though", "because")

  /** Small open-class verb lexicon: discourse/epistemic verbs + the general
    * bio-event verbs whose morphology the suffix rules below don't catch.
    * (Event triggers themselves mostly end in -ate/-ates/-ated/-ating or
    * -ize family and are caught morphologically.)
    */
  private val verbStems = Set(
    "suggest", "show", "demonstrate", "indicate", "reveal", "hint", "imply",
    "predict", "hypothesize", "propose", "speculate", "argue", "believe",
    "think", "report", "observe", "find", "found", "conclude", "confirm",
    "detect", "measure", "assay", "identify", "influence", "monitor",
    "establish", "examine", "investigate", "test", "note", "see", "know",
    "expect", "appear", "seem", "occur", "increase", "decrease", "reduce",
    "block", "inhibit", "induce", "promote", "prevent", "suppress", "enhance",
    "stimulate", "trigger", "mediate", "regulate", "control", "modulate",
    "bind", "bound", "interact", "associate", "form", "move", "shuttle",
    "express", "transcribe", "require", "involve", "lead", "result",
    "contain", "comprise",
    "contribute", "cause", "affect", "abolish", "attenuate", "impair",
    "disrupt", "restore", "rescue", "precede", "follow", "depend", "drive",
    "abrogate", "augment", "diminish", "facilitate", "accelerate",
    // raising/control verbs: subjects reach the xcomp complement's event
    // through <xcomp nsubj ("MEK1 continues/fails to phosphorylate ERK2" —
    // the reference's syntax_1a cause path, simple-event_template.yml:16-20)
    "continue", "fail", "begin", "start", "cease", "stop", "tend", "serve",
    "help", "proceed", "remain", "persist")

  /** Control verbs that take a bare gerund complement in addition to the
    * to-infinitive ("RAS fails phosphorylating MEK", NegationTests sen7 —
    * same xcomp arc the Stanford parse gives the to-form). */
  private val gerundControlStems =
    Set("fail", "continue", "begin", "start", "cease", "stop", "keep", "avoid")
  private def isGerundControl(w: String): Boolean = {
    val l = w.toLowerCase
    gerundControlStems.exists(s =>
      l == s || l == s + "s" || l == s + "ed" || l == s + "d")
  }

  /** Irregular past participles the -ed/-en suffix check misses; only
    * consulted in participle CONTEXT (after an auxiliary, or reduced before
    * by/at/on), so "We found that ..." keeps its finite reading. */
  private val irregularPart = Set(
    "bound", "found", "held", "kept", "led", "lost", "made", "left")

  // precompiled (String.matches would recompile per call — this runs for
  // every token of every sentence in the extraction hot path)
  private val ateFamRe = Pattern.compile(""".*at(e|es|ed|ing)""")
  // [iy]z: -ize family plus -yze ("hydrolyzes" — taxonomy Hydrolysis)
  private val izeFamRe = Pattern.compile(""".*[iy]z(e|es|ed|ing)""")
  private val ptmInfixRe =
    Pattern.compile(""".*(ylat|itinat|osylat|ethylat|cetylat|umoylat).*""")
  private val ptmStemRe = Pattern.compile(
    """(de)?(phosphorylat|ubiquitinat|hydroxylat|acetylat|glycosylat|methylat|sumoylat|farnesylat|ribosylat)\w*""")

  private def isVerbWord(w: String, lemma: String): Boolean = {
    val l = w.toLowerCase
    def stemIn(s: String) = verbStems.contains(s)
    stemIn(lemma) || stemIn(l) ||
    stemIn(l.stripSuffix("s")) || stemIn(l.stripSuffix("es")) ||
    stemIn(l.stripSuffix("ed")) || stemIn(l.stripSuffix("d")) ||
    stemIn(l.stripSuffix("ing")) ||
    // -ate family: phosphorylates / ubiquitinated / translocating / binds...
    ateFamRe.matcher(l).matches() ||
    izeFamRe.matcher(l).matches() ||
    ptmInfixRe.matcher(l).matches() ||
    ptmStemRe.matcher(l).matches()
  }

  private val cdRe = Pattern.compile("""\d+(\.\d+)?""")
  // nominalizations stay nouns even when a verb suffix rule would fire
  private val nomRe = Pattern.compile(""".*(ion|ions|ment|ments|ance|ence|ity|ness|ism)""", Pattern.CASE_INSENSITIVE)

  /** Tag set: DT IN TO CC MD AUX NEG RB WDT PRP CD PUNCT JJ NN NNP VB VBN VBG.
    * `VBN` = participle contextually (after be/have or reduced before "by");
    * plain past stays VB — passivity is decided in arc building from the aux.
    */
  def posTags(words: Array[String], lemmas: Array[String],
              ner: Array[String]): Array[String] = {
    val n = words.length
    val tags = new Array[String](n)
    var i = 0
    while (i < n) {
      val w = words(i)
      val l = w.toLowerCase
      tags(i) =
        if (ner(i) != "O") "NNP"
        else if (w.length == 1 && !w.head.isLetterOrDigit) "PUNCT"
        else if (l == "to") "TO"
        else if (l == "which" || l == "who" || l == "whom" || l == "whose") "WDT"
        else if (l == "that") "THAT" // disambiguated below
        else if (negs.contains(l)) "NEG"
        else if (subord.contains(l)) "INS"
        else if (modals.contains(l)) "MD"
        else if (auxBe.contains(l)) "AUX"
        else if (auxHave.contains(l)) "AUX"
        else if (ccs.contains(l)) "CC"
        else if (det.contains(l)) "DT"
        else if (preps.contains(l)) "IN"
        else if (prons.contains(l)) "PRP"
        else if (cdRe.matcher(w).matches()) "CD"
        else if (l.endsWith("ly") && l.length > 3) "RB"
        else if (Set("also", "further", "subsequently", "then", "thus",
          "therefore", "however", "moreover", "instead", "together",
          "here", "there").contains(l)) "RB"
        else if (!nomRe.matcher(l).matches() && isVerbWord(w, lemmas(i))) {
          if (l.endsWith("ing")) "VBG" else "VB"
        }
        else "NN"
      i += 1
    }
    // context fixes
    i = 0
    while (i < n) {
      tags(i) match {
        case "TO" =>
          // prepositional "to" ("binds to ERK2", "translocates to the
          // nucleus"): infinitival only before a verb group. An -ed form
          // after "to" is a participial premodifier, never an infinitive
          // ("bind to ubiquitinated Ras" — infinitives are base-form)
          val edAfter = i + 1 < n && tags(i + 1) == "VB" &&
            words(i + 1).toLowerCase.endsWith("ed")
          if (i + 1 < n && ((!tags(i + 1).startsWith("V") &&
              tags(i + 1) != "AUX" && npStart(tags(i + 1))) || edAfter))
            tags(i) = "IN"
        case "THAT" =>
          val prev = if (i > 0) tags(i - 1) else ""
          tags(i) =
            if (prev.startsWith("V")) "WDT" // "suggest that ..." (comp)
            else if (prev == "NN" || prev == "NNP") "WDT" // relcl
            else "DT" // "that phosphorylation"
        case "NN" =>
          // temporal adverbs the -ly rule misses, in verb-group position
          // only ("is first phosphorylated", TestAssemblySieves tamSent2) —
          // after DT they stay nominal ("the first kinase")
          val l0 = words(i).toLowerCase
          val prev0 = if (i > 0) tags(i - 1) else ""
          if ((l0 == "first" || l0 == "now" || l0 == "already") &&
              (prev0 == "AUX" || prev0 == "MD")) tags(i) = "RB"
        case "VB" | "VBG" =>
          val l = words(i).toLowerCase
          val prev = if (i > 0) tags(i - 1) else ""
          // a "verb" right after a determiner is a noun ("these results",
          // "the increase")
          if (prev == "DT") tags(i) = "NN"
          // sentence-initial -ed participle heading an NP is a premodifier,
          // not an imperative: "Ubiquitinated Ras at Ser16 binds AKT"
          // (TestModifications ubiqVBNWithSite shapes) — English imperatives
          // are base-form, so an -ed form opening a sentence before a noun
          // can only be participial
          else if (i == 0 && l.endsWith("ed") && i + 1 < n &&
                   (tags(i + 1) == "NN" || tags(i + 1) == "NNP")) tags(i) = "JJ"
          // participial premodifier after a verb or preposition
          // ("demonstrates increased phosphorylation", "to ubiquitinated
          // Ras") joins the following NP
          else if (l.endsWith("ed") &&
                   (prev.startsWith("V") || prev == "IN")) tags(i) = "JJ"
          // -ed after a complementizer, heading an NP whose clause has its
          // own finite verb further right, is a premodifier: "suggest that
          // decreased PTEN expression increases ..." (TestRegulationEvents
          // sent36/38 — the amod must be visible to the semantic-negative
          // scan). With no later verb the -ed form IS the clause verb
          // ("suggest that X decreased Y phosphorylation").
          else if (l.endsWith("ed") && (prev == "WDT" || prev == "THAT")) {
            var j = i + 1
            while (j < n && npInner(tags(j))) j += 1
            if (j > i + 1 && j < n &&
                (tags(j) == "VB" || tags(j) == "AUX" || tags(j) == "MD"))
              tags(i) = "JJ"
          }
          else if (l.endsWith("ed") || l.endsWith("en") ||
                   irregularPart.contains(l)) {
            // participle context: "is/was/been V-ed" or "has V-ed"
            var j = i - 1
            while (j >= 0 && (tags(j) == "RB" || tags(j) == "NEG")) j -= 1
            if (j >= 0 && tags(j) == "AUX") tags(i) = "VBN"
            // reduced participle: "ERK2 phosphorylated by MEK1 binds ..."
            else if (j >= 0 && (tags(j) == "NN" || tags(j) == "NNP") &&
                     i + 1 < n && (words(i + 1).toLowerCase == "by" ||
                       words(i + 1).toLowerCase == "at" ||
                       words(i + 1).toLowerCase == "on" ||
                       // "AKT1 bound to GSK3 is ..." — irregulars only, so
                       // finite "ERK2 moved to the nucleus" is unaffected
                       (words(i + 1).toLowerCase == "to" &&
                         irregularPart.contains(l)))) tags(i) = "VBN"
          }
        case _ => ()
      }
      i += 1
    }
    tags
  }

  // ---- arc building ------------------------------------------------------

  private def npStart(tag: String): Boolean =
    tag == "DT" || tag == "JJ" || tag == "NN" || tag == "NNP" ||
      tag == "CD" || tag == "PRP"
  private def npInner(tag: String): Boolean =
    tag == "JJ" || tag == "NN" || tag == "NNP" || tag == "CD"

  def parse(sent: Sent): DepGraph = parse(sent.words, sent.lemmas, sent.ner)

  def parse(words: Array[String], lemmas: Array[String],
            ner: Array[String]): DepGraph = {
    val n = words.length
    val tags = posTags(words, lemmas, ner)
    val edges = mutable.ArrayBuffer.empty[DepEdge]

    def lc(i: Int) = words(i).toLowerCase

    /** Consume one base NP at i; returns (head, endExcl) with det/nn/amod
      * edges emitted; -1 head if not an NP here.
      */
    def baseNP(i0: Int): (Int, Int) = {
      if (i0 >= n || !npStart(tags(i0))) return (-1, i0)
      if (tags(i0) == "PRP") return (i0, i0 + 1)
      var j = i0
      if (tags(j) == "DT") j += 1
      val content0 = j
      while (j < n && npInner(tags(j))) j += 1
      if (j == content0) {
        // bare determiner — not an NP (e.g. "the" before a verb? degrade)
        return (-1, i0)
      }
      // head = last NN/NNP/CD
      var h = j - 1
      while (h > content0 && tags(h) == "JJ") h -= 1
      var k = i0
      while (k < j) {
        if (k != h) {
          val lab = tags(k) match {
            case "DT" => "det"
            case "JJ" => "amod"
            case _ => "nn"
          }
          edges += DepEdge(h, k, lab)
        }
        k += 1
      }
      (h, j)
    }

    /** Consume an NP group with coordination at i; returns
      * (representativeHead, endExcl). conj edges hang off the first head as
      * in collapsed Stanford. Lookahead refuses a conjunct that starts a new
      * clause (CC NP V...) — the caller handles clause coordination.
      */
    def npGroup(i0: Int): (Int, Int) = {
      val (h0, j0) = baseNP(i0)
      if (h0 < 0) return (-1, i0)
      var j = j0
      var done = false
      while (!done) {
        // separators: "CC NP" | ", NP" (list continues) | ", CC NP"
        var k = j
        var sawComma = false
        if (k < n && tags(k) == "PUNCT" && words(k) == ",") { k += 1; sawComma = true }
        val ccLab =
          if (k < n && tags(k) == "CC") { val l0 = lc(k); k += 1; Some(l0) }
          else None
        if (ccLab.isEmpty && !sawComma) done = true
        // a subordinator after the separator starts a new clause, never an
        // NP conjunct ("... bound 32P-GDP, while G12V-Ras bound ...")
        else if (k < n && Set("while", "whereas", "although", "though",
                   "because", "since", "when", "if", "unless",
                   "suggesting", "indicating")(lc(k))) {
          done = true
        } else if (ccLab.isEmpty && sawComma &&
                 (k >= n || !npStart(tags(k)) || tags(k) == "DT" || tags(k) == "PRP")) {
          // ", the ..." after an NP is an appositive/clause, not a list item
          done = true
        } else if (k < n && tags(k) == "PRP") {
          // a pronoun after the conjunction is a new clause's subject
          // ("..., and we hypothesize that ..."), never an NP conjunct
          done = true
        } else {
          val (h2, j2) = baseNP(k)
          // a conjunct immediately followed by a verb is a new clause
          // subject — UNLESS the verb is plural-form, where number agreement
          // proves a coordinated subject ("RAF and PI3K bind to Ras" vs
          // "A binds B and C phosphorylates D")
          def pluralVerbAt(j0: Int): Boolean = {
            var k2 = j0
            while (k2 < n && (tags(k2) == "RB" || tags(k2) == "NEG")) k2 += 1
            if (k2 >= n) false
            else tags(k2) match {
              case "AUX" => Set("are", "were", "have", "do",
                "remain")(lc(k2))
              case tg if tg.startsWith("V") => !lc(k2).endsWith("s")
              case _ => false
            }
          }
          // the plural-agreement escape only applies after an explicit CC:
          // in a comma list every non-final item is followed by another
          // separator, so ", NP V..." without a CC is a new clause even
          // when the verb form is number-ambiguous ("previous studies,
          // wild-type K-Ras bound ...")
          val clauseAhead = h2 >= 0 && j2 < n &&
            (tags(j2).startsWith("V") || tags(j2) == "AUX" ||
              tags(j2) == "MD") &&
            (ccLab.isEmpty || !pluralVerbAt(j2))
          if (h2 < 0 || clauseAhead) done = true
          else {
            val lab = "conj_" + ccLab.map {
              case "&" => "and"
              case x => x
            }.getOrElse("and")
            edges += DepEdge(h0, h2, lab)
            j = j2
          }
        }
      }
      (h0, j)
    }

    /** Consume a verb group (aux/modal/adv/neg prefix + main verb) at i;
      * returns (mainVerb, endExcl, passive) or (-1, i, false).
      */
    def verbGroup(i0: Int): (Int, Int, Boolean) = {
      var j = i0
      var sawBe = false
      val pre = mutable.ListBuffer.empty[(Int, String)]
      var guard = true
      while (guard && j < n) {
        tags(j) match {
          case "AUX" =>
            if (auxBe.contains(lc(j))) sawBe = true
            pre += ((j, "aux")); j += 1
          case "MD" => pre += ((j, "aux")); j += 1
          case "NEG" => pre += ((j, "neg")); j += 1
          case "RB" => pre += ((j, "advmod")); j += 1
          case _ => guard = false
        }
      }
      if (j < n && tags(j).startsWith("V")) {
        val v = j
        val passive = sawBe &&
          (tags(v) == "VBN" || lc(v).endsWith("ed") || lc(v).endsWith("en"))
        pre.foreach { case (p, lab0) =>
          val lab = if (lab0 == "aux" && passive && auxBe.contains(lc(p)))
            "auxpass" else lab0
          edges += DepEdge(v, p, lab)
        }
        (v, j + 1, passive)
      } else if (pre.nonEmpty && sawBe) {
        // copula without main verb ("X is a kinase") — treat the aux token
        // itself as the clause predicate
        val v = pre.head._1
        (v, j, false)
      } else if (pre.nonEmpty && !sawBe &&
                 pre.exists(p => Set("had", "has", "have")(lc(p._1)))) {
        // possession have/has/had with no verb following ("had high levels
        // of 32P", "has no effect on") — the have-word IS the main verb
        val v = pre.find(p => Set("had", "has", "have")(lc(p._1))).get._1
        pre.foreach { case (p, lab0) =>
          if (p != v) edges += DepEdge(v, p, lab0)
        }
        (v, j, false)
      } else (-1, i0, false)
    }

    // ---- main clause-level scan ----
    var i = 0
    var pendingSubj = -1   // subject candidate for the next verb
    var curVerb = -1       // current clause's main verb
    var curVerbPassive = false
    var dobjTaken = false
    var lastNPHead = -1    // most recent NP head anywhere (PP attachment for "of")
    var chainBase = -1     // nominal head governing the current PP chain
    var clauseCoordFrom = -1 // verb awaiting conj to next clause's verb
    var ccompFrom = -1     // verb awaiting ccomp to next clause's verb
    var relFrom = -1       // NP head awaiting rcmod to relcl verb
    var relObjSubj = -1    // subject NP inside an object relative
    var reducedVBN = -1    // vmod participle: keeps pendingSubj for the main verb
    var inSubCl = false    // inside a subordinate (INS-marked) clause
    var inRelcl = false
    var relOuter: (Int, Int, Boolean, Int) = (-1, -1, false, -1) // pendingSubj, curVerb, passive, chainBase

    while (i < n) {
      val t = tags(i)
      if (t == "PUNCT" && words(i) == "(") {
        // parenthetical: appos from preceding NP head to inner NP head
        var depth = 1
        var j = i + 1
        while (j < n && depth > 0) {
          if (words(j) == "(") depth += 1
          else if (words(j) == ")") depth -= 1
          if (depth > 0) j += 1
        }
        // inner content: collect every NP head inside — a parenthesized
        // list ("( K164 , 370 , ... and 386 )") yields one appositive per
        // member, as collapsed-Stanford conj-from-first-conjunct makes all
        // members reachable from the outer head (TestRegulationEvents
        // sent35 site enumerations)
        var ih = -1
        val innerHeads = scala.collection.mutable.ArrayBuffer.empty[Int]
        var k = i + 1
        while (k < j) {
          val (h2, j2) = baseNP(k)
          if (h2 >= 0) { ih = h2; innerHeads += h2; k = j2 } else k += 1
        }
        // alias-cue parenthetical ("(better known as ASPP2)"): the real
        // parse hangs the target under the participle via prep_as —
        // NOT as an appositive of the outer NP, so subject expansion
        // must not cross into it (the alias templates capture it instead)
        var cueIdx = -1
        var c = i + 1
        while (c < j && cueIdx < 0) {
          val lw = words(c).toLowerCase
          if (c < (if (ih >= 0) ih else j) &&
              (lw == "known" || lw == "referred" || lw == "designated" ||
               lw == "called" || lw == "termed" || lw == "named" ||
               lw == "alias" || lw == "aka" || lw.startsWith("a.k.a")))
            cueIdx = c
          c += 1
        }
        if (ih >= 0 && cueIdx >= 0)
          edges += DepEdge(cueIdx, ih, "prep_as")
        else if (ih >= 0 && lastNPHead >= 0)
          innerHeads.distinct.foreach(h =>
            edges += DepEdge(lastNPHead, h, "appos"))
        i = math.min(j + 1, n)
      } else if (t == "PUNCT" && words(i) == ",") {
        if (inSubCl && curVerb >= 0) {
          // the comma closes a sentence-initial subordinate clause ("Once
          // MEK1 had been phosphorylated, ERK2 was ubiquitinated") — the
          // main clause starts fresh
          inSubCl = false
          pendingSubj = -1; curVerb = -1; chainBase = -1; dobjTaken = false
          i += 1
        } else if (inRelcl) {
          // close the relative clause; restore outer state
          val (ps, cv, pv, cb) = relOuter
          pendingSubj = ps; curVerb = cv; curVerbPassive = pv; chainBase = cb
          dobjTaken = curVerb >= 0 && dobjTaken
          inRelcl = false
          relFrom = -1; relObjSubj = -1
          i += 1
        } else if (i + 1 < n && tags(i + 1) == "WDT") {
          // ", which ..." relative clause on the last NP head
          relFrom = lastNPHead
          inRelcl = true
          relOuter = (if (pendingSubj >= 0) pendingSubj else lastNPHead,
            curVerb, curVerbPassive, chainBase)
          curVerb = -1; chainBase = -1
          i += 2
        } else if (i + 3 < n &&
                   Set("both", "all", "each")(lc(i + 1)) &&
                   lc(i + 2) == "of" && tags(i + 3) == "WDT") {
          // ", both of which ..." — quantified relative on the last NP head
          // ("two subunits, IKKalpha and IKKbeta, both of which phosphorylate
          // IkappaB", DemoTests1): the subject paths widen over conj_and, so
          // anchoring the relative at the list head covers every member
          relFrom = lastNPHead
          inRelcl = true
          relOuter = (if (pendingSubj >= 0) pendingSubj else lastNPHead,
            curVerb, curVerbPassive, chainBase)
          curVerb = -1; chainBase = -1
          i += 4
        } else if (i + 1 < n && lastNPHead >= 0 && {
          // alias apposition ", [RB] known|referred|called as X[, Y, or Z],"
          // — skip to its closing comma so the outer clause's subject
          // survives ("Akt1, previously known as Akt334, is phosphorylated")
          val c = if (tags(i + 1) == "RB" && i + 2 < n) i + 2 else i + 1
          words(c).toLowerCase.matches(
            "known|referred|called|termed|named|designated|alias|aka|a\\.k\\.a\\.?")
        }) {
          // the target series may contain internal commas ("Akt334, AktTR,
          // or Akt4H,") — stop only at the comma that resumes the clause
          // (followed by a verb group or determiner)
          var j = i + 1
          var last = -1
          var stop = false
          while (j < n && !stop && j - i <= 20) {
            if (tags(j) == "PUNCT" && words(j) == ",") {
              val nt = if (j + 1 < n) tags(j + 1) else ""
              if (nt == "AUX" || nt == "MD" || nt.startsWith("V") ||
                  nt == "DT" || nt == "RB" || j + 1 == n) stop = true
              else j += 1
            } else {
              if (tags(j) == "NN" || tags(j) == "NNP") last = j
              j += 1
            }
          }
          // alias targets hang off the anchor as appositions
          if (last >= 0) edges += DepEdge(lastNPHead, last, "appos")
          i = if (stop) j + 1 else i + 1
        } else if (i + 1 < n && tags(i + 1) == "DT" && lastNPHead >= 0) {
          // appositive ", a dual-specificity kinase,"
          val (h2, j2) = baseNP(i + 1)
          if (h2 >= 0 && j2 < n && tags(j2) == "PUNCT" && words(j2) == ",") {
            edges += DepEdge(lastNPHead, h2, "appos")
            i = j2 + 1
          } else if (h2 >= 0 && j2 <= n && (j2 == n || tags(j2) == "WDT" ||
                     tags(j2) == "PUNCT")) {
            // appositive carrying a relative or closing the sentence:
            // "K-Ras, a protein that binds p53." — emit the appos edge and
            // reparse the NP normally so the relative attaches to its head
            edges += DepEdge(lastNPHead, h2, "appos")
            i += 1
          } else i += 1
        } else i += 1
      } else if (t == "CC" || (t == "PUNCT" && words(i) == ";")) {
        // possible clause coordination: "..., and we hypothesize ..."
        if (curVerb >= 0) {
          clauseCoordFrom = curVerb
          curVerb = -1; chainBase = -1; dobjTaken = false; pendingSubj = -1
        }
        i += 1
      } else if (t == "INS") {
        // subordinate-clause marker: close the current clause so neither
        // clause leaks arguments into the other ("ERK2 was ubiquitinated
        // when MEK1 had been phosphorylated" — MEK1 must not become an
        // object of "ubiquitinated"); no advcl edge is emitted (the event
        // grammars don't pattern over advcl)
        inSubCl = true
        pendingSubj = -1; curVerb = -1; chainBase = -1; dobjTaken = false
        i += 1
      } else if (t == "WDT") {
        val prevTag = if (i > 0) tags(i - 1) else ""
        if (prevTag.startsWith("V") || prevTag == "AUX") {
          // complementizer after verb: "suggest that S"
          ccompFrom = curVerb
          curVerb = -1; chainBase = -1; dobjTaken = false; pendingSubj = -1
        } else if (lastNPHead >= 0) {
          // bare relative: "the kinase that MEK1 phosphorylates"
          relFrom = lastNPHead
          inRelcl = true
          relOuter = (if (pendingSubj >= 0) pendingSubj else lastNPHead,
            curVerb, curVerbPassive, chainBase)
          curVerb = -1; chainBase = -1
        }
        i += 1
      } else if (t == "IN") {
        val p = lc(i)
        val (h2, j2) = npGroup(i + 1)
        if (h2 < 0) {
          // gerund complement of a preposition ("induces ... by binding
          // to ..."): collapsed-Stanford prepc_* edge from the governing
          // verb to the gerund, kept as prep_* for path uniformity
          if (i + 1 < n && tags(i + 1) == "VBG" && curVerb >= 0)
            edges += DepEdge(curVerb, i + 1, "prep_" + p)
          i += 1
        }
        else {
          val gov =
            if (p == "of") {
              if (chainBase < 0 && lastNPHead >= 0) chainBase = lastNPHead
              lastNPHead
            } else if (p == "by") {
              if (chainBase >= 0) chainBase
              else if (curVerb >= 0) curVerb
              else lastNPHead
            } else if (chainBase >= 0 && (p == "at" || p == "on")) chainBase
            else if (curVerb >= 0) curVerb
            else if (chainBase >= 0) chainBase
            else lastNPHead
          if (gov >= 0) {
            val lab =
              if (p == "by" && gov == curVerb && curVerbPassive) "agent"
              else "prep_" + p
            edges += DepEdge(gov, h2, lab)
          }
          lastNPHead = h2
          i = j2
        }
      } else if (t == "TO" && {
          // adverbs are transparent: "able to correctly phosphorylate"
          var k = i + 1
          while (k < n && (tags(k) == "RB" || tags(k) == "NEG")) k += 1
          k < n && tags(k).startsWith("V")
        }) {
        // xcomp: "fails to phosphorylate"
        val (v2, j2, pv2) = verbGroup(i + 1)
        if (v2 >= 0) {
          if (curVerb >= 0) edges += DepEdge(curVerb, v2, "xcomp")
          curVerb = v2; curVerbPassive = pv2; dobjTaken = false; chainBase = -1
          i = j2
        } else i += 1
      } else if (t.startsWith("V") || t == "AUX" || t == "MD" ||
                 (t == "RB" && i + 1 < n &&
                   (tags(i + 1).startsWith("V") || tags(i + 1) == "AUX" ||
                     tags(i + 1) == "MD")) ||
                 (t == "NEG" && i + 1 < n && tags(i + 1).startsWith("V"))) {
        val (v, j2, passive) = verbGroup(i)
        if (v < 0) i += 1
        else {
          if (curVerb >= 0 && v != reducedVBN && tags(v) == "VBG" &&
              pendingSubj < 0 && isGerundControl(words(curVerb))) {
            // bare gerund complement of a control verb — same xcomp as the
            // to-infinitive branch above
            edges += DepEdge(curVerb, v, "xcomp")
            curVerb = v; curVerbPassive = false; dobjTaken = false
            chainBase = -1
            i = j2
          } else if (v == reducedVBN) {
            // reduced participle ("ERK2 phosphorylated by MEK1 binds ..."):
            // the vmod edge is already in place; the NP stays pendingSubj
            // for the upcoming main verb, and a by-phrase is agentive
            reducedVBN = -1
            curVerb = v; curVerbPassive = true; dobjTaken = false
            chainBase = -1
            i = j2
          } else {
          if (inRelcl && relFrom >= 0) {
            edges += DepEdge(relFrom, v, "rcmod")
            if (relObjSubj >= 0) {
              edges += DepEdge(v, relObjSubj, "nsubj")
              edges += DepEdge(v, relFrom, "dobj")
              relObjSubj = -1
            } else {
              edges += DepEdge(v, relFrom,
                if (passive) "nsubjpass" else "nsubj")
            }
            relFrom = -1
          } else if (pendingSubj >= 0) {
            edges += DepEdge(v, pendingSubj,
              if (passive) "nsubjpass" else "nsubj")
            pendingSubj = -1
          }
          if (clauseCoordFrom >= 0) {
            edges += DepEdge(clauseCoordFrom, v, "conj_and")
            clauseCoordFrom = -1
          }
          if (ccompFrom >= 0) {
            edges += DepEdge(ccompFrom, v, "ccomp")
            ccompFrom = -1
          }
          // participial adjunct: ", suggesting/indicating ..." hangs off the
          // current clause's verb (Stanford vmod/advcl) — this is the arc
          // the hypothesis 2-hop scope travels (HypothesisHandler shapes)
          if (curVerb >= 0 && v != curVerb && tags(v) == "VBG" &&
              i > 0 && words(i - 1) == ",")
            edges += DepEdge(curVerb, v, "vmod")
          curVerb = v; curVerbPassive = passive; dobjTaken = false
          chainBase = -1
          i = j2
          }
        }
      } else if (npStart(t)) {
        val (h, j2) = npGroup(i)
        if (h < 0) i += 1
        else {
          // reduced participle right after the NP: "ERK2 phosphorylated by
          // MEK1 binds ..." -> vmod(ERK2, phosphorylated)
          if (j2 < n && tags(j2) == "VBN") {
            edges += DepEdge(h, j2, "vmod")
            reducedVBN = j2
          }
          if (inRelcl && relFrom >= 0 && curVerb < 0) {
            // NP between "that/which" and the verb: object relative subject
            relObjSubj = h
          } else if (curVerb < 0) {
            pendingSubj = h
          } else if (!dobjTaken) {
            if (curVerbPassive) {
              // a passive verb takes no direct object — an NP after a
              // completed passive clause opens a new clause and becomes the
              // next verb's subject candidate
              pendingSubj = h
            } else {
              edges += DepEdge(curVerb, h, "dobj")
              dobjTaken = true
              // a nominal object can govern a following PP chain:
              // "suggests the phosphorylation of MEK" -> prep_of(phosphorylation)
              chainBase = -1
            }
          } else {
            // stray NP after object (no preposition) — attach as dep
            edges += DepEdge(curVerb, h, "dep")
          }
          lastNPHead = h
          i = j2
        }
      } else i += 1
    }

    new DepGraph(n, tags, edges.toArray)
  }
}
