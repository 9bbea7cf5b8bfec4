package graft.kg

import graft.model._
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Dataset, SparkSession}

/** Linguistic front-end: sentence split, tokenize, lemma-lite, dictionary/trie
  * NER. Stand-in for the reference's BioNLPProcessor.annotate
  * (reference: ReachSystem.scala:54-59) — self-contained and deterministic
  * because no CoreNLP/processors dependency exists in the sandbox
  * (SURVEY.md §7.0).
  *
  * Everything is row-local (one turn in, one annotated turn out): a pure `map`,
  * no shuffle. This is the stage where a 100 TB scan is embarrassingly parallel;
  * the per-partition trie is built once per partition from a broadcast lexicon.
  */
object Annotate {

  /** Longest-match trie over lexicon phrases (tokenized). Node children keyed by
    * lower-cased token. The reference analogue is the HashTrie rescan used for
    * aliases (coref/InstanceFinder.scala:9-34); here it drives primary NER.
    */
  final class Trie(stopList: Set[String] = Lexicon.nerStopList)
      extends Serializable {
    final class Node extends Serializable {
      var children: Map[String, Node] = Map.empty
      var label: String = null // non-null => phrase ends here
      // case-sensitive surfaces registered at this node (case variants of the
      // same symbol, e.g. "SRC" and "Src", share one lowercased key)
      var surfaces: Set[String] = Set.empty
      var anyCase: Boolean = false // some surface here matches any casing
    }
    val root = new Node

    def add(phrase: String, label: String): Unit = {
      val toks = Tokenizer.tokenize(phrase).map(_._1)
      var cur = root
      toks.foreach { t =>
        val k = t.toLowerCase
        cur = cur.children.getOrElse(k, {
          val n = new Node; cur.children += k -> n; n
        })
      }
      cur.label = label
      // short all-caps/mixed gene symbols match case-sensitively to avoid
      // matching common words; lowercase dictionary words match any case.
      // Title-case variants of registered symbols are accepted ("Akt" for
      // "AKT", "Mek" for "MEK" — the reference dictionaries carry these
      // variants) unless the lowercase form is a stop-listed common word
      // ("Bad" stays a word; "BAD" stays the protein — ner_stoplist.txt)
      if (phrase.exists(_.isUpper) && phrase.length <= 6) {
        cur.surfaces += phrase
        // title-case and ALL-CAPS variants of registered symbols are
        // accepted ("Akt"/"AKT" for "AKT", "RAS" for "Ras" — the reference
        // dictionaries carry these case variants; TestModifications
        // mutantTest9-14 use all-caps "RAS") unless the lowercase form is a
        // stop-listed common word ("Bad" stays a word — ner_stoplist.txt)
        if (!stopList.contains(phrase.toLowerCase)) {
          val title = phrase.toLowerCase.capitalize
          if (title != phrase) cur.surfaces += title
          val upper = phrase.toUpperCase
          if (upper != phrase) cur.surfaces += upper
        }
      }
      else cur.anyCase = true
    }

    /** Scan tokens; return (startTok, endTokExcl, label) for longest matches. */
    def scan(words: Array[String]): List[(Int, Int, String)] = {
      val out = List.newBuilder[(Int, Int, String)]
      var i = 0
      while (i < words.length) {
        var cur = root
        var j = i
        var best = -1
        var bestLabel: String = null
        var ok = true
        while (ok && j < words.length) {
          cur.children.get(words(j).toLowerCase) match {
            case Some(n) =>
              cur = n; j += 1
              if (n.label != null) {
                val exact = n.anyCase ||
                  n.surfaces.contains(words.slice(i, j).mkString(" "))
                if (exact) { best = j; bestLabel = n.label }
              }
            case None => ok = false
          }
        }
        if (best > 0) { out += ((i, best, bestLabel)); i = best }
        else i += 1
      }
      out.result()
    }
  }

  object Tokenizer {
    // word chars incl. biomedical symbol chars (hyphen/slash/dot inside tokens),
    // n't contractions, or single punctuation
    // underscore / ">" / Greek Δ stay inside tokens for HGVS mutation codes
    // ("M27_K29del", "76A>T", "ΔF508" — TestModifications mutantTest16-21)
    private val tokenRe =
      """[A-Za-z]+n['’]t|[A-Za-z0-9Δ](?:[A-Za-z0-9/\-\._>]*[A-Za-z0-9])?|[^\sA-Za-z0-9]""".r

    /** (token, charStart) pairs. Negative clitics split PTB-style, exactly as
      * the reference's CoreNLP tokenizer does: "doesn't" -> "does" + "n't",
      * "can't" -> "ca" + "n't" — so negation and aux patterns see "n't" as a
      * full token.
      */
    // hyphen-fused trigger suffixes split off as their own token, as the
    // reference's bio tokenizer post-processing does ("p53-phosphorylation
    // of ERK" -> cause p53 + nominal trigger, TestRegulationEvents sent32;
    // "AKT-induced apoptosis" sent56; "E2-induced SRC-3 phosphorylation"
    // sent41). The suffix vocabulary is the modification stems (kept in
    // sync with BioRules.modStems) plus the participial reg triggers;
    // anything else ("SRC-3", "K650E-AKT1", "dominant-negative", "Mad-Max")
    // stays one token.
    private val hyphenSuffixRe =
      """(?i)(?:de-?)?(?:phosphorylat|ubiquitinat|hydroxylat|sumoylat|glycosylat|acetylat|farnesylat|ribosylat|methylat)(?:e|es|ed|ing|ions?)|hydrolys[ei]s|induced|mediated|stimulated|driven|triggered|bound|loaded|binding""".r
    // substitution-mutation code fused to an entity ("K650E-FGFR3 mutants"):
    // the code splits off so the trie sees the bare entity and the leftward
    // mutant-list scan in BioRules.attachMods picks up the code
    private val hyphenMutantPrefixRe =
      """[ACDEFGHIKLMNPQRSTVWY]\d{1,4}[ACDEFGHIKLMNPQRSTVWY]""".r

    // residue / mutation code ("T202", "K156M"): slash-joined runs of these
    // split into separate tokens ("ERK(T202/Y204)" -> two sites; "K156M/
    // H204M" -> two mutations), while non-code runs ("F446/472/589" position
    // lists, "PI3K/Akt", "ERK1/2") stay fused
    private val slashCodeRe = """[A-Za-z]{1,3}\d{1,4}[A-Za-z]?""".r

    def tokenize(text: String): Array[(String, Int)] =
      tokenRe.findAllMatchIn(text).flatMap { m =>
        val w = m.matched
        if (w.length > 3 && (w.endsWith("n't") || w.endsWith("n’t")))
          Seq((w.dropRight(3), m.start), ("n't", m.start + w.length - 3))
        else {
          val h = w.indexOf('-')
          if (h > 0 && h < w.length - 1) {
            val pre = w.substring(0, h)
            val post = w.substring(h + 1)
            if (hyphenSuffixRe.pattern.matcher(post).matches() ||
                hyphenMutantPrefixRe.pattern.matcher(pre).matches())
              Seq((pre, m.start), (post, m.start + h + 1))
            else Seq((w, m.start))
          } else if (w.indexOf('/') > 0) {
            val parts = w.split('/')
            if (parts.length >= 2 &&
                parts.forall(p => slashCodeRe.pattern.matcher(p).matches())) {
              var off = m.start
              parts.iterator.zipWithIndex.flatMap { case (p, k) =>
                val r =
                  if (k == 0) Seq((p, off))
                  else Seq(("/", off - 1), (p, off))
                off += p.length + 1
                r
              }.toSeq
            } else Seq((w, m.start))
          } else Seq((w, m.start))
        }
      }.toArray

    private val sentSplit = """(?<=[.!?])\s+(?=[A-Z0-9])""".r
    // a period that belongs to an abbreviation is not a sentence boundary
    // ("Akt1 (a.k.a. Akt334) ..." — the CoreNLP splitter the reference uses
    // knows these; without the guard the alias series is torn apart)
    private val abbrevTail =
      """(?i)(?:\b(?:a\.k\.a|e\.g|i\.e|etc|vs|cf|ca|approx|no|fig)\.)$""".r
    def sentences(text: String): Array[String] = {
      val t = text.trim
      if (t.isEmpty) return Array.empty
      val parts = Array.newBuilder[String]
      var start = 0
      sentSplit.findAllMatchIn(t).foreach { m =>
        if (abbrevTail.findFirstIn(t.substring(start, m.start)).isEmpty) {
          parts += t.substring(start, m.start)
          start = m.end
        }
      }
      parts += t.substring(start)
      parts.result()
    }
  }

  /** Rule-based lemma-lite: enough for trigger matching (phosphorylates /
    * phosphorylated / phosphorylation -> phosphorylat-family handled by the rule
    * regexes; here we just normalize inflection).
    */
  def lemma(word: String): String = {
    val w = word.toLowerCase
    if (w.length <= 3) w
    else if (w.endsWith("ies") && w.length > 4) w.dropRight(3) + "y"
    else if (w.endsWith("sses")) w.dropRight(2)
    else if (w.endsWith("es") && (w.endsWith("ches") || w.endsWith("shes") || w.endsWith("xes"))) w.dropRight(2)
    else if (w.endsWith("s") && !w.endsWith("ss") && !w.endsWith("us") && !w.endsWith("is")) w.dropRight(1)
    else w
  }

  def buildTrie(lexicon: Seq[(String, String)],
                stopList: Set[String] = Lexicon.nerStopList): Trie = {
    val t = new Trie(stopList)
    lexicon.foreach { case (p, l) => t.add(p, l) }
    t
  }

  private val fusedPtmRe =
    java.util.regex.Pattern.compile("(?i)(p|pp|phospho|phos|u)-(.+)")

  // complex-context words licensing a fused entity-pair split
  private val pairCtx = Set("complex", "complexes", "heterodimer",
    "heterodimers", "dimer", "dimers", "interaction", "interactions")
  /** Split a fused entity-chain token ("Ku70/Ku80 complex", "heterodimer
    * AKT1-GSK3", "the MEK1-ERK2-AKT1 complex") into alternating entity and
    * separator tokens when EVERY part is a single-token lexicon entity and
    * an adjacent token is a complex/dimer/interaction word — the reference's
    * complex_entity relation rules read exactly these shapes (pairs) and
    * its n-mer complex tokens flatten to a Complex with one theme per part
    * (TestOutputDegrader sent6: "The Mek-Ras-Akt1 complex" -> 3 themes).
    * Elsewhere fused chains stay one token, as the reference keeps e.g.
    * "RAS-GTP" a single entity.
    */
  private def splitPairToks(trie: Trie,
                            toks: Array[(String, Int)]): Array[(String, Int)] = {
    def isEntity(w: String): Boolean = trie.scan(Array(w)) match {
      case (0, 1, _) :: _ => true
      case _ => false
    }
    val out = Array.newBuilder[(String, Int)]
    var i = 0
    while (i < toks.length) {
      val (w, st) = toks(i)
      val ctx =
        (i > 0 && pairCtx.contains(toks(i - 1)._1.toLowerCase)) ||
        (i + 1 < toks.length && pairCtx.contains(toks(i + 1)._1.toLowerCase))
      // alternating [entity, sep, entity, sep, ...] with >=2 entity parts
      val parts =
        if (ctx && w.exists(c => c == '-' || c == '/' || c == '–'))
          w.split("(?=[-/–])|(?<=[-/–])")
        else Array.empty[String]
      val isChain = parts.length >= 3 && parts.length % 2 == 1 &&
        parts.zipWithIndex.forall { case (p, k) =>
          if (k % 2 == 0) p.nonEmpty && !p.exists(c => c == '-' || c == '/' || c == '–') && isEntity(p)
          else p.length == 1
        }
      if (isChain) {
        var off = st
        parts.foreach { p => out += ((p, off)); off += p.length }
      } else out += ((w, st))
      i += 1
    }
    out.result()
  }

  def annotateText(trie: Trie, text: String): Array[Sent] = {
    Tokenizer.sentences(text).zipWithIndex.map { case (stext, si) =>
      val toks = splitPairToks(trie, Tokenizer.tokenize(stext))
      val words = toks.map(_._1)
      val starts = toks.map(_._2)
      val lemmas = words.map(lemma)
      val ner = Array.fill(words.length)("O")
      trie.scan(words).foreach { case (s, e, lab) =>
        ner(s) = "B-" + lab
        var k = s + 1
        while (k < e) { ner(k) = "I-" + lab; k += 1 }
      }
      // fused PTM prefixes: "p-ERK2" / "phospho-AKT1" tokenize as ONE token
      // (hyphen is token-internal), so the trie misses them; probe the
      // stripped remainder and tag the full token — the PTM itself is
      // attached as a modification downstream (BioRules.attachMods)
      var i = 0
      while (i < words.length) {
        if (ner(i) == "O") {
          val m = fusedPtmRe.matcher(words(i))
          if (m.matches()) {
            trie.scan(Array(m.group(2))) match {
              case (0, 1, lab) :: _ => ner(i) = "B-" + lab
              case _ => ()
            }
          }
        }
        i += 1
      }
      Sent(si, words, lemmas, ner, starts, stext)
    }
  }

  /** The annotate stage: Dataset[Turn] -> Dataset[AnnotatedTurn]. Tool turns are
    * dropped (reference `ignoreSections` filtering, application.conf:42 — the
    * role filter analogue) *before* any work, so the filter prunes the scan.
    */
  def apply(spark: SparkSession, turns: Dataset[Turn],
            bTrie: Broadcast[Trie]): Dataset[AnnotatedTurn] = {
    import spark.implicits._
    turns.filter(t => KgCore.keep(t)).map(KgCore.annotate(bTrie.value, _))
  }
}
