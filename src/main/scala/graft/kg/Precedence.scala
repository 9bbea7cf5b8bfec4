package graft.kg

import org.apache.spark.sql.DataFrame

/** One causal-precedence relation: the `before` event precedes the `after`
  * event, both identified by (pred, obj, turn) within one conversation, and
  * the sieve that found it. */
final case class PrecedenceRow(
    conv_id: String, before_pred: String, before_obj: String,
    before_turn: Int, after_pred: String, after_obj: String, after_turn: Int,
    sieve: String)

/** Causal-precedence sieves over the materialized edges (reference:
  * assembly/src/main/scala/org/clulab/reach/assembly/sieves/Sieves.scala):
  *
  *  1. inter-sentential rule-based (:240-281 + intersentential.yml): an
  *     event opening its sentence after a discourse cue pairs with the
  *     events of the nearest preceding event-bearing sentence. "after"
  *     cues ("then", "subsequently", "as a result", timex advmod) put the
  *     cued event AFTER them; "before" cues ("previously", "prior to
  *     this") put it BEFORE. The reference pairs with sentence-1 exactly;
  *     transcripts interleave event-less tool/ack turns, so the
  *     domain-right generalization is nearest event-bearing sentence
  *     within `lookback` turns.
  *  2. intra-sentential rule-based (:58-84 + intrasentential.yml): an
  *     event whose trigger is preceded by a connective pairs with the
  *     nearest earlier-trigger event in the same sentence — keep-order
  *     connectives ("before", "precedes", "thereby", "results in") leave
  *     textual order; swap connectives ("after", "following", "due to",
  *     "dependent on", "in response to", "result of") invert it.
  *  3. Reichenbach tense/aspect (:93-240 + tense_aspect.yml): the
  *     reference's (tense, aspect) x (tense, aspect) decision table over
  *     trigger tense+aspect markers computed at extraction time, applied
  *     to textually-ordered event pairs. The reference scans all pairs per
  *     document; at 10^12 turns that is quadratic per conversation, so
  *     pairs are bounded to `lookback` turns (the TAM cues themselves are
  *     sentence-local, so long-range pairs add noise, not signal).
  *  4. feature-based classifier with shared arguments (:302-322), see
  *     [[candidates]] and [[PairClassifier]].
  *
  * Every sieve applies the reference's isValidRelationPair constraints
  * (Constraints.scala:127-160): the two events must be distinct, a
  * regulation is never paired with its own controlled, and two activations
  * must not share their controlled. Earlier sieves win on duplicate pairs
  * in either direction (the reference's noExistingPrecedence guard).
  *
  * Plan shape: the sieves run over one conversation's edges at a time, as
  * the reference's run over one document's mentions ([[ofConversation]]),
  * so [[precedence]] is one `groupByKey(conv_id).flatMapGroups` — one
  * shuffle exchange. Candidate partners are looked up through a turn
  * index, so a conversation costs O(edges x window), not O(edges^2).
  */
object Precedence {

  /** Turns sieves 1 and 3 look back for a partner. */
  private val lookback = 3

  /** Sieve 4's sentential window (reference kWindow default 1,
    * reference.conf:24). */
  private val kWindow = 1

  /** Connectives whose marked (textually later) event PRECEDES the earlier
    * one (intrasentential.yml assembly-prep-syntax-2 "after|following",
    * assembly-verb-syntax-2a "follows", -syntax-3 "due to|because of",
    * -syntax-3/surface-5 "result of", surface-3 "in response to",
    * -dependent-on).
    */
  private val intraSwapCues = Set("after", "following", "follows",
    "followed", "due_to", "because_of", "in_response_to", "dependent_on",
    "result_of", "results_from")

  /** The reference's Reichenbach decision table (Sieves.scala:120-149),
    * keyed by "tense[|perf]" markers of the textually-first and -second
    * events; values: "before" (first precedes second) / "after" (second
    * precedes first).
    */
  private val reichenbach: Map[(String, String), String] = Map(
    ("past|perf", "past") -> "before",
    ("past|perf", "present") -> "before",
    ("past|perf", "present|perf") -> "before",
    ("past|perf", "future") -> "before",
    ("past|perf", "future|perf") -> "before",
    ("past", "future") -> "before",
    ("past", "future|perf") -> "before",
    ("present", "future") -> "before",
    ("present|perf", "future") -> "before",
    ("present|perf", "future|perf") -> "before",
    ("past", "past|perf") -> "after",
    ("present", "past|perf") -> "after",
    ("present|perf", "past|perf") -> "after",
    ("future", "past") -> "after",
    ("future", "past|perf") -> "after",
    ("future", "present") -> "after",
    ("future", "present|perf") -> "after",
    ("future|perf", "past") -> "after",
    ("future|perf", "past|perf") -> "after",
    ("future|perf", "present|perf") -> "after")

  /** Constraints.isValidRelationPair (reference :127-160): distinct events;
    * a regulation never pairs with its own controlled; two activations
    * must not share their controlled.
    */
  private def validPair(a: EdgeRow, b: EdgeRow): Boolean =
    (a.pred != b.pred || a.obj != b.obj) &&
      a.obj != KgExport.eventKey(b.pred, b.obj, b.site) &&
      b.obj != KgExport.eventKey(a.pred, a.obj, a.site) &&
      !(a.pred.contains("activation") && b.pred.contains("activation") &&
        a.obj == b.obj)

  private def row(before: EdgeRow, after: EdgeRow, sieve: String) =
    PrecedenceRow(before.conv_id, before.pred, before.obj, before.turn_idx,
      after.pred, after.obj, after.turn_idx, sieve)

  /** The edges of turns `from` until `until`, through a turn index. */
  private def inTurns(byTurn: Map[Int, Seq[EdgeRow]], from: Int,
                      until: Int): Seq[EdgeRow] =
    (from until until).flatMap(byTurn.getOrElse(_, Nil))

  /** Textual order within a turn. */
  private def earlier(a: EdgeRow, b: EdgeRow): Boolean =
    a.sent_idx < b.sent_idx ||
      (a.sent_idx == b.sent_idx && a.trig_start < b.trig_start)

  // ---- sieve 4: feature-based classifier (shared-args variant) -----------

  /** Classifier labels (reference: AssemblyRelationClassifier.scala label
    * set; Sieves.classifyCausalPrecedencePairs:486-511 keeps non-NEG).
    */
  val E1PrecedesE2 = "E1PrecedesE2"
  val E2PrecedesE1 = "E2PrecedesE1"
  val NEG = "NEG"

  /** A gated sieve-4 pair, `a` textually before `b`, with its features: the
    * subset of FeatureExtractor.mkFeatures computable exactly from the edge
    * table (label pair, cross-sentence flag, turn/sentence/trigger
    * distances, tense pair, the shared ids). Token-level surface features
    * (interceding n-grams, syntactic paths) would ride the edge table as
    * extra columns if a trained model needed them — the edge table
    * deliberately does not carry sentence text.
    */
  final case class Candidate(a: EdgeRow, b: EdgeRow, sharedIds: Seq[String]) {
    def labelPair: String = s"${a.pred}|${b.pred}"
    def crossSent: Boolean =
      a.turn_idx != b.turn_idx || a.sent_idx != b.sent_idx
    def turnDist: Int = b.turn_idx - a.turn_idx
    def sentDist: Int =
      if (a.turn_idx == b.turn_idx) b.sent_idx - a.sent_idx else -1
    def trigDist: Int = if (!crossSent) b.trig_start - a.trig_start else -1
    def tensePair: String = s"${a.tense}|${b.tense}"
  }

  /** Pluggable causal-precedence pair classifier — the reproducible face of
    * the reference's `featureBasedClassifierWithSharedArgs` sieve
    * (Sieves.scala:302-322). The trained model it loads (`fbc.model`,
    * named at assembly reference.conf:44) is NOT vendored in the reference
    * tree, so what is reproducible from public content is: the candidate
    * gating (withinWindow ∘ shareArg ∘ isValidRelationPair,
    * Constraints.scala:43-160), the features of [[Candidate]], and this
    * interface — with a deterministic default standing in for the absent
    * model. `classify` returns a candidate's label (E1PrecedesE2 /
    * E2PrecedesE1 / NEG) and score.
    */
  trait PairClassifier extends Serializable {
    def name: String
    def classify(c: Candidate): (String, Double)
  }

  /** Deterministic default: a gated pair (within window, sharing an input
    * participant, constraint-valid) is labeled in narrative order —
    * E1PrecedesE2 with a flat 0.5 score. Narrative order as the prior for
    * shared-participant event pairs is the assembly literature's baseline
    * intuition, and it is exactly reproducible by any SQL engine (the
    * oracle requirement); swap in a real model via [[PairClassifier]].
    */
  object NarrativeOrderClassifier extends PairClassifier {
    val name = "narrative-order-default"
    def classify(c: Candidate): (String, Double) = (E1PrecedesE2, 0.5)
  }

  private val InnerIds = "\\(([^@)]+)".r

  /** Input-participant grounding ids of an edge (the reference's
    * `getInput`/EntityEventRepresentation.I, Constraints.scala:45-54): the
    * theme/controlled participants packed in `obj` ("a&b" n-mers; a
    * regulation's composite "Pred(inner@site)" contributes its inner id)
    * plus the controller in `subj`.
    */
  private def inputIds(e: EdgeRow): Seq[String] = {
    val inner =
      if (e.obj.contains("(")) KgExport.group1(InnerIds, e.obj) else e.obj
    (inner.split("&", -1).toSeq :+ e.subj).filter(_.nonEmpty).distinct
  }

  /** The gated sieve-4 pairs of one conversation's edges. Gating =
    * `meetsRequirements` (Sieves.scala:304-310): within the sentential
    * window (interpreted over the (turn_idx, sent_idx) lattice: same turn
    * and |Δsent| <= `kWindow`, or Δturn <= `kWindow`, since transcripts
    * make the turn the sentence group), sharing an input participant by
    * grounding id (Constraints.shareArg:43-67 fuzzyIntersects), and
    * isValidRelationPair. Pairs are oriented textually, so every unordered
    * pair appears once and classification is deterministic.
    */
  def candidates(convEdges: Seq[EdgeRow]): Seq[Candidate] = {
    val byTurn = convEdges.groupBy(_.turn_idx)
    convEdges.flatMap { b =>
      val partners = inTurns(byTurn, b.turn_idx - kWindow, b.turn_idx) ++
        byTurn(b.turn_idx).filter(a => earlier(a, b) &&
          math.abs(a.sent_idx - b.sent_idx) <= kWindow)
      partners.filter(validPair(_, b)).flatMap { a =>
        val shared = inputIds(a).intersect(inputIds(b))
        if (shared.nonEmpty) Some(Candidate(a, b, shared)) else None
      }
    }
  }

  /** The feature-based sieve over one conversation's edges: gate, classify,
    * keep non-NEG, orient by the label (classifyCausalPrecedencePairs:
    * 486-511 shape; the noExistingPrecedence guard is the cross-sieve dedup
    * in [[ofConversation]]). Each row comes with its score.
    */
  def featureBased(convEdges: Seq[EdgeRow],
                   clf: PairClassifier = NarrativeOrderClassifier)
      : Seq[(PrecedenceRow, Double)] = {
    val sieve = "feature-based-classifier:" + clf.name
    candidates(convEdges).flatMap { c =>
      val (label, score) = clf.classify(c)
      if (label == NEG) None
      else if (label == E1PrecedesE2) Some((row(c.a, c.b, sieve), score))
      else Some((row(c.b, c.a, sieve), score))
    }
  }

  // ---- the four sieves over one conversation ------------------------------

  /** The precedence rows of one conversation's edges: the four sieves, then
    * one row per unordered event pair — the lowest sieve rank wins, then
    * the least sieve name.
    */
  def ofConversation(convEdges: Seq[EdgeRow],
                     clf: PairClassifier = NarrativeOrderClassifier)
      : Seq[PrecedenceRow] = {
    val byTurn = convEdges.groupBy(_.turn_idx)

    // sieve 1: the cue-marked event pairs with every event of the nearest
    // preceding event-bearing sentence (reference: rel.sentence - 1)
    val cueRows = convEdges.filter(_.cue.nonEmpty).flatMap { m =>
      val partners = (inTurns(byTurn, m.turn_idx - lookback, m.turn_idx) ++
          byTurn(m.turn_idx).filter(_.sent_idx < m.sent_idx))
        .filter(validPair(m, _))
      val nearest =
        partners.map(o => (o.turn_idx, o.sent_idx)).maxOption.toSet
      // "dir:name", dir "after" or "before"
      val cue = m.cue.split(":", -1)
      val sieve = "inter-sentential-rb:" + cue(1)
      partners.filter(o => nearest((o.turn_idx, o.sent_idx))).map(o =>
        if (cue(0) == "before") row(m, o, sieve) else row(o, m, sieve))
    }

    // sieve 2: the connective-marked event pairs with every event at the
    // nearest earlier trigger position of the same sentence (split
    // regulations share their event's trigger, so ties are kept)
    val intraRows = convEdges.filter(m => m.intra_cue.nonEmpty &&
        m.trig_start >= 0).flatMap { m =>
      val partners = byTurn(m.turn_idx).filter(o =>
        o.sent_idx == m.sent_idx && o.trig_start >= 0 &&
          o.trig_start < m.trig_start && validPair(m, o))
      val top = partners.map(_.trig_start).maxOption
      val (nearest, farther) =
        partners.partition(o => top.contains(o.trig_start))
      // a regulation OVER a nearest event shares its anchor position in the
      // reference's dep-anchored match ("E2-induced SRC-3 phosphorylation is
      // dependent on ..." pairs the interaction with BOTH the
      // phosphorylation and its regulation, TestAssemblySieves intraSent1) —
      // its own trigger ("induced") sits earlier, so the trigger rank alone
      // would drop it
      val nearestKeys =
        nearest.map(o => KgExport.eventKey(o.pred, o.obj, o.site)).toSet
      val sieve = "intra-sentential-rb:" + m.intra_cue
      val swap = intraSwapCues(m.intra_cue)
      (nearest ++ farther.filter(o => nearestKeys(o.obj))).map(o =>
        if (swap) row(m, o, sieve) else row(o, m, sieve))
    }

    // sieve 3: Reichenbach tense/aspect over textually-ordered pairs
    val tenseRows = convEdges.filter(_.tense.nonEmpty).flatMap { b =>
      val partners = inTurns(byTurn, b.turn_idx - lookback, b.turn_idx) ++
        byTurn(b.turn_idx).filter(earlier(_, b))
      partners.filter(a => a.tense.nonEmpty && validPair(a, b)).flatMap { a =>
        reichenbach.get((a.tense, b.tense)).map { rel =>
          if (rel == "after") row(b, a, "reichenbach-tense")
          else row(a, b, "reichenbach-tense")
        }
      }
    }

    // sieve 4 runs after the rule-based sieves, exactly as the reference's
    // applySieves order ends with the classifier sieve (Assembler.scala:
    // 137-152); the dedup below is its noExistingPrecedence, which checks
    // both directions
    val ranked = cueRows.map((1, _)) ++ intraRows.map((2, _)) ++
      tenseRows.map((3, _)) ++ featureBased(convEdges, clf).map(r => (4, r._1))
    ranked.sortBy { case (rank, r) => (rank, r.sieve) }(
        Ordering.Tuple2(Ordering.Int, Json.utf8))
      .distinctBy { case (_, r) => Set((r.before_pred, r.before_obj,
        r.before_turn), (r.after_pred, r.after_obj, r.after_turn)) }
      .map(_._2)
  }

  /** The precedence rows of an edges table, one conversation per group. */
  def precedence(edges: DataFrame,
                 clf: PairClassifier = NarrativeOrderClassifier): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    edges.as[EdgeRow].groupByKey(_.conv_id)
      .flatMapGroups((_, es) => ofConversation(es.toSeq, clf)).toDF()
  }
}
