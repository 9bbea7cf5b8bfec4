package graft.kg

import graft.model._
import scala.collection.mutable

/** Structured (pre-canonicalization) triple: obj kept as components so the
  * canonical-id rewrite in the materialize stage is a plain broadcast join +
  * column expressions — no string surgery on nested event keys.
  */
final case class PreTriple(
    subj_gid: String,
    pred: String,
    obj_gid: String,
    obj_gid2: String, // Binding second participant, else ""
    obj_pred: String, // controlled-event label for regulations, else ""
    site: String,
    negated: Boolean,
    hypothesis: Boolean,
    conv_id: String,
    turn_idx: Int,
    evidence_text: String,
    found_by: String,
    trigger_text: String = "",
    // conversation context at the event's turn (window + defaults — the
    // generalized context engine, reference: context/Policies.scala:8-64 +
    // RuleBasedEngine doc defaults:26-37; surfaced in the Arizona export's
    // CONTEXT_* columns, ArizonaOutputter.scala:24-30)
    ctx_species: String = "",
    ctx_organ: String = "",
    ctx_cell_line: String = "",
    ctx_cell_type: String = "",
    // sentence-initial consequence cue (causal-precedence sieve input)
    cue: String = "",
    // intra-sentential connective + trigger tense/aspect + position — the
    // rule-based and Reichenbach precedence sieves' inputs (Sieves.scala:
    // 58-240); sent_idx/trig_start order events within a turn
    sent_idx: Int = 0,
    trig_start: Int = -1,
    intra_cue: String = "",
    tense: String = "",
    // themes 3..n of an n-mer complex Binding, "&"-joined (the 2-slot
    // obj_gid/obj_gid2 pair keeps its exact legacy shape; the tail shares
    // the complex-controller path's canonization parity — chain parts are
    // lexicon entities, never uaz failsafe ids)
    obj_rest: String = ""
)

final case class AliasEdge(a: String, b: String, conv_id: String)

/** Tagged union row for the single-pass stage-B checkpoint. */
final case class StageBRow(
    kind: String, // "linked" | "triple" | "alias"
    linked: Option[LinkedMention],
    triple: Option[PreTriple],
    alias: Option[AliasEdge]
)

/** Per-conversation ordered fold: context window -> coref sieves -> KB link ->
  * triple emission. This is the one inherently *sequential* operator of the
  * pipeline (SURVEY.md J4: coref sieves are order-dependent left-folds,
  * DarpaLinks.scala:33-42). Batch fold groups, streaming micro-batches and
  * `Serve` all run it through [[KgCore.step]].
  *
  * A fold emits the rows of its own mentions' turns only. `context` holds
  * mentions it consults but never emits: the backward halo of a fold group
  * or micro-batch, the context entities near its turns and the mentions of
  * the conversation's [[KgCore.Scope]] (aliases with their arguments, and
  * the context entities their links read); `counts` carries the scope's
  * context-entity counts. With them, the rows of the own turns equal those
  * of a whole-conversation fold, so where a conversation is cut into
  * groups never shows in the output.
  */
object ConvProcessor {

  val contextBound = 3 // turns of species-context lookback (Policies.scala:8-64 bound)

  /** Context window policies (reference: context/Policies.scala).
    * [[PolicyBackward]] = bounded backward window `[i-bound, i]`
    * (Policy2/3, the reference default and ours); [[PolicyBidirectional]] =
    * Policy4's `[i-bound, i+bound]` (Policies.scala:94-98): when no context
    * mention precedes within the bound, the nearest FOLLOWING one within the
    * bound fills the slot before falling back to conversation defaults.
    * Backward hits always win, so the default policy's assignments are a
    * strict subset — enabling Policy4 never changes an already-filled slot.
    */
  val PolicyBackward = "backward"
  val PolicyBidirectional = "bidirectional"
  val pronounGap = 1 // sentence gap for pronominal anaphora (DarpaLinks.scala:210)
  val npGap = 3 // sentence gap for definite-NP anaphora

  private def normSpecies(s: String): String = s.toLowerCase match {
    case "murine" => "mouse"
    case x => x
  }

  def gidOf(g: Grounding): String = g.namespace + ":" + g.id

  val ctxTypes = Seq("Species", "CellLine", "CellType", "Organ")
  def isCtxLabel(h: String): Boolean =
    h == "Species" || h == "CellLine" || h == "CellType" || h == "Organ"

  /** How often a context-entity text (lowercased) of one type occurs in a
    * conversation, and its first mention: the context default's input. */
  final case class CtxCount(tpe: String, text: String, n: Int,
                            first: MentionRow)

  private def docOrder(m: MentionRow) =
    (m.turn_idx, m.sent_idx, m.start_tok, m.end_tok, m.mention_id)

  def ctxCounts(ms: Seq[MentionRow]): Seq[CtxCount] =
    mergeCounts(Nil, ms.collect { case m if !m.is_event &&
      isCtxLabel(m.labels.head) =>
      CtxCount(m.labels.head, m.text.toLowerCase, 1, m) })

  def mergeCounts(a: Seq[CtxCount], b: Seq[CtxCount]): Seq[CtxCount] =
    (a ++ b).groupBy(c => (c.tpe, c.text)).values.map(_.reduce((x, y) =>
      x.copy(n = x.n + y.n, first = Seq(x.first, y.first).minBy(docOrder))))
      .toSeq.sortBy(c => (c.tpe, c.text))

  /** `counts`, if given, are the conversation's; else the mentions are. */
  def process(convId: String, mentionsIn: Seq[MentionRow],
              kb: Link.KbIndex,
              contextPolicy: String = PolicyBackward,
              overrideSpecies: Boolean = false,
              context: Seq[MentionRow] = Nil,
              counts: Option[Seq[CtxCount]] = None): Seq[StageBRow] = {
    // the own turns: a context mention of an own turn is a copy of an own
    // one (a halo and a scope overlap), and only own turns emit
    val own: Int => Boolean =
      if (context.isEmpty) _ => true else mentionsIn.map(_.turn_idx).toSet
    val mentions = (mentionsIn ++ context.filterNot(m => own(m.turn_idx))
      .distinctBy(_.mention_id))
      .sortBy(docOrder)
    val byId = mutable.Map.empty[Long, MentionRow]
    mentions.foreach(m => byId(m.mention_id) = m)

    // ---- context engine (turn-granular backward window + conversation
    // defaults — W1/A1 generalized beyond species; reference:
    // Policies.scala:8-64 bound-3 window, RuleBasedEngine.scala:26-37 argmax
    // defaults). Per type: nearest preceding context mention within
    // `contextBound` turns wins; a turn with none falls back to the
    // conversation default (most frequent, ties broken lexicographically).
    // fast path: most conversations carry no context mentions at all — skip
    // every per-type structure then (this fold runs once per conversation;
    // per-conv constant allocations showed up as a 3x stage regression)
    val ctxCount = counts.getOrElse(ctxCounts(mentions))
    val hasCtx = ctxCount.nonEmpty
    // per type: the context mentions in document order and their turns
    lazy val ctxByType: Map[String, (Array[MentionRow], Array[Int])] =
      ctxTypes.map { tpe =>
        val ms = mentions.filter(m => !m.is_event && m.labels.head == tpe).toArray
        tpe -> (ms, ms.map(_.turn_idx))
      }.toMap
    lazy val ctxDefault: Map[String, Option[MentionRow]] = ctxTypes.map { tpe =>
      val cs = ctxCount.filter(_.tpe == tpe)
      tpe -> (if (cs.isEmpty) None else Some(cs.minBy(c => (-c.n, c.text)).first))
    }.toMap
    def nearestCtx(tpe: String, turn: Int): Option[MentionRow] = {
      if (!hasCtx) return None
      val (ms, turns) = ctxByType(tpe)
      // the first mention past `turn`: the one before it is the last
      // mention of the nearest preceding turn, it is the first of the
      // nearest following one — Policy4's forward half (Policies.scala:
      // 94-98), whose forward scan takes the first value
      var lo = 0
      var hi = turns.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (turns(mid) <= turn) lo = mid + 1 else hi = mid
      }
      if (lo > 0 && turn - turns(lo - 1) <= contextBound) Some(ms(lo - 1))
      else if (contextPolicy == PolicyBidirectional && lo < turns.length &&
               turns(lo) - turn <= contextBound) Some(ms(lo))
      else ctxDefault(tpe)
    }
    // grounding.overrideSpecies (reference: ReachGrounder.scala:22,38 +
    // application.conf:77): with the flag ON the species context is ignored
    // and grounding always prioritizes human > no-species > non-human
    // (groundAsHuman); OFF lets the context re-rank (groundBySpecies). The
    // reference ships true; this engine defaults to the context-sensitive
    // false configuration because its context engine supplies species — both
    // behaviors are pinned (TestReachGrounder writes its assertions against
    // `!overrideSpecies`, covering either).
    val ctxSpeciesCache = mutable.Map.empty[Int, String]
    def ctxSpecies(turn: Int): String =
      if (!hasCtx || overrideSpecies) ""
      else ctxSpeciesCache.getOrElseUpdate(turn,
        nearestCtx("Species", turn).map(m => normSpecies(m.text)).getOrElse(""))

    // ---- coref sieves: generic mentions -> antecedents -------------------
    // Sieve battery mirrors the reference's DarpaLinks flow (Coref.scala:
    // 420-426): mutantProteinMatch (:77-110), strictHeadMatch (:120-162),
    // pronominalMatch (:171-257), nounPhraseMatch (:267-354) and
    // simpleEventMatch (:364-427), dispatched per anaphor shape. Selection
    // follows LinearSelector (AntecedentSelector.scala:14-31): walk
    // (turn, sentence) chunks backwards from the anaphor; within a chunk,
    // candidates are taken in document order (closest to sentence START
    // first) and deduplicated by grounding. Plural generics ("they", "both",
    // "these proteins") take `cardinality` distinct antecedents (reference:
    // Anaphoric.cardinality, Anaphoric.scala:49-127); events over them
    // expand into one event per antecedent.
    def cardinality(m: MentionRow): Int = {
      val t = m.text.toLowerCase
      if (t == "they" || t == "them" || t == "both" || t == "their") 2
      else if (t.startsWith("these ") || t.startsWith("those ") ||
               (t.indexOf(' ') >= 0 && t.endsWith("s"))) 2
      else 1
    }
    val corefMap = mutable.Map.empty[Long, Seq[Long]]
    val priorEntities = mutable.ArrayBuffer.empty[MentionRow] // in order
    val priorEvents = mutable.ArrayBuffer.empty[MentionRow] // simple events

    // grounding memo for antecedent dedup and the mutant sieve. Coref-time
    // equality resolves with EMPTY species context: whether two surface forms
    // corefer must not depend on the anaphor's turn (the reference compares
    // grounding ids fixed at entity time, DarpaLinks.scala:54-75).
    val gidMemo = mutable.Map.empty[Long, String]
    def gidFor(c: MentionRow): String =
      gidMemo.getOrElseUpdate(c.mention_id,
        Link.linkableLabel(c.labels) match {
          case Some(lbl) => gidOf(kb.resolve(c.text, lbl, ""))
          case None => ""
        })

    // coArguments exclusion (CorefUtils.coArguments:179-185 + the
    // pronominalMatch excludeThese set, DarpaLinks.scala:248-249): an anaphor
    // must not resolve to a mention that is — or shares grounding/surface
    // with — another (recursively collapsed) argument of any event the
    // anaphor itself appears in ("BEF phosphorylates it" yields nothing), and
    // an antecedent already chosen by a sibling generic arg of the same event
    // is excluded too ("its binding to them": "them" skips "its" antecedent).
    val coArgIdsOf: Map[Long, Set[Long]] = {
      val events = mentions.filter(_.is_event)
      if (events.isEmpty) Map.empty
      else {
        val memo = mutable.Map.empty[Long, Set[Long]]
        def collapse(id: Long): Set[Long] = byId.get(id) match {
          case Some(mm) if !mm.is_event => Set(id)
          case Some(mm) => memo.getOrElseUpdate(id,
            mm.args.iterator.flatMap(a => collapse(a.mention_id)).toSet)
          case None => Set.empty
        }
        val acc = mutable.Map.empty[Long, Set[Long]]
        events.foreach { e =>
          val cset = collapse(e.mention_id)
          cset.foreach(id => acc(id) = acc.getOrElse(id, Set.empty) ++ (cset - id))
        }
        acc.toMap
      }
    }
    def coArgExcluded(g: MentionRow, c: MentionRow): Boolean = {
      val co = coArgIdsOf.getOrElse(g.mention_id, Set.empty)
      co.nonEmpty && {
        // a resolved sibling generic contributes its antecedents as well
        val ids = co.flatMap(id => corefMap.getOrElse(id, Nil).toSet + id)
        val cg = gidFor(c)
        ids.exists { id =>
          id == c.mention_id || (byId.get(id) match {
            case Some(mm) if !mm.is_event =>
              mm.text.equalsIgnoreCase(c.text) ||
                (cg.nonEmpty && gidFor(mm) == cg)
            case _ => false
          })
        }
      }
    }

    def specificMutants(c: MentionRow): Seq[String] =
      c.mods.toSeq.filter(mo => mo.kind == "Mutant" && mo.site_text.nonEmpty)
        .map(_.site_text)
    def hasGenericMutation(c: MentionRow): Boolean =
      c.mods.exists(mo => mo.kind == "Mutant" && mo.site_text.isEmpty)

    // gap is measured in real turns/sentences (mention-free turns count: an
    // entity three turns back is NOT an antecedent for a pronoun even if
    // nothing was extracted in between)
    def selectLinear(m: MentionRow, want: Int, pronounLike: Boolean)
                    (eligible: MentionRow => Boolean): Seq[MentionRow] = {
      val picked = mutable.ArrayBuffer.empty[MentionRow]
      var i = priorEntities.length - 1
      while (i >= 0 && picked.size < want) {
        val ct = priorEntities(i).turn_idx
        val cs = priorEntities(i).sent_idx
        val turnDiff = m.turn_idx - ct
        if (turnDiff > npGap) i = -1 // sorted: all earlier are farther
        else {
          var j = i
          while (j > 0 && priorEntities(j - 1).turn_idx == ct &&
                 priorEntities(j - 1).sent_idx == cs) j -= 1
          val withinGap =
            if (pronounLike)
              (turnDiff == 0 && m.sent_idx - cs <= pronounGap) || turnDiff == 1
            else turnDiff <= npGap
          if (withinGap) {
            // LinearSelector order: "the candidate closest to the START of
            // the anaphor's sentence" — candidates in the SAME sentence come
            // in document order ("ASPP2 is more common than BEF, and it is
            // ubiquitinated" -> it = ASPP2, sent1), while candidates in an
            // EARLIER sentence come nearest-last-first ("GSK3 binds MEK. It
            // then binds ERK2." -> It = MEK, sent56b)
            val sameChunk = ct == m.turn_idx && cs == m.sent_idx
            var k = if (sameChunk) j else i
            while (k >= j && k <= i && picked.size < want) {
              val c = priorEntities(k)
              if (eligible(c) && !picked.exists(p =>
                    p.text.equalsIgnoreCase(c.text) || {
                      val g = gidFor(c); g.nonEmpty && gidFor(p) == g
                    })) picked += c
              k = if (sameChunk) k + 1 else k - 1
            }
          }
          i = j - 1
        }
      }
      picked.toSeq
    }

    /** nounPhraseMatch label compatibility: the anaphor's class noun
      * constrains the antecedent's label closure (reference label-subset
      * check, DarpaLinks.scala:302-330).
      */
    def classCompatible(classWord: String, c: MentionRow): Boolean = {
      val w = classWord.toLowerCase
      def is(l: String) = c.labels.contains(l)
      if (w.startsWith("protein") || w.startsWith("kinase") ||
          w.startsWith("enzyme") || w.startsWith("receptor") ||
          w.startsWith("factor"))
        is("Gene_or_gene_product") || is("Family") || is("Complex")
      else if (w.startsWith("gene")) is("Gene_or_gene_product")
      else if (w.startsWith("chemical") || w.startsWith("compound") ||
               w.startsWith("drug")) is("Simple_chemical")
      else true // "molecule" and similar: any BioChemicalEntity
    }

    mentions.foreach { m =>
      if (m.is_event) {
        if (m.labels.contains("SimpleEvent")) priorEvents += m
      } else {
        val head = m.labels.head
        if (head == "Generic_entity") {
          val want = cardinality(m)
          val picked = m.found_by match {
            case "generic_mutant" =>
              // mutantProteinMatch: antecedent must carry specific mutants;
              // a captured code ("the K341L mutant") must match one of them
              val code = m.mods.collectFirst {
                case mo if mo.kind == "Mutant" && mo.site_text.nonEmpty =>
                  mo.site_text
              }
              selectLinear(m, want, pronounLike = false) { c =>
                val sm = specificMutants(c)
                sm.nonEmpty &&
                  code.forall(cd => sm.exists(_.equalsIgnoreCase(cd)))
              }
            case "generic_head_np" =>
              // strictHeadMatch: the anaphor's head token must appear among
              // the antecedent's own tokens ("Cyclin D1 ... the cyclin")
              val hd = m.text.split(" ").last.toLowerCase
              selectLinear(m, want, pronounLike = false) { c =>
                c.text.toLowerCase.split("[ \\-]").contains(hd) &&
                  !coArgExcluded(m, c)
              }
            case "generic_np" =>
              // compatibleMutants (CorefUtils.scala:102-111 via
              // nounPhraseMatch:312-330): a plain generic NP carries no
              // mutants, so a specifically-mutated antecedent is incompatible
              // ("ASPP1 K341L is common, and the protein binds GTP" links
              // nothing — TestCoreference sent33c)
              val cw = m.text.split(" ").last
              selectLinear(m, want, pronounLike = false)(c =>
                classCompatible(cw, c) && specificMutants(c).isEmpty &&
                  !coArgExcluded(m, c))
            case _ => // generic_pronoun
              val isPronoun = m.end_tok - m.start_tok == 1
              selectLinear(m, want, pronounLike = isPronoun)(
                c => !coArgExcluded(m, c))
          }
          // a plural needs its full antecedent count (the reference skips the
          // link otherwise); singles resolve on the first hit
          if (picked.size == want)
            corefMap(m.mention_id) = picked.map(_.mention_id)
        } else if (head == "Generic_event") {
          // simpleEventMatch: nearest preceding chunk's earliest specific
          // simple event with the anaphor's base label (carried in
          // trigger_text), <= 1 sentence/turn back; an event triggered inside
          // the anaphor's own span is its own nominal reading, not an
          // antecedent
          val base = m.trigger_text
          var idx = priorEvents.length - 1
          var best: MentionRow = null
          var bestChunk: (Int, Int) = null
          while (idx >= 0) {
            val c = priorEvents(idx)
            val turnDiff = m.turn_idx - c.turn_idx
            if (turnDiff > 1) idx = -1
            else {
              val near = (turnDiff == 0 && m.sent_idx - c.sent_idx <= 1) ||
                turnDiff == 1
              val selfTrigger = c.turn_idx == m.turn_idx &&
                c.sent_idx == m.sent_idx &&
                c.trig_start >= m.start_tok && c.trig_start < m.end_tok
              if (near && !selfTrigger && c.labels.contains(base) &&
                  (bestChunk == null ||
                    bestChunk == ((c.turn_idx, c.sent_idx)))) {
                best = c // backward scan: last assignment = earliest in chunk
                bestChunk = (c.turn_idx, c.sent_idx)
              }
              idx -= 1
            }
          }
          if (best != null) corefMap(m.mention_id) = Seq(best.mention_id)
        } else if (m.labels.contains("BioChemicalEntity")) {
          // an entity bearing a generic mutation ("this mutant ASPP1") is
          // itself an anaphor for the specifically-mutated prior mention
          // with the same grounding (mutantProteinMatch on
          // hasGenericMutation, DarpaLinks.scala:84-96); unresolved ones
          // stay as they are — they are real entities
          if (hasGenericMutation(m) && specificMutants(m).isEmpty) {
            val g = gidFor(m)
            selectLinear(m, 1, pronounLike = false) { c =>
              specificMutants(c).nonEmpty && g.nonEmpty && gidFor(c) == g
            }.headOption.foreach(a =>
              corefMap(m.mention_id) = Seq(a.mention_id))
          }
          priorEntities += m
        }
      }
    }

    // ---- rewrite event args through coref; recompute content ids.
    // An arg with k antecedents expands the event into k variants (bounded),
    // mirroring the reference's coref combination expansion (Coref.scala).
    val idRemap = mutable.Map.empty[Long, Seq[Long]] ++ corefMap
    val maxExpand = 8
    var finalEvents = mentions.filter(_.is_event)
    var pass = if (corefMap.isEmpty) 3 else 0 // nothing resolved -> no rewrite
    while (pass < 3) {
      finalEvents = finalEvents.flatMap { e =>
        // fast path: nothing to rewrite (the overwhelmingly common case —
        // this loop runs 3x over every event of the conversation)
        if (!e.args.exists(a => idRemap.contains(a.mention_id))) Seq(e)
        else {
          // a Binding whose ONLY theme is a plural generic takes its
          // antecedents as JOINT participants of one binding ("as is their
          // binding" -> Binding{ASPP2, BEF}, TestCoreference sent3/sent18);
          // with a second theme present the plural expands per-antecedent
          // instead ("its binding to them" -> two pairs, sent4)
          val soleTheme = e.labels.head == "Binding" &&
            e.args.count(_.role == "theme") == 1
          // each choice contributes a LIST of args (joint fill = one choice)
          val choices: Seq[Seq[Seq[Arg]]] = e.args.toSeq.map { a =>
            idRemap.get(a.mention_id) match {
              case Some(ids) if soleTheme && a.role == "theme" && ids.size >= 2 =>
                Seq(ids.map(i => Arg(a.role, i)))
              case Some(ids) => ids.map(i => Seq(Arg(a.role, i)))
              case None => Seq(Seq(a))
            }
          }
          val combos = choices.foldLeft(Seq(Seq.empty[Arg])) { (acc, c) =>
            acc.flatMap(pre => c.map(pre ++ _))
          }.take(maxExpand)
          val variants = combos.map { newArgs =>
            val nid = Matcher.mentionId(e.conv_id, e.turn_idx, e.sent_idx,
              e.start_tok, e.end_tok, e.labels.head, e.trigger_text, newArgs,
              e.negated, e.hypothesis, e.mods.toSeq)
            e.copy(mention_id = nid, args = newArgs.toArray)
          }
          idRemap(e.mention_id) = variants.map(_.mention_id)
          variants
        }
      }
      pass += 1
    }
    if (corefMap.nonEmpty) {
      finalEvents = finalEvents.groupBy(_.mention_id).map(_._2.head).toSeq
        .sortBy(docOrder)
    }
    finalEvents.foreach(e => byId(e.mention_id) = e)

    // drop events with unresolved generic args (reference drops generic
    // mentions without antecedents at output, Coref.scala:353-377)
    val entityById = mentions.filter(!_.is_event)
      .map(m => m.mention_id -> m).toMap
    var kept = finalEvents
    var changed = true
    while (changed) {
      val ids = kept.map(_.mention_id).toSet
      val next = kept.filter(_.args.forall { a =>
        byId.get(a.mention_id) match {
          case Some(m) if m.is_event => ids.contains(a.mention_id)
          case Some(m) => m.labels.head != "Generic_entity" &&
            m.labels.head != "Generic_event"
          case None => false
        }
      })
      changed = next.size != kept.size
      kept = next
    }

    // ---- link stage: broadcast-KB first-hit lookup (J1) ------------------
    // the full ordered candidate list is kept (head = winner) so the
    // emission layer can expose it and display resolution can see whether
    // the winner came from a family KB (Grounding.scala:49-54 + resolveDisplay)
    val groundings = mutable.Map.empty[Long, Grounding]
    val candidatesOf = mutable.Map.empty[Long, Array[Grounding]]
    val familyGrounded = mutable.Set.empty[Long]
    entityById.values.foreach { m =>
      Link.linkableLabel(m.labels) match {
        case Some(label) =>
          val cands = kb.resolveCandidates(m.text, label, ctxSpecies(m.turn_idx))
          cands.headOption match {
            case Some(winner) =>
              groundings(m.mention_id) =
                Grounding(winner.namespace, winner.id, winner.species)
              candidatesOf(m.mention_id) = cands.take(5)
                .map(e => Grounding(e.namespace, e.id, e.species)).toArray
              if (winner.is_family_kb) familyGrounded += m.mention_id
            case None =>
              groundings(m.mention_id) = Link.failsafe(m.text)
          }
        case None => ()
      }
    }
    def gid(id: Long): String =
      groundings.get(id).map(gidOf).getOrElse("")

    // ---- display resolution (reference: ReachSystem.resolveDisplay:249-293)
    // GGP entities under a Transcription ancestor display "Gene"; collect the
    // ids reachable from Transcription events through argument edges
    val underTranscription: mutable.Set[Long] = mutable.Set.empty[Long]
    locally {
      var frontier: Set[Long] = kept
        .filter(_.labels.contains("Transcription"))
        .flatMap(_.args.map(_.mention_id)).toSet
      var depth = 0
      while (frontier.nonEmpty && depth < 4) {
        underTranscription ++= frontier
        frontier = frontier.flatMap(id =>
          byId.get(id).filter(_.is_event).map(_.args.map(_.mention_id).toSeq)
            .getOrElse(Nil))
        depth += 1
      }
    }
    def displayLabel(m: MentionRow): String =
      if (m.labels.contains("Gene_or_gene_product")) {
        if (familyGrounded.contains(m.mention_id)) "Family"
        else if (underTranscription.contains(m.mention_id)) "Gene"
        else "Protein"
      } else m.labels.head

    // ---- theme descent for event-valued roles ----------------------------
    // (OutputDegrader.flattenMentions semantics, OutputDegrader.scala:16-48)
    def descend(id: Long, depth: Int = 0,
                asController: Boolean = false): (String, String) = {
      // returns (core entity gid, site text). Direction follows the
      // reference's convertEventToEntity (DarpaActions.scala:668-750):
      // flattening a CONTROLLER that is a ComplexEvent digs into its own
      // controller ("Ras, which ... phosphorylates ASPP2, activates MEK" —
      // the activation's controller is the regulation, which flattens to
      // Ras); flattening a theme/controlled digs into theme/controlled
      byId.get(id) match {
        case Some(m) if !m.is_event => (gid(id), "")
        // a Binding converts to a Complex of all its themes
        // (convertEventToEntity's BioRelationMention case) — the complex
        // key is the sorted theme-gid pair, as Binding triples use
        case Some(m) if m.labels.head == "Binding" && depth < 4 =>
          val themes = m.args.filter(_.role.startsWith("theme"))
            .map(a => descend(a.mention_id, depth + 1)._1)
            .filter(_.nonEmpty).distinct.sorted
          (themes.mkString("&"), "")
        case Some(m) if depth < 4 =>
          val site = m.args.find(_.role == "site")
            .flatMap(a => byId.get(a.mention_id)).map(_.text).getOrElse("")
          val dest = m.args.find(_.role == "destination")
            .orElse(m.args.find(_.role == "source"))
            .flatMap(a => byId.get(a.mention_id))
            .flatMap(d => groundings.get(d.mention_id)).map(gidOf)
          val viaController =
            if (asController) m.args.find(_.role == "controller") else None
          val core = viaController
            .orElse(m.args.find(_.role == "theme"))
            .orElse(m.args.find(_.role == "controlled"))
            .map(a => descend(a.mention_id, depth + 1, asController)._1)
            .getOrElse("")
          val siteOut = if (site.nonEmpty) site else dest.getOrElse("")
          (core, siteOut)
        case _ => ("", "")
      }
    }

    // ---- alias grounding share (reference Coref.scala:386-411) -----------
    // keyed by grounding, first alias wins (the reference's
    // `!(aliases contains grounding)` guard). An effectively-ungrounded
    // (uaz) side ADOPTS the grounded side's candidates; a both-grounded
    // pair unions candidate lists in order, each side's own winner first —
    // winners are never rewritten for both-grounded pairs (the identity
    // rewrite in stageCanon is restricted to uaz sides accordingly).
    locally {
      val aliasCands = mutable.Map.empty[String, Array[Grounding]]
      kept.filter(_.labels.head == "Alias").foreach { al =>
        for (aA <- al.args.find(_.role == "a");
             bA <- al.args.find(_.role == "b")) {
          val (ai, bi) = (aA.mention_id, bA.mention_id)
          (groundings.get(ai), groundings.get(bi)) match {
            case (Some(ga), Some(gb)) =>
              val (ka, kbk) = (gidOf(ga), gidOf(gb))
              if (ka != kbk && !aliasCands.contains(ka) &&
                  !aliasCands.contains(kbk)) {
                val ca = candidatesOf.getOrElse(ai, Array.empty[Grounding])
                val cb = candidatesOf.getOrElse(bi, Array.empty[Grounding])
                val aUaz = ga.namespace == "uaz"
                val bUaz = gb.namespace == "uaz"
                if (aUaz && !bUaz) aliasCands(ka) = cb
                else if (bUaz && !aUaz) aliasCands(kbk) = ca
                else if (!aUaz && !bUaz && (ca.nonEmpty || cb.nonEmpty)) {
                  aliasCands(ka) = (ca ++ cb).distinct
                  aliasCands(kbk) = (cb ++ ca).distinct
                }
              }
            case _ => ()
          }
        }
      }
      if (aliasCands.nonEmpty) entityById.values.foreach { m =>
        groundings.get(m.mention_id).map(gidOf).foreach { k =>
          aliasCands.get(k).foreach(cs => candidatesOf(m.mention_id) = cs)
        }
      }
    }

    val out = mutable.ArrayBuffer.empty[StageBRow]
    val (ownAliases, ownEvents) =
      kept.filter(e => own(e.turn_idx)).partition(_.labels.head == "Alias")

    // ---- alias edges (J3/J5 — scoped per conversation) -------------------
    ownAliases.foreach { al =>
      val a = al.args.find(_.role == "a").map(x => gid(x.mention_id)).getOrElse("")
      val b = al.args.find(_.role == "b").map(x => gid(x.mention_id)).getOrElse("")
      if (a.nonEmpty && b.nonEmpty && a != b)
        out += StageBRow("alias", None, None, Some(AliasEdge(a, b, convId)))
    }

    // ---- linked mentions (checkpoint payload) ----------------------------
    entityById.values.toSeq.sortBy(_.mention_id).foreach { m =>
      if (own(m.turn_idx) && m.labels.head != "Generic_entity" &&
          m.labels.head != "Generic_event") {
        val g = groundings.getOrElse(m.mention_id, Grounding("", "", ""))
        // head label only: the closure is a pure function of the head
        // (Lexicon.labelClosure) and the extra strings dominate the stage-b
        // checkpoint/cache volume
        out += StageBRow("linked", Some(LinkedMention(
          m.mention_id, m.conv_id, m.turn_idx, m.sent_idx, m.start_tok,
          m.end_tok, Array(m.labels.head), m.text, m.found_by, false, "",
          m.args, m.negated, m.hypothesis, g.namespace, g.id, g.species,
          m.mods, candidatesOf.getOrElse(m.mention_id, Array.empty),
          displayLabel(m))), None, None)
      }
    }
    ownEvents.foreach { e =>
      out += StageBRow("linked", Some(LinkedMention(
        e.mention_id, e.conv_id, e.turn_idx, e.sent_idx, e.start_tok,
        e.end_tok, Array(e.labels.head), e.text, e.found_by, true,
        e.trigger_text, e.args, e.negated, e.hypothesis, "evt",
        java.lang.Long.toHexString(e.mention_id), "", e.mods,
        Array.empty, e.labels.head)), None, None)
    }

    // context gids for triple emission (Arizona CONTEXT_* columns) — memoized
    // per (type, turn): nearestCtx scans the conversation's context mentions
    // and emission asks 4 types per event
    val ctxGidCache = mutable.Map.empty[(String, Int), String]
    def ctxGid(tpe: String, turn: Int): String =
      if (!hasCtx) ""
      else ctxGidCache.getOrElseUpdate((tpe, turn),
        nearestCtx(tpe, turn).map { m =>
          // unlinked: resolve it under the species context of its turn
          gidOf(groundings.getOrElse(m.mention_id,
            kb.resolve(m.text, m.labels.head, ctxSpecies(m.turn_idx))))
        }.getOrElse(""))

    // ---- triple emission (S9 semantics) ----------------------------------
    ownEvents.foreach { e =>
      val head = e.labels.head
      def argM(role: String): Option[MentionRow] =
        e.args.find(_.role == role).flatMap(a => byId.get(a.mention_id))
      val siteText = argM("site").map(_.text).getOrElse("")
      def pt(subj: String, obj: String, obj2: String, objPred: String,
             site: String, objRest: String = ""): PreTriple =
        PreTriple(subj, head, obj, obj2, objPred, site, e.negated,
          e.hypothesis, convId, e.turn_idx, e.text, e.found_by,
          e.trigger_text,
          ctxGid("Species", e.turn_idx), ctxGid("Organ", e.turn_idx),
          ctxGid("CellLine", e.turn_idx), ctxGid("CellType", e.turn_idx),
          e.cue, e.sent_idx, e.trig_start, e.intra_cue, e.tense, objRest)
      val tri: Option[PreTriple] =
        if (e.labels.contains("Regulation")) {
          val ctl = e.args.find(_.role == "controller")
          val cld = e.args.find(_.role == "controlled")
          (ctl, cld) match {
            case (Some(c), Some(d)) =>
              val subjGid = descend(c.mention_id, asController = true)._1
              val cldM = byId.get(d.mention_id)
              val (objCore, objSite) = descend(d.mention_id)
              val objPred = cldM.map(_.labels.head).getOrElse("")
              Some(pt(subjGid, objCore, "", objPred, objSite))
            case _ => None
          }
        } else if (e.labels.contains("ActivationEvent")) {
          val subjGid = e.args.find(_.role == "controller")
            .map(c => descend(c.mention_id, asController = true)._1)
            .getOrElse("")
          val objGid = e.args.find(_.role == "controlled")
            .map(c => descend(c.mention_id)._1).getOrElse("")
          Some(pt(subjGid, objGid, "", "", siteText))
        } else if (head == "Binding") {
          val themes = e.args.filter(_.role == "theme")
            .map(a => descend(a.mention_id)._1).filter(_.nonEmpty).sorted
          if (themes.length >= 2)
            Some(pt("", themes(0), themes(1), "", siteText,
              themes.drop(2).mkString("&")))
          else None
        } else {
          // simple events: theme(+site); Translocation carries the location
          // gid in site when no residue site present — destination first,
          // else source (from-only shapes like "release of X from the
          // membrane", translocation_events.yml :114-126)
          val themeGid = argM("theme").map(m => gid(m.mention_id)).getOrElse("")
          val locGid = argM("destination").orElse(argM("source"))
            .flatMap(d => groundings.get(d.mention_id)).map(gidOf).getOrElse("")
          val st = if (siteText.nonEmpty) siteText else locGid
          if (themeGid.nonEmpty)
            Some(pt("", themeGid, "", "", st))
          else None
        }
      tri.foreach(t => out += StageBRow("triple", None, Some(t), None))
    }

    out.toSeq
  }
}
