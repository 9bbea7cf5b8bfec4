package graft.kg

import graft.kg.Json._
import graft.model._
import java.nio.charset.StandardCharsets.UTF_8
import java.util.Locale
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.Platform
import scala.collection.mutable

/** One materialized edge: a stage_b triple with canonical ids, its composed
  * object and its content hash (the edges table's row). */
final case class EdgeRow(
    subj: String, pred: String, obj: String, site: String,
    negated: Boolean, hypothesis: Boolean, conv_id: String, turn_idx: Int,
    evidence_text: String, found_by: String, trigger_text: String,
    ctx_species: String, ctx_organ: String, ctx_cell_line: String,
    ctx_cell_type: String, cue: String, sent_idx: Int, trig_start: Int,
    intra_cue: String, tense: String, edge_id: Long)

/** One surface form of a canonical node and how many linked entity
  * mentions carry it (`n`). */
final case class Surface(canon_id: String, text: String, ns: String,
                         ns_id: String, species: String, labels: Seq[String],
                         display_label: String, n: Long)

/** One IndexCard row (the flat table `Emit.indexCardFlat` returns): a card
  * key, the number of edges behind it (`seen`) and their evidence. A
  * participant's identifier is its canonical id. */
final case class IndexCard(
    interaction_type: String, modification_type: String, position: String,
    to_location_id: String, negative_information: Boolean,
    hypothesis_information: Boolean, context_species: String,
    context_organ: String, context_cell_line: String,
    context_cell_type: String, trigger: String, pmc_id: String,
    participant_a_text: String, participant_a_type: String,
    participant_a_identifier: String, participant_b_text: String,
    participant_b_type: String, participant_b_identifier: String,
    seen: Long, evidence: String)

/** One Arizona row (ArizonaOutputter.scala:14-50 column set, under the
  * reference's column names): the table `Emit.arizonaTsv` returns. */
final case class ArizonaRow(
    INPUT: String, OUTPUT: String, CONTROLLER: String, EVENT_LABEL: String,
    SITE: String, NEGATED: Boolean, INDIRECT: Boolean, HYPOTHESIS: Boolean,
    CONTEXT_SPECIES: String, CONTEXT_ORGAN: String, CONTEXT_CELL_LINE: String,
    CONTEXT_CELL_TYPE: String, TRANSLOCATION_DESTINATION: String,
    TRIGGERS: String, SEEN: Long, EVIDENCE: String, SEEN_IN: String,
    EVENT_ID: Long)

/** One generic assembly row (AssemblyExporter.DEFAULT_COLUMNS, ReachCLI
  * .scala:209-218): the table `Emit.assemblyTsv` returns. */
final case class AssemblyRow(
    INPUT: String, OUTPUT: String, CONTROLLER: String, EVENT_ID: String,
    EVENT_LABEL: String, NEGATED: Boolean, INDIRECT: Boolean,
    CONTEXT_SPECIES: String, CONTEXT_ORGAN: String, CONTEXT_CELL_LINE: String,
    CONTEXT_CELL_TYPE: String, TRIGGERS: String, SEEN: Long, EVIDENCE: String,
    SEEN_IN: String, PRECEDED_BY: String)

/** A grounded entity mention as input to an assembly entity row: its
  * canonical grounding, sorted mutant forms and PTM features (the row key)
  * and its least PTM label. */
final case class EntityMention(cgid: String, mutant_forms: String,
                               ptm_feats: String, ptm_label: String,
                               text: String, conv_id: String)

/** One CMU DyCE row (CMUExporter.scala:120-170 column set, under safe
  * names; the tabular writer applies the reference's header strings): the
  * table `Emit.cmuTsv` returns. */
final case class CmuRow(
    ELEMENT_NAME: String, ELEMENT_TYPE: String, DATABASE_NAME: String,
    ELEMENT_IDENTIFIER: String, LOCATION: String, LOCATION_IDENTIFIER: String,
    POS_REG_NAME: String, POS_REG_TYPE: String, POS_REG_ID: String,
    NEG_REG_NAME: String, NEG_REG_TYPE: String, NEG_REG_ID: String,
    IS_INDIRECT: String, MECHANISM_TYPE: String, CELL_LINE: String,
    CELL_TYPE: String, ORGANISM: String, PAPER_ID: String, EVIDENCE: String)

/** The Spark-free exporter core: the per-row and per-group functions that
  * turn stage_b rows into edges, nodes, FRIES documents, IndexCards and the
  * tabular exports, run by two executors, as [[KgCore]] is for extraction.
  * Each exporter rule is written once, here. The Spark entry points run
  * them as their closures:
  *   - [[Pipeline.stageCanon]]: [[Canon.canonMap]] on the driver;
  *   - [[Pipeline.stageMaterialize]]: [[edge]] in a `map` over the
  *     broadcast canon map, then `dropDuplicates("edge_id")`; [[surface]]
  *     and [[surfaceCounts]] per partition, then [[surfaceCounts]] and
  *     [[node]] per `canon_id` group;
  *   - `Emit.friesFrameGraph`: [[fries]] per `(conv_id, doc_part)` group,
  *     cogrouped with the turns;
  *   - `Emit.indexCardFlat`: [[cards]] per conversation, then
  *     [[mergeCards]] per [[cardKey]]; `Emit.indexCardJson`: [[cardJson]];
  *   - `Emit.arizonaTsv`: [[arizona]] per [[arizonaKey]] (no conversation
  *     scope, so no conversation group);
  *   - `Emit.cmuTsv`: [[cmuEdges]] per conversation, then [[cmu]] per
  *     [[cmuKey]];
  *   - `Emit.assemblyTsv`: [[precededBy]] per conversation, then
  *     [[assembly]] per [[assemblyKey]]; [[entityMention]] per linked
  *     mention over the broadcast canon map, then [[entity]] per grounding;
  *     [[assemblyKept]] on every row, and [[precededByKept]] for MITRE.
  * Every merge per row key folds through one capped [[Tally]].
  * [[materialize]], [[friesDocs]] and [[indexCards]] run the same functions
  * in-process over one request's rows (`graft.Serve`), with no Spark job.
  */
object KgExport {

  // ---- edges and nodes ------------------------------------------------------

  /** Catalyst's `xxhash64(values*)` over strings, booleans and ints: seed
    * 42, each value hashed with the running hash as its seed, strings as
    * UTF-8 bytes, booleans as the int 0/1, a null skipped. */
  def xxhash64(values: Any*): Long = values.foldLeft(42L) {
    case (h, null) => h
    case (h, s: String) =>
      val b = s.getBytes(UTF_8)
      XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET.toLong, b.length, h)
    case (h, b: Boolean) => XXH64.hashInt(if (b) 1 else 0, h)
    case (h, i: Int) => XXH64.hashInt(i, h)
  }

  /** `edge_id`: `xxhash64(subj, pred, obj, site, negated, hypothesis,
    * conv_id, turn_idx)`. */
  def edgeId(subj: String, pred: String, obj: String, site: String,
             negated: Boolean, hypothesis: Boolean, convId: String,
             turnIdx: Int): Long =
    xxhash64(subj, pred, obj, site, negated, hypothesis, convId, turnIdx)

  /** A tabular export row's EVENT_ID: Catalyst's `pmod(xxhash64(key*),
    * Long.MaxValue)` over the row's key columns. A content hash, because
    * the reference's incrementing ids are nondeterministic under
    * parallelism (SURVEY.md A8). */
  private def eventId(key: Any*): Long =
    Math.floorMod(xxhash64(key: _*), Long.MaxValue)

  private def at(site: String) = if (site.nonEmpty) s"@$site" else ""

  /** The key of the event `pred` over `obj` at `site` — what a regulation's
    * object holds for its controlled event: `pred(obj[@site])`. */
  def eventKey(pred: String, obj: String, site: String): String =
    s"$pred($obj${at(site)})"

  /** One stage_b triple as an edge: `subj`/`obj`/`obj2` rewritten to their
    * canonical ids, then the object composed — `obj_pred(gid@site)` for a
    * regulation, the `&` join of the sorted themes for an n-ary binding.
    */
  def edge(t: PreTriple, canon: Map[String, String]): EdgeRow = {
    def c(gid: String) = canon.getOrElse(gid, gid)
    val (subj, o1, o2) = (c(t.subj_gid), c(t.obj_gid), c(t.obj_gid2))
    val obj =
      if (t.obj_pred.nonEmpty) eventKey(t.obj_pred, o1, t.site)
      else if (o2.nonEmpty)
        (Seq(o1, o2) ++
          (if (t.obj_rest.nonEmpty) t.obj_rest.split("&", -1).toSeq else Nil))
          .sorted(utf8).mkString("&")
      else o1
    EdgeRow(subj, t.pred, obj, t.site, t.negated, t.hypothesis, t.conv_id,
      t.turn_idx, t.evidence_text, t.found_by, t.trigger_text, t.ctx_species,
      t.ctx_organ, t.ctx_cell_line, t.ctx_cell_type, t.cue, t.sent_idx,
      t.trig_start, t.intra_cue, t.tense,
      edgeId(subj, t.pred, obj, t.site, t.negated, t.hypothesis, t.conv_id,
        t.turn_idx))
  }

  /** A grounded entity mention as one occurrence (`n` = 1) of a surface of
    * its canonical node; events and ungrounded mentions are no node. */
  def surface(m: LinkedMention, canon: Map[String, String]): Option[Surface] =
    if (m.is_event || m.ns.isEmpty) None
    else {
      val gid = s"${m.ns}:${m.ns_id}"
      Some(Surface(canon.getOrElse(gid, gid), m.text, m.ns, m.ns_id, m.species,
        m.labels.toSeq, m.display_label, 1L))
    }

  /** The distinct surfaces among some, each once with the summed `n` of its
    * copies: the count behind every node, which `Pipeline.stageMaterialize`
    * runs per partition and again per canonical id. */
  def surfaceCounts(surfaces: IterableOnce[Surface]): Seq[Surface] = {
    val counts = mutable.HashMap.empty[Surface, Long]
    surfaces.iterator.foreach(s => counts.updateWith(s.copy(n = 0L))(
      c => Some(c.getOrElse(0L) + s.n)))
    counts.iterator.map { case (s, n) => s.copy(n = n) }.toSeq
  }

  /** Per-key list fan-in bound (scale guard): a viral interaction or a
    * ubiquitous entity would otherwise collect an unbounded evidence,
    * conversation or surface-form list into ONE output row. Far above
    * anything the contract corpora produce. */
  val MaxListPerKey = 1000

  private val surfaceRank: Ordering[Surface] =
    Ordering.by((s: Surface) => -s.n)
      .orElse(Ordering.by((s: Surface) => s.text)(utf8))
      .orElse(Ordering.by((s: Surface) => s.display_label)(utf8))
      .orElse(Ordering.by((s: Surface) => (s.ns, s.ns_id, s.species,
        s.labels.mkString("\u0000")))(Ordering.Tuple4(utf8, utf8, utf8, utf8)))

  /** One canonical node from the distinct surfaces of its mentions: the
    * display row is the most frequent surface, then the least text, then
    * the least display label (resolveDisplay disambiguation,
    * ReachSystem.scala:249-293, carried from the per-mention resolution);
    * the alias forms are the distinct texts of the [[MaxListPerKey]] first
    * surfaces, sorted.
    */
  def node(canonId: String, surfaces: Seq[Surface]): Node = {
    val ranked = surfaces.sorted(surfaceRank)
    val top = ranked.head
    Node(canonId, top.text, top.labels.headOption.orNull, top.display_label,
      top.ns, top.ns_id, top.species, ranked.iterator.take(MaxListPerKey)
        .map(_.text).toSeq.distinct.sorted(utf8).toArray)
  }

  /** The linked mentions among some stage_b rows. */
  def linked(rows: Seq[StageBRow]): Seq[LinkedMention] =
    rows.filter(_.kind == "linked").flatMap(_.linked)

  /** In-process `stageCanon` + `stageMaterialize` over a few stage_b rows:
    * edges in stage_b order, the first row of each `edge_id` kept, and the
    * nodes.
    */
  def materialize(rows: Seq[StageBRow]): (Seq[EdgeRow], Seq[Node]) = {
    val canon = Canon.canonMap(rows.filter(_.kind == "alias").flatMap(_.alias)
      .map(e => (e.a, e.b)))
    val edges = rows.filter(_.kind == "triple").flatMap(_.triple)
      .map(edge(_, canon)).distinctBy(_.edge_id)
    val nodes = surfaceCounts(linked(rows).flatMap(surface(_, canon)))
      .groupBy(_.canon_id).toSeq.map { case (c, ss) => node(c, ss) }
    (edges, nodes)
  }

  // ---- FRIES frame graph ------------------------------------------------------

  /** The FRIES document a turn belongs to: chunkTurns-sized spans of turns. */
  def docPart(turnIdx: Int, chunkTurns: Int): Long =
    Math.floorDiv(turnIdx, chunkTurns).toLong

  /** JsonOutputter.prettifyLabel (reference :176): FRIES types/subtypes are
    * lowercase with hyphens ("Positive_regulation" -> "positive-regulation").
    */
  private def prettify(s: String): String =
    s.replace("_", "-").toLowerCase(Locale.ROOT)

  /** One FRIES document: the linked mentions of one `(conv_id, part)` as
    * entity and event frames, and the part's turns as passage and sentence
    * frames (see `Emit.friesFrameGraph` for the layout). `turns` is None
    * when a turns table was given but holds no turn of this part: the
    * sentences section then has no `frames`. Argument types and `is-direct`
    * are looked up within the document: an argument that coref resolved
    * into the part before (through the fold's halo) reads as an entity.
    */
  def fries(convId: String, part: Long, linked: Seq[LinkedMention],
            turns: Option[Seq[(Int, String)]]): String = {
    val byId = linked.groupBy(_.mention_id)
    def isSplit(m: LinkedMention) = m.found_by.endsWith("_split")
    // events controlled by a split regulation are the cause-split simple
    // events — BioEventMention(isDirect = true) in splitSimpleEvents
    // (DarpaActions.scala:319); bindings are direct per mkBinding /
    // mkNaryBinding (:219,259)
    val splitControlled = linked.filter(isSplit).flatMap(_.args)
      .filter(_.role == "controlled").map(_.mention_id).toSet
    // argument-type of each frame reference: "event" when the referenced
    // frame is an event mention, "entity" otherwise
    def arguments(id: Long): V = Arr(byId(id).flatMap(_.args).flatMap { a =>
        byId.get(a.mention_id).map(_.map(_.is_event).distinct)
          .getOrElse(Seq(false)).map(ev => obj(
            "type" -> str(a.role), "arg" -> Num(a.mention_id),
            "argument-type" -> str(if (ev) "event" else "entity")))
      }.sorted(order))
    def mods(m: LinkedMention): V =
      Arr(m.mods.toSeq.map(x => obj("kind" -> str(x.kind),
        "label" -> str(x.label), "site" -> str(x.site_text))))
    def frame(m: LinkedMention): V = {
      val span = Seq("turn_idx" -> Num(m.turn_idx),
        "sent_idx" -> Num(m.sent_idx), "start_tok" -> Num(m.start_tok),
        "end_tok" -> Num(m.end_tok), "frame-id" -> Num(m.mention_id))
      val flags = Seq("modifications" -> mods(m),
        "is-negated" -> Bool(m.negated), "is-hypothesis" -> Bool(m.hypothesis))
      if (!m.is_event)
        Obj(span ++ Seq("frame-type" -> str("entity-mention"),
          "type" -> str(prettify(m.display_label)), "text" -> str(m.text),
          "xrefs" -> Arr(Seq(obj("namespace" -> str(m.ns),
            "object-type" -> str("db-reference"), "id" -> str(m.ns_id))))) ++
          flags)
      else {
        // split regulations are BioRelationMentions in the reference —
        // FRIES emits trigger / is-direct only for BioEventMentions
        // (FriesOutput.scala:592-595)
        val event = !isSplit(m)
        Obj(span ++ Seq("frame-type" -> str("event-mention"),
          "subtype" -> str(prettify(m.labels.head)), "text" -> str(m.text),
          "trigger" -> (if (event) str(m.trigger_text) else Null),
          "arguments" -> arguments(m.mention_id),
          "is-direct" -> (if (event) Bool(m.labels.head == "Binding" ||
            splitControlled(m.mention_id)) else Null)) ++ flags)
      }
    }
    // passage frame per turn + sentence frames from the same deterministic
    // splitter extraction uses
    val sentences = turns.map(ts => Arr(ts.flatMap { case (ti, tx) =>
      ((-1, "passage", tx) +: Annotate.Tokenizer.sentences(tx).toSeq
        .zipWithIndex.map { case (s, si) => (si, "sentence", s) })
        .map { case (si, kind, text) => obj("turn_idx" -> Num(ti),
          "sent_idx" -> Num(si), "frame-type" -> str(kind), "text" -> str(text))
        }
    }.sorted(order))).getOrElse(Null)
    val (events, entities) = linked.partition(_.is_event)
    val doc = if (part == 0) convId else s"$convId#$part"
    def section(frames: V) = obj("object-type" -> str("frame-collection"),
      "object-meta" -> obj("component" -> str("graft-kg"),
        "organization" -> str("graft"), "doc-id" -> str(doc)),
      "frames" -> frames)
    render(obj("document" -> str(doc),
      "sentences" -> section(sentences),
      "entities" -> section(Arr(entities.map(frame).sorted(order))),
      "events" -> section(Arr(events.map(frame).sorted(order)))))
  }

  /** In-process `Emit.friesFrameGraph`: `(conv_id, document)` for every
    * `(conv_id, part)` with linked mentions, in key order. */
  def friesDocs(linked: Seq[LinkedMention], turns: Option[Seq[Turn]],
                chunkTurns: Int = KgCore.chunkTurns): Seq[(String, String)] = {
    val turnsOf = turns.map(_.groupBy(t => (t.conv_id,
      docPart(t.turn_idx, chunkTurns))))
    linked.groupBy(m => (m.conv_id, docPart(m.turn_idx, chunkTurns)))
      .toSeq.sortBy(_._1).map { case (key @ (c, p), ms) =>
        val ts = turnsOf match {
          case None => Some(Nil)
          case Some(byKey) => byKey.get(key).map(_.map(t => (t.turn_idx, t.text)))
        }
        (c, fries(c, p, ms, ts))
      }
  }

  // ---- IndexCards ---------------------------------------------------------------

  /** Modification event labels (reference: ReachConstants MODIFICATION_EVENTS). */
  private val modLabels = Set("Phosphorylation", "Dephosphorylation",
    "Ubiquitination", "Deubiquitination", "Hydroxylation", "Dehydroxylation",
    "Sumoylation", "Desumoylation", "Glycosylation", "Deglycosylation",
    "Acetylation", "Deacetylation", "Farnesylation", "Defarnesylation",
    "Ribosylation", "Deribosylation", "Methylation", "Demethylation")

  private def sansAuto(s: String) = s.replaceFirst("^Auto", "")
  /** The IndexCards' modification test: an `Auto` label (AutoPhosphorylation)
    * is the modification it names. The tabular exports disagree
    * ([[eventOutput]]); the golden oracles pin both. */
  private def isModLabel(s: String) = modLabels(sansAuto(s))
  private val InnerLabel = "^([A-Za-z_]+)\\(".r
  private val InnerGid = "\\(([a-z]+:[^@)]+)".r

  /** Catalyst's `regexp_extract(s, re, 1)`: "" when nothing matches. */
  private[kg] def group1(re: scala.util.matching.Regex, s: String): String =
    re.findFirstMatchIn(s).map(_.group(1)).getOrElse("")

  private val amountLabels =
    Set("IncreaseAmount", "DecreaseAmount", "Transcription")

  private def isRegulation(pred: String) = pred.endsWith("_regulation")

  /** The display and display label of each node, by canonical id. */
  type NodeMeta = Map[String, (String, String)]

  /** A participant's text and type: its node's display and lowercased
    * display label (`entity` without a node), or both blank for no
    * participant. */
  def participant(gid: String, nodes: NodeMeta): (String, String) =
    if (gid == "") ("", "")
    else nodes.get(gid).fold((gid, "entity")) { case (display, label) =>
      (display, label.toLowerCase(Locale.ROOT))
    }

  /** The card rows of one conversation's edges, one per carded edge (`seen`
    * 1, its evidence as `evidence`), IndexCardOutput.scala 95-135 and
    * 270-365:
    *  - regulations whose controlled is a modification become
    *    adds_modification / inhibits_modification cards with participant_a =
    *    controller (mkRegulationIndexCard:323-362; non-modification
    *    controlled returns None — the INDEX CARD LIMITATION);
    *  - a modification that is some regulation's controlled in the same
    *    conversation is suppressed as a standalone card
    *    (simpleEventsInRegs:107-133);
    *  - bindings/activations/translocations/amounts/transcription per
    *    mkBindingIndexCard/mkActivationIndexCard/mkTranslocationIndexCard/
    *    mkSimpleEventIndexCard.
    * Participants render through [[participant]].
    */
  def cards(convEdges: Seq[EdgeRow], nodes: NodeMeta): Seq[IndexCard] = {
    val consumed = convEdges.filter(e => isRegulation(e.pred))
      .map(e => (e.conv_id, e.obj)).toSet
    convEdges.flatMap { e =>
      val p = e.pred
      lazy val inner = group1(InnerLabel, e.obj)
      // (interaction, participant a, participant b, modification, position,
      // destination)
      val shape: Option[(String, String, String, String, String, String)] =
        if (isRegulation(p) && isModLabel(inner))
          Some((if (p == "Positive_regulation") "adds_modification"
            else "inhibits_modification", e.subj, group1(InnerGid, e.obj),
            sansAuto(inner).toLowerCase(Locale.ROOT), e.site, ""))
        else if (isModLabel(p) && e.subj == "" &&
          !consumed((e.conv_id, eventKey(e.pred, e.obj, e.site))))
          Some(("adds_modification", "", e.obj,
            sansAuto(p).toLowerCase(Locale.ROOT), e.site, ""))
        else if (p == "Binding") {
          val themes = e.obj.split("&", -1)
          Some(("binds", themes(0), themes.lift(1).orNull, "", e.site, ""))
        }
        else if (p.endsWith("_activation"))
          Some((if (p == "Positive_activation") "increases_activity"
            else "decreases_activity", e.subj, e.obj, "", "", ""))
        else if (p == "Translocation")
          Some(("translocates", "", e.obj, "", "", e.site))
        else if (amountLabels(p))
          Some((if (p == "Transcription") "transcribes" else p, e.subj, e.obj,
            "", "", ""))
        else None
      shape.map { case (interaction, a, b, mod, position, destination) =>
        val ((aText, aType), (bText, bType)) =
          (participant(a, nodes), participant(b, nodes))
        IndexCard(interaction, mod, position, destination, e.negated,
          e.hypothesis, e.ctx_species, e.ctx_organ, e.ctx_cell_line,
          e.ctx_cell_type, e.trigger_text, e.conv_id, aText, aType, a,
          bText, bType, b, 1L, e.evidence_text)
      }
    }
  }

  /** The key card rows merge under: every field but `seen` and `evidence`. */
  def cardKey(c: IndexCard): IndexCard = c.copy(seen = 0L, evidence = null)

  /** The card rows of one [[cardKey]] as one card: `seen` and the capped
    * `evidence` of their [[Tally]] (`pmc_id` is part of the key). */
  def mergeCards(key: IndexCard, rows: Iterator[IndexCard]): IndexCard = {
    val t = new Tally
    rows.foreach(c => t.add(c.evidence, c.pmc_id))
    key.copy(seen = t.seen, evidence = t.evidence)
  }

  /** Reference-shaped nested IndexCard JSON (IndexCardOutput
    * .writeJsonToString shape, meta per addMeta:455-476; wall-clock
    * reading_started/complete are dropped so output is deterministic). */
  def cardJson(c: IndexCard): String = {
    def participant(text: String, kind: String, id: String) =
      obj("entity_text" -> str(text), "entity_type" -> str(kind),
        "identifier" -> str(id))
    render(obj(
      "extracted_information" -> obj(
        "interaction_type" -> str(c.interaction_type),
        "participant_a" -> (if (c.participant_a_identifier.nonEmpty)
          participant(c.participant_a_text, c.participant_a_type,
            c.participant_a_identifier) else Null),
        "participant_b" -> participant(c.participant_b_text,
          c.participant_b_type, c.participant_b_identifier),
        "modifications" -> (if (c.modification_type.nonEmpty)
          Arr(Seq(obj("feature_type" -> str("modification"),
            "modification_type" -> str(c.modification_type),
            "position" -> str(c.position)))) else Null),
        "to_location_id" -> (if (c.to_location_id.nonEmpty)
          str(c.to_location_id) else Null),
        "negative_information" -> Bool(c.negative_information),
        "hypothesis_information" -> Bool(c.hypothesis_information),
        "context" -> obj("species" -> str(c.context_species),
          "organ" -> str(c.context_organ),
          "cell_line" -> str(c.context_cell_line),
          "cell_type" -> str(c.context_cell_type))),
      "pmc_id" -> str(c.pmc_id), "trigger" -> str(c.trigger),
      "evidence" -> str(c.evidence), "reader_type" -> str("machine"),
      "model_relation" -> str("extension")))
  }

  /** In-process IndexCards of some edges and their nodes: the card JSON
    * documents, sorted. */
  def indexCards(edges: Seq[EdgeRow], nodes: Seq[Node]): Seq[String] = {
    val meta: NodeMeta =
      nodes.map(n => n.canon_id -> (n.display, n.display_label)).toMap
    edges.groupBy(_.conv_id).values.toSeq.flatMap(cards(_, meta))
      .groupBy(cardKey).toSeq.map { case (k, cs) => cardJson(
        mergeCards(k, cs.iterator)) }.sorted
  }

  // ---- tabular exports: Arizona, assembly, CMU -----------------------------

  /** The aggregate columns of one export row, folded as the rows behind its
    * key stream by: `seen` counts every row; [[evidence]] and [[convs]]
    * hold the distinct values of the first [[MaxListPerKey]] rows in
    * (evidence, conversation) order, in a bounded heap, so a viral key keeps
    * no more than that many in memory; the triggers and the context maxima
    * (Catalyst's `max`) cover every edge.
    */
  private final class Tally {
    var seen = 0L
    private val first = mutable.PriorityQueue.empty[(String, String)](
      Ordering.Tuple2(utf8, utf8))
    val triggers = mutable.Set.empty[String]
    var species, organ, cellLine, cellType: String = null
    def add(evidence: String, conv: String): Unit = {
      seen += 1
      if (first.size < MaxListPerKey) first.enqueue((evidence, conv))
      else if (first.ord.lt((evidence, conv), first.head)) {
        first.dequeue()
        first.enqueue((evidence, conv))
      }
    }
    def add(e: EdgeRow): Unit = {
      add(e.evidence_text, e.conv_id)
      triggers += e.trigger_text
      species = max(species, e.ctx_species)
      organ = max(organ, e.ctx_organ)
      cellLine = max(cellLine, e.ctx_cell_line)
      cellType = max(cellType, e.ctx_cell_type)
    }
    def evidence: String = joined(first.iterator.map(_._1), " | ")
    def convs: String = joined(first.iterator.map(_._2), "|")
  }

  private def tally(edges: Iterator[EdgeRow]): Tally = {
    val t = new Tally
    edges.foreach(t.add)
    t
  }

  private def max(a: String, b: String) =
    if (a == null || b != null && utf8.lt(a, b)) b else a

  /** Catalyst's `concat_ws(sep, array_sort(collect_set(xs)))`. */
  private def joined(xs: IterableOnce[String], sep: String): String =
    xs.iterator.filter(_ != null).distinct.toSeq.sorted(utf8).mkString(sep)

  /** A PTM feature (AssemblyExporter.getPTMrepresentation:375-387): the
    * label's first letter, lowercased — the PTMLUT abbreviations ".p" and
    * ".u" are the same letters — then "@site" when sited. */
  private def ptm(label: String, site: String) =
    s".${label.take(1).toLowerCase(Locale.ROOT)}${at(site)}"

  /** OUTPUT of the Arizona and assembly rows (createOutput:143-165): the
    * theme, plus a PTM feature for a modification or ".a" for a positive
    * activation. Unlike the IndexCards ([[isModLabel]]), an `Auto` label is
    * no modification here, so AutoPhosphorylation gets no ".p": the sinks
    * disagree, and the golden oracles pin both. */
  def eventOutput(pred: String, obj: String, site: String): String =
    if (modLabels(pred)) obj + ptm(pred, site)
    else if (pred == "Positive_activation") s"$obj.a"
    else obj

  /** Whether an event is indirect (AssemblyRow.isIndirect:80-98):
    * activations and regulations over a regulation are; simple events and
    * bindings are not. The Arizona and assembly INDIRECT, and CMU's
    * IS_INDIRECT. */
  def isIndirect(pred: String, obj: String): Boolean =
    pred.endsWith("activation") ||
      pred.endsWith("regulation") && obj.contains("regulation(")

  /** An edge's Arizona row key (row semantics AssemblyExporter.scala
    * 112-170): INPUT the consumed participant (the controlled event key for
    * a regulation), OUTPUT the produced state ([[eventOutput]]), CONTROLLER
    * the subject, TRANSLOCATION_DESTINATION a translocation's site, and the
    * EVENT_ID over the key columns. [[arizona]] fills the rest. */
  def arizonaKey(e: EdgeRow): ArizonaRow = {
    val output = eventOutput(e.pred, e.obj, e.site)
    val indirect = isIndirect(e.pred, e.obj)
    ArizonaRow(e.obj, output, e.subj, e.pred, e.site, e.negated, indirect,
      e.hypothesis, null, null, null, null,
      if (e.pred == "Translocation") e.site else "", null, 0L, null, null,
      eventId(e.obj, output, e.subj, e.pred, e.site, e.negated, indirect,
        e.hypothesis))
  }

  /** One Arizona row from its key's edges: the context maxima, the sorted
    * "|"-joined triggers, and SEEN, EVIDENCE and SEEN_IN from their
    * [[Tally]] (arizonaFilter keeps seen > 0, ArizonaOutputter.scala:40-46;
    * every row has an edge). Lists are sorted strings, so tabular
    * consumers can order rows. */
  def arizona(key: ArizonaRow, edges: Iterator[EdgeRow]): ArizonaRow = {
    val t = tally(edges)
    key.copy(CONTEXT_SPECIES = t.species, CONTEXT_ORGAN = t.organ,
      CONTEXT_CELL_LINE = t.cellLine, CONTEXT_CELL_TYPE = t.cellType,
      TRIGGERS = joined(t.triggers, "|"), SEEN = t.seen,
      EVIDENCE = t.evidence, SEEN_IN = t.convs)
  }

  /** An edge's assembly event row key (AssemblyExporter.getRows:225-246):
    * as [[arizonaKey]], with CONTROLLER "NONE" for no subject and the
    * EVENT_ID over the reference's row identity (AssemblyRow fields:25-35;
    * the site is already in INPUT or OUTPUT). [[assembly]] fills the rest.
    */
  def assemblyKey(e: EdgeRow): AssemblyRow = {
    val output = eventOutput(e.pred, e.obj, e.site)
    val controller = if (e.subj == "") "NONE" else e.subj
    val indirect = isIndirect(e.pred, e.obj)
    AssemblyRow(e.obj, output, controller, eventId(e.obj, output, controller,
      e.pred, e.negated, indirect).toString, e.pred, e.negated, indirect,
      null, null, null, null, null, 0L, null, null, null)
  }

  /** One conversation's edges, each with the EVENT_IDs of the events that
    * [[Precedence.ofConversation]] puts before it. Events match by
    * (pred, obj), the granularity the sieves identify them at, so every
    * edge of an event inherits its predecessors (the reference keys on EER
    * equivalence, where controller-distinct rows over one controlled share
    * it too). */
  def precededBy(convEdges: Seq[EdgeRow]): Seq[(EdgeRow, Seq[String])] = {
    val ids = convEdges.groupMap(e => (e.pred, e.obj))(assemblyKey(_).EVENT_ID)
    val before = Precedence.ofConversation(convEdges).groupMap(
      r => (r.after_pred, r.after_obj))(r => (r.before_pred, r.before_obj))
    convEdges.map(e => e -> before.getOrElse((e.pred, e.obj), Nil)
      .flatMap(ids.getOrElse(_, Nil)).distinct)
  }

  /** One assembly event row from its key's edges and their predecessors:
    * as [[arizona]], plus PRECEDED_BY, the sorted union of the predecessor
    * ids less the row's own. */
  def assembly(key: AssemblyRow,
               edges: Iterator[(EdgeRow, Seq[String])]): AssemblyRow = {
    val (t, pb) = (new Tally, mutable.Set.empty[String])
    edges.foreach { case (e, ids) => t.add(e); pb ++= ids }
    key.copy(CONTEXT_SPECIES = t.species, CONTEXT_ORGAN = t.organ,
      CONTEXT_CELL_LINE = t.cellLine, CONTEXT_CELL_TYPE = t.cellType,
      TRIGGERS = joined(t.triggers, "|"), SEEN = t.seen,
      EVIDENCE = t.evidence, SEEN_IN = t.convs,
      PRECEDED_BY = joined(pb -= key.EVENT_ID, "|"))
  }

  /** A grounded entity mention ([[surface]]) as an assembly entity row's
    * input: its mutant forms ":[T669A]" and PTM features, each sorted
    * (createSimpleEntityText:68-92). */
  def entityMention(m: LinkedMention,
                    canon: Map[String, String]): Option[EntityMention] =
    surface(m, canon).map { s =>
      val ptms = m.mods.toSeq.filter(_.kind == "PTM")
      EntityMention(s.canon_id, m.mods.toSeq.filter(_.kind == "Mutant")
        .map(x => s":[${x.site_text}]").sorted(utf8).mkString,
        ptms.map(x => ptm(x.label, x.site_text)).sorted(utf8).mkString,
        ptms.map(_.label).minOption(utf8).orNull, m.text, m.conv_id)
    }

  /** One assembly entity row from the mentions of one (grounding, mutant
    * forms, PTM features) — getRows includes non-event EERs; only the
    * Arizona variant drops them. INPUT = OUTPUT = "text::gid" plus the
    * forms and features, with the least text standing in for the EER's
    * source mention (getText:49-66); CONTROLLER "NONE"; EVENT_LABEL the
    * least PTM label when PTM-featured, else "entity" (getEventLabel:
    * 389-401). EVIDENCE lists every distinct text (the flattened mention
    * model keeps no sentence on an entity; a grounding's surface forms are
    * few), SEEN_IN the capped conversations in (text, conversation) order;
    * the context columns are empty. */
  def entity(key: (String, String, String),
             mentions: Iterator[EntityMention]): AssemblyRow = {
    val (t, texts, labels) =
      (new Tally, mutable.Set.empty[String], mutable.Set.empty[String])
    mentions.foreach { m =>
      t.add(m.text, m.conv_id)
      texts += m.text
      labels += m.ptm_label
    }
    val (cgid, mutants, ptms) = key
    val input = texts.min(utf8) + "::" + cgid + mutants + ptms
    val label =
      if (ptms.nonEmpty) labels.filter(_ != null).min(utf8) else "entity"
    AssemblyRow(input, input, "NONE",
      eventId(input, input, "NONE", label, false, false).toString, label,
      false, false, "", "", "", "", "", t.seen, joined(texts, " | "), t.convs,
      "")
  }

  /** An assembly row with PRECEDED_BY pruned to the `kept` EVENT_IDs,
    * still sorted and "|"-joined: the MITRE variant's filterPrecededBy
    * (:66-88; the reference intersects against row *labels*, an evident
    * id-vs-label slip, so row event ids are kept here). */
  def precededByKept(r: AssemblyRow, kept: Set[String]): AssemblyRow =
    r.copy(PRECEDED_BY =
      joined(r.PRECEDED_BY.split("\\|", -1).iterator.filter(kept), "|"))

  private val NotMitre =
    "_activation\\(|(^|[(&\\s:])(pfam|interpro|be):|(^|[(&\\s])uaz:".r

  /** Whether an assembly row is exported: seen > 0, or for the MITRE
    * variant (ExportFilters.MITREfilter:105-122) seen >= 3, evidence from
    * >= 2 documents, no activation anywhere in the event chain
    * (isValidMITREMention:93-101), no Family-grounded participant
    * (containsFamily: the pfam, interpro and be namespaces) and no
    * unresolved `uaz:` grounding. */
  def assemblyKept(r: AssemblyRow, mitre: Boolean): Boolean =
    if (!mitre) r.SEEN > 0
    else r.SEEN >= 3 && r.SEEN_IN.split("\\|", -1).length >= 2 &&
      !r.EVENT_LABEL.endsWith("activation") &&
      NotMitre.findFirstIn(s"${r.INPUT} ${r.OUTPUT} ${r.CONTROLLER}").isEmpty

  /** The edges of one conversation that are CMU rows: events with a
    * controller, and translocations (keepEvents:186-195), less the child
    * events another kept regulation holds as its controlled
    * (removeChildren:197-205). */
  def cmuEdges(convEdges: Seq[EdgeRow]): Seq[EdgeRow] = {
    val rows = convEdges.filter(e => isRegulation(e.pred) ||
      e.pred.endsWith("_activation") || e.pred == "Translocation")
    val controlled = rows.filter(e => isRegulation(e.pred)).map(_.obj).toSet
    rows.filterNot(e => controlled(eventKey(e.pred, e.obj, e.site)))
  }

  private val Mechanism = "([A-Za-z_]+)\\([a-z]+:".r
  private val NegativeWrapper = "Negative_regulation\\(".r
  private val GoId = "(go:[0-9]+)$".r
  private val KnownLocations = Map("go:0005737" -> "cytoplasm",
    "go:0005886" -> "plasma membrane", "go:0005634" -> "nucleus",
    "go:0005739" -> "mitochondria", "go:0005576" -> "external",
    "go:0005783" -> "endoplasmic reticulum")

  private def db(gid: String) = gid.split(":", -1)(0)
  private def localId(gid: String) = gid.replaceFirst("^[a-z]+:", "")
  /** The DyCE element type of a grounding (singleElementType:63-78). */
  private def elementType(gid: String) = db(gid) match {
    case "uniprot" => "Protein"
    case "pfam" | "interpro" => "Protein Family"
    case "be" => "Protein Family|Protein Complex"
    case "pubchem" | "hmdb" | "chebi" => "Chemical"
    case "go" | "mesh" => "Biological Process"
    case _ => "Other"
  }

  /** A CMU edge's row key (CMURow.scala:278-305). ELEMENT_* describe the
    * innermost simple-event participant, PTM suffix stripped
    * (removePTM:151-160); MECHANISM_TYPE is a regulation's controlled
    * simple-event label (createMechanismType:22-29), else NONE. The
    * controller's polarity follows fetchNestedControllers:55-93: an
    * innermost De-modification or Ubiquitination starts negative, and
    * every Negative_regulation wrapper, the row's own label included,
    * flips it; a positive controller lands in POS_REG_*, a negative one in
    * NEG_REG_*, and a translocation's theme is its own positive controller
    * (:63-67). LOCATION is a translocation's destination under the DyCE
    * known-location table (CMU_KNOWN_LOCATIONS:174-181); other
    * cellular-component context is not modelled (the reference reads its
    * CELLULAR_COMPONENT axis, and SURVEY keeps four axes). */
  def cmuKey(e: EdgeRow, nodes: NodeMeta): CmuRow = {
    val regulation = isRegulation(e.pred)
    val element = if (regulation) group1(InnerGid, e.obj) else e.obj
    val mechanism = if (regulation) group1(Mechanism, e.obj) else ""
    val inner = sansAuto(mechanism)
    val flips = NegativeWrapper.findAllMatchIn(e.obj).size +
      Seq(inner.startsWith("De") || inner == "Ubiquitination",
        e.pred == "Negative_regulation" || e.pred == "Negative_activation")
        .count(identity)
    val translocation = e.pred == "Translocation"
    val controller = if (translocation) element else e.subj
    def regulator(on: Boolean) =
      if (on) (participant(controller, nodes)._1, elementType(controller),
        localId(controller))
      else ("", "", "")
    val (posName, posType, posId) = regulator(flips % 2 == 0)
    val (negName, negType, negId) = regulator(flips % 2 == 1)
    val site = e.site.toLowerCase(Locale.ROOT)
    val location =
      if (!translocation) "" else Some(group1(GoId, site)).filter(_.nonEmpty)
        .getOrElse(site)
    CmuRow(participant(element, nodes)._1, elementType(element), db(element),
      localId(element),
      if (location.isEmpty) "" else KnownLocations.getOrElse(location, "Other"),
      location, posName, posType, posId, negName, negType, negId,
      if (isIndirect(e.pred, e.obj)) "I" else "D",
      if (mechanism.isEmpty) "NONE" else mechanism, null, null, null, null,
      null)
  }

  /** One CMU row from its key's edges: the context maxima, and PAPER_ID
    * and EVIDENCE from their [[Tally]]. */
  def cmu(key: CmuRow, edges: Iterator[EdgeRow]): CmuRow = {
    val t = tally(edges)
    key.copy(CELL_LINE = t.cellLine, CELL_TYPE = t.cellType,
      ORGANISM = t.organ, PAPER_ID = t.convs, EVIDENCE = t.evidence)
  }
}
