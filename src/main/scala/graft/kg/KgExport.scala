package graft.kg

import graft.kg.Json._
import graft.model._
import java.nio.charset.StandardCharsets.UTF_8
import java.util.Locale
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.Platform

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

/** The Spark-free exporter core: the per-row and per-group functions that
  * turn stage_b rows into edges, nodes, FRIES documents and IndexCards, run
  * by two executors, as [[KgCore]] is for extraction. The Spark entry
  * points run them as their closures:
  *   - [[Pipeline.stageCanon]]: [[Canon.rewrites]] (and
  *     [[Canon.unionFind]] on the driver path of [[Canon.components]]);
  *   - [[Pipeline.stageMaterialize]]: [[edge]] in a `map` over the
  *     broadcast canon map, then `dropDuplicates("edge_id")`; [[surface]],
  *     a Catalyst count per surface, then [[node]] per `canon_id` group;
  *   - `Emit.friesFrameGraph`: [[fries]] per `(conv_id, doc_part)` group,
  *     cogrouped with the turns;
  *   - `Emit.indexCardFlat`: [[cards]] per conversation, then
  *     [[mergeCards]] per [[cardKey]]; `Emit.indexCardJson`: [[cardJson]].
  * [[materialize]], [[friesDocs]] and [[indexCards]] run the same functions
  * in-process over one request's rows (`graft.Serve`), with no Spark job.
  */
object KgExport {

  // ---- edges and nodes ------------------------------------------------------

  /** `edge_id`: Catalyst's `xxhash64(subj, pred, obj, site, negated,
    * hypothesis, conv_id, turn_idx)` — seed 42, a null column skipped,
    * strings hashed as UTF-8 bytes, booleans as the int 0/1. */
  def edgeId(subj: String, pred: String, obj: String, site: String,
             negated: Boolean, hypothesis: Boolean, convId: String,
             turnIdx: Int): Long = {
    def s(x: String, h: Long): Long =
      if (x == null) h
      else {
        val b = x.getBytes(UTF_8)
        XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET.toLong, b.length, h)
      }
    def flag(x: Boolean, h: Long): Long = XXH64.hashInt(if (x) 1 else 0, h)
    XXH64.hashInt(turnIdx, s(convId, flag(hypothesis, flag(negated,
      s(site, s(obj, s(pred, s(subj, 42L))))))))
  }

  /** The key of the event `pred` over `obj` at `site` — what a regulation's
    * object holds for its controlled event: `pred(obj[@site])`. */
  def eventKey(pred: String, obj: String, site: String): String =
    if (site.nonEmpty) s"$pred($obj@$site)" else s"$pred($obj)"

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

  /** Per-key list fan-in bound (scale guard): a viral interaction or a
    * ubiquitous entity would otherwise collect an unbounded evidence or
    * surface-form list into ONE output row. Far above anything the contract
    * corpora produce. `Emit.MaxListPerKey` is this bound. */
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
    val canon = Canon.unionFind(rows.filter(_.kind == "alias").flatMap(_.alias)
      .map(e => (e.a, e.b)).filter(e => Canon.rewrites(e._1, e._2)),
      Canon.order).toMap
    val edges = rows.filter(_.kind == "triple").flatMap(_.triple)
      .map(edge(_, canon)).distinctBy(_.edge_id)
    val nodes = linked(rows).flatMap(surface(_, canon))
      .groupMapReduce(identity)(_.n)(_ + _).toSeq
      .map { case (s, n) => s.copy(n = n) }
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
  val modEventLabels: Seq[String] = Seq("Phosphorylation", "Dephosphorylation",
    "Ubiquitination", "Deubiquitination", "Hydroxylation", "Dehydroxylation",
    "Sumoylation", "Desumoylation", "Glycosylation", "Deglycosylation",
    "Acetylation", "Deacetylation", "Farnesylation", "Defarnesylation",
    "Ribosylation", "Deribosylation", "Methylation", "Demethylation")

  private val modLabels = modEventLabels.toSet
  private def sansAuto(s: String) = s.replaceFirst("^Auto", "")
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
    * A participant renders as its node's display and lowercased display
    * label (`entity` without a node), or all blank for no participant.
    */
  def cards(convEdges: Seq[EdgeRow], nodes: NodeMeta): Seq[IndexCard] = {
    val consumed = convEdges.filter(e => isRegulation(e.pred))
      .map(e => (e.conv_id, e.obj)).toSet
    def text(gid: String) =
      if (gid == "") "" else nodes.get(gid).map(_._1).getOrElse(gid)
    def kind(gid: String) =
      if (gid == "") ""
      else nodes.get(gid).map(_._2).getOrElse("entity").toLowerCase(Locale.ROOT)
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
        IndexCard(interaction, mod, position, destination, e.negated,
          e.hypothesis, e.ctx_species, e.ctx_organ, e.ctx_cell_line,
          e.ctx_cell_type, e.trigger_text, e.conv_id, text(a), kind(a), a,
          text(b), kind(b), b, 1L, e.evidence_text)
      }
    }
  }

  /** The key card rows merge under: every field but `seen` and `evidence`. */
  def cardKey(c: IndexCard): IndexCard = c.copy(seen = 0L, evidence = null)

  /** The card rows of one [[cardKey]] as one card: `seen` counts them all;
    * `evidence` is the distinct evidence of the first [[MaxListPerKey]]
    * rows in evidence order (`pmc_id` is part of the key), sorted and
    * " | "-joined.
    */
  def mergeCards(key: IndexCard, rows: Iterator[IndexCard]): IndexCard = {
    val evidence = rows.map(_.evidence).toSeq
    key.copy(seen = evidence.size.toLong,
      evidence = evidence.sorted(utf8).take(MaxListPerKey).distinct
        .mkString(" | "))
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
}
