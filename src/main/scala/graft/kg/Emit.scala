package graft.kg

import graft.model.LinkedMention
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Export sinks beyond the primary edges/nodes tables (SURVEY.md §2.1
  * S8-S10). [[friesJson]], [[debugText]] and [[serialJson]] are Catalyst
  * projections with no exchange. Every other sink runs [[KgExport]]'s rules
  * (which `graft.Serve` runs in-process) in the same shape: per-conversation
  * row functions in one `groupByKey(conv_id).flatMapGroups` where a rule
  * needs the conversation, then one capped merge per row key in
  * `groupByKey(key).mapGroups`.
  */
object Emit {

  /** FRIES-shaped nested JSON export (reference: export/.../fries/
    * FriesOutput.scala:75-111 — one frame per event with nested argument
    * frames). Here: one JSON object per edge with nested subj/obj frames,
    * grouped per conversation. `to_json` keeps it columnar until the write.
    */
  def friesJson(edges: DataFrame): DataFrame =
    edges.select(to_json(struct(
      col("edge_id").as("frame-id"),
      lit("event-mention").as("frame-type"),
      col("pred").as("type"),
      struct(col("subj").as("canon_id")).as("controller"),
      struct(col("obj").as("canon_id"), col("site").as("site")).as("argument"),
      col("negated").as("is-negated"),
      col("hypothesis").as("is-hypothesis"),
      struct(col("conv_id"), col("turn_idx"),
        col("evidence_text").as("text")).as("provenance"),
      col("found_by")
    )).as("frame"))

  /** FRIES frame graph (reference: FriesOutput.scala:524-660 — one document
    * per input unit whose frames reference each other by frame id: entity
    * mentions are frames, event mentions are frames whose arguments point at
    * other frames). Faithful to the reference's document layout: three
    * frame-collection sections (`sentences` when `turns` is given,
    * `entities`, `events`), each carrying `object-type`/`object-meta`
    * (FriesOutput.startSection analogue); entity frames carry prettified
    * `type` + `xrefs` db-reference lists (:524-560); event frames carry
    * prettified `subtype`, `trigger`, `is-direct` (true for the regulations
    * splitSimpleEvents creates, DarpaActions.scala:219,259,319) and
    * `arguments` whose `argument-type` says whether the referenced frame is
    * an event or an entity (:382-420). `frame-id` is the deterministic
    * mention id; arrays are sorted so the JSON is deterministic.
    *
    * Scale: documents are keyed `(conv_id, turn_idx / chunkTurns)` (the
    * span chunking stage B uses), so a mega-conversation becomes a sequence
    * of bounded frame documents instead of one unbounded JSON row. Part 0
    * keeps the bare conv_id as its document name — single-chunk
    * conversations (the overwhelmingly common case, and the whole golden
    * corpus) are byte-identical to the unchunked output; later parts are
    * suffixed `#<part>`. Each document is [[KgExport.fries]] over one
    * `groupByKey` group of linked mentions, cogrouped with its turns; only
    * parts with linked mentions get a document.
    */
  def friesFrameGraph(stageB: DataFrame, turns: Option[DataFrame] = None,
                      chunkTurns: Int = Pipeline.chunkTurns): DataFrame = {
    val spark = stageB.sparkSession
    import spark.implicits._
    val byPart = stageB.filter(col("kind") === "linked").select("linked.*")
      .as[LinkedMention]
      .groupByKey(m => (m.conv_id, KgExport.docPart(m.turn_idx, chunkTurns)))
    val docs = turns match {
      case Some(t) =>
        val turnsByPart = t.select("conv_id", "turn_idx", "text")
          .as[(String, Int, String)]
          .groupByKey(t => (t._1, KgExport.docPart(t._2, chunkTurns)))
        byPart.cogroup(turnsByPart) { case ((conv, part), ms, ts) =>
          if (ms.isEmpty) Iterator.empty
          else {
            val partTurns = ts.map(t => (t._2, t._3)).toSeq
            Iterator((conv, KgExport.fries(conv, part, ms.toSeq,
              if (partTurns.isEmpty) None else Some(partTurns))))
          }
        }
      case None => byPart.mapGroups((key, ms) =>
        (key._1, KgExport.fries(key._1, key._2, ms.toSeq, Some(Nil))))
    }
    docs.toDF("conv_id", "fries")
  }

  /** Debug text sink (reference: MentionManager.mentionToStrings,
    * utils/MentionManager.scala:48-115 + ReachCLI text output:172-176): one
    * sorted human-readable line per linked mention. Takes the stage-B rows
    * (kind == "linked").
    */
  def debugText(stageB: DataFrame): DataFrame =
    stageB.filter(col("kind") === "linked").select("linked.*")
      .orderBy(col("conv_id"), col("turn_idx"), col("sent_idx"),
        col("start_tok"), col("mention_id"))
      .select(concat(
        when(col("is_event"), lit("EVENT ")).otherwise(lit("ENTITY ")),
        col("labels")(0), lit(" '"), col("text"), lit("' @"),
        col("conv_id"), lit(":"), col("turn_idx"), lit(":"), col("sent_idx"),
        lit(" ["), col("start_tok"), lit(","), col("end_tok"), lit(") "),
        when(col("is_event"), concat(lit("trigger='"), col("trigger_text"),
          lit("' args="), size(col("args"))))
          .otherwise(concat(col("ns"), lit(":"), col("ns_id"))),
        when(col("negated"), lit(" NEG")).otherwise(lit("")),
        when(col("hypothesis"), lit(" HYP")).otherwise(lit("")),
        when(size(col("mods")) > 0,
          concat(lit(" mods="), concat_ws(";",
            transform(col("mods"), m =>
              concat(m.getField("kind"), lit(":"), m.getField("label"),
                lit(":"), m.getField("site_text"))))))
          .otherwise(lit(""))
      ).as("line"))

  /** Arizona-style flat tabular export (reference: export/.../arizona/
    * ArizonaOutputter.scala:14-50): [[KgExport.arizona]] per
    * [[KgExport.arizonaKey]]. A row needs no conversation scope, so the
    * edges go straight to their row key.
    */
  def arizonaTsv(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    edges.as[EdgeRow].groupByKey(KgExport.arizonaKey)
      .mapGroups(KgExport.arizona).toDF()
  }

  /** Generic assembly tabular export (reference: ReachCLI.scala:209-218 —
    * `AssemblyExporter.writeRows(DEFAULT_COLUMNS)`, unconstrained `seen > 0`
    * or `ExportFilters.MITREfilter` when `mitre`):
    *  - event rows: [[KgExport.precededBy]] per conversation, then
    *    [[KgExport.assembly]] per [[KgExport.assemblyKey]];
    *  - entity rows: [[KgExport.entityMention]] per linked stage_b mention
    *    under the broadcast canon map, then [[KgExport.entity]] per
    *    (grounding, mutant forms, PTM features);
    *  - [[KgExport.assemblyKept]] on every row. The MITRE variant holds the
    *    kept rows once, as an eager local checkpoint, and prunes each row's
    *    PRECEDED_BY to the kept EVENT_IDs ([[KgExport.precededByKept]]).
    */
  def assemblyTsv(edges: DataFrame, stageB: DataFrame, canonMap: DataFrame,
                  mitre: Boolean = false): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val canon = Pipeline.canonBroadcast(canonMap)
    val events = edges.as[EdgeRow].groupByKey(_.conv_id)
      .flatMapGroups((_, es) => KgExport.precededBy(es.toSeq))
      .groupByKey(e => KgExport.assemblyKey(e._1)).mapGroups(KgExport.assembly)
    val entities = stageB.filter(col("kind") === "linked").select("linked.*")
      .as[LinkedMention].flatMap(KgExport.entityMention(_, canon.value))
      .groupByKey(m => (m.cgid, m.mutant_forms, m.ptm_feats))
      .mapGroups(KgExport.entity)
    val rows = events.union(entities)
      .filter((r: AssemblyRow) => KgExport.assemblyKept(r, mitre))
    if (!mitre) rows.toDF()
    else {
      val held = rows.localCheckpoint()
      val kept = spark.sparkContext.broadcast(
        held.map(_.EVENT_ID).collect().toSet)
      held.map(KgExport.precededByKept(_, kept.value)).toDF()
    }
  }

  // ---- serial-json sink (reference: export/.../serial/SerialJsonOutput
  // .scala:29-40 — coref-mention JSON) --------------------------------------

  /** serial-json export: one JSON object per coref-resolved mention in the
    * processors mention-JSON shape (reference: SerialJsonOutput.toJSON:29-40
    * via mentions.serialization.json — type / id / text / labels /
    * tokenInterval / sentence / document / foundBy / trigger / arguments /
    * modifications / grounding / displayLabel). Differences, both
    * deterministic re-expressions: ids are content hashes (reference ids
    * embed JVM object identity), and `arguments` is a sorted array of
    * {role, id} pairs rather than a role-keyed map (Spark's `to_json`
    * cannot emit dynamic keys; the pairs carry identical information).
    * Grounding carries the full ordered candidate list (head = winner),
    * matching the serialized CorefMention's grounding candidates.
    *
    * Pure projection + `to_json` — parquet-scan speed, no shuffle.
    */
  def serialJson(stageB: DataFrame): DataFrame =
    stageB.filter(col("kind") === "linked").select("linked.*")
      .select(
        col("conv_id"), col("turn_idx"), col("mention_id"),
        to_json(struct(
          when(col("is_event"), lit("CorefEventMention"))
            .otherwise(lit("CorefTextBoundMention")).as("type"),
          col("mention_id").cast("string").as("id"),
          col("text"),
          col("labels"),
          struct(col("start_tok").as("start"), col("end_tok").as("end"))
            .as("tokenInterval"),
          col("sent_idx").as("sentence"),
          col("conv_id").as("document"),
          col("turn_idx").as("turn"),
          lit(true).as("keep"),
          col("found_by").as("foundBy"),
          when(col("is_event"), struct(col("trigger_text").as("text")))
            .as("trigger"),
          sort_array(transform(col("args"), a => struct(
            a.getField("role").as("role"),
            a.getField("mention_id").cast("string").as("id")))).as("arguments"),
          sort_array(transform(col("mods"), m => struct(
            m.getField("kind").as("modification_type"),
            m.getField("label").as("label"),
            m.getField("site_text").as("site")))).as("modifications"),
          when(col("ns") =!= "", struct(
            col("ns").as("namespace"), col("ns_id").as("id"),
            col("species"),
            transform(col("candidates"), c => struct(
              c.getField("namespace").as("namespace"),
              c.getField("id").as("id"),
              c.getField("species").as("species"))).as("candidates")))
            .as("grounding"),
          col("display_label").as("displayLabel"),
          col("negated").as("isNegated"),
          col("hypothesis").as("isHypothesis")
        )).as("mention_json"))

  // ---- IndexCard JSON sink (S-extra; reference: export/.../indexcards/
  // IndexCardOutput.scala) -------------------------------------------------

  /** The node catalog (display and display label per canonical id),
    * collected and broadcast: it grows sublinearly in corpus size. */
  private def nodeCatalog(nodes: DataFrame): Broadcast[KgExport.NodeMeta] = {
    val spark = nodes.sparkSession
    import spark.implicits._
    spark.sparkContext.broadcast(
      nodes.select("canon_id", "display", "display_label")
        .as[(String, String, String)].collect()
        .map { case (id, display, label) => id -> (display, label) }.toMap)
  }

  /** IndexCard export, flat tabular form (reference: IndexCardOutput.scala
    * 95-135 two-pass card construction, 270-305/313-365 per-type cards).
    * One row per card; `indexCardJson` renders the reference's nested JSON.
    * The card rules are [[KgExport.cards]]'s; besides them:
    *  - hedging = negative_information/hypothesis_information (mkHedging:308),
    *    context from the window+defaults engine (mkContext:165-168);
    *  - meta: pmc_id = conv_id, trigger, sorted evidence (addMeta:455-476;
    *    wall-clock reading_started/complete are intentionally dropped — ids
    *    and output must be deterministic, SURVEY A8).
    *
    * Simplification (documented): participant PTM/Mutant feature lists
    * (mkFeatures:203-214) are not re-derivable from the flat edge table;
    * argument-level modifications are exported in the FRIES frame graph.
    * Scale: cards are built per conversation (the modification
    * suppression is conversation-scoped) over the broadcast node catalog,
    * then merged per card key ([[KgExport.mergeCards]]).
    */
  def indexCardFlat(edges: DataFrame, nodes: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val meta = nodeCatalog(nodes)
    edges.as[EdgeRow].groupByKey(_.conv_id)
      .flatMapGroups((_, es) => KgExport.cards(es.toSeq, meta.value))
      .groupByKey(KgExport.cardKey).mapGroups(KgExport.mergeCards).toDF()
  }

  /** Reference-shaped nested IndexCard JSON over the flat card rows
    * ([[KgExport.cardJson]]), one `card` string per row. */
  def indexCardJson(flat: DataFrame): DataFrame = {
    val spark = flat.sparkSession
    import spark.implicits._
    flat.as[IndexCard].map(KgExport.cardJson).toDF("card")
  }

  /** CMU tabular export (reference: export/.../cmu/CMUExporter.scala +
    * CMURow.scala): [[KgExport.cmuEdges]] per conversation (child removal
    * is conversation-scoped), then [[KgExport.cmu]] per [[KgExport.cmuKey]]
    * over the broadcast node catalog.
    */
  def cmuTsv(edges: DataFrame, nodes: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val meta = nodeCatalog(nodes)
    edges.as[EdgeRow].groupByKey(_.conv_id)
      .flatMapGroups((_, es) => KgExport.cmuEdges(es.toSeq))
      .groupByKey(KgExport.cmuKey(_, meta.value)).mapGroups(KgExport.cmu)
      .toDF()
  }
}
