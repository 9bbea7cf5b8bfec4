package graft.kg

import graft.model.LinkedMention
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Export sinks beyond the primary edges/nodes tables (SURVEY.md §2.1 S8-S10).
  * [[friesFrameGraph]], [[indexCardFlat]] and [[indexCardJson]] run
  * [[KgExport]]'s functions, which `graft.Serve` runs in-process; the other
  * sinks are Catalyst plans.
  */
object Emit {

  /** Per-key list-aggregation fan-in bound ([[KgExport.MaxListPerKey]]):
    * a viral interaction ("MEK1 phosphorylates ERK2" across millions of
    * conversations) or a ubiquitous entity would otherwise collect an
    * unbounded evidence/conv-id set into ONE output row — the same
    * unbounded-row class as the (fixed) pre-chunking FRIES frame graph.
    */
  val MaxListPerKey: Int = KgExport.MaxListPerKey

  /** Null the list-contributing columns beyond rank [[MaxListPerKey]] within
    * each aggregation key (`collect_set` skips nulls), ordered
    * deterministically so resume ≡ cold holds at any scale. The window
    * requires the same hash partitioning as the downstream groupBy, so the
    * exchange is shared — no extra shuffle. Count-style aggregates (SEEN)
    * still see every row.
    */
  private def capListCols(df: DataFrame, keys: Seq[Column],
                          order: Seq[Column], capped: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keys: _*).orderBy(order: _*)
    val withRk = df.withColumn("_cap_rk", row_number().over(w))
    capped.foldLeft(withRk) { (d, c) =>
      d.withColumn(c, when(col("_cap_rk") <= MaxListPerKey, col(c)))
    }.drop("_cap_rk")
  }

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

  private val modEventLabels = KgExport.modEventLabels

  /** OUTPUT of the Arizona and assembly exports: the theme, plus a
    * ".label@site" PTM suffix for modifications or ".a" for positive
    * activations (createOutput:143-165). */
  private val eventOutput: Column =
    when(col("pred").isin(modEventLabels: _*), concat(col("obj"), lit("."),
      lower(substring(col("pred"), 1, 1)),
      when(col("site") =!= "", concat(lit("@"), col("site")))
        .otherwise(lit(""))))
    .when(col("pred") === "Positive_activation", concat(col("obj"), lit(".a")))
    .otherwise(col("obj"))

  /** INDIRECT of the Arizona and assembly exports (AssemblyRow.isIndirect:
    * 80-98): activations and regulation-over-regulation. */
  private val eventIndirect: Column =
    when(col("pred").rlike("activation$"), lit(true))
    .when(col("pred").rlike("regulation$") &&
      col("obj").rlike("regulation\\("), lit(true))
    .otherwise(lit(false))

  /** Arizona-style flat tabular export (reference: export/.../arizona/
    * ArizonaOutputter.scala:14-50 column set; row semantics from
    * assembly/.../export/AssemblyExporter.scala:112-170 and
    * AssemblyRow.scala:80-115):
    *  - INPUT = the consumed participant (theme gid; controlled event key for
    *    regulations), OUTPUT = the produced state (entity + ".label@site" PTM
    *    suffix for modifications; ".a" activated form for positive
    *    activations — createOutput:143-165)
    *  - EVENT_ID = deterministic content hash (the reference's incrementing
    *    ids are nondeterministic under parallelism — SURVEY.md A8)
    *  - INDIRECT per AssemblyRow.isIndirect:80-98 (activations indirect,
    *    simple events/bindings direct, regulation-over-regulation indirect)
    *  - CONTEXT_* from the window+defaults context engine
    *  - TRIGGERS / EVIDENCE / SEEN_IN as sorted "|"-joined strings — sortable
    *    scalars, not arrays, so downstream tabular consumers (and the DuckDB
    *    compare harness) can order rows
    *  - SEEN = evidence count (arizonaFilter keeps rows with seen > 0:
    *    ArizonaOutputter.scala:40-46; every edge here has evidence)
    */
  def arizonaTsv(edges: DataFrame): DataFrame = {
    capListCols(
      edges
        .withColumn("OUTPUT", eventOutput)
        .withColumn("INDIRECT", eventIndirect),
      keys = Seq(col("obj"), col("OUTPUT"), col("subj"), col("pred"),
        col("site"), col("negated"), col("INDIRECT"), col("hypothesis")),
      order = Seq(col("evidence_text"), col("conv_id"), col("turn_idx")),
      capped = Seq("evidence_text", "conv_id"))
      .groupBy(
        col("obj").as("INPUT"),
        col("OUTPUT"),
        col("subj").as("CONTROLLER"),
        col("pred").as("EVENT_LABEL"),
        col("site").as("SITE"),
        col("negated").as("NEGATED"),
        col("INDIRECT"),
        col("hypothesis").as("HYPOTHESIS"))
      .agg(
        max(col("ctx_species")).as("CONTEXT_SPECIES"),
        max(col("ctx_organ")).as("CONTEXT_ORGAN"),
        max(col("ctx_cell_line")).as("CONTEXT_CELL_LINE"),
        max(col("ctx_cell_type")).as("CONTEXT_CELL_TYPE"),
        when(first(col("pred")) === "Translocation", max(col("site")))
          .otherwise(lit("")).as("TRANSLOCATION_DESTINATION"),
        concat_ws("|", array_sort(collect_set(col("trigger_text"))))
          .as("TRIGGERS"),
        count(lit(1)).as("SEEN"),
        concat_ws(" | ", array_sort(collect_set(col("evidence_text"))))
          .as("EVIDENCE"),
        concat_ws("|", array_sort(collect_set(col("conv_id")))).as("SEEN_IN"))
      .withColumn("EVENT_ID",
        pmod(xxhash64(col("INPUT"), col("OUTPUT"), col("CONTROLLER"),
          col("EVENT_LABEL"), col("SITE"), col("NEGATED"), col("INDIRECT"),
          col("HYPOTHESIS")), lit(Long.MaxValue)))
  }

  // ---- Generic assembly TSV sink (reference: ReachCLI.scala:209-218
  // "assembly-tsv" over AssemblyExporter.DEFAULT_COLUMNS) -------------------

  /** PTM representation suffix (reference: AssemblyExporter.PTMLUT +
    * getPTMrepresentation:375-387 — ".p"/".u" abbreviations, first letter
    * fallback, "@site" when sited). */
  private def ptmSuffix(label: org.apache.spark.sql.Column,
                        site: org.apache.spark.sql.Column) =
    concat(
      when(label === "Phosphorylation", lit(".p"))
        .when(label === "Ubiquitination", lit(".u"))
        .otherwise(concat(lit("."), lower(substring(label, 1, 1)))),
      when(site =!= "", concat(lit("@"), site)).otherwise(lit("")))

  /** Per-edge event-row identity for the assembly export. The reference keys
    * rows by the EER equivalence hash rendered as incrementing "E<n>" ids
    * (AssemblyExporter.mkEventID:45-47) — nondeterministic under parallelism;
    * here the id is a content hash of the row-identity columns
    * (input, output, controller, label, negated, indirect), matching the
    * reference's identity semantics (AssemblyRow fields:25-35; site is
    * omitted because it is already embedded in OUTPUT/INPUT composites).
    */
  private def assemblyEventId = pmod(xxhash64(
    col("INPUT"), col("OUTPUT"), col("CONTROLLER"), col("EVENT_LABEL"),
    col("NEGATED"), col("INDIRECT")), lit(Long.MaxValue)).cast("string")

  /** Generic assembly tabular export (reference: ReachCLI.scala:209-218 —
    * `AssemblyExporter.writeRows(DEFAULT_COLUMNS)` with two variants:
    * unconstrained `seen > 0` and `ExportFilters.MITREfilter`).
    *
    * Row semantics (AssemblyExporter.getRows:225-246 over distinct EERs):
    *  - event rows: INPUT = consumed participant (composed controlled-event
    *    key for regulations — deterministic stand-in for the reference's
    *    "E<n>" references, same rationale as [[arizonaTsv]]), OUTPUT with PTM
    *    / ".a" suffixes, CONTROLLER, EVENT_LABEL, NEGATED, INDIRECT;
    *  - entity rows (getRows includes non-event EERs — only the Arizona
    *    variant filters them, ArizonaOutputter.arizonaFilter:40-46): one row
    *    per distinct (grounding, mutant forms, PTM features) with
    *    INPUT = OUTPUT = "text::gid:[mut]....p@site"
    *    (createSimpleEntityText:68-92), CONTROLLER = NONE, EVENT_LABEL =
    *    first PTM label when PTM-featured else "entity"
    *    (getEventLabel:389-401), gid canonicalized through the alias CC map;
    *  - PRECEDED_BY: predecessor row ids from the four precedence sieves
    *    ([[Precedence.precedence]]), matched by (conversation, event key) —
    *    the sieves identify events at (pred, obj) granularity, so every row
    *    sharing the key inherits the predecessor (the reference keys on EER
    *    equivalence; controller-distinct rows over one controlled collapse
    *    to the same predecessor there too via the controlled's own EER).
    *
    * MITRE variant (ExportFilters.MITREfilter:105-122): seen >= 3, evidence
    * from >= 2 documents, no activations anywhere in the event chain
    * (isValidMITREMention:93-101), no Family-grounded participants
    * (containsFamily — family-KB namespaces pfam/interpro/be), no
    * unresolved `uaz:` groundings, and PRECEDED_BY pruned to surviving rows
    * (filterPrecededBy:66-88; the reference intersects against row *labels*
    * — an evident id-vs-label slip — the evident intent, row event ids, is
    * implemented here).
    *
    * Documented simplifications: entity-row EVIDENCE lists the distinct
    * resolved surface forms (the flattened mention model keeps no sentence
    * text on entity mentions) and entity context columns are empty; context
    * axes are the four the SURVEY scopes in (no CELLULAR_COMPONENT /
    * TISSUE_TYPE columns).
    *
    * Scale shape: event side is one groupBy on row-identity keys (map-side
    * partial agg); precedence pairs come from one groupByKey over the edges
    * (sparse) and join broadcast; entity side is one groupBy over linked entities + broadcast
    * canon join; MITRE pruning re-aggregates only the filtered survivors.
    */
  def assemblyTsv(edges: DataFrame, stageB: DataFrame, canonMap: DataFrame,
                  mitre: Boolean = false): DataFrame = {
    val perEdge = edges
      .withColumn("INPUT", col("obj"))
      .withColumn("OUTPUT", eventOutput)
      .withColumn("CONTROLLER",
        when(col("subj") === "", lit("NONE")).otherwise(col("subj")))
      .withColumn("EVENT_LABEL", col("pred"))
      .withColumn("NEGATED", col("negated"))
      .withColumn("INDIRECT", eventIndirect)
      .withColumn("EVENT_ID", assemblyEventId)

    // predecessor ids: precedence pairs resolved to row ids by
    // (conv, pred, obj) on both sides
    val pairs = Precedence.precedence(edges)
      .select(col("conv_id"), col("before_pred"), col("before_obj"),
        col("after_pred"), col("after_obj"))
    val edgeKeys = perEdge
      .select(col("conv_id").as("k_conv"), col("pred").as("k_pred"),
        col("obj").as("k_obj"), col("EVENT_ID").as("k_id"))
      .distinct()
    // no broadcast hints here: precedence pairs scale with the corpus (they
    // are cue-gated but unbounded), so the joins stay plain equi-joins and
    // AQE promotes them to broadcast at runtime when the sieve output is
    // actually small
    val beforeIds = pairs
      .join(edgeKeys, col("conv_id") === col("k_conv") &&
        col("before_pred") === col("k_pred") &&
        col("before_obj") === col("k_obj"))
      .select(col("conv_id").as("p_conv"), col("after_pred"),
        col("after_obj"), col("k_id").as("before_id"))
      .distinct()
    val pb = perEdge
      .join(beforeIds, col("conv_id") === col("p_conv") &&
        col("pred") === col("after_pred") && col("obj") === col("after_obj"))
      .groupBy(col("EVENT_ID").as("pb_event_id"))
      .agg(collect_set(col("before_id")).as("pb_ids"))

    val eventRows = capListCols(perEdge,
      keys = Seq(col("INPUT"), col("OUTPUT"), col("CONTROLLER"),
        col("EVENT_ID"), col("EVENT_LABEL"), col("NEGATED"), col("INDIRECT")),
      order = Seq(col("evidence_text"), col("conv_id"), col("turn_idx")),
      capped = Seq("evidence_text", "conv_id"))
      .groupBy(col("INPUT"), col("OUTPUT"), col("CONTROLLER"),
        col("EVENT_ID"), col("EVENT_LABEL"), col("NEGATED"), col("INDIRECT"))
      .agg(
        max(col("ctx_species")).as("CONTEXT_SPECIES"),
        max(col("ctx_organ")).as("CONTEXT_ORGAN"),
        max(col("ctx_cell_line")).as("CONTEXT_CELL_LINE"),
        max(col("ctx_cell_type")).as("CONTEXT_CELL_TYPE"),
        concat_ws("|", array_sort(collect_set(col("trigger_text"))))
          .as("TRIGGERS"),
        count(lit(1)).as("SEEN"),
        concat_ws(" | ", array_sort(collect_set(col("evidence_text"))))
          .as("EVIDENCE"),
        concat_ws("|", array_sort(collect_set(col("conv_id")))).as("SEEN_IN"))
      .join(pb, col("EVENT_ID") === col("pb_event_id"), "left")
      .withColumn("pb_arr",
        array_remove(coalesce(col("pb_ids"), array().cast("array<string>")),
          col("EVENT_ID")))
      .drop("pb_event_id", "pb_ids")

    // entity rows: distinct (canonical grounding, mutant forms, PTM features)
    val entBase = stageB.filter(col("kind") === "linked").select("linked.*")
      .filter(!col("is_event") && col("ns") =!= "")
      .withColumn("gid", concat(col("ns"), lit(":"), col("ns_id")))
      .join(broadcast(canonMap), Seq("gid"), "left")
      .withColumn("cgid", coalesce(col("canon_id"), col("gid")))
      .withColumn("mutant_forms", concat_ws("", array_sort(transform(
        filter(col("mods"), m => m.getField("kind") === "Mutant"),
        m => concat(lit(":["), m.getField("site_text"), lit("]"))))))
      .withColumn("ptm_feats", concat_ws("", array_sort(transform(
        filter(col("mods"), m => m.getField("kind") === "PTM"),
        m => ptmSuffix(m.getField("label"), m.getField("site_text"))))))
      .withColumn("ptm_label", array_min(transform(
        filter(col("mods"), m => m.getField("kind") === "PTM"),
        m => m.getField("label"))))

    val entGrouped = capListCols(entBase,
      keys = Seq(col("cgid"), col("mutant_forms"), col("ptm_feats")),
      // text-first ordering keeps min(text) == rep_text exact under the cap
      order = Seq(col("text"), col("conv_id"), col("turn_idx")),
      capped = Seq("conv_id"))
      .groupBy(col("cgid"), col("mutant_forms"), col("ptm_feats"))
      .agg(
        min(col("ptm_label")).as("ptm_label"),
        count(lit(1)).as("SEEN"),
        // text variety is bounded by the surface-form space of one grounding;
        // conv_id fan-in is not — only the latter needs the cap
        concat_ws(" | ", array_sort(collect_set(col("text")))).as("EVIDENCE"),
        concat_ws("|", array_sort(collect_set(col("conv_id")))).as("SEEN_IN"),
        // representative resolved text: lexicographic min (deterministic
        // stand-in for the reference's EER sourceMention text, getText:49-66)
        min(col("text")).as("rep_text"))

    val entityRows = entGrouped
      .withColumn("INPUT", concat(col("rep_text"), lit("::"), col("cgid"),
        col("mutant_forms"), col("ptm_feats")))
      .withColumn("OUTPUT", col("INPUT"))
      .withColumn("CONTROLLER", lit("NONE"))
      .withColumn("EVENT_LABEL",
        when(col("ptm_feats") =!= "", col("ptm_label"))
          .otherwise(lit("entity")))
      .withColumn("NEGATED", lit(false))
      .withColumn("INDIRECT", lit(false))
      .withColumn("EVENT_ID", assemblyEventId)
      .withColumn("CONTEXT_SPECIES", lit(""))
      .withColumn("CONTEXT_ORGAN", lit(""))
      .withColumn("CONTEXT_CELL_LINE", lit(""))
      .withColumn("CONTEXT_CELL_TYPE", lit(""))
      .withColumn("TRIGGERS", lit(""))
      .withColumn("pb_arr", array().cast("array<string>"))
      .drop("cgid", "mutant_forms", "ptm_feats", "ptm_label", "rep_text")

    val cols = Seq("INPUT", "OUTPUT", "CONTROLLER", "EVENT_ID", "EVENT_LABEL",
      "NEGATED", "INDIRECT", "CONTEXT_SPECIES", "CONTEXT_ORGAN",
      "CONTEXT_CELL_LINE", "CONTEXT_CELL_TYPE", "TRIGGERS", "SEEN",
      "EVIDENCE", "SEEN_IN", "pb_arr")
    val all = eventRows.select(cols.map(col): _*)
      .unionByName(entityRows.select(cols.map(col): _*))

    val filtered =
      if (!mitre) all.filter(col("SEEN") > 0)
      else {
        val participantText =
          concat_ws(" ", col("INPUT"), col("OUTPUT"), col("CONTROLLER"))
        all
          .filter(col("SEEN") >= 3)
          .filter(size(split(col("SEEN_IN"), "\\|")) >= 2)
          .filter(!col("EVENT_LABEL").rlike("activation$") &&
            !participantText.rlike("_activation\\("))
          .filter(!participantText.rlike("(^|[(&\\s:])(pfam|interpro|be):"))
          .filter(!participantText.rlike("(^|[(&\\s])uaz:"))
      }

    val pruned =
      if (!mitre) filtered
      else {
        // prune PRECEDED_BY ids to surviving rows (filterPrecededBy intent)
        val kept =
          filtered.select(col("EVENT_ID").as("kept_id")).distinct()
        filtered
          .withColumn("pb_one", explode_outer(col("pb_arr")))
          .join(kept, col("pb_one") === col("kept_id"), "left")
          .groupBy(cols.filterNot(_ == "pb_arr").map(col): _*)
          .agg(collect_set(when(col("kept_id").isNotNull, col("pb_one")))
            .as("pb_arr"))
      }

    pruned
      .withColumn("PRECEDED_BY", concat_ws("|", array_sort(col("pb_arr"))))
      .drop("pb_arr")
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

  /** Node metadata for participant rendering, broadcast (the canonical
    * entity catalog grows sublinearly in corpus size). */
  private def nodeMeta(nodes: DataFrame, prefix: String): DataFrame =
    broadcast(nodes.select(
      col("canon_id").as(prefix + "_id_key"),
      col("display").as(prefix + "_display"),
      col("display_label").as(prefix + "_dlabel")))

  private def withParticipant(df: DataFrame, nodes: DataFrame,
                              gidCol: String, prefix: String): DataFrame =
    df.join(nodeMeta(nodes, prefix),
        df(gidCol) === col(prefix + "_id_key"), "left")
      .withColumn(prefix + "_text",
        when(col(gidCol) === "", lit(""))
          .otherwise(coalesce(col(prefix + "_display"), col(gidCol))))
      .withColumn(prefix + "_type",
        when(col(gidCol) === "", lit(""))
          .otherwise(lower(coalesce(col(prefix + "_dlabel"), lit("entity")))))
      .withColumn(prefix + "_identifier", col(gidCol))
      .drop(prefix + "_id_key", prefix + "_display", prefix + "_dlabel")

  /** The event key an edge would have as another edge's controlled argument
    * (stageMaterialize composes `obj_pred(obj_gid[@site])`). */
  private def ownEventKey: org.apache.spark.sql.Column =
    concat(col("pred"), lit("("), col("obj"),
      when(col("site") =!= "", concat(lit("@"), col("site"))).otherwise(lit("")),
      lit(")"))

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
    * Scale: the node catalog (display and display label per canonical id)
    * is collected and broadcast; cards are built per conversation (the
    * modification suppression is conversation-scoped), then merged per card
    * key ([[KgExport.mergeCards]]).
    */
  def indexCardFlat(edges: DataFrame, nodes: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val meta = spark.sparkContext.broadcast[KgExport.NodeMeta](
      nodes.select("canon_id", "display", "display_label")
        .as[(String, String, String)].collect()
        .map { case (id, display, label) => id -> (display, label) }.toMap)
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

  // ---- CMU DyCE tabular sink (S9 companion; reference: export/.../cmu/
  // CMUExporter.scala + CMURow.scala) --------------------------------------

  /** CMU tabular export (reference column set CMUExporter.scala:120-170;
    * row semantics CMURow.scala:278-305). Safe column names here; the
    * reference's exact header strings (with spaces) are applied by the
    * tabular writer.
    *
    * Faithful semantics:
    *  - rows = events with a controller, plus translocations
    *    (keepEvents:186-195); child events consumed as another row's
    *    controlled are removed (removeChildren:197-205) via a left-anti
    *    self-join on the composed event key;
    *  - ELEMENT_* from the innermost simple-event participant, PTM suffix
    *    stripped (removePTM:151-160), db -> element type per
    *    singleElementType:63-78;
    *  - nested controller polarity reproduces fetchNestedControllers:55-93:
    *    the innermost De-/Ubiquitination event starts negative, every
    *    Negative_regulation wrapper flips, positive controllers land in
    *    POS_REG_*, negative in NEG_REG_*; a translocation's theme is its own
    *    positive controller (:63-67);
    *  - MECHANISM_TYPE = controlled simple-event label for regulations
    *    (createMechanismType:22-29), NONE otherwise;
    *  - IS_INDIRECT: D for direct mechanisms, I for activations and
    *    regulation-over-regulation (AssemblyRow.isIndirect);
    *  - LOCATION from the translocation destination with the DyCE
    *    known-location table (CMU_KNOWN_LOCATIONS:174-181); cellular-component
    *    context beyond destinations is not modeled (documented simplification
    *    - the reference reads it from its context engine's
    *    CELLULAR_COMPONENT axis, which SURVEY scopes to the four axes kept).
    */
  def cmuTsv(edges: DataFrame, nodes: DataFrame): DataFrame = {
    val rows0 = edges.filter(
      col("pred").rlike("_(regulation|activation)$") ||
      col("pred") === "Translocation")
    // removeChildren: a row whose own key is another kept row's controlled
    val parentKeys = rows0.filter(col("pred").rlike("_regulation$"))
      .select(col("conv_id").as("pk_conv"), col("obj").as("parent_obj"))
      .distinct()
    val rows = rows0.withColumn("own_key", ownEventKey)
      .join(parentKeys, col("own_key") === col("parent_obj") &&
        col("conv_id") === col("pk_conv"), "left_anti")

    val isReg = col("pred").rlike("_regulation$")
    val innerGid = when(isReg,
        regexp_extract(col("obj"), "\\(([a-z]+:[^@)]+)", 1))
      .otherwise(col("obj"))
    val mechanism = when(isReg,
        regexp_extract(col("obj"), "([A-Za-z_]+)\\([a-z]+:", 1))
      .otherwise(lit(""))
    // polarity: innermost De-/Ubiquitination starts negative; each
    // Negative_regulation wrapper (incl. this row's own pred) flips
    val baseNeg = when(
      regexp_replace(mechanism, "^Auto", "").rlike("^De") ||
        regexp_replace(mechanism, "^Auto", "") === "Ubiquitination",
      lit(1)).otherwise(lit(0))
    val wrapperFlips =
      size(split(col("obj"), "Negative_regulation\\(")) - 1 +
        when(col("pred").isin("Negative_regulation", "Negative_activation"),
          lit(1)).otherwise(lit(0))
    val controllerNegative = pmod(baseNeg + wrapperFlips, lit(2)) === 1

    val withElems = rows
      .withColumn("element_gid", innerGid)
      .withColumn("mech0", mechanism)
      .withColumn("is_neg_ctl", controllerNegative)
      .withColumn("ctl_gid",
        when(col("pred") === "Translocation", innerGid).otherwise(col("subj")))

    def dbType(db: org.apache.spark.sql.Column) =
      when(db === "uniprot", lit("Protein"))
        .when(db.isin("pfam", "interpro"), lit("Protein Family"))
        .when(db === "be", lit("Protein Family|Protein Complex"))
        .when(db.isin("pubchem", "hmdb", "chebi"), lit("Chemical"))
        .when(db.isin("go", "mesh"), lit("Biological Process"))
        .otherwise(lit("Other"))

    // normalize "go:GO:0005634" / "GO:0005634" to the DyCE map key form
    // "go:0005634" (CMU_KNOWN_LOCATIONS, CMUExporter.scala:174-181)
    val locNorm = lower(col("site"))
    val locId = when(col("pred") =!= "Translocation", lit(""))
      .when(locNorm.rlike("go:[0-9]+$"),
        regexp_extract(locNorm, "(go:[0-9]+)$", 1))
      .otherwise(locNorm)
    val locName = when(locId === "", lit(""))
      .when(locId === "go:0005737", lit("cytoplasm"))
      .when(locId === "go:0005886", lit("plasma membrane"))
      .when(locId === "go:0005634", lit("nucleus"))
      .when(locId === "go:0005739", lit("mitochondria"))
      .when(locId === "go:0005576", lit("external"))
      .when(locId === "go:0005783", lit("endoplasmic reticulum"))
      .otherwise(lit("Other"))

    withParticipant(
      withParticipant(withElems, nodes, "element_gid", "element"),
      nodes, "ctl_gid", "ctl")
      .withColumn("ELEMENT_NAME", col("element_text"))
      .withColumn("ELEMENT_TYPE", dbType(split(col("element_gid"), ":")(0)))
      .withColumn("DATABASE_NAME", split(col("element_gid"), ":")(0))
      .withColumn("ELEMENT_IDENTIFIER",
        regexp_replace(col("element_gid"), "^[a-z]+:", ""))
      .withColumn("LOCATION", locName)
      .withColumn("LOCATION_IDENTIFIER", locId)
      .withColumn("POS_REG_NAME",
        when(!col("is_neg_ctl"), col("ctl_text")).otherwise(lit("")))
      .withColumn("POS_REG_TYPE", when(!col("is_neg_ctl"),
        dbType(split(col("ctl_gid"), ":")(0))).otherwise(lit("")))
      .withColumn("POS_REG_ID", when(!col("is_neg_ctl"),
        regexp_replace(col("ctl_gid"), "^[a-z]+:", "")).otherwise(lit("")))
      .withColumn("NEG_REG_NAME",
        when(col("is_neg_ctl"), col("ctl_text")).otherwise(lit("")))
      .withColumn("NEG_REG_TYPE", when(col("is_neg_ctl"),
        dbType(split(col("ctl_gid"), ":")(0))).otherwise(lit("")))
      .withColumn("NEG_REG_ID", when(col("is_neg_ctl"),
        regexp_replace(col("ctl_gid"), "^[a-z]+:", "")).otherwise(lit("")))
      .withColumn("IS_INDIRECT",
        when(col("pred").rlike("_activation$") ||
          col("obj").rlike("regulation\\("), lit("I")).otherwise(lit("D")))
      .withColumn("MECHANISM_TYPE",
        when(col("mech0") === "", lit("NONE")).otherwise(col("mech0")))
      .transform { d =>
        val cmuKeys = Seq("ELEMENT_NAME", "ELEMENT_TYPE", "DATABASE_NAME",
          "ELEMENT_IDENTIFIER", "LOCATION", "LOCATION_IDENTIFIER",
          "POS_REG_NAME", "POS_REG_TYPE", "POS_REG_ID",
          "NEG_REG_NAME", "NEG_REG_TYPE", "NEG_REG_ID",
          "IS_INDIRECT", "MECHANISM_TYPE").map(col)
        capListCols(d, keys = cmuKeys,
          order = Seq(col("evidence_text"), col("conv_id"), col("turn_idx")),
          capped = Seq("evidence_text", "conv_id"))
          .groupBy(cmuKeys: _*)
          .agg(
            max(col("ctx_cell_line")).as("CELL_LINE"),
            max(col("ctx_cell_type")).as("CELL_TYPE"),
            max(col("ctx_organ")).as("ORGANISM"),
            concat_ws("|", array_sort(collect_set(col("conv_id"))))
              .as("PAPER_ID"),
            concat_ws(" | ", array_sort(collect_set(col("evidence_text"))))
              .as("EVIDENCE"))
      }
  }
}
