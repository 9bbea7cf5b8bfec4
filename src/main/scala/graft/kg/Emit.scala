package graft.kg

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Export sinks beyond the primary edges/nodes tables (SURVEY.md §2.1 S8-S10).
  */
object Emit {

  /** Per-key list-aggregation fan-in bound (scale guard for the
    * interaction-level exports): a viral interaction ("MEK1 phosphorylates
    * ERK2" across millions of conversations) or a ubiquitous entity would
    * otherwise collect an unbounded evidence/conv-id set into ONE output
    * row — the same unbounded-row class as the (fixed) pre-chunking FRIES
    * frame graph. Far above anything the contract corpora produce, so
    * oracle outputs are unchanged.
    */
  val MaxListPerKey = 1000

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

  /** JsonOutputter.prettifyLabel (reference :176): FRIES types/subtypes are
    * lowercase with hyphens ("Positive_regulation" -> "positive-regulation").
    */
  private def prettify(c: Column): Column = lower(regexp_replace(c, "_", "-"))

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
    * Scale: the groupBy is salted with `turn_idx / chunkTurns` (the same span
    * chunking stage B uses), so a mega-conversation becomes a sequence of
    * bounded frame documents instead of one unbounded JSON row. Part 0 keeps
    * the bare conv_id as its document name — single-chunk conversations (the
    * overwhelmingly common case, and the whole golden corpus) are
    * byte-identical to the unchunked output; later parts are suffixed
    * `#<part>`. The argument-type lookup is a (conv_id, mention_id)-keyed
    * self-join — conversation-scoped, never cross-document.
    */
  def friesFrameGraph(stageB: DataFrame, turns: Option[DataFrame] = None,
                      chunkTurns: Int = Pipeline.chunkTurns): DataFrame = {
    val linked = stageB.filter(col("kind") === "linked").select("linked.*")

    // argument-type of each frame reference: "event" when the referenced
    // frame is an event mention, "entity" otherwise
    val kinds = linked.select(col("conv_id").as("k_conv"),
      col("mention_id").as("k_id"), col("is_event").as("k_ev")).distinct()
    val argLists = linked
      .select(col("conv_id"), col("mention_id"), explode(col("args")).as("a"))
      .join(kinds, col("conv_id") === col("k_conv") &&
        col("a.mention_id") === col("k_id"), "left")
      .groupBy("conv_id", "mention_id")
      .agg(sort_array(collect_list(struct(
        col("a.role").as("type"),
        col("a.mention_id").as("arg"),
        when(coalesce(col("k_ev"), lit(false)), lit("event"))
          .otherwise(lit("entity")).as("argument-type")))).as("arguments"))
      .withColumnRenamed("conv_id", "al_conv")
      .withColumnRenamed("mention_id", "al_id")
    val withArgs0 = linked.join(argLists,
        col("conv_id") === col("al_conv") && col("mention_id") === col("al_id"),
        "left")
      .drop("al_conv", "al_id")
      .withColumn("arguments", coalesce(col("arguments"), expr(
        "CAST(array() AS array<struct<type:string,arg:bigint,`argument-type`:string>>)")))
    // events controlled by a split regulation are the cause-split simple
    // events — BioEventMention(isDirect = true) in splitSimpleEvents
    // (DarpaActions.scala:319); bindings are direct per mkBinding /
    // mkNaryBinding (:219,259)
    val splitControlled = linked
      .filter(col("found_by").endsWith("_split"))
      .select(col("conv_id").as("sc_conv"), explode(col("args")).as("sa"))
      .filter(col("sa.role") === "controlled")
      .select(col("sc_conv"), col("sa.mention_id").as("sc_id")).distinct()
    val withArgs = withArgs0.join(splitControlled,
        col("conv_id") === col("sc_conv") && col("mention_id") === col("sc_id"),
        "left")
      .withColumn("is_direct",
        col("labels")(0) === "Binding" || col("sc_id").isNotNull)
      .drop("sc_conv", "sc_id")

    val modsT = transform(col("mods"),
      m => struct(m.getField("kind").as("kind"),
        m.getField("label").as("label"),
        m.getField("site_text").as("site")))
    val entFrame = struct(
      col("turn_idx"), col("sent_idx"), col("start_tok"), col("end_tok"),
      col("mention_id").as("frame-id"),
      lit("entity-mention").as("frame-type"),
      prettify(col("display_label")).as("type"),
      col("text"),
      array(struct(col("ns").as("namespace"),
        lit("db-reference").as("object-type"),
        col("ns_id").as("id"))).as("xrefs"),
      modsT.as("modifications"),
      col("negated").as("is-negated"),
      col("hypothesis").as("is-hypothesis"))
    // split regulations are BioRelationMentions in the reference — FRIES
    // emits trigger / is-direct only for BioEventMentions
    // (FriesOutput.scala:592-595), so those keys are NULLed here and
    // to_json drops them
    val isSplitReg = col("found_by").endsWith("_split")
    val evFrame = struct(
      col("turn_idx"), col("sent_idx"), col("start_tok"), col("end_tok"),
      col("mention_id").as("frame-id"),
      lit("event-mention").as("frame-type"),
      prettify(col("labels")(0)).as("subtype"),
      col("text"),
      when(!isSplitReg, col("trigger_text")).as("trigger"),
      col("arguments"),
      when(!isSplitReg, col("is_direct")).as("is-direct"),
      modsT.as("modifications"),
      col("negated").as("is-negated"),
      col("hypothesis").as("is-hypothesis"))

    val mentionsAgg = withArgs
      .withColumn("doc_part", floor(col("turn_idx") / chunkTurns))
      .groupBy(col("conv_id"), col("doc_part"))
      .agg(
        sort_array(collect_list(when(!col("is_event"), entFrame)))
          .as("entity_frames"),
        sort_array(collect_list(when(col("is_event"), evFrame)))
          .as("event_frames"))

    // sentences section: passage frame per turn + sentence frames from the
    // same deterministic splitter extraction uses (row-local kernel)
    val withSents = turns match {
      case Some(t) =>
        val sp = t.sparkSession
        import sp.implicits._
        val sentRows = t.select(col("conv_id"), col("turn_idx"), col("text"))
          .as[(String, Int, String)]
          .flatMap { case (c, ti, tx) =>
            ("passage", c, ti, -1, tx) +:
              Annotate.Tokenizer.sentences(tx).zipWithIndex.toSeq
                .map { case (s, si) => ("sentence", c, ti, si, s) }
          }
          .toDF("ftype", "conv_id", "turn_idx", "sent_idx", "stext")
        val sentAgg = sentRows
          .withColumn("doc_part", floor(col("turn_idx") / chunkTurns))
          .groupBy(col("conv_id"), col("doc_part"))
          .agg(sort_array(collect_list(struct(
            col("turn_idx"), col("sent_idx"),
            col("ftype").as("frame-type"),
            col("stext").as("text")))).as("sentence_frames"))
          .withColumnRenamed("conv_id", "s_conv")
          .withColumnRenamed("doc_part", "s_part")
        mentionsAgg.join(sentAgg,
            col("conv_id") === col("s_conv") && col("doc_part") === col("s_part"),
            "left")
          .drop("s_conv", "s_part")
      case None =>
        mentionsAgg.withColumn("sentence_frames", expr(
          "CAST(array() AS array<struct<turn_idx:int,sent_idx:int,`frame-type`:string,text:string>>)"))
    }

    val document = when(col("doc_part") === 0, col("conv_id"))
      .otherwise(concat(col("conv_id"), lit("#"), col("doc_part")))
    def section(frames: Column, doc: Column): Column = struct(
      lit("frame-collection").as("object-type"),
      struct(lit("graft-kg").as("component"), lit("graft").as("organization"),
        doc.as("doc-id")).as("object-meta"),
      frames.as("frames"))
    withSents.select(col("conv_id"),
      to_json(struct(
        document.as("document"),
        section(col("sentence_frames"), document).as("sentences"),
        section(col("entity_frames"), document).as("entities"),
        section(col("event_frames"), document).as("events"))).as("fries"))
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

  /** Modification event labels (reference: ReachConstants MODIFICATION_EVENTS). */
  private val modEventLabels = Seq("Phosphorylation", "Dephosphorylation",
    "Ubiquitination", "Deubiquitination", "Hydroxylation", "Dehydroxylation",
    "Sumoylation", "Desumoylation", "Glycosylation", "Deglycosylation",
    "Acetylation", "Deacetylation", "Farnesylation", "Defarnesylation",
    "Ribosylation", "Deribosylation", "Methylation", "Demethylation")

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
    *  - PRECEDED_BY: predecessor row ids from the three precedence sieves
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
    * partial agg); precedence pairs are sieve-filtered (sparse) and join
    * broadcast; entity side is one groupBy over linked entities + broadcast
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
    *
    * Faithful semantics:
    *  - regulations whose controlled is a modification become
    *    adds_modification / inhibits_modification cards with participant_a =
    *    controller (mkRegulationIndexCard:323-362; non-modification
    *    controlled returns None — the INDEX CARD LIMITATION);
    *  - a modification that is some regulation's controlled in the same
    *    conversation is suppressed as a standalone card
    *    (simpleEventsInRegs:107-133);
    *  - bindings/activations/translocations/amounts/transcription per
    *    mkBindingIndexCard/mkActivationIndexCard/mkTranslocationIndexCard/
    *    mkSimpleEventIndexCard;
    *  - hedging = negative_information/hypothesis_information (mkHedging:308),
    *    context from the window+defaults engine (mkContext:165-168);
    *  - meta: pmc_id = conv_id, trigger, sorted evidence (addMeta:455-476;
    *    wall-clock reading_started/complete are intentionally dropped — ids
    *    and output must be deterministic, SURVEY A8).
    *
    * Simplification (documented): participant PTM/Mutant feature lists
    * (mkFeatures:203-214) are not re-derivable from the flat edge table;
    * argument-level modifications are exported in the FRIES frame graph.
    * Scale: modification-suppression is one left-anti join keyed
    * (conv_id, event key); participant rendering is broadcast joins.
    */
  def indexCardFlat(edges: DataFrame, nodes: DataFrame): DataFrame = {
    val innerLabel = regexp_extract(col("obj"), "^([A-Za-z_]+)\\(", 1)
    val innerGid = regexp_extract(col("obj"), "\\(([a-z]+:[^@)]+)", 1)
    val isModLabel = (c: org.apache.spark.sql.Column) =>
      regexp_replace(c, "^Auto", "").isin(modEventLabels: _*)

    val base = Seq("interaction_type", "participant_a_gid", "participant_b_gid",
      "modification_type", "position", "to_location_id",
      "negative_information", "hypothesis_information",
      "context_species", "context_organ", "context_cell_line",
      "context_cell_type", "trigger", "evidence_text", "pmc_id")

    def shape(df: DataFrame): DataFrame = df.select(
      col("interaction_type"),
      col("participant_a_gid"), col("participant_b_gid"),
      col("modification_type"), col("position"), col("to_location_id"),
      col("negated").as("negative_information"),
      col("hypothesis").as("hypothesis_information"),
      col("ctx_species").as("context_species"),
      col("ctx_organ").as("context_organ"),
      col("ctx_cell_line").as("context_cell_line"),
      col("ctx_cell_type").as("context_cell_type"),
      col("trigger_text").as("trigger"),
      col("evidence_text"),
      col("conv_id").as("pmc_id"))

    val modRegs = edges
      .filter(col("pred").rlike("_regulation$") && isModLabel(innerLabel))
      .withColumn("interaction_type",
        when(col("pred") === "Positive_regulation", lit("adds_modification"))
          .otherwise(lit("inhibits_modification")))
      .withColumn("participant_a_gid", col("subj"))
      .withColumn("participant_b_gid", innerGid)
      .withColumn("modification_type",
        lower(regexp_replace(innerLabel, "^Auto", "")))
      .withColumn("position", col("site"))
      .withColumn("to_location_id", lit(""))

    val consumed = edges.filter(col("pred").rlike("_regulation$"))
      .select(col("conv_id").as("consumed_conv"),
        col("obj").as("consumed_key")).distinct()

    val simpleMods = edges
      .filter(isModLabel(col("pred")) && col("subj") === "")
      .withColumn("own_key", ownEventKey)
      .join(consumed, col("own_key") === col("consumed_key") &&
        col("conv_id") === col("consumed_conv"), "left_anti")
      .withColumn("interaction_type", lit("adds_modification"))
      .withColumn("participant_a_gid", lit(""))
      .withColumn("participant_b_gid", col("obj"))
      .withColumn("modification_type",
        lower(regexp_replace(col("pred"), "^Auto", "")))
      .withColumn("position", col("site"))
      .withColumn("to_location_id", lit(""))

    val bindings = edges.filter(col("pred") === "Binding")
      .withColumn("interaction_type", lit("binds"))
      .withColumn("participant_a_gid", split(col("obj"), "&")(0))
      .withColumn("participant_b_gid", split(col("obj"), "&")(1))
      .withColumn("modification_type", lit(""))
      .withColumn("position", col("site"))
      .withColumn("to_location_id", lit(""))

    val activations = edges.filter(col("pred").rlike("_activation$"))
      .withColumn("interaction_type",
        when(col("pred") === "Positive_activation", lit("increases_activity"))
          .otherwise(lit("decreases_activity")))
      .withColumn("participant_a_gid", col("subj"))
      .withColumn("participant_b_gid", col("obj"))
      .withColumn("modification_type", lit(""))
      .withColumn("position", lit(""))
      .withColumn("to_location_id", lit(""))

    val translocations = edges.filter(col("pred") === "Translocation")
      .withColumn("interaction_type", lit("translocates"))
      .withColumn("participant_a_gid", lit(""))
      .withColumn("participant_b_gid", col("obj"))
      .withColumn("modification_type", lit(""))
      .withColumn("position", lit(""))
      .withColumn("to_location_id", col("site"))

    val amounts = edges
      .filter(col("pred").isin("IncreaseAmount", "DecreaseAmount",
        "Transcription"))
      .withColumn("interaction_type",
        when(col("pred") === "Transcription", lit("transcribes"))
          .otherwise(col("pred")))
      .withColumn("participant_a_gid", col("subj"))
      .withColumn("participant_b_gid", col("obj"))
      .withColumn("modification_type", lit(""))
      .withColumn("position", lit(""))
      .withColumn("to_location_id", lit(""))

    val cards = Seq(modRegs, simpleMods, bindings, activations, amounts,
      translocations).map(shape).reduce(_.unionByName(_))

    val withB = withParticipant(
      withParticipant(cards, nodes, "participant_a_gid", "participant_a"),
      nodes, "participant_b_gid", "participant_b")
    val icKeys = base.filterNot(_ == "evidence_text").map(col) ++ Seq(
      col("participant_a_text"), col("participant_a_type"),
      col("participant_a_identifier"), col("participant_b_text"),
      col("participant_b_type"), col("participant_b_identifier"))
    capListCols(withB, keys = icKeys,
      order = Seq(col("evidence_text"), col("pmc_id")),
      capped = Seq("evidence_text"))
      .groupBy(icKeys: _*)
      .agg(count(lit(1)).as("seen"),
        concat_ws(" | ", array_sort(collect_set(col("evidence_text"))))
          .as("evidence"))
      .drop("participant_a_gid", "participant_b_gid")
  }

  /** Reference-shaped nested IndexCard JSON over the flat card rows
    * (IndexCardOutput.writeJsonToString shape, meta per addMeta). */
  def indexCardJson(flat: DataFrame): DataFrame =
    flat.select(to_json(struct(
      struct(
        col("interaction_type"),
        when(col("participant_a_identifier") =!= "", struct(
          col("participant_a_text").as("entity_text"),
          col("participant_a_type").as("entity_type"),
          col("participant_a_identifier").as("identifier"))).as("participant_a"),
        struct(
          col("participant_b_text").as("entity_text"),
          col("participant_b_type").as("entity_type"),
          col("participant_b_identifier").as("identifier")).as("participant_b"),
        when(col("modification_type") =!= "", array(struct(
          lit("modification").as("feature_type"),
          col("modification_type"),
          col("position")))).as("modifications"),
        when(col("to_location_id") =!= "",
          col("to_location_id")).as("to_location_id"),
        col("negative_information"),
        col("hypothesis_information"),
        struct(col("context_species").as("species"),
          col("context_organ").as("organ"),
          col("context_cell_line").as("cell_line"),
          col("context_cell_type").as("cell_type")).as("context")
      ).as("extracted_information"),
      col("pmc_id"), col("trigger"), col("evidence"),
      lit("machine").as("reader_type"),
      lit("extension").as("model_relation")
    )).as("card"))

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
