package graft

import graft.kg._
import graft.ops._
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Driver contract: one `queries` entry per implemented operator family
  * (SURVEY.md §2) + the training-data ops; `oracleSql` gives the DuckDB
  * equivalent where the semantics are SQL-expressible (hash-dependent or
  * sequential operators get rows-only checks and are pinned by ScalaTest
  * specs instead).
  */
object SparkEntry {

  private def t(dir: String, name: String)(implicit s: SparkSession): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  // ---- shared derivations -------------------------------------------------

  /** Derive a transcript `turns` table from `documents` (same derivation in
    * SQL below — the KG input-shape adapter over the driver's tables).
    */
  private def derivedTurns(dir: String)(implicit s: SparkSession): DataFrame =
    t(dir, "documents").select(
      concat(lit("c"), lpad((col("doc_id") % 40).cast("string"), 3, "0"))
        .as("conv_id"),
      floor(col("doc_id") / 40.0).cast("long").as("turn_idx"),
      element_at(
        array(lit("user"), lit("assistant"), lit("user"), lit("assistant"),
          lit("tool")),
        (pmod(col("doc_id"), lit(5)) + 1).cast("int")).as("role"),
      col("text"))

  private val derivedTurnsSql =
    """SELECT concat('c', lpad(CAST(doc_id % 40 AS VARCHAR), 3, '0')) AS conv_id,
      |       CAST(floor(doc_id / 40.0) AS BIGINT) AS turn_idx,
      |       (['user','assistant','user','assistant','tool'])[(doc_id % 5) + 1] AS role,
      |       text
      |FROM documents""".stripMargin

  /** Inline NER micro-lexicon over the OLAP vocabulary of the synthetic docs
    * (the trie NER itself is hash/token-based and pinned by MatcherSpec; this
    * query demonstrates the substring-count mention scan relationally).
    */
  private val docLexicon = Seq(
    ("spark", "Engine"), ("join", "Operator"), ("hash", "Algorithm"),
    ("scan", "Operator"), ("window", "Operator"), ("stream", "Mode"),
    ("vector", "Datatype"))

  /** Link-stage demo mentions exercising every key-transform (F1-F3). */
  private val linkMentions = Seq(
    ("m01", "AKT1", "Gene_or_gene_product"),
    ("m02", "AKT1-GFP", "Gene_or_gene_product"),
    ("m03", "p53 protein", "Gene_or_gene_product"),
    ("m04", "phosphorylated ERK2", "Gene_or_gene_product"),
    ("m05", "RAF family", "Family"),
    ("m06", "Ras", "Gene_or_gene_product"),
    ("m07", "ERK2 T669A mutant", "Gene_or_gene_product"),
    ("m08", "XYZ123", "Gene_or_gene_product"),
    ("m09", "cyclin D1", "Gene_or_gene_product"),
    ("m10", "mouse", "Species"),
    ("m11", "the nucleus", "Cellular_component"),
    ("m12", "rapamycin", "Simple_chemical"),
    // key-transform cascade vectors (TestKBKeyTransforms semantics)
    ("m13", "Myr-Flag-AKT1", "Gene_or_gene_product"),
    ("m14", "pERK2", "Gene_or_gene_product"),
    ("m15", "AKT1-SH2", "Gene_or_gene_product"),
    ("m16", "mutant AKT1", "Gene_or_gene_product"),
    ("m17", "phosphorylated ERK2 T669A mutant", "Gene_or_gene_product"),
    ("m18", "MEK1_human", "Gene_or_gene_product"),
    ("m19", "brain tissue", "Organ"),
    ("m20", "gfp-KRAS", "Gene_or_gene_product"),
    ("m21", "p53 mutant protein", "Gene_or_gene_product"),
    ("m22", "STAT protein family", "Family"),
    // complex-KB vectors (TestComplexResolutions): AMPK is in both the
    // complex KB and uniprot — the complex entry wins (protein sequence
    // order); family transforms never apply to Complex labels, so the
    // " family" form misses the KB and takes the failsafe
    ("m23", "AMPK", "Gene_or_gene_product"),
    ("m24", "Activin A", "Complex"),
    ("m25", "Activin A family", "Complex"))

  private def sqlQuote(x: String): String = "'" + x.replace("'", "''") + "'"

  /** Modifications-subsystem fixture (PTM / Mutant / EventSite — reference:
    * TestModifications.scala semantics). Each sentence exercises one
    * attachment path; expected (mention text, kind, label, site) rows are
    * hand-traced in [[modsExpected]] and double-checked by ModsSpec.
    */
  private val modsFixture: Seq[(Int, String)] = Seq(
    0 -> "Phosphorylated ERK2 binds STAT3.",
    1 -> "The ubiquitinated Ras protein phosphorylates AKT1.",
    2 -> "p-AKT1 is elevated in tumors.",
    3 -> "The ERK2 T669A mutant binds AKT1.",
    4 -> "ERK2 T669A and T671A mutants were analyzed.",
    5 -> "The phosphorylation of the Y63 residue of HuR is increased.",
    6 -> "AKT1 phosphorylated at Ser473 binds BAD.",
    7 -> "The T669A mutant of ERK2 binds AKT1.",
    8 -> "Deubiquitinated ASPP2 accumulates in the nucleus.",
    9 -> "Mutant KRAS is common in tumors.")

  /** Seeded simhash subset: deterministic inline docs with planted near-dups
    * (1≡10 identical; 1~2, 3~4, 6~7 one-token edits). The expected
    * (a, b, hamming) rows are pinned in the VALUES oracle.
    */
  private val simhashFixture: Seq[(Long, String)] = Seq(
    1L -> "the quick brown fox jumps over the lazy dog near the river bank",
    2L -> "the quick brown fox jumps over the lazy dog near the river shore",
    3L -> "spark structured streaming processes unbounded data with watermarks and windows",
    4L -> "spark structured streaming processes unbounded data with watermarks and triggers",
    5L -> "completely different text about knowledge graph construction pipelines",
    6L -> "entity linking grounds mentions against a broadcast knowledge base index",
    7L -> "entity linking grounds mentions against a broadcast knowledge base table",
    8L -> "minhash banding buckets similar documents into shared candidate groups",
    9L -> "unrelated sentence regarding benchmark throughput and scaling efficiency",
    10L -> "the quick brown fox jumps over the lazy dog near the river bank")

  /** Causal-precedence fixture: cue-opened follow-up turns; expected
    * precedence rows hand-traced in the oracle.
    */
  private val precFixture: Seq[(String, Int, String)] = Seq(
    ("p01", 0, "MEK1 phosphorylates ERK2."),
    ("p01", 1, "As a result, ERK2 activates STAT3."),
    ("p02", 0, "Rapamycin inhibits mTOR."),
    ("p02", 1, "JAK3 phosphorylates HuR."),
    ("p03", 0, "AKT1 binds GSK3."),
    ("p03", 1, "The samples were prepared as described previously."),
    ("p03", 2, "Therefore, AKT1 phosphorylates BAD."),
    // Reichenbach tense/aspect: past-perfect precedes present
    ("p04", 0, "MEK1 had phosphorylated ERK2."),
    ("p04", 1, "AKT1 then binds ERK2."),
    // intra-sentential rule-based: textual order kept by "before"
    ("p05", 0, "JAK3 ubiquitinates HuR before MEK1 phosphorylates ERK2."),
    // intra-sentential rule-based: "following" swaps the roles
    ("p06", 0, "AKT1 binds BAD following the phosphorylation of BAD."),
    // TestAssemblySieves tamSent1-3 (Reichenbach through subordinate
    // clauses; BEF/AFT -> lexicon proteins)
    ("p07", 0, "Once MEK1 had been phosphorylated, ERK2 was ubiquitinated"),
    ("p08", 0, "ERK2 will be ubiquitinated only if MEK1 is first phosphorylated"),
    ("p09", 0, "ERK2 was ubiquitinated when MEK1 had been phosphorylated"),
    // TestAssemblySieves interSent1-5 (both sentences in ONE turn — the
    // sieve pairs across sentence boundaries within a turn)
    ("p10", 0, "MEK1 was phosphorylated. Then, ERK2 was ubiquitinated."),
    ("p11", 0, "MEK1 was phosphorylated. Subsequently ERK2 was ubiquitinated."),
    ("p12", 0, "ERK2 was ubiquitinated. Prior to this, MEK1 was phosphorylated."),
    ("p13", 0, "ERK2 was ubiquitinated. Previously, MEK1 was phosphorylated."),
    // negative control: the cue is not sentence-initial -> no relation
    ("p14", 0, "ERK2 was ubiquitinated. There is intervening material and, " +
      "previously, MEK1 was phosphorylated."),
    // TestAssemblySieves intraSent1 (dependent-on; the regulation pairs too)
    ("p15", 0, "Together these data demonstrate that E2-induced SRC-3 " +
      "phosphorylation is dependent on a direct interaction between SRC-3 " +
      "and AKT1 and can occur outside of the nucleus."),
    // intrasentential.yml verb/result families
    ("p16", 0, "The ubiquitination of MEK1 precedes the phosphorylation of ERK2."),
    ("p17", 0, "The ubiquitination of ERK2 follows the phosphorylation of MEK1."),
    ("p18", 0, "MEK1 is ubiquitinated due to the phosphorylation of ERK2."),
    ("p19", 0, "The ubiquitination of ERK2 is a result of the phosphorylation of MEK1."),
    ("p20", 0, "MEK1 ubiquitination results from ERK2 phosphorylation."),
    ("p21", 0, "MEK1 is ubiquitinated, resulting in the phosphorylation of ERK2."),
    // feature-based sieve (shared-args gating, Sieves.scala:302-322): no
    // discourse cue, no tense contrast — only the classifier sieve can pair
    // these, and only because BAD (uniprot:Q92934) is shared input
    ("p22", 0, "AKT1 phosphorylates BAD."),
    ("p22", 1, "BAD binds BCL2."),
    // negative control: adjacent events share NO participant -> no pair
    ("p23", 0, "AKT1 phosphorylates BAD."),
    ("p23", 1, "ERK2 binds STAT3."),
    // negative control: shared participant but outside kWindow=1 -> no pair
    ("p24", 0, "AKT1 phosphorylates BAD."),
    ("p24", 1, "The samples were prepared."),
    ("p24", 2, "We then analyzed the data."),
    ("p24", 3, "BAD binds BCL2."))

  /** Demo quality-filter weights (the text format a trainer emits; parsed
    * by `TextAnalysis.parseQualityWeights` exactly as a user's file is).
    */
  private[graft] val demoQualityWeights: String =
    """# linear quality-filter model over graft quality features
      |bias           -1.2
      |len_norm        1.0
      |distinct_ratio  1.0
      |alpha_ratio     0.8
      |stopword_ratio  0.6
      |""".stripMargin

  /** Small BPE merge table for the text_tokens_bpe oracle — the Sennrich
    * merges format parsed from text exactly as a user's merges file is.
    */
  private[graft] lazy val bpeDemoMerges: Seq[(String, String)] =
    graft.ops.TextAnalysis.parseBpeMerges(
      """# demo merges (rank = line order)
        |t h
        |th e
        |i n
        |a n
        |an d
        |e r
        |l o
        |lo w""".stripMargin)

  /** MITRE-filter fixture (reference: ExportFilters.MITREfilter:105-122).
    * Each block exercises one requirement: the phosphorylation is seen 3x
    * across 2 conversations (survives); the activation is seen 3x but
    * activations are invalid MITRE mentions; the RAF event is family-grounded
    * (pfam); XYZQ99 grounds to the uaz failsafe; the binding is seen once.
    */
  private val mitreFixture: Seq[(String, Int, String)] = Seq(
    ("mt1", 0, "MEK1 phosphorylates ERK2."),
    ("mt1", 1, "MEK1 phosphorylates ERK2."),
    ("mt2", 0, "MEK1 phosphorylates ERK2."),
    ("mt1", 2, "AKT1 activates mTOR."),
    ("mt1", 3, "AKT1 activates mTOR."),
    ("mt2", 1, "AKT1 activates mTOR."),
    ("mt1", 4, "RAF phosphorylates MEK1."),
    ("mt1", 5, "RAF phosphorylates MEK1."),
    ("mt2", 2, "RAF phosphorylates MEK1."),
    ("mt1", 6, "XYZQ99 phosphorylates AKT1."),
    ("mt1", 7, "XYZQ99 phosphorylates AKT1."),
    ("mt2", 3, "XYZQ99 phosphorylates AKT1."),
    ("mt1", 8, "STAT3 binds EGFR."))

  /** (turn_idx, mention_text, kind, label, site) — hand-traced. */
  private val modsExpected: Seq[(Int, String, String, String, String)] = Seq(
    (0, "ERK2", "PTM", "Phosphorylation", ""),
    (1, "Ras", "PTM", "Ubiquitination", ""),
    (2, "p-AKT1", "PTM", "Phosphorylation", ""),
    (3, "ERK2", "Mutant", "", "T669A"),
    (4, "ERK2", "Mutant", "", "T669A"),
    (4, "ERK2", "Mutant", "", "T671A"),
    (5, "HuR", "EventSite", "", "Y63"),
    (6, "AKT1", "PTM", "Phosphorylation", "Ser473"),
    (7, "ERK2", "Mutant", "", "T669A"),
    (8, "ASPP2", "PTM", "Deubiquitination", ""),
    (9, "KRAS", "Mutant", "", ""))

  private def kbValuesSql: String =
    Lexicon.kb.map { e =>
      val key = Link.canonKey(e.text)
      s"(${sqlQuote(key)}, ${sqlQuote(e.label)}, ${sqlQuote(e.namespace)}, " +
        s"${sqlQuote(e.id)}, ${sqlQuote(e.species)}, ${e.kb_rank})"
    }.mkString(",\n    ")

  private def mentionValuesSql: String =
    linkMentions.map { case (k, txt, lbl) =>
      s"(${sqlQuote(k)}, ${sqlQuote(txt)}, ${sqlQuote(lbl)})"
    }.mkString(",\n    ")

  // ---- contract -----------------------------------------------------------

  /** Flagship: full KG pipeline on the golden corpus. */
  def entry(spark: SparkSession): DataFrame =
    Pipeline.extract(spark, Transcripts.goldenTurns(spark)).edges

  /** Per-session memo of one pipeline run over a contract fixture. A dozen
    * contract queries export different views of the same run; without this,
    * each query — and each DataFrame branch inside a multi-branch exporter
    * like [[Emit.assemblyTsv]] — replays the full extraction, multiplying
    * Verify wall time and turning exporter plans into N stacked copies of
    * the pipeline. Canon, edges and nodes are cached (the exporters' plans
    * read them); stage_b is the run's own in-memory hold. The datasets are
    * fixture-sized (hundreds of rows); production exports read checkpointed
    * stage tables instead (Pipeline.run), so this memo is
    * contract-harness-only.
    */
  private val runs =
    new java.util.concurrent.ConcurrentHashMap[String, Pipeline.Result]
  private def memoRun(s: SparkSession, fixture: String,
                      turns: => Dataset[graft.model.Turn]): Pipeline.Result =
    runs.computeIfAbsent(s"${s.sparkContext.applicationId}/$fixture", _ => {
      val r = Pipeline.extract(s, turns)
      r.copy(canonMap = r.canonMap.cache(), edges = r.edges.cache(),
        nodes = r.nodes.cache())
    })
  private def goldenRun(s: SparkSession): Pipeline.Result =
    memoRun(s, "golden", Transcripts.goldenTurns(s))
  private def mitreRun(s: SparkSession): Pipeline.Result =
    memoRun(s, "mitre", Transcripts.fixtureTurns(s, mitreFixture))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- relational operator families over the TPC-H-ish tables ----------
    "q1_agg" -> { (s, dir) =>
      implicit val sp = s
      t(dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("sum_disc_price"),
          count(lit(1)).as("count_order"))
    },
    "q_join_broadcast" -> { (s, dir) =>
      implicit val sp = s
      val o = t(dir, "orders"); val c = t(dir, "customer"); val n = t(dir, "nation")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(round(sum(col("o_totalprice")), 2).as("revenue"),
          count(lit(1)).as("n_orders"))
    },
    "q_window_running" -> { (s, dir) =>
      implicit val sp = s
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      t(dir, "lineitem")
        .withColumn("rn", row_number().over(w))
        .withColumn("running_qty",
          sum(col("l_quantity")).over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
        .filter(col("rn") <= 5)
        .select(col("l_suppkey"), col("rn"), col("l_orderkey"),
          round(col("running_qty"), 2).as("running_qty"))
    },
    "q_semi_join" -> { (s, dir) =>
      implicit val sp = s
      t(dir, "customer").join(t(dir, "orders"),
        col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
    },
    "q_anti_join" -> { (s, dir) =>
      implicit val sp = s
      t(dir, "customer").join(t(dir, "orders"),
        col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
    },
    "q_setops" -> { (s, dir) =>
      implicit val sp = s
      val li = t(dir, "lineitem")
      val r = li.filter(col("l_returnflag") === "R").select(col("l_partkey"))
      val a = li.filter(col("l_returnflag") === "A").select(col("l_partkey"))
      r.intersect(a).withColumn("op", lit("both"))
        .unionByName(r.except(a).withColumn("op", lit("r_only")))
    },
    "q_topk" -> { (s, dir) =>
      implicit val sp = s
      t(dir, "orders").groupBy(col("o_custkey"))
        .agg(round(sum(col("o_totalprice")), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("o_custkey").asc)
        .limit(10)
    },
    "q_events_window" -> { (s, dir) =>
      implicit val sp = s
      t(dir, "events")
        .withColumn("window_start",
          (floor(unix_timestamp(col("ts")) / 300) * 300).cast("long"))
        .groupBy(col("window_start"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
    },

    // ---- KG pipeline stages ----------------------------------------------
    "kg_turns" -> { (s, dir) =>
      implicit val sp = s
      derivedTurns(dir)
    },
    "kg_role_filter" -> { (s, dir) =>
      implicit val sp = s
      derivedTurns(dir).filter(col("role") =!= "tool")
    },
    "kg_mentions" -> { (s, dir) =>
      implicit val sp = s
      val lex = s.createDataFrame(docLexicon).toDF("phrase", "label")
      derivedTurns(dir).filter(col("role") =!= "tool")
        .crossJoin(broadcast(lex))
        .withColumn("occurrences",
          ((length(col("text")) -
            length(expr("replace(text, phrase, '')"))) /
            length(col("phrase"))).cast("long"))
        .filter(col("occurrences") > 0)
        .select(col("conv_id"), col("turn_idx"), col("phrase"), col("label"),
          col("occurrences"))
    },
    "kg_link_firsthit" -> { (s, dir) =>
      import s.implicits._
      // the fold's own lookup, on the session's KB-index broadcast
      val (_, bKb, _) = Broadcasts.all(s.sparkContext)
      linkMentions.toDS().map { case (k, txt, lbl) =>
        val g = bKb.value.resolve(txt, lbl, "")
        (k, g.namespace, g.id)
      }.toDF("mention_key", "ns", "ns_id")
    },
    "kg_context_window" -> { (s, dir) =>
      implicit val sp = s
      val w = Window.partitionBy(col("conv_id")).orderBy(col("turn_idx"))
        .rowsBetween(-3, 0)
      derivedTurns(dir).filter(col("role") =!= "tool")
        .withColumn("ctx_turn",
          max(when(col("text").contains("spark"), col("turn_idx"))).over(w))
        .select(col("conv_id"), col("turn_idx"), col("ctx_turn"))
    },
    "kg_context_defaults" -> { (s, dir) =>
      implicit val sp = s
      val toks = derivedTurns(dir).filter(col("role") =!= "tool")
        .select(col("conv_id"),
          explode(split(trim(col("text")), "\\s+")).as("tok"))
        .groupBy(col("conv_id"), col("tok")).agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("conv_id"))
        .orderBy(col("n").desc, col("tok").asc)
      toks.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
        .select(col("conv_id"), col("tok").as("default_ctx"), col("n"))
    },
    "kg_pipeline_edges" -> { (s, dir) =>
      // full pipeline, golden corpus (exactness pinned by GoldenSpec;
      // rows-only check here)
      goldenRun(s).edges
        .select("subj", "pred", "obj", "site", "negated", "hypothesis",
          "conv_id", "turn_idx")
    },
    "kg_canonical_nodes" -> { (s, dir) =>
      goldenRun(s).nodes
        .select(col("canon_id"), col("display"), col("label"),
          col("display_label"), size(col("alias_surface_forms")).as("n_aliases"))
    },
    "kg_emit_fries" -> { (s, dir) =>
      Emit.friesJson(goldenRun(s).edges)
    },
    "kg_emit_arizona" -> { (s, dir) =>
      Emit.arizonaTsv(goldenRun(s).edges)
    },
    "kg_emit_indexcard" -> { (s, dir) =>
      val r = goldenRun(s)
      Emit.indexCardFlat(r.edges, r.nodes)
    },
    "kg_emit_cmu" -> { (s, dir) =>
      val r = goldenRun(s)
      Emit.cmuTsv(r.edges, r.nodes)
    },
    "kg_emit_assembly" -> { (s, dir) =>
      // generic assembly TSV, unconstrained variant (ReachCLI assembly-tsv
      // second output: seen > 0) on the golden corpus — event rows with
      // PRECEDED_BY + entity rows
      val g = goldenRun(s)
      Emit.assemblyTsv(g.edges, g.stageB.toDF(), g.canonMap)
    },
    "kg_emit_assembly_mitre" -> { (s, dir) =>
      // MITRE-filtered assembly TSV on the dedicated requirements fixture
      val r = mitreRun(s)
      Emit.assemblyTsv(r.edges, r.stageB.toDF(), r.canonMap, mitre = true)
    },
    "kg_emit_serial" -> { (s, dir) =>
      // serial-json: coref-mention JSON per linked mention (SerialJsonOutput)
      val b = goldenRun(s).stageB
      Emit.serialJson(b.toDF())
        .filter(col("conv_id").isin("g01", "g05", "g08", "g12", "g13", "g20",
          "g23", "g28", "g30", "g39", "g42", "g46"))
    },
    "kg_fries_frames" -> { (s, dir) =>
      // FRIES frame GRAPH (sentences/entities/events frame-collection
      // sections with frame-id references) — one JSON document per
      // conversation, from the linked-mention table + the turns
      val b = goldenRun(s).stageB
      Emit.friesFrameGraph(b.toDF(), Some(Transcripts.goldenTurns(s).toDF()))
    },
    "kg_precedence" -> { (s, dir) =>
      // causal-precedence sieve (assembly Sieves discourse subset) over the
      // pipeline's edges on a cue fixture
      Precedence.precedence(
        Pipeline.extract(s, Transcripts.fixtureTurns(s, precFixture)).edges)
    },
    "kg_mods" -> { (s, dir) =>
      // modifications subsystem: PTM / Mutant / EventSite attachment +
      // mutationsToMentions split, exploded to one row per modification
      import s.implicits._
      val turns = s.createDataset(modsFixture.map { case (i, text) =>
        Transcripts.mkTurn("m01", i, "user", text)
      })
      val acc = new org.apache.spark.util.CollectionAccumulator[graft.model.Lineage]
      s.sparkContext.register(acc)
      // Generic_entity anaphors ("the T669A mutant") also carry Mutant mods
      // since the mutantProteinMatch sieve landed; this oracle pins the
      // attachment pass on REAL entities only
      Pipeline.stageMentions(s, turns, "verify", acc)
        .filter(m => !m.is_event && m.mods.nonEmpty &&
          m.labels.head != "Generic_entity")
        .flatMap(m => m.mods.map(mod =>
          (m.turn_idx, m.text, mod.kind, mod.label, mod.site_text)))
        .toDF("turn_idx", "text", "kind", "label", "site")
    },

    // ---- dedup family ----------------------------------------------------
    "dedup_exact" -> { (s, dir) =>
      implicit val sp = s
      Dedup.exact(t(dir, "documents"))
    },
    "dedup_jaccard" -> { (s, dir) =>
      implicit val sp = s
      Dedup.jaccardPairs(t(dir, "documents"), 0.9)
    },
    "dedup_minhash_lsh" -> { (s, dir) =>
      implicit val sp = s
      // contract tier runs r=1 banding (bands == numHashes): a pair at
      // jaccard >= t is missed w.p. (1-t)^32 <= 1e-6, so the output equals
      // the exact trigram-jaccard pair set and the DuckDB oracle verifies the
      // WHOLE chain (shingling, hashing, banding, exact verify). Production
      // default stays (32 hashes, 16 bands) — pinned by OpsSpec recall gate.
      Dedup.minhashLsh(t(dir, "documents"), 0.35, bands = 32)
    },
    "dedup_cluster" -> { (s, dir) =>
      // pairs -> transitive closure -> survivor selection: the keep/drop
      // decision a curation pipeline actually ships. Pairs come from the
      // oracle-verified contract tier of minhashLsh, so the DuckDB side can
      // recompute them exactly and run the closure as a recursive CTE.
      implicit val sp = s
      Dedup.clusters(Dedup.minhashLsh(t(dir, "documents"), 0.35, bands = 32))
    },
    "decontaminate" -> { (s, dir) =>
      // train/test-leakage scrub with PLANTED leakage (the synthetic corpus
      // has no natural cross-doc 8-gram overlap at sf0.01): the benchmark set
      // is the 200-char prefix of every 83rd doc under a shifted id, so each
      // source doc is a guaranteed hit and the containment math is exercised
      // on real intersections at every SF — same construction in the oracle
      implicit val sp = s
      val docs = t(dir, "documents")
      val evalSet = docs.filter(col("doc_id") % 83 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          substring(col("text"), 1, 200).as("text"))
      Dedup.contamination(docs, evalSet, ngram = 8, threshold = 0.5)
    },
    "dedup_simhash" -> { (s, dir) =>
      // seeded-subset tier: deterministic inline docs -> simhash + pigeonhole
      // banding; expected hammings hand-pinned in the VALUES oracle
      // (the sf-corpus variant stays the Bench timing path)
      import s.implicits._
      Dedup.simhashPairs(
        s.createDataset(simhashFixture).toDF("doc_id", "text"), 16)
    },
    "dedup_embedding" -> { (s, dir) =>
      implicit val sp = s
      Dedup.embeddingPairs(t(dir, "embeddings"), 0.4)
    },
    "dedup_embedding_lsh" -> { (s, dir) =>
      implicit val sp = s
      // driver-checkable recall-vs-brute gate (VERDICT r1): the oracle
      // independently computes n_true (brute cosine pairs at 0.7) and expects
      // zero precision violations and recall >= 0.8 from the LSH path
      val emb = t(dir, "embeddings")
      val brute = Dedup.embeddingPairs(emb, 0.7).select(col("a"), col("b"))
        .withColumn("in_true", lit(1))
      val lsh = Dedup.embeddingPairsLsh(emb, 0.7, tables = 32, bits = 8)
        .select(col("a"), col("b")).withColumn("in_lsh", lit(1))
      brute.join(lsh, Seq("a", "b"), "full_outer")
        .agg(
          coalesce(sum(col("in_true")), lit(0)).cast("long").as("n_true"),
          coalesce(sum(when(col("in_lsh") === 1 && col("in_true").isNull, 1)
            .otherwise(0)), lit(0)).cast("long").as("precision_violations"),
          (coalesce(sum(when(col("in_true") === 1 && col("in_lsh") === 1, 1)
            .otherwise(0)), lit(0)) >=
            coalesce(sum(col("in_true")), lit(0)) * 0.8).as("recall_ge_80"))
    },

    // ---- similarity search ----------------------------------------------
    "ann_brute" -> { (s, dir) =>
      implicit val sp = s
      val emb = t(dir, "embeddings")
      Similarity.bruteTopK(emb, emb.filter(col("vec_id") < 20), 10)
    },
    "ann_lsh" -> { (s, dir) =>
      implicit val sp = s
      // recall@10-vs-brute gate, same shape as dedup_embedding_lsh
      val emb = t(dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 20)
      val brute = Similarity.bruteTopK(emb, queries, 10)
        .select(col("qid"), col("neighbor_id")).withColumn("in_true", lit(1))
      val lsh = Similarity.lshTopK(emb, queries, 10)
        .select(col("qid"), col("neighbor_id")).withColumn("in_lsh", lit(1))
      brute.join(lsh, Seq("qid", "neighbor_id"), "full_outer")
        .agg(
          countDistinct(when(col("in_true") === 1, col("qid")))
            .as("n_queries"),
          (coalesce(sum(when(col("in_true") === 1 && col("in_lsh") === 1, 1)
            .otherwise(0)), lit(0)) >=
            coalesce(sum(col("in_true")), lit(0)) * 0.8).as("recall_ge_80"))
    },
    "ann_ivf" -> { (s, dir) =>
      implicit val sp = s
      // IVF coarse-quantizer path, same recall-vs-brute gate shape as ann_lsh
      val emb = t(dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 20)
      val brute = Similarity.bruteTopK(emb, queries, 10)
        .select(col("qid"), col("neighbor_id")).withColumn("in_true", lit(1))
      val ivf = Similarity.ivfTopK(emb, queries, 10)
        .select(col("qid"), col("neighbor_id")).withColumn("in_ivf", lit(1))
      brute.join(ivf, Seq("qid", "neighbor_id"), "full_outer")
        .agg(
          countDistinct(when(col("in_true") === 1, col("qid")))
            .as("n_queries"),
          (coalesce(sum(when(col("in_true") === 1 && col("in_ivf") === 1, 1)
            .otherwise(0)), lit(0)) >=
            coalesce(sum(col("in_true")), lit(0)) * 0.8).as("recall_ge_80"))
    },

    // ---- text analysis ---------------------------------------------------
    "text_tokens" -> { (s, dir) =>
      implicit val sp = s
      TextAnalysis.tokenCounts(t(dir, "documents"))
    },
    "text_tokens_bpe" -> { (s, dir) =>
      // tokenizer-aware counting: true greedy BPE under a merges-as-data
      // vocabulary, over a hand-traceable fixture (VALUES oracle — BPE's
      // merge loop is not SQL-expressible; every count below is traced by
      // hand in the scaladoc of TextAnalysis.bpeTokenizeWord's spec)
      import s.implicits._
      TextAnalysis.bpeTokenCounts(
        Seq(
          (1L, "the lower band"),
          (2L, "in the end"),
          (3L, "thin thread"),
          (4L, "\tthe the\n")).toDF("doc_id", "text"),
        bpeDemoMerges)
    },
    "text_quality" -> { (s, dir) =>
      implicit val sp = s
      TextAnalysis.quality(t(dir, "documents"))
    },
    "text_quality_filter" -> { (s, dir) =>
      // model-based quality filtering with WEIGHTS AS DATA: the demo model
      // is parsed from the same text format a trainer would emit
      implicit val sp = s
      val (bias, w) = graft.ops.TextAnalysis.parseQualityWeights(
        demoQualityWeights)
      graft.ops.TextAnalysis.qualityClassify(t(dir, "documents"), bias, w)
    },
    "text_langid" -> { (s, dir) =>
      implicit val sp = s
      TextAnalysis.langId(t(dir, "documents"))
    },
    "text_fingerprint" -> { (s, dir) =>
      // seeded-subset tier (same treatment as dedup_simhash): the selected
      // winnowing hashes on deterministic inline docs, pinned as a VALUES
      // oracle; the sf-corpus variant stays the Bench timing path
      import s.implicits._
      TextAnalysis.fingerprint(
        s.createDataset(simhashFixture).toDF("doc_id", "text"))
        .select(col("doc_id"), explode(col("fingerprint")).as("h"))
    },
    "text_search" -> { (s, dir) =>
      // inverted-index TF-IDF top-k (the reference's Lucene search, S6)
      implicit val sp = s
      val docs = t(dir, "documents")
      TextSearch.search(TextSearch.index(docs), docs.count(),
        Seq("spark", "join", "vector"))
    },
    "text_search_phrase" -> { (s, dir) =>
      // positional-postings phrase query (Lucene QueryParser phrase analogue):
      // consecutive raw-token adjacency, score = occurrence count
      implicit val sp = s
      val docs = t(dir, "documents")
      TextSearch.searchPhrase(TextSearch.index(docs), Seq("hash", "join"))
    },
    "text_repetition" -> { (s, dir) =>
      implicit val sp = s
      TextAnalysis.repetition(t(dir, "documents"))
    },
    "text_ngram_topk" -> { (s, dir) =>
      implicit val sp = s
      TextAnalysis.ngramTopK(t(dir, "documents"), n = 5, k = 20)
    },
    "text_sample_stratified" -> { (s, dir) =>
      // lighter keep-rate for the dominant language, denser for the rest —
      // the language-rebalancing shape every multilingual corpus runs
      implicit val sp = s
      TextAnalysis.sampleStratified(t(dir, "documents"), "lang",
        Map("en" -> 10, "zh" -> 3), defaultEvery = 5)
        .select(col("doc_id"), col("lang"))
    },
    "text_redact" -> { (s, dir) =>
      // the synthetic corpus carries no PII, so the contract query plants
      // deterministic URLs/emails/IPs on every 7th doc (same expression in
      // the oracle SQL) — the redaction regexes are exercised on real hits,
      // not just proven to no-op
      implicit val sp = s
      val seeded = t(dir, "documents").withColumn("text",
        when(col("doc_id") % 7 === 0, concat(col("text"),
          lit(" see https://ex.org/d/"), col("doc_id"),
          lit(" mail user"), col("doc_id"), lit("@example.com ip 10.0."),
          (col("doc_id") % 256).cast("string"), lit(".9 done")))
          .otherwise(col("text")))
      TextAnalysis.redact(seeded)
    },

    // ---- multimodal plumbing --------------------------------------------
    "mm_attach" -> { (s, dir) =>
      implicit val sp = s
      Multimodal.attachMedia(t(dir, "documents"))
        .select("doc_id", "width", "height", "format", "n_bytes")
    },
    "mm_resize" -> { (s, dir) =>
      implicit val sp = s
      Multimodal.resizeMeta(Multimodal.attachMedia(t(dir, "documents")), 224, 224)
    },
    "mm_frames" -> { (s, dir) =>
      implicit val sp = s
      Multimodal.sampleFrames(Multimodal.attachMedia(t(dir, "documents")))
    },
    "mm_features" -> { (s, dir) =>
      implicit val sp = s
      // cast to double BEFORE rounding so the column compares exactly
      // against the DuckDB-recomputed histogram (float32 round would carry
      // representation error into the string compare)
      Multimodal.decodeFeatures(s, Multimodal.attachMedia(t(dir, "documents")))
        .toDF().select(col("doc_id"), col("width"), col("height"),
          round(element_at(col("features"), 1).cast("double"), 4).as("f0"),
          round(element_at(col("features"), 8).cast("double"), 4).as("f7"))
    },

    // ---- hand-traced spot samples (independent of DumpOracles) ----------
    "kg_emit_arizona_sample" -> { (s, dir) =>
      // Arizona rows for three single-edge golden conversations, EVENT_ID
      // (a hash) excluded so every remaining column is hand-traceable
      Emit.arizonaTsv(goldenRun(s).edges
          .filter(col("conv_id").isin("g05", "g12", "g16", "g18")))
        .drop("EVENT_ID")
    },
    "kg_emit_cmu_sample" -> { (s, dir) =>
      // hand-traced DyCE rows: chemical negative controller (g12),
      // translocation self-controller + known location (g13), positive
      // regulation of a de-modification landing in NEG_REG (g02, g29)
      val r = goldenRun(s)
      Emit.cmuTsv(r.edges.filter(
        col("conv_id").isin("g02", "g12", "g13", "g29")), r.nodes)
    },
    "kg_emit_indexcard_sample" -> { (s, dir) =>
      // hand-traced cards: negated modification (g05/g45), activation card
      // (g12), translocation card with location (g13)
      val r = goldenRun(s)
      Emit.indexCardFlat(r.edges.filter(
        col("conv_id").isin("g05", "g12", "g13", "g45")), r.nodes)
    },
    "kg_emit_assembly_sample" -> { (s, dir) =>
      // hand-traced MITRE assembly rows: EVENT_ID (hash) dropped so every
      // remaining column is derivable from the fixture + lexicon by hand
      val r = mitreRun(s)
      Emit.assemblyTsv(r.edges, r.stageB.toDF(), r.canonMap, mitre = true)
        .drop("EVENT_ID")
    },
    "kg_emit_serial_sample" -> { (s, dir) =>
      // hand-traced serial-json fields: parse the JSON back and project the
      // hash-free fields for three single-event golden conversations
      val b = goldenRun(s).stageB
      val schema = "STRUCT<type: STRING, text: STRING, labels: ARRAY<STRING>, " +
        "tokenInterval: STRUCT<start: INT, end: INT>, sentence: INT, " +
        "document: STRING, foundBy: STRING, " +
        "arguments: ARRAY<STRUCT<role: STRING, id: STRING>>, " +
        "grounding: STRUCT<namespace: STRING, id: STRING, species: STRING>, " +
        "displayLabel: STRING, isNegated: BOOLEAN, isHypothesis: BOOLEAN>"
      Emit.serialJson(b.toDF())
        .filter(col("conv_id").isin("g05", "g12", "g13"))
        .select(from_json(col("mention_json"), schema,
          Map.empty[String, String]).as("m"))
        .select(col("m.type").as("type"), col("m.text").as("text"),
          col("m.labels")(0).as("head_label"),
          col("m.tokenInterval.start").as("start_tok"),
          col("m.tokenInterval.end").as("end_tok"),
          col("m.sentence").as("sentence"), col("m.document").as("document"),
          size(col("m.arguments")).as("n_args"),
          col("m.grounding.namespace").as("ns"),
          // event groundings are content hashes — blank them so every pinned
          // value is derivable by hand from the fixture + lexicon
          when(col("m.grounding.namespace") === "evt", lit(""))
            .otherwise(col("m.grounding.id")).as("ns_id"),
          col("m.displayLabel").as("display_label"),
          col("m.isNegated").as("is_negated"))
    },
    "kg_fries_frames_sample" -> { (s, dir) =>
      // frame-graph content minus the hashed frame ids: parse the emitted
      // JSON back and project hand-traceable frame fields from the
      // entities/events frame-collection sections
      val b = goldenRun(s).stageB
      val entSchema = "ARRAY<STRUCT<turn_idx: INT, sent_idx: INT, " +
        "start_tok: INT, end_tok: INT, `frame-id`: BIGINT, " +
        "`frame-type`: STRING, type: STRING, text: STRING, " +
        "xrefs: ARRAY<STRUCT<namespace: STRING, `object-type`: STRING, id: STRING>>, " +
        "modifications: ARRAY<STRUCT<kind: STRING, label: STRING, site: STRING>>, " +
        "`is-negated`: BOOLEAN, `is-hypothesis`: BOOLEAN>>"
      val evSchema = "ARRAY<STRUCT<turn_idx: INT, sent_idx: INT, " +
        "start_tok: INT, end_tok: INT, `frame-id`: BIGINT, " +
        "`frame-type`: STRING, subtype: STRING, text: STRING, " +
        "trigger: STRING, " +
        "arguments: ARRAY<STRUCT<type: STRING, arg: BIGINT, `argument-type`: STRING>>, " +
        "`is-direct`: BOOLEAN, " +
        "modifications: ARRAY<STRUCT<kind: STRING, label: STRING, site: STRING>>, " +
        "`is-negated`: BOOLEAN, `is-hypothesis`: BOOLEAN>>"
      val docSchema = s"STRUCT<document: STRING, " +
        "sentences: STRUCT<`object-type`: STRING, frames: ARRAY<STRUCT<" +
        "turn_idx: INT, sent_idx: INT, `frame-type`: STRING, text: STRING>>>, " +
        s"entities: STRUCT<`object-type`: STRING, frames: $entSchema>, " +
        s"events: STRUCT<`object-type`: STRING, frames: $evSchema>>"
      val parsed = Emit.friesFrameGraph(b.toDF(),
          Some(Transcripts.goldenTurns(s).toDF()))
        .filter(col("conv_id").isin("g05", "g12", "g13"))
        .select(col("conv_id"),
          from_json(col("fries"), docSchema, Map.empty[String, String])
            .as("d"))
      val ents = parsed
        .select(col("conv_id"), explode(col("d.entities.frames")).as("f"))
        .select(col("conv_id"), col("f.turn_idx").as("turn_idx"),
          col("f.start_tok").as("start_tok"), col("f.end_tok").as("end_tok"),
          col("f").getField("frame-type").as("frame_type"),
          col("f.type").as("type"), col("f.text").as("text"),
          concat(col("f.xrefs")(0).getField("namespace"), lit(":"),
            col("f.xrefs")(0).getField("id")).as("xref"),
          lit("").as("trigger"), lit(0).as("n_args"),
          col("f").getField("is-negated").as("is_negated"),
          lit(false).as("is_direct"))
      val evs = parsed
        .select(col("conv_id"), explode(col("d.events.frames")).as("f"))
        .select(col("conv_id"), col("f.turn_idx").as("turn_idx"),
          col("f.start_tok").as("start_tok"), col("f.end_tok").as("end_tok"),
          col("f").getField("frame-type").as("frame_type"),
          col("f.subtype").as("type"), col("f.text").as("text"),
          lit("").as("xref"),
          // split regulations omit trigger / is-direct (RelationMention
          // semantics) -> coalesce for a stable sample schema
          coalesce(col("f.trigger"), lit("")).as("trigger"),
          size(col("f.arguments")).as("n_args"),
          col("f").getField("is-negated").as("is_negated"),
          coalesce(col("f").getField("is-direct"), lit(false)).as("is_direct"))
      ents.unionByName(evs)
    }
  )

  def oracleSql: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        | round(sum(l_quantity), 2) AS sum_qty,
        | round(sum(l_extendedprice), 2) AS sum_base_price,
        | round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        | count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q_join_broadcast" ->
      """SELECT n_name, round(sum(o_totalprice), 2) AS revenue,
        | count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin,
    "q_window_running" ->
      """SELECT l_suppkey, rn, l_orderkey, round(running_qty, 2) AS running_qty
        |FROM (
        |  SELECT l_suppkey, l_orderkey,
        |    row_number() OVER w AS rn,
        |    sum(l_quantity) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_qty
        |  FROM lineitem
        |  WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber)
        |) WHERE rn <= 5""".stripMargin,
    "q_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin,
    "q_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin,
    "q_setops" ->
      """SELECT l_partkey, 'both' AS op FROM
        | ((SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R')
        |  INTERSECT
        |  (SELECT l_partkey FROM lineitem WHERE l_returnflag = 'A'))
        |UNION ALL
        |SELECT l_partkey, 'r_only' AS op FROM
        | ((SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R')
        |  EXCEPT
        |  (SELECT l_partkey FROM lineitem WHERE l_returnflag = 'A'))""".stripMargin,
    "q_topk" ->
      """SELECT o_custkey, round(sum(o_totalprice), 2) AS revenue
        |FROM orders GROUP BY o_custkey
        |ORDER BY revenue DESC, o_custkey ASC LIMIT 10""".stripMargin,
    "q_events_window" ->
      """SELECT CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS window_start,
        | event_type, count(*) AS n, round(sum(value), 4) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "kg_turns" -> derivedTurnsSql,
    "kg_role_filter" ->
      s"SELECT * FROM ($derivedTurnsSql) WHERE role <> 'tool'",
    "kg_mentions" ->
      s"""WITH turns AS ($derivedTurnsSql),
         |lex(phrase, label) AS (VALUES ${docLexicon.map { case (p, l) =>
            s"(${sqlQuote(p)}, ${sqlQuote(l)})" }.mkString(", ")})
         |SELECT conv_id, turn_idx, phrase, label,
         | CAST((length(text) - length(replace(text, phrase, ''))) / length(phrase) AS BIGINT) AS occurrences
         |FROM turns CROSS JOIN lex
         |WHERE role <> 'tool'
         |  AND (length(text) - length(replace(text, phrase, ''))) / length(phrase) > 0""".stripMargin,
    "kg_link_firsthit" ->
      s"""WITH mentions(mention_key, mtext, label) AS (VALUES
         |    $mentionValuesSql),
         |base AS (SELECT mention_key, label, trim(mtext) AS t FROM mentions),
         |-- stripGeneNameAffixesKT intermediates (ReachKBKeyTransforms:40-56)
         |g1 AS (SELECT *, trim(regexp_replace(t, '(?i)(-?e?gfp)+$$', '')) AS sanssuf FROM base),
         |g2 AS (SELECT *, string_split(sanssuf, '-') AS sufparts,
         |  array_to_string(list_filter(string_split(sanssuf, '-'),
         |    x -> NOT list_contains(['activated','egfp','gfp','flag','gst','ha','lenti','luc','myr','p','phospho','phosphor','phosphorylated','rh','shrna'], lower(x))), '-') AS sansaff
         |  FROM g1),
         |-- per-label raw candidate cascade (canonical first, then aux
         |-- transforms in the reference's per-KB order)
         |raws AS (SELECT mention_key, label, t,
         |  CASE WHEN label = 'Family' THEN [t,
         |    CASE WHEN regexp_matches(t, '(?i)^.*_family$$') THEN t
         |         WHEN regexp_matches(t, '(?i)^.*(?: protein family|family)$$')
         |           THEN trim(regexp_extract(t, '(?i)^(.*?)(?: protein family|family)$$', 1)) END]
         |  WHEN label IN ('Gene_or_gene_product', 'Complex') THEN [t,
         |    CASE WHEN regexp_matches(t, '(?i)^.*(?: mutant protein|protein)$$')
         |           THEN trim(regexp_extract(t, '(?i)^(.*?)(?: mutant protein|protein)$$', 1)) END,
         |    CASE WHEN regexp_matches(t, '(?i)^phosphorylated\\s+.*\\s+\\w+\\s+mutant$$')
         |           THEN trim(regexp_extract(t, '(?i)^phosphorylated\\s+(.*)\\s+\\w+\\s+mutant$$', 1))
         |         WHEN regexp_matches(t, '(?i)^.*\\s+\\w+\\s+mutant$$')
         |           THEN trim(regexp_extract(t, '(?i)^(.*)\\s+\\w+\\s+mutant$$', 1))
         |         WHEN regexp_matches(t, '(?i)^mutant(?: |-)+.*$$')
         |           THEN trim(regexp_extract(t, '(?i)^mutant(?: |-)+(.*)$$', 1)) END,
         |    CASE WHEN regexp_matches(t, '(?i)^\\w+-\\w+$$')
         |          AND list_contains(['14_3_3','aaa','aai','aicarft_impchas','dss1_sem1','hat','zu5','germane','sh2','sh3','rbd','ph','bd','ct','nt'],
         |                lower(regexp_extract(t, '(?i)^(\\w+)-(\\w+)$$', 2)))
         |           THEN regexp_extract(t, '(?i)^(\\w+)-(\\w+)$$', 1) END,
         |    CASE WHEN sansaff = t THEN NULL
         |         WHEN sansaff = '' THEN list_extract(sufparts, len(sufparts))
         |         WHEN sansaff <> sanssuf THEN sansaff
         |         WHEN sanssuf = t THEN NULL
         |         ELSE sanssuf END,
         |    CASE WHEN regexp_matches(t, '^(p|u)[A-Z0-9_-][A-Za-z0-9_-]*$$')
         |           THEN regexp_extract(t, '^(p|u)([A-Za-z0-9_-]+)$$', 2) END]
         |  WHEN label = 'Organ' THEN [t,
         |    CASE WHEN regexp_matches(t, '(?i)^.*(?: cells?| tissues?| fluids?)+$$')
         |           THEN trim(regexp_extract(t, '(?i)^(.*?)(?: cells?| tissues?| fluids?)+$$', 1)) END]
         |  ELSE [t] END AS rawlist
         |  FROM g2),
         |exploded AS (
         |  SELECT mention_key, label, t,
         |    regexp_replace(lower(trim(regexp_replace(trim(raw), '(?i)^(.*)_human$$', '\\1'))), '[ ''/-]', '', 'g') AS key,
         |    generate_subscripts(rawlist, 1) AS idx
         |  FROM (SELECT mention_key, label, t, unnest(rawlist) AS raw, rawlist FROM raws)
         |  WHERE raw IS NOT NULL),
         |dedup AS (
         |  SELECT mention_key, label, t, key, idx,
         |    row_number() OVER (PARTITION BY mention_key, key ORDER BY idx) AS occ
         |  FROM exploded WHERE key <> ''),
         |keyed AS (
         |  SELECT mention_key, label, t, key,
         |    row_number() OVER (PARTITION BY mention_key ORDER BY idx) AS key_rank
         |  FROM dedup WHERE occ = 1),
         |kb(kb_key, kb_label, namespace, id, species, kb_rank) AS (VALUES
         |    $kbValuesSql),
         |joined AS (
         |  SELECT k.mention_key, k.t, kb.namespace, kb.id, kb.species, kb.kb_rank, k.key_rank
         |  FROM keyed k LEFT JOIN kb ON k.key = kb.kb_key AND k.label = kb.kb_label),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY mention_key ORDER BY
         |    kb_rank ASC NULLS LAST, key_rank ASC,
         |    CASE WHEN species = 'human' THEN 1
         |         WHEN species = '' OR species IS NULL THEN 2 ELSE 3 END ASC,
         |    id ASC NULLS LAST) AS rn
         |  FROM joined)
         |SELECT mention_key,
         |  coalesce(namespace, 'uaz') AS ns,
         |  coalesce(id, concat('UAZ:', regexp_replace(lower(t), '[ ''/-]', '', 'g'))) AS ns_id
         |FROM ranked WHERE rn = 1""".stripMargin,
    "kg_context_window" ->
      s"""SELECT conv_id, turn_idx,
         |  max(CASE WHEN contains(text, 'spark') THEN turn_idx END)
         |    OVER (PARTITION BY conv_id ORDER BY turn_idx
         |          ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS ctx_turn
         |FROM ($derivedTurnsSql) WHERE role <> 'tool'""".stripMargin,
    "kg_context_defaults" ->
      s"""WITH toks AS (
         |  SELECT conv_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
         |  FROM ($derivedTurnsSql) WHERE role <> 'tool'),
         |counts AS (SELECT conv_id, tok, count(*) AS n FROM toks GROUP BY 1, 2)
         |SELECT conv_id, tok AS default_ctx, n FROM (
         |  SELECT *, row_number() OVER (PARTITION BY conv_id
         |    ORDER BY n DESC, tok ASC) AS rk FROM counts)
         |WHERE rk = 1""".stripMargin,
    "dedup_exact" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS dupes
        |FROM (SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
        |      FROM documents)
        |GROUP BY t""".stripMargin,
    "dedup_jaccard" ->
      """WITH tok AS (
        |  SELECT DISTINCT doc_id, unnest(regexp_split_to_array(
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS tok
        |  FROM documents),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM tok GROUP BY doc_id),
        |df AS (SELECT tok, count(*) AS df FROM tok GROUP BY tok),
        |ftok AS (SELECT t.doc_id, t.tok FROM tok t JOIN df USING (tok)
        |         WHERE df.df BETWEEN 2 AND 10000),
        |inter AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS common
        |  FROM ftok a JOIN ftok b ON a.tok = b.tok AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT i.a, i.b,
        |  round(common / (sa.sz + sb.sz - common), 6) AS jaccard
        |FROM inter i
        |JOIN sizes sa ON sa.doc_id = i.a
        |JOIN sizes sb ON sb.doc_id = i.b
        |WHERE common / (sa.sz + sb.sz - common) >= 0.9""".stripMargin,
    // deterministic golden-corpus export pins (generated by DumpOracles —
    // the golden corpus is hand-traced, so drift flips these red)
    "kg_emit_arizona" -> GeneratedOracles.arizona,
    "kg_emit_indexcard" -> GeneratedOracles.indexcard,
    // hand-traced sample rows (NOT regenerated): participant surfaces are
    // the canonical node display = the corpus-majority surface form
    // ("rapamycin" once the lowercase uses outnumber sentence-initial
    // "Rapamycin"), since these exports aggregate per interaction
    "kg_emit_cmu_sample" ->
      """SELECT * FROM (VALUES
        |  ('mTOR', 'Protein', 'uniprot', 'P42345', '', '', '', '', '',
        |   'rapamycin', 'Chemical', 'CID5284616', 'I', 'NONE', '', '', '',
        |   'g12', 'Rapamycin inhibits mTOR'),
        |  ('STAT3', 'Protein', 'uniprot', 'P40763', 'nucleus', 'go:0005634',
        |   'STAT3', 'Protein', 'P40763', '', '', '', 'D', 'NONE', '', '', '',
        |   'g13', 'STAT3 translocates to the nucleus'),
        |  ('ASPP2', 'Protein', 'uniprot', 'Q13625', '', '', '', '', '',
        |   'OLK1', 'Protein', 'Q96CV9', 'D', 'Deubiquitination', '', '', '',
        |   'g02', 'deubiquitination of ASPP2 is promoted by optineurin'),
        |  ('HuR', 'Protein', 'uniprot', 'Q15717', '', '', '', '', '',
        |   'JAK3', 'Protein', 'P52333', 'D', 'Dephosphorylation', '', '', '',
        |   'g29', 'JAK3 dephosphorylates three HuR residues ( Y63 | JAK3 dephosphorylates three HuR residues ( Y63 , Y68 | JAK3 dephosphorylates three HuR residues ( Y63 , Y68 , Y200')
        |) AS t(ELEMENT_NAME, ELEMENT_TYPE, DATABASE_NAME, ELEMENT_IDENTIFIER,
        |       LOCATION, LOCATION_IDENTIFIER, POS_REG_NAME, POS_REG_TYPE,
        |       POS_REG_ID, NEG_REG_NAME, NEG_REG_TYPE, NEG_REG_ID,
        |       IS_INDIRECT, MECHANISM_TYPE, CELL_LINE, CELL_TYPE, ORGANISM,
        |       PAPER_ID, EVIDENCE)""".stripMargin,
    "kg_emit_indexcard_sample" ->
      """SELECT * FROM (VALUES
        |  ('adds_modification', 'phosphorylation', '', '', TRUE, FALSE,
        |   '', '', '', '', 'phosphorylate', 'g05', 'MEK1', 'protein',
        |   'uniprot:Q02750', 'ERK2', 'protein', 'uniprot:P28482', 1,
        |   'MEK does not phosphorylate ERK2'),
        |  ('adds_modification', 'phosphorylation', '', '', TRUE, FALSE,
        |   '', '', '', '', 'phosphorylate', 'g45', 'MEK1', 'protein',
        |   'uniprot:Q02750', 'ERK2', 'protein', 'uniprot:P28482', 1,
        |   'MEK1 fails to phosphorylate ERK2'),
        |  ('decreases_activity', '', '', '', FALSE, FALSE,
        |   '', '', '', '', 'inhibits', 'g12', 'rapamycin', 'simple_chemical',
        |   'pubchem:CID5284616', 'mTOR', 'protein', 'uniprot:P42345', 1,
        |   'Rapamycin inhibits mTOR'),
        |  ('translocates', '', '', 'go:GO:0005634', FALSE, FALSE,
        |   '', '', '', '', 'translocates', 'g13', '', '', '', 'STAT3',
        |   'protein', 'uniprot:P40763', 1, 'STAT3 translocates to the nucleus')
        |) AS t(interaction_type, modification_type, position, to_location_id,
        |       negative_information, hypothesis_information, context_species,
        |       context_organ, context_cell_line, context_cell_type, trigger,
        |       pmc_id, participant_a_text, participant_a_type,
        |       participant_a_identifier, participant_b_text,
        |       participant_b_type, participant_b_identifier, seen,
        |       evidence)""".stripMargin,
    "kg_emit_cmu" -> GeneratedOracles.cmu,
    // hand-traced from mitreFixture (not DumpOracles-generated): each row is
    // derivable by hand from the fixture sentences + demo lexicon — entity
    // SEEN counts (AKT1 6 = 3 activations + 3 phosphorylations, MEK1 6 =
    // 3 subject + 3 object, ERK2/mTOR 3), the surviving Phosphorylation and
    // Positive_regulation events at SEEN=3 across mt1|mt2, and the MITRE
    // exclusions (activations, RAF pfam family rows, XYZQ99 uaz rows,
    // single-seen STAT3/EGFR binding)
    "kg_emit_assembly_sample" ->
      """SELECT * FROM (VALUES
        |  ('AKT1::uniprot:P31749', 'AKT1::uniprot:P31749', 'NONE', 'entity',
        |   FALSE, FALSE, '', '', '', '', '', 6, 'AKT1', 'mt1|mt2', ''),
        |  ('ERK2::uniprot:P28482', 'ERK2::uniprot:P28482', 'NONE', 'entity',
        |   FALSE, FALSE, '', '', '', '', '', 3, 'ERK2', 'mt1|mt2', ''),
        |  ('MEK1::uniprot:Q02750', 'MEK1::uniprot:Q02750', 'NONE', 'entity',
        |   FALSE, FALSE, '', '', '', '', '', 6, 'MEK1', 'mt1|mt2', ''),
        |  ('mTOR::uniprot:P42345', 'mTOR::uniprot:P42345', 'NONE', 'entity',
        |   FALSE, FALSE, '', '', '', '', '', 3, 'mTOR', 'mt1|mt2', ''),
        |  ('Phosphorylation(uniprot:P28482)', 'Phosphorylation(uniprot:P28482)',
        |   'uniprot:Q02750', 'Positive_regulation', FALSE, FALSE, '', '', '',
        |   '', 'phosphorylates', 3, 'MEK1 phosphorylates ERK2', 'mt1|mt2', ''),
        |  ('uniprot:P28482', 'uniprot:P28482.p', 'NONE', 'Phosphorylation',
        |   FALSE, FALSE, '', '', '', '', 'phosphorylates', 3,
        |   'phosphorylates ERK2', 'mt1|mt2', ''),
        |  ('uniprot:P31749', 'uniprot:P31749.p', 'NONE', 'Phosphorylation',
        |   FALSE, FALSE, '', '', '', '', 'phosphorylates', 3,
        |   'phosphorylates AKT1', 'mt1|mt2', ''),
        |  ('uniprot:Q02750', 'uniprot:Q02750.p', 'NONE', 'Phosphorylation',
        |   FALSE, FALSE, '', '', '', '', 'phosphorylates', 3,
        |   'phosphorylates MEK1', 'mt1|mt2', '')
        |) AS t(INPUT, OUTPUT, CONTROLLER, EVENT_LABEL, NEGATED, INDIRECT,
        |       CONTEXT_SPECIES, CONTEXT_ORGAN, CONTEXT_CELL_LINE,
        |       CONTEXT_CELL_TYPE, TRIGGERS, SEEN, EVIDENCE, SEEN_IN,
        |       PRECEDED_BY)""".stripMargin,
    // hand-traced serial-json fields for three single-event golden convs
    // (g05 negated regulation + inner phospho, g12 chemical inhibition,
    // g13 translocation) — token intervals counted by hand from the text
    "kg_emit_serial_sample" ->
      """SELECT * FROM (VALUES
        |  ('CorefEventMention', 'MEK does not phosphorylate ERK2',
        |   'Positive_regulation', 0, 5, 0, 'g05', 2, 'evt',
        |   '', 'Positive_regulation', TRUE),
        |  ('CorefEventMention', 'phosphorylate ERK2', 'Phosphorylation',
        |   3, 5, 0, 'g05', 1, 'evt', '', 'Phosphorylation',
        |   FALSE),
        |  ('CorefEventMention', 'Rapamycin inhibits mTOR',
        |   'Negative_activation', 0, 3, 0, 'g12', 2, 'evt',
        |   '', 'Negative_activation', FALSE),
        |  ('CorefEventMention', 'STAT3 translocates to the nucleus',
        |   'Translocation', 0, 5, 0, 'g13', 2, 'evt', '',
        |   'Translocation', FALSE),
        |  ('CorefTextBoundMention', 'MEK', 'Gene_or_gene_product', 0, 1, 0,
        |   'g05', 0, 'uniprot', 'Q02750', 'Protein', FALSE),
        |  ('CorefTextBoundMention', 'ERK2', 'Gene_or_gene_product', 4, 5, 0,
        |   'g05', 0, 'uniprot', 'P28482', 'Protein', FALSE),
        |  ('CorefTextBoundMention', 'Rapamycin', 'Simple_chemical', 0, 1, 0,
        |   'g12', 0, 'pubchem', 'CID5284616', 'Simple_chemical', FALSE),
        |  ('CorefTextBoundMention', 'mTOR', 'Gene_or_gene_product', 2, 3, 0,
        |   'g12', 0, 'uniprot', 'P42345', 'Protein', FALSE),
        |  ('CorefTextBoundMention', 'STAT3', 'Gene_or_gene_product', 0, 1, 0,
        |   'g13', 0, 'uniprot', 'P40763', 'Protein', FALSE),
        |  ('CorefTextBoundMention', 'nucleus', 'Cellular_component', 4, 5, 0,
        |   'g13', 0, 'go', 'GO:0005634', 'Cellular_component', FALSE)
        |) AS t(type, text, head_label, start_tok, end_tok, sentence,
        |       document, n_args, ns, ns_id, display_label, is_negated)""".stripMargin,
    "kg_emit_assembly" -> GeneratedOracles.assembly,
    "kg_emit_assembly_mitre" -> GeneratedOracles.assemblyMitre,
    "kg_emit_serial" -> GeneratedOracles.serial,
    "kg_fries_frames" -> GeneratedOracles.friesFrames,
    "kg_canonical_nodes" -> GeneratedOracles.canonicalNodes,
    "kg_emit_fries" -> GeneratedOracles.fries,
    "dedup_simhash" -> GeneratedOracles.simhash,
    "kg_precedence" ->
      """SELECT * FROM (VALUES
        |  ('p01', 'Phosphorylation', 'uniprot:P28482', 0,
        |   'Positive_activation', 'uniprot:P40763', 1,
        |   'inter-sentential-rb:as a result'),
        |  ('p01', 'Positive_regulation', 'Phosphorylation(uniprot:P28482)', 0,
        |   'Positive_activation', 'uniprot:P40763', 1,
        |   'inter-sentential-rb:as a result'),
        |  ('p03', 'Binding', 'uniprot:P31749&uniprot:P49840', 0,
        |   'Positive_regulation', 'Phosphorylation(uniprot:Q92934)', 2,
        |   'inter-sentential-rb:therefore'),
        |  ('p04', 'Phosphorylation', 'uniprot:P28482', 0,
        |   'Binding', 'uniprot:P28482&uniprot:P31749', 1,
        |   'inter-sentential-rb:then'),
        |  ('p04', 'Positive_regulation', 'Phosphorylation(uniprot:P28482)', 0,
        |   'Binding', 'uniprot:P28482&uniprot:P31749', 1,
        |   'inter-sentential-rb:then'),
        |  ('p05', 'Ubiquitination', 'uniprot:Q15717', 0,
        |   'Phosphorylation', 'uniprot:P28482', 0,
        |   'intra-sentential-rb:before'),
        |  ('p05', 'Ubiquitination', 'uniprot:Q15717', 0,
        |   'Positive_regulation', 'Phosphorylation(uniprot:P28482)', 0,
        |   'intra-sentential-rb:before'),
        |  ('p05', 'Positive_regulation', 'Ubiquitination(uniprot:Q15717)', 0,
        |   'Phosphorylation', 'uniprot:P28482', 0,
        |   'intra-sentential-rb:before'),
        |  ('p05', 'Positive_regulation', 'Ubiquitination(uniprot:Q15717)', 0,
        |   'Positive_regulation', 'Phosphorylation(uniprot:P28482)', 0,
        |   'intra-sentential-rb:before'),
        |  ('p06', 'Phosphorylation', 'uniprot:Q92934', 0,
        |   'Binding', 'uniprot:P31749&uniprot:Q92934', 0,
        |   'intra-sentential-rb:following'),
        |  ('p07', 'Phosphorylation', 'uniprot:Q02750', 0,
        |   'Ubiquitination', 'uniprot:P28482', 0, 'reichenbach-tense'),
        |  ('p08', 'Phosphorylation', 'uniprot:Q02750', 0,
        |   'Ubiquitination', 'uniprot:P28482', 0, 'reichenbach-tense'),
        |  ('p09', 'Phosphorylation', 'uniprot:Q02750', 0,
        |   'Ubiquitination', 'uniprot:P28482', 0, 'reichenbach-tense'),
        |  ('p10', 'Phosphorylation', 'uniprot:Q02750', 0,
        |   'Ubiquitination', 'uniprot:P28482', 0, 'inter-sentential-rb:then'),
        |  ('p11', 'Phosphorylation', 'uniprot:Q02750', 0,
        |   'Ubiquitination', 'uniprot:P28482', 0,
        |   'inter-sentential-rb:subsequently'),
        |  ('p12', 'Phosphorylation', 'uniprot:Q02750', 0,
        |   'Ubiquitination', 'uniprot:P28482', 0,
        |   'inter-sentential-rb:prior to this'),
        |  ('p13', 'Phosphorylation', 'uniprot:Q02750', 0,
        |   'Ubiquitination', 'uniprot:P28482', 0,
        |   'inter-sentential-rb:previously'),
        |  ('p15', 'Binding', 'uniprot:P31749&uniprot:Q9Y6Q9', 0,
        |   'Phosphorylation', 'uniprot:Q9Y6Q9', 0,
        |   'intra-sentential-rb:dependent_on'),
        |  ('p15', 'Binding', 'uniprot:P31749&uniprot:Q9Y6Q9', 0,
        |   'Positive_regulation', 'Phosphorylation(uniprot:Q9Y6Q9)', 0,
        |   'intra-sentential-rb:dependent_on'),
        |  ('p16', 'Ubiquitination', 'uniprot:Q02750', 0,
        |   'Phosphorylation', 'uniprot:P28482', 0,
        |   'intra-sentential-rb:precedes'),
        |  ('p17', 'Phosphorylation', 'uniprot:Q02750', 0,
        |   'Ubiquitination', 'uniprot:P28482', 0,
        |   'intra-sentential-rb:follows'),
        |  ('p18', 'Phosphorylation', 'uniprot:P28482', 0,
        |   'Ubiquitination', 'uniprot:Q02750', 0,
        |   'intra-sentential-rb:due_to'),
        |  ('p19', 'Phosphorylation', 'uniprot:Q02750', 0,
        |   'Ubiquitination', 'uniprot:P28482', 0,
        |   'intra-sentential-rb:result_of'),
        |  ('p20', 'Phosphorylation', 'uniprot:P28482', 0,
        |   'Ubiquitination', 'uniprot:Q02750', 0,
        |   'intra-sentential-rb:results_from'),
        |  ('p22', 'Phosphorylation', 'uniprot:Q92934', 0,
        |   'Binding', 'uniprot:P10415&uniprot:Q92934', 1,
        |   'feature-based-classifier:narrative-order-default'),
        |  ('p22', 'Positive_regulation', 'Phosphorylation(uniprot:Q92934)', 0,
        |   'Binding', 'uniprot:P10415&uniprot:Q92934', 1,
        |   'feature-based-classifier:narrative-order-default'),
        |  ('p21', 'Ubiquitination', 'uniprot:Q02750', 0,
        |   'Phosphorylation', 'uniprot:P28482', 0,
        |   'intra-sentential-rb:results_in')
        |) AS t(conv_id, before_pred, before_obj, before_turn,
        |       after_pred, after_obj, after_turn, sieve)""".stripMargin,
    "kg_mods" -> {
      val rows = modsExpected.map { case (turn, text, kind, label, site) =>
        s"($turn, ${sqlQuote(text)}, ${sqlQuote(kind)}, ${sqlQuote(label)}, ${sqlQuote(site)})"
      }.mkString(",\n    ")
      s"""SELECT * FROM (VALUES
         |    $rows) AS t(turn_idx, text, kind, label, site)""".stripMargin
    },
    "kg_pipeline_edges" -> {
      // the hand-traced golden expectations ARE the oracle — exactness was
      // previously only a ScalaTest gate (GoldenSpec); now the driver checks
      // it independently
      val rows = kg.Transcripts.golden._2.map { t =>
        s"(${sqlQuote(t.subj)}, ${sqlQuote(t.pred)}, ${sqlQuote(t.obj)}, " +
          s"${sqlQuote(t.site)}, ${t.negated}, ${t.hypothesis}, " +
          s"${sqlQuote(t.conv_id)}, ${t.turn_idx})"
      }.mkString(",\n    ")
      s"""SELECT * FROM (VALUES
         |    $rows) AS t(subj, pred, obj, site, negated, hypothesis, conv_id, turn_idx)""".stripMargin
    },
    "dedup_minhash_lsh" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '),
        |    x -> x <> '') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_filter(
        |    list_transform(range(1, greatest(len(t) - 2, 1) + 1),
        |      i -> concat_ws(' ', t[i], t[i+1], t[i+2])),
        |    x -> x <> '')) AS s
        |  FROM toks)
        |SELECT a.doc_id AS a, b.doc_id AS b,
        |  round(len(list_intersect(a.s, b.s)) * 1.0 /
        |    (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 6) AS jaccard
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) > 0
        |  AND len(list_intersect(a.s, b.s)) * 1.0 /
        |    (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.35""".stripMargin,
    // independent 8-gram shingling + containment-vs-eval-doc recomputation;
    // out-of-bounds list access is NULL and concat_ws skips NULLs, matching
    // Spark's slice() short-shingle behavior on sub-n-token documents
    "decontaminate" ->
      """WITH alldocs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id,
        |    substring(text, 1, 200) AS text
        |  FROM documents WHERE doc_id % 83 = 0),
        |toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '),
        |    x -> x <> '') AS t
        |  FROM alldocs),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_filter(
        |    list_transform(range(1, greatest(len(t) - 7, 1) + 1),
        |      i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3],
        |                          t[i+4], t[i+5], t[i+6], t[i+7])),
        |    x -> x <> '')) AS s
        |  FROM toks),
        |ev AS (SELECT doc_id AS eval_id, s AS es FROM sh
        |       WHERE doc_id >= 1000000 AND len(s) > 0),
        |tr AS (SELECT doc_id, s FROM sh WHERE doc_id < 1000000)
        |SELECT tr.doc_id, ev.eval_id,
        |  round(len(list_intersect(tr.s, ev.es)) * 1.0 / len(ev.es), 6)
        |    AS containment
        |FROM tr JOIN ev ON
        |  round(len(list_intersect(tr.s, ev.es)) * 1.0 / len(ev.es), 6)
        |    >= 0.5""".stripMargin,
    // the closure is a recursive CTE over the independently-recomputed exact
    // trigram-jaccard pair set: reachability min = component id, survivor =
    // min doc_id — checks clustering AND keep/drop, not just the pairs
    "dedup_cluster" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '),
        |    x -> x <> '') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_filter(
        |    list_transform(range(1, greatest(len(t) - 2, 1) + 1),
        |      i -> concat_ws(' ', t[i], t[i+1], t[i+2])),
        |    x -> x <> '')) AS s
        |  FROM toks),
        |pairs AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) > 0
        |    AND len(list_intersect(a.s, b.s)) * 1.0 /
        |      (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.35),
        |edges AS (SELECT a AS u, b AS v FROM pairs
        |          UNION SELECT b AS u, a AS v FROM pairs),
        |reach(n, r) AS (
        |  SELECT u AS n, u AS r FROM edges
        |  UNION
        |  SELECT e.u AS n, reach.r FROM edges e
        |  JOIN reach ON reach.n = e.v)
        |SELECT min(r) AS cluster_id, n AS doc_id,
        |  CAST(CASE WHEN n = min(r) THEN 1 ELSE 0 END AS INTEGER) AS keep
        |FROM reach GROUP BY n""".stripMargin,
    "dedup_embedding_lsh" ->
      """WITH prep AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |    sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))) AS n
        |  FROM embeddings)
        |SELECT count(*) AS n_true,
        |  CAST(0 AS BIGINT) AS precision_violations,
        |  true AS recall_ge_80
        |FROM prep a JOIN prep b ON a.vec_id < b.vec_id
        |WHERE round(list_sum(list_transform(range(1, 65),
        |    i -> a.v[i] * b.v[i])) / (a.n * b.n), 4) >= 0.7""".stripMargin,
    "ann_lsh" ->
      """WITH prep AS (
        |  SELECT vec_id FROM embeddings)
        |SELECT count(*) AS n_queries, true AS recall_ge_80
        |FROM prep WHERE vec_id < 20""".stripMargin,
    "ann_ivf" ->
      """WITH prep AS (
        |  SELECT vec_id FROM embeddings)
        |SELECT count(*) AS n_queries, true AS recall_ge_80
        |FROM prep WHERE vec_id < 20""".stripMargin,
    "dedup_embedding" ->
      """WITH prep AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |    sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))) AS n
        |  FROM embeddings)
        |SELECT a.vec_id AS a, b.vec_id AS b,
        |  round(list_sum(list_transform(range(1, 65),
        |    i -> a.v[i] * b.v[i])) / (a.n * b.n), 4) AS cosine
        |FROM prep a JOIN prep b ON a.vec_id < b.vec_id
        |WHERE round(list_sum(list_transform(range(1, 65),
        |    i -> a.v[i] * b.v[i])) / (a.n * b.n), 4) >= 0.4""".stripMargin,
    "ann_brute" ->
      """WITH prep AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |    sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))) AS n
        |  FROM embeddings),
        |scored AS (
        |  SELECT q.vec_id AS qid, c.vec_id AS neighbor_id,
        |    round(list_sum(list_transform(range(1, 65),
        |      i -> q.v[i] * c.v[i])) / (q.n * c.n), 4) AS sim
        |  FROM prep q JOIN prep c ON q.vec_id < 20 AND q.vec_id <> c.vec_id)
        |SELECT qid, neighbor_id, rank FROM (
        |  SELECT qid, neighbor_id,
        |    row_number() OVER (PARTITION BY qid
        |      ORDER BY sim DESC, neighbor_id ASC) AS rank
        |  FROM scored)
        |WHERE rank <= 10""".stripMargin,
    "text_search" -> {
      val stop = TextSearch.stopwords.map(s => s"'$s'").mkString(", ")
      s"""WITH tok0 AS (
         |  SELECT doc_id,
         |    unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term
         |  FROM documents),
         |tf AS (
         |  SELECT term, doc_id, count(*) AS tf FROM tok0
         |  WHERE length(term) >= 2 AND term NOT IN ($stop)
         |  GROUP BY 1, 2),
         |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |n AS (SELECT count(*) AS n FROM documents)
         |SELECT doc_id,
         |  round(sum(tf.tf * ln(n.n::DOUBLE / df.df)), 4) AS score
         |FROM tf JOIN df USING (term) CROSS JOIN n
         |WHERE tf.term IN ('spark', 'join', 'vector')
         |GROUP BY doc_id
         |ORDER BY score DESC, doc_id ASC
         |LIMIT 10""".stripMargin
    },
    // phrase adjacency over RAW token positions: both engines split the text
    // the same way and compare consecutive subscripts — the same semantics as
    // the Spark side's positional posting lists
    "text_search_phrase" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    regexp_split_to_array(lower(text), '[^a-z0-9]+') AS l
        |  FROM documents),
        |toks AS (
        |  SELECT doc_id, unnest(l) AS tok,
        |    generate_subscripts(l, 1) AS pos FROM t)
        |SELECT a.doc_id, count(*) AS score
        |FROM toks a JOIN toks b
        |  ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |WHERE a.tok = 'hash' AND b.tok = 'join'
        |GROUP BY a.doc_id
        |ORDER BY score DESC, a.doc_id ASC
        |LIMIT 10""".stripMargin,
    // the literally identical RE2-subset regexes run on both engines, over
    // the same deterministic PII planting; counts are per-category on the
    // previous category's redacted text (same chaining as the Spark op)
    "text_redact" -> {
      val (u, e, i) =
        (TextAnalysis.urlRe, TextAnalysis.emailRe, TextAnalysis.ipv4Re)
      s"""WITH seeded AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 7 = 0 THEN text || ' see https://ex.org/d/'
         |      || doc_id || ' mail user' || doc_id || '@example.com ip 10.0.'
         |      || (doc_id % 256) || '.9 done'
         |    ELSE text END AS text
         |  FROM documents),
         |r AS (
         |  SELECT doc_id, text,
         |    regexp_replace(text, '$u', '<URL>', 'g') AS t1
         |  FROM seeded),
         |r2 AS (
         |  SELECT *, regexp_replace(t1, '$e', '<EMAIL>', 'g') AS t2 FROM r)
         |SELECT doc_id,
         |  len(regexp_extract_all(text, '$u')) AS n_urls,
         |  len(regexp_extract_all(t1, '$e')) AS n_emails,
         |  len(regexp_extract_all(t2, '$i')) AS n_ips,
         |  regexp_replace(t2, '$i', '<IP>', 'g') AS redacted
         |FROM r2""".stripMargin
    },
    "text_tokens" ->
      """SELECT doc_id,
        | len(regexp_split_to_array(trim(text), '\s+')) AS ws_tokens,
        | len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]')) AS subword_tokens,
        | length(text) AS chars
        |FROM documents""".stripMargin,
    "text_quality" ->
      """SELECT doc_id,
        | CAST(nt AS BIGINT) AS n_tokens,
        | round((nc - (nt - 1)) / nt, 4) AS mean_word_len,
        | round(al / nc, 4) AS alpha_ratio,
        | round(st / nt, 4) AS stopword_ratio,
        | round(dr, 4) AS distinct_ratio,
        | round(least(1.0, nt / 100.0) * 0.3 + least(1.0, dr * 2.0) * 0.3 +
        |       least(1.0, (al / nc) * 1.25) * 0.2 + least(1.0, st / nt * 5.0) * 0.1 +
        |       (1.0 - least(1.0, pu / nc * 10.0)) * 0.1, 4) AS quality_score
        |FROM (
        |  SELECT doc_id,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) AS nt,
        |    CAST(length(text) AS DOUBLE) AS nc,
        |    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS al,
        |    CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) AS pu,
        |    CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |      w -> lower(w) IN ('the','a','an','of','to','and','in','is','it','that','for','on','with','as'))) AS DOUBLE) AS st,
        |    len(list_distinct(regexp_split_to_array(trim(text), '\s+'))) /
        |      CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) AS dr
        |  FROM documents)""".stripMargin,
    "text_langid" -> {
      val scoreExprs = TextAnalysis.langMarkers.map { case (lang, markers) =>
        val list = markers.map(sqlQuote).mkString(", ")
        s"len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), w -> w IN ($list))) AS score_$lang"
      }.mkString(",\n ")
      val langs = TextAnalysis.langMarkers.map(_._1)
      val best = langs.map(l => s"score_$l").mkString("greatest(", ", ", ")")
      val pred = langs.reverse.foldLeft("'unknown'") { case (acc, l) =>
        s"CASE WHEN score_$l = $best AND $best > 0 THEN '$l' ELSE $acc END"
      }
      s"""SELECT doc_id, ${langs.map(l => s"score_$l").mkString(", ")},
         | $pred AS pred_lang
         |FROM (SELECT doc_id, $scoreExprs FROM documents)""".stripMargin
    },
    "text_tokens_bpe" ->
      // hand-traced: the=[the]; lower=[low,er]; band=[b,and]; in=[in];
      // end=[e,n,d]; thin=[th,in]; thread=[th,r,e,a,d]; doc 4's tab/newline
      // edges collapse to two "the" words under the pinned normalization
      """SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), CAST(3 AS BIGINT), CAST(5 AS BIGINT)),
        |  (CAST(2 AS BIGINT), CAST(3 AS BIGINT), CAST(5 AS BIGINT)),
        |  (CAST(3 AS BIGINT), CAST(2 AS BIGINT), CAST(7 AS BIGINT)),
        |  (CAST(4 AS BIGINT), CAST(2 AS BIGINT), CAST(2 AS BIGINT))
        |) AS t(doc_id, n_words, bpe_tokens)""".stripMargin,
    "text_quality_filter" ->
      // same accumulation order as qualityClassify's foldLeft over
      // qualityFeatures: bias + w·len_norm + w·mean_word_len + w·alpha +
      // w·stop + w·distinct (absent features carry weight 0.0)
      """SELECT doc_id,
        | round(-1.2 + 1.0 * len_norm + 0.0 * mean_word_len +
        |        0.8 * alpha_ratio + 0.6 * stopword_ratio +
        |        1.0 * distinct_ratio, 6) AS q_score,
        | CASE WHEN isnan(round(-1.2 + 1.0 * len_norm + 0.0 * mean_word_len +
        |        0.8 * alpha_ratio + 0.6 * stopword_ratio +
        |        1.0 * distinct_ratio, 6)) THEN FALSE
        |      ELSE round(-1.2 + 1.0 * len_norm + 0.0 * mean_word_len +
        |        0.8 * alpha_ratio + 0.6 * stopword_ratio +
        |        1.0 * distinct_ratio, 6) >= 0.5 END AS q_keep
        |FROM (
        |  SELECT doc_id,
        |    round(least(1.0, nt / 100.0), 4) AS len_norm,
        |    round((nc - (nt - 1)) / nt, 4) AS mean_word_len,
        |    round(al / nc, 4) AS alpha_ratio,
        |    round(st / nt, 4) AS stopword_ratio,
        |    round(dr, 4) AS distinct_ratio
        |  FROM (
        |    SELECT doc_id,
        |      CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) AS nt,
        |      CAST(length(text) AS DOUBLE) AS nc,
        |      CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS al,
        |      CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |        w -> lower(w) IN ('the','a','an','of','to','and','in','is','it','that','for','on','with','as'))) AS DOUBLE) AS st,
        |      len(list_distinct(regexp_split_to_array(trim(text), '\s+'))) /
        |        CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) AS dr
        |    FROM documents))""".stripMargin,
    "text_repetition" ->
      """WITH b AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS ts
        |  FROM documents),
        |d AS (
        |  SELECT doc_id, ts,
        |    CAST(length(array_to_string(ts, ' ')) AS BIGINT) AS norm_chars
        |  FROM b),
        |g AS (
        |  SELECT doc_id, norm_chars, n,
        |    unnest(list_transform(generate_series(1, greatest(len(ts)-n+1, 0)),
        |      i -> array_to_string(ts[i:i+n-1], ' '))) AS gram
        |  FROM d, (VALUES (2),(3),(4),(5),(10)) AS ns(n)),
        |c AS (
        |  SELECT doc_id, norm_chars, n, gram, count(*) AS cnt
        |  FROM g GROUP BY 1,2,3,4),
        |p AS (
        |  SELECT doc_id, norm_chars,
        |    CAST(coalesce(max(CASE WHEN n=2 THEN cnt*length(gram) END),0) AS BIGINT) AS top2_cov,
        |    CAST(coalesce(max(CASE WHEN n=3 THEN cnt*length(gram) END),0) AS BIGINT) AS top3_cov,
        |    CAST(coalesce(max(CASE WHEN n=4 THEN cnt*length(gram) END),0) AS BIGINT) AS top4_cov,
        |    CAST(coalesce(sum(CASE WHEN n=5 AND cnt>1 THEN cnt*length(gram) ELSE 0 END),0) AS BIGINT) AS dup5_cov,
        |    CAST(coalesce(sum(CASE WHEN n=10 AND cnt>1 THEN cnt*length(gram) ELSE 0 END),0) AS BIGINT) AS dup10_cov
        |  FROM c GROUP BY 1,2)
        |SELECT d.doc_id, d.norm_chars,
        |  coalesce(top2_cov, 0) AS top2_cov,
        |  coalesce(top3_cov, 0) AS top3_cov,
        |  coalesce(top4_cov, 0) AS top4_cov,
        |  coalesce(dup5_cov, 0) AS dup5_cov,
        |  coalesce(dup10_cov, 0) AS dup10_cov,
        |  (coalesce(top2_cov,0) * 5 <= d.norm_chars AND
        |   coalesce(top3_cov,0) * 50 <= d.norm_chars * 9 AND
        |   coalesce(top4_cov,0) * 25 <= d.norm_chars * 4 AND
        |   coalesce(dup5_cov,0) * 20 <= d.norm_chars * 3 AND
        |   coalesce(dup10_cov,0) * 10 <= d.norm_chars) AS gopher_pass
        |FROM d LEFT JOIN p USING (doc_id, norm_chars)""".stripMargin,
    "text_ngram_topk" ->
      """WITH b AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS ts
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    unnest(list_transform(generate_series(1, greatest(len(ts)-4, 0)),
        |      i -> array_to_string(ts[i:i+4], ' '))) AS gram
        |  FROM b WHERE len(ts) >= 5)
        |SELECT gram, CAST(count(*) AS BIGINT) AS occurrences,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        |FROM g GROUP BY 1
        |ORDER BY occurrences DESC, n_docs DESC, gram ASC
        |LIMIT 20""".stripMargin,
    "text_sample_stratified" ->
      """SELECT doc_id, lang FROM documents
        |WHERE doc_id % (CASE lang WHEN 'zh' THEN 3 WHEN 'en' THEN 10
        |                ELSE 5 END) = 0""".stripMargin,
    "mm_attach" ->
      """SELECT doc_id,
        | CAST((doc_id * 37 + length(text)) % 1280 + 32 AS INT) AS width,
        | CAST((doc_id * 53 + length(text)) % 720 + 32 AS INT) AS height,
        | (['jpeg','png','webp'])[(doc_id % 3) + 1] AS format,
        | CAST(length(text) AS BIGINT) AS n_bytes
        |FROM documents""".stripMargin,
    // independent recomputation of the stub decode: byte histogram mod 8
    // over the (all-ASCII) text payload, normalized — NOT a dump of the
    // engine's own output
    "mm_features" ->
      """SELECT doc_id, width, height,
        | round(CAST(c0/n AS REAL), 4) AS f0,
        | round(CAST(c7/n AS REAL), 4) AS f7
        |FROM (
        |  SELECT doc_id,
        |    CAST((doc_id * 37 + length(text)) % 1280 + 32 AS INT) AS width,
        |    CAST((doc_id * 53 + length(text)) % 720 + 32 AS INT) AS height,
        |    CAST(greatest(length(text), 1) AS DOUBLE) AS n,
        |    CAST(len(list_filter(range(1, length(text)+1),
        |      i -> ord(substr(text, i, 1)) % 8 = 0)) AS DOUBLE) AS c0,
        |    CAST(len(list_filter(range(1, length(text)+1),
        |      i -> ord(substr(text, i, 1)) % 8 = 7)) AS DOUBLE) AS c7
        |  FROM documents)""".stripMargin,
    "text_fingerprint" -> GeneratedOracles.textFingerprint,
    // hand-traced spot oracles, written independently of DumpOracles so a
    // bug frozen into the generated pins cannot survive here
    "kg_emit_arizona_sample" ->
      """SELECT * FROM (VALUES
        |  ('uniprot:P28482', 'uniprot:P28482.p', '', 'Phosphorylation', '',
        |   FALSE, FALSE, FALSE, '', '', '', '', '', 'phosphorylate', 1,
        |   'phosphorylate ERK2', 'g05'),
        |  ('Phosphorylation(uniprot:P28482)', 'Phosphorylation(uniprot:P28482)',
        |   'uniprot:Q02750', 'Positive_regulation', '',
        |   TRUE, FALSE, FALSE, '', '', '', '', '', 'phosphorylate', 1,
        |   'MEK does not phosphorylate ERK2', 'g05'),
        |  ('uniprot:P42345', 'uniprot:P42345', 'pubchem:CID5284616',
        |   'Negative_activation', '',
        |   FALSE, TRUE, FALSE, '', '', '', '', '', 'inhibits', 1,
        |   'Rapamycin inhibits mTOR', 'g12'),
        |  ('uniprot:P28482', 'uniprot:P28482.p@T669', '', 'Phosphorylation', 'T669',
        |   FALSE, FALSE, FALSE, '', '', '', '', '', 'phosphorylates', 1,
        |   'phosphorylates ERK2 at T669', 'g16'),
        |  ('Phosphorylation(uniprot:P28482@T669)', 'Phosphorylation(uniprot:P28482@T669)',
        |   'uniprot:Q02750', 'Positive_regulation', 'T669',
        |   FALSE, FALSE, FALSE, '', '', '', '', '', 'phosphorylates', 1,
        |   'MEK1 phosphorylates ERK2 at T669', 'g16'),
        |  ('uniprot:P40763', 'uniprot:P40763.a', 'uniprot:P23458',
        |   'Positive_activation', '',
        |   FALSE, TRUE, FALSE, '', '', '', '', '', 'activated', 1,
        |   'STAT3 is activated by JAK1', 'g18')
        |) AS t(INPUT, OUTPUT, CONTROLLER, EVENT_LABEL, SITE, NEGATED,
        |       INDIRECT, HYPOTHESIS, CONTEXT_SPECIES, CONTEXT_ORGAN,
        |       CONTEXT_CELL_LINE, CONTEXT_CELL_TYPE,
        |       TRANSLOCATION_DESTINATION, TRIGGERS, SEEN, EVIDENCE, SEEN_IN)""".stripMargin,
    "kg_fries_frames_sample" ->
      """SELECT * FROM (VALUES
        |  ('g05', 0, 0, 1, 'entity-mention', 'protein', 'MEK',
        |   'uniprot:Q02750', '', 0, FALSE, FALSE),
        |  ('g05', 0, 0, 5, 'event-mention', 'positive-regulation',
        |   'MEK does not phosphorylate ERK2', '', '', 2, TRUE, FALSE),
        |  ('g05', 0, 3, 5, 'event-mention', 'phosphorylation',
        |   'phosphorylate ERK2', '', 'phosphorylate', 1, FALSE, TRUE),
        |  ('g05', 0, 4, 5, 'entity-mention', 'protein', 'ERK2',
        |   'uniprot:P28482', '', 0, FALSE, FALSE),
        |  ('g12', 0, 0, 1, 'entity-mention', 'simple-chemical', 'Rapamycin',
        |   'pubchem:CID5284616', '', 0, FALSE, FALSE),
        |  ('g12', 0, 0, 3, 'event-mention', 'negative-activation',
        |   'Rapamycin inhibits mTOR', '', 'inhibits', 2, FALSE, FALSE),
        |  ('g12', 0, 2, 3, 'entity-mention', 'protein', 'mTOR',
        |   'uniprot:P42345', '', 0, FALSE, FALSE),
        |  ('g13', 0, 0, 1, 'entity-mention', 'protein', 'STAT3',
        |   'uniprot:P40763', '', 0, FALSE, FALSE),
        |  ('g13', 0, 0, 5, 'event-mention', 'translocation',
        |   'STAT3 translocates to the nucleus', '', 'translocates', 2,
        |   FALSE, FALSE),
        |  ('g13', 0, 4, 5, 'entity-mention', 'cellular-component', 'nucleus',
        |   'go:GO:0005634', '', 0, FALSE, FALSE)
        |) AS t(conv_id, turn_idx, start_tok, end_tok, frame_type, type,
        |       text, xref, trigger, n_args, is_negated, is_direct)""".stripMargin,
    "mm_frames" ->
      """WITH m AS (
        |  SELECT doc_id, CAST(length(text) AS BIGINT) AS n_bytes,
        |    CAST((doc_id * 17 + length(text)) % 240 + 8 AS BIGINT) AS n_frames
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, n_bytes, n_frames,
        |    unnest(list_distinct(list_transform(generate_series(0, 3),
        |      i -> (i * n_frames) // 4))) AS frame_idx
        |  FROM m)
        |SELECT doc_id, n_frames, frame_idx,
        |  CAST((frame_idx * 1000) // 24 AS BIGINT) AS frame_ts_ms,
        |  CAST((frame_idx * n_bytes) // n_frames AS BIGINT) AS byte_off,
        |  CAST(n_bytes // n_frames AS BIGINT) AS byte_len
        |FROM s""".stripMargin,
    "mm_resize" ->
      """SELECT doc_id, width, height,
        | CAST(floor(width * s) AS INT) AS out_width,
        | CAST(floor(height * s) AS INT) AS out_height,
        | round(s, 6) AS scale
        |FROM (
        |  SELECT doc_id, width, height,
        |    least(224.0 / width, 224.0 / height, 1.0) AS s
        |  FROM (
        |    SELECT doc_id,
        |      CAST((doc_id * 37 + length(text)) % 1280 + 32 AS INT) AS width,
        |      CAST((doc_id * 53 + length(text)) % 720 + 32 AS INT) AS height
        |    FROM documents))""".stripMargin
  )
}
