package graft.kg

import graft.io.TableIO
import graft.model._
import org.apache.spark.TaskContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.CollectionAccumulator

import scala.jdk.CollectionConverters._

/** The stage DAG (reference: ReachSystem.extractFrom, ReachSystem.scala:75-106,
  * re-planned for Spark's execution model — SURVEY.md §3.1):
  *
  *   turns --(narrow: filter+annotate+rule-match flatMap, NO shuffle)--> mentions_raw
  *   mentions_raw --(ONE exchange: salted conv grouping; context+coref+link+emit
  *                   in a single partition-local fold)--> stage_b (linked/triples/aliases)
  *   aliases --(tiny; CC)--> canon_map
  *   stage_b + broadcast(canon_map) --(broadcast join, narrow)--> edges, nodes
  *
  * Checkpoint-resumable at every stage boundary via TableIO manifests
  * (mention -> link -> canonicalize -> materialize, per the north rule).
  * One private stage sequence serves [[run]] (writes and reads back every
  * table) and [[extract]] (holds stage_b in memory, the rest lazy).
  *
  * The per-turn and per-group work inside these stages is [[KgCore]]'s;
  * `KgCore.stageB` runs the same functions in-process.
  *
  * Skew: the conv grouping key is salted with `turn_idx / chunkTurns`, so a
  * mega-conversation fans out across tasks in chunkTurns-sized spans; the
  * backward-looking context (3 turns) and coref (<=3 sentences) windows only
  * lose lookback at chunk edges. Small conversations get salt 0 — semantics
  * unchanged.
  */
object Pipeline {

  val chunkTurns: Int = KgCore.chunkTurns

  /** A run's tables: edges, nodes and lineage, plus the stage_b rows and
    * the canon map the exporters read.
    */
  final case class Result(edges: DataFrame, nodes: DataFrame,
                          lineage: DataFrame, stageB: Dataset[StageBRow],
                          canonMap: DataFrame)

  /** Thread-local rows_in counter. The stage transform (flatMap /
    * flatMapGroups) and the [[instrument]] wrapper are pipelined into the SAME
    * task (no exchange between them), so a counter bumped by the transform and
    * read at partition end observes exactly the task's input rows.
    */
  private[kg] object InCount {
    private val tl: ThreadLocal[Array[Long]] =
      ThreadLocal.withInitial(() => Array(0L))
    def reset(): Unit = tl.get()(0) = 0L
    def inc(): Unit = tl.get()(0) += 1
    def get: Long = tl.get()(0)
  }

  /** Wrap a dataset so each task appends one per-partition lineage row on
    * completion (rows_in from [[InCount]], bumped by the upstream transform).
    */
  private def instrument[T](ds: Dataset[T], stage: String, runId: String,
                            acc: CollectionAccumulator[Lineage])
                           (implicit enc: Encoder[T]): Dataset[T] =
    ds.mapPartitions { it =>
      val t0 = System.currentTimeMillis()
      InCount.reset()
      var n = 0L
      new Iterator[T] {
        private var reported = false
        override def hasNext: Boolean = {
          val h = it.hasNext
          if (!h && !reported) {
            reported = true
            acc.add(Lineage(stage, TaskContext.getPartitionId(), InCount.get,
              n, System.currentTimeMillis() - t0, runId))
          }
          h
        }
        override def next(): T = { n += 1; it.next() }
      }
    }

  // ---- stage functions (shared by checkpointed + in-memory paths) --------

  /** Phase-A alias-definition aggregation (J3): a narrow entity-rules-only
    * pre-pass finds unknown-surface alias definitions as a distributed
    * Dataset of (conv_id, surface, label); the full extraction pass then
    * rescans every turn of the defining conversation for the surface — so an
    * alias used *before* its definition still yields mentions (reference:
    * coref/Alias.scala:46-75 + InstanceFinder.scala:9-34).
    *
    * Scale: alias definitions are a rarity, so the common case collects +
    * broadcasts the tiny set (zero extra shuffle on the turns table). Above
    * [[AliasJoinThreshold]] definitions the pipeline auto-switches to a
    * conv_id-keyed left join of the aggregated defs onto the annotated
    * turns — no truncation; the skewed mega-conversation case is one row on
    * the defs side and AQE's skew-join handles the turns side. On both paths
    * the one job that picks the path collects up to threshold + 1 defs to
    * the driver; the join path then drops them.
    */
  val AliasJoinThreshold: Long = 100000L

  /** The pre-pass itself, on the caller's broadcasts so it and the main
    * pass always match with the same grammar and trie.
    */
  private[graft] def aliasDefsDs(spark: SparkSession, turns: Dataset[Turn],
                                 bTrie: Broadcast[Annotate.Trie],
                                 bG: Broadcast[BioRules.Grammar])
      : Dataset[(String, String, String)] = {
    import spark.implicits._
    // cheap candidate pre-filter: every alias pattern carries a parenthesis
    // or a cue word — the pre-pass annotates only those turns, so the extra
    // scan reads text once and tokenizes almost nothing
    val cands = turns.filter(t => BioRules.hasAliasCue(t.text))
    Annotate(spark, cands, bTrie)
      .flatMap(at => BioRules.aliasDefsTurn(at, bG.value)).distinct()
  }

  def stageMentions(spark: SparkSession, turns: Dataset[Turn],
                    runId: String, acc: CollectionAccumulator[Lineage],
                    cfg: KgConfig = KgConfig.default): Dataset[MentionRow] =
    stageMentions(spark, turns, runId, acc, cfg, AliasJoinThreshold)

  private[graft] def stageMentions(spark: SparkSession, turns: Dataset[Turn],
                                   runId: String,
                                   acc: CollectionAccumulator[Lineage],
                                   cfg: KgConfig,
                                   aliasJoinThreshold: Long): Dataset[MentionRow] = {
    import spark.implicits._
    val (bTrie, _, bG) = Broadcasts.all(spark.sparkContext, cfg)
    val annotated = Annotate(spark, turns, bTrie)
    val defs = aliasDefsDs(spark, turns, bTrie, bG)
    val thr = aliasJoinThreshold
    // one job decides the path and, below the threshold, is the whole set
    val head = defs.limit(math.min(thr + 1, Int.MaxValue.toLong).toInt)
      .collect()
    val useJoin = head.length > thr
    val extracted =
      if (useJoin && !cfg.crossConvAliases) {
        val defsByConv = defs.groupByKey(_._1).mapGroups { (conv, it) =>
          (conv, KgCore.surfaces(it.toSeq))
        }
        annotated
          .joinWith(defsByConv, annotated("conv_id") === defsByConv("_1"),
            "left_outer")
          .flatMap { case (at, d) =>
            InCount.inc()
            BioRules.extractTurn(at, if (d == null) Nil else d._2, bG.value)
          }
      } else {
        // broadcast path: conv_id -> the conversation's own surfaces (the
        // join path's), else the pool. With crossConvAliases (multi-document
        // batch semantics, sent61) the map is empty and the pool holds every
        // conversation's surfaces, so ALL conversations are rescanned with
        // them. Capped — an unbounded pool is a corpus-sized broadcast.
        val aliases: (Map[String, Seq[(String, String)]], Seq[(String, String)]) =
          if (!cfg.crossConvAliases)
            (head.groupBy(_._1).map { case (c, xs) => c -> KgCore.surfaces(xs) },
              Nil)
          else if (!useJoin) (Map.empty, KgCore.surfaces(head))
          else {
            val capped = defs.sort("_2", "_3")
              .limit(math.min(thr, Int.MaxValue.toLong).toInt).collect()
            System.err.println(s"[graft] WARNING: crossConvAliases pool " +
              s"truncated to $thr definitions (deterministic sort order)")
            (Map.empty, KgCore.surfaces(capped))
          }
        val bAliases = spark.sparkContext.broadcast(aliases)
        annotated.flatMap { at =>
          InCount.inc()
          val (byConv, pool) = bAliases.value
          BioRules.extractTurn(at, byConv.getOrElse(at.conv_id, pool), bG.value)
        }
      }
    instrument(extracted, "mentions", runId, acc)
  }

  def stageB(spark: SparkSession, mentions: Dataset[MentionRow],
             runId: String, acc: CollectionAccumulator[Lineage],
             cfg: KgConfig = KgConfig.default): Dataset[StageBRow] = {
    import spark.implicits._
    val (_, bKb, bG) = Broadcasts.all(spark.sparkContext, cfg) // bG: taxonomy
    // plain values ship with the closure, never the config (it holds the KB)
    val policy = cfg.contextPolicy
    val overrideSpecies = cfg.overrideSpecies
    // the label closure is a pure function of the head label
    // (Lexicon.labelClosure) — shipping 5-7 closure strings per mention
    // through the conv_id exchange made the fold stage shuffle-bandwidth
    // bound (measured 1.44x per-task inflation 2->8 cores); send only the
    // head and rebuild on the reduce side
    val grouped = mentions.map(KgCore.compact)
      .groupByKey(KgCore.groupKey)
      .flatMapGroups { (key, it) =>
        KgCore.fold(key._1, it.map { m => InCount.inc(); m }, bKb.value,
          bG.value.taxonomy, policy, overrideSpecies).iterator
      }
    instrument(grouped, "link_coref_emit", runId, acc)
  }

  def stageCanon(spark: SparkSession, b: Dataset[StageBRow]): DataFrame = {
    val aliases = b.filter(col("kind") === "alias")
      .select(col("alias.a").as("a"), col("alias.b").as("b"))
      // identity (winner) rewrite only when one side is effectively
      // ungrounded — the uaz failsafe namespace (reference Coref.scala:
      // 396-401: an ungrounded alias side ADOPTS the grounded side's
      // candidates; a both-grounded pair keeps each side's own winner and
      // only unions candidate lists, which the fold handles per
      // conversation). Without this guard a known<->known alias in one
      // conversation would rewrite the shared KB id corpus-wide.
      .where(col("a").startsWith("uaz:") || col("b").startsWith("uaz:"))
    Canon.connectedComponents(spark, aliases)
  }

  def stageMaterialize(spark: SparkSession, b: Dataset[StageBRow],
                       canonMap: DataFrame): (DataFrame, DataFrame) = {
    val canon = broadcast(canonMap)
    def canonized(df: DataFrame, c: String): DataFrame =
      df.join(canon.withColumnRenamed("gid", c)
          .withColumnRenamed("canon_id", c + "_canon"), Seq(c), "left")
        .withColumn(c, coalesce(col(c + "_canon"), col(c)))
        .drop(c + "_canon")

    val pre = b.filter(col("kind") === "triple").select("triple.*")
    val canonized2 = canonized(canonized(canonized(pre, "subj_gid"), "obj_gid"), "obj_gid2")
    val edges = canonized2
      .withColumn("obj",
        when(col("obj_pred") =!= "",
          concat(col("obj_pred"), lit("("), col("obj_gid"),
            when(col("site") =!= "", concat(lit("@"), col("site"))).otherwise(lit("")),
            lit(")")))
        .when(col("obj_gid2") =!= "",
          concat_ws("&", array_sort(concat(
            array(col("obj_gid"), col("obj_gid2")),
            when(col("obj_rest") =!= "", split(col("obj_rest"), "&"))
              .otherwise(array().cast("array<string>"))))))
        .otherwise(col("obj_gid")))
      .select(
        col("subj_gid").as("subj"), col("pred"), col("obj"), col("site"),
        col("negated"), col("hypothesis"), col("conv_id"), col("turn_idx"),
        col("evidence_text"), col("found_by"), col("trigger_text"),
        col("ctx_species"), col("ctx_organ"), col("ctx_cell_line"),
        col("ctx_cell_type"), col("cue"), col("sent_idx"), col("trig_start"),
        col("intra_cue"), col("tense"))
      .withColumn("edge_id", xxhash64(col("subj"), col("pred"), col("obj"),
        col("site"), col("negated"), col("hypothesis"), col("conv_id"),
        col("turn_idx")))
      // content-level dedup (reference corefDistinct A4): the same semantic
      // edge can be derived via multiple rule paths (entity-controller and
      // flattened event-controller regulations)
      .dropDuplicates("edge_id")

    val linked = b.filter(col("kind") === "linked").select("linked.*")
    val ents = linked.filter(col("is_event") === false && col("ns") =!= "")
      .withColumn("gid", concat(col("ns"), lit(":"), col("ns_id")))
    val entsCanon = canonized(ents.withColumnRenamed("gid", "canon_gid")
      .withColumnRenamed("canon_gid", "gid"), "gid")
      .withColumnRenamed("gid", "canon_id")
    import org.apache.spark.sql.expressions.Window
    val surfaceCounts = entsCanon.groupBy(col("canon_id"), col("text"),
        col("ns"), col("ns_id"), col("species"), col("labels"),
        col("display_label"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("canon_id"))
      .orderBy(col("n").desc, col("text").asc, col("display_label").asc)
    val nodes = surfaceCounts
      .withColumn("rn", row_number().over(w))
      .groupBy(col("canon_id"))
      .agg(
        max(when(col("rn") === 1, col("text"))).as("display"),
        max(when(col("rn") === 1, col("labels")(0))).as("label"),
        // resolveDisplay disambiguation (ReachSystem.scala:249-293) carried
        // from the per-mention resolution: Family / Gene / Protein for GGPs
        max(when(col("rn") === 1, col("display_label"))).as("display_label"),
        max(when(col("rn") === 1, col("ns"))).as("ns"),
        max(when(col("rn") === 1, col("ns_id"))).as("ns_id"),
        max(when(col("rn") === 1, col("species"))).as("species"),
        // fan-in bound (same class as Emit.MaxListPerKey): keep the 1000
        // most-frequent surface forms — input is already distinct-per-form,
        // but an alias-heavy corpus could still grow one node's form set
        // without bound
        collect_set(when(col("rn") <= 1000, col("text")))
          .as("alias_surface_forms"))
    (edges, nodes)
  }

  // ---- the one stage sequence ---------------------------------------------

  /** The only code that orders the stages (mentions_raw -> stage_b ->
    * canon_map -> edges, nodes) and creates a run's lineage accumulator.
    * `hold(table, build)` is what the next stage reads in place of the
    * built table; `lineage` turns the accumulated rows into the lineage
    * table once every stage is held.
    */
  private def stages(spark: SparkSession, turns: Dataset[Turn], cfg: KgConfig,
                     aliasJoinThreshold: Long, runId: String,
                     hold: (String, => DataFrame) => DataFrame,
                     lineage: Seq[Lineage] => DataFrame): Result = {
    import spark.implicits._
    val acc = new CollectionAccumulator[Lineage]
    spark.sparkContext.register(acc, "lineage")
    val mentions = hold("mentions_raw", stageMentions(spark, turns, runId,
      acc, cfg, aliasJoinThreshold).toDF()).as[MentionRow]
    val b = hold("stage_b", stageB(spark, mentions, runId, acc, cfg).toDF())
      .as[StageBRow]
    val canonMap = hold("canon_map", stageCanon(spark, b))
    val (edges, nodes) = stageMaterialize(spark, b, canonMap)
    Result(hold("edges", edges), hold("nodes", nodes),
      lineage(acc.value.asScala.toSeq), b, canonMap)
  }

  // ---- checkpointed run (spark-submit path, resumable) -------------------

  /** Each table is written to `workDir` unless `resume` finds it complete,
    * then read back for the next stage.
    */
  def run(spark: SparkSession, turns: Dataset[Turn], workDir: String,
          resume: Boolean = true, cfg: KgConfig = KgConfig.default): Result = {
    import spark.implicits._
    val io = TableIO(workDir)
    def checkpoint(name: String, build: => DataFrame): DataFrame = {
      if (!(resume && io.isComplete(name))) io.write(build, name)
      io.read(spark, name)
    }
    // merge lineage across resumes: a fully-resumed run must not destroy the
    // prior run's per-partition metrics (ADVICE r1); rows are keyed by run_id
    def lineage(newRows: Seq[Lineage]): DataFrame = {
      if (newRows.nonEmpty) {
        val fresh = spark.createDataset(newRows).toDF()
        val merged =
          if (io.isComplete("lineage"))
            io.read(spark, "lineage").unionByName(fresh)
          else fresh
        // lineage is tiny (one row per task); localCheckpoint breaks the
        // self-referential read-then-overwrite plan
        io.write(merged.localCheckpoint(true), "lineage")
      } else if (!io.isComplete("lineage")) {
        io.write(spark.createDataset(Seq.empty[Lineage]).toDF(), "lineage")
      }
      io.read(spark, "lineage")
    }
    stages(spark, turns, cfg, AliasJoinThreshold,
      java.util.UUID.randomUUID().toString.take(8), checkpoint, lineage)
  }

  /** In-memory path for tests and small corpora: the same stage sequence
    * with no checkpoint I/O. Only stage_b, which canon and materialize both
    * read, is held, as an eager local checkpoint; the other tables stay lazy.
    * A local checkpoint is no session cache entry: the ContextCleaner frees
    * its blocks once the [[Result]] is unreachable.
    */
  def extract(spark: SparkSession, turns: Dataset[Turn],
              cfg: KgConfig = KgConfig.default): Result =
    extract(spark, turns, cfg, AliasJoinThreshold)

  private[graft] def extract(spark: SparkSession, turns: Dataset[Turn],
                             cfg: KgConfig, aliasJoinThreshold: Long): Result = {
    import spark.implicits._
    stages(spark, turns, cfg, aliasJoinThreshold, "mem",
      (name, build) => if (name == "stage_b") build.localCheckpoint() else build,
      rows => spark.createDataset(rows).toDF())
  }
}
