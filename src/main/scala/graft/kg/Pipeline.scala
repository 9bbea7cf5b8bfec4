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
  *   aliases --(one collect; driver union-find)--> canon_map
  *   stage_b + broadcast(canon_map) --(typed map; ONE exchange each: edge_id
  *                   dedup / per-canonical-id node fold)--> edges, nodes
  *
  * Checkpoint-resumable at every stage boundary via TableIO manifests
  * (mention -> link -> canonicalize -> materialize, per the north rule).
  * One private stage sequence serves [[run]] (writes and reads back every
  * table) and [[extract]] (holds mentions_raw and stage_b, the rest lazy).
  *
  * The per-turn and per-group work inside these stages is [[KgCore]]'s
  * (narrow pass, fold), [[Canon]]'s (the canon map) and [[KgExport]]'s
  * (edge, surface count, node); `KgCore.stageB` and `KgExport.materialize`
  * run the same functions in-process.
  *
  * Skew: the conv grouping key is salted with `turn_idx / chunkTurns`, so a
  * mega-conversation fans out across tasks in chunkTurns-sized spans. With
  * its halo, nearby context entities and its conversation's
  * [[KgCore.Scope]] (see [[stageB]]), each group gives the rows a
  * whole-conversation fold gives its turns. Small conversations get salt 0
  * and no scope.
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
    def inc(): Unit = add(1)
    def add(n: Long): Unit = tl.get()(0) += n
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
    * rescans every turn of the definition's alias scope for the surface — so
    * an alias used *before* its definition still yields mentions (reference:
    * coref/Alias.scala:46-75 + InstanceFinder.scala:9-34). The scope is a
    * key, [[KgCore.aliasKey]]: the conversation, or one for the whole batch.
    *
    * Scale: alias definitions are a rarity, so one job collects up to
    * threshold + 1 of them and, at or below [[AliasJoinThreshold]],
    * broadcasts their [[KgCore.aliasScopes]] (zero extra shuffle on the
    * turns table). Above it, per-conversation scopes come through a
    * conv_id-keyed left join of the defs onto the annotated turns (the
    * mega-conversation is one row on the defs side; AQE's skew-join handles
    * the turns side), and a batch-wide pool, a corpus-sized broadcast, is
    * refused: `stageMentions` throws, naming the count and the threshold.
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
    val cross = cfg.crossConvAliases
    // one job decides the path and, at or below the threshold, is the set
    val head = defs.limit(math.min(thr + 1, Int.MaxValue.toLong).toInt)
      .collect()
    val extracted =
      if (head.length <= thr) {
        val bScopes =
          spark.sparkContext.broadcast(KgCore.aliasScopes(head, cross))
        annotated.flatMap { at =>
          InCount.inc()
          BioRules.extractTurn(at, bScopes.value.getOrElse(
            KgCore.aliasKey(at.conv_id, cross), Nil), bG.value)
        }
      } else if (cross)
        throw new IllegalStateException(s"crossConvAliases: ${defs.count()} " +
          s"alias definitions are more than the alias threshold $thr; the " +
          "batch-wide pool is broadcast whole or not at all")
      else {
        val defsByConv = defs.groupByKey(_._1)
          .flatMapGroups((_, ds) =>
            KgCore.aliasScopes(ds.toSeq, crossConvAliases = false))
        annotated
          .joinWith(defsByConv, annotated("conv_id") === defsByConv("_1"),
            "left_outer")
          .flatMap { case (at, d) =>
            InCount.inc()
            BioRules.extractTurn(at, if (d == null) Nil else d._2, bG.value)
          }
      }
    instrument(extracted, "mentions", runId, acc)
  }

  /** The fold: [[KgCore.foldGroup]] per group over what [[KgCore.groups]]
    * routes to it, and, for a conversation past its first group (one small
    * job, [[lastGroups]], finds them), the [[KgCore.Scope]] joined in the
    * same exchange. It holds nothing and reads `mentions` twice, in that job
    * and in the exchange (a split conversation's [[scopes]] twice more): an
    * input that computes its rows, as [[stageMentions]]' does, computes them
    * each time unless the caller holds it, as [[run]] and [[extract]] do. */
  def stageB(spark: SparkSession, mentions: Dataset[MentionRow],
             runId: String, acc: CollectionAccumulator[Lineage],
             cfg: KgConfig = KgConfig.default): Dataset[StageBRow] = {
    import spark.implicits._
    val (_, bKb, bG) = Broadcasts.all(spark.sparkContext, cfg) // bG: taxonomy
    // plain values ship with the closure, never the config (it holds the KB)
    val policy = cfg.contextPolicy
    val overrideSpecies = cfg.overrideSpecies
    val last = lastGroups(spark, mentions)
    val fold = (key: (String, Int), it: Iterator[MentionRow],
                scope: Option[KgCore.Scope]) => {
      val (conv, g) = key
      val routed = it.toSeq
      InCount.add(routed.count(_.turn_idx / chunkTurns == g))
      KgCore.foldGroup(conv, g, chunkTurns, routed, scope, bKb.value,
        bG.value.taxonomy, policy, overrideSpecies).iterator
    }
    // only the head label crosses the exchange (KgCore.compact): the 5-7
    // closure strings made the fold shuffle-bandwidth bound (1.44x
    // per-task inflation 2->8 cores). With no conversation past its first
    // group every mention goes to its own group alone, untagged: tagging
    // each with its group cost batch_cold ~17 % more task CPU.
    val folded =
      if (last.isEmpty) mentions.map(KgCore.compact)
        .groupByKey(m => (m.conv_id, m.turn_idx / chunkTurns))
        .flatMapGroups((k, it) => fold(k, it, None))
      else mentions.flatMap { m =>
          val c = KgCore.compact(m)
          KgCore.groups(c, chunkTurns, last.getOrElse(c.conv_id, 0)).map(_ -> c)
        }.groupByKey { case (g, m) => (m.conv_id, g) }
        .cogroup(scopes(spark, mentions, last).groupByKey(_._1)) {
          (k, it, sc) => fold(k, it.map(_._2), sc.map(_._2).nextOption())
        }
    instrument(folded, "link_coref_emit", runId, acc)
  }

  /** The last group of each conversation with a turn past its first: one
    * job reading `conv_id` and `turn_idx`, one row per such conversation and
    * task back. */
  private def lastGroups(spark: SparkSession, ms: Dataset[MentionRow])
      : Map[String, Int] = {
    import spark.implicits._
    ms.select("conv_id", "turn_idx").where(col("turn_idx") >= chunkTurns)
      .as[(String, Int)].mapPartitions(_.foldLeft(Map.empty[String, Int]) {
        case (m, (c, t)) => m.updated(c, math.max(t, m.getOrElse(c, t))) }
        .iterator)
      .collect().groupMapReduce(_._1)(_._2 / chunkTurns)(math.max)
  }

  /** The [[KgCore.Scope]] of each conversation in `last`, once per group:
    * its context entities, aliases and alias arguments (found by id, which
    * one job over its aliases collects) through one exchange. */
  private def scopes(spark: SparkSession, ms: Dataset[MentionRow],
                     last: Map[String, Int])
      : Dataset[((String, Int), KgCore.Scope)] = {
    import spark.implicits._
    val split = col("conv_id").isin(last.keys.toSeq: _*)
    val head = col("labels")(0)
    val alias = col("is_event") && head === "Alias"
    val args = ms.where(split && alias)
      .select(explode(col("args.mention_id"))).as[Long].collect()
    ms.where(split && (alias || col("mention_id").isin(args: _*) ||
        (!col("is_event") && head.isin(ConvProcessor.ctxTypes: _*))))
      .map(KgCore.compact)
      .groupByKey(_.conv_id)
      .flatMapGroups { (conv, it) =>
        val scoped = it.toSeq
        val sc = KgCore.scope(ConvProcessor.ctxCounts(scoped), scoped)
        (0 to last(conv)).iterator.map(g => ((conv, g), sc))
      }
  }

  /** The canon map `(gid, canon_id)`: [[Canon.canonMap]] over the alias
    * pairs [[Canon.rewrites]] admits, which one job collects, as a local
    * table. */
  def stageCanon(spark: SparkSession, b: Dataset[StageBRow]): DataFrame = {
    import spark.implicits._
    val pairs = b.filter(col("kind") === "alias")
      .select(col("alias.a"), col("alias.b")).as[(String, String)]
      .filter(e => Canon.rewrites(e._1, e._2)).collect()
    Canon.canonMap(pairs.toSeq).toSeq.toDF("gid", "canon_id")
  }

  /** The canon map collected and broadcast: what [[stageMaterialize]] and
    * `Emit.assemblyTsv` rewrite groundings through. */
  private[kg] def canonBroadcast(canonMap: DataFrame)
      : Broadcast[Map[String, String]] = {
    val spark = canonMap.sparkSession
    import spark.implicits._
    spark.sparkContext.broadcast(canonMap
      .select("gid", "canon_id").as[(String, String)].collect().toMap)
  }

  /** Edges and nodes over the broadcast canon map: [[KgExport.edge]] per
    * triple, deduplicated on `edge_id` — content-level dedup (reference
    * corefDistinct A4): the same semantic edge can be derived via multiple
    * rule paths (entity-controller and flattened event-controller
    * regulations); [[KgExport.node]] per canonical id over the
    * [[KgExport.surfaceCounts]] of its surfaces, counted per partition
    * before the one exchange and again per group.
    */
  def stageMaterialize(spark: SparkSession, b: Dataset[StageBRow],
                       canonMap: DataFrame): (DataFrame, DataFrame) = {
    import spark.implicits._
    val canon = canonBroadcast(canonMap)
    val edges = b.filter(col("kind") === "triple").select("triple.*")
      .as[PreTriple].map(KgExport.edge(_, canon.value))
      .dropDuplicates("edge_id")
    val nodes = b.filter(col("kind") === "linked").select("linked.*")
      .as[LinkedMention].mapPartitions(ms => KgExport.surfaceCounts(
        ms.flatMap(KgExport.surface(_, canon.value))).iterator)
      .groupByKey(_.canon_id)
      .mapGroups((c, ss) => KgExport.node(c, KgExport.surfaceCounts(ss)))
    (edges.toDF(), nodes.toDF())
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
    // lazy: materialize collects the canon map, which a run resuming both
    // tables never needs
    lazy val materialized = stageMaterialize(spark, b, canonMap)
    Result(hold("edges", materialized._1), hold("nodes", materialized._2),
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
    * with no checkpoint I/O. mentions_raw (the fold's probe and exchange read
    * it) and stage_b (canon and materialize read it) are held, each as an
    * eager local checkpoint; the other tables stay lazy.
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
      (name, build) =>
        if (name == "mentions_raw" || name == "stage_b") build.localCheckpoint()
        else build,
      rows => spark.createDataset(rows).toDF())
  }
}
