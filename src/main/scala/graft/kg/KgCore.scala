package graft.kg

import graft.model._

/** The Spark-free conversation core: the per-turn functions of the narrow
  * pass and the one conversation step of the fold. The Spark stages
  * ([[Pipeline.stageMentions]], [[Pipeline.stageB]]) and the streaming
  * query call them in their closures; [[stageB]] calls them in-process, for
  * a corpus small enough to answer one request (as the reference's ApiRuler
  * does, ApiRuler.scala:50-95).
  *
  *   narrow pass, per turn: role/text filter -> annotate -> alias pre-pass
  *     (cue-filtered turns only) -> rule match with the distinct, sorted
  *     surfaces of its alias scope ([[aliasKey]])
  *   fold, per (conv_id, turn_idx / chunkTurns) group: [[step]] over the
  *     group's mentions, with its halo, nearby context entities and the
  *     conversation's [[Scope]] as context; it emits what a whole-document
  *     fold (RuleBasedEngine.scala:26-37) emits for the group's turns
  */
object KgCore {

  /** Turns per fold group: a mega-conversation folds in chunkTurns-sized
    * spans, so its fold fans out across tasks (see [[Pipeline]]).
    */
  val chunkTurns = 1000

  /** Turns of halo a step reads before its first own turn: the longest
    * chain of backward coref windows, a generic-event anaphor one turn back
    * (simpleEventMatch) to an event whose generic argument reaches
    * [[ConvProcessor.npGap]] turns further (nounPhraseMatch). */
  val haloTurns: Int = 1 + ConvProcessor.npGap

  /** Turns either side of a group whose context entities its step reads: a
    * halo turn's species window reaches [[ConvProcessor.contextBound]] turns
    * past the halo; an own turn's window (either way under Policy4) reaches
    * a context entity whose species window reaches as far again. */
  val ctxReach: Int = haloTurns + ConvProcessor.contextBound

  /** What a [[KgConfig]] compiles to for extraction: the NER trie, the
    * grounding index and the matcher's effective grammar (which carries the
    * taxonomy). [[Broadcasts.all]] broadcasts each part once per session.
    */
  final case class Parts(trie: Annotate.Trie, kb: Link.KbIndex,
                         grammar: BioRules.Grammar)

  def compile(cfg: KgConfig): Parts =
    Parts(Annotate.buildTrie(cfg.kb.lexicon, cfg.kb.stopList),
      new Link.KbIndex(cfg.kb.kb), cfg.effectiveGrammar)

  /** The role/text filter: tool turns (reference `ignoreSections`,
    * application.conf:42) and empty turns are never annotated.
    */
  def keep(t: Turn): Boolean =
    t.role != "tool" && t.text != null && t.text.nonEmpty

  def annotate(trie: Annotate.Trie, t: Turn): AnnotatedTurn =
    AnnotatedTurn(t.conv_id, t.turn_idx, t.role,
      Annotate.annotateText(trie, t.text))

  /** The alias scope a turn of `convId` reads: its conversation, or with
    * `crossConvAliases` the one batch key `""` that every turn shares
    * (multi-document semantics, reference coref/Alias.scala:46-75). */
  def aliasKey(convId: String, crossConvAliases: Boolean): String =
    if (crossConvAliases) "" else convId

  /** The rescan surfaces of alias definitions `(conv_id, surface, label)`
    * per [[aliasKey]]: distinct and sorted, so the injection order (which
    * resolves overlapping-surface conflicts) never depends on the executor.
    */
  def aliasScopes(defs: Iterable[(String, String, String)],
                  crossConvAliases: Boolean): Map[String, Seq[(String, String)]] =
    defs.groupBy(d => aliasKey(d._1, crossConvAliases)).map { case (k, ds) =>
      k -> ds.map(d => (d._2, d._3)).toSeq.distinct.sorted }

  /** Only the head label crosses the fold's exchange: the closure is a pure
    * function of it ([[Lexicon.labelClosure]]) and [[step]] rebuilds it.
    */
  def compact(m: MentionRow): MentionRow =
    m.copy(labels = Array(m.labels.head))

  /** The fold groups that read `m` in a conversation whose last group is
    * `last`: its own first, then every later group starting within
    * [[haloTurns]] turns after it, or, for a context entity, every group
    * within [[ctxReach]] turns either side. */
  def groups(m: MentionRow, groupTurns: Int, last: Int): Iterator[Int] = {
    val own = m.turn_idx / groupTurns
    val (back, ahead) = if (isCtx(m)) (ctxReach, ctxReach) else (0, haloTurns)
    if (last == 0) Iterator(own)
    else Iterator(own) ++ (math.max(0, Math.floorDiv(m.turn_idx - back, groupTurns))
      to math.min(last.toLong, (m.turn_idx.toLong + ahead) / groupTurns).toInt)
      .iterator.filter(_ != own)
  }

  /** What each group of a conversation cut into several reads besides its
    * own turns' neighbours: the context-entity `counts` (the context
    * default's input), every alias with its arguments, and the context
    * entities within [[ConvProcessor.contextBound]] turns of a count's first
    * mention or an alias argument (the species windows their links read).
    * It grows with aliases and distinct context texts, not with turns. */
  final case class Scope(counts: Seq[ConvProcessor.CtxCount],
                         mentions: Seq[MentionRow])

  /** The [[Scope]] with `counts`, its mentions picked from whole turns'. */
  def scope(counts: Seq[ConvProcessor.CtxCount], ms: Seq[MentionRow]): Scope = {
    val args = ms.filter(isAlias).flatMap(_.args.map(_.mention_id)).toSet
    val anchors = scala.collection.immutable.TreeSet(
      (counts.map(_.first) ++ ms.filter(m => args(m.mention_id))).map(_.turn_idx): _*)
    def near(t: Int) = anchors.rangeFrom(t - ConvProcessor.contextBound)
      .headOption.exists(_ <= t + ConvProcessor.contextBound)
    Scope(counts, ms.filter(m => isAlias(m) || args(m.mention_id) ||
      (isCtx(m) && near(m.turn_idx))).distinctBy(_.mention_id))
  }

  private def isAlias(m: MentionRow) = m.is_event && m.labels.head == "Alias"

  /** A context entity: a species, cell line, cell type or organ. */
  def isCtx(m: MentionRow): Boolean =
    !m.is_event && ConvProcessor.isCtxLabel(m.labels.head)

  /** One conversation step: fold the [[compact]]ed `own` mentions with the
    * context-only `context` mentions (a halo, context entities) and, for a
    * conversation cut into several steps, its `scope`, after re-expanding
    * labels under `taxonomy`; return the rows of the own turns only:
    * linked, triple and alias rows alike. Without a scope the step's
    * mentions are the whole conversation's. */
  def step(convId: String, own: Seq[MentionRow], context: Seq[MentionRow],
           scope: Option[Scope], kb: Link.KbIndex, taxonomy: Taxonomy,
           contextPolicy: String, overrideSpecies: Boolean): Seq[StageBRow] =
    if (own.isEmpty) Nil
    else Lexicon.withTaxonomy(taxonomy) {
      def expand(ms: Seq[MentionRow]) =
        ms.map(m => m.copy(labels = Lexicon.labelClosure(m.labels.head)))
      ConvProcessor.process(convId, expand(own), kb, contextPolicy,
        overrideSpecies, expand(context ++ scope.toSeq.flatMap(_.mentions)),
        scope.map(_.counts))
    }

  /** Fold group `g`: of what [[groups]] routes to it, its own turns'
    * mentions are the step's own. */
  def foldGroup(convId: String, g: Int, groupTurns: Int,
                routed: Seq[MentionRow], scope: Option[Scope],
                kb: Link.KbIndex, taxonomy: Taxonomy, contextPolicy: String,
                overrideSpecies: Boolean): Seq[StageBRow] = {
    val (own, context) = routed.partition(_.turn_idx / groupTurns == g)
    step(convId, own, context, scope, kb, taxonomy, contextPolicy, overrideSpecies)
  }

  /** In-process `stageB(stageMentions(turns))`: the stage_b rows the Spark
    * stages give for the same turns and config, in fold-group order. Every
    * conversation uses the alias definitions of its [[aliasKey]].
    */
  def stageB(turns: Seq[Turn], parts: Parts, cfg: KgConfig): Seq[StageBRow] =
    fold(mentions(turns, parts, cfg), parts, cfg, chunkTurns)

  /** The narrow pass of [[stageB]]: every kept turn's mentions. */
  private[graft] def mentions(turns: Seq[Turn], parts: Parts,
                              cfg: KgConfig): Seq[MentionRow] = {
    val kept = turns.filter(keep)
    val annotated = kept.map(annotate(parts.trie, _))
    val defs = kept.zip(annotated).flatMap { case (t, at) =>
      if (BioRules.hasAliasCue(t.text))
        BioRules.aliasDefsTurn(at, parts.grammar)
      else Nil
    }
    val scopes = aliasScopes(defs, cfg.crossConvAliases)
    annotated.flatMap(at => BioRules.extractTurn(at, scopes.getOrElse(
      aliasKey(at.conv_id, cfg.crossConvAliases), Nil), parts.grammar))
  }

  /** The fold of [[stageB]], in fold groups of `groupTurns` turns. */
  private[graft] def fold(mentions: Seq[MentionRow], parts: Parts,
                          cfg: KgConfig, groupTurns: Int): Seq[StageBRow] =
    mentions.map(compact).groupBy(_.conv_id).toSeq.sortBy(_._1).flatMap {
      case (conv, ms) =>
        val last = ms.map(_.turn_idx).max / groupTurns
        val sc =
          if (last == 0) None else Some(scope(ConvProcessor.ctxCounts(ms), ms))
        ms.flatMap(m => groups(m, groupTurns, last).map(_ -> m))
          .groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (g, gms) =>
            foldGroup(conv, g, groupTurns, gms.map(_._2), sc, parts.kb,
              parts.grammar.taxonomy, cfg.contextPolicy, cfg.overrideSpecies)
          }
    }
}
