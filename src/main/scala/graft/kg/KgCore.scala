package graft.kg

import graft.model._

/** The Spark-free conversation core: the per-turn and per-group functions of
  * the narrow pass and the fold, run by two executors. The Spark stages
  * ([[Pipeline.stageMentions]], [[Pipeline.stageB]]) call them inside their
  * `flatMap` / `flatMapGroups` closures; [[stageB]] calls them in-process
  * on the calling thread, for a corpus small enough to answer one request
  * (the reference's ApiRuler annotates each request in-process the same
  * way, ApiRuler.scala:50-95).
  *
  *   narrow pass, per turn: role/text filter -> annotate -> alias pre-pass
  *     (cue-filtered turns only) -> rule match with the conversation's
  *     distinct, sorted alias surfaces
  *   fold, per (conv_id, turn_idx / chunkTurns) group: head-label
  *     re-expansion under the taxonomy -> context + coref + link + emit
  *     ([[ConvProcessor.process]])
  */
object KgCore {

  /** Turns per fold group: a mega-conversation folds in chunkTurns-sized
    * spans, so its fold fans out across tasks (see [[Pipeline]]).
    */
  val chunkTurns = 1000

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

  /** The rescan surfaces of a set of alias definitions `(conv_id, surface,
    * label)`: distinct and sorted, so the injection order (which resolves
    * overlapping-surface conflicts) never depends on the executor.
    */
  def surfaces(defs: Iterable[(String, String, String)])
      : Seq[(String, String)] =
    defs.map(d => (d._2, d._3)).toSeq.distinct.sorted

  /** Only the head label crosses the fold's exchange: the closure is a pure
    * function of it ([[Lexicon.labelClosure]]) and [[fold]] rebuilds it.
    */
  def compact(m: MentionRow): MentionRow =
    m.copy(labels = Array(m.labels.head))

  def groupKey(m: MentionRow): (String, Int) =
    (m.conv_id, m.turn_idx / chunkTurns)

  /** One fold group: re-expand each [[compact]]ed mention's labels under
    * `taxonomy`, then run the conversation processor over the group.
    */
  def fold(convId: String, compacted: Iterator[MentionRow],
           kb: Link.KbIndex, taxonomy: Taxonomy, contextPolicy: String,
           overrideSpecies: Boolean): Seq[StageBRow] =
    Lexicon.withTaxonomy(taxonomy) {
      val ms = compacted
        .map(m => m.copy(labels = Lexicon.labelClosure(m.labels.head))).toSeq
      ConvProcessor.process(convId, ms, kb, contextPolicy,
        overrideSpecies = overrideSpecies)
    }

  /** In-process `stageB(stageMentions(turns))`: the stage_b rows the Spark
    * stages give for the same turns and config, in fold-group order. Every
    * conversation uses its own alias definitions, or with
    * `crossConvAliases` the pool of all of them (uncapped: the Spark
    * stages cap the pool at [[Pipeline.AliasJoinThreshold]] definitions).
    */
  def stageB(turns: Seq[Turn], parts: Parts, cfg: KgConfig): Seq[StageBRow] = {
    val kept = turns.filter(keep)
    val annotated = kept.map(annotate(parts.trie, _))
    val defs = kept.zip(annotated).flatMap { case (t, at) =>
      if (BioRules.hasAliasCue(t.text))
        BioRules.aliasDefsTurn(at, parts.grammar)
      else Nil
    }
    val pooled = surfaces(defs)
    val byConv = defs.groupBy(_._1).map { case (c, ds) => c -> surfaces(ds) }
    val mentions = annotated.flatMap { at =>
      BioRules.extractTurn(at,
        if (cfg.crossConvAliases) pooled else byConv.getOrElse(at.conv_id, Nil),
        parts.grammar)
    }
    mentions.map(compact).groupBy(groupKey).toSeq.sortBy(_._1).flatMap {
      case ((conv, _), ms) => fold(conv, ms.iterator, parts.kb,
        parts.grammar.taxonomy, cfg.contextPolicy, cfg.overrideSpecies)
    }
  }
}
