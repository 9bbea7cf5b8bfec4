package graft.streaming

import graft.kg._
import graft.model._
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming mode of the KG pipeline (SURVEY.md §2.8): each
  * micro-batch's turns of a conversation go through [[KgCore.step]], the
  * fold that batch groups and `Serve` run, with the conversation's state as
  * its context: the [[KgCore.haloTurns]] turns before the first turn still
  * to emit, the context entities of the [[KgCore.ctxReach]] turns before
  * it, and the [[KgCore.Scope]] so far (running context-entity counts,
  * aliases with their arguments, the context entities their links read).
  * Only the new turns' triples emit. The reference has no streaming (its
  * analogue is the restart log, ReachCLI.scala:47-66). A late turn (older
  * than turns already seen) folds with the retained state and emits once;
  * emitted triples never change.
  *
  * Two known deviations from batch:
  *  - The BACKWARD alias rescan (J3 — an alias surface used before its
  *    parenthetical definition) needs a second pass over emitted turns,
  *    which append-mode streaming cannot replay. Forward uses resolve as in
  *    batch: alias defs accumulate in the state and extraction runs inside
  *    the fold with them.
  *  - The context default is a running default: a turn with no context
  *    mention within `contextBound` turns gets the default of the context
  *    mentions seen up to its micro-batch, where batch counts the whole
  *    conversation's. One from the past is never lost; one from the future
  *    is not yet known.
  *
  * Policy4 ([[graft.kg.ConvProcessor.PolicyBidirectional]]) runs by
  * DELAYED EMISSION, as filters on the step's rows: a turn's triples emit
  * once `contextBound` further turns have arrived, and the unsealed tail
  * flushes on the idle timeout (no further turns: batch's situation at
  * conversation end). The cost is latency, never correctness, PROVIDED an
  * `idleTimeout` is configured (without one the tail of an idle
  * conversation never flushes; a warning is printed). The config's grammar,
  * KB and `overrideSpecies` apply as in batch; `crossConvAliases` does not.
  *
  * Scale: a live conversation's state is its halo, recent context entities
  * and scope, which grows with its aliases and distinct context texts, not
  * its turns; idle conversations age out via the processing-time timeout.
  */
object StreamingPipeline {

  /** One conversation's state. `recent` holds the mentions of the turns
    * after `emittedThrough - haloTurns`, and the context entities after
    * `emittedThrough - ctxReach`: the next step's halo and, under Policy4,
    * the turns not yet emitted. `scope` is the [[KgCore.Scope]] of the
    * turns seen so far, `emittedThrough` the highest turn whose triples
    * have emitted and `maxTurn` the highest turn seen.
    *
    * State-schema note: this encoding (halo plus scope) replaced the
    * earlier last-turns window, so a query CHECKPOINTED on an earlier build
    * fails Spark's state-store schema check on restart; restart it with a
    * fresh checkpoint location.
    */
  final case class ConvState(recent: Seq[MentionRow], scope: KgCore.Scope,
                             aliasDefs: Seq[(String, String)], maxTurn: Int,
                             emittedThrough: Int)

  def triples(spark: SparkSession, turns: Dataset[Turn],
              idleTimeout: Option[String] = None,
              cfg: KgConfig = KgConfig.default): Dataset[PreTriple] = {
    import spark.implicits._
    val (bTrie, bKb, bG) = Broadcasts.all(spark.sparkContext, cfg)
    // plain values ship with the closures, never the config (it holds the KB)
    val contextPolicy = cfg.contextPolicy
    val overrideSpecies = cfg.overrideSpecies
    val bidi = contextPolicy == ConvProcessor.PolicyBidirectional
    if (bidi && idleTimeout.isEmpty)
      System.err.println("[graft] WARNING: Policy4 streaming without an " +
        "idleTimeout never flushes the final contextBound turns of an " +
        "idle conversation — supply idleTimeout in production (the " +
        "batch-exactness claim is conditional on the flush running)")

    // stage 1 (stateless, streaming-safe): annotate per turn. Rule matching
    // moves into the stateful step so FORWARD alias uses (definition in an
    // earlier — or the same — turn) inject rescan surfaces exactly as the
    // batch pre-pass does; only the BACKWARD rescan stays batch-only.
    val annotated: Dataset[AnnotatedTurn] = Annotate(spark, turns, bTrie)

    annotated
      .groupByKey(_.conv_id)
      .flatMapGroupsWithState(OutputMode.Append,
        if (idleTimeout.isDefined) GroupStateTimeout.ProcessingTimeTimeout
        else GroupStateTimeout.NoTimeout)(
        (convId: String, it: Iterator[AnnotatedTurn], state: GroupState[ConvState]) => {
          val st = state.getOption.getOrElse(
            ConvState(Nil, KgCore.Scope(Nil, Nil), Nil, -1, -1))
          val incoming = it.toSeq.sortBy(_.turn_idx)
          var defs = st.aliasDefs
          val fresh = incoming.flatMap { at =>
            // the batch pre-pass's filter (Pipeline.aliasDefsDs)
            if (at.sents.exists(s => BioRules.hasAliasCue(s.text))) {
              val d = BioRules.aliasDefsTurn(at, bG.value)
              if (d.nonEmpty) defs = KgCore.aliasScopes(d ++ defs.map {
                case (sf, l) => (convId, sf, l) }, crossConvAliases = false)(convId)
            }
            BioRules.extractTurn(at, defs, bG.value)
          }.map(KgCore.compact)
          val maxTurn = (st.maxTurn +: incoming.map(_.turn_idx)).max
          // the frontier of emitted turns: under Policy4 a turn seals once
          // contextBound further turns have arrived, and the idle-timeout
          // flush (no further turns exist: the batch pipeline's situation
          // at conversation end) emits the rest
          val through =
            if (!bidi || state.hasTimedOut) maxTurn
            else math.max(st.emittedThrough,
              maxTurn - ConvProcessor.contextBound)
          // a late turn behind the frontier is own too: it emits now, as
          // it will never seal again
          val own = st.recent.filter(_.turn_idx > st.emittedThrough) ++ fresh
          val scope = KgCore.scope(ConvProcessor.mergeCounts(st.scope.counts,
            ConvProcessor.ctxCounts(fresh)), st.scope.mentions ++ st.recent ++ fresh)
          val out = KgCore.step(convId, own, st.recent, Some(scope),
              bKb.value, bG.value.taxonomy, contextPolicy, overrideSpecies)
            .flatMap(_.triple).filter(_.turn_idx <= through)
          if (state.hasTimedOut) state.remove()
          else {
            state.update(ConvState((st.recent ++ fresh).filter(m =>
              m.turn_idx > through -
                (if (KgCore.isCtx(m)) KgCore.ctxReach else KgCore.haloTurns)),
              scope, defs, maxTurn, through))
            idleTimeout.foreach(state.setTimeoutDuration)
          }
          out.iterator
        })
  }
}
