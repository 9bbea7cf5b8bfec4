package graft.streaming

import graft.kg._
import graft.model._
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming mode of the KG pipeline (SURVEY.md §2.8): the batch
  * pipeline's per-conversation operators are all *backward-looking* (context
  * window <= 3 turns, coref <= 1 turn), so the streaming form keeps a bounded
  * per-conversation state — the mentions of the last [[lookback]] turns — and
  * re-runs the same partition-local fold over (state ++ new turns), emitting
  * only the new turns' triples. Semantics match the batch pipeline exactly
  * for in-order turn arrival (verified in StreamingSpec).
  *
  * The reference has no streaming; its analogue is whole-file reprocessing
  * via the restart log (ReachCLI.scala:47-66). Here a late conversation turn
  * (one older than turns already seen) folds with the retained window and
  * its own triples emit once, under either policy; triples already emitted
  * are never revised by it.
  *
  * Known deviation from batch: the BACKWARD alias rescan (J3 — an alias
  * surface used before its parenthetical definition) requires a second pass
  * over already-emitted turns, which append-mode streaming cannot replay;
  * batch mode covers it. Forward uses (definition in an earlier or the same
  * turn) resolve exactly as in batch: alias defs accumulate in the
  * per-conversation state and extraction runs inside the fold with them.
  *
  * Policy4 (the bidirectional context window,
  * [[graft.kg.ConvProcessor.PolicyBidirectional]]) is supported via
  * DELAYED EMISSION: a turn's triples are held back until `contextBound`
  * further turns of its conversation have arrived (so the forward window
  * is complete — the sealed turns emit with exactly the batch pipeline's
  * context), and the unsealed tail flushes on the idle timeout — at which
  * point no further turns exist, which is precisely the batch pipeline's
  * situation at conversation end, so the flush is batch-exact too. The
  * cost is latency (up to `contextBound` turns + the timeout), never
  * correctness — PROVIDED an `idleTimeout` is configured (without one the
  * unsealed tail of an idle conversation never flushes; a warning is
  * printed). Opt in with a [[graft.kg.KgConfig]] whose `contextPolicy` is
  * `PolicyBidirectional`; the default backward policy emits immediately.
  * The config's grammar, KB and `overrideSpecies` apply as in batch;
  * `crossConvAliases` does not (streaming has no batch to pool over).
  *
  * Scale: state is O(lookback x mentions-per-turn) per live conversation;
  * with watermarking on `ts` (caller adds `withWatermark` upstream) idle
  * conversations age out via the processing-time timeout.
  */
object StreamingPipeline {

  val lookback = 4 // turns kept in state: covers context bound 3 + coref 1

  /** `emittedThrough` matters only under Policy4 delayed emission: the
    * highest turn_idx whose triples have been emitted (sealed turns);
    * backward policy emits immediately and leaves it at Int.MaxValue.
    *
    * State-schema note: adding this field changed the
    * flatMapGroupsWithState state encoding (round 5) — a streaming query
    * CHECKPOINTED on an earlier build cannot restart on this one (Spark's
    * state-store schema check fails); restart such queries with a fresh
    * checkpoint location. In-flight processing is unaffected.
    */
  final case class ConvState(mentions: Seq[MentionRow],
                             aliasDefs: Seq[(String, String)], maxTurn: Int,
                             emittedThrough: Int = Int.MaxValue)

  /** The Policy4 idle-timeout flush body (factored out so the flush
    * semantics are unit-testable without a wall clock — processing-time
    * timeouts make `processAllAvailable` spin on continuous timeout-check
    * micro-batches, so a deterministic spec drives this function with the
    * state the handler would hold instead of sleeping): fold the retained
    * window and emit everything past the sealed frontier.
    */
  private[graft] def flushPending(convId: String, st: ConvState,
                                  kb: Link.KbIndex, contextPolicy: String,
                                  overrideSpecies: Boolean = false)
      : Iterator[PreTriple] =
    ConvProcessor.process(convId, st.mentions, kb, contextPolicy,
      overrideSpecies = overrideSpecies)
      .flatMap(_.triple)
      .filter(_.turn_idx > st.emittedThrough)
      .iterator

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
    // Policy4 retention: an unsealed turn (up to contextBound behind the
    // frontier) still needs ITS backward windows when it seals later, so
    // the state keeps contextBound extra turns beyond the backward policy's
    // lookback
    val keepTurns = if (bidi) ConvProcessor.contextBound + lookback
                    else lookback

    // stage 1 (stateless, streaming-safe): annotate per turn. Rule matching
    // moves into the stateful fold so FORWARD alias uses (definition in an
    // earlier — or the same — turn) inject rescan surfaces exactly as the
    // batch pre-pass does; only the BACKWARD rescan stays batch-only.
    val annotated: Dataset[AnnotatedTurn] = Annotate(spark, turns, bTrie)

    // stage 2 (stateful): bounded-lookback conversation fold; state carries
    // the last `lookback` turns' mentions plus ALL alias defs seen so far
    // (tiny — parenthetical definitions are rare)
    annotated
      .groupByKey(_.conv_id)
      .flatMapGroupsWithState(OutputMode.Append,
        if (idleTimeout.isDefined) GroupStateTimeout.ProcessingTimeTimeout
        else GroupStateTimeout.NoTimeout)(
        (convId: String, it: Iterator[AnnotatedTurn], state: GroupState[ConvState]) => {
          if (state.hasTimedOut) {
            // Policy4 flush: no further turns will arrive, which is the
            // batch pipeline's exact situation at conversation end — the
            // unsealed tail folds with whatever forward context exists
            val pending = state.getOption
            state.remove()
            if (!bidi) Iterator.empty
            else pending.map(flushPending(convId, _, bKb.value,
              contextPolicy, overrideSpecies)).getOrElse(Iterator.empty)
          } else {
            val incoming = it.toSeq.sortBy(_.turn_idx)
            val prior = state.getOption.map(_.mentions).getOrElse(Seq.empty)
            var defs = state.getOption.map(_.aliasDefs).getOrElse(Seq.empty)
            val newMentions = incoming.flatMap { at =>
              // the batch pre-pass's filter (Pipeline.aliasDefsDs)
              if (at.sents.exists(s => BioRules.hasAliasCue(s.text))) {
                val d = BioRules.aliasDefsTurn(at, bG.value)
                if (d.nonEmpty) defs = KgCore.surfaces(
                  d ++ defs.map { case (sf, label) => (convId, sf, label) })
              }
              BioRules.extractTurn(at, defs, bG.value)
            }
            val incomingTurns = incoming.map(_.turn_idx).toSet
            val all = prior ++ newMentions
            val maxTurn =
              if (all.isEmpty) state.getOption.map(_.maxTurn).getOrElse(0)
              else all.map(_.turn_idx).max
            val folded = ConvProcessor.process(convId, all, bKb.value,
              contextPolicy, overrideSpecies = overrideSpecies)
              .flatMap(_.triple)
            val (out, emittedThrough) =
              if (!bidi) (folded.filter(t => incomingTurns(t.turn_idx)),
                Int.MaxValue)
              else {
                // delayed emission: seal turns whose full forward window
                // (contextBound further turns) has arrived; a late turn
                // behind the sealed frontier emits now, as it will never
                // seal again
                val prevEmitted = state.getOption.map(_.emittedThrough)
                  .getOrElse(-1)
                val seal = maxTurn - ConvProcessor.contextBound
                (folded.filter(t =>
                  if (t.turn_idx <= prevEmitted) incomingTurns(t.turn_idx)
                  else t.turn_idx <= seal), math.max(prevEmitted, seal))
              }
            state.update(ConvState(
              all.filter(_.turn_idx > maxTurn - keepTurns), defs, maxTurn,
              emittedThrough))
            idleTimeout.foreach(state.setTimeoutDuration)
            out.iterator
          }
        })
  }
}
