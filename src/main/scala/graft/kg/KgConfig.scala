package graft.kg

/** Everything a KG-pipeline run can be configured with, as one immutable
  * value: the rule grammar, the entity-knowledge bundle, and the fold's
  * three settings. The reference treats a grammar and a KB as values too
  * (export ApiRuler recompiles the user's rules per request,
  * RuleReader.scala:43-51). A different config is a different argument to
  * `Pipeline.run`/`extract`, `StreamingPipeline.triples` or `Serve.start`,
  * so two configs can run side by side on one session.
  *
  * Only the driver holds a config. Stage closures capture the broadcasts
  * [[Broadcasts.all]] makes from it and plain flag values, never the config
  * itself: it carries the whole KB.
  *
  * @param grammar          the rule grammar ([[BioRules.default]]; extend or
  *                         replace it with [[withRules]])
  * @param kb               NER lexicon, grounding KB, stop list and taxonomy
  *                         ([[KbData.builtin]]; extend or replace it from a
  *                         [[KbLoader]] bundle with [[withKb]])
  * @param contextPolicy    the fold's context window:
  *                         [[ConvProcessor.PolicyBackward]] (Policy2/3) or
  *                         [[ConvProcessor.PolicyBidirectional]] (Policy4)
  * @param crossConvAliases apply every conversation's alias definitions to
  *                         all conversations of the batch (reference:
  *                         `Alias.canonizeAliases(mentions, docs)`, sent61).
  *                         A pool of more than
  *                         [[Pipeline.AliasJoinThreshold]] definitions is
  *                         refused: [[Pipeline.stageMentions]] throws
  * @param overrideSpecies  grounding.overrideSpecies
  *                         (ReachGrounder.scala:22,38): true ignores the
  *                         species context and ranks candidates human-first
  *                         (the reference's shipped default); false lets
  *                         the context species re-rank them
  */
final case class KgConfig(
    grammar: BioRules.Grammar = BioRules.default,
    kb: KbData = KbData.builtin,
    contextPolicy: String = ConvProcessor.PolicyBackward,
    crossConvAliases: Boolean = false,
    overrideSpecies: Boolean = false) {
  require(contextPolicy == ConvProcessor.PolicyBackward ||
    contextPolicy == ConvProcessor.PolicyBidirectional,
    s"unknown context policy '$contextPolicy' (" +
      s"${ConvProcessor.PolicyBackward}|${ConvProcessor.PolicyBidirectional})")

  /** The grammar the matcher runs: [[grammar]] with the KB's taxonomy and
    * the strict-head alternation derived from the KB's lexicon. With the
    * built-in KB it equals [[grammar]] in value.
    */
  lazy val effectiveGrammar: BioRules.Grammar =
    grammar.copy(taxonomy = Taxonomy(kb.taxonomyParents))
      .withLexiconHeads(Lexicon.multiwordHeadsOf(kb.lexicon))

  /** Add a parsed [[RuleDsl]] grammar's rules to this config's grammar, or
    * with `replace = true` use it instead.
    */
  def withRules(rules: BioRules.Grammar, replace: Boolean = false): KgConfig =
    copy(grammar =
      if (replace) rules else grammar.withRules(rules.rules, rules.depRules))

  /** Layer a [[KbLoader]] bundle directory on this config's KB, or with
    * `replace = true` swap each component present in the directory.
    */
  def withKb(dir: String, replace: Boolean = false): KgConfig =
    copy(kb = KbLoader.merge(kb, KbLoader.load(dir), replace))
}

object KgConfig {
  /** Built-in grammar and KB, backward context, per-conversation aliases,
    * context-sensitive grounding.
    */
  val default: KgConfig = KgConfig()
}
