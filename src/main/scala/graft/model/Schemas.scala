package graft.model

import java.sql.Timestamp

/** Core row types of the KG-construction pipeline.
  *
  * Input shape mandated by BASELINE.json `input_hint`:
  * `(conv_id:string, turn_idx:int, role:string, text:string, tool:string, ts:timestamp)`.
  * Mirrors the reference's `FriesEntry`
  * (reference: main/src/main/scala/org/clulab/reach/FriesEntry.scala:6-13) where
  * `name -> conv_id`, `chunkId -> turn_idx`, `sectionName -> role`, `text -> text`.
  */
final case class Turn(
    conv_id: String,
    turn_idx: Int,
    role: String,
    text: String,
    tool: String,
    ts: Timestamp
)

/** One tokenized sentence of one turn. Stand-in for the reference's
  * `Document` sentences (reference: ReachSystem.scala:54-59); all arrays are
  * index-aligned per token. Stays nested inside an [[AnnotatedTurn]] row —
  * no explode until mentions are produced.
  */
final case class Sent(
    sent_idx: Int,
    words: Array[String],
    lemmas: Array[String],
    // IOB entity tags from the dictionary/trie NER, e.g. "B-Gene_or_gene_product"
    ner: Array[String],
    // character start offset of each token within the sentence text
    starts: Array[Int],
    text: String
)

final case class AnnotatedTurn(
    conv_id: String,
    turn_idx: Int,
    role: String,
    sents: Array[Sent]
)

/** Argument of an event mention: role name + deterministic content id of the
  * argument mention. The reference's recursive `arguments: Map[String, Seq[Mention]]`
  * (reference: main/.../mentions/BioMention.scala:26-49) becomes id references
  * resolved by self-joins.
  */
final case class Arg(role: String, mention_id: Long)

object Arg {
  /** Shared empty-args instance — `Array.empty` as a default/argument
    * allocates per call, and mention construction is the hot path. */
  val none: Array[Arg] = Array.empty
}

/** Attached modification (reference: mentions/Modifications.scala:23-57 —
  * PTM / Mutant / EventSite variants; Negation/Hypothesis are modeled as the
  * `negated`/`hypothesis` flags instead). The reference mutates a per-mention
  * `Set[Modification]` in place (DarpaActions.storePTM/storeEventSite/
  * storeMutants:59-121); here every attachment is a column rewrite producing a
  * new deterministic mention id.
  *
  * `site_id` is the mention id of an associated Site mention (EventSite and
  * sited PTMs), 0 when none — ids, not object pointers, per the flattened
  * mention model (SURVEY.md §1.1).
  */
final case class Mod(
    kind: String, // "PTM" | "Mutant" | "EventSite"
    label: String, // PTM event label ("Phosphorylation"); "" otherwise
    site_text: String, // mutation code ("T669A") or site text ("Ser473")
    site_id: Long
)

object Mod {
  val none: Array[Mod] = Array.empty
}

/** Flattened mention row — text-bound entities AND events share this shape.
  * `mention_id` is a deterministic content hash (reference uses object identity +
  * custom hashCodes, BioMention.scala:18-21; content hashes are the Spark-correct
  * equivalent: reproducible under retries/repartition, required for resume).
  */
final case class MentionRow(
    mention_id: Long,
    conv_id: String,
    turn_idx: Int,
    sent_idx: Int,
    start_tok: Int,
    end_tok: Int, // exclusive
    // full label hypernym closure, head label first (reference taxonomy semantics:
    // main/src/main/scala/org/clulab/reach/package.scala:10-22)
    labels: Array[String],
    text: String,
    found_by: String,
    is_event: Boolean,
    trigger_text: String,
    args: Array[Arg],
    // modification / polarity flags (reference: mentions/Modifications.scala:23-57;
    // NegationHandler / HypothesisHandler semantics)
    negated: Boolean,
    hypothesis: Boolean,
    // trigger token span (events; (-1,-1) for entities). Distinct same-trigger-
    // text events in one sentence must NOT collide in keepMostCompleteMentions —
    // the reference compares trigger *mentions*, not trigger strings
    // (MentionFilter.scala:60-69)
    trig_start: Int = -1,
    trig_end: Int = -1,
    // attached modifications (PTM / Mutant / EventSite)
    mods: Array[Mod] = Mod.none,
    // sentence-initial consequence cue ("as a result", "therefore", ...) —
    // feeds the causal-precedence sieve (reference: assembly
    // sieves/Sieves.scala:58-336, inter-sentential discourse subset)
    cue: String = "",
    // intra-sentential precedence connective immediately before the trigger
    // ("before"/"prior" vs "after"/"following", plus consequence adverbs) —
    // surface form of the reference's intrasentential.yml event-to-event
    // rules (Sieves.intrasententialRBPrecedence:58-84)
    intra_cue: String = "",
    // trigger tense+aspect ("past", "past|perf", "present", "future", ...) —
    // feeds the Reichenbach precedence table (Sieves.reichenbachPrecedence:
    // 93-240 / tense_aspect.yml)
    tense: String = ""
)

/** A grounding-KB entry (reference: grounding/InMemoryKB.scala:214-265 and the
  * bioresources TSV shape, TsvIMKBFactory.scala:32-51).
  * `kb_rank` is the KB's position in the per-label search sequence
  * (ReachEntityLookup.scala:84-130) — first KB with a hit wins.
  */
final case class KBEntry(
    text: String,
    id: String,
    species: String, // "" = no species info
    namespace: String,
    kb_rank: Int,
    label: String,
    is_protein_kb: Boolean,
    is_family_kb: Boolean
)

/** Resolved grounding attached to a mention (reference: KBResolution.scala:14-31). */
final case class Grounding(namespace: String, id: String, species: String)

/** Mention + grounding, after the link stage. */
final case class LinkedMention(
    mention_id: Long,
    conv_id: String,
    turn_idx: Int,
    sent_idx: Int,
    start_tok: Int,
    end_tok: Int,
    labels: Array[String],
    text: String,
    found_by: String,
    is_event: Boolean,
    trigger_text: String,
    args: Array[Arg],
    negated: Boolean,
    hypothesis: Boolean,
    ns: String,
    ns_id: String,
    species: String,
    mods: Array[Mod] = Mod.none,
    // ordered grounding candidates, head == winner (reference:
    // Grounding.nominate keeps the candidate list for later re-ranking,
    // Grounding.scala:49-54); empty for events and failsafe groundings
    candidates: Array[Grounding] = Array.empty,
    // resolved display label (reference: ReachSystem.resolveDisplay:249-293 —
    // family-grounded GGPs display "Family", transcription themes "Gene",
    // other GGPs "Protein"; non-GGP mentions display their head label)
    display_label: String = ""
)

/** Emitted triple — the Arizona-tabular analogue (reference:
  * export/.../arizona/ArizonaOutputter.scala:14-50): subj=CONTROLLER,
  * pred=EVENT_LABEL, obj=INPUT/theme.
  */
final case class Triple(
    subj: String, // canonical id of controller, "" for subject-less simple events
    pred: String,
    obj: String, // canonical id of theme/controlled
    site: String, // nullable ("" = none)
    negated: Boolean,
    hypothesis: Boolean,
    conv_id: String,
    turn_idx: Int,
    evidence_text: String,
    found_by: String
)

/** Canonical graph node (the nodes table's row). */
final case class Node(
    canon_id: String,
    display: String,
    label: String,
    display_label: String,
    ns: String,
    ns_id: String,
    species: String,
    alias_surface_forms: Array[String]
)

/** Per-partition lineage/metrics row (north rule: "per-partition lineage + metrics"). */
final case class Lineage(
    stage: String,
    partition_id: Int,
    rows_in: Long,
    rows_out: Long,
    wall_ms: Long,
    run_id: String
)
