package graft.kg

import graft.model._

import java.util.regex.Pattern
import scala.collection.mutable

/** Odin-style token-pattern matcher, re-implemented natively (the reference
  * gets this from the external `processors` 6.0.5 library — Odin engine —
  * main/build.sbt:5; we need only the surface token-pattern subset, SURVEY.md
  * §7.0).
  *
  * Design notes for scale: rule matching is strictly *sentence-local* — the
  * whole engine runs inside one `flatMap` over annotated turns (one
  * JIT-compiled closure per partition, zero per-token UDF overhead, SURVEY.md
  * §2.9). Priorities (the reference's staged fixpoint, events_master.yml:22+)
  * become an ordered sequence of in-row passes over a growing [[State]] — the
  * Odin `State.mentionsFor` probe (SURVEY.md J2) is a map-side lookup, never a
  * shuffle.
  */
object Matcher {

  // ---- pattern elements -------------------------------------------------

  sealed trait PE extends Serializable

  /** Word literal/regex (anchored, case-insensitive). */
  final case class W(re: String) extends PE {
    val p: Pattern = Pattern.compile(re, Pattern.CASE_INSENSITIVE)
  }

  /** Trigger token (like W but records the trigger span). */
  final case class T(re: String) extends PE {
    val p: Pattern = Pattern.compile(re, Pattern.CASE_INSENSITIVE)
  }

  /** Trigger series: 1..max tokens each matching `re`, separated by "," |
    * "/" | "or" | ", or" — the alias-target list shape (reference:
    * alias_template.yml `([word=/^,|\/|or$/]+ bCapture)*`; "and" is
    * deliberately NOT a separator, TestCoreference sent43). The trigger span
    * covers the whole series; consumers split it on the separators.
    */
  final case class TL(re: String, max: Int = 4) extends PE {
    val p: Pattern = Pattern.compile(re, Pattern.CASE_INSENSITIVE)
    val sep: Pattern = Pattern.compile(",|/|or", Pattern.CASE_INSENSITIVE)
  }

  /** Capture one existing mention with `label` in its closure, starting here.
    * Mirrors Odin's `@role:Label` captures probing the State (SURVEY.md J2).
    */
  final case class M(role: String, label: String) extends PE

  /** Capture a coordinated list of mentions: `X`, `X and Y`, `X, Y, and Z`.
    * Implements the reference's coordination handling that yields one event
    * per coordinated argument (DarpaActions.mkBinding:222-261 and the
    * templatic-event tests). `commaOk=false` (prose lists) requires an and/or
    * conjunction — a bare comma is a clause boundary, not coordination;
    * `commaOk=true` (parenthesized site lists like "(Y63, Y68, Y200)") accepts
    * bare commas.
    */
  final case class ML(role: String, label: String,
                      commaOk: Boolean = false,
                      // conjunction tokens accepted as list separators;
                      // alias target lists take "or"/"/" but NOT "and"
                      // (alias_template.yml separators; sent43)
                      conj: String = "and|or|&") extends PE {
    val conjP: Pattern = Pattern.compile(conj, Pattern.CASE_INSENSITIVE)
  }

  /** Optional group. */
  final case class OptG(ps: PE*) extends PE

  /** Alternation of sequences. */
  final case class AltG(alts: Seq[PE]*) extends PE

  /** Bounded wildcard: skip 0..max arbitrary tokens (shortest first). Used to
    * bridge tokens an argument mention's span doesn't cover (e.g. the trailing
    * "expression" of an Amount event) — the surface analogue of the
    * reference's dependency-path hops.
    */
  final case class X(max: Int) extends PE

  /** Zero-width negative lookahead: succeeds iff at end of sentence or the
    * next token does NOT match. Surface analogue of Odin's negated graph
    * constraints on triggers (e.g. `!outgoing=/prep_(by|of)/` on the nn-theme
    * nominal rule, simple-event_template.yml syntax_4_noun).
    */
  final case class NotNext(re: String) extends PE {
    val p: Pattern = Pattern.compile(re, Pattern.CASE_INSENSITIVE)
  }

  /** Zero-width negative mention lookahead: succeeds iff no mention with
    * `label` in its closure starts at the current position. The State-probing
    * analogue of [[NotNext]] (Odin's negated lookahead over @Label captures).
    */
  final case class NotNextM(label: String) extends PE

  /** Zero-width sentence-start anchor (Odin's `^`, used by the cue-less
    * paren alias template alias_template.yml paren1_nil).
    */
  case object AtStart extends PE

  // ---- match state ------------------------------------------------------

  final case class Bind(
      trigger: (Int, Int),
      caps: Map[String, List[MentionRow]]
  ) {
    def withTrigger(s: Int, e: Int): Bind = copy(trigger = (s, e))
    def add(role: String, m: MentionRow): Bind =
      copy(caps = caps + (role -> (caps.getOrElse(role, Nil) :+ m)))
  }
  val emptyBind: Bind = Bind((-1, -1), Map.empty)

  /** Per-sentence mention index (Odin State analogue). */
  final class State {
    private val byStart = mutable.Map.empty[Int, List[MentionRow]]
    private val ids = mutable.Set.empty[Long]
    val all = mutable.ArrayBuffer.empty[MentionRow]

    def add(m: MentionRow): Boolean = {
      if (ids.contains(m.mention_id)) false
      else {
        ids += m.mention_id
        all += m
        byStart(m.start_tok) = (m :: byStart.getOrElse(m.start_tok, Nil))
          .sortBy(x => (-(x.end_tok - x.start_tok), x.labels.head))
        true
      }
    }

    /** Mentions starting at `start` whose closure contains `label`,
      * longest-first (deterministic).
      */
    def at(start: Int, label: String): List[MentionRow] =
      byStart.getOrElse(start, Nil).filter(_.labels.contains(label))

    def byId(id: Long): Option[MentionRow] = all.find(_.mention_id == id)
  }

  // ---- matching ---------------------------------------------------------

  private val sepAnd = Pattern.compile("and|or|&", Pattern.CASE_INSENSITIVE)

  /** Match `pats` against `sent` starting at `pos`, invoking `emit` for every
    * (endPos, bind) solution (longest argument lists first). Backtracking
    * recursive descent in callback style: the matcher runs at every token of
    * every sentence of the corpus, and the earlier List-returning form's
    * intermediate solution lists were a measured scaling bottleneck
    * (allocation-rate memory-bandwidth contention at high core counts).
    */
  def tryMatchCb(pats: List[PE], words: Array[String], state: State,
                 pos: Int, b: Bind)(emit: (Int, Bind) => Unit): Unit =
    pats match {
      case Nil => emit(pos, b)
      case p :: rest =>
        p match {
          case w: W =>
            if (pos < words.length && w.p.matcher(words(pos)).matches())
              tryMatchCb(rest, words, state, pos + 1, b)(emit)
          case t: T =>
            if (pos < words.length && t.p.matcher(words(pos)).matches())
              tryMatchCb(rest, words, state, pos + 1,
                b.withTrigger(pos, pos + 1))(emit)
          case tl: TL =>
            if (pos < words.length && tl.p.matcher(words(pos)).matches() &&
                !tl.sep.matcher(words(pos)).matches()) {
              def go(end: Int, n: Int): Unit = {
                tryMatchCb(rest, words, state, end,
                  b.withTrigger(pos, end))(emit)
                if (n < tl.max) {
                  var k = end
                  if (k < words.length && tl.sep.matcher(words(k)).matches()) {
                    k += 1
                    if (k < words.length && words(k).equalsIgnoreCase("or"))
                      k += 1 // ", or"
                    if (k < words.length &&
                        tl.p.matcher(words(k)).matches() &&
                        !tl.sep.matcher(words(k)).matches()) go(k + 1, n + 1)
                  }
                }
              }
              go(pos + 1, 1)
            }
          case m: M =>
            state.at(pos, m.label) match {
              case Nil => ()
              case cand :: Nil => // overwhelmingly common: zero extra alloc
                tryMatchCb(rest, words, state, cand.end_tok,
                  b.add(m.role, cand))(emit)
              case cands @ (cand :: _) =>
                // longest span only (deterministic), but EVERY same-span
                // variant binds — Odin's @arg captures yield one match per
                // mention, so multi-Mutant split entities and multi-site
                // unpacked events each produce their own enclosing event
                // (TestRegulationEvents sent30/31). When the longest
                // candidate is an EVENT, the longest entity at the same
                // start also binds: an event must not shadow the entity
                // reading ("KRAS activates ..." — the act built at p14
                // starts at KRAS, but p16's reg controller is KRAS itself)
                var seenEntityAlt = false
                var it: List[MentionRow] = cands
                while (it.nonEmpty) {
                  val c = it.head
                  if (c.end_tok == cand.end_tok &&
                      c.labels.head == cand.labels.head) {
                    tryMatchCb(rest, words, state, c.end_tok,
                      b.add(m.role, c))(emit)
                  } else if (cand.is_event && !c.is_event && !seenEntityAlt) {
                    seenEntityAlt = true
                    tryMatchCb(rest, words, state, c.end_tok,
                      b.add(m.role, c))(emit)
                  }
                  it = it.tail
                }
            }
          case ml: ML =>
            mlMatchCb(ml, words, state, pos, b) { (p2, b2) =>
              tryMatchCb(rest, words, state, p2, b2)(emit)
            }
          case OptG(ps @ _*) =>
            tryMatchCb(ps.toList ::: rest, words, state, pos, b)(emit)
            tryMatchCb(rest, words, state, pos, b)(emit)
          case AltG(alts @ _*) =>
            alts.foreach(a =>
              tryMatchCb(a.toList ::: rest, words, state, pos, b)(emit))
          case X(max) =>
            var k = 0
            while (k <= max && pos + k <= words.length) {
              tryMatchCb(rest, words, state, pos + k, b)(emit)
              k += 1
            }
          case nn: NotNext =>
            if (pos >= words.length || !nn.p.matcher(words(pos)).matches())
              tryMatchCb(rest, words, state, pos, b)(emit)
          case nm: NotNextM =>
            if (pos >= words.length || state.at(pos, nm.label).isEmpty)
              tryMatchCb(rest, words, state, pos, b)(emit)
          case AtStart =>
            if (pos == 0) tryMatchCb(rest, words, state, pos, b)(emit)
        }
    }

  /** Coordinated list: longest lists first, then shorter (backtracking). */
  private def mlMatchCb(ml: ML, words: Array[String], state: State,
                        pos: Int, b: Bind)(emit: (Int, Bind) => Unit): Unit =
    state.at(pos, ml.label) match {
      case Nil => ()
      case cand :: _ =>
        val b2 = b.add(ml.role, cand)
        val end = cand.end_tok
        // separators: "," | conj | ", " conj — longest lists first
        if (end < words.length) {
          if (words(end) == ",") {
            if (end + 1 < words.length &&
                ml.conjP.matcher(words(end + 1)).matches())
              mlMatchCb(ml, words, state, end + 2, b2)(emit)
            if (ml.commaOk)
              mlMatchCb(ml, words, state, end + 1, b2)(emit)
          } else if (ml.conjP.matcher(words(end)).matches()) {
            mlMatchCb(ml, words, state, end + 1, b2)(emit)
          }
        }
        emit(end, b2)
    }

  // ---- deterministic ids ------------------------------------------------

  /** 64-bit deterministic content hash — mention identity that survives
    * retries, repartitioning and resume (replaces the reference's object
    * identity + custom hashCodes, BioMention.scala:18-21; SURVEY.md §1.2).
    */
  def contentId(parts: String*): Long = {
    val s = parts.mkString("")
    val h1 = scala.util.hashing.MurmurHash3.stringHash(s, 0x9747b28c)
    val h2 = scala.util.hashing.MurmurHash3.stringHash(s, 0x85ebca6b)
    (h1.toLong << 32) | (h2.toLong & 0xffffffffL)
  }

  def mentionId(conv: String, turn: Int, sent: Int, s: Int, e: Int,
                label: String, trig: String, args: Seq[Arg],
                negated: Boolean, hypothesis: Boolean,
                mods: Seq[Mod] = Nil): Long =
    contentId(conv, turn.toString, sent.toString, s.toString, e.toString,
      label, trig,
      args.sortBy(a => (a.role, a.mention_id))
        .map(a => a.role + "=" + a.mention_id).mkString(","),
      negated.toString, hypothesis.toString,
      // mods are part of mention identity (reference mixes Mutant mods into
      // hashCode, BioMention.scala:18-21)
      mods.sortBy(m => (m.kind, m.label, m.site_text, m.site_id))
        .map(m => m.kind + ":" + m.label + ":" + m.site_text + ":" + m.site_id)
        .mkString(";"))
}
