package graft.kg

import graft.kg.BioRules._
import graft.kg.Matcher._

import scala.collection.mutable

/** Data-driven rule grammar: a YAML-lite text format that compiles to the
  * native [[BioRules.Rule]] / [[BioRules.DepRule]] specs, so extraction
  * rules are DATA, not code — the engine analogue of the reference's
  * YAML grammar loaded at startup and re-loadable per request
  * (main/.../RuleReader.scala:43-51 `reload`, export ApiRuler per-request
  * recompilation). `parse` and `render` are exact inverses over the
  * built-in grammar (RuleDslSpec round-trips it), so the shipped grammar
  * can be exported, edited, and re-loaded without recompiling.
  *
  * Format (one block per rule; `#` starts a full-line comment):
  * {{{
  * rule <name>
  *   priority: <int>
  *   kind: entity <Label> | genericmutant | genericevent | simplemod
  *       | automod | fixedevent <Label> [<themeRole>] | binding
  *       | regulation | activation | alias | aliasunknown
  *   pattern: <element> <element> ...
  *
  * deprule <name>
  *   priority: <int>
  *   kind: <as above>
  *   trigger: /re/ verbal|nominal [notoutgoing:/re/]
  *   arg: <role> <Label> [optional] [event] expand:/re/
  *        paths: >/re/ </re/ ... ; >/re/ ...
  * }}}
  *
  * Pattern elements (Odin-style surface syntax):
  * {{{
  *   /re/              word-token regex               -> W
  *   t:/re/            trigger token                  -> T
  *   tl:/re/:max       trigger series                 -> TL
  *   m:role:Label      mention capture                -> M
  *   ml:role:Label[:comma][:conj=/re/]  mention list  -> ML
  *   opt( ... )        optional group                 -> OptG
  *   alt( s1 | s2 )    alternation of sequences       -> AltG
  *   x:max             bounded wildcard               -> X
  *   notnext:/re/      negative token lookahead       -> NotNext
  *   notnextm:Label    negative mention lookahead     -> NotNextM
  *   start             sentence-start anchor          -> AtStart
  * }}}
  * Regex literals escape an internal slash as `\/` and an internal
  * backslash as `\\` (the lexer unescapes both symmetrically; any other
  * backslash pair is preserved verbatim, so hand-written `\w`/`\b` regexes
  * read naturally). Dep rules must carry `priority > 5`: the sentence
  * extractor stages dep rules over the event priorities only
  * (BioRules.Grammar.eventPriorities filters `> 5` — entity priorities 1-5
  * run token rules only), so a lower priority would load but never execute;
  * parse rejects it with a line-numbered error instead (ADVICE r4).
  */
object RuleDsl {

  final case class DslError(msg: String, line: Int)
      extends RuntimeException(s"rule DSL error at line $line: $msg")

  // ---- rendering ---------------------------------------------------------

  private def esc(re: String): String =
    re.replace("\\", "\\\\").replace("/", "\\/")

  private def renderPe(p: PE): String = p match {
    case W(re) => s"/${esc(re)}/"
    case T(re) => s"t:/${esc(re)}/"
    case TL(re, max) => s"tl:/${esc(re)}/:$max"
    case M(role, label) => s"m:$role:$label"
    case ml: ML =>
      val comma = if (ml.commaOk) ":comma" else ""
      val conj = if (ml.conj == "and|or|&") "" else s":conj=/${esc(ml.conj)}/"
      s"ml:${ml.role}:${ml.label}$comma$conj"
    case OptG(ps @ _*) => ps.map(renderPe).mkString("opt( ", " ", " )")
    case AltG(alts @ _*) =>
      alts.map(_.map(renderPe).mkString(" ")).mkString("alt( ", " | ", " )")
    case X(max) => s"x:$max"
    case NotNext(re) => s"notnext:/${esc(re)}/"
    case NotNextM(label) => s"notnextm:$label"
    case AtStart => "start"
  }

  private def renderKind(k: Kind): String = k match {
    case EntityK(label) => s"entity $label"
    case GenericMutantK => "genericmutant"
    case GenericEventK => "genericevent"
    case SimpleModK => "simplemod"
    case AutoModK => "automod"
    case FixedEventK(label, themeRole) =>
      if (themeRole == "theme") s"fixedevent $label"
      else s"fixedevent $label $themeRole"
    case BindingK => "binding"
    case RegulationK => "regulation"
    case ActivationK => "activation"
    case AliasK => "alias"
    case AliasUnknownK => "aliasunknown"
  }

  private def renderHop(h: Hop): String =
    (if (h.out) ">" else "<") + s"/${esc(h.re)}/"

  private def renderDepArg(a: DepArg): String = {
    val flags = (if (a.required) "" else " optional") +
      (if (a.event) " event" else "")
    val paths = a.paths.map(_.map(renderHop).mkString(" ")).mkString(" ; ")
    s"arg: ${a.role} ${a.label}$flags expand:/${esc(a.expand)}/ paths: $paths"
  }

  def render(g: Grammar): String = {
    val sb = new StringBuilder
    sb.append("# graft rule grammar (RuleDsl format)\n")
    g.rules.foreach { r =>
      sb.append(s"\nrule ${r.name}\n")
      sb.append(s"  priority: ${r.priority}\n")
      sb.append(s"  kind: ${renderKind(r.kind)}\n")
      sb.append(s"  pattern: ${r.pattern.map(renderPe).mkString(" ")}\n")
    }
    g.depRules.foreach { r =>
      sb.append(s"\ndeprule ${r.name}\n")
      sb.append(s"  priority: ${r.priority}\n")
      sb.append(s"  kind: ${renderKind(r.kind)}\n")
      val mode = if (r.trigVerbal) "verbal" else "nominal"
      val noOut =
        if (r.notOutgoing.isEmpty) "" else s" notoutgoing:/${esc(r.notOutgoing)}/"
      sb.append(s"  trigger: /${esc(r.trigRe)}/ $mode$noOut\n")
      r.args.foreach(a => sb.append(s"  ${renderDepArg(a)}\n"))
    }
    sb.toString
  }

  // ---- lexer -------------------------------------------------------------

  /** Token stream over one property value: regex literals `/.../` (slash
    * escaping), parens, `|`, `;`, and plain words.
    */
  private def lex(s: String, lineNo: Int): List[String] = {
    val out = mutable.ListBuffer.empty[String]
    var i = 0
    val n = s.length
    val cur = new StringBuilder
    def flush(): Unit = { if (cur.nonEmpty) { out += cur.toString; cur.clear() } }
    while (i < n) {
      val c = s.charAt(i)
      if (c == '/') {
        // regex literal — appended to the current atom (so `t:/re/` is ONE
        // token); \/ unescapes to /, any other backslash pair is preserved
        cur.append('/')
        i += 1
        var closed = false
        while (i < n && !closed) {
          val ch = s.charAt(i)
          if (ch == '\\' && i + 1 < n) {
            // \/ -> /, \\ -> \ (esc's inverses); any other pair is verbatim
            if (s.charAt(i + 1) == '/') cur.append('/')
            else if (s.charAt(i + 1) == '\\') cur.append('\\')
            else { cur.append(ch); cur.append(s.charAt(i + 1)) }
            i += 2
          } else if (ch == '/') { cur.append('/'); closed = true; i += 1 }
          else { cur.append(ch); i += 1 }
        }
        if (!closed) throw DslError("unterminated /regex/", lineNo)
      } else if (c == '(' || c == ')' || c == '|' || c == ';') {
        flush(); out += c.toString; i += 1
      } else if (c.isWhitespace) { flush(); i += 1 }
      else { cur.append(c); i += 1 }
    }
    flush()
    out.toList
  }

  /** An atom that EMBEDS regex literals: split it into prefix/regex parts.
    * `t:/re/:4` -> ("t:", "re", ":4").
    */
  private def takeRegex(atom: String, lineNo: Int): (String, String, String) = {
    val open = atom.indexOf('/')
    if (open < 0) throw DslError(s"expected /regex/ in '$atom'", lineNo)
    val close = atom.lastIndexOf('/')
    if (close == open) throw DslError(s"unterminated regex in '$atom'", lineNo)
    (atom.substring(0, open), atom.substring(open + 1, close),
      atom.substring(close + 1))
  }

  // ---- pattern parser ----------------------------------------------------

  private final class Toks(ts: List[String], lineNo: Int) {
    private var rest = ts
    def peek: Option[String] = rest.headOption
    def next(): String = rest match {
      case h :: t => rest = t; h
      case Nil => throw DslError("unexpected end of pattern", lineNo)
    }
    def expect(t: String): Unit = {
      val got = next()
      if (got != t) throw DslError(s"expected '$t', got '$got'", lineNo)
    }
    def isEmpty: Boolean = rest.isEmpty
    def line: Int = lineNo
  }

  /** Parse elements until ')' / '|' / end (those stay unconsumed). */
  private def parseSeq(t: Toks): List[PE] = {
    val out = mutable.ListBuffer.empty[PE]
    var done = false
    while (!done) {
      t.peek match {
        case None | Some(")") | Some("|") => done = true
        case Some(_) => out += parseElem(t)
      }
    }
    out.toList
  }

  private def parseElem(t: Toks): PE = {
    val atom = t.next()
    atom match {
      case "opt" | "opt(" =>
        if (atom == "opt") t.expect("(")
        val ps = parseSeq(t)
        t.expect(")")
        OptG(ps: _*)
      case "alt" | "alt(" =>
        if (atom == "alt") t.expect("(")
        val alts = mutable.ListBuffer.empty[Seq[PE]]
        alts += parseSeq(t)
        while (t.peek.contains("|")) { t.next(); alts += parseSeq(t) }
        t.expect(")")
        AltG(alts.toSeq: _*)
      case "start" => AtStart
      case a if a.startsWith("t:/") =>
        val (_, re, tail) = takeRegex(a, t.line)
        if (tail.nonEmpty) throw DslError(s"trailing '$tail' after t:", t.line)
        T(re)
      case a if a.startsWith("tl:/") =>
        val (_, re, tail) = takeRegex(a, t.line)
        if (!tail.startsWith(":"))
          throw DslError("tl: needs a :max suffix", t.line)
        TL(re, tail.drop(1).toInt)
      case a if a.startsWith("m:") =>
        a.drop(2).split(":", 2) match {
          case Array(role, label) if role.nonEmpty && label.nonEmpty =>
            M(role, label)
          case _ => throw DslError(s"malformed '$a' (want m:role:Label)", t.line)
        }
      case a if a.startsWith("ml:") =>
        // ml:role:Label[:comma][:conj=/re/]
        val body = a.drop(3)
        val conjIdx = body.indexOf(":conj=/")
        val (head, conj) =
          if (conjIdx >= 0) {
            val (_, re, tail) = takeRegex(body.substring(conjIdx), t.line)
            if (tail.nonEmpty)
              throw DslError(s"trailing '$tail' after conj", t.line)
            (body.substring(0, conjIdx), re)
          } else (body, "and|or|&")
        val parts = head.split(":")
        if (parts.length < 2 || parts.length > 3)
          throw DslError(s"malformed '$a' (want ml:role:Label[:comma])", t.line)
        val commaOk =
          if (parts.length == 3) {
            if (parts(2) != "comma")
              throw DslError(s"unknown ml flag '${parts(2)}'", t.line)
            true
          } else false
        ML(parts(0), parts(1), commaOk, conj)
      case a if a.startsWith("x:") => X(a.drop(2).toInt)
      case a if a.startsWith("notnextm:") => NotNextM(a.drop(9))
      case a if a.startsWith("notnext:/") =>
        val (_, re, tail) = takeRegex(a, t.line)
        if (tail.nonEmpty)
          throw DslError(s"trailing '$tail' after notnext:", t.line)
        NotNext(re)
      case a if a.startsWith("/") =>
        val (pre, re, tail) = takeRegex(a, t.line)
        if (pre.nonEmpty || tail.nonEmpty)
          throw DslError(s"malformed regex element '$a'", t.line)
        W(re)
      case other => throw DslError(s"unknown pattern element '$other'", t.line)
    }
  }

  private def parseKind(v: String, lineNo: Int): Kind = {
    val parts = v.trim.split("\\s+").toList
    parts match {
      case "entity" :: label :: Nil => EntityK(label)
      case "genericmutant" :: Nil => GenericMutantK
      case "genericevent" :: Nil => GenericEventK
      case "simplemod" :: Nil => SimpleModK
      case "automod" :: Nil => AutoModK
      case "fixedevent" :: label :: Nil => FixedEventK(label)
      case "fixedevent" :: label :: role :: Nil => FixedEventK(label, role)
      case "binding" :: Nil => BindingK
      case "regulation" :: Nil => RegulationK
      case "activation" :: Nil => ActivationK
      case "alias" :: Nil => AliasK
      case "aliasunknown" :: Nil => AliasUnknownK
      case _ => throw DslError(s"unknown kind '$v'", lineNo)
    }
  }

  private def parseDepArg(v: String, lineNo: Int): DepArg = {
    val toks = lex(v, lineNo)
    // <role> <Label> [optional] [event] expand:/re/ paths: hop... [; hop...]
    toks match {
      case role :: label :: rest0 =>
        var rest = rest0
        var required = true
        var event = false
        var expand = "conj_.*|cc|appos|nn"
        var done = false
        while (!done) rest match {
          case "optional" :: t => required = false; rest = t
          case "event" :: t => event = true; rest = t
          case a :: t if a.startsWith("expand:/") =>
            val (_, re, tail) = takeRegex(a, lineNo)
            if (tail.nonEmpty)
              throw DslError(s"trailing '$tail' after expand", lineNo)
            expand = re; rest = t
          case _ => done = true
        }
        rest match {
          case "paths:" :: hopToks =>
            val paths = mutable.ListBuffer.empty[List[Hop]]
            var cur = mutable.ListBuffer.empty[Hop]
            hopToks.foreach {
              case ";" =>
                if (cur.isEmpty) throw DslError("empty path", lineNo)
                paths += cur.toList; cur = mutable.ListBuffer.empty
              case h if h.startsWith(">/") || h.startsWith("</") =>
                val (pre, re, tail) = takeRegex(h, lineNo)
                if (tail.nonEmpty)
                  throw DslError(s"trailing '$tail' after hop", lineNo)
                cur += Hop(re, out = pre == ">")
              case other => throw DslError(s"bad hop '$other'", lineNo)
            }
            if (cur.isEmpty) throw DslError("empty path", lineNo)
            paths += cur.toList
            DepArg(role, label, paths.toSeq, expand, required, event)
          case other =>
            throw DslError(s"expected 'paths:', got '$other'", lineNo)
        }
      case _ => throw DslError(s"malformed arg '$v'", lineNo)
    }
  }

  // ---- grammar parser ----------------------------------------------------

  /** Parse a DSL text into a [[Grammar]] containing exactly the rules in
    * the text. To EXTEND the built-in grammar instead, use
    * `BioRules.default.withRules(parse(text).rules, parse(text).depRules)`
    * or [[KgConfig.withRules]].
    */
  def parse(text: String): Grammar = {
    val rules = mutable.ListBuffer.empty[Rule]
    val depRules = mutable.ListBuffer.empty[DepRule]

    // current block state
    var blockKind: String = null // "rule" | "deprule"
    var name: String = null
    var nameLine = 0
    val props = mutable.ListBuffer.empty[(String, String, Int)]

    def finish(): Unit = {
      if (blockKind == null) return
      def prop(k: String): Option[String] =
        props.collectFirst { case (`k`, v, _) => v }
      def req(k: String): String = prop(k).getOrElse(
        throw DslError(s"$blockKind '$name' missing '$k:'", nameLine))
      // rule/deprule constructors compile their Patterns eagerly — surface
      // a bad regex as a DslError with the block's line, not a bare
      // PatternSyntaxException
      def guarded[T](f: => T): T =
        try f
        catch {
          case e: java.util.regex.PatternSyntaxException =>
            throw DslError(
              s"invalid regex in $blockKind '$name': ${e.getMessage}",
              nameLine)
        }
      val priority = req("priority").trim.toInt
      val kind = parseKind(req("kind"), nameLine)
      if (blockKind == "rule") {
        val pToks = new Toks(lex(req("pattern"), nameLine), nameLine)
        val pattern = guarded(parseSeq(pToks))
        if (!pToks.isEmpty)
          throw DslError(s"trailing tokens in pattern of '$name'", nameLine)
        if (pattern.isEmpty)
          throw DslError(s"empty pattern in '$name'", nameLine)
        rules += Rule(name, priority, kind, pattern)
      } else {
        // dep rules only execute over eventPriorities (> 5); a lower
        // priority would load silently dead (ADVICE r4)
        if (priority <= 5)
          throw DslError(
            s"deprule '$name' has priority $priority, but dep rules run " +
              "only at event priorities (> 5); entity priorities 1-5 are " +
              "token-rule stages", nameLine)
        val trig = lex(req("trigger"), nameLine)
        val (trigRe, trigMode, trigRest) = trig match {
          case re :: mode :: rest if re.startsWith("/") =>
            val (pre, r, tail) = takeRegex(re, nameLine)
            if (pre.nonEmpty || tail.nonEmpty)
              throw DslError("malformed trigger regex", nameLine)
            (r, mode, rest)
          case _ => throw DslError(
            s"trigger of '$name' must be '/re/ verbal|nominal'", nameLine)
        }
        val verbal = trigMode match {
          case "verbal" => true
          case "nominal" => false
          case m => throw DslError(s"unknown trigger mode '$m'", nameLine)
        }
        val notOut = trigRest match {
          case Nil => ""
          case a :: Nil if a.startsWith("notoutgoing:/") =>
            val (_, re, tail) = takeRegex(a, nameLine)
            if (tail.nonEmpty)
              throw DslError("trailing text after notoutgoing", nameLine)
            re
          case other =>
            throw DslError(s"unexpected trigger tail '$other'", nameLine)
        }
        val args = guarded(
          props.collect { case ("arg", v, ln) => parseDepArg(v, ln) })
        if (args.isEmpty)
          throw DslError(s"deprule '$name' has no args", nameLine)
        depRules += guarded(DepRule(name, priority, kind, trigRe, verbal,
          args.toSeq, notOut))
      }
      blockKind = null; name = null; props.clear()
    }

    text.linesIterator.zipWithIndex.foreach { case (raw, idx) =>
      val ln = idx + 1
      val line = raw.replaceAll("\\s+$", "")
      val trimmed = line.trim
      if (trimmed.isEmpty || trimmed.startsWith("#")) ()
      else if (!line.startsWith(" ") && !line.startsWith("\t")) {
        finish()
        trimmed.split("\\s+").toList match {
          case "rule" :: n :: Nil => blockKind = "rule"; name = n; nameLine = ln
          case "deprule" :: n :: Nil =>
            blockKind = "deprule"; name = n; nameLine = ln
          case _ => throw DslError(
            s"expected 'rule <name>' or 'deprule <name>', got '$trimmed'", ln)
        }
      } else {
        if (blockKind == null)
          throw DslError(s"property outside a rule block: '$trimmed'", ln)
        val colon = trimmed.indexOf(':')
        if (colon <= 0) throw DslError(s"expected 'key: value': '$trimmed'", ln)
        props += ((trimmed.substring(0, colon),
          trimmed.substring(colon + 1).trim, ln))
      }
    }
    finish()

    val g = Grammar(rules.toList, depRules.toList)
    // fail fast on regexes that do not compile (Pattern vals are lazy inside
    // the match loop otherwise) and on duplicate names
    val names = g.rules.map(_.name) ++ g.depRules.map(_.name)
    val dups = names.groupBy(identity).collect { case (n, xs) if xs.size > 1 => n }
    if (dups.nonEmpty)
      throw DslError(s"duplicate rule names: ${dups.mkString(", ")}", 0)
    g
  }
}
