package graft

import graft.kg._
import graft.kg.BioRules.{Grammar, Rule, SimpleModK}
import graft.kg.Matcher._
import graft.model._
import org.scalatest.funsuite.AnyFunSuite

/** The data-driven rule grammar (RuleReader.reload / ApiRuler analogue):
  * exact round-trip of the built-in grammar through the DSL text form, and a
  * NEW event rule defined purely as data extracting a triple no built-in
  * rule produces — through the full Spark pipeline via the reloadable
  * grammar broadcast.
  */
class RuleDslSpec extends AnyFunSuite {
  import RuleDslSpec._
  private lazy val spark = TestSpark.spark
  private lazy val trie = Annotate.buildTrie(Lexicon.nerLexicon)
  private lazy val kb = new Link.KbIndex(Lexicon.kb)

  test("built-in grammar round-trips exactly through the DSL text form") {
    val text = RuleDsl.render(BioRules.default)
    val parsed = RuleDsl.parse(text)
    // case-class equality covers every regex, capture, group, flag and
    // priority of all rules — identical Grammar means identical extraction,
    // so kg_pipeline_edges is unchanged by construction
    assert(parsed.rules.size == BioRules.default.rules.size)
    parsed.rules.zip(BioRules.default.rules).foreach { case (p, b) =>
      assert(p == b, s"surface rule '${b.name}' did not round-trip")
    }
    assert(parsed.depRules.size == BioRules.default.depRules.size)
    parsed.depRules.zip(BioRules.default.depRules).foreach { case (p, b) =>
      assert(p == b, s"dep rule '${b.name}' did not round-trip")
    }
    assert(parsed == BioRules.default)
    // second generation is a fixpoint
    assert(RuleDsl.render(parsed) == text)
  }

  test("a NEW event rule defined as data extracts a triple no built-in " +
       "rule produces (extractSentence level)") {
    val sent = Annotate.annotateText(trie, "MEK1 hyperphosphorylates ERK2.")
    val builtin = sent.flatMap(s => BioRules.extractSentence("c", 0, s))
    assert(!builtin.exists(_.is_event), builtin.map(_.text))

    val g = BioRules.default.withRules(RuleDsl.parse(newRuleDsl).rules)
    val withDsl = sent.flatMap(s =>
      BioRules.extractSentence("c", 0, s, Nil, g))
    // SimpleModK derives the label from the trigger (getModificationLabel
    // semantics) and splitSimpleEvents wraps the cause in a regulation
    assert(withDsl.exists(m => m.is_event &&
      m.labels.head == "Phosphorylation"))
    assert(withDsl.exists(m => m.is_event &&
      m.labels.head == "Positive_regulation"))
  }

  test("a data-rule KgConfig gets its own matcher broadcast and the full " +
       "pipeline emits the golden-pinned data-rule triple") {
    import spark.implicits._
    val turns = Seq(
      Turn("dslconv", 0, "user", "MEK1 hyperphosphorylates ERK2.", "", null))
      .toDS()
    // built-in grammar: nothing
    val before = Pipeline.extract(spark, turns).edges.collect()
    assert(before.isEmpty, before.map(_.toString).toSeq)
    // the grammar as data, one config per request — the ApiRuler analogue
    val cfg = KgConfig.default.withRules(RuleDsl.parse(newRuleDsl))
    assert(Broadcasts.all(spark.sparkContext, cfg)._3 ne
      Broadcasts.all(spark.sparkContext)._3)
    val after = Pipeline.extract(spark, turns, cfg).edges
      .select("subj", "pred", "obj", "conv_id").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    // golden pin: exact triples for the data-defined rule
    assert(after == dslTriples, after)
    // the default config is untouched by the data-rule run
    assert(Pipeline.extract(spark, turns).edges.count() == 0)
  }

  test("DSL errors are reported with line numbers; duplicates rejected") {
    val bad = "rule r1\n  priority: 7\n  kind: simplemod\n  pattern: q:/x/\n"
    val e = intercept[RuleDsl.DslError](RuleDsl.parse(bad))
    assert(e.getMessage.contains("unknown pattern element"))
    intercept[RuleDsl.DslError](RuleDsl.parse("rule r1\n  priority: 1\n"))
    intercept[RuleDsl.DslError](RuleDsl.parse(
      "rule r1\n  priority: 2\n  kind: entity Site\n  pattern: /a/\n" +
        "rule r1\n  priority: 2\n  kind: entity Site\n  pattern: /b/\n"))
    // unterminated regex
    intercept[RuleDsl.DslError](RuleDsl.parse(
      "rule r2\n  priority: 2\n  kind: entity Site\n  pattern: /a\n"))
    // a NON-COMPILING regex surfaces as a DslError naming the rule, not a
    // bare PatternSyntaxException
    val bad2 = intercept[RuleDsl.DslError](RuleDsl.parse(
      "rule r3\n  priority: 2\n  kind: entity Site\n  pattern: /a(b/\n"))
    assert(bad2.getMessage.contains("invalid regex") &&
      bad2.getMessage.contains("r3"))
    val bad3 = intercept[RuleDsl.DslError](RuleDsl.parse(
      "deprule d1\n  priority: 7\n  kind: binding\n" +
        "  trigger: /x(/ verbal\n" +
        "  arg: theme BioChemicalEntity paths: >/dobj/\n"))
    assert(bad3.getMessage.contains("invalid regex"))
    // a deprule at an entity priority (<= 5) would never execute
    // (extractSentence stages dep rules over eventPriorities only) — the
    // parser rejects it instead of loading it silently dead (ADVICE r4)
    val bad4 = intercept[RuleDsl.DslError](RuleDsl.parse(
      "deprule d2\n  priority: 2\n  kind: binding\n" +
        "  trigger: /x/ verbal\n" +
        "  arg: theme BioChemicalEntity paths: >/dobj/\n"))
    assert(bad4.getMessage.contains("priority"))
  }

  test("a NEW dependency rule defined as data extracts from a construction " +
       "the surface rules cannot reach") {
    val dsl =
      """deprule dsl_hyperphos_pass
        |  priority: 7
        |  kind: simplemod
        |  trigger: /hyper-?phosphorylat\w+/ verbal
        |  arg: theme BioChemicalEntity expand:/conj_.*|cc|nn/ paths: >/nsubjpass/
        |  arg: cause BioChemicalEntity optional expand:/conj_.*|cc|appos|nn/ paths: >/agent|prep_by/
        |""".stripMargin
    val parsed = RuleDsl.parse(dsl)
    assert(parsed.rules.isEmpty && parsed.depRules.size == 1)
    val g = BioRules.default.withRules(Nil, parsed.depRules)
    val sent = Annotate.annotateText(trie, "ERK2 is hyperphosphorylated by MEK1.")
    val builtin = sent.flatMap(s => BioRules.extractSentence("c", 0, s))
    assert(!builtin.exists(_.is_event))
    val withDsl = sent.flatMap(s =>
      BioRules.extractSentence("c", 0, s, Nil, g))
    assert(withDsl.exists(m => m.is_event &&
      m.labels.head == "Phosphorylation"), withDsl.map(_.labels.head))
    assert(withDsl.exists(m => m.is_event &&
      m.labels.head == "Positive_regulation"))
    // and the deprule round-trips through render like everything else
    assert(RuleDsl.parse(RuleDsl.render(g)) == g)
  }

  test("seeded fuzz: 300 random grammars round-trip exactly") {
    import graft.kg.BioRules._
    val rnd = new scala.util.Random(20260820L)
    val reChars = "abcdefghijklmnopqrstuvwxyz0123456789|/-."
    def ident(): String =
      "id" + (1 + rnd.nextInt(8)).toString +
        Seq.fill(3 + rnd.nextInt(5))(
          ('a' + rnd.nextInt(26)).toChar).mkString
    // single chars plus backslash escapes — \w, \d, \/ (regex-escaped
    // slash), \\ (regex-escaped backslash) — which pin the esc/lex
    // backslash symmetry (ADVICE r4: `\/` in a pattern source used to
    // render as `\\/` and fail to re-parse)
    val reAtoms = reChars.map(_.toString) ++ Seq("\\w", "\\d", "\\/", "\\\\")
    def safeRe(): String =
      Seq.fill(1 + rnd.nextInt(10))(
        reAtoms(rnd.nextInt(reAtoms.length))).mkString
    def kind(): Kind = rnd.nextInt(10) match {
      case 0 => EntityK(ident())
      case 1 => GenericMutantK
      case 2 => GenericEventK
      case 3 => SimpleModK
      case 4 => AutoModK
      case 5 => FixedEventK(ident(), if (rnd.nextBoolean()) "theme" else ident())
      case 6 => BindingK
      case 7 => RegulationK
      case 8 => ActivationK
      case _ => if (rnd.nextBoolean()) AliasK else AliasUnknownK
    }
    def pe(depth: Int): PE = rnd.nextInt(if (depth > 1) 9 else 11) match {
      case 0 => W(safeRe())
      case 1 => T(safeRe())
      case 2 => TL(safeRe(), 1 + rnd.nextInt(5))
      case 3 => M(ident(), ident())
      case 4 => ML(ident(), ident(), rnd.nextBoolean(),
        if (rnd.nextBoolean()) "and|or|&" else safeRe())
      case 5 => X(rnd.nextInt(9))
      case 6 => NotNext(safeRe())
      case 7 => NotNextM(ident())
      case 8 => AtStart
      case 9 => OptG(Seq.fill(1 + rnd.nextInt(3))(pe(depth + 1)): _*)
      case _ => AltG(Seq.fill(1 + rnd.nextInt(3))(
        Seq.fill(1 + rnd.nextInt(3))(pe(depth + 1))): _*)
    }
    def hop(): Hop = Hop(safeRe(), rnd.nextBoolean())
    def depArg(): DepArg = DepArg(ident(), ident(),
      Seq.fill(1 + rnd.nextInt(3))(List.fill(1 + rnd.nextInt(3))(hop())),
      if (rnd.nextBoolean()) "conj_.*|cc|appos|nn" else safeRe(),
      rnd.nextBoolean(), rnd.nextBoolean())
    (1 to 300).foreach { i =>
      val rules = (0 until rnd.nextInt(4)).map(k =>
        Rule(s"r${i}_$k", 1 + rnd.nextInt(20), kind(),
          List.fill(1 + rnd.nextInt(5))(pe(0)))).toList
      // dep-rule priorities must be event-stage (> 5): parse rejects lower
      val depRules = (0 until rnd.nextInt(3)).map(k =>
        DepRule(s"d${i}_$k", 6 + rnd.nextInt(15), kind(), safeRe(),
          rnd.nextBoolean(), Seq.fill(1 + rnd.nextInt(3))(depArg()),
          if (rnd.nextBoolean()) "" else safeRe())).toList
      val g = Grammar(rules, depRules)
      val rendered = RuleDsl.render(g)
      val parsed =
        try RuleDsl.parse(rendered)
        catch { case e: Throwable =>
          fail(s"grammar $i failed to parse: ${e.getMessage}\n$rendered")
        }
      assert(parsed == g, s"grammar $i did not round-trip:\n$rendered")
    }
  }

  test("slash escaping round-trips regexes containing literal slashes") {
    val g = Grammar(List(Rule("slashy", 7, SimpleModK,
      List(W("a/b|c"), T("x"), M("theme", "BioChemicalEntity")))), Nil)
    val t = RuleDsl.render(g)
    assert(t.contains("a\\/b|c"))
    assert(RuleDsl.parse(t) == g)
  }
}

object RuleDslSpec {
  // the demo corpus: no built-in rule matches "hyperphosphorylates" (the
  // quantity prefixes are mono/poly/di/multi only and trigger regexes are
  // token-anchored), so the built-in grammar extracts nothing from it
  val newRuleDsl: String =
    """# a brand-new event rule, defined purely as data
      |rule dsl_hyperphos
      |  priority: 7
      |  kind: simplemod
      |  pattern: m:cause:BioChemicalEntity t:/hyper-?phosphorylat(e|es|ed|ing)/ m:theme:BioChemicalEntity
      |""".stripMargin

  /** The pipeline's exact triples for "MEK1 hyperphosphorylates ERK2."
    * under a config carrying [[newRuleDsl]].
    */
  val dslTriples: Set[(String, String, String)] = Set(
    ("", "Phosphorylation", "uniprot:P28482"),
    ("uniprot:Q02750", "Positive_regulation",
      "Phosphorylation(uniprot:P28482)"))
}
