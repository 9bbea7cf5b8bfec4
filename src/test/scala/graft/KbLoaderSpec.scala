package graft

import graft.kg._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** KB-bundle-as-data specs: the built-in bundle round-trips through
  * render+load exactly, the taxonomy tree parser and its validations work,
  * and — the extensibility contract — a brand-new entity surface + KB entry
  * added purely as data files grounds a triple through the FULL pipeline
  * with no recompilation (the reference's runtime-TSV-KB behavior,
  * TsvIMKBFactory.scala:32-51 / ReachKBConstants.scala:46-97).
  */
class KbLoaderSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def write(dir: String, name: String, text: String): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, name),
      text.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  test("built-in bundle round-trips through render + load exactly") {
    val dir = tmpDir("kbrt")
    KbLoader.render(KbData.builtin, dir)
    val delta = KbLoader.load(dir)
    assert(delta.lexicon.isDefined && delta.kb.isDefined &&
      delta.stopList.isDefined && delta.taxonomyParents.isDefined)
    val back = KbLoader.merge(KbData.builtin, delta, replace = true)
    assert(back.lexicon == KbData.builtin.lexicon)
    assert(back.kb == KbData.builtin.kb)
    assert(back.stopList == KbData.builtin.stopList)
    assert(back.taxonomyParents == KbData.builtin.taxonomyParents)
  }

  test("taxonomy tree parser: nesting, ':' stripping, validations") {
    def parse(t: String) = KbLoader.parseTaxonomy(
      t.linesIterator.zipWithIndex.map { case (l, i) => (l, i + 1) }
        .filter(x => x._1.trim.nonEmpty && !x._1.trim.startsWith("#"))
        .toSeq, "taxonomy.yml")
    val p = parse(
      """# comment
        |Entity:
        |  Context:
        |    Species
        |    CellLine
        |  Site
        |Thing
        |  SubThing""".stripMargin)
    assert(p == Map("Context" -> "Entity", "Species" -> "Context",
      "CellLine" -> "Context", "Site" -> "Entity", "SubThing" -> "Thing"))
    // tabs rejected with a line number
    val e1 = intercept[KbLoader.KbFileError](parse("A\n\tB"))
    assert(e1.getMessage.contains("taxonomy.yml:2"))
    // conflicting second parent rejected (single inheritance)
    val e2 = intercept[KbLoader.KbFileError](parse("A\n  C\nB\n  C"))
    assert(e2.getMessage.contains("single inheritance"))
    // a cycle fails at merge (closure precompute) time
    intercept[IllegalArgumentException] {
      KbLoader.merge(KbData.builtin,
        KbLoader.KbDelta(None, None, None,
          Some(Map("A" -> "B", "B" -> "A"))), replace = false)
    }
  }

  test("seeded fuzz: 100 random bundles round-trip render ∘ load exactly") {
    val rnd = new scala.util.Random(20260820L)
    // surfaces/ids over a tame but representative alphabet (spaces, case,
    // digits, dash/slash/quote — the characters the built-in KB uses)
    def word(chars: String, n: Int): String =
      Seq.fill(1 + rnd.nextInt(n))(chars(rnd.nextInt(chars.length))).mkString
    def surface(): String =
      Seq.fill(1 + rnd.nextInt(3))(
        word("abcdefgXYZ0123-/'", 8)).mkString(" ")
    val labels = Seq("Gene_or_gene_product", "Family", "Complex",
      "Simple_chemical", "Species", "Site")
    for (i <- 1 to 100) {
      val lex = Seq.fill(rnd.nextInt(20))(
        (surface(), labels(rnd.nextInt(labels.size))))
      val kb = Seq.fill(rnd.nextInt(20))(graft.model.KBEntry(
        surface(), word("A-Z0-9", 8), if (rnd.nextBoolean()) "human" else "",
        word("abcdefgh", 6), rnd.nextInt(5) - 2,
        labels(rnd.nextInt(labels.size)), rnd.nextBoolean(), rnd.nextBoolean()))
      val stop = Seq.fill(rnd.nextInt(6))(word("abcdefgh", 6))
        .map(_.toLowerCase).toSet
      // taxonomy: a random forest — parent of node k is a random node < k
      val names = (0 until rnd.nextInt(12)).map(k => s"L${i}n$k" + word("abc", 3))
        .distinct
      val tax = names.zipWithIndex.drop(1).collect {
        case (n, k) if rnd.nextBoolean() =>
          n -> names(rnd.nextInt(k))
      }.toMap
      val data = KbData(lex, kb, stop, tax)
      val dir = tmpDir(s"kbfuzz$i")
      KbLoader.render(data, dir)
      val back = KbLoader.merge(data, KbLoader.load(dir), replace = true)
      assert(back == data, s"bundle $i failed to round-trip")
    }
  }

  test("render refuses a value that would reload as a comment or split " +
       "its row") {
    val b = KbData.builtin
    val e0 = b.kb.head
    val cases = Seq(
      ("lexicon.tsv", "#MEK9", b.copy(lexicon = b.lexicon :+ ("#MEK9" -> "Family"))),
      ("lexicon.tsv", "MEK\\t9", b.copy(lexicon = b.lexicon :+ ("MEK\t9" -> "Family"))),
      ("lexicon.tsv", "Fam\\rily", b.copy(lexicon = b.lexicon :+ ("MEK9" -> "Fam\rily"))),
      ("kb.tsv", "#MEK9", b.copy(kb = b.kb :+ e0.copy(text = "#MEK9"))),
      ("kb.tsv", "MEK\\n9", b.copy(kb = b.kb :+ e0.copy(text = "MEK\n9"))),
      ("kb.tsv", "P0\\t1", b.copy(kb = b.kb :+ e0.copy(id = "P0\t1"))),
      ("stoplist.txt", "#stop", b.copy(stopList = b.stopList + "#stop")),
      ("stoplist.txt", "st\\rop", b.copy(stopList = b.stopList + "st\rop")),
      ("taxonomy.yml", "#Label", b.copy(taxonomyParents =
        b.taxonomyParents + ("#Label" -> "Entity"))),
      ("taxonomy.yml", "La\\nbel", b.copy(taxonomyParents =
        b.taxonomyParents + ("La\nbel" -> "Entity"))))
    for ((file, shown, data) <- cases) {
      val dir = tmpDir("kbbad")
      val e = intercept[IllegalArgumentException](KbLoader.render(data, dir))
      assert(e.getMessage.contains(file) && e.getMessage.contains(shown),
        e.getMessage)
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, file)),
        s"$file written despite the refused value")
    }
    // '#' inside a row, or in a field that does not start the line, reloads
    // unchanged and stays allowed
    val ok = b.copy(lexicon = b.lexicon :+ ("MEK#9" -> "Family"),
      kb = b.kb :+ e0.copy(text = "MEK#9", id = "#P01"))
    val dir = tmpDir("kbhash")
    KbLoader.render(ok, dir)
    assert(KbLoader.merge(ok, KbLoader.load(dir), replace = true) == ok)
  }

  test("a mistyped --kb path fails loudly; so does a dir with none of the " +
       "four bundle files") {
    intercept[IllegalArgumentException](
      KbLoader.load("/nonexistent/kb/path"))
    val dir = tmpDir("kbempty")
    write(dir, "lexicon.txt", "WRONG-EXTENSION\n") // .txt, not .tsv
    val e = intercept[IllegalArgumentException](KbLoader.load(dir))
    assert(e.getMessage.contains("none of"))
  }

  test("taxonomy: flat-continuation idiom keeps the parent and nests new " +
       "children; render refuses a cyclic map") {
    // "C:" at root re-opens C (declaring no parent — no conflict, and no
    // detach: C keeps its parent A) so D nests under it
    val dir = tmpDir("kbroot")
    write(dir, "taxonomy.yml", "A:\n  C:\nC:\n  D:\n")
    assert(KbLoader.load(dir).taxonomyParents
      .contains(Map("C" -> "A", "D" -> "C")))
    intercept[IllegalArgumentException](
      KbLoader.render(KbData.builtin.copy(
        taxonomyParents = Map("A" -> "B", "B" -> "A")), tmpDir("kbcyc")))
  }

  test("a user-redefined generic_head_np pattern survives withLexiconHeads " +
       "(KB reload must not clobber data-defined rules)") {
    import BioRules._
    import Matcher.W
    val stock = BioRules.default
    // stock pattern IS rewritten by a new head set
    val re = stock.withLexiconHeads(Set("zzzz"))
    val rewritten = re.rules.collectFirst {
      case Rule("generic_head_np", _, _, List(_, W(r))) => r }
    assert(rewritten.contains("zzzz"))
    // a customized pattern is left alone
    val custom = stock.copy(rules = stock.rules.map {
      case r @ Rule("generic_head_np", _, _, List(det, W(_))) =>
        r.copy(pattern = List(det, W("receptor|ligand")))
      case r => r
    })
    val after = custom.withLexiconHeads(Set("zzzz"))
    val kept = after.rules.collectFirst {
      case Rule("generic_head_np", _, _, List(_, W(r))) => r }
    assert(kept.contains("receptor|ligand"))
  }

  test("a reference-format 2/3-column TSV KB file loads directly " +
       "(TsvIMKBFactory column order: text, id, species; lookup is " +
       "case-insensitive through the canonical key, TestTsvKBs semantics)") {
    val dir = tmpDir("kbrefmt")
    // the reference's CellLoc-style COL-2 / COL-3 rows, verbatim layout
    write(dir, "kb.tsv",
      "dendrite\tGO:0030425\n" +
        "telomere\tGO:0000781\n" +
        "shelterin\tGO:0070187\thuman\n")
    val entries = KbLoader.load(dir).kb.get
    assert(entries.map(e => (e.text, e.id, e.species)) == Seq(
      ("dendrite", "GO:0030425", ""),
      ("telomere", "GO:0000781", ""),
      ("shelterin", "GO:0070187", "human")))
    // defaults fill the engine-side columns
    assert(entries.forall(e => e.kb_rank == 0 && e.namespace == "user"))
    // case-insensitive lookup (imkb2.lookup("DENDRITE") / ("dendrite"))
    val idx = new Link.KbIndex(entries.map(_.copy(
      label = "Cellular_component")))
    for (t <- Seq("DENDRITE", "dendrite", "Dendrite"))
      assert(idx.resolve(t, "Cellular_component", "").id == "GO:0030425", t)
    assert(idx.resolve("NOT-IN-KB", "Cellular_component", "")
      .namespace == "uaz") // falls through to the failsafe, as lookup=None
  }

  test("Windows-authored bundles load unchanged: UTF-8 BOM + CRLF") {
    val dir = tmpDir("kbcrlf")
    write(dir, "lexicon.tsv",
      "\uFEFF# comment\r\nFOXO3\tGene_or_gene_product\r\nHOPE\r\n")
    write(dir, "taxonomy.yml", "\uFEFFA:\r\n  B:\r\n")
    val d = KbLoader.load(dir)
    assert(d.lexicon.contains(Seq(
      ("FOXO3", "Gene_or_gene_product"), ("HOPE", "Gene_or_gene_product"))))
    assert(d.taxonomyParents.contains(Map("B" -> "A")))
  }

  test("kb.tsv / lexicon.tsv errors carry file and line") {
    val dir = tmpDir("kberr")
    write(dir, "kb.tsv", "# header\nGOODPROT\tP00001\n\tmissing-text")
    val e = intercept[KbLoader.KbFileError](KbLoader.load(dir))
    assert(e.getMessage.startsWith("kb.tsv:3"))
    val dir2 = tmpDir("kberr2")
    write(dir2, "lexicon.tsv", "FOXO3\tGGP\textra\tfields")
    val e2 = intercept[KbLoader.KbFileError](KbLoader.load(dir2))
    assert(e2.getMessage.startsWith("lexicon.tsv:1"))
  }

  test("a data-added surface + KB entry grounds a triple through the full " +
       "pipeline; a data-added stop word and taxonomy label take effect") {
    import spark.implicits._
    val sc = spark.sparkContext
    val turns = spark.createDataset(Seq(
      Transcripts.mkTurn("kb1", 0, "user", "AKT1 phosphorylates FOXO3.")))

    // built-in KB: FOXO3 is not a known surface -> no grounded object
    val before = Pipeline.extract(spark, turns).edges
      .where(col("pred") === "Phosphorylation").collect()
    assert(!before.exists(_.getAs[String]("obj") == "uniprot:O43524"),
      "FOXO3 must be unknown to the built-in KB")

    val dir = tmpDir("kbdata")
    write(dir, "lexicon.tsv",
      "FOXO3\tGene_or_gene_product\nHOPE\tGene_or_gene_product\n")
    write(dir, "kb.tsv",
      "FOXO3\tO43524\thuman\tuniprot\t0\tGene_or_gene_product\ttrue\tfalse\n")
    write(dir, "stoplist.txt", "hope\n")
    write(dir, "taxonomy.yml", "AddModification:\n  Palmitoylation:\n")
    val cfg = KgConfig.default.withKb(dir) // extend built-ins
    assert(cfg.kb.lexicon.size == KbData.builtin.lexicon.size + 2)

    // the new surface grounds through the normal first-hit path and the
    // triples come out of the FULL pipeline run: "A phosphorylates B"
    // decomposes into a subject-less Phosphorylation of B plus A's
    // Positive_regulation of it (the reference's transitive-verb shape)
    val after = Pipeline.extract(spark, turns, cfg).edges.collect()
    def row(p: String) = after.filter(_.getAs[String]("pred") == p)
    assert(row("Phosphorylation")
      .exists(_.getAs[String]("obj") == "uniprot:O43524"),
      s"expected Phosphorylation of FOXO3(uniprot:O43524), got " +
        after.map(r => (r.getAs[String]("subj"), r.getAs[String]("pred"),
          r.getAs[String]("obj"))).mkString(", "))
    assert(row("Positive_regulation").exists(r =>
      r.getAs[String]("subj") == "uniprot:P31749" &&
        r.getAs[String]("obj").contains("uniprot:O43524")),
      "expected AKT1(uniprot:P31749) positively regulating the " +
        "phosphorylation of the data-added FOXO3")

    // stop-list-as-data: "HOPE" matches case-sensitively, but the stop
    // word blocks the auto title-case variant ("Hope" stays a word)
    val (bTrie, _, bG) = Broadcasts.all(sc, cfg)
    val trie = bTrie.value
    assert(trie.scan(Array("HOPE")).nonEmpty)
    assert(trie.scan(Array("Hope")).isEmpty)

    // taxonomy-as-data rides the grammar broadcast: the new label's
    // closure reaches Event through the data-added parent edge
    val tax = bG.value.taxonomy
    assert(tax.closure("Palmitoylation").contains("Event"))

    // the default config still runs on the built-in KB
    val reset = Pipeline.extract(spark, turns).edges
      .where(col("pred") === "Phosphorylation").collect()
    assert(!reset.exists(_.getAs[String]("obj") == "uniprot:O43524"))
  }
}
