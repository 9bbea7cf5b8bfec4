package graft

import graft.kg._
import graft.kg.Json._
import graft.model.{LinkedMention, Node}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The in-process exporters (what `Serve` runs) ≡ the Spark exporters, and
  * the Catalyst pieces they reproduce: `xxhash64`, `to_json` and the UTF-8
  * string order.
  */
class ExportParitySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val turns = Transcripts.golden._1
  private lazy val sparkRun = Pipeline.extract(spark, spark.createDataset(turns))
  /** Core stage_b rows of the whole corpus, conversation by conversation. */
  private lazy val coreRows: Map[String, Seq[StageBRow]] = {
    val parts = KgCore.compile(KgConfig.default)
    turns.groupBy(_.conv_id).map { case (c, ts) =>
      c -> KgCore.stageB(ts, parts, KgConfig.default) }
  }
  private lazy val core = KgExport.materialize(coreRows.values.flatten.toSeq)

  private def assertSameLines(what: String, got: Seq[String],
                              want: Seq[String]): Unit = {
    assert(want.nonEmpty, s"$what: no rows")
    assert(got.size == want.size, s"$what: row counts")
    if (got != want) fail(s"$what: first diff " +
      (got.diff(want) ++ want.diff(got)).head)
  }

  test("golden corpus: FRIES documents are byte-identical, per conversation") {
    assert(coreRows.size == 293)
    val want = Emit.friesFrameGraph(sparkRun.stageB.toDF(),
        Some(spark.createDataset(turns).toDF()))
      .as[(String, String)].collect().toSeq.sorted
    val got = coreRows.toSeq.flatMap { case (c, rows) =>
      KgExport.friesDocs(KgExport.linked(rows),
        Some(turns.filter(_.conv_id == c)))
    }.sorted
    assertSameLines("fries", got.map(_.toString), want.map(_.toString))
  }

  test("golden corpus: edges (with edge_id), nodes and cards match") {
    val (edges, nodes) = core
    assertSameLines("edges", spark.createDataset(edges).toJSON.collect()
      .toSeq.sorted, sparkRun.edges.toJSON.collect().toSeq.sorted)
    def nodeRows(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("alias_surface_forms", sort_array(col("alias_surface_forms")))
      .toJSON.collect().toSeq.sorted
    assertSameLines("nodes", nodeRows(spark.createDataset(nodes).toDF()),
      nodeRows(sparkRun.nodes))
    assertSameLines("cards", KgExport.indexCards(edges, nodes),
      Emit.indexCardJson(Emit.indexCardFlat(sparkRun.edges, sparkRun.nodes))
        .as[String].collect().toSeq.sorted)
  }

  test("a node past MaxListPerKey surfaces: stageMaterialize equals " +
       "materialize and keeps the top-ranked surfaces' texts") {
    // 1,250 distinct surfaces of one canonical node: form i under uniprot:P1
    // (even i, 2 mentions) or uaz:UAZ:x, its alias (odd i, 1 mention), and
    // for even i < 100 a second surface of the same text displayed "Gene".
    // Ranked by count, then text, then display label, the first
    // MaxListPerKey are the 650 two-mention surfaces and odd i < 700.
    val cap = KgExport.MaxListPerKey
    def form(i: Int) = f"form $i%04d"
    def mention(i: Int, copy: Int, display: String) = {
      val (ns, id) = if (i % 2 == 0) ("uniprot", "P1") else ("uaz", "UAZ:x")
      val m = LinkedMention(i * 4L + copy, s"c${(i + copy) % 9}", 0, 0, 0, 1,
        Array("Gene_or_gene_product"), form(i), "r", false, "", Array.empty,
        false, false, ns, id, "", display_label = display)
      StageBRow("linked", Some(m), None, None)
    }
    val surfaces = (0 until cap + 200).map(i =>
      (i, if (i % 2 == 0) 2 else 1, "Protein")) ++
      (0 until 100 by 2).map(i => (i, 2, "Gene"))
    assert(surfaces.size > cap)
    val rows = new scala.util.Random(11).shuffle(surfaces.flatMap {
      case (i, n, display) => (0 until n).map(c =>
        mention(i, if (display == "Gene") c + 2 else c, display))
    }) :+ StageBRow("alias", None, None,
      Some(AliasEdge("uaz:UAZ:x", "uniprot:P1", "c0")))
    val b = spark.createDataset(rows)
    val (_, nodes) = Pipeline.stageMaterialize(spark, b,
      Pipeline.stageCanon(spark, b))
    val got = nodes.as[Node].collect().toSeq
    val want = KgExport.materialize(rows)._2
    assert(got.size == 1 && want.size == 1)
    def fields(n: Node) =
      n.copy(alias_surface_forms = null) -> n.alias_surface_forms.toSeq
    assert(fields(got.head) == fields(want.head))
    val (node, forms) = fields(got.head)
    assert(node.canon_id == "uniprot:P1" && node.display == form(0) &&
      node.display_label == "Gene")
    assert(forms == ((0 until cap + 200 by 2) ++ (1 until 700 by 2))
      .sorted.map(form))
  }

  test("edge_id is Catalyst's xxhash64 on empty, non-ASCII, " +
       "supplementary-plane and null strings") {
    val rows = Seq(
      ("", "", "", "", false, false, "", 0),
      ("uniprot:P28482", "Phosphorylation", "uniprot:Q02750", "T185", true,
        false, "c1", 7),
      ("é", "Δ-Binding", "café&naïve", "", false, true, "Ω", -3),
      ("𝔸", "𝔸𝔹", "x😀y", "\u0000", true, true, "g", 1 << 20),
      (null, "Binding", null, null, false, false, "c2", 1))
    val want = rows.toDF("subj", "pred", "obj", "site", "negated",
        "hypothesis", "conv_id", "turn_idx")
      .select(xxhash64(col("subj"), col("pred"), col("obj"), col("site"),
        col("negated"), col("hypothesis"), col("conv_id"), col("turn_idx")))
      .as[Long].collect().toSeq
    assert(rows.map(r => KgExport.edgeId(r._1, r._2, r._3, r._4, r._5, r._6,
      r._7, r._8)) == want)
  }

  test("Json.render escapes like to_json, drops null fields and writes " +
       "null array elements") {
    val texts = Seq("quote \" mark", "back \\ slash", "bell \b form \f",
      "ctl \u0001 \u001f del \u007f", "new\nline\ttab\r", "slash /",
      "café Δ ü", "𝔸 😀", "line sep \u2028 \u2029", "")
    val want = texts.toDF("s").select(to_json(struct(col("s"),
        array(col("s"), lit(null).cast("string")).as("a"),
        lit(null).cast("string").as("n"), lit(7L).as("l"),
        lit(false).as("b"))))
      .as[String].collect().toSeq
    val got = texts.map(s => render(obj("s" -> str(s),
      "a" -> Arr(Seq(str(s), Null)), "n" -> Null, "l" -> Num(7L),
      "b" -> Bool(false))))
    assert(got == want)
  }

  test("Json.utf8 and Json.order sort as Catalyst's sort_array does") {
    val strs = Seq("b", "", "a", "Ａ", "𝔸", "é", "ab", "e")
    val want = Seq(strs).toDF("xs").select(sort_array(col("xs")))
      .as[Seq[String]].head()
    assert(strs.sorted(utf8) == want)
    assert(strs.map(str).sorted(order) == want.map(str))
    // structs field by field, arrays element-wise then by length
    val pairs = Seq((2, Seq("a")), (1, Seq("b", "a")), (1, Seq("b")),
      (1, Seq.empty[String]))
    val wantPairs = Seq(pairs).toDF("ps").select(sort_array(col("ps")))
      .as[Seq[(Int, Seq[String])]].head()
    def v(p: (Int, Seq[String])) = obj("i" -> Num(p._1), "s" -> Arr(p._2.map(str)))
    assert(pairs.map(v).sorted(order) == wantPairs.map(v))
  }
}
