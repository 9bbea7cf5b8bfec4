package graft

import graft.kg._
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Assembly TSV / MITRE filter / serial-json sinks (SURVEY.md §2.1 S9-extra;
  * reference: ReachCLI.scala:209-218 assembly-tsv, ExportFilters.scala,
  * SerialJsonOutput.scala) plus an IndexCard cross-conversation regression.
  */
class EmitSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def pipe(turns: Seq[(String, Int, String)]) = {
    val r = Pipeline.extract(spark, Transcripts.fixtureTurns(spark, turns))
    (r.edges, r.stageB.toDF(), r.canonMap)
  }

  test("assembly tsv: event + entity rows with reference column set") {
    val (edges, b, canon) = pipe(Seq(
      ("a1", 0, "MEK1 phosphorylates ERK2 on Ser222.")))
    val out = Emit.assemblyTsv(edges, b, canon).cache()
    for (c <- Seq("INPUT", "OUTPUT", "CONTROLLER", "EVENT_ID", "EVENT_LABEL",
                  "NEGATED", "INDIRECT", "TRIGGERS", "SEEN", "EVIDENCE",
                  "SEEN_IN", "PRECEDED_BY"))
      assert(out.columns.contains(c), s"missing assembly column $c")
    val rows = out.collect().map(r =>
      (r.getAs[String]("INPUT"), r.getAs[String]("OUTPUT"),
       r.getAs[String]("CONTROLLER"), r.getAs[String]("EVENT_LABEL")))
    // PTM suffix + site on the event row (AssemblyExporter PTM abbreviations)
    assert(rows.exists { case (i, o, _, l) =>
      l == "Phosphorylation" && o == s"$i.p@Ser222" })
    // entity rows: INPUT == OUTPUT == "text::gid", controller NONE
    assert(rows.exists { case (i, o, c, l) =>
      l == "entity" && i == "MEK1::uniprot:Q02750" && o == i && c == "NONE" })
    // regulation row references the controlled event key
    assert(rows.exists { case (i, _, c, l) =>
      l == "Positive_regulation" && i.startsWith("Phosphorylation(") &&
        c == "uniprot:Q02750" })
    // deterministic
    assert(Emit.assemblyTsv(edges, b, canon).collect().map(_.toSeq).toSet ==
      out.collect().map(_.toSeq).toSet)
  }

  test("assembly tsv wires PRECEDED_BY from the precedence sieves") {
    val (edges, b, canon) = pipe(Seq(
      ("p1", 0, "MEK1 phosphorylates ERK2."),
      ("p1", 1, "As a result, ERK2 activates STAT3.")))
    val out = Emit.assemblyTsv(edges, b, canon).collect()
    val act = out.filter(r => r.getAs[String]("EVENT_LABEL") ==
      "Positive_activation").head
    val pb = act.getAs[String]("PRECEDED_BY")
    assert(pb.nonEmpty, "activation must carry predecessor ids")
    val ids = out.map(_.getAs[String]("EVENT_ID")).toSet
    assert(pb.split("\\|").forall(ids.contains),
      "PRECEDED_BY ids must reference emitted rows")
    // the predecessor is the phosphorylation-side row, not itself
    assert(!pb.split("\\|").contains(act.getAs[String]("EVENT_ID")))
  }

  test("MITRE filter: seen>=3, >=2 docs, no activations/family/uaz; " +
       "PRECEDED_BY pruned to survivors") {
    val fixture = Seq(
      ("m1", 0, "MEK1 phosphorylates ERK2."),
      ("m1", 1, "MEK1 phosphorylates ERK2."),
      ("m2", 0, "MEK1 phosphorylates ERK2."),
      ("m1", 2, "AKT1 activates mTOR."),
      ("m1", 3, "AKT1 activates mTOR."),
      ("m2", 1, "AKT1 activates mTOR."),
      ("m1", 4, "RAF phosphorylates MEK1."),
      ("m1", 5, "RAF phosphorylates MEK1."),
      ("m2", 2, "RAF phosphorylates MEK1."),
      ("m1", 6, "XYZQ99 phosphorylates AKT1."),
      ("m1", 7, "XYZQ99 phosphorylates AKT1."),
      ("m2", 3, "XYZQ99 phosphorylates AKT1."),
      ("m1", 8, "STAT3 binds EGFR."))
    val (edges, b, canon) = pipe(fixture)
    val all = Emit.assemblyTsv(edges, b, canon).collect()
    val mitre = Emit.assemblyTsv(edges, b, canon, mitre = true).collect()
    assert(mitre.length < all.length)
    val labels = mitre.map(_.getAs[String]("EVENT_LABEL")).toSet
    assert(!labels.exists(_.endsWith("activation")), "activations are invalid")
    val text = mitre.map(r => r.getAs[String]("INPUT") + " " +
      r.getAs[String]("OUTPUT") + " " + r.getAs[String]("CONTROLLER"))
    assert(!text.exists(_.contains("pfam:")), "family groundings excluded")
    assert(!text.exists(_.contains("uaz:")), "unresolved groundings excluded")
    assert(mitre.forall(_.getAs[Long]("SEEN") >= 3))
    assert(mitre.forall(_.getAs[String]("SEEN_IN").split("\\|").length >= 2))
    // single-seen binding is gone; the 3x-seen regulation survives
    assert(!text.exists(_.contains("Binding")))
    assert(mitre.exists(_.getAs[String]("EVENT_LABEL") == "Positive_regulation"))
    // PRECEDED_BY only references surviving rows
    val ids = mitre.map(_.getAs[String]("EVENT_ID")).toSet
    mitre.foreach { r =>
      val pb = r.getAs[String]("PRECEDED_BY")
      if (pb.nonEmpty) assert(pb.split("\\|").forall(ids.contains))
    }
  }

  test("serial json: one well-formed object per linked mention, args resolve") {
    import spark.implicits._
    val (_, b, _) = pipe(Seq(("s1", 0, "MEK1 phosphorylates ERK2.")))
    val rows = Emit.serialJson(b)
      .select("mention_id", "mention_json").as[(Long, String)].collect()
    assert(rows.length == b.filter(col("kind") === "linked").count())
    assert(rows.forall(_._2.startsWith("{")))
    val ids = rows.map(_._1.toString).toSet
    val argRe = """\{"role":"[^"]+","id":"(-?\d+)"\}""".r
    rows.foreach { case (_, json) =>
      argRe.findAllMatchIn(json).foreach(m =>
        assert(ids.contains(m.group(1)), s"dangling argument id ${m.group(1)}"))
    }
    assert(rows.exists(_._2.contains("\"type\":\"CorefEventMention\"")))
    assert(rows.exists(_._2.contains("\"type\":\"CorefTextBoundMention\"")))
    // grounding carries the ordered candidate list with head = winner
    val mek = rows.filter(_._2.contains("\"text\":\"MEK1\"")).head._2
    assert(mek.contains("\"candidates\":[{\"namespace\":\"uniprot\",\"id\":\"Q02750\""))
  }

  test("indexcard: regulation in one conversation must not suppress a bare " +
       "modification in another (conv-scoped anti-join regression)") {
    import spark.implicits._
    val turns = spark.createDataset(Seq(
      Transcripts.mkTurn("bare", 0, "user", "ERK2 is phosphorylated."),
      Transcripts.mkTurn("reg", 0, "user", "MEK1 phosphorylates ERK2.")))
    val r = Pipeline.extract(spark, turns)
    val cards = Emit.indexCardFlat(r.edges, r.nodes).collect()
    val bare = cards.filter(_.getAs[String]("pmc_id") == "bare")
    assert(bare.exists(c =>
      c.getAs[String]("interaction_type") == "adds_modification" &&
      c.getAs[String]("participant_a_text") == ""),
      "agentless modification row must survive a same-key regulation elsewhere")
    val reg = cards.filter(_.getAs[String]("pmc_id") == "reg")
    assert(reg.forall(_.getAs[String]("participant_a_text") != ""),
      "in-conversation consumption must still suppress the bare event row")
  }

  test("interaction exports bound per-key evidence fan-in at MaxListPerKey " +
       "while SEEN still counts every occurrence") {
    import spark.implicits._
    // one viral interaction seen in 1,200 conversations with distinct
    // evidence — without the cap this forms a single unbounded output row
    val cap = KgExport.MaxListPerKey
    val n = cap + 200
    val evidence = (i: Int) => f"evidence $i%05d"
    val conv = (i: Int) => f"c$i%05d"
    def edge(i: Int, convId: String) = {
      val (subj, pred, obj) = ("uniprot:P28482", "Positive_regulation",
        "Phosphorylation(uniprot:P31749)")
      EdgeRow(subj, pred, obj, "", false, false, convId, i % 7, evidence(i),
        "r", "phosphorylates", "", "", "", "", "", 0, 0, "", "",
        KgExport.edgeId(subj, pred, obj, "", false, false, convId, i % 7))
    }
    // shuffled, so the cap must pick by order, not by arrival
    val order = new scala.util.Random(7).shuffle((0 until n).toList)
    val edges = order.map(i => edge(i, conv(i))).toDS().toDF()
    val nodes = spark.emptyDataset[graft.model.Node].toDF()
    val stageB = spark.emptyDataset[StageBRow].toDF()
    val canon = Seq.empty[(String, String)].toDF("gid", "canon_id")

    // a list holds the lexicographically-first `cap` of its key's values
    def isCapped(list: String, sep: String, fmt: Int => String): Unit = {
      val xs = list.split(sep)
      assert(xs.length === cap, s"${xs.length} items, not capped at $cap")
      assert(xs.head === fmt(0) && xs.last === fmt(cap - 1))
    }

    val az = Emit.arizonaTsv(edges).collect()
    assert(az.length === 1)
    assert(az.head.getAs[Long]("SEEN") === n.toLong, "SEEN counts all rows")
    isCapped(az.head.getAs[String]("EVIDENCE"), " \\| ", evidence)
    isCapped(az.head.getAs[String]("SEEN_IN"), "\\|", conv)

    val cmu = Emit.cmuTsv(edges, nodes).collect()
    assert(cmu.length === 1)
    isCapped(cmu.head.getAs[String]("EVIDENCE"), " \\| ", evidence)
    isCapped(cmu.head.getAs[String]("PAPER_ID"), "\\|", conv)

    for (mitre <- Seq(false, true)) {
      val asm = Emit.assemblyTsv(edges, stageB, canon, mitre).collect()
      assert(asm.length === 1, s"mitre=$mitre")
      assert(asm.head.getAs[Long]("SEEN") === n.toLong, s"mitre=$mitre")
      isCapped(asm.head.getAs[String]("EVIDENCE"), " \\| ", evidence)
      isCapped(asm.head.getAs[String]("SEEN_IN"), "\\|", conv)
    }

    // a card's key holds its conversation, so its viral key is one
    // conversation repeating the interaction
    val oneConv = order.map(edge(_, conv(0))).toDS().toDF()
    val cards = Emit.indexCardFlat(oneConv, nodes).collect()
    assert(cards.length === 1)
    assert(cards.head.getAs[Long]("seen") === n.toLong, "seen counts all rows")
    isCapped(cards.head.getAs[String]("evidence"), " \\| ", evidence)
  }
}
