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
    val n = Emit.MaxListPerKey + 200
    val edges = spark.range(n).select(
      org.apache.spark.sql.functions.lit("uniprot:P28482").as("subj"),
      org.apache.spark.sql.functions.lit("Positive_regulation").as("pred"),
      org.apache.spark.sql.functions.lit("Phosphorylation(uniprot:P31749)").as("obj"),
      org.apache.spark.sql.functions.lit("").as("site"),
      org.apache.spark.sql.functions.lit(false).as("negated"),
      org.apache.spark.sql.functions.lit(false).as("hypothesis"),
      org.apache.spark.sql.functions.format_string("c%05d", col("id")).as("conv_id"),
      org.apache.spark.sql.functions.lit(0).as("turn_idx"),
      org.apache.spark.sql.functions.format_string("evidence %05d", col("id")).as("evidence_text"),
      org.apache.spark.sql.functions.lit("r").as("found_by"),
      org.apache.spark.sql.functions.lit("phosphorylates").as("trigger_text"),
      org.apache.spark.sql.functions.lit("").as("ctx_species"),
      org.apache.spark.sql.functions.lit("").as("ctx_organ"),
      org.apache.spark.sql.functions.lit("").as("ctx_cell_line"),
      org.apache.spark.sql.functions.lit("").as("ctx_cell_type"))
    val row = Emit.arizonaTsv(edges).collect()
    assert(row.length === 1)
    assert(row.head.getAs[Long]("SEEN") === n.toLong, "SEEN counts all rows")
    val ev = row.head.getAs[String]("EVIDENCE").split(" \\| ")
    val seenIn = row.head.getAs[String]("SEEN_IN").split("\\|")
    assert(ev.length === Emit.MaxListPerKey, "evidence capped")
    assert(seenIn.length === Emit.MaxListPerKey, "conv ids capped")
    // deterministic selection: the lexicographically-first K survive
    assert(ev.head === "evidence 00000" &&
      ev.last === f"evidence ${Emit.MaxListPerKey - 1}%05d")
  }
}
