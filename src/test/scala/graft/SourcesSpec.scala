package graft

import graft.kg._
import graft.sources.TranscriptSources
import org.scalatest.funsuite.AnyFunSuite

/** Source adapters (SURVEY.md §2.1 S1-S3) + export sinks (S8-S9). */
class SourcesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("dsv and jsonl sources normalize to the turn schema and extract identically") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("kgsrc").toString
    val golden = Transcripts.goldenTurns(spark)
    golden.toDF().write.mode("overwrite")
      .option("delimiter", "\t").option("header", "true")
      .csv(s"$dir/tsv")
    golden.toDF().write.mode("overwrite").json(s"$dir/jsonl")

    val fromTsv = TranscriptSources.dsv(spark, s"$dir/tsv")
    val fromJson = TranscriptSources.jsonl(spark, s"$dir/jsonl")
    assert(fromTsv.count() == golden.count())
    assert(fromJson.count() == golden.count())
    // extraction parity: same triples from either source
    val eGold = Score.keysOf(Pipeline.extract(spark, golden).edges).collect().toSet
    val eTsv = Score.keysOf(Pipeline.extract(spark, fromTsv).edges).collect().toSet
    val eJson = Score.keysOf(Pipeline.extract(spark, fromJson).edges).collect().toSet
    assert(eTsv == eGold)
    assert(eJson == eGold)
  }

  test("DSV delimiter sniffing and quote-aware splitting " +
       "(TestDSVParser vectors)") {
    // extension -> delimiter (DSVParser.getDelimiter:92-96)
    assert(TranscriptSources.dsvDelimiter("PMC1234335.csv") == ",")
    assert(TranscriptSources.dsvDelimiter("paper.tsv") == "\t")
    intercept[IllegalArgumentException] {
      TranscriptSources.dsvDelimiter("paper.nxml")
    }
    // the reference's funky CSV line splits into exactly three columns, the
    // quoted comma staying inside the text column (TestDSVParser:23-28)
    val funky = "1,2,\"Furthermore, phosphorylated X does Y\""
    val cols = TranscriptSources.splitDsvLine(funky, ",", 3)
    assert(cols.length == 3)
    assert(cols(2) == "Furthermore, phosphorylated X does Y") // quote-trimmed
    // tabs split plainly
    assert(TranscriptSources.splitDsvLine("a\tb\tc", "\t", 3).toSeq ==
      Seq("a", "b", "c"))
  }

  test("positional DSV entries: sectionId column and sections-to-ignore " +
       "filter (DSVParser.toFriesEntries)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("kgdsv").toString
    java.nio.file.Files.writeString(
      java.nio.file.Path.of(s"$dir/paper.csv"),
      """doc,chunk,section,text
        |d1,0,abstract,"MEK1 phosphorylates ERK2."
        |d1,1,references,"Smith et al. 2015."
        |d1,2,body,"AKT1 binds GSK3."
        |""".stripMargin)
    val turns = TranscriptSources.dsvEntries(spark, s"$dir/paper.csv",
      sectionIdColumn = 2, textColumn = 3,
      sectionsToIgnore = Set("references"))
    val rows = turns.orderBy("turn_idx").collect()
    assert(rows.map(_.role).toSeq == Seq("abstract", "body"))
    assert(rows.head.text == "MEK1 phosphorylates ERK2.")
    assert(rows.forall(_.conv_id == "d1"))
  }

  test("plain-text source: one file = one single-turn conversation") {
    val dir = java.nio.file.Files.createTempDirectory("kgtxt").toString
    java.nio.file.Files.writeString(
      java.nio.file.Path.of(s"$dir/doc1.txt"), "MEK1 phosphorylates ERK2.")
    val turns = TranscriptSources.text(spark, dir)
    val rows = turns.collect()
    assert(rows.length == 1 && rows.head.conv_id == "doc1.txt" &&
      rows.head.turn_idx == 0)
    val edges = Pipeline.extract(spark, turns).edges
    assert(edges.count() == 2) // Phosphorylation + Positive_regulation
  }

  test("fries json and arizona tsv sinks are well-formed and deterministic") {
    import spark.implicits._
    val edges = Pipeline.extract(spark, Transcripts.goldenTurns(spark)).edges.cache()
    val fj = Emit.friesJson(edges).as[String].collect()
    assert(fj.length == edges.count())
    assert(fj.forall(s => s.startsWith("{") && s.contains("\"frame-type\":\"event-mention\"")))
    val az = Emit.arizonaTsv(edges)
    // reference column set (ArizonaOutputter.scala:14-38)
    for (c <- Seq("INPUT", "OUTPUT", "CONTROLLER", "EVENT_ID", "EVENT_LABEL",
                  "NEGATED", "INDIRECT", "CONTEXT_SPECIES", "CONTEXT_ORGAN",
                  "CONTEXT_CELL_LINE", "CONTEXT_CELL_TYPE",
                  "TRANSLOCATION_DESTINATION", "TRIGGERS", "SEEN", "EVIDENCE",
                  "SEEN_IN"))
      assert(az.columns.contains(c), s"missing Arizona column $c")
    // EVIDENCE must be a sortable scalar (the r1 array column crashed the
    // driver compare harness)
    assert(az.schema("EVIDENCE").dataType.typeName == "string")
    val a1 = az.collect().map(_.toSeq).toSet
    val a2 = Emit.arizonaTsv(edges).collect().map(_.toSeq).toSet
    assert(a1 == a2)
  }

  test("fries frame graph: event args reference entity frames in the same " +
       "document") {
    import spark.implicits._
    val turns = Transcripts.goldenTurns(spark)
    val b = Pipeline.extract(spark, turns).stageB
    val docs = Emit.friesFrameGraph(b.toDF())
      .select("conv_id", "fries").as[(String, String)].collect()
    assert(docs.nonEmpty)
    val idRe = """"frame-id":(-?\d+)""".r
    val argRe = """"arg":(-?\d+)""".r
    docs.foreach { case (conv, json) =>
      val frameIds = idRe.findAllMatchIn(json).map(_.group(1)).toSet
      val argIds = argRe.findAllMatchIn(json).map(_.group(1)).toSet
      assert(argIds.subsetOf(frameIds),
        s"$conv: dangling frame references ${argIds -- frameIds}")
    }
    assert(docs.exists(_._2.contains("\"frame-type\":\"event-mention\"")))
    assert(docs.exists(_._2.contains("\"frame-type\":\"entity-mention\"")))
  }

  test("fries frame graph matches the reference document layout " +
       "(TestFriesOutput pins: 3 sections, meta, subtypes, argument types, " +
       "is-direct, xrefs)") {
    import spark.implicits._
    // TestFriesOutput text1 ("AKT1 phosphorylates PTHR2") adapted to the
    // lexicon: 4 mentions = 2 proteins + 1 phospho + 1 pos-reg
    val turns = spark.createDataset(Seq(
      Transcripts.mkTurn("fr", 0, "user", "AKT1 phosphorylates ERK2")))
    val b = Pipeline.extract(spark, turns).stageB
    val doc = Emit.friesFrameGraph(b.toDF(), Some(turns.toDF()))
      .as[(String, String)].collect().head._2
    def count(lit: String): Int =
      java.util.regex.Pattern.quote(lit).r.findAllIn(doc).size
    // three frame-collection sections, object-meta in each
    for (sec <- Seq("sentences", "entities", "events"))
      assert(doc.contains(s""""$sec":{"object-type":"frame-collection""""))
    assert(count("\"organization\":\"graft\"") == 3)
    assert(count("\"doc-id\":\"fr\"") == 3)
    // passage + sentence frames carry the full text
    assert(doc.contains("\"frame-type\":\"passage\""))
    assert(doc.contains("\"frame-type\":\"sentence\""))
    assert(count("\"text\":\"AKT1 phosphorylates ERK2\"") >= 2)
    // 2 event frames with prettified subtypes; trigger only on the
    // BioEventMention (the split regulation is a RelationMention — exactly
    // ONE trigger key, reference TestFriesOutput "have phosphorylation
    // trigger")
    assert(doc.contains("\"subtype\":\"positive-regulation\""))
    assert(doc.contains("\"subtype\":\"phosphorylation\""))
    assert(doc.contains("\"trigger\":\"phosphorylates\""))
    assert(count("\"trigger\":") == 1)
    // argument-type: 1 event reference (controlled) + 2 entity references
    assert(count("\"argument-type\":\"event\"") == 1)
    assert(count("\"argument-type\":\"entity\"") == 2)
    assert(count("\"type\":\"controller\"") == 1)
    assert(count("\"type\":\"controlled\"") == 1)
    assert(count("\"type\":\"theme\"") == 1)
    // the split SIMPLE event is direct (DarpaActions splitSimpleEvents
    // isDirect=true); the regulation carries no is-direct at all — exactly
    // one is-direct key, and it is true (reference "regulation marked as
    // direct" pins frames \\ is-direct == Seq(true))
    assert(count("\"is-direct\":") == 1)
    assert(doc.contains("\"is-direct\":true"))
    // 2 protein entity frames with uniprot db-reference xrefs
    assert(count("\"type\":\"protein\"") == 2)
    assert(count("\"namespace\":\"uniprot\"") == 2)
    assert(count("\"object-type\":\"db-reference\"") == 2)
  }

  test("fries frame graph chunks mega-conversations into bounded documents") {
    import spark.implicits._
    val turns = Transcripts.goldenTurns(spark)
    val b = Pipeline.extract(spark, turns).stageB.toDF()
    val whole = Emit.friesFrameGraph(b).as[(String, String)].collect()
    // tiny chunk size: conversations with turns past the boundary must split
    // into multiple part-documents, part 0 keeping the bare conv_id
    val chunked = Emit.friesFrameGraph(b, chunkTurns = 1)
      .as[(String, String)].collect()
    assert(chunked.length > whole.length)
    assert(chunked.exists(_._2.contains("\"document\":\"g08#1\"")))
    assert(chunked.exists(_._2.contains("\"document\":\"g08\"")))
    // every frame survives the chunking (same multiset of frame ids)
    val idRe = """"frame-id":(-?\d+)""".r
    def ids(rows: Array[(String, String)]) =
      rows.flatMap(r => idRe.findAllMatchIn(r._2).map(_.group(1))).sorted.toSeq
    assert(ids(chunked) == ids(whole))
    // single-chunk conversations are byte-identical to the unchunked output
    val w = whole.filter(_._1 == "g01").map(_._2).toSet
    val c = Emit.friesFrameGraph(b, chunkTurns = 1000)
      .as[(String, String)].collect().filter(_._1 == "g01").map(_._2).toSet
    assert(w == c)
  }

  test("debug text sink renders one sorted line per linked mention") {
    import spark.implicits._
    val turns = Transcripts.goldenTurns(spark)
    val b = Pipeline.extract(spark, turns).stageB
    val lines = Emit.debugText(b.toDF()).as[String].collect()
    assert(lines.nonEmpty)
    assert(lines.exists(_.startsWith("EVENT ")))
    assert(lines.exists(l => l.startsWith("ENTITY ") && l.contains("uniprot:")))
    assert(lines.exists(_.contains("mods=")), "mods must render in debug lines")
    assert(Emit.debugText(b.toDF()).as[String].collect().toSeq == lines.toSeq)
  }
}
