package graft

import graft.kg._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pipeline specs: the canon map, t2 P/R gate, determinism under
  * repartitioning, checkpoint resume == cold run.
  */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("canon map: a grounded id names its component") {
    val m = Canon.canonMap(Seq(("uaz:UAZ:x", "uniprot:B"),
      ("uaz:UAZ:x", "uaz:UAZ:a")))
    assert(m == Map("uaz:UAZ:x" -> "uniprot:B", "uaz:UAZ:a" -> "uniprot:B",
      "uniprot:B" -> "uniprot:B"))
  }

  test("canon map: uaz chains collapse onto their least node") {
    val m = Canon.canonMap(Seq(("uniprot:A", "uaz:UAZ:x"),
      ("uaz:UAZ:x", "uaz:UAZ:y"), ("uaz:UAZ:q", "uaz:UAZ:r")))
    assert(m("uaz:UAZ:y") == "uniprot:A")
    assert(m("uaz:UAZ:r") == "uaz:UAZ:q" && m("uaz:UAZ:q") == "uaz:UAZ:q")
  }

  test("canon map: a known<->known alias is not admitted") {
    assert(Canon.canonMap(Seq(("uniprot:A", "uniprot:B"))).isEmpty)
    // nor does it join the components of its two sides
    val m = Canon.canonMap(Seq(("uniprot:A", "uniprot:B"),
      ("uniprot:A", "uaz:UAZ:x"), ("uniprot:B", "uaz:UAZ:y")))
    assert(m("uaz:UAZ:x") == "uniprot:A" && m("uaz:UAZ:y") == "uniprot:B")
  }

  test("canon map: a 60-edge uaz path is one component") {
    // min-label propagation capped at 50 rounds left the far end unmerged
    val path = (0 until 60).map(i =>
      (f"uaz:UAZ:n$i%02d", f"uaz:UAZ:n${i + 1}%02d"))
    val m = Canon.canonMap(path)
    assert(m.size == 61 && m.values.toSet == Set("uaz:UAZ:n00"))
  }

  test("t2 corpus: triple P/R >= 0.95 gate (expect exact)") {
    val (turns, expected) = Transcripts.corpus(spark, 200, seed = 7)
    val res = Pipeline.extract(spark, turns)
    val pr = Score.score(res.edges.cache(), expected.toDF())
    info(pr.toString)
    assert(pr.precision >= 0.95 && pr.recall >= 0.95, pr.toString)
  }

  test("extraction is invariant under input repartitioning") {
    val (turns, _) = Transcripts.corpus(spark, 40, seed = 11)
    val e1 = Pipeline.extract(spark, turns).edges
    val e2 = Pipeline.extract(spark,
      turns.repartition(17, col("ts"))).edges
    assert(Score.score(e1, e2).f1 == 1.0)
  }

  test("resume from every stage boundary reproduces the cold run") {
    val dir = java.nio.file.Files.createTempDirectory("kgresume").toString
    val (turns, _) = Transcripts.corpus(spark, 30, seed = 3)
    // nodes carry a collect_set column: compare it sorted
    def nodeRows(r: Pipeline.Result) = r.nodes
      .withColumn("alias_surface_forms", sort_array(col("alias_surface_forms")))
      .collect().map(_.toSeq).toSet
    val cold = Pipeline.run(spark, turns, s"$dir/cold", resume = false)
    val coldKeys = Score.keysOf(cold.edges).collect().toSet
    val coldNodes = nodeRows(cold)
    assert(coldNodes.nonEmpty)
    val io = graft.io.TableIO(s"$dir/warm")
    // cold-populate the warm dir once
    Pipeline.run(spark, turns, s"$dir/warm", resume = false)
    for (stage <- Seq("nodes", "edges", "canon_map", "stage_b",
                      "mentions_raw")) {
      // simulate a kill after the preceding stage: wipe this stage and the
      // materialized tables, then resume. A nodes-only wipe leaves edges
      // complete; the materialize stage must still rewrite both.
      io.delete(stage)
      if (stage != "nodes") { io.delete("edges"); io.delete("nodes") }
      val resumed = Pipeline.run(spark, turns, s"$dir/warm", resume = true)
      assert(Score.keysOf(resumed.edges).collect().toSet == coldKeys,
        s"resume after wiping $stage diverged")
      assert(nodeRows(resumed) == coldNodes,
        s"nodes after wiping $stage diverged")
      // lineage completeness: a resumed run must keep the prior runs'
      // lineage (not overwrite with only the current accumulator) and record
      // real rows_in for the extraction stage
      val lin = resumed.lineage.collect()
      assert(lin.exists(_.getAs[String]("stage") == "mentions"),
        s"lineage lost the mentions stage after resuming past $stage")
      assert(lin.exists(r => r.getAs[String]("stage") == "mentions" &&
        r.getAs[Long]("rows_in") > 0),
        "mentions lineage must track rows_in")
      // wiping stage_b re-runs the fold under a NEW run_id — the merged
      // table must now hold rows from both runs
      if (stage == "stage_b")
        assert(lin.map(_.getAs[String]("run_id")).distinct.size >= 2,
          "lineage must retain rows from more than one run after a resume " +
            "that re-executes a stage")
    }
  }

  test("repeated extract calls leave the session cache entry count " +
       "unchanged") {
    val (turns, _) = Transcripts.corpus(spark, 40, seed = 11)
    val cache = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    // numCachedEntries is private[sql] in Scala, public in the bytecode
    def entries: Int = cache.getClass.getMethod("numCachedEntries")
      .invoke(cache).asInstanceOf[Int]
    val before = entries
    for (i <- 1 to 3) {
      assert(Pipeline.extract(spark, turns).edges.count() > 0)
      assert(entries == before,
        s"extract call $i left ${entries - before} cache entries behind")
    }
  }

  test("alias-defs conv-keyed join path is equivalent to the broadcast path") {
    // golden includes g23 (alias used before its parenthetical definition),
    // so both paths must exercise the conversation-wide rescan
    val turns = Transcripts.goldenTurns(spark)
    val broadcastEdges =
      Score.keysOf(Pipeline.extract(spark, turns).edges).collect().toSet
    val (bTrie, _, bG) = Broadcasts.all(spark.sparkContext)
    val n = Pipeline.aliasDefsDs(spark, turns, bTrie, bG).count()
    assert(n > 0)
    // 0 and n - 1 force the distributed join fallback; n is the largest
    // set the broadcast path still takes whole from the limit probe
    for (thr <- Seq(0L, n - 1, n)) {
      val edges = Score.keysOf(
        Pipeline.extract(spark, turns, KgConfig.default, thr).edges)
        .collect().toSet
      assert(edges == broadcastEdges,
        s"edges at alias threshold $thr (of $n defs) diverged from the " +
          "broadcast-path edges")
    }
  }

  test("a crossConvAliases pool past the alias threshold fails loudly, " +
       "naming the definition count and the threshold") {
    val turns = Transcripts.goldenTurns(spark)
    val (bTrie, _, bG) = Broadcasts.all(spark.sparkContext)
    val n = Pipeline.aliasDefsDs(spark, turns, bTrie, bG).count()
    val pooled = KgConfig(crossConvAliases = true)
    val e = intercept[IllegalStateException](
      Pipeline.extract(spark, turns, pooled, n - 1))
    assert(e.getMessage.contains(s"$n alias definitions") &&
      e.getMessage.contains(s"threshold ${n - 1}"), e.getMessage)
    // at the threshold the whole pool is broadcast
    assert(Score.keysOf(Pipeline.extract(spark, turns, pooled, n).edges)
      .collect().toSet ==
      Score.keysOf(Pipeline.extract(spark, turns, pooled).edges).collect().toSet)
  }

  test("lineage rows_out sums equal the stage table counts (run, extract)") {
    // extract's lineage is complete only because stage_b's local checkpoint
    // is eager: it runs both instrumented stages in full before the
    // accumulator is read; this pins that
    val dir = java.nio.file.Files.createTempDirectory("kglineage").toString
    val (turns, _) = Transcripts.corpus(spark, 40, seed = 13)
    val io = graft.io.TableIO(dir)
    val cold = Pipeline.run(spark, turns, dir, resume = false)
    val nMentions = io.read(spark, "mentions_raw").count()
    val nStageB = io.read(spark, "stage_b").count()
    assert(nMentions > 0 && nStageB > 0)
    for ((path, lineage) <- Seq("run" -> cold.lineage,
                                "extract" -> Pipeline.extract(spark, turns).lineage)) {
      val sums = lineage.groupBy("stage").agg(sum("rows_out"))
        .as[(String, Long)].collect().toMap
      assert(sums.get("mentions").contains(nMentions),
        s"$path: mentions lineage rows_out $sums vs $nMentions mentions")
      assert(sums.get("link_coref_emit").contains(nStageB),
        s"$path: fold lineage rows_out $sums vs $nStageB stage_b rows")
    }
  }

  test("cross-conversation alias application (multi-document batch, sent61)") {
    // reference: Alias.canonizeAliases(mentions, docs) — an alias defined in
    // one document creates mentions for its surface in EVERY document of the
    // batch. conv A defines the nonce; conv B only uses it.
    val turns = spark.createDataset(Seq(
      Transcripts.mkTurn("cA", 0, "user", "23peM (ASPP1) is a common protein."),
      Transcripts.mkTurn("cB", 0, "user", "We examine the role of 23peM."),
      Transcripts.mkTurn("cB", 1, "user", "23peM phosphorylates ERK2.")))
    // default (per-conversation document scope): conv B has no 23peM entity,
    // so the theme-only phosphorylation stands but no regulation forms
    val off = Pipeline.extract(spark, turns).edges
      .filter(col("conv_id") === "cB")
      .select("subj", "pred", "obj").as[(String, String, String)]
      .collect().toSet
    assert(off == Set(("", "Phosphorylation", "uniprot:P28482")),
      s"per-conv scope must not see the alias, got $off")
    val edges = Pipeline.extract(spark, turns,
        KgConfig(crossConvAliases = true)).edges
      .filter(col("conv_id") === "cB")
      .select("subj", "pred", "obj").as[(String, String, String)]
      .collect().toSet
    // the injected 23peM mention grounds to ASPP1 through the alias edge
    // (global CC collapses the nonce's failsafe id onto uniprot:Q96KQ4)
    assert(edges.contains(("", "Phosphorylation", "uniprot:P28482")), edges)
    assert(edges.contains(("uniprot:Q96KQ4", "Positive_regulation",
      "Phosphorylation(uniprot:P28482)")), edges)
  }

  test("Policy4 reads across a fold-group edge: the species in the next " +
       "group fills the slot of the group's last turn") {
    val n = Pipeline.chunkTurns
    val turns = (0 until n - 1).map(i =>
      Transcripts.mkTurn("p4edge", i, "user", "Thanks.")) ++ Seq(
      Transcripts.mkTurn("p4edge", n - 1, "user", "ERK2 was phosphorylated at T669."),
      Transcripts.mkTurn("p4edge", n, "user", "We studied mouse fibroblasts."))
    val got = Pipeline.extract(spark, spark.createDataset(turns),
        KgConfig(contextPolicy = ConvProcessor.PolicyBidirectional))
      .edges.select("turn_idx", "pred", "obj", "ctx_species")
      .as[(Int, String, String, String)].collect().toSet
    assert(got == Set((n - 1, "Phosphorylation", "uniprot:P63085",
      "taxonomy:10090")))
  }

  test("a multi-group corpus: the fold's rows_in counts every mention " +
       "once, not its halo, context or scope copies") {
    val dir = java.nio.file.Files.createTempDirectory("kghalo").toString
    val (turns, _) = Transcripts.corpus(spark, 20, seed = 13, megaTurns = 2500)
    val res = Pipeline.run(spark, turns, dir, resume = false)
    val ms = graft.io.TableIO(dir).read(spark, "mentions_raw")
      .as[graft.model.MentionRow]
    // mentions within haloTurns before a group edge: each also goes to the
    // next group as halo
    assert(ms.filter(m => m.conv_id == "mega" && m.turn_idx % Pipeline.chunkTurns >=
      Pipeline.chunkTurns - KgCore.haloTurns).count() > 0)
    val rowsIn = res.lineage.filter(col("stage") === "link_coref_emit")
      .agg(sum("rows_in")).as[Long].head()
    assert(rowsIn == ms.count())
  }

  test("an alias in the first group grounds a use in the next, however " +
       "partitioned") {
    val n = Pipeline.chunkTurns
    val turns = (Seq("Zorp1 (also called AKT1) phosphorylates ERK2.") ++
      Seq.fill(n)("Thanks.") :+ "Zorp1 phosphorylates MEK1.").zipWithIndex
      .map { case (t, i) => Transcripts.mkTurn("alias_split", i, "user", t) }
    val parts = KgCore.compile(KgConfig.default)
    val whole = KgCore.fold(KgCore.mentions(turns, parts, KgConfig.default),
      parts, KgConfig.default, Int.MaxValue)
    // the use in group 1 takes the grounded side's candidates
    assert(whole.flatMap(_.linked).exists(m => m.turn_idx == n + 1 &&
      m.text == "Zorp1" && m.candidates.exists(_.id == "P31749")))
    val acc = new org.apache.spark.util.CollectionAccumulator[graft.model.Lineage]
    spark.sparkContext.register(acc)
    // round-robin: a turn's mentions land in different partitions; the
    // fold finds the alias arguments by id
    val ms = Pipeline.stageMentions(spark, spark.createDataset(turns), "t", acc)
      .repartition(5)
    val got = Pipeline.stageB(spark, ms, "t", acc).toJSON.collect().sorted
    assert(got.toSeq == spark.createDataset(whole).toJSON.collect().sorted.toSeq)
  }

  test("Spark jobs: a cold run takes 14, a fully-resumed run none") {
    // the cold run's jobs include the fold's one job that finds the
    // conversations past their first group, and an AQE map-stage job per
    // exchange of each write; a resumed run reads every table back without
    // a job
    val dir = java.nio.file.Files.createTempDirectory("kgjobs").toString
    val (turns, _) = Transcripts.corpus(spark, 200, seed = 42, megaTurns = 1000)
    def jobs(resume: Boolean) = SparkJobs.during(spark.sparkContext,
      "pipeline-jobs")(Pipeline.run(spark, turns, dir, resume = resume))
    assert(jobs(resume = false) == 14)
    assert(jobs(resume = true) == 0)
  }

  test("Spark jobs: extract takes 6 at call time, and stageB on an unheld " +
       "input only its probe") {
    // extract: the alias-path probe, the hold of mentions_raw, the fold's
    // probe, the hold of stage_b (with its exchange's map-stage job) and
    // the canon collect; edges and nodes stay lazy
    val (turns, _) = Transcripts.corpus(spark, 40, seed = 13)
    val sc = spark.sparkContext
    assert(SparkJobs.during(sc, "extract-jobs")(
      Pipeline.extract(spark, turns)) == 6)
    // stageB holds nothing: a computed input is read again by the fold
    val acc = new org.apache.spark.util.CollectionAccumulator[graft.model.Lineage]
    sc.register(acc)
    val ms = Pipeline.stageMentions(spark, turns, "t", acc)
    assert(SparkJobs.during(sc, "stageb-jobs")(
      Pipeline.stageB(spark, ms, "t", acc)) == 1)
  }

  test("mega-conversation chunking preserves non-boundary semantics") {
    val (mega, _) = Transcripts.corpus(spark, 0, seed = 5, megaTurns = 2500)
    val res = Pipeline.extract(spark, mega)
    // salted grouping: three chunks processed independently; events exist in
    // every chunk's turn range
    val perChunk = res.edges.groupBy(floor(col("turn_idx") / Pipeline.chunkTurns))
      .count().collect()
    assert(perChunk.length == 3)
  }
}
