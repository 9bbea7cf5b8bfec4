package graft

import graft.kg._

/** Production entry point (spark-submit): run the KG-construction pipeline
  * over a transcript corpus with stage checkpoints in --workdir.
  *
  * Usage:
  *   graft.Main --workdir DIR [--input PATH [--format parquet|dsv|jsonl|text]]
  *              [--convs N] [--mega N] [--seed N]
  *              [--rules FILE [--replace-rules]] [--kb DIR [--replace-kb]]
  *              [--context-policy backward|bidirectional]
  *              [--golden] [--no-resume] [--score]
  *
  * --input reads an existing turns table (conv_id, turn_idx, role, text,
  * tool, ts) via the TranscriptSources adapters — the production path for a
  * real Iceberg/parquet corpus. --golden uses the hand-traced golden corpus;
  * otherwise a deterministic synthetic corpus of N conversations (+ optional
  * mega-conversation for skew) is generated distributedly. --score prints
  * triple P/R against the corpus oracle (generated/golden corpora only).
  * Re-running with the same --workdir resumes from completed stage
  * checkpoints unless --no-resume.
  *
  * --rules loads a RuleDsl grammar file on top of the built-in grammar
  * (--replace-rules swaps it wholesale) — the spark-submit face of the
  * reference's reloadable YAML grammar (RuleReader.reload / ApiRuler).
  * --kb loads a KbLoader bundle directory (lexicon.tsv / kb.tsv /
  * stoplist.txt / taxonomy.yml) on top of the built-in entity knowledge
  * (--replace-kb swaps each present file's component wholesale) — the
  * spark-submit face of the reference's runtime-loaded TSV KBs.
  * --context-policy bidirectional enables the Policy4 context window.
  * The rules, KB and policy make up one [[graft.kg.KgConfig]] for the run.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k -> v
    }.toMap
    val flags = args.filter(a => a.startsWith("--")).toSet
    val workDir = opts.getOrElse("--workdir",
      sys.error("--workdir required"))
    val nConvs = opts.getOrElse("--convs", "100").toInt
    val mega = opts.getOrElse("--mega", "0").toInt
    val seed = opts.getOrElse("--seed", "42").toLong
    val spark = Sessions.getOrCreate("graft-kg-pipeline")

    def mode(replace: Boolean): String =
      if (replace) " (replacing built-ins)" else " (extending built-ins)"
    val replaceRules = flags.contains("--replace-rules")
    val replaceKb = flags.contains("--replace-kb")
    val policyCfg = KgConfig(contextPolicy =
      opts.getOrElse("--context-policy", ConvProcessor.PolicyBackward))
    val rulesCfg = opts.get("--rules").fold(policyCfg) { path =>
      val g = RuleDsl.parse(new String(
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
        java.nio.charset.StandardCharsets.UTF_8))
      println(s"[graft] loaded ${g.rules.size} rules + " +
        s"${g.depRules.size} dep rules from $path" + mode(replaceRules))
      policyCfg.withRules(g, replaceRules)
    }
    val cfg = opts.get("--kb").fold(rulesCfg) { dir =>
      val c = rulesCfg.withKb(dir, replaceKb)
      println(s"[graft] loaded KB bundle from $dir: " +
        s"${c.kb.lexicon.size} lexicon surfaces, ${c.kb.kb.size} KB " +
        s"entries, ${c.kb.stopList.size} stop words, " +
        s"${c.kb.taxonomyParents.size} taxonomy edges" + mode(replaceKb))
      c
    }

    val t0 = System.nanoTime()
    val (turns, expected) = opts.get("--input") match {
      case Some(path) =>
        import graft.sources.TranscriptSources
        val t = opts.getOrElse("--format", "parquet") match {
          case "parquet" => TranscriptSources.parquet(spark, path)
          case "dsv" => TranscriptSources.dsv(spark, path)
          case "jsonl" => TranscriptSources.jsonl(spark, path)
          case "text" => TranscriptSources.text(spark, path)
          case f => sys.error(s"unknown --format $f")
        }
        (t, spark.emptyDataset(
          org.apache.spark.sql.Encoders.product[graft.model.Triple]))
      case None =>
        if (flags.contains("--golden"))
          (Transcripts.goldenTurns(spark), Transcripts.goldenExpected(spark))
        else Transcripts.corpus(spark, nConvs, seed, mega)
    }

    val nTurns = turns.count()
    val res = Pipeline.run(spark, turns, workDir,
      resume = !flags.contains("--no-resume"), cfg = cfg)
    val nEdges = res.edges.count()
    val nNodes = res.nodes.count()
    val secs = (System.nanoTime() - t0) / 1e9
    println(f"[graft] turns=$nTurns edges=$nEdges nodes=$nNodes " +
      f"wall=$secs%.1fs throughput=${nTurns / secs}%.1f turns/sec")
    res.lineage.groupBy("stage").count().orderBy("stage").show(20, false)

    if (flags.contains("--score")) {
      val pr = Score.score(res.edges, expected.toDF())
      println(s"[graft] triple score: $pr")
    }
    spark.stop()
  }
}
