package graft

import graft.ops._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Training-data op specs over the driver testdata (sf0.001). */
class OpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  private val dir = "/root/testdata/sf0.001"
  private lazy val docs = spark.read.parquet(s"$dir/documents.parquet").cache()
  private lazy val emb = spark.read.parquet(s"$dir/embeddings.parquet").cache()

  test("exact dedup keeps one row per distinct text") {
    val d = Dedup.exact(docs)
    assert(d.count() == docs.select("text").distinct().count())
    assert(d.agg(sum("dupes")).as[Long].head() == docs.count())
  }

  test("minhash LSH candidates recover exact trigram-jaccard pairs") {
    val thr = 0.35
    val exact = Dedup.jaccardPairs(docs, thr, ngram = 3)
      .select("a", "b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minhashLsh(docs, thr, ngram = 3)
      .select("a", "b").as[(Long, Long)].collect().toSet
    // verification step guarantees precision = 1
    assert(lsh.subsetOf(exact))
    // banding (32 hashes / 16 bands) should catch nearly all pairs >= thr
    if (exact.nonEmpty) {
      val recall = lsh.size.toDouble / exact.size
      info(f"minhash-LSH recall=$recall%.3f over ${exact.size} true pairs")
      assert(recall >= 0.8, f"recall $recall too low")
    }
  }

  test("dedup clusters: transitive closure, survivor = min id, paths agree") {
    // A~B, B~C, plus an isolated pair D~E: closure must yield TWO clusters,
    // not three pairs — {1,2,3} keep 1 and {10,11} keep 10
    val pairs = Seq((2L, 1L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val expect = Set((1L, 1L, 1), (1L, 2L, 0), (1L, 3L, 0),
      (10L, 10L, 1), (10L, 11L, 0))
    val driver = Dedup.clusters(pairs)
      .as[(Long, Long, Int)].collect().toSet
    assert(driver == expect)
    // distributed label-prop path (threshold 0) must be bit-identical
    val dist = Dedup.clusters(pairs, driverThreshold = 0L)
      .as[(Long, Long, Int)].collect().toSet
    assert(dist == expect)
    // and on real data: every cluster has exactly one survivor, the min id
    val real = Dedup.clusters(Dedup.minhashLsh(docs, 0.35, bands = 32))
    val perCluster = real.groupBy("cluster_id")
      .agg(sum("keep").as("nKeep"), min("doc_id").as("minId"),
        first("cluster_id").as("cid"))
      .as[(Long, Long, Long, Long)].collect()
    assert(perCluster.forall(c => c._2 == 1L && c._3 == c._1))
  }

  test("dedup clusters order doc ids numerically on both paths") {
    // as decimal strings "10" < "9"; the numeric survivor is 9
    val pairs = Seq((9L, 10L), (10L, 11L)).toDF("a", "b")
    val expect = Set((9L, 9L, 1), (9L, 10L, 0), (9L, 11L, 0))
    for (thr <- Seq(100000L, 0L))
      assert(Dedup.clusters(pairs, driverThreshold = thr)
        .as[(Long, Long, Int)].collect().toSet == expect, s"threshold $thr")
  }

  test("dedup clusters: a component past the round cap fails loudly on " +
       "the distributed path") {
    // the 62-edge path 0-100-101-...-160-50: 50 rounds leave 0 and 50 as
    // two survivors of one component
    val path = (0L +: (100L to 160L) :+ 50L).sliding(2)
      .map(p => (p(0), p(1))).toSeq
    assert(path.size == 62)
    val pairs = path.toDF("a", "b")
    assert(Dedup.clusters(pairs).where(col("keep") === 1)
      .select("doc_id").as[Long].collect().toSeq == Seq(0L))
    val e = intercept[IllegalStateException](
      Dedup.clusters(pairs, driverThreshold = 0L).collect())
    assert(e.getMessage.contains("50 rounds"), e.getMessage)
  }

  test("decontamination flags quoted eval items, spares clean docs") {
    val eval = Seq((100L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val train = Seq(
      // quotes the whole 8-token eval item inside a longer page
      (1L, "intro words alpha beta gamma delta epsilon zeta eta theta outro"),
      // shares a 7-token prefix only — no 8-gram in common
      (2L, "alpha beta gamma delta epsilon zeta eta DIFFERENT tail here"),
      (3L, "completely unrelated text with many many tokens of its own"))
      .toDF("doc_id", "text")
    val hits = Dedup.contamination(train, eval, ngram = 8, threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(hits == Set((1L, 100L, 1.0)))
    // and over the sf corpus with planted leakage (the contract-query
    // construction): every source doc of an eval prefix must flag itself
    val evalSet = docs.filter(col("doc_id") % 83 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        substring(col("text"), 1, 200).as("text"))
    val hit2 = Dedup.contamination(docs, evalSet, ngram = 8, threshold = 0.5)
      .as[(Long, Long, Double)].collect()
    val selfHits = hit2.filter(h => h._1 + 1000000L == h._2).map(_._1).toSet
    assert(hit2.nonEmpty && selfHits.nonEmpty)
    assert(hit2.forall(h => h._3 >= 0.5 && h._3 <= 1.0))
  }

  test("shinglesKernel is gram-for-gram identical to the Catalyst shingles") {
    for (n <- Seq(3, 8)) {
      val fromSql = docs
        .select(col("doc_id"), Dedup.shingles(col("text"), n).as("s"))
        .as[(Long, Seq[String])].collect().toMap
      val fromKernel = docs.select("doc_id", "text").as[(Long, String)]
        .collect()
        .map { case (id, t) => id -> Dedup.shinglesKernel(t, n).toSeq }.toMap
      assert(fromSql == fromKernel, s"n=$n")
    }
    // short-doc window: fewer tokens than n -> one all-tokens gram
    assert(Dedup.shinglesKernel("a b", 8).toSeq == Seq("a b"))
    assert(Dedup.shinglesKernel("", 8).isEmpty)
    // whitespace-edge parity (ADVICE r4): Spark/DuckDB trim strips SPACES
    // only, so leading \n\t survives into an empty leading token — Java
    // String.trim would silently drop it and diverge from the oracle
    // semantics. Locale pin: lowercase must be Locale.ROOT.
    val tricky = Seq(
      (1L, "\n\tHello WORLD again\t"),
      (2L, "  plain spaced doc  "),
      (3L, "mid\t\ntab separated words"),
      (4L, "İstanbul I TITLE case")).toDF("doc_id", "text")
    for (n <- Seq(1, 2, 3)) {
      val sql = tricky
        .select(col("doc_id"), Dedup.shingles(col("text"), n).as("s"))
        .as[(Long, Seq[String])].collect().toMap
      val kern = tricky.select("doc_id", "text").as[(Long, String)].collect()
        .map { case (id, t) => id -> Dedup.shinglesKernel(t, n).toSeq }.toMap
      assert(sql == kern, s"whitespace-edge parity n=$n")
    }
  }

  test("BPE token counting: true greedy merge loop, merges-as-data, " +
       "normalization parity") {
    import TextAnalysis._
    // the ordering counterexample that separates true BPE from a
    // sequential replace-per-merge pass: ("ab","c") ranks BEFORE ("a","b"),
    // but only becomes applicable AFTER the later-ranked merge fires.
    // True BPE: abc -> [ab, c] -> [abc] (1 token); a sequential pass would
    // stop at [ab, c] (2 tokens).
    val tricky = Map(("ab", "c") -> 0, ("a", "b") -> 1)
    assert(bpeTokenizeWord("abc", tricky).toSeq == Seq("abc"))
    // non-overlapping left-to-right merge of the chosen pair
    assert(bpeTokenizeWord("aaa", Map(("a", "a") -> 0)).toSeq ==
      Seq("aa", "a"))
    assert(bpeTokenizeWord("", Map.empty).isEmpty)
    // merges file format: rank = line order, comments/blanks skipped
    val merges = parseBpeMerges("# c\nt h\n\nth e\n")
    assert(merges == Seq(("t", "h"), ("th", "e")))
    assert(bpeTokenizeWord("the", merges.zipWithIndex.toMap).toSeq ==
      Seq("the"))
    intercept[IllegalArgumentException](parseBpeMerges("a b c"))
    // counts run through the shared normTokens (spaces-only trim pinned in
    // the shingles parity test): tab/newline edges never add words
    val df = Seq((1L, "the lower band"), (2L, "\tthe the\n"))
      .toDF("doc_id", "text")
    val counted = bpeTokenCounts(df,
      parseBpeMerges("t h\nth e\ni n\na n\nan d\ne r\nl o\nlo w"))
    val got = counted.as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(got.toSeq == Seq((1L, 3L, 5L), (2L, 2L, 2L)))
    // 100 TB shape: one narrow kernel pass over the scan — no shuffle
    val plan = counted.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), "BPE counting must stay narrow")
  }

  test("quality classifier: weights-as-data parsing, linear score, " +
       "narrow plan") {
    import TextAnalysis._
    val (bias, w) = parseQualityWeights(
      "# c\nbias -1.0\nlen_norm 2.0\ndistinct_ratio 0.5\n")
    assert(bias == -1.0 && w == Map("len_norm" -> 2.0,
      "distinct_ratio" -> 0.5))
    intercept[IllegalArgumentException](parseQualityWeights("typo_feat 1.0"))
    intercept[IllegalArgumentException](parseQualityWeights("bias x"))
    // hand-check: "a b c" -> n_tokens 3 -> len_norm 0.03, distinct 1.0
    // score = -1.0 + 2.0*0.03 + 0.5*1.0 = -0.44; "a a a a" -> distinct
    // 0.25 -> score = -1.0 + 2.0*0.04 + 0.5*0.25 = -0.795
    val d = Seq((1L, "a b c"), (2L, "a a a a")).toDF("doc_id", "text")
    val r = qualityClassify(d, bias, w, threshold = -0.5)
      .as[(Long, Double, Boolean)].collect().sortBy(_._1)
    assert(r.toSeq == Seq((1L, -0.44, true), (2L, -0.795, false)), r.toSeq)
    // 100 TB shape: narrow projection, zero shuffles
    val plan = qualityClassify(d, bias, w).queryExecution.executedPlan
      .toString
    assert(!plan.contains("Exchange"), "quality filter must stay narrow")
  }

  test("redaction: URL-first precedence, counts chained, placeholders stable") {
    val d = Seq(
      (1L, "mail me at a.b+c@ex-ample.org or see https://h.io/p?u=x@y.zz end"),
      (2L, "server 10.0.0.1 and 192.168.255.3 but not 1.2.3.4567 digits"),
      (3L, "plain text, no pii at all")).toDF("doc_id", "text")
    val r = TextAnalysis.redact(d).as[(Long, Long, Long, Long, String)]
      .collect().sortBy(_._1)
    // doc 1: the x@y.zz inside the URL is consumed by <URL>, not <EMAIL>
    assert(r(0)._2 == 1L && r(0)._3 == 1L && r(0)._4 == 0L)
    assert(r(0)._5 == "mail me at <EMAIL> or see <URL> end")
    // doc 2: \b guards — 1.2.3.4567 is not an IPv4
    assert(r(1)._2 == 0L && r(1)._3 == 0L && r(1)._4 == 2L)
    assert(r(1)._5 == "server <IP> and <IP> but not 1.2.3.4567 digits")
    assert(r(2)._5 == "plain text, no pii at all")
  }

  test("simhash pairs are within the hamming bound and symmetric-free") {
    val p = Dedup.simhashPairs(docs, 10).collect()
    assert(p.forall(r => r.getAs[Long]("hamming") <= 10))
    assert(p.forall(r => r.getAs[Long]("a") < r.getAs[Long]("b")))
  }

  test("brute-force ANN self-consistency and LSH recall") {
    val queries = emb.filter(col("vec_id") < 20)
    val brute = Similarity.bruteTopK(emb, queries, 10)
    assert(brute.groupBy("qid").count().collect().forall(_.getLong(1) == 10))
    val lsh = Similarity.lshTopK(emb, queries, 10)
    val b = brute.select("qid", "neighbor_id").as[(Long, Long)].collect().toSet
    val l = lsh.select("qid", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (b intersect l).size.toDouble / b.size
    info(f"LSH ANN recall@10 = $recall%.3f")
    // observed ~0.89; a gate at 0.3 would let a real regression pass silently
    // (VERDICT r1) — 0.8 matches the driver-checked ann_lsh contract gate
    assert(recall >= 0.8, f"LSH recall $recall too low")
  }

  test("IVF ANN recall and determinism") {
    val queries = emb.filter(col("vec_id") < 20)
    val brute = Similarity.bruteTopK(emb, queries, 10)
      .select("qid", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf1 = Similarity.ivfTopK(emb, queries, 10)
      .select("qid", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (brute intersect ivf1).size.toDouble / brute.size
    info(f"IVF ANN recall@10 = $recall%.3f")
    assert(recall >= 0.8, f"IVF recall $recall too low")
    // the 6dp-rounded centroids make the quantizer reproducible
    val ivf2 = Similarity.ivfTopK(emb, queries, 10)
      .select("qid", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(ivf1 == ivf2, "IVF result not deterministic across runs")

    // build-once / query-many: a persisted index searches identically
    // after a save + load round trip (and identically to the one-shot
    // path, which is build ∘ search by construction)
    val idx = Similarity.buildIvfIndex(emb)
    val dir = java.nio.file.Files.createTempDirectory("ivfidx").toString
    Similarity.saveIvfIndex(idx, dir)
    val loaded = Similarity.loadIvfIndex(spark, dir)
    assert(loaded.assign == idx.assign)
    assert(loaded.centroids.map(_.toSeq).toSeq ==
      idx.centroids.map(_.toSeq).toSeq, "centroids must round-trip exactly")
    val viaLoaded = Similarity.ivfSearch(loaded, emb, queries, 10)
      .select("qid", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(viaLoaded == ivf1, "persisted index must search identically")
  }

  test("IVF k-means++ seeding: recall holds on a clustered corpus") {
    // 8 tight clusters in 16-dim: the shape where smallest-id seeding puts
    // several seeds in one cluster and recall collapses for queries in the
    // clusters that got none. Deterministic generation, no RNG.
    def h(a: Long, b: Long): Double =
      (java.lang.Math.floorMod(
        (a * 0x9e3779b97f4a7c15L + b * 0xbf58476d1ce4e5b9L) >>> 17,
        2000L).toDouble / 1000.0) - 1.0
    val dim = 16
    val centers = Array.tabulate(8)(c => Array.tabulate(dim)(d => h(c, d)))
    val vecs = (0L until 400L).map { id =>
      val c = (id % 8).toInt
      val v = Array.tabulate(dim)(d =>
        (centers(c)(d) + 0.08 * h(id + 1000, d)).toFloat)
      (id, v)
    }
    val cdf = vecs.toDF("vec_id", "embedding")
    val queries = cdf.filter(col("vec_id") < 24) // 3 queries per cluster
    val brute = Similarity.bruteTopK(cdf, queries, 10)
      .select("qid", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(cdf, queries, 10)
      .select("qid", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (brute intersect ivf).size.toDouble / brute.size
    info(f"clustered IVF recall@10 = $recall%.3f")
    // the round-3 gate was 0.885 on the uniform sf corpus; the spread
    // seeding must at least hold that bar on the adversarial clustered shape
    assert(recall >= 0.885, f"clustered IVF recall $recall too low")
  }

  test("fingerprints are deterministic and non-trivial") {
    val f1 = TextAnalysis.fingerprint(docs).select("doc_id", "fingerprint")
      .as[(Long, Seq[Long])].collect().toMap
    val f2 = TextAnalysis.fingerprint(docs).select("doc_id", "fingerprint")
      .as[(Long, Seq[Long])].collect().toMap
    assert(f1 == f2)
    assert(f1.values.forall(_.nonEmpty))
  }

  test("quality scores are bounded and langid scores count markers") {
    val q = TextAnalysis.quality(docs)
    assert(q.filter(col("quality_score") < 0 || col("quality_score") > 1).count() == 0)
    val l = TextAnalysis.langId(docs)
    // synthetic docs are OLAP word salad containing 'the'/'a' -> en markers hit
    assert(l.filter(col("score_en") > 0).count() > 0)
  }

  test("multimodal stub decode is deterministic, batched, and normalized") {
    val media = Multimodal.attachMedia(docs)
    val f1 = Multimodal.decodeFeatures(spark, media).collect()
      .map(r => r.doc_id -> r.features.toSeq).toMap
    val f2 = Multimodal.decodeFeatures(spark, media.repartition(7)).collect()
      .map(r => r.doc_id -> r.features.toSeq).toMap
    assert(f1 == f2)
    // histogram features sum to ~1
    assert(f1.values.forall(f => math.abs(f.sum - 1.0f) < 1e-3))
    // resize respects aspect ratio and bounds
    val rs = Multimodal.resizeMeta(media, 224, 224).collect()
    rs.foreach { r =>
      assert(r.getAs[Int]("out_width") <= 224 && r.getAs[Int]("out_height") <= 224)
    }
  }

  test("text search: tf-idf ranks rare-term docs first; conjunctive mode " +
       "requires all terms; bm25 agrees on the clear winner") {
    val corpus = Seq(
      (1L, "spark shuffle spark partition spark executor"),
      (2L, "spark partition join broadcast"),
      (3L, "filter scan filter scan filter scan"),
      (4L, "join join join broadcast shuffle"),
      (5L, "vector index vector search")).toDF("doc_id", "text")
    val idx = TextSearch.index(corpus)
    // postings: tf counted per (term, doc)
    assert(idx.filter(col("term") === "spark" && col("doc_id") === 1)
      .head().getAs[Long]("tf") == 3)
    val any = TextSearch.search(idx, 5, Seq("spark", "join"), topK = 5)
      .collect()
    // doc 1 (3x spark) beats doc 2 (1x spark + 1x join): idf(spark)=idf(join)
    assert(any.head.getAs[Long]("doc_id") == 1L)
    assert(any.map(_.getAs[Long]("doc_id")).toSet == Set(1L, 2L, 4L))
    // conjunctive: only doc 2 has BOTH terms
    val all = TextSearch.search(idx, 5, Seq("spark", "join"), topK = 5,
      mode = "all").collect()
    assert(all.map(_.getAs[Long]("doc_id")).toSeq == Seq(2L))
    // "vector" only in doc 5
    val v = TextSearch.search(idx, 5, Seq("vector"), topK = 1).collect()
    assert(v.head.getAs[Long]("doc_id") == 5L)
    // bm25: same clear winner on the rare term; the SearchIndex carries
    // corpus stats from build time so the per-query call runs NO driver
    // actions (verified by a job-count listener around the lazy call)
    val built = TextSearch.buildIndex(corpus)
    assert(built.nDocs == 5L)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          s: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    val bPlan =
      try {
        val p = TextSearch.searchBm25(built, Seq("vector"), topK = 1)
        Thread.sleep(500) // listener bus is async; nothing should arrive
        assert(jobs.get() == 0,
          "searchBm25 must not run driver actions per call")
        p
      } finally spark.sparkContext.removeSparkListener(listener)
    assert(bPlan.collect().head.getAs[Long]("doc_id") == 5L)
    // stopwords and 1-char tokens never enter the index
    assert(idx.filter(col("term").isin(TextSearch.stopwords: _*)).count() == 0)

    // build-once persistence: a saved + loaded index searches identically
    // (TF-IDF, BM25, and phrase), and the stats survive the round trip
    val dir = java.nio.file.Files.createTempDirectory("searchidx").toString
    TextSearch.saveIndex(built, dir)
    val loaded = TextSearch.loadIndex(spark, dir)
    assert(loaded.nDocs == built.nDocs && loaded.avgDl == built.avgDl)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    assert(rows(TextSearch.search(loaded.postings, loaded.nDocs,
        Seq("spark", "join"), topK = 5)) ==
      rows(TextSearch.search(built.postings, built.nDocs,
        Seq("spark", "join"), topK = 5)))
    assert(rows(TextSearch.searchBm25(loaded, Seq("vector"), topK = 1)) ==
      rows(TextSearch.searchBm25(built, Seq("vector"), topK = 1)))
  }

  test("text search: phrase mode matches consecutive raw positions only") {
    val corpus = Seq(
      (1L, "hash join beats merge join here"),   // 1x "hash join"
      (2L, "join hash order"),                   // terms present, not adjacent
      (3L, "hash join and hash join again"),     // 2x ("and" is a stopword
                                                 //     but positions are RAW)
      (4L, "the hash of the join"),              // stopword between -> no hit
      (5L, "hash join")).toDF("doc_id", "text")  // 1x, exact doc
    val idx = TextSearch.index(corpus)
    val hits = TextSearch.searchPhrase(idx, Seq("hash", "join"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // doc 3 scores 2; docs 1 and 5 score 1; docs 2 and 4 never match —
    // raw positions mean a skipped stopword breaks adjacency, as in text
    assert(hits == Seq((3L, 2L), (1L, 1L), (5L, 1L)))
    // three-term phrase crosses two joins
    val tri = TextSearch.searchPhrase(idx, Seq("beats", "merge", "join"))
      .collect().map(_.getLong(0)).toSeq
    assert(tri == Seq(1L))
    // unindexable phrase terms are rejected, not silently dropped
    intercept[IllegalArgumentException] {
      TextSearch.searchPhrase(idx, Seq("the", "join"))
    }
  }

  test("repetition: hand-traced Gopher covers on a crafted doc; pass gates") {
    // "a b a b a b c": top-2gram "a b" x3 -> 9 chars; dup-2: "a b"(9)+"b a"(6)
    // -> norm_chars=13; no 5-gram repeats (7 toks, all 5-grams distinct)
    val d = Seq((1L, "a b a b a b c"),
                (2L, "w x y z q r s t u v"),        // no repetition at all
                (3L, "ab"),                          // shorter than every n
                (4L, ("p q r s t u v w x y " * 4).trim)) // whole-seq repeats
      .toDF("doc_id", "text")
    val r = TextAnalysis.repetition(d).orderBy("doc_id")
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2),
        x.getLong(5), x.getBoolean(7))).toSeq
    // (doc_id, norm_chars, top2_cov, dup5_cov, gopher_pass)
    assert(r(0) == ((1L, 13L, 9L, 0L, false)))      // 9/13 > 0.20 -> fail
    // unique grams, but one 5-char 3-gram is 5/19 > 0.18 of a doc this
    // short: the absolute thresholds inherently reject tiny docs
    assert(r(1) == ((2L, 19L, 3L, 0L, false)))
    assert(r(2) == ((3L, 2L, 0L, 0L, true)))        // short doc: zero covers
    val d4 = r(3)
    // 40 tokens of a 10-token cycle: every 5-gram occurs 4x (or 3x at the
    // tail) -> dup5 coverage is the whole doc repeated; must fail the gate
    assert(d4._2 == 79L && !d4._5 && d4._4 > d4._2)
    // determinism under repartition (scale shape: order-independent aggs)
    val r2 = TextAnalysis.repetition(d.repartition(7)).orderBy("doc_id")
      .collect().map(_.toSeq).toSeq
    assert(r2 == TextAnalysis.repetition(d).orderBy("doc_id")
      .collect().map(_.toSeq).toSeq)
  }

  test("ngram top-k finds the planted boilerplate with doc counts") {
    val boiler = "all rights reserved click here now"
    val d = (1L to 30L).map { i =>
      if (i % 3 == 0) (i, s"doc body $i unique words here $boiler tail $i")
      else (i, s"doc body $i entirely different content stream $i")
    }.toDF("doc_id", "text")
    val top = TextAnalysis.ngramTopK(d, n = 6, k = 3).collect()
    assert(top.head.getString(0) == boiler)
    assert(top.head.getAs[Long]("occurrences") == 10L)
    assert(top.head.getAs[Long]("n_docs") == 10L)
  }

  test("frame sampling: uniform-k indices, in-range byte pointers, narrow") {
    val f = Multimodal.sampleFrames(Multimodal.attachMedia(docs))
    // every frame index within [0, n_frames), every byte range inside the
    // payload, and ≤ k rows per doc (distinct collapse for tiny clips)
    assert(f.filter(col("frame_idx") < 0 ||
      col("frame_idx") >= col("n_frames")).count() == 0)
    val withB = f.join(Multimodal.attachMedia(docs)
      .select(col("doc_id"), col("n_bytes")), "doc_id")
    assert(withB.filter(col("byte_off") < 0 ||
      col("byte_off") + col("byte_len") > col("n_bytes")).count() == 0)
    val per = f.groupBy("doc_id").count().as[(Long, Long)].collect()
    assert(per.forall(_._2 <= 4) && per.forall(_._2 >= 1))
    // hand-trace: doc with n_frames = 13 samples frames 0,3,6,9
    val d = f.filter(col("n_frames") === 13).orderBy("doc_id", "frame_idx")
      .select("frame_idx").as[Long].collect().take(4).toSeq
    if (d.nonEmpty) assert(d == Seq(0L, 3L, 6L, 9L))
    // scale shape: pointers only, no exchange
    val plan = f.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), "frame sampling must stay narrow")
  }

  test("stratified sampling: per-stratum modulo rates, narrow plan") {
    val s = TextAnalysis.sampleStratified(docs, "lang",
      Map("en" -> 10, "zh" -> 3), defaultEvery = 5)
    val got = s.groupBy("lang").count().as[(String, Long)].collect().toMap
    val base = docs.groupBy("lang").count().as[(String, Long)].collect().toMap
    // en thinned ~10x, zh ~3x, rest ~5x (exact counts depend on id layout,
    // but every kept id must satisfy its stratum's modulo rule)
    val bad = s.filter(
      !(col("lang") === "en" && col("doc_id") % 10 === 0) &&
        !(col("lang") === "zh" && col("doc_id") % 3 === 0) &&
        !(!col("lang").isin("en", "zh") && col("doc_id") % 5 === 0)).count()
    assert(bad == 0)
    assert(got("en") * 5 <= base("en") && got("zh") * 2 <= base("zh"))
    // scale shape: a pure filter over the scan — no exchange in the plan
    val plan = s.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), "sampling must stay narrow")
  }
}
