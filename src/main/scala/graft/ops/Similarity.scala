package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Approximate-nearest-neighbor search over an embedding column
  * (Array[Float]). Brute-force cosine top-k as the exactness baseline; a
  * random-hyperplane LSH bucketed variant as the scale path (candidates come
  * from one shuffle on bucket keys instead of an n x m cross join).
  * All arithmetic is `functions.aggregate`/`zip_with` over double-cast
  * arrays — codegen-friendly, deterministic left-to-right summation (matches
  * the DuckDB oracle's accumulation order).
  */
object Similarity {

  /** Sequential-fold dot product of two double-array columns. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, v) => acc + v)

  /** `vec_id` and `embedding` as `idAs`, the double-cast vector `vecAs` and
    * its L2 norm `nAs`. */
  private def prep(df: DataFrame, idAs: String, vecAs: String,
                   nAs: String): DataFrame = {
    val d = transform(col("embedding"), x => x.cast("double"))
    df.select(col("vec_id").as(idAs), d.as(vecAs),
      sqrt(aggregate(transform(d, x => x * x), lit(0.0d), (a, v) => a + v))
        .as(nAs))
  }

  /** The exact tail every search shares: cosine of each (qid, neighbor_id)
    * row's query vector `qv`/`qn` and corpus vector `cv`/`cn`, rounded to
    * 4dp, then the top `k` per query (ties by neighbor id).
    */
  private def topK(pairs: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    pairs
      .withColumn("sim",
        round(dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("neighbor_id"), col("rank"))
  }

  /** Brute-force cosine top-k: queries x corpus cross join (broadcast the
    * query side — it is small by construction), rank per query.
    * Output (qid, neighbor_id, rank) — integer-only, oracle-stable.
    * Cosine computed as dot/(|a||b|) in double (same formula as the DuckDB
    * oracle) and rounded to 4dp before ranking so cross-engine float
    * accumulation jitter (~1e-15) cannot flip ranks; ties break by id.
    */
  def bruteTopK(embeddings: DataFrame, queries: DataFrame, k: Int): DataFrame =
    topK(prep(embeddings, "neighbor_id", "cv", "cn")
      .crossJoin(broadcast(prep(queries, "qid", "qv", "qn")))
      .filter(col("qid") =!= col("neighbor_id")), k)

  private def splitmix64(x0: Long): Long = Dedup.splitmix64(x0)

  /** Deterministic pseudo-random hyperplane component for (plane, dim):
    * uniform in [-1, 1) — no RNG state, reproducible across executors.
    */
  private def planeComponent(plane: Int, dim: Int): Double =
    (java.lang.Math.floorMod(splitmix64(plane.toLong * 1000003L + dim),
      2000000L).toDouble / 1000000.0) - 1.0

  /** Deterministic k-means++ seeding over a sampled set of unit vectors:
    * the first seed is the sample's first element (the sample arrives sorted
    * by its pseudo-random key); each further seed is drawn D²-weighted —
    * d² = (1 - max cosine to the chosen set)², cumulated over the sample in
    * order, with the "random" draw replaced by a splitmix64 sequence keyed
    * on the round index. This is k-means++'s actual distribution (farthest-
    * point alone chases outliers on uniform corpora and starves the mass;
    * D² weighting spreads seeds across clusters on clustered corpora while
    * staying near the mass on uniform ones), made reproducible: no RNG
    * state, same seeds on every run and partitioning. Driver-side over a
    * bounded sample.
    */
  private[ops] def seedCentroids(sample: Array[(Long, Array[Double])],
                                 nlist: Int): Array[Array[Double]] = {
    if (sample.isEmpty) return Array.empty
    val n = math.min(nlist, sample.length)
    val chosen = new scala.collection.mutable.ArrayBuffer[Int](n)
    chosen += 0
    val maxSim = Array.fill(sample.length)(Double.MinValue)
    while (chosen.size < n) {
      val last = sample(chosen.last)._2
      var i = 0
      while (i < sample.length) {
        var s = 0.0; var d = 0
        val v = sample(i)._2
        while (d < v.length) { s += v(d) * last(d); d += 1 }
        if (s > maxSim(i)) maxSim(i) = s
        i += 1
      }
      val w = new Array[Double](sample.length)
      var total = 0.0
      i = 0
      while (i < sample.length) {
        if (!chosen.contains(i)) {
          val d2 = math.max(0.0, 1.0 - maxSim(i))
          w(i) = d2 * d2
          total += w(i)
        }
        i += 1
      }
      if (total <= 0.0) {
        // every remaining point coincides with a seed: take smallest ids
        var j = 0
        while (chosen.size < n && j < sample.length) {
          if (!chosen.contains(j)) chosen += j
          j += 1
        }
      } else {
        val u = (java.lang.Math.floorMod(
          splitmix64(0x51ed2701L * chosen.size + 7L), 1000000L)
          .toDouble / 1000000.0) * total
        var acc = 0.0
        var pick = -1
        i = 0
        while (i < sample.length && pick < 0) {
          acc += w(i)
          if (acc > u && w(i) > 0.0) pick = i
          i += 1
        }
        if (pick < 0) pick = sample.indices.findLast(w(_) > 0.0).get
        chosen += pick
      }
    }
    chosen.take(n).map(i => sample(i)._2).toArray
  }

  /** Hyperplane components for (tables x bits) planes over `dim` dimensions,
    * memoized per executor: [[planeComponent]] is deterministic, so the
    * splitmix evaluation per (plane, dim) pair needs to run once per JVM,
    * not once per ROW — at 60k x 32-table x 8-bit x 64-dim that is ~1e9
    * avoided mixes per pass. Tiny (tables*bits*dim doubles).
    */
  private val planeMemo =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, Int), Array[Array[Double]]]()
  private def planesFor(tables: Int, bits: Int,
                        dim: Int): Array[Array[Double]] =
    planeMemo.computeIfAbsent((tables, bits, dim), _ =>
      Array.tabulate(tables * bits, dim)((p, d) =>
        planeComponent((p / bits) * 64 + (p % bits), d)))

  /** Sign-bit buckets under `tables` x `bits` hyperplanes — JIT'd Scala
    * kernel (interpreted Catalyst HOFs cost ~tables*bits*dim allocations per
    * row; the kernel is plain ALU work over memoized plane vectors).
    */
  def lshBuckets(vec: Array[Float], tables: Int, bits: Int): Array[Long] = {
    val planes = planesFor(tables, bits, vec.length)
    Array.tabulate(tables) { t =>
      var bucket = 0L
      var b = 0
      while (b < bits) {
        val pv = planes(t * bits + b)
        var proj = 0.0
        var d = 0
        while (d < vec.length) {
          proj += vec(d) * pv(d)
          d += 1
        }
        if (proj >= 0) bucket |= (1L << b)
        b += 1
      }
      bucket
    }
  }

  /** IVF-partitioned ANN (the inverted-file shape): a deterministic
    * spherical k-means coarse quantizer — centroids seeded by a
    * k-means++-style farthest-point sweep over a bounded pseudo-random
    * sample (see [[seedCentroids]]), a fixed number of Lloyd iterations,
    * centroid components rounded to 6dp each iteration so cross-partition
    * float summation jitter cannot make runs diverge — then corpus vectors
    * grouped by nearest centroid (the inverted lists); a query probes its
    * `nprobe` nearest centroids and ranks those lists' vectors by exact
    * cosine.
    *
    * 100 TB shape: centroids are broadcast both ways (nlist x dim is KBs),
    * assignment is a narrow map, candidates come from ONE shuffle joining on
    * the list id — no cross join; recall < 1 by construction, tunable via
    * nprobe (contrast with lshTopK, whose recall is tuned by tables/bits).
    */
  private def unit(v: Array[Float]): Array[Double] = {
    var s = 0.0; var i = 0
    while (i < v.length) { s += v(i).toDouble * v(i); i += 1 }
    val n = math.sqrt(s)
    val out = new Array[Double](v.length)
    i = 0; while (i < v.length) { out(i) = v(i) / n; i += 1 }
    out
  }

  private def topCents(cents: Array[Array[Double]], v: Array[Double],
                       m: Int): Array[Int] = {
    val sims = new Array[Double](cents.length)
    var c = 0
    while (c < cents.length) {
      var s = 0.0; var i = 0
      val cv = cents(c)
      while (i < cv.length) { s += cv(i) * v(i); i += 1 }
      sims(c) = s; c += 1
    }
    sims.zipWithIndex.sortBy(x => (-x._1, x._2)).take(m).map(_._2)
  }

  /** A built IVF coarse-quantizer index: the trained centroids (nlist ×
    * dim — KBs, broadcast at search time) and the inverted lists as a
    * `(neighbor_id, list)` DataFrame. Vectors are NOT duplicated into the
    * lists — candidates join back to the embeddings table at search time,
    * so the index is id-only and `assign`-fold smaller than a FAISS-style
    * vector-carrying IVF (the right trade at 100 TB, where the embedding
    * table is columnar and the join is one broadcast-probe shuffle).
    * Persist with [[saveIvfIndex]] / [[loadIvfIndex]] — build once, query
    * many (re-running k-means per query batch is the anti-pattern).
    */
  final case class IvfIndex(centroids: Array[Array[Double]],
                            lists: DataFrame, assign: Int)

  /** Train the coarse quantizer + materialize the inverted lists (the
    * build half of [[ivfTopK]], same deterministic seeding/iteration).
    */
  def buildIvfIndex(embeddings: DataFrame, nlist: Int = 16, iters: Int = 3,
                    assign: Int = 2): IvfIndex = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val corpus = embeddings.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
    // seed sample: the sampleN smallest splitmix64(vec_id) keys — a uniform
    // pseudo-random draw with no RNG state, order-free under repartitioning,
    // fetched by global top-k (TakeOrderedAndProject, bounded rows collected)
    val sampleN = math.max(nlist * 8, 256)
    val sample = corpus
      .map { case (id, v) => (splitmix64(id), id, v) }
      .toDF("k", "id", "v").orderBy("k", "id").limit(sampleN)
      .as[(Long, Long, Array[Float])].collect()
      .map { case (_, id, v) => (id, unit(v)) }
    var centroids: Array[Array[Double]] = seedCentroids(sample, nlist)
    for (_ <- 1 to iters) {
      val bc = spark.sparkContext.broadcast(centroids)
      val next = corpus
        .map { case (_, v) =>
          val u = unit(v)
          (topCents(bc.value, u, 1)(0), (u, 1L))
        }
        .groupByKey(_._1)
        .reduceGroups { (a, b) =>
          val (ua, na) = a._2; val (ub, nb) = b._2
          val sum = new Array[Double](ua.length)
          var i = 0
          while (i < ua.length) { sum(i) = ua(i) + ub(i); i += 1 }
          (a._1, (sum, na + nb))
        }
        .map { case (cid, (_, (sum, n))) => (cid, sum.map(_ / n), n) }
        .collect()
      val updated = centroids.clone()
      next.foreach { case (cid, mean, _) =>
        val u = unit(mean.map(_.toFloat))
        updated(cid) = u.map(x => math.rint(x * 1e6) / 1e6)
      }
      centroids = updated
    }
    val bc = spark.sparkContext.broadcast(centroids)
    // multiple assignment (IVF "spilling"): each corpus vector enters its
    // `assign` nearest lists — index grows assign-fold, recall at fixed
    // nprobe rises because a vector near a cell boundary is findable from
    // both sides. Candidates stay deduped, so ranking cost is unchanged.
    val lists = corpus.flatMap { case (id, v) =>
      topCents(bc.value, unit(v), assign).map(l => (id, l))
    }.toDF("neighbor_id", "list")
    IvfIndex(centroids, lists, assign)
  }

  /** Persist an index: centroids + inverted lists as parquet tables. */
  def saveIvfIndex(index: IvfIndex, dir: String): Unit = {
    val spark = index.lists.sparkSession
    import spark.implicits._
    index.centroids.zipWithIndex
      .map { case (v, cid) => (cid, v) }.toSeq
      .toDF("cid", "vec").repartition(1)
      .write.mode("overwrite").parquet(s"$dir/centroids")
    index.lists.write.mode("overwrite").parquet(s"$dir/lists")
    Seq(index.assign).toDF("assign").repartition(1)
      .write.mode("overwrite").parquet(s"$dir/meta")
  }

  def loadIvfIndex(spark: SparkSession, dir: String): IvfIndex = {
    import spark.implicits._
    val cents = spark.read.parquet(s"$dir/centroids")
      .as[(Int, Array[Double])].collect().sortBy(_._1).map(_._2)
    val assign = spark.read.parquet(s"$dir/meta")
      .as[Int].head()
    IvfIndex(cents, spark.read.parquet(s"$dir/lists"), assign)
  }

  /** Probe + exact-rank against a built index (the search half of
    * [[ivfTopK]]; the embeddings table supplies candidate vectors).
    */
  def ivfSearch(index: IvfIndex, embeddings: DataFrame, queries: DataFrame,
                k: Int, nprobe: Int = 6): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(index.centroids)
    val lists = index.lists
    val probes = queries.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .flatMap { case (id, v) =>
        topCents(bc.value, unit(v), nprobe).map(l => (id, l)) }
      .toDF("qid", "list")
    val cand = lists.join(probes, Seq("list"))
      .filter(col("qid") =!= col("neighbor_id"))
      .select("qid", "neighbor_id").distinct()
    topK(cand
      .join(prep(embeddings, "neighbor_id", "cv", "cn"), "neighbor_id")
      .join(prep(queries, "qid", "qv", "qn"), "qid"), k)
  }

  /** One-shot build + search (the contract/oracle entry point; production
    * callers build once with [[buildIvfIndex]], persist, and
    * [[ivfSearch]] many times).
    */
  def ivfTopK(embeddings: DataFrame, queries: DataFrame, k: Int,
              nlist: Int = 16, nprobe: Int = 6, iters: Int = 3,
              assign: Int = 2): DataFrame =
    ivfSearch(buildIvfIndex(embeddings, nlist, iters, assign),
      embeddings, queries, k, nprobe)

  /** LSH-bucketed ANN: `tables` independent hyperplane tables of `bits` bits;
    * a corpus vector is a candidate for a query if they share any table's
    * bucket. Exact cosine then ranks candidates. Recall < 1 by construction
    * (approximate); scale shape is groupBy-join on (table, bucket).
    */
  def lshTopK(embeddings: DataFrame, queries: DataFrame, k: Int,
              tables: Int = 16, bits: Int = 4): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    def buckets(df: DataFrame, idAs: String): DataFrame =
      df.select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
        .flatMap { case (id, v) =>
          lshBuckets(v, tables, bits).zipWithIndex.map { case (bk, t) =>
            (id, t, bk)
          }
        }.toDF(idAs, "table", "bucket")
    val cand = buckets(embeddings, "neighbor_id")
      .join(buckets(queries, "qid"), Seq("table", "bucket"))
      .filter(col("qid") =!= col("neighbor_id"))
      .select("qid", "neighbor_id").distinct()
    topK(cand
      .join(prep(embeddings, "neighbor_id", "cv", "cn"), "neighbor_id")
      .join(prep(queries, "qid", "qv", "qn"), "qid"), k)
  }
}
