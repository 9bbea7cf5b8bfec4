package graft.kg

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** Canonicalization: alias/coref equivalence edges -> connected components ->
  * canonical node ids (reference: assembly/AssemblyManager.scala:1355-1377
  * equivalence-hash dedup + alias sharing across the batch, Alias.scala:46-75).
  *
  * [[components]] is the one connected-components implementation in graft:
  * canonicalization and `graft.ops.Dedup.clusters` both call it, and differ
  * only in the node ordering that picks each component's name. Small edge
  * sets take a driver union-find ([[unionFind]], no iterative shuffles;
  * `graft.Serve` runs it in-process through [[KgExport.materialize]]);
  * above `driverThreshold` edges, distributed min-label propagation —
  * O(component diameter) rounds of join + partial-agg groupBy, capped at 50
  * rounds with a warning when a component is still merging.
  *
  * Canon's node ordering: non-failsafe (KB-grounded) ids win over `uaz:`
  * failsafe ids, then lexicographic — so a component containing a real
  * grounding is named by it.
  */
object Canon {

  /** Sortable canonical rank key: grounded ids before failsafe ids. */
  def rankKey(gid: String): String =
    (if (gid.startsWith("uaz:")) "1|" else "0|") + gid

  /** Canon's node order: [[rankKey]]. */
  val order: Ordering[String] = Ordering.by(rankKey)

  /** Whether an alias edge takes part in canonicalization: only when one
    * side is effectively ungrounded — the uaz failsafe namespace (reference
    * Coref.scala:396-401: an ungrounded alias side ADOPTS the grounded
    * side's candidates; a both-grounded pair keeps each side's own winner
    * and only unions candidate lists, which the fold handles per
    * conversation). Without this guard a known<->known alias in one
    * conversation would rewrite the shared KB id corpus-wide.
    */
  def rewrites(a: String, b: String): Boolean =
    a.startsWith("uaz:") || b.startsWith("uaz:")

  /** edges: DataFrame(a: String, b: String) -> DataFrame(gid, canon_id). */
  def connectedComponents(spark: SparkSession, edges: DataFrame,
                          driverThreshold: Long = 100000L): DataFrame =
    components(edges, driverThreshold, order,
      _.startsWith("uaz:"))(Encoders.STRING).toDF("gid", "canon_id")

  /** Union-find over an in-memory edge list: one `(node, root)` pair per
    * node of an edge (self-loop-only nodes included), in order of first
    * appearance, `root` being the least node of its component under `order`.
    */
  def unionFind[N](edges: Seq[(N, N)], order: Ordering[N]): Seq[(N, N)] = {
    val parent = scala.collection.mutable.Map.empty[N, N]
    def find(x: N): N = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) {
        val n = parent(c); parent(c) = r; c = n
      }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) {
        if (order.lteq(ra, rb)) parent(rb) = ra else parent(ra) = rb
      }
    }
    edges.flatMap { case (a, b) => Seq(a, b) }.distinct.map(n => (n, find(n)))
  }

  /** Connected components of the undirected edge set `edges(a, b)`: one
    * `(node, root)` row per node of a non-self-loop edge (the driver path
    * also keeps self-loop-only nodes), `root` being the least node of its
    * component under `order`. `key` is the leading Catalyst sort key of the
    * same order (ties break on the node itself), used above
    * `driverThreshold` edges.
    *
    * One job collects up to `driverThreshold + 1` edges: at or below the
    * threshold that is the whole set, and [[unionFind]] runs on the driver.
    * Above it, `edges` is read again as the propagation base; a caller with
    * an expensive upstream persists it.
    */
  private[graft] def components[N](edges: DataFrame, driverThreshold: Long,
                                   order: Ordering[N], key: Column => Column)
                                  (implicit enc: Encoder[N]): Dataset[(N, N)] = {
    val spark = edges.sparkSession
    val pairEnc = Encoders.tuple(enc, enc)
    val es = edges.select(col("a"), col("b"))
    val head = es.as(pairEnc)
      .limit(math.min(driverThreshold + 1, Int.MaxValue.toLong).toInt).collect()
    if (head.length <= driverThreshold)
      spark.createDataset(unionFind(head.toSeq, order))(pairEnc)
    else {
      val und = es.select(col("a").as("u"), col("b").as("v"))
        .union(es.select(col("b").as("u"), col("a").as("v")))
        .where(col("u") =!= col("v")).distinct()
        .localCheckpoint(true)
      var labels = und.select(col("u").as("n")).distinct()
        .select(col("n"), struct(key(col("n")).as("k"), col("n")).as("lbl"))
        .localCheckpoint(true)
      var changed = 1L
      var iter = 0
      while (changed > 0 && iter < 50) {
        val nbr = und.join(labels.withColumnRenamed("n", "v"), "v")
          .select(col("u").as("n"), col("lbl"))
        val next = labels.union(nbr).groupBy("n").agg(min("lbl").as("nl"))
        val merged = labels.join(next, "n")
          .select(col("n"), least(col("lbl"), col("nl")).as("lbl2"),
            (col("nl") < col("lbl")).cast("long").as("chg"))
          .localCheckpoint(true)
        changed = merged.agg(sum("chg")).as[Long](Encoders.scalaLong).head()
        labels = merged.select(col("n"), col("lbl2").as("lbl"))
          .localCheckpoint(true)
        iter += 1
      }
      // components are expected shallow (alias stars, near-dup cliques); a
      // deeper one is surfaced rather than silently left partially merged
      if (changed > 0)
        System.err.println(s"[graft] WARNING: connected-components label " +
          s"propagation did not converge in $iter iterations " +
          s"($changed labels still changing) — components with diameter " +
          s"> $iter are partially merged")
      labels.select(col("n"), col("lbl.n").as("root")).as(pairEnc)
    }
  }
}
