package graft.kg

/** Canonicalization: alias/coref equivalence edges -> connected components ->
  * canonical node ids (reference: assembly/AssemblyManager.scala:1355-1377
  * equivalence-hash dedup + alias sharing across the batch, Alias.scala:46-75).
  *
  * [[canonMap]] is the one canonicalization rule: [[Pipeline.stageCanon]]
  * runs it on the driver over the alias pairs one job collects, and
  * [[KgExport.materialize]] runs it in-process (`graft.Serve`). Alias
  * components are small stars, and every consumer of the map holds it
  * whole on the driver anyway, so no distributed path is kept.
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

  /** The canon map of some alias pairs: every node of a pair [[rewrites]]
    * admits, mapped to the least node of its component under [[order]]. */
  def canonMap(pairs: Seq[(String, String)]): Map[String, String] =
    unionFind(pairs.filter { case (a, b) => rewrites(a, b) }, order).toMap

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
}
