package graft

/** Build-time helper (NOT part of the driver contract): prints DuckDB VALUES
  * oracles for the deterministic golden-corpus exports (arizona / fries /
  * canonical nodes) and the seeded simhash subset, so they can be pasted into
  * SparkEntry.oracleSql as regression pins. The golden corpus is hand-traced
  * (GoldenSpec exactness), so pinning its derived exports is a valid oracle:
  * any behavioral drift flips the driver row red.
  *
  * Query names given as arguments replace the default list, for
  * hand-checking the output of any other query.
  */
object DumpOracles {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.getOrCreate("graft-dump-oracles")

    def q(s: String): String = "'" + s.replace("'", "''") + "'"
    def lit(v: Any): String = v match {
      case null => "NULL"
      case s: String => q(s)
      case b: Boolean => b.toString.toUpperCase
      case x => x.toString
    }

    val names = if (args.nonEmpty) args.toSeq else Seq(
      "kg_emit_arizona", "kg_canonical_nodes", "kg_emit_fries",
      "kg_fries_frames", "dedup_simhash", "text_fingerprint",
      "kg_emit_indexcard", "kg_emit_cmu", "kg_emit_assembly",
      "kg_emit_assembly_mitre", "kg_emit_serial")
    for (name <- names) {
      val df = SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
      val cols = df.columns
      val rows = df.collect().map { r =>
        cols.indices.map(i => lit(r.get(i))).mkString("(", ", ", ")")
      }.sorted
      println(s"==== $name (${rows.length} rows) ====")
      println(s"SELECT * FROM (VALUES")
      println(rows.mkString(",\n"))
      println(s") AS t(${cols.mkString(", ")})")
    }
    spark.stop()
  }
}
