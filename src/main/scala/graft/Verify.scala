package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Sessions.getOrCreate("graft-verify")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // written by Jackson, which escapes every control char: a raw tab or CR
    // in a query's SQL would make the file invalid JSON for its readers
    // (tools/oracle_check.py among them)
    val json = graft.kg.Json.Obj(SparkEntry.oracleSql.toSeq
      .map { case (k, v) => k -> graft.kg.Json.str(v) })
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      graft.kg.Json.render(json))
    spark.stop()
  }
}
