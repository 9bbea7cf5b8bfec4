package graft

import graft.io.TableIO
import graft.kg._
import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** The checkpoint table layer: reads take the schema from the manifest,
  * so they plan no schema-inference job; deletes release their handles. */
class TableIOSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(tag: String): String =
    Files.createTempDirectory(tag).toString

  test("read starts no Spark job and returns the schema inference " +
       "would read back, for every pipeline table") {
    val dir = tmp("tableio")
    val (turns, _) = Transcripts.corpus(spark, 20, seed = 3)
    Pipeline.run(spark, turns, dir, resume = false)
    val io = TableIO(dir)
    val tables = Seq("mentions_raw", "stage_b", "canon_map", "edges", "nodes",
      "lineage")
    tables.foreach { t =>
      assert(io.isComplete(t), t)
      val n = SparkJobs.during(spark.sparkContext, "tableio-read") {
        assert(io.read(spark, t).schema ==
          spark.read.parquet(s"$dir/$t").schema, s"$t: schema")
      }
      // the bare parquet read infers its schema with a job
      assert(n >= 1, s"$t: $n jobs")
      assert(SparkJobs.during(spark.sparkContext, "tableio-read")(
        io.read(spark, t)) == 0, s"$t: read started a job")
    }
    // partition columns come last, as inference puts them
    val df = Seq(("a", 1, 2L), ("b", 2, 3L)).toDF("s", "p", "l")
    io.write(df, "parted", partitionBy = Seq("p"))
    assert(io.read(spark, "parted").schema.fieldNames.toSeq ==
      spark.read.parquet(s"$dir/parted").schema.fieldNames.toSeq)
    assert(io.read(spark, "parted").as[(String, Long, Int)].collect().toSet ==
      Set(("a", 2L, 1), ("b", 3L, 2)))
  }

  test("a manifest without a schema is incomplete, and read refuses it") {
    val dir = tmp("tableio-old")
    val io = TableIO(dir)
    io.write(Seq(1, 2).toDF("x"), "t")
    val manifest = Paths.get(dir, "t", "_graft_manifest.json")
    Files.writeString(manifest, """{"table":"t","rows":2,"complete":true,"ts":1}""")
    assert(!io.isComplete("t"))
    intercept[IllegalStateException](io.read(spark, "t"))
  }

  test("a torn manifest is incomplete, so a resumed run rebuilds the table") {
    val dir = tmp("tableio-torn")
    val io = TableIO(dir)
    io.write(Seq(1, 2).toDF("x"), "t")
    // what a kill in the middle of the manifest write would leave
    Files.writeString(Paths.get(dir, "t", "_graft_manifest.json"),
      """{"table":"t","rows":2,"comp""")
    assert(!io.isComplete("t"))
    intercept[IllegalStateException](io.read(spark, "t"))
    io.write(Seq(3).toDF("x"), "t")
    assert(io.isComplete("t"))
    assert(io.read(spark, "t").as[Int].collect().toSeq == Seq(3))
    assert(new java.io.File(dir, "t").list().count(_.contains("manifest")) == 1,
      "no temp manifest left")
  }

  test("delete closes the directory stream of every directory it lists") {
    val dir = tmp("tableio-rm")
    val root = Paths.get(dir, "t")
    (0 until 64).foreach(i => Files.createDirectories(root.resolve(s"d$i/e")))
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.UnixOperatingSystemMXBean]
    val before = os.getOpenFileDescriptorCount
    TableIO(dir).delete("t")
    val after = os.getOpenFileDescriptorCount
    assert(!Files.exists(root))
    assert(after - before < 16, s"$before -> $after open descriptors")
  }
}
