package graft.io

import com.fasterxml.jackson.core.JsonProcessingException
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession, SaveMode}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
import java.nio.file.{Files, Paths, Path, StandardCopyOption}

/** Iceberg-shaped table layer (SURVEY.md §7.0: no Iceberg runtime jar in the
  * sandbox, offline coursier). Named tables backed by partitioned Parquet plus
  * a JSON manifest carrying snapshot-style completion metadata — the pieces
  * the pipeline needs for checkpoint/resume semantics (reference analogue:
  * the restart log, ReachCLI.scala:47-66). Swapping in real Iceberg is a
  * config change: replace read/write with `spark.table` / `writeTo`.
  */
final case class TableIO(root: String) {

  private def tablePath(name: String): String = s"$root/$name"
  private def manifestPath(name: String): Path =
    Paths.get(s"$root/$name/_graft_manifest.json")

  /** Atomic manifest write: parquet first, manifest last, renamed into
    * place — a killed job leaves no manifest, so resume re-runs the stage
    * (exactly-once at stage granularity). The manifest also records the
    * table's schema as parquet schema inference would read it back (every
    * field nullable, partition columns last), so [[read]] starts no
    * inference job.
    */
  def write(df: DataFrame, name: String,
            partitionBy: Seq[String] = Nil): Long = {
    // manifest row count observed from the write job itself (Observation =
    // driver-collected accumulator metrics) — re-reading the table we just
    // wrote would double checkpoint I/O at scale
    val obs = org.apache.spark.sql.Observation()
    val observed = df.observe(obs,
      org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("rows"))
    val w = observed.write.mode(SaveMode.Overwrite)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(tablePath(name))
    val rows = obs.get("rows").asInstanceOf[Long]
    val (parts, data) = nullable(df.schema).asInstanceOf[StructType].fields
      .partition(f => partitionBy.contains(f.name))
    val schema = StructType(data ++
      partitionBy.flatMap(p => parts.find(_.name == p)))
    val json = s"""{"table":"$name","rows":$rows,"complete":true,""" +
      s""""ts":${System.currentTimeMillis()},"schema":${schema.json}}"""
    // written beside the table, then renamed over the manifest: a kill
    // mid-write leaves a stray temp file, never a torn manifest
    val path = manifestPath(name)
    Files.createDirectories(path.getParent)
    val tmp = Files.writeString(path.resolveSibling(s"${path.getFileName}.tmp"),
      json)
    Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE)
    rows
  }

  /** `t` with every field, array element and map value nullable (Spark's
    * `asNullable`, which is private to Spark). */
  private def nullable(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType),
      valueContainsNull = true)
    case other => other
  }

  /** The table, read with the schema its manifest records. */
  def read(spark: SparkSession, name: String): DataFrame = {
    val schema = manifest(name).map(_.path("schema")).filter(_.isObject)
      .getOrElse(throw new IllegalStateException(
        s"table $name at ${tablePath(name)} has no manifest schema"))
    spark.read.schema(DataType.fromJson(schema.toString)
      .asInstanceOf[StructType]).parquet(tablePath(name))
  }

  /** The table's manifest; None when it is missing or does not parse (a
    * manifest torn by an older build's in-place write). */
  private def manifest(name: String): Option[JsonNode] =
    if (!Files.exists(manifestPath(name))) None
    else try Some(new ObjectMapper().readTree(
      Files.readString(manifestPath(name))))
    catch { case e: JsonProcessingException =>
      System.err.println(s"[graft] table $name: unreadable manifest " +
        s"(${e.getOriginalMessage}), treated as incomplete")
      None
    }

  /** A stage checkpoint is valid iff its manifest exists, says complete and
    * records the schema. */
  def isComplete(name: String): Boolean =
    manifest(name).exists(m =>
      m.path("complete").asBoolean(false) && m.path("schema").isObject)

  def delete(name: String): Unit = {
    def rm(p: Path): Unit = {
      if (Files.isDirectory(p)) {
        val entries = Files.list(p)
        try entries.forEach(rm(_))
        finally entries.close()
      }
      Files.deleteIfExists(p)
    }
    val p = Paths.get(tablePath(name))
    if (Files.exists(p)) rm(p)
  }
}
