package graftbench

import graft.io.TableIO
import graft.kg._
import graft.model.{AnnotatedTurn, Lineage, MentionRow, Turn}
import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.util.CollectionAccumulator
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The traced run: the checkpointed pipeline of `Pipeline.run`, with every
  * stage function and every `TableIO` call under its own span and job group.
  */
object Layers {
  val Tables = Seq("mentions_raw", "stage_b", "canon_map", "edges", "nodes")

  final case class Traced(tracer: Tracer, tasks: Vector[TaskRec],
                          rows: Map[String, Long], wd: String)

  def traced(b: Bench, turns: Dataset[Turn], wd: String): Traced = {
    val spark = b.spark
    val io = TableIO(wd)
    val tr = new Tracer(() => b.sc, s"${b.o.workload}-${b.o.seed}")
    val acc = new CollectionAccumulator[Lineage]
    b.sc.register(acc, "kgbench-trace")
    val rows = scala.collection.mutable.Map.empty[String, Long]
    val m0 = b.log.mark(b.sc)
    tr.span("run") {
      tr.span("mentions") {
        val ds = tr.span("alias_prepass")(
          Pipeline.stageMentions(spark, turns, tr.run, acc))
        rows("mentions") = io.write(ds.toDF(), "mentions_raw")
      }
      val ms = tr.span("checkpoint.read")(io.read(spark, "mentions_raw"))
        .as[MentionRow](Encoders.product[MentionRow])
      tr.span("fold") {
        rows("fold") = io.write(Pipeline.stageB(spark, ms, tr.run, acc).toDF(),
          "stage_b")
      }
      val sb = tr.span("checkpoint.read")(io.read(spark, "stage_b"))
        .as[StageBRow](Encoders.product[StageBRow])
      tr.span("canon")(io.write(Pipeline.stageCanon(spark, sb), "canon_map"))
      val cm = tr.span("checkpoint.read")(io.read(spark, "canon_map"))
      tr.span("materialize") {
        val (e, n) = Pipeline.stageMaterialize(spark, sb, cm)
        rows("edges") = io.write(e, "edges")
        rows("nodes") = io.write(n, "nodes")
      }
    }
    // checkpoint cost on its own: a full decode of every table, then a
    // rewrite of it (the rewrite minus the decode is the write)
    val scratch = TableIO(s"$wd-rewrite")
    Tables.foreach { t =>
      tr.span("checkpoint.scan")(
        io.read(spark, t).write.format("noop").mode("overwrite").save())
      tr.span("checkpoint.rewrite")(scratch.write(io.read(spark, t), t))
    }
    val (_, ts) = b.log.since(b.sc, m0)
    Traced(tr, ts, rows.toMap, wd)
  }

  private def dirBytes(p: java.nio.file.Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  /** Per-layer metrics of a traced run. */
  def report(b: Bench, t: Traced): Unit = {
    val tr = t.tracer
    def tasksOf(groups: String*) = t.tasks.filter(x => groups.contains(x.group))
    val men = tasksOf("mentions", "alias_prepass")
    b.put("mentions.wall_s", tr.seconds("mentions"), "s")
    b.put("mentions.task_cpu_s", Tasks.cpuS(men), "s")
    b.put("mentions.gc_s", Tasks.gcS(men), "s")
    b.put("mentions.rows_out", t.rows("mentions").toDouble, "count")
    b.put("mentions.task_skew", Tasks.skew(tasksOf("mentions")), "ratio")
    b.put("mentions.shuffle_write_mb", Tasks.mb(men.map(_.shuffleWrite).sum), "MB")
    b.put("alias_prepass.wall_s", tr.seconds("alias_prepass"), "s")
    val fold = tasksOf("fold")
    b.put("fold.wall_s", tr.seconds("fold"), "s")
    b.put("fold.task_cpu_s", Tasks.cpuS(fold), "s")
    b.put("fold.gc_s", Tasks.gcS(fold), "s")
    b.put("fold.shuffle_read_mb", Tasks.mb(fold.map(_.shuffleRead).sum), "MB")
    b.put("fold.spill_mb", Tasks.mb(fold.map(_.spill).sum), "MB")
    b.put("fold.rows_out", t.rows("fold").toDouble, "count")
    b.put("fold.task_skew", Tasks.skew(fold), "ratio")
    val sizes = TableIO(t.wd).read(b.spark, "canon_map").groupBy("canon_id")
      .count().select(col("count")).collect().map(_.getLong(0))
    b.put("canon.wall_s", tr.seconds("canon"), "s")
    b.put("canon.components", sizes.length.toDouble, "count")
    b.put("canon.max_component", sizes.maxOption.getOrElse(0L).toDouble, "count")
    b.put("materialize.wall_s", tr.seconds("materialize"), "s")
    b.put("materialize.edges", t.rows("edges").toDouble, "count")
    b.put("materialize.nodes", t.rows("nodes").toDouble, "count")
    b.put("checkpoint.write_s",
      tr.seconds("checkpoint.rewrite") - tr.seconds("checkpoint.scan"), "s")
    b.put("checkpoint.read_s",
      tr.seconds("checkpoint.scan") + tr.seconds("checkpoint.read"), "s")
    b.put("checkpoint.mb",
      Tasks.mb(Tables.map(x => dirBytes(Paths.get(t.wd, x))).sum), "MB")
    tr.writeTo(b.dir("out").resolve(s"${tr.run}-spans.jsonl"))
  }

  /** Single-thread calls into each layer on a fixed sample of turns, with
    * the session's own trie, KB index and grammar.
    */
  def micro(b: Bench, sample: Seq[Turn]): Unit = {
    val (bTrie, bKb, bG) = Broadcasts.all(b.sc)
    val (trie, kb, g) = (bTrie.value, bKb.value, bG.value)
    val turns = sample.filter(t => t.role != "tool" && t.text != null &&
      t.text.nonEmpty)
    def med(f: => Unit): Double = {
      f // warm
      Stats.median((1 to 3).map(_ => b.time(f)._2 * 1000))
    }
    val ats = turns.map(t => AnnotatedTurn(t.conv_id, t.turn_idx, t.role,
      Annotate.annotateText(trie, t.text)))
    val sents = ats.flatMap(_.sents)
    val ksent = sents.size / 1000.0
    val annotate = med(turns.foreach(t => Annotate.annotateText(trie, t.text)))
    val parse = med(sents.foreach(DepParser.parse))
    val extract = med(ats.foreach(at => BioRules.extractTurn(at, Nil, g)))
    val alias = med(ats.foreach(at => BioRules.aliasDefsTurn(at, g)))
    val mentions = ats.flatMap(at => BioRules.extractTurn(at, Nil, g))
      .groupBy(_.conv_id).toSeq
    val fold = med(Lexicon.withTaxonomy(g.taxonomy) {
      mentions.foreach { case (c, ms) => ConvProcessor.process(c, ms, kb) }
    })
    val kmention = mentions.map(_._2.size).sum / 1000.0
    b.put("kg.Annotate.ms_per_ksent", annotate / ksent, "ms")
    b.put("kg.DepParser.ms_per_ksent", parse / ksent, "ms")
    b.put("kg.BioRules.self_ms_per_ksent", (extract - parse) / ksent, "ms")
    b.put("kg.BioRules.alias_ms_per_ksent", alias / ksent, "ms")
    b.put("kg.ConvProcessor.ms_per_kmention", fold / kmention, "ms")
  }
}
