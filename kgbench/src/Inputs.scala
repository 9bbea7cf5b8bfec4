package graftbench

import graft.kg.{Pipeline, Transcripts}
import graft.model.{Triple, Turn}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.Random

/** Seeded workload inputs and their oracles. Everything here runs before
  * the timed region; the program only ever sees the generated rows.
  */
object Inputs extends Serializable {
  // batch_cold: the graft.Bench corpus shape (Zipf conversations plus one
  // mega-conversation) at one tenth of its size
  val BatchConvs = 200
  val BatchMega = 1000
  // the conversation lengths of graft.Bench's corpus (seed 42)
  val ShapeSeed = 42L
  // resume_dense: a small Zipf corpus plus one mega-conversation whose
  // every turn fuses `Density` template sentences (ScalingBench gendense)
  val DenseConvs = 40
  val DenseTurns = 400
  val Density = 10
  // serve_closed: one-conversation request texts, cycled by the client
  val ServeTexts = 8
  val ServeTurnsPerText = 6

  /** `Transcripts.corpus` with its conversation lengths drawn from a fixed
    * seed: the seed changes every text but never the corpus size, so runs
    * on different seeds do the same amount of work.
    */
  def batch(spark: SparkSession, seed: Long): (Dataset[Turn], Dataset[Triple]) = {
    import spark.implicits._
    def len(i: Long): Int = 2 +
      new Random(ShapeSeed ^ i).nextInt(49) * (if (i % 7 == 0) 1 else 0) +
      new Random(ShapeSeed ^ (i + 7)).nextInt(8)
    val slice = Pipeline.chunkTurns
    def mega(s: Long) = Transcripts.genConv(seed * 31 + s, 999999L,
      math.min(slice, BatchMega - s.toInt * slice), withCoref = false)
    val nSlices = ((BatchMega + slice - 1) / slice).toLong
    val turns = spark.range(BatchConvs.toLong)
      .flatMap(i => Transcripts.genConv(seed, i, len(i))._1)
      .union(spark.range(nSlices).flatMap(s => mega(s)._1.map(t =>
        t.copy(conv_id = "mega", turn_idx = s.toInt * slice + t.turn_idx))))
    val expected = spark.range(BatchConvs.toLong)
      .flatMap(i => Transcripts.genConv(seed, i, len(i))._2)
      .union(spark.range(nSlices).flatMap(s => mega(s)._2.map(t =>
        t.copy(conv_id = "mega", turn_idx = s.toInt * slice + t.turn_idx))))
    (turns, expected)
  }

  private def mix(x: Long): Long = {
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def dense(spark: SparkSession, seed: Long): (Dataset[Turn], Dataset[Triple]) = {
    import spark.implicits._
    val (base, baseExp) = Transcripts.corpus(spark, DenseConvs, seed)
    val slice = Pipeline.chunkTurns
    val nSlices = (DenseTurns + slice - 1) / slice
    def streams(sl: Long) = {
      val len = math.min(slice, DenseTurns - sl.toInt * slice)
      (0 until Density).map(k => Transcripts.genConv(
        mix(seed ^ mix(sl)) ^ mix(1000L + k), 999999L, len, withCoref = false))
    }
    val turns = spark.range(nSlices.toLong).flatMap { sl =>
      val st = streams(sl)
      st.head._1.indices.map { t =>
        st.head._1(t).copy(conv_id = "mega", turn_idx = sl.toInt * slice + t,
          text = st.map(_._1(t).text).mkString(" "))
      }
    }
    val expected = spark.range(nSlices.toLong).flatMap { sl =>
      streams(sl).flatMap(_._2).map(e => e.copy(conv_id = "mega",
        turn_idx = sl.toInt * slice + e.turn_idx))
    }
    (base.union(turns), baseExp.union(expected))
  }

  /** Request texts: one-turn conversations, each the first turn of a
    * generated conversation that carries oracle triples.
    */
  def serveTexts(seed: Long): Seq[(String, Seq[Triple])] =
    Iterator.from(0).flatMap { c =>
      val (ts, ex) = Transcripts.genConv(seed, c.toLong, ServeTurnsPerText,
        withCoref = false)
      ex.map(_.turn_idx).minOption.map(t => (ts(t).text, ex.filter(_.turn_idx == t)))
    }.take(ServeTexts).zipWithIndex.map { case ((text, ex), i) =>
      (text, ex.map(_.copy(conv_id = s"s$i", turn_idx = 0)))
    }.toSeq

  /** The fixed sample for the single-thread layer calls: the turns of the
    * first 40 generated conversations.
    */
  def layerSample(seed: Long): Seq[Turn] =
    (0L until 40L).flatMap(i => Transcripts.genConv(seed, i, 8)._1)

  /** Order-independent digest of an edge table: row count plus two wrapping
    * sums over a per-row hash of every column.
    */
  def digest(edges: DataFrame): (Long, Long, Long) = {
    val spark = edges.sparkSession
    import spark.implicits._
    val hs = edges.select(xxhash64(edges.columns.sorted.toSeq.map(col): _*))
      .as[Long].collect()
    (hs.length.toLong, hs.sum, hs.map(mix).sum)
  }
}
