package graftbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper, SerializationFeature}
import com.fasterxml.jackson.databind.node.ObjectNode
import graft.Serve
import graft.io.TableIO
import graft.kg._
import graft.model.{Lineage, Triple, Turn}
import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.util.CollectionAccumulator
import scala.collection.mutable
import scala.jdk.CollectionConverters._

object Workloads {
  // timed ops per run at the least; medians need three
  val MinOps = 3
  // untimed ops before them, billed to set-up: they take the JVM's JIT and
  // codegen cost of a first run. Ops keep getting faster for a while after
  // them (the per-op readings show it); the extra JIT compiler threads in
  // session.json shorten that slope. Serving warms up twice, as its first
  // timed pairs would otherwise sit on the steepest part of the slope; a
  // batch op costs more, so batch runs warm up once to keep a run short.
  val BatchWarmups = 1
  val ServeWarmups = 2

  /** Session plus three generations of the input table; returns the seconds
    * billed to set-up (session + median generation) and the oracle triples.
    */
  private def setupInput(b: Bench, name: String)
      (gen: => (Dataset[Turn], Dataset[Triple])): (Double, Dataset[Triple]) = {
    val sess = b.time(b.session(b.master))._2
    var expected: Dataset[Triple] = null
    val gens = (1 to 3).map(_ => b.time {
      val (t, e) = gen
      b.writeInput(t, name)
      expected = e
    }._2)
    b.reading("phase" -> "setup", "session_s" -> sess, "input_s" -> gens)
    (sess + Stats.median(gens), expected)
  }

  private def putTimed(b: Bench, ops: Seq[OpStat], turns: Double): Unit = {
    b.put("turns_per_s", Stats.median(ops.map(turns / _.wall)), "1/s")
    b.put("task_cpu_s", Stats.median(ops.map(_.cpu)), "s")
    val (pct, tail) = Stats.tail(ops.map(_.wall * 1000))
    b.put("tail_ms", tail, "ms")
    b.put("heap_peak_mb", Stats.max(ops.map(_.heapMb)), "MB")
    b.reading("phase" -> "summary", "ops" -> ops.size, "tail_percentile" -> pct)
  }

  /** Throughput on all cores over `coreRatio` times the single-core one. */
  private def putScaling(b: Bench, ops: Seq[OpStat], single: OpStat): Unit =
    b.put("scaling_eff",
      single.wall / (b.coreRatio * Stats.median(ops.map(_.wall))), "ratio")

  /** Triple precision and recall against the generator's oracle. */
  private def putScore(b: Bench, edges: DataFrame,
                       expected: Dataset[Triple]): Score.PR = {
    val pr = Score.score(edges, expected.toDF())
    b.put("precision", pr.precision, "ratio")
    b.put("recall", pr.recall, "ratio")
    pr
  }

  /** The repository's t2 quality gate. */
  private def gateScore(b: Bench, pr: Score.PR): Unit =
    b.check(pr.precision >= 0.95 && pr.recall >= 0.95,
      s"triple score below 0.95 against the generator oracle: $pr")

  private def putTraceCommon(b: Bench, overhead: Double): Unit = {
    b.put("host.control_s", Stats.median(b.controls.toSeq), "s")
    b.put("trace.overhead_frac", overhead, "ratio")
  }

  private def putNoServe(b: Bench): Unit =
    Seq("jobs_per_req" -> "count", "tasks_per_req" -> "count",
      "task_cpu_ms_per_req" -> "ms", "sched_ms_per_req" -> "ms",
      "fries_p50_ms" -> "ms", "fries_tail_ms" -> "ms",
      "indexcard_p50_ms" -> "ms", "indexcard_tail_ms" -> "ms")
      .foreach { case (k, u) => b.put(s"serve.$k", 0.0, u) }

  /** Cold, checkpointed `Pipeline.run` over the Zipf corpus plus a
    * mega-conversation; every run's edge set must equal the first one's.
    */
  def batchCold(b: Bench): Unit = {
    val (setupGen, expected) =
      setupInput(b, "turns")(Inputs.batch(b.spark, b.o.seed))
    val nTurns = b.input("turns").count().toDouble
    var ref: (Long, Long, Long) = null
    def op(phase: String): (OpStat, Boolean) = {
      val input = b.input("turns")
      val wd = b.fresh("run")
      val (res, st) = b.measured(Pipeline.run(b.spark, input, wd,
        resume = false))
      val d = Inputs.digest(res.edges)
      if (ref == null) ref = d
      (st, b.check(d == ref, s"$phase: edge digest $d differs from $ref"))
    }
    val warm = b.warmup(BatchWarmups)(op("warmup"))
    b.put("setup_s", setupGen + warm, "s")
    val ops = b.loop("timed", MinOps, b.o.seconds)(op("timed"))
    putTimed(b, ops, nTurns)
    gateScore(b,
      putScore(b, TableIO(b.dir("run").toString).read(b.spark, "edges"), expected))
    if (b.o.trace) {
      val t = Layers.traced(b, b.input("turns"), b.fresh("trace"))
      Layers.report(b, t)
      Layers.micro(b, Inputs.layerSample(b.o.seed))
      putNoServe(b)
      putTraceCommon(b,
        t.tracer.seconds("run") / Stats.median(ops.map(_.wall)) - 1)
      b.session(b.singleMaster)
      putScaling(b, ops, b.once("single_core")(op("single_core")))
    }
  }

  /** `Pipeline.run(resume = true)` from a completed mentions_raw checkpoint
    * of the density-skew corpus: fold, canon and materialize only.
    */
  def resumeDense(b: Bench): Unit = {
    val (setupGen, expected) =
      setupInput(b, "dense")(Inputs.dense(b.spark, b.o.seed))
    val nTurns = b.input("dense").count().toDouble
    val wd = b.fresh("run")
    val (cold, coldS) = b.time(Pipeline.run(b.spark, b.input("dense"), wd,
      resume = false))
    b.attempted += 1
    val ref = Inputs.digest(cold.edges)
    def op(phase: String): (OpStat, Boolean) = {
      val io = TableIO(wd)
      Seq("stage_b", "canon_map", "edges", "nodes", "lineage").foreach(io.delete)
      val (res, st) = b.measured(Pipeline.run(b.spark, b.input("dense"), wd,
        resume = true))
      val d = Inputs.digest(res.edges)
      (st, b.check(d == ref,
        s"$phase: resumed edge digest $d differs from the cold run's $ref"))
    }
    val warm = b.warmup(BatchWarmups)(op("warmup"))
    b.put("setup_s", setupGen + coldS + warm, "s")
    val ops = b.loop("timed", MinOps, b.o.seconds)(op("timed"))
    putTimed(b, ops, nTurns)
    // fused sentences share hedging and context cues across sentence
    // boundaries, which the per-template oracle does not model: reported,
    // not gated
    putScore(b, TableIO(wd).read(b.spark, "edges"), expected)
    if (b.o.trace) {
      val t = Layers.traced(b, b.input("dense"), b.fresh("trace"))
      Layers.report(b, t)
      Layers.micro(b, Inputs.layerSample(b.o.seed))
      putNoServe(b)
      val resumed = t.tracer.seconds("run") - t.tracer.seconds("mentions")
      putTraceCommon(b, resumed / Stats.median(ops.map(_.wall)) - 1)
      b.session(b.singleMaster)
      putScaling(b, ops, b.once("single_core")(op("single_core")))
    }
  }

  private val mapper = new ObjectMapper()
    .configure(SerializationFeature.ORDER_MAP_ENTRIES_BY_KEYS, true)

  private def canonical(n: JsonNode): String =
    mapper.writeValueAsString(mapper.convertValue(n, classOf[Object]))

  /** Index cards without the request id and the display texts (node display
    * names are chosen corpus-wide, so they legitimately differ between a
    * one-text request and a batch).
    */
  private def cardKey(card: JsonNode): String = {
    val c = card.deepCopy[JsonNode]().asInstanceOf[ObjectNode]
    c.remove("pmc_id")
    val info = c.get("extracted_information")
    if (info != null) Seq("participant_a", "participant_b").foreach { p =>
      info.get(p) match {
        case o: ObjectNode => o.remove("entity_text")
        case _ => ()
      }
    }
    canonical(c)
  }

  private def cardSig(cards: Iterable[JsonNode]): Seq[String] =
    cards.map(cardKey).toSeq.sorted

  /** FRIES frame counts per section plus every event frame without its ids. */
  private def friesSig(doc: JsonNode): Seq[String] = {
    def frames(s: String) = Option(doc.get(s)).flatMap(x => Option(x.get("frames")))
      .map(_.elements().asScala.toSeq).getOrElse(Nil)
    val events = frames("events").map { f =>
      Seq("subtype", "text", "trigger", "is-negated", "is-hypothesis")
        .map(k => Option(f.get(k)).map(_.toString).getOrElse("")).mkString("|")
    }.sorted
    Seq(s"sentences=${frames("sentences").size}",
      s"entities=${frames("entities").size}") ++ events
  }

  final case class Resp(ms: Double, ok: Boolean, jobs: Long,
                        tasks: Vector[TaskRec], t0: Long, t1: Long)

  /** Closed-loop client against `Serve.start`: one client, alternating
    * `output=fries` and `output=indexcard` on seeded one-conversation texts.
    */
  def serveClosed(b: Bench): Unit = {
    val sess = b.time(b.session(b.master))._2
    var texts: Seq[(String, Seq[Triple])] = Nil
    val gen = Stats.median((1 to 3).map(_ =>
      b.time { texts = Inputs.serveTexts(b.o.seed) }._2))
    // every text as a conversation of its own, as a request sees it
    def turns = b.spark.createDataset(texts.zipWithIndex.map { case ((t, _), i) =>
      Transcripts.mkTurn(s"s$i", 0, "user", t)
    })(Encoders.product[Turn])
    // the oracle: the pipeline's stage functions in Pipeline.extract's
    // order, over all texts at once
    val (oracle, oracleS) = b.time {
      val spark = b.spark
      import spark.implicits._
      val input = turns
      val acc = new CollectionAccumulator[Lineage]
      b.sc.register(acc, "kgbench-oracle")
      val sb = Pipeline.stageB(spark,
        Pipeline.stageMentions(spark, input, "oracle", acc), "oracle", acc).cache()
      val fries = Emit.friesFrameGraph(sb.toDF(), Some(input.toDF()))
        .select("conv_id", "fries").as[(String, String)].collect()
        .map { case (c, j) => c -> friesSig(mapper.readTree(j)) }.toMap
      val canon = Pipeline.stageCanon(spark, sb)
      val (edges, nodes) = Pipeline.stageMaterialize(spark, sb, canon)
      val cards = Emit.indexCardJson(Emit.indexCardFlat(edges, nodes))
        .as[String].collect().map(mapper.readTree)
        .groupBy(_.get("pmc_id").asText()).map { case (c, cs) => c -> cardSig(cs) }
      val exp = spark.createDataset(texts.flatMap(_._2))
      val pr = Score.score(edges, exp.toDF())
      sb.unpersist()
      (fries, cards, pr)
    }
    val (friesExp, cardsExp, pr) = oracle
    b.reading("phase" -> "setup", "session_s" -> sess, "input_s" -> gen,
      "oracle_s" -> oracleS)
    b.put("precision", pr.precision, "ratio")
    b.put("recall", pr.recall, "ratio")

    var server = Serve.start(b.spark, 0)
    def request(fmt: String, i: Int): Resp = {
      val k = i % texts.size
      val m = b.log.mark(b.sc)
      val t0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      val url = new java.net.URI(s"http://127.0.0.1:${server.getAddress.getPort}" +
        s"/api/text?output=$fmt").toURL
      val c = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
      c.setRequestMethod("POST")
      c.setDoOutput(true)
      c.getOutputStream.write(texts(k)._1.getBytes("UTF-8"))
      val code = c.getResponseCode
      val body = new String((if (code == 200) c.getInputStream
        else c.getErrorStream).readAllBytes(), "UTF-8")
      val ms = (System.nanoTime() - n0) / 1e6
      val t1 = System.currentTimeMillis()
      val (jobs, ts) = b.log.since(b.sc, m)
      val j = mapper.readTree(body)
      val ok = b.check(code == 200 && !j.path("hasError").asBoolean(true),
        s"$fmt request on text $k: HTTP $code $body") && {
        val got = j.get("resultJson")
        if (fmt == "fries")
          b.check(friesSig(got) == friesExp.getOrElse(s"s$k", Nil),
            s"fries response for text $k differs from the pipeline's frames")
        else
          b.check(cardSig(got.elements().asScala.toSeq) ==
            cardsExp.getOrElse(s"s$k", Nil),
            s"indexcard response for text $k differs from the pipeline's cards")
      }
      Resp(ms, ok, jobs, ts, t0, t1)
    }
    val resps = mutable.Map("fries" -> mutable.ArrayBuffer.empty[Resp],
      "indexcard" -> mutable.ArrayBuffer.empty[Resp])
    var next = 0
    def pair(keep: Boolean): (OpStat, Boolean) = {
      val i = next
      next += 1
      val rs = Seq("fries", "indexcard").map(f => f -> request(f, i))
      if (keep) rs.foreach { case (f, r) => resps(f) += r }
      (OpStat(rs.map(_._2.ms).sum / 1000, rs.map(r => Tasks.cpuS(r._2.tasks)).sum, 0),
        rs.forall(_._2.ok))
    }
    val warm = b.warmup(ServeWarmups)(pair(keep = false))
    b.put("setup_s", sess + gen + oracleS + warm, "s")
    val ops = b.loop("timed", MinOps, b.o.seconds)(pair(keep = true))
    // each request annotates one turn
    putTimed(b, ops, 2.0)
    if (b.o.trace) {
      b.writeInput(turns, "serve")
      val t = Layers.traced(b, b.input("serve"), b.fresh("trace"))
      Layers.report(b, t)
      Layers.micro(b, Inputs.layerSample(b.o.seed))
      val all = resps.values.flatten.toSeq
      b.put("serve.jobs_per_req", Stats.median(all.map(_.jobs.toDouble)), "count")
      b.put("serve.tasks_per_req", Stats.median(all.map(_.tasks.size.toDouble)), "count")
      b.put("serve.task_cpu_ms_per_req",
        Stats.median(all.map(r => Tasks.cpuS(r.tasks) * 1000)), "ms")
      b.put("serve.sched_ms_per_req",
        Stats.median(all.map(r => Tasks.idleMs(r.tasks, r.t0, r.t1))), "ms")
      resps.foreach { case (f, rs) =>
        val ms = rs.map(_.ms).toSeq
        b.put(s"serve.${f}_p50_ms", Stats.median(ms), "ms")
        b.put(s"serve.${f}_tail_ms", Stats.tail(ms)._2, "ms")
      }
      val tr = new Tracer(() => b.sc, s"${b.o.workload}-${b.o.seed}-requests")
      val (ps, pOk) = tr.span("request_pair")(pair(keep = false))
      b.attempted += 1
      if (!pOk) b.failed += 1
      tr.writeTo(b.dir("out").resolve(s"${tr.run}-spans.jsonl"))
      putTraceCommon(b, ps.wall / Stats.median(ops.map(_.wall)) - 1)
      server.stop(0)
      b.session(b.singleMaster)
      server = Serve.start(b.spark, 0)
      putScaling(b, ops, b.once("single_core")(pair(keep = false)))
    }
    server.stop(0)
  }
}
