package graft

import graft.kg._
import graft.model.Lineage
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import org.apache.spark.util.CollectionAccumulator
import org.scalatest.funsuite.AnyFunSuite

/** REST serving face (S11 — ApiRuler semantics): POST text → the export
  * JSON inside the reference's {resultJson, hasError} envelope.
  */
class ServeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def withServer[T](f: Int => T): T = withServer(KgConfig.default)(f)

  private def withServer[T](cfg: KgConfig)(f: Int => T): T = {
    val server = Serve.start(spark, 0, cfg)
    try f(server.getAddress.getPort)
    finally server.stop(0)
  }

  private val client = HttpClient.newHttpClient()

  private def post(port: Int, path: String, body: String): HttpResponse[String] =
    client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  test("POST /api/text returns the FRIES frame graph in the ApiRuler " +
       "envelope; indexcard variant; error shapes") {
    withServer { port =>
      // liveness
      val ping = client.send(
        HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:$port/api/ping")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(ping.statusCode() == 200 && ping.body().contains("ok"))

      // fries (default output)
      val r = post(port, "/api/text", "MEK1 phosphorylates ERK2.")
      assert(r.statusCode() == 200, r.body())
      assert(r.body().contains("\"hasError\":false"))
      assert(r.body().contains("\"requestId\":\"api"))
      assert(r.body().contains("frame-collection") &&
        r.body().contains("\"subtype\":\"phosphorylation\"") &&
        r.body().contains("event-mention"),
        r.body().take(400))

      // indexcard
      val ic = post(port, "/api/text?output=indexcard",
        "MEK1 phosphorylates ERK2.")
      assert(ic.statusCode() == 200, ic.body())
      assert(ic.body().contains("\"hasError\":false"))
      assert(ic.body().contains("interaction_type"), ic.body().take(400))

      // unknown format -> 400 with ApiRuler's error shape
      val bad = post(port, "/api/text?output=bogus", "some text")
      assert(bad.statusCode() == 400)
      assert(bad.body().contains("\"hasError\":true") &&
        bad.body().contains("unknown output format"))

      // empty body -> 400
      val empty = post(port, "/api/text", "  ")
      assert(empty.statusCode() == 400 &&
        empty.body().contains("\"hasError\":true"))

      // wrong method -> 405
      val get = client.send(
        HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:$port/api/text")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(get.statusCode() == 405)

      // the envelope's resultJson is well-formed JSON: Spark can parse it
      import spark.implicits._
      import org.apache.spark.sql.functions._
      val parsed = Seq(r.body()).toDS().select(
        get_json_object(col("value"),
          "$.resultJson.sentences.object-type"))
        .as[String].head()
      assert(parsed == "frame-collection")
    }
  }

  // request ids differ per call, and so do the frame ids hashed from them:
  // number the frame ids in order of appearance instead
  private def sansIds(body: String): String = {
    val ids = scala.collection.mutable.Map.empty[String, Int]
    "(\"frame-id\"|\"arg\"):(-?\\d+)".r.replaceAllIn(
      body.replaceAll("api\\d+", "apiN"),
      m => s"${m.group(1)}:${ids.getOrElseUpdate(m.group(2), ids.size)}")
  }

  test("concurrent POSTs each return their serial response") {
    withServer { port =>
      val reqs = Seq(
        "/api/text" -> "MEK1 phosphorylates ERK2.",
        "/api/text?output=indexcard" -> "AKT1 binds MEK1.")
      val serial = reqs.map { case (path, text) =>
        sansIds(post(port, path, text).body()) }
      val start = new java.util.concurrent.CountDownLatch(1)
      val inFlight = reqs.map { case (path, text) =>
        java.util.concurrent.CompletableFuture.supplyAsync { () =>
          start.await()
          sansIds(post(port, path, text).body())
        }
      }
      start.countDown()
      val concurrent = inFlight.map(_.get())
      serial.foreach(b => assert(b.contains("\"hasError\":false"), b))
      assert(concurrent == serial)
    }
  }

  test("requests run on one handler thread per processor: a request " +
       "stalled in its body does not hold up another") {
    val cores = Runtime.getRuntime.availableProcessors()
    val server = Serve.start(spark, 0)
    try {
      server.getExecutor match {
        case p: java.util.concurrent.ThreadPoolExecutor =>
          assert(p.getCorePoolSize == cores && p.getMaximumPoolSize == cores)
        case e => fail(s"executor $e")
      }
      assume(cores >= 2, "overlap needs two handler threads")
      val port = server.getAddress.getPort
      val sock = new java.net.Socket("127.0.0.1", port)
      try {
        sock.setSoTimeout(30000)
        val out = sock.getOutputStream
        val in = new java.io.BufferedReader(new java.io.InputStreamReader(
          sock.getInputStream, java.nio.charset.StandardCharsets.US_ASCII))
        // the server answers "100 Continue" from the handler thread that
        // took the exchange; that thread then waits for the second byte
        out.write(("POST /api/text HTTP/1.1\r\nHost: 127.0.0.1\r\n" +
          "Expect: 100-continue\r\nContent-Length: 2\r\n\r\n").getBytes("US-ASCII"))
        out.flush()
        assert(in.readLine().startsWith("HTTP/1.1 100"))
        out.write(' '.toInt)
        out.flush()
        val ping = client.send(
          HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/api/ping"))
            .timeout(java.time.Duration.ofSeconds(30)).GET().build(),
          HttpResponse.BodyHandlers.ofString())
        assert(ping.statusCode() == 200)
        // finish the stalled request: a blank body answers 400
        out.write(' '.toInt)
        out.flush()
        val status = Iterator.continually(in.readLine())
          .find(l => l == null || l.startsWith("HTTP/1.1 4"))
        assert(status.exists(l => l != null && l.startsWith("HTTP/1.1 400")),
          status)
      } finally sock.close()
    } finally server.stop(0)
  }

  /** The Spark-staged form of one request: the pipeline's stages over the
    * same one-turn corpus, then the same exporter.
    */
  private def staged(text: String, outFormat: String, convId: String): String = {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val turns = spark.createDataset(Seq(
      Transcripts.mkTurn(convId, 0, "user", text)))
    val acc = new CollectionAccumulator[Lineage]
    spark.sparkContext.register(acc)
    val b = Pipeline.stageB(spark,
      Pipeline.stageMentions(spark, turns, convId, acc), convId, acc).cache()
    try outFormat match {
      case "fries" =>
        Emit.friesFrameGraph(b.toDF(), Some(turns.toDF()))
          .select(col("fries")).as[String].collect().headOption.getOrElse("{}")
      case "indexcard" =>
        // in Serve's card order: sorted by card JSON
        val (edges, nodes) = Pipeline.stageMaterialize(spark, b,
          Pipeline.stageCanon(spark, b))
        Emit.indexCardJson(Emit.indexCardFlat(edges, nodes))
          .as[String].collect().sorted.mkString("[", ",", "]")
    } finally b.unpersist()
  }

  test("annotateText in both formats is byte-identical to the Spark-staged " +
       "exporters on the same one-turn corpus") {
    val texts = Seq(
      "MEK1 phosphorylates ERK2. AKT1 binds MEK1 in human cells.",
      "AKT4H (alias AKT1) phosphorylates ERK2. ERK2 is not ubiquitinated.",
      "RAS activates RAF. MEK1 increases the amount of ERK2.")
    texts.zipWithIndex.foreach { case (text, i) =>
      Seq("fries", "indexcard").foreach { f =>
        val got = Serve.annotateText(spark, text, f, s"api9$i")
        assert(got == staged(text, f, s"api9$i"), s"$f on text $i")
        assert(got.length > 2, s"$f on text $i is empty")
      }
    }
  }

  test("an unknown output format answers 400 before any extraction: no " +
       "Spark job starts") {
    val sc = spark.sparkContext
    val text = "MEK1 phosphorylates ERK2."
    // both formats run in-process: no Spark job either
    Seq("fries", "indexcard").foreach(f => assert(SparkJobs.during(sc,
      "serve-spec-format")(Serve.annotateText(spark, text, f, "api1")) == 0, f))
    assert(SparkJobs.during(sc, "serve-spec-format")(
      intercept[IllegalArgumentException](
        Serve.annotateText(spark, text, "bogus", "api2"))) == 0)
    // over HTTP: a KB that fails extraction (a null lexicon surface) still
    // answers 400 for an unknown format, as the format is checked first
    val broken = KgConfig(kb = KbData.builtin.copy(
      lexicon = KbData.builtin.lexicon :+ ((null, "Gene_or_gene_product"))))
    withServer(broken) { port =>
      val r = post(port, "/api/text?output=bogus", "MEK1 phosphorylates ERK2.")
      assert(r.statusCode() == 400, r.body())
      assert(r.body().contains("unknown output format"), r.body())
    }
  }

  test("an internal failure answers 500 with the request id only; the " +
       "exception text never reaches the client") {
    val body = Serve.internalError("api7",
      new IllegalStateException("secret detail"))
    assert(body == """{"hasError":true,"errorMessage":"internal error (api7)"}""")
    // end to end: a KB whose lexicon holds a null surface fails inside the
    // request with a NullPointerException
    val broken = KgConfig(kb = KbData.builtin.copy(
      lexicon = KbData.builtin.lexicon :+ ((null, "Gene_or_gene_product"))))
    withServer(broken) { port =>
      val r = post(port, "/api/text", "MEK1 phosphorylates ERK2.")
      assert(r.statusCode() == 500, r.body())
      assert(r.body().matches(
        "\\{\"hasError\":true,\"errorMessage\":\"internal error \\(api\\d+\\)\"\\}"),
        r.body())
    }
  }

  test("sequential indexcard POSTs over one keep-alive connection answer " +
       "well under the 40 ms delayed-ACK floor") {
    // HttpURLConnection (kgbench's client) reuses one connection once a
    // response is read to its end; without TCP_NODELAY each response body
    // waited for the client's delayed ACK of the headers
    withServer { port =>
      val url = URI.create(
        s"http://127.0.0.1:$port/api/text?output=indexcard").toURL
      val ms = (1 to 30).map { _ =>
        val t0 = System.nanoTime()
        val c = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
        c.setRequestMethod("POST")
        c.setDoOutput(true)
        c.getOutputStream.write("MEK1 phosphorylates ERK2.".getBytes("UTF-8"))
        assert(c.getResponseCode == 200)
        val in = c.getInputStream
        in.readAllBytes()
        in.close()
        (System.nanoTime() - t0) / 1e6
      }.drop(10).sorted // the first requests wait on the JIT
      val median = ms(ms.size / 2)
      assert(median < 20.0, s"median round trip $median ms over $ms")
    }
  }

  test("the per-request log line carries id, format, status and handler ms") {
    assert(Serve.requestLine("api12", "indexcard", 200, 1.234) ==
      "[graft] api12 indexcard 200 1.2")
    assert(Serve.requestLine("api3", "bogus", 400, 0.04) ==
      "[graft] api3 bogus 400 0.0")
    assert(Serve.requestLine("api4", "fries", 500, 1234.56) ==
      "[graft] api4 fries 500 1234.6")
  }
}
