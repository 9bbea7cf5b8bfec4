package graft

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import graft.kg._
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** REST serving face (SURVEY §2.1 S11 — the reference's export ApiRuler,
  * ApiRuler.scala:50-95: `annotateText(text, outFormat)` returning a
  * `{resultJson, hasError[, errorMessage]}` response envelope, request ids
  * from an incrementing counter with prefix "api").
  *
  * Endpoints (JDK `com.sun.net.httpserver`, zero new dependencies):
  *   POST /api/text?output=fries|indexcard   body = raw UTF-8 text
  *     → 200 `{"hasError":false,"requestId":"apiN","resultJson":<json>}`
  *       (`fries`: the frame-graph document — sentences/entities/events
  *        frame collections; `indexcard`: a JSON array of card documents)
  *     → 400/500 `{"hasError":true,"errorMessage":"..."}` (ApiRuler's
  *       catch shape, mkResponse:69-90)
  *   GET  /api/ping → `{"status":"ok"}`
  *
  * Scale note: the reference runs a full ReachSystem per request; this
  * face runs the full pipeline on a one-conversation corpus per request —
  * one local Spark job (~a second after warmup) through ONE shared
  * session. It is the dev/eval serving shape; the 100 TB path is the
  * batch pipeline, and a production service would put this behind a
  * request queue with the session pinned hot.
  */
object Serve {

  private val reqCounter = new java.util.concurrent.atomic.AtomicLong(0L)

  private def jsonEscape(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  /** One request: full pipeline over a single-conversation corpus, then
    * the requested exporter. Returns the resultJson payload.
    */
  private[graft] def annotateText(spark: SparkSession, text: String,
                                  outFormat: String, convId: String): String = {
    import spark.implicits._
    val turns = spark.createDataset(Seq(
      Transcripts.mkTurn(convId, 0, "user", text)))
    val acc = new org.apache.spark.util.CollectionAccumulator[graft.model.Lineage]
    spark.sparkContext.register(acc)
    // cache stage_b exactly as Pipeline.extract does: the indexcard path
    // consumes it four times (canon count + collect, edges, nodes) and
    // would otherwise replay the whole extraction per consumer
    val b = Pipeline.stageB(spark,
      Pipeline.stageMentions(spark, turns, convId, acc), convId, acc).cache()
    try {
      outFormat match {
        case "fries" =>
          // the `fries` column is already the rendered JSON document
          Emit.friesFrameGraph(b.toDF(), Some(turns.toDF()))
            .select(col("fries")).as[String].collect()
            .headOption.getOrElse("{}")
        case "indexcard" =>
          val canon = Pipeline.stageCanon(spark, b)
          val (edges, nodes) = Pipeline.stageMaterialize(spark, b, canon)
          val cards = Emit.indexCardJson(Emit.indexCardFlat(edges, nodes))
            .as[String].collect()
          cards.mkString("[", ",", "]")
        case f => throw new IllegalArgumentException(
          s"unknown output format '$f' (fries|indexcard)")
      }
    } finally b.unpersist(blocking = false)
  }

  /** Start the server on `port` (0 = ephemeral; read the bound port from
    * the returned server). The caller owns the SparkSession lifecycle.
    */
  def start(spark: SparkSession, port: Int): HttpServer = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    def respond(x: HttpExchange, code: Int, body: String): Unit = {
      val bytes = body.getBytes(StandardCharsets.UTF_8)
      x.getResponseHeaders.set("Content-Type", "application/json")
      x.sendResponseHeaders(code, bytes.length)
      x.getResponseBody.write(bytes)
      x.close()
    }
    server.createContext("/api/ping", (x: HttpExchange) =>
      respond(x, 200, """{"status":"ok"}"""))
    server.createContext("/api/text", (x: HttpExchange) => {
      try {
        if (x.getRequestMethod != "POST")
          respond(x, 405,
            """{"hasError":true,"errorMessage":"POST required"}""")
        else {
          val text = new String(x.getRequestBody.readAllBytes(),
            StandardCharsets.UTF_8)
          val outFormat = Option(x.getRequestURI.getQuery)
            .flatMap(_.split("&").collectFirst {
              case kv if kv.startsWith("output=") => kv.substring(7)
            }).getOrElse("fries")
          if (text.trim.isEmpty)
            respond(x, 400,
              """{"hasError":true,"errorMessage":"empty text body"}""")
          else {
            // reference request ids: prefix "api" + incrementing counter
            val reqId = s"api${reqCounter.incrementAndGet()}"
            val json =
              try Right(annotateText(spark, text, outFormat, reqId))
              catch {
                case e: IllegalArgumentException =>
                  Left((400, Option(e.getMessage).getOrElse(e.toString)))
                case e: Throwable => Left((500, String.valueOf(e)))
              }
            json match {
              case Right(j) => respond(x, 200,
                s"""{"hasError":false,"requestId":"$reqId","resultJson":$j}""")
              case Left((code, msg)) => respond(x, code,
                s"""{"hasError":true,"errorMessage":"${jsonEscape(msg)}"}""")
            }
          }
        }
      } catch {
        case e: Throwable =>
          respond(x, 500,
            s"""{"hasError":true,"errorMessage":"${jsonEscape(String.valueOf(e))}"}""")
      }
    })
    server.start()
    server
  }

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k -> v
    }.toMap
    val port = opts.getOrElse("--port", "8787").toInt
    val spark = Sessions.getOrCreate("graft-serve")
    // warmup: JIT + codegen so the first real request is not 10x
    annotateText(spark, "MEK1 phosphorylates ERK2.", "fries", "api0")
    val server = start(spark, port)
    println(s"[graft] serving on http://127.0.0.1:" +
      s"${server.getAddress.getPort}/api/text (POST text; ?output=" +
      "fries|indexcard)")
    Thread.currentThread().join()
  }
}
