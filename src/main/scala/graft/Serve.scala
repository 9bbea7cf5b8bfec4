package graft

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import graft.kg._
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.{LinkedBlockingQueue, ThreadPoolExecutor, TimeUnit}
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
  *     → 400 `{"hasError":true,"errorMessage":"..."}` for a bad request
  *       (ApiRuler's catch shape, mkResponse:69-90); 500
  *       `{"hasError":true,"errorMessage":"internal error (apiN)"}` for
  *       anything else, with the exception and its stack trace on stderr
  *       under the same request id (the response never carries it)
  *   GET  /api/ping → `{"status":"ok"}`
  *
  * Scale note: the reference runs a full ReachSystem per request; this
  * face runs the full pipeline on a one-conversation corpus per request —
  * a few local Spark jobs (~a second after warmup) through ONE shared
  * session, on a fixed pool of one handler thread per available processor.
  * It is the dev/eval serving shape; the 100 TB path is the batch pipeline.
  */
object Serve {

  private val reqCounter = new java.util.concurrent.atomic.AtomicLong(0L)

  /** JSON string-body escape: backslash, quote and ALL control chars
    * (< 0x20). [[Verify]] writes `oracle_sql.json` through it too. */
  private[graft] def jsonEscape(s: String): String =
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
                                  outFormat: String, convId: String,
                                  cfg: KgConfig = KgConfig.default): String = {
    import spark.implicits._
    val turns = spark.createDataset(Seq(
      Transcripts.mkTurn(convId, 0, "user", text)))
    val acc = new org.apache.spark.util.CollectionAccumulator[graft.model.Lineage]
    spark.sparkContext.register(acc)
    // cache stage_b exactly as Pipeline.extract does: the indexcard path
    // consumes it four times (canon count + collect, edges, nodes) and
    // would otherwise replay the whole extraction per consumer
    val b = Pipeline.stageB(spark,
      Pipeline.stageMentions(spark, turns, convId, acc, cfg), convId, acc,
      cfg).cache()
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

  /** The 500 response for a failed request: the exception and its stack
    * trace go to stderr under the request id; the client sees only the id.
    */
  private[graft] def internalError(reqId: String, e: Throwable): String = {
    System.err.println(s"[graft] $reqId failed")
    e.printStackTrace()
    s"""{"hasError":true,"errorMessage":"internal error ($reqId)"}"""
  }

  /** Start the server on `port` (0 = ephemeral; read the bound port from
    * the returned server), extracting with `cfg`. The caller owns the
    * SparkSession lifecycle.
    */
  def start(spark: SparkSession, port: Int,
            cfg: KgConfig = KgConfig.default): HttpServer = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    // one handler thread per processor; idle threads exit, so a stopped
    // server leaves none behind
    val nThreads = Runtime.getRuntime.availableProcessors()
    val pool = new ThreadPoolExecutor(nThreads, nThreads, 60L,
      TimeUnit.SECONDS, new LinkedBlockingQueue[Runnable](), (r: Runnable) => {
        val t = new Thread(r, "graft-serve")
        t.setDaemon(true)
        t
      })
    pool.allowCoreThreadTimeOut(true)
    server.setExecutor(pool)
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
      // reference request ids: prefix "api" + incrementing counter
      val reqId = s"api${reqCounter.incrementAndGet()}"
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
            val json =
              try Right(annotateText(spark, text, outFormat, reqId, cfg))
              catch {
                case e: IllegalArgumentException => Left((400,
                  s"""{"hasError":true,"errorMessage":"${jsonEscape(
                    Option(e.getMessage).getOrElse(e.toString))}"}"""))
                case e: Throwable => Left((500, internalError(reqId, e)))
              }
            json match {
              case Right(j) => respond(x, 200,
                s"""{"hasError":false,"requestId":"$reqId","resultJson":$j}""")
              case Left((code, body)) => respond(x, code, body)
            }
          }
        }
      } catch {
        case e: Throwable => respond(x, 500, internalError(reqId, e))
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
