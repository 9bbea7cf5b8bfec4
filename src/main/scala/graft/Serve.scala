package graft

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import graft.kg._
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.{LinkedBlockingQueue, ThreadPoolExecutor, TimeUnit}
import org.apache.spark.sql.SparkSession

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
  * Scale note: the reference runs a full ReachSystem per request. This
  * face runs the whole request in-process on the handler thread, with no
  * Spark job: the narrow pass (annotate, alias pre-pass, rule match) and
  * the fold (context, coref, link, emit) through [[KgCore.stageB]], then
  * canonicalization, materialization and the exporter through
  * [[KgExport]] — the functions the batch stages and the Spark exporters
  * run — on a fixed pool of one handler thread per available processor.
  * On a 4-core host (kgbench `serve_closed`, traced run, seed 42) a
  * request takes 0 Spark jobs and 0 tasks, and p50 latency is ~5 ms for
  * fries and ~4 ms for indexcard (~47 ms for indexcard without
  * TCP_NODELAY, below); with the exporters as Spark jobs it took 16 jobs,
  * 47 tasks, ~1.4 s and ~3.6 s. The session is still needed for
  * the KB and grammar broadcasts the batch path shares. It is the dev/eval
  * serving shape; the 100 TB path is the batch pipeline.
  *
  * Sockets run with TCP_NODELAY: `sendResponseHeaders` sends the headers
  * as one segment and the body follows as a second, small one, which
  * Nagle's algorithm (RFC 896) would hold until the client's delayed ACK
  * (up to 40 ms, RFC 1122 §4.2.3.2). The JDK reads the switch, the system
  * property `sun.net.httpserver.nodelay`, once per JVM, when the first JDK
  * `HttpServer` is created. So [[start]] sets it to `true` only if it is
  * unset (an explicit `-Dsun.net.httpserver.nodelay=false` holds); the
  * setting is JVM-wide, and it has no effect in a JVM that created a JDK
  * `HttpServer` before the first [[start]].
  *
  * Every `/api/text` request prints one line to stderr, whatever its
  * status: `[graft] apiN <format> <status> <handler ms>` ([[requestLine]]).
  */
object Serve {

  private val reqCounter = new java.util.concurrent.atomic.AtomicLong(0L)

  /** One request, in-process on the calling thread: the narrow pass and the
    * fold ([[KgCore.stageB]]) over a one-turn conversation, then the
    * requested exporter over its stage_b rows ([[KgExport.friesDocs]], or
    * [[KgExport.materialize]] and [[KgExport.indexCards]], cards in JSON
    * order). Returns the resultJson payload and starts no Spark job. An
    * unknown format throws before any extraction.
    */
  private[graft] def annotateText(spark: SparkSession, text: String,
                                  outFormat: String, convId: String,
                                  cfg: KgConfig = KgConfig.default): String = {
    val turns = Seq(Transcripts.mkTurn(convId, 0, "user", text))
    val render: Seq[StageBRow] => String = outFormat match {
      case "fries" => rows =>
        KgExport.friesDocs(KgExport.linked(rows), Some(turns))
          .headOption.map(_._2).getOrElse("{}")
      case "indexcard" => rows =>
        val (edges, nodes) = KgExport.materialize(rows)
        KgExport.indexCards(edges, nodes).mkString("[", ",", "]")
      case f => throw new IllegalArgumentException(
        s"unknown output format '$f' (fries|indexcard)")
    }
    val (bTrie, bKb, bG) = Broadcasts.all(spark.sparkContext, cfg)
    render(KgCore.stageB(turns,
      KgCore.Parts(bTrie.value, bKb.value, bG.value), cfg))
  }

  /** The 500 response for a failed request: the exception and its stack
    * trace go to stderr under the request id; the client sees only the id.
    */
  private[graft] def internalError(reqId: String, e: Throwable): String = {
    System.err.println(s"[graft] $reqId failed")
    e.printStackTrace()
    s"""{"hasError":true,"errorMessage":"internal error ($reqId)"}"""
  }

  /** The per-request stderr line: request id, requested output format,
    * HTTP status and the handler's wall time in ms.
    */
  private[graft] def requestLine(reqId: String, outFormat: String,
                                 status: Int, ms: Double): String =
    s"[graft] $reqId $outFormat $status " +
      "%.1f".formatLocal(java.util.Locale.ROOT, ms)

  /** Start the server on `port` (0 = ephemeral; read the bound port from
    * the returned server), extracting with `cfg`. The caller owns the
    * SparkSession lifecycle. Turns on TCP_NODELAY JVM-wide unless it is
    * set already (see the object's note).
    */
  def start(spark: SparkSession, port: Int,
            cfg: KgConfig = KgConfig.default): HttpServer = {
    if (System.getProperty("sun.net.httpserver.nodelay") == null)
      System.setProperty("sun.net.httpserver.nodelay", "true")
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
      val t0 = System.nanoTime()
      val outFormat = Option(x.getRequestURI.getQuery)
        .flatMap(_.split("&").collectFirst {
          case kv if kv.startsWith("output=") => kv.substring(7)
        }).getOrElse("fries")
      var status = 500
      def reply(code: Int, body: String): Unit = {
        status = code
        respond(x, code, body)
      }
      try {
        if (x.getRequestMethod != "POST")
          reply(405, """{"hasError":true,"errorMessage":"POST required"}""")
        else {
          val text = new String(x.getRequestBody.readAllBytes(),
            StandardCharsets.UTF_8)
          if (text.trim.isEmpty)
            reply(400, """{"hasError":true,"errorMessage":"empty text body"}""")
          else {
            val json =
              try Right(annotateText(spark, text, outFormat, reqId, cfg))
              catch {
                case e: IllegalArgumentException => Left((400,
                  Json.render(Json.obj("hasError" -> Json.Bool(true),
                    "errorMessage" -> Json.str(
                      Option(e.getMessage).getOrElse(e.toString))))))
                case e: Throwable => Left((500, internalError(reqId, e)))
              }
            json match {
              case Right(j) => reply(200,
                s"""{"hasError":false,"requestId":"$reqId","resultJson":$j}""")
              case Left((code, body)) => reply(code, body)
            }
          }
        }
      } catch {
        case e: Throwable => reply(500, internalError(reqId, e))
      } finally System.err.println(requestLine(reqId, outFormat, status,
        (System.nanoTime() - t0) / 1e6))
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
    // warmup: JIT of the extraction and both exporters, so the first real
    // request of either format is not 10x
    Seq("fries", "indexcard").foreach(
      annotateText(spark, "MEK1 phosphorylates ERK2.", _, "api0"))
    val server = start(spark, port)
    println(s"[graft] serving on http://127.0.0.1:" +
      s"${server.getAddress.getPort}/api/text (POST text; ?output=" +
      "fries|indexcard)")
    Thread.currentThread().join()
  }
}
