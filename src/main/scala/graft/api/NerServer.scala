package graft.api

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

/** Minimal HTTP serving loop over the engine's NER surface — the
  * reference's Flask app (webapp/app.py:166-207, 215-317) re-expressed
  * on the JDK's built-in HttpServer (zero new dependencies; an analytics
  * engine's demo/debug face, NOT its scale path — batch and streaming
  * ingestion are):
  *
  *   GET  /models              → the registry listing (app.py:166-168)
  *   POST /ner                 → default model
  *   POST /ner/{id}            → raw text body → sentence-split → fused
  *                               detect → the /ner JSON shape (app.py:317)
  *   POST /tokenized           → sentence × word arrays with sentence
  *                               index, no model (app.py:171-182)
  *   POST /ner-bert-tokens     → html-escaped wordpiece tokens + RAW
  *   POST /ner-bert-tokens/{id}  per-token predictions, pre-realignment
  *                               (app.py:184-207)
  *
  * Request-hash memoization (ST2): identical (model, text) requests
  * return the cached response without touching Spark — the same
  * request-hash semantics the lineage store uses for batch skip.
  * The warm-model contract is [[ModelRegistry]]'s: one warm tagger,
  * rebuilt only on id change.
  */
class NerServer(spark: SparkSession, registry: ModelRegistry, port: Int = 0) {

  // BOUNDED response memo (the reference process also caches in-process
  // per warm model): an access-ordered LRU capped at maxMemo entries so
  // a long-running serve process cannot grow without limit under varied
  // traffic; all access under the map's own lock
  private val maxMemo = 4096
  private val memo = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, String](128, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, String]): Boolean = size() > maxMemo
    })
  private val memoHits = new java.util.concurrent.atomic.AtomicLong(0)

  private val server = HttpServer.create(new InetSocketAddress(port), 0)
  server.createContext("/models", (ex: HttpExchange) => safely(ex) {
    // jsonStr (proper JSON escaping) — the reference's jsonify escapes
    // these fields too; html escaping belongs only to /ner-bert-tokens
    val body = registry.list.map { m =>
      s"""{"name":${jsonStr(m.name)},"id":${m.id},""" +
        s""""model_dir":${jsonStr(m.model_dir)},""" +
        s""""epoch":${m.epoch},"default":${m.default}}"""
    }.mkString("[", ",", "]")
    respond(ex, 200, body)
  })
  /** Shared POST plumbing: parse optional /{model_id} suffix, memoize on
    * (endpoint, resolved model, text) — the reference's key_prefix is
    * request.path + body hash (app.py:157-158), so distinct endpoints
    * over the same text never collide in the cache.
    */
  private def postEndpoint(prefix: String,
                           handler: (Option[Int], String) => String)
      : com.sun.net.httpserver.HttpHandler =
    (ex: HttpExchange) => safely(ex) {
      if (ex.getRequestMethod != "POST") respond(ex, 405, """{"error":"POST"}""")
      else {
        val path = ex.getRequestURI.getPath.stripPrefix(prefix)
          .stripPrefix("/")
        // a malformed id suffix is a CLIENT error (404, like the
        // reference's unmatched <model_id> route), never a 500
        if (path.nonEmpty && path.toIntOption.isEmpty)
          respond(ex, 404, """{"error":"bad model id"}""")
        else {
          // bounded read: one byte past the cap flags an oversized body
          val bytes = ex.getRequestBody.readNBytes(NerServer.MaxBodyBytes + 1)
          if (bytes.length > NerServer.MaxBodyBytes)
            respond(ex, 413,
              s"""{"error":"body over ${NerServer.MaxBodyBytes} bytes"}""")
          else {
            val modelId = path.toIntOption
            val text = new String(bytes, StandardCharsets.UTF_8)
            val key = graft.store.Snapshots.configHash(prefix,
              registry.resolve(modelId).id.toString, text)
            val cached = memo.get(key)
            val body = if (cached != null) { memoHits.incrementAndGet(); cached }
            else {
              val out = handler(modelId, text)
              memo.put(key, out); out
            }
            respond(ex, 200, body)
          }
        }
      }
    }

  // the reference's entry redirect (app.py:161-163): "/" → /index.html,
  // then the catch-all static route (app.py:320-322) serves the demo UI
  // from embedded classpath resources under graft/static/. Registered on
  // "/" so it also serves as the 404 fallback for paths no other context
  // claims (HttpServer longest-prefix routing).
  server.createContext("/", (ex: HttpExchange) => safely(ex) {
    if (ex.getRequestURI.getPath == "/") {
      ex.getResponseHeaders.set("Location", "/index.html")
      ex.sendResponseHeaders(302, -1)
      ex.getResponseBody.close()
    } else staticResource(ex.getRequestURI.getPath) match {
      case Some((bytes, ctype)) => respondBytes(ex, 200, bytes, ctype)
      case None => respond(ex, 404, """{"error":"not found"}""")
    }
  })

  /** Embedded static asset lookup. The path is allowlisted to simple
    * `name.ext` segments (no '..', no '/', no encodings) BEFORE touching
    * the classloader, so a traversal request cannot address arbitrary
    * classpath entries — the server exposes exactly the files shipped
    * under graft/static/.
    */
  private val staticSafe = java.util.regex.Pattern
    .compile("/((?:[A-Za-z0-9_-]+/)*[A-Za-z0-9_-]+\\.[A-Za-z0-9]+)")
  private def staticResource(path: String): Option[(Array[Byte], String)] = {
    val m = staticSafe.matcher(path)
    if (!m.matches()) None
    else Option(getClass.getResourceAsStream(s"/graft/static/${m.group(1)}"))
      .map { in =>
        val bytes = try in.readAllBytes() finally in.close()
        val ctype = path.substring(path.lastIndexOf('.') + 1) match {
          case "html" => "text/html; charset=utf-8"
          case "js" => "text/javascript; charset=utf-8"
          case "css" => "text/css; charset=utf-8"
          case _ => "application/octet-stream"
        }
        (bytes, ctype)
      }
  }
  server.createContext("/ner-bert-tokens", postEndpoint("/ner-bert-tokens", bertTokens))
  server.createContext("/tokenized", postEndpoint("/tokenized",
    (_, text) => tokenized(text)))
  server.createContext("/ner", postEndpoint("/ner", classify))

  /** One request runs the IDENTICAL per-sentence kernel the fused
    * detect stage broadcasts (splitter → window encode → warm tagger →
    * re-glue → re-align), sequentially — exactly like the reference's
    * per-request path. q89's oracle proves this kernel and the
    * distributed plan produce the same predictions, so the served
    * response cannot drift from the batch pipeline's.
    */
  // warm per-process singletons (the reference's PredictorStore contract,
  // app.py:126-149): the encoder and realigner are built ONCE with the
  // server — only the tagger warm-swaps on model-id change (ModelRegistry)
  private val enc = new graft.text.WindowEncoder(
    graft.text.Vocab.default, graft.text.Vocab.tokenToId,
    graft.text.Tags.labelMap)
  private val realigner = new graft.text.Realigner(graft.text.Vocab.default)

  private def classify(modelId: Option[Int], text: String): String = {
    import graft.text._
    val tagger = registry.get(modelId)
    val sents = SentenceSplitter.sentences(text)
    sents.map { words =>
      val (wins, counts) =
        enc.encodeWithCounts("req/0/0", words, Array.fill(words.length)("O"))
      val tagged = tagger.tagBatch(wins)
      val (_, preds) = realigner.reglue(tagged.map(w => (w.tokens, w.preds)))
      val tags = realigner.realignWithCounts(words, counts, preds).map(_._2)
      words.zip(tags).map { case (w, t) =>
        s"""{"word":${jsonStr(w)},"prediction":${jsonStr(t)}}"""
      }.mkString("[", ",", "]")
    }.mkString("[", ",", "]")
  }

  /** `/tokenized` (app.py:171-182): sentence-split only, no model —
    * `[[ [word, ...], sentence_idx ], ...]` (the reference jsonifies
    * `[(sen, i)]` tuples as 2-element arrays).
    */
  private def tokenized(text: String): String =
    graft.text.SentenceSplitter.sentences(text).zipWithIndex.map {
      case (words, i) =>
        s"[${words.map(jsonStr).mkString("[", ",", "]")},$i]"
    }.mkString("[", ",", "]")

  /** `/ner-bert-tokens/{id}` (app.py:184-207): per sentence, the GLUED
    * wordpiece tokens (specials stripped — classify_text's
    * `fe.tokens[1:-1]` concatenation, app.py:78-84) zipped with the RAW
    * per-token predictions, html-escaped like the reference.
    */
  private def bertTokens(modelId: Option[Int], text: String): String = {
    import graft.text._
    val tagger = registry.get(modelId)
    SentenceSplitter.sentences(text).map { words =>
      val (wins, _) =
        enc.encodeWithCounts("req/0/0", words, Array.fill(words.length)("O"))
      val tagged = tagger.tagBatch(wins)
      val (toks, preds) = realigner.reglue(tagged.map(w => (w.tokens, w.preds)))
      toks.zip(preds).map { case (t, p) =>
        s"""{"token":${jsonStr(NerOutput.htmlEscape(t))},"prediction":${jsonStr(p)}}"""
      }.mkString("[", ",", "]")
    }.mkString("[", ",", "]")
  }

  private def jsonStr(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  private def safely(ex: HttpExchange)(f: => Unit): Unit =
    try f catch {
      case e: Exception =>
        // jsonStr, not htmlEscape: exception messages routinely contain
        // newlines/backslashes (Spark analysis errors), which htmlEscape
        // leaves raw — the 500 body must still be parseable JSON
        respond(ex, 500,
          s"""{"error":${jsonStr(String.valueOf(e.getMessage))}}""")
    }

  private def respond(ex: HttpExchange, code: Int, body: String): Unit =
    respondBytes(ex, code, body.getBytes(StandardCharsets.UTF_8),
      "application/json")

  private def respondBytes(ex: HttpExchange, code: Int, bytes: Array[Byte],
                           ctype: String): Unit = {
    ex.getResponseHeaders.set("Content-Type", ctype)
    ex.sendResponseHeaders(code, bytes.length)
    val os = ex.getResponseBody
    os.write(bytes); os.close()
  }

  def start(): Int = { server.start(); server.getAddress.getPort }
  def stop(): Unit = server.stop(0)
  def memoHitCount: Long = memoHits.get()
}

object NerServer {
  /** Largest accepted POST body (a 40-doc page is tens of KiB). */
  val MaxBodyBytes: Int = 8 << 20
}
