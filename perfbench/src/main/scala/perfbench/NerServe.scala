package perfbench

import graft.gen.CorpusGen
import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{Executors, Future, TimeUnit}
import scala.collection.mutable.ArrayBuffer

/** ner_serve: an open loop of POST /ner requests at fixed rates against
  * `graft.Main serve` in its own JVM. 80% of the texts are one generated
  * doc, 20% are pages of 40 docs, and 10% of requests exactly repeat an
  * earlier text. Each request is timed from its due time. work_per_s is
  * the completion rate sustained at the highest offered rate; p50_ms and
  * p90_ms are taken at the middle rate.
  */
object NerServe {
  /** Offered rates, each with its share of --seconds of due times: the
    * middle rate, whose latencies are reported, gets the most samples.
    */
  val Steps = Seq(10 -> 0.15, 40 -> 0.7, 160 -> 0.15)
  val Rates = Steps.map(_._1)
  val MidRate = 40
  /** Server starts in an untraced run (setup_s is their median). Each is
    * a fresh JVM and Spark session, about 8 s at 4 cores, and they differ
    * within a run by under 10%.
    */
  val Setups = 3
  val WarmRequests = 200
  val SettleMs = 1500L
  val LimitMs = 100.0
  val PageDocs = 40
  val PageShare = 0.2
  val RepeatShare = 0.1

  /** A request body and the (word, prediction) sequence its response
    * must carry: every word of the text with its generator tag.
    */
  final case class Text(body: String, gold: Seq[(String, String)], page: Boolean)
  final case class Sample(rate: Int, text: Text, repeat: Boolean, dueS: Double,
                          latencyMs: Double, latenessMs: Double, error: String) {
    def ok: Boolean = error == null
  }

  private def text(first: Long, docs: Int): Text = {
    val sents = (first until first + docs).flatMap(i => CorpusGen.genDoc(i).sentences)
    Text(sents.map(_.words.mkString(" ")).mkString(" "),
      sents.flatMap(s => s.words.toSeq.zip(s.tags)), docs > 1)
  }

  private val json = new com.fasterxml.jackson.databind.ObjectMapper()

  /** The response's (word, prediction) sequence across its sentences
    * (sentence boundaries are the splitter's, not part of the check).
    */
  private def tagged(body: String): Seq[(String, String)] = {
    val out = ArrayBuffer.empty[(String, String)]
    json.readTree(body).forEach(_.forEach { w =>
      out += (w.get("word").asText() -> w.get("prediction").asText())
    })
    out.toSeq
  }

  /** Seeded request stream: returns the texts in send order and whether
    * each is a repeat of an earlier one.
    */
  final class Traffic(seed: Long, off: Long) {
    private val rng = new scala.util.Random(seed)
    private var nextDoc = off
    private val sent = ArrayBuffer.empty[Text]
    def next(): (Text, Boolean) =
      if (sent.nonEmpty && rng.nextDouble() < RepeatShare)
        (sent(rng.nextInt(sent.size)), true)
      else {
        val n = if (rng.nextDouble() < PageShare) PageDocs else 1
        val t = text(nextDoc, n)
        nextDoc += n
        sent += t
        (t, false)
      }
  }

  /** `graft.Main serve 0` in its own JVM, with this JVM's flags and
    * classpath; returns once it has answered one /ner request.
    */
  final class Server(o: Opts, warm: Text) {
    private val self = java.lang.management.ManagementFactory.getRuntimeMXBean
    private val cmd = Seq(s"${System.getProperty("java.home")}/bin/java") ++
      self.getInputArguments.toArray.map(_.toString).filterNot(_.startsWith("-Xmx")) ++
      Seq("-Xmx1g", "-cp", System.getProperty("java.class.path"),
        "graft.Main", "serve", "0")
    private val pb = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
    pb.environment().put("SPARK_MASTER", s"local[${o.nproc}]")
    val proc: Process = pb.start()
    private val lines = new java.io.BufferedReader(
      new java.io.InputStreamReader(proc.getInputStream))
    val port: Int = {
      val re = ".*serving on :(\\d+).*".r
      Iterator.continually(lines.readLine()).takeWhile(_ != null)
        .collectFirst { case re(p) => p.toInt }
        .getOrElse(throw new IllegalStateException("server exited before serving"))
    }
    // keep the pipe drained so the server never blocks on its own output
    private val drain = new Thread(() =>
      Iterator.continually(lines.readLine()).takeWhile(_ != null).foreach(_ => ()))
    drain.setDaemon(true); drain.start()
    val uri = URI.create(s"http://localhost:$port/ner")
    require(post(uri, warm.body)._1 == 200, "server did not answer")

    def stop(): Unit = {
      proc.destroy()
      if (!proc.waitFor(10, TimeUnit.SECONDS)) { proc.destroyForcibly(); proc.waitFor() }
    }
  }

  /** One blocking request on the calling thread (keep-alive connections
    * are pooled per JVM); the body is buffered, so headers and body leave
    * in one write.
    */
  def post(uri: URI, body: String): (Int, String) = {
    val c = uri.toURL.openConnection().asInstanceOf[HttpURLConnection]
    c.setRequestMethod("POST")
    c.setDoOutput(true)
    c.setConnectTimeout(20000)
    c.setReadTimeout(20000)
    val os = c.getOutputStream
    try os.write(body.getBytes(UTF_8)) finally os.close()
    val code = c.getResponseCode
    val in = if (code < 400) c.getInputStream else c.getErrorStream
    val text = if (in == null) "" else try new String(in.readAllBytes(), UTF_8) finally in.close()
    (code, text)
  }

  /** null when the response carries the gold tagging, else what differs. */
  private def check(code: Int, body: String, t: Text): String =
    if (code != 200) s"status $code: ${body.take(200)}"
    else {
      val got = tagged(body)
      val i = got.zip(t.gold).indexWhere { case (x, y) => x != y }
      if (i < 0 && got.size == t.gold.size) null
      else s"wrong tagging at word $i of ${t.gold.size} (got ${got.size}): " +
        s"${got.slice(i - 3, i + 3)} want ${t.gold.slice(i - 3, i + 3)}"
    }

  /** One open-loop step: request j is due at t0 + j/rate; a pool of nproc
    * senders sends it as soon as one is free.
    */
  def step(o: Opts, uri: URI, traffic: Traffic,
           rate: Int, seconds: Double, tr: Tracer): Seq[Sample] = {
    val pool = Executors.newFixedThreadPool(o.nproc)
    val n = math.max(1, (rate * seconds).round.toInt)
    val futures = ArrayBuffer.empty[Future[Sample]]
    try tr.span(s"api.rate_$rate") {
      val t0 = System.nanoTime() + 1000000L
      (0 until n).foreach { j =>
        val due = t0 + (j * 1e9 / rate).toLong
        val (t, rep) = traffic.next()
        val wait = due - System.nanoTime()
        if (wait > 0) java.util.concurrent.locks.LockSupport.parkNanos(wait)
        futures += pool.submit(() => {
          val start = System.nanoTime()
          val resp = try Right(post(uri, t.body))
            catch { case e: Exception => Left(e.toString) }
          val end = System.nanoTime()
          val error = resp.fold(identity, { case (c, b) => check(c, b, t) })
          Sample(rate, t, rep, j.toDouble / rate, (end - due) / 1e6, (start - due) / 1e6, error)
        })
      }
      futures.map(f => f.get(60, TimeUnit.SECONDS)).toSeq
    } finally { pool.shutdownNow(); pool.awaitTermination(30, TimeUnit.SECONDS) }
  }

  /** The per-request kernel NerServer runs for /ner (split → wordpiece
    * windows → tagger → re-glue → re-align), called in process.
    */
  final class Kernel {
    private val tagger = new graft.tag.GazetteerTagger(graft.pipeline.KgPipeline.defaultGazetteer)
    private val enc = new graft.text.WindowEncoder(graft.text.Vocab.default,
      graft.text.Vocab.tokenToId, graft.text.Tags.labelMap)
    private val realigner = new graft.text.Realigner(graft.text.Vocab.default)
    def apply(text: String): Int =
      graft.text.SentenceSplitter.sentences(text).map { words =>
        val (wins, counts) = enc.encodeWithCounts("req/0/0", words, Array.fill(words.length)("O"))
        val tagged = tagger.tagBatch(wins)
        val (_, preds) = realigner.reglue(tagged.map(w => (w.tokens, w.preds)))
        realigner.realignWithCounts(words, counts, preds).length
      }.sum
  }

  def run(o: Opts, tr: Tracer, out: Outcome): Unit = {
    val off = BatchBuild.offset(o.seed)
    val warm = text(off, 1)
    val setups = ArrayBuffer.empty[Double]
    var server: Server = null
    try {
      (0 until (if (o.trace) 1 else Setups)).foreach { _ =>
        if (server != null) server.stop()
        val (s, secs) = Stats.secs(tr.span("bench.setup")(new Server(o, warm)))
        server = s; setups += secs
      }
      // warm-up, closed loop from nproc senders, on texts not used later;
      // then a pause, so the server's JIT queue drains before timing
      val warmTraffic = new Traffic(o.seed ^ 0x5eedL, off + 1)
      val warmTexts = Seq.fill(WarmRequests)(warmTraffic.next()._1.body)
      val pool = Executors.newFixedThreadPool(o.nproc)
      try warmTexts.map(t => pool.submit(() => post(server.uri, t)))
        .foreach(_.get(60, TimeUnit.SECONDS))
      finally pool.shutdown()
      Thread.sleep(SettleMs)

      val traffic = new Traffic(o.seed, off + 100000L)
      val steps = Steps.map { case (r, share) =>
        r -> step(o, server.uri, traffic, r, o.seconds * share, Tracer.off)
      }.toMap
      val all = steps.values.flatten.toSeq
      all.foreach(s => out.op(s"request at ${s.rate}/s (page=${s.text.page}): ${s.error}")(s.ok))

      val mid = steps(MidRate).map(_.latencyMs)
      def meets(ss: Seq[Sample]) = ss.forall(_.ok) && Stats.pct(ss.map(_.latencyMs), 99) <= LimitMs
      val top = steps(Rates.max)
      // from the first due time to the last completion
      val topSpan = top.map(s => s.dueS + s.latencyMs / 1e3).max
      Rates.foreach { r =>
        out.samples(s"latency_ms_at_$r") = steps(r).map(_.latencyMs)
        out.samples(s"page_latency_ms_at_$r") = steps(r).filter(_.text.page).map(_.latencyMs)
      }
      val maxRps = Rates.filter(r => meets(steps(r))).maxOption.getOrElse(0)
      out.info("max_rps") = maxRps
      out.info("requests") = all.size
      out.info("repeats") = all.count(_.repeat)
      out.info("pages") = all.count(_.text.page)
      out.samples("setup_s") = setups.toSeq
      if (!o.trace) {
        out.put("setup_s", Stats.median(setups.toSeq), "s")
        out.put("work_per_s", top.size / topSpan, "1/s")
        out.put("p50_ms", Stats.median(mid), "ms")
        out.put("p90_ms", Stats.pct(mid, 90), "ms")
      } else {
        // the middle rate twice more, untraced then traced
        val per = o.seconds * 0.3
        val plain = step(o, server.uri, traffic, MidRate, per, Tracer.off)
        val again = tr.span("api.traced_step")(step(o, server.uri, traffic, MidRate, per, tr))
        (plain ++ again).foreach(s => out.op(s"request at $MidRate/s: ${s.error}")(s.ok))
        val u = Stats.median(plain.map(_.latencyMs))
        out.put("bench.trace_overhead_pct", (Stats.median(again.map(_.latencyMs)) - u) / u * 100, "%")
        val k = new Kernel
        val texts = all.filterNot(_.repeat).map(_.text)
        texts.take(50).foreach(t => k(t.body)) // JIT
        def kernelMs(ts: Seq[Text]) = Stats.median(ts.map { t =>
          tr.span("api.kernel")(Stats.secs(k(t.body))._2 * 1000)
        })
        val shortK = kernelMs(texts.filterNot(_.page))
        out.put("api.kernel_short_ms", shortK, "ms")
        out.put("api.kernel_page_ms", kernelMs(texts.filter(_.page)), "ms")
        // at the middle rate, where p50_ms is taken (at 10 req/s idle
        // connections answer sooner)
        val short = steps(MidRate).filter(s => !s.repeat && !s.text.page).map(_.latencyMs)
        out.put("api.http_overhead_ms", Stats.median(short) - shortK, "ms")
        out.put("api.lateness_ms", Stats.pct(all.map(_.latenessMs), 99), "ms")
        out.put("api.p99_ms", Stats.pct(mid, 99), "ms")
        out.put("api.max_rps", maxRps.toDouble, "1/s")
      }
    } finally if (server != null) server.stop()
    if (o.trace) {
      // the op-query layer has no workload of its own: it is split here,
      // once the server is gone, in a Spark session of this JVM
      val spark = Sessions.start(o.nproc)
      tr.attach(spark)
      OpsQueries.traced(spark, tr, o, out)
      spark.stop()
    }
  }
}
