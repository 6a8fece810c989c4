package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.SparkEntry

/** The ops layer, split in a traced run: a fixed mix of graft.Bench's
  * headline queries through SparkEntry.queries over the read-only sf0.01
  * tables shipped in perfbench/data (the workload seed does not apply). A
  * first pass checks each result's digest against the pins; a traced pass
  * then times construction (the query function) and action (.count)
  * apart, with the Spark counters of each.
  */
object OpsQueries {
  /** The headline queries behind the open ops items (q104 chain depth,
    * q103/q107 Lloyd loops, q79 combine, q108/q73 exchange coalescing,
    * q36 recall pool) and the KG-backed ones (q89, q102). The full
    * headline list takes about 35 s a pass at 4 cores, more than a run
    * can hold.
    */
  val mix: Seq[String] = Seq("q36_ann_recall", "q73_setsim_prefix",
    "q79_inverted_index", "q89_raw_ner", "q102_ctx_linking", "q103_ivf_pq",
    "q104_setsim_dedup_first", "q107_ivf_pq_refine", "q108_semantic_dedup")

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  def traced(spark: org.apache.spark.sql.SparkSession, tr: Tracer, o: Opts,
             out: Outcome): Unit = {
    val dir = s"${o.data}/sf0.01"
    val pinFile = java.nio.file.Paths.get(s"${o.pins}/ops_sf0.01.json")
    // query-planted golden parquet stays inside the run's scratch area
    graft.gen.Goldens.root = s"${o.work}/goldens"

    val digests = mix.map(q => q -> Digest.of(SparkEntry.queries(q)(spark, dir))).toMap
    val pins = json.readValue(pinFile.toFile, classOf[Map[String, Map[String, Any]]])
    mix.foreach { q =>
      val p = pins(q)
      out.op(s"$q: ${digests(q)} != pinned $p")(
        digests(q) == Digest(p("rows").toString.toLong, p("hash").toString))
    }

    val timed = tr.span("ops.pass") {
      mix.map { q =>
        tr.span(s"ops.$q") {
          val (df, construct) = Stats.secs(tr.span("ops.construct")(SparkEntry.queries(q)(spark, dir)))
          val (n, action) = Stats.secs(tr.span("ops.action")(df.count()))
          out.op(s"$q returned $n rows")(n == digests(q).rows)
          out.put(s"ops.${q}_s", construct + action, "s")
          (construct, action)
        }
      }
    }
    out.put("ops.construct_s", timed.map(_._1).sum, "s")
    out.put("ops.action_s", timed.map(_._2).sum, "s")
    val c = tr.named("ops.pass").head.counters
    out.put("ops.jobs", c.jobs.toDouble, "count")
    out.put("ops.stages", c.stages.toDouble, "count")
    out.put("ops.tasks", c.tasks.toDouble, "count")
    out.put("ops.shuffle_read_bytes", c.shuffleReadBytes.toDouble, "bytes")
    out.put("ops.shuffle_write_bytes", c.shuffleWriteBytes.toDouble, "bytes")
    out.put("ops.spill_bytes", c.spillBytes.toDouble, "bytes")
    out.put("ops.gc_ms", c.gcMs.toDouble, "ms")
  }
}
