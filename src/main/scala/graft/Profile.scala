package graft

import graft.gen.CorpusGen
import graft.pipeline.KgPipeline
import graft.store.StageMetrics
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import scala.jdk.CollectionConverters._

/** The profiling harness beside the frozen [[Bench]] (which never calls
  * it), on SPARK_GRAFT_CPUS and SPARK_GRAFT_SF_DIR. A name is a
  * [[SparkEntry.queries]] key or kg_pipeline, kg_pipeline_salted or
  * kg_detect_dense. Verbs: `query <name...>` (see [[query]]), `sample
  * <name>`, `plans` (rewrites ./PLANS.md; committed at sf0.001, 4 cpus)
  * and `plans <outDir> <suffix> <name...>` (<name>_<suffix>.txt each).
  * Per-layer KG timings are the benchmark's: `python3 perfbench/run.py
  * --workload batch_build --trace 1`.
  */
object Profile {

  /** Names against one session and SF dir. KG names follow Bench: docs by
    * SF dir name, 256 input parts, link context prepared once, on first use. */
  private final class Targets(val spark: SparkSession, val sfDir: String) {
    private val nDocs =
      if (sfDir.contains("0.01")) 6000L else if (sfDir.contains("0.1")) 60000L else 600L
    private val parts = 256
    private lazy val aliases = CorpusGen.aliases(spark)
    private lazy val linkCtx = Some(KgPipeline.prepareLinkContext(spark, aliases))
    private lazy val dictRoot = Files.createTempDirectory("graft_dict").toString
    private lazy val saltedCtx =
      Some(KgPipeline.prepareSaltedContext(spark, aliases, dictRoot))
    private def docs = CorpusGen.docs(spark, nDocs, parts)

    /** The plan of `name`: what `plans` dumps and `query` counts. */
    def frame(name: String): DataFrame = name match {
      case "kg_pipeline" =>
        KgPipeline.run(spark, docs, aliases, ctx = linkCtx).toDF()
      case "kg_pipeline_salted" =>
        spark.catalog.clearCache() // as Bench does between salted runs
        KgPipeline.run(spark, docs, aliases, ctx = saltedCtx, cfg = KgPipeline
          .Config(broadcastLink = false, dictStore = Some(dictRoot))).toDF()
      case "kg_detect_dense" =>
        KgPipeline.detectMentions(spark, KgPipeline.sentences(spark, docs),
          new tag.DenseStubTagger(text.Vocab.tokenToId.size)).toDF()
      case q => SparkEntry.queries(q)(spark, sfDir)
    }

    /** Builds `name`, returns its action (the row count); kg_pipeline is
      * Bench.kgRun itself, whose lazy plan builds inside the count. */
    def job(name: String): () => Long =
      if (name == "kg_pipeline")
        () => Bench.kgRun(spark, nDocs, parts, linkCtx)._2
      else { val df = frame(name); () => df.count() }
  }

  private def num(x: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, x)

  private def gitSha(): String = scala.util.Try(
    scala.sys.process.Process(Seq("git", "rev-parse", "HEAD"))
      .!!(scala.sys.process.ProcessLogger(_ => ())).trim).getOrElse("none")

  /** The `query` verb: per name, after a warm run, a JSON object of
    * construct_ms (plan build: eager cuts, driver collects), action_ms
    * (the row count), rows, both's [[StageMetrics]] task totals, nproc,
    * control_sec (`control`, read once after the last name) and git sha.
    */
  def query(spark: SparkSession, sfDir: String, names: Seq[String],
            control: => Double): Seq[String] = {
    val t = new Targets(spark, sfDir)
    val runs = names.map { name =>
      t.job(name)() // warm: JIT, store builds, link context
      StageMetrics.capture(spark) {
        val t0 = System.nanoTime(); val count = t.job(name)
        val t1 = System.nanoTime(); val rows = count()
        (name, (t1 - t0) / 1e6, (System.nanoTime() - t1) / 1e6, rows)
      }
    }
    val common = s""""nproc":${Runtime.getRuntime.availableProcessors},""" +
      s""""parallelism":${spark.sparkContext.defaultParallelism},""" +
      s""""sf":"$sfDir","control_sec":${num(control)},"sha":"${gitSha()}""""
    runs.map { case ((name, constructMs, actionMs, rows), totals) =>
      val tasks = totals.map { case (k, v) => s""""$k":$v""" }.mkString(",")
      s"""{"query":"$name","construct_ms":${num(constructMs)},""" +
        s""""action_ms":${num(actionMs)},"rows":$rows,$tasks,$common}"""
    }
  }

  /** The `sample` verb: the frames task threads and the driver are
    * RUNNABLE in, sampled every 100 ms while `name` runs for 20 s.
    */
  private def sample(t: Targets, name: String): Unit = {
    t.job(name)() // warm
    val hist = new ConcurrentHashMap[String, AtomicLong]()
    val driver = Thread.currentThread()
    @volatile var sampling = true
    val sampler = new Thread(() => while (sampling) {
      Thread.getAllStackTraces.forEach { (th, st) =>
        val task = th.getName.startsWith("Executor task launch")
        if ((task || (th eq driver)) &&
            th.getState == Thread.State.RUNNABLE && st.nonEmpty) {
          // the first engine / generated / catalyst frame, else the top
          val own = st.find { f =>
            val c = f.getClassName
            c.startsWith("graft.") || c.contains("GeneratedClass") ||
              c.startsWith("org.apache.spark.sql.catalyst") ||
              c.startsWith("scala.collection")
          }.getOrElse(st.head)
          def at(f: StackTraceElement) = s"${f.getClassName}.${f.getMethodName}"
          val key = s"${if (task) "task" else "driver"} ${at(st.head)} | ${at(own)}"
          hist.computeIfAbsent(key, _ => new AtomicLong).incrementAndGet()
        }
      }
      Thread.sleep(100)
    })
    sampler.setDaemon(true); sampler.start()
    val t0 = System.nanoTime(); var runs = 0
    while (System.nanoTime() - t0 < 20e9) { t.job(name)(); runs += 1 }
    sampling = false; sampler.join(1000)
    println(s"  sampled $name over $runs runs, ${num((System.nanoTime() - t0) / 1e9)} s")
    hist.asScala.toSeq.sortBy(-_._2.get).take(30).foreach { case (k, v) =>
      println(f"  sample ${v.get}%5d  $k")
    }
  }

  /** PLANS.md's queries, the readable twin of PlanSpec's assertions. */
  private val PlanQueries = """q01_agg q02_filter q03_join q04_semi
    q26_sessionize q18_minhash_sig q32_ann_ivf_probe q19_minhash_pairs
    q27_lsh_jaccard q33_dedup_clusters q24_ann_lsh q46_repetition
    q53_asof_join q58_kg_triangles q60_percentiles q61_bloom_prune
    q70_hist_quantile q71_fuzzy_tokens q72_kg_nbr_jaccard q73_setsim_prefix
    q104_setsim_dedup_first q78_range_join q87_bm25 q88_cms_grouped
    q97_pq_adc q98_dup_spans q99_sq8_ann q100_neardup_gate q101_subj_lookup
    q102_ctx_linking q103_ivf_pq q105_spo_lookup q106_obj_lookup
    q107_ivf_pq_refine q108_semantic_dedup q109_dsir_select
    q110_curation_funnel q111_semantic_clusters""".split("\\s+").toSeq

  private val PlansHeader = "# PLANS — formatted physical plans " +
    "(generated by graft.Profile plans)\n\nAssertions over these plans " +
    "live in PlanSpec; this file is the\nreadable evidence: pushed " +
    "filters, pruned schemas, broadcast\njoins, codegen spans, and the " +
    "shuffle-free detect stage.\n"

  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(FormattedMode)

  private def executed(df: DataFrame): String = {
    df.collect() // finalize AQE
    df.queryExecution.executedPlan.toString
  }

  private def plans(t: Targets, args: Seq[String]): Unit = args match {
    case Seq() =>
      val queries = PlanQueries.map { q =>
        val df = t.frame(q)
        df.collect() // finalize AQE
        q -> formatted(df)
      }
      val sections = (queries ++ handBuiltSections(t.spark, t.sfDir))
        .map { case (title, plan) => s"\n## $title\n\n```\n$plan```\n" }
      Files.writeString(Paths.get("PLANS.md"), PlansHeader + sections.mkString)
      println("wrote PLANS.md")
    case outDir +: suffix +: names if names.nonEmpty =>
      Files.createDirectories(Paths.get(outDir))
      names.foreach { n =>
        Files.writeString(Paths.get(outDir, s"${n}_$suffix.txt"),
          formatted(t.frame(n)))
        println(s"dumped $n")
      }
    case _ => usage()
  }

  /** The PLANS.md sections that are not named queries: the fused detect
    * stage (one mapPartitions chain, no Exchange), the salted carry and
    * contextual links, and q04 under the injected Bloom rule.
    */
  private def handBuiltSections(spark: SparkSession, sfDir: String)
      : Seq[(String, String)] = {
    val detect = "kg detect stage (docs → sentences → windows → tagger → mentions)" ->
      KgPipeline.detectMentions(spark,
        KgPipeline.sentences(spark, CorpusGen.docs(spark, 50, 4)),
        new tag.GazetteerTagger(KgPipeline.defaultGazetteer))
        .queryExecution.executedPlan.toString
    val carry = {
      val aliases = CorpusGen.aliases(spark)
      val canon = kg.ConnectedComponents.canonicalMap(spark, aliases.toDF())
      val m = spark.range(200).selectExpr("CAST(id AS STRING) AS doc_id",
        "CAST(id % 7 AS INT) AS span_offset", "0 AS sentence_idx",
        "'anna muller' AS surface_norm", "'PER' AS entity_type",
        "'m' AS role")
      "salted carry link (de-drivered: dict-side canon + bloom prune + skew salt)" ->
        executed(kg.Linker.linkSaltedCarry(spark, m, aliases,
          skewKeys = Some(Seq("anna muller")), canon = Some(canon)))
    }
    val contextual = {
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try { // a failed collect() must not leave broadcasts off
        val neu = CorpusGen.normSurface("Neustadt")
        val m = spark.range(200).selectExpr("CONCAT('d', id % 40) AS doc_id",
          "CAST(id % 7 AS INT) AS span_offset", "0 AS sentence_idx",
          s"'$neu' AS surface_norm", "'LOC' AS entity_type")
        "salted contextual link, broadcast disabled (shuffle keys = surface_norm + salt)" ->
          executed(kg.Linker.linkContextualSalted(spark, m,
            CorpusGen.ctxAliases(spark), saltBuckets = 4,
            skewKeys = Some(Seq(neu))))
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
    val bloom = {
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      try {
        val s2 = SparkSession.builder()
          .withExtensions(new GraftExtensions).getOrCreate()
        val c = s2.read.parquet(s"$sfDir/customer.parquet")
        val o = s2.read.parquet(s"$sfDir/orders.parquet")
          .where(org.apache.spark.sql.functions.col("o_totalprice") > 100000)
        val df = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
          .select("c_custkey", "c_name")
        df.collect()
        "q04 shape under InjectDeterministicBloom (extensions session)" ->
          df.queryExecution.optimizedPlan.toString
      } finally {
        SparkSession.setDefaultSession(spark); SparkSession.setActiveSession(spark)
      }
    }
    Seq(detect, carry, contextual, bloom)
  }

  private def usage(): Nothing = sys.error("usage: graft.Profile " +
    "query <name...> | sample <name> | plans [<outDir> <suffix> <name...>]")

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("SPARK_GRAFT_SF_DIR must name a generated SF directory"))
    val spark = Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    try args.toSeq match {
      case "query" +: names if names.nonEmpty =>
        query(spark, sfDir, names, CpuProbe.control(spark)).foreach(println)
      case Seq("sample", name) => sample(new Targets(spark, sfDir), name)
      case "plans" +: rest => plans(new Targets(spark, sfDir), rest)
      case _ => usage()
    } finally spark.stop()
  }
}
