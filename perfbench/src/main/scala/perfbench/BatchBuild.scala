package perfbench

import graft.gen.CorpusGen
import graft.kg.{Linker, Triples}
import graft.model.{Doc, Triple}
import graft.pipeline.KgPipeline
import graft.store.LineageStore
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** batch_build: generated docs → broadcast-link KgPipeline.run →
  * LineageStore.runResumable (64 buckets) into a fresh store root on disk.
  * One operation is one build; work_per_s is committed triples per second
  * of the median build's wall time, so on this workload it carries the
  * same signal as p50_ms.
  */
object BatchBuild {
  val Docs = 12000L
  /** Untraced runs: set-ups (setup_s is their median) and the fewest
    * timed builds.
    */
  val Setups = 5
  val MinBuilds = 2
  val Parts = 256
  val Buckets = 64
  val KillDocs = 1000L
  val Stage = "triples"
  val TripleCols = Seq("subj", "pred", "obj", "doc_id")

  /** Workload input: the seed picks a disjoint window of doc indices. */
  def offset(seed: Long): Long =
    1000000L * (1 + java.lang.Math.floorMod(CorpusGen.mix64(seed), 900L))

  def docs(spark: SparkSession, off: Long, n: Long): Dataset[Doc] = {
    import spark.implicits._
    spark.range(off, off + n, 1, Parts).mapPartitions(_.map(i => CorpusGen.genDoc(i).doc))
  }

  def gold(spark: SparkSession, off: Long, n: Long): Digest = {
    import spark.implicits._
    Digest.of(spark.range(off, off + n, 1, Parts)
      .mapPartitions(_.flatMap(i => CorpusGen.expectedTriples(CorpusGen.genDoc(i))))
      .toDF(), TripleCols)
  }

  final class Build(spark: SparkSession, val ctx: KgPipeline.LinkContext) {
    val aliases = CorpusGen.aliases(spark)
    val cfg = KgPipeline.Config(buckets = Buckets)
    def pipeline(ds: Dataset[Doc]): Dataset[Triple] =
      KgPipeline.run(spark, ds, aliases, cfg = cfg, ctx = Some(ctx))
    def commit(root: String, in: Dataset[Doc]): Int =
      LineageStore.runResumable(spark, root, Stage, in, pipeline, Buckets, "bench")
  }

  /** The gates on a committed store: content equals gold, and lineage
    * triple_count agrees with the store's row count.
    */
  def checkStore(spark: SparkSession, root: String, want: Digest,
                 out: Outcome, what: String): Unit = {
    val got = Digest.of(LineageStore.readTriples(spark, root).toDF(), TripleCols)
    val lineage = LineageStore.readLineage(spark, root)
      .filter(col("stage") === Stage).agg(sum("triple_count")).head().getLong(0)
    out.op(s"$what: store $got != gold $want; lineage=$lineage")(
      got == want && lineage == got.rows)
  }

  def run(o: Opts, tr: Tracer, out: Outcome): Unit = {
    val off = offset(o.seed)
    val (spark, ctx, setups) = Sessions.setup(if (o.trace) 1 else Setups, o.nproc, tr) { s =>
      tr.span("kg.link_context")(
        KgPipeline.prepareLinkContext(s, CorpusGen.aliases(s)))
    }
    val b = new Build(spark, ctx)
    val want = gold(spark, off, Docs)
    var nRoot = 0
    def build(): Double = {
      nRoot += 1
      val root = s"${o.work}/batch/root$nRoot"
      val (n, s) = Stats.secs(b.commit(root, docs(spark, off, Docs)))
      out.op(s"build $root committed $n of $Buckets buckets")(n == Buckets)
      checkStore(spark, root, want, out, root)
      s
    }
    // resume is a no-op on a finished root
    def resumeNoop(): Double = {
      val (again, secs) = Stats.secs(tr.span("store.resume_noop")(
        b.commit(s"${o.work}/batch/root$nRoot", docs(spark, off, Docs))))
      out.op(s"resume on a finished root processed $again buckets")(again == 0)
      secs
    }
    out.samples("setup_s") = setups
    out.info("docs") = Docs
    out.info("doc_offset") = off
    out.info("gold_triples") = want.rows
    if (!o.trace) {
      // timed from the process's first build, as `graft.Main run` runs
      // one: at least two builds, then more until --seconds have passed
      val t0 = System.nanoTime()
      val walls = scala.collection.mutable.ArrayBuffer.fill(MinBuilds)(build())
      while (o.left(t0) > Stats.median(walls.toSeq) * 0.5) walls += build()
      resumeNoop()
      out.samples("build_s") = walls.toSeq
      out.put("setup_s", Stats.median(setups), "s")
      out.put("work_per_s", want.rows / Stats.median(walls.toSeq), "1/s")
      out.put("p50_ms", Stats.median(walls.toSeq) * 1000, "ms")
      out.put("p90_ms", Stats.pct(walls.toSeq, 90) * 1000, "ms")
      spark.stop()
    } else {
      out.put("kg.link_context_s",
        Stats.median(tr.named("kg.link_context").map(_.seconds)), "s")
      killLeg(spark, b, o, off, out)
      StreamSalted.traced(spark, tr, o, off + Docs + KillDocs, out)
      // builds still speed up from one to the next while the JIT warms:
      // one more warm-up build, then the reference is the mean of the
      // untraced builds right before and right after the traced prefixes
      build()
      val before = build()
      val traced = layers(spark, b, tr, o, off, want, out)
      val reference = (before + build()) / 2
      out.put("store.resume_noop_s", resumeNoop(), "s")
      out.info("reference_build_s") = reference
      out.put("bench.trace_overhead_pct", (traced - reference) / reference * 100, "%")
      scaling(spark, tr, o, off, want, reference, out)
    }
  }

  /** N→4N evidence (reported, not gated): the same build at local[1]
    * against the reference local[nproc] build, as T1 / (nproc × Tn).
    */
  private def scaling(spark: SparkSession, tr: Tracer, o: Opts, off: Long,
                      want: Digest, tn: Double, out: Outcome): Unit = {
    spark.stop()
    val one = Sessions.start(1)
    tr.attach(one)
    val b1 = new Build(one, KgPipeline.prepareLinkContext(one, CorpusGen.aliases(one)))
    val root = s"${o.work}/batch/local1"
    val (n, t1) = Stats.secs(tr.span("kg.build_local1")(b1.commit(root, docs(one, off, Docs))))
    out.op(s"local[1] build committed $n buckets")(n == Buckets)
    checkStore(one, root, want, out, "local[1] build")
    out.put("kg.scaling_eff", t1 / (o.nproc * tn), "ratio")
    out.info("build_local1_s") = t1
    one.stop()
  }

  /** Resume from a kill: half the buckets committed by a partial commit,
    * then runResumable must process exactly the other half and leave the
    * store equal to gold.
    */
  private def killLeg(spark: SparkSession, b: Build, o: Opts, off: Long,
                      out: Outcome): Unit = {
    val root = s"${o.work}/batch/kill"
    val koff = off + Docs
    val half = (0 until Buckets by 2).toSet
    import spark.implicits._
    // few partitions: this leg checks resume semantics, not speed
    val in = spark.range(koff, koff + KillDocs, 1, spark.sparkContext.defaultParallelism)
      .mapPartitions(_.map(i => CorpusGen.genDoc(i).doc))
    LineageStore.commit(spark, root, Stage,
      b.pipeline(in.filter(d => half.contains(Triples.bucketOf(d.doc_id, Buckets)))),
      "bench", processedBuckets = Some(half))
    val n = b.commit(root, in)
    out.op(s"resume after kill processed $n buckets, want ${Buckets - half.size}")(
      n == Buckets - half.size)
    checkStore(spark, root, gold(spark, koff, KillDocs), out, "resume after kill")
  }

  /** Traced layer split over cumulative prefixes of the same build:
    * docs → sentences → detect → run (link + assemble) → runResumable
    * (commit). Each layer is the difference of adjacent prefixes, so the
    * layers sum to the last prefix, a full traced build, which is returned.
    */
  private def layers(spark: SparkSession, b: Build, tr: Tracer, o: Opts,
                     off: Long, want: Digest, out: Outcome): Double = {
    val tagger = new graft.tag.GazetteerTagger(KgPipeline.defaultGazetteer)
    def in = docs(spark, off, Docs)
    val (nSent, t1) = Stats.secs(tr.span("pipeline.sentences_prefix")(
      KgPipeline.sentences(spark, in).count()))
    val (det, t2) = Stats.secs(tr.span("pipeline.detect_prefix")(
      KgPipeline.detectRows(spark, KgPipeline.sentences(spark, in), tagger)
        .agg(count(col("mention")), count(col("relation"))).head()))
    val (nTriples, t3) = Stats.secs(tr.span("kg.run_prefix")(b.pipeline(in).count()))
    val root = s"${o.work}/batch/traced"
    val (n, t4) = Stats.secs(tr.span("store.build")(b.commit(root, in)))
    out.op(s"traced build committed $n buckets")(n == Buckets)
    checkStore(spark, root, want, out, "traced build")
    val linked = Linker.linkBroadcast(spark,
      KgPipeline.detectMentions(spark, KgPipeline.sentences(spark, in), tagger),
      b.ctx.dict).count()

    def c(name: String) = tr.named(name).head.counters
    val det0 = c("pipeline.detect_prefix") - c("pipeline.sentences_prefix")
    val run0 = c("kg.run_prefix") - c("pipeline.detect_prefix")
    val com0 = c("store.build") - c("kg.run_prefix")
    out.put("pipeline.sentences_s", t1, "s")
    out.put("pipeline.detect_s", t2 - t1, "s")
    out.put("kg.link_assemble_s", t3 - t2, "s")
    out.put("store.commit_s", t4 - t3, "s")
    out.put("pipeline.sentences", nSent.toDouble, "count")
    out.put("pipeline.mentions", det.getLong(0).toDouble, "count")
    out.put("pipeline.relations", det.getLong(1).toDouble, "count")
    out.put("kg.triples", nTriples.toDouble, "count")
    out.put("kg.link_ratio", linked.toDouble / det.getLong(0), "ratio")
    val (nFiles, nBytes) = StoreFiles.parquetUnder(LineageStore.triplesPath(root))
    out.put("store.files", nFiles.toDouble, "count")
    out.put("store.bytes", nBytes.toDouble, "bytes")
    out.put("pipeline.detect_tasks", det0.tasks.toDouble, "count")
    out.put("kg.link_assemble_shuffle_bytes",
      (run0.shuffleReadBytes + run0.shuffleWriteBytes).toDouble, "bytes")
    out.put("store.commit_jobs", com0.jobs.toDouble, "count")
    out.put("store.commit_tasks", com0.tasks.toDouble, "count")
    out.put("kg.build_gc_ms", c("store.build").gcMs.toDouble, "ms")
    t4
  }
}
