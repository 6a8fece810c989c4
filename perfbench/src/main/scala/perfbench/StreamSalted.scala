package perfbench

import graft.gen.CorpusGen
import graft.model.Doc
import graft.pipeline.KgPipeline
import graft.store.LineageStore
import graft.streaming.StreamIngest
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** The streaming layers, split in batch_build's traced run: micro-batches
  * of generated docs through StreamIngest.commitBatch on the no-broadcast
  * (salted) linker, with the DictStore under the stream root. One batch
  * warms the commit path; the next is split into the salted run alone
  * (KgPipeline.run(..).count) and the full commitBatch, whose difference
  * is the commit's fixed overhead (lineage probe, metrics capture,
  * quality sidecar, canon-map update, snapshot commit).
  */
object StreamSalted {
  val BatchDocs = 2500L
  val Cfg = KgPipeline.Config(broadcastLink = false)

  def batch(spark: SparkSession, off: Long, id: Long): Dataset[Doc] = {
    import spark.implicits._
    val lo = off + id * BatchDocs
    spark.range(lo, lo + BatchDocs, 1, spark.sparkContext.defaultParallelism)
      .mapPartitions(_.map(i => CorpusGen.genDoc(i).doc))
  }

  /** Per-batch digests keyed by batch id, derived from the doc index. */
  private def byBatch(df: DataFrame, off: Long): Map[Long, Digest] =
    Digest.byKey(df, ((substring(col("doc_id"), 5, 20).cast("long") - off) /
      BatchDocs).cast("long"), BatchBuild.TripleCols)

  private def gold(spark: SparkSession, off: Long, batches: Long): Map[Long, Digest] = {
    import spark.implicits._
    byBatch(spark.range(off, off + batches * BatchDocs, 1, spark.sparkContext.defaultParallelism)
      .mapPartitions(_.flatMap(i => CorpusGen.expectedTriples(CorpusGen.genDoc(i))))
      .toDF(), off)
  }

  def traced(spark: SparkSession, tr: Tracer, o: Opts, off: Long, out: Outcome): Unit = {
    val root = s"${o.work}/stream"
    val aliases = CorpusGen.aliases(spark)
    val ctx = tr.span("store.dict_context")(
      KgPipeline.prepareSaltedContext(spark, aliases, root))
    def commit(id: Long, in: Dataset[Doc]): Unit =
      StreamIngest.commitBatch(spark, in, id, root, ctx, aliases, Cfg)
    commit(0, batch(spark, off, 0))

    val in = batch(spark, off, 1)
    val (_, run) = Stats.secs(tr.span("pipeline.salted_run")(
      KgPipeline.run(spark, in, aliases, cfg = Cfg.copy(dictStore = Some(root)),
        ctx = Some(ctx)).count()))
    val (_, total) = Stats.secs(tr.span("streaming.commit")(commit(1, in)))
    val (_, probe) = Stats.secs(tr.span("store.lineage_probe")(
      LineageStore.readLineage(spark, root)
        .filter(l => l.stage == "stream_triples" && l.snapshot_id == "batch-1")
        .limit(1).count()))
    val c = tr.named("streaming.commit").head.counters
    out.put("store.dict_context_s", tr.named("store.dict_context").head.seconds, "s")
    out.put("pipeline.salted_run_s", run, "s")
    out.put("streaming.commit_s", total, "s")
    out.put("streaming.commit_overhead_s", total - run, "s")
    out.put("store.lineage_probe_s", probe, "s")
    out.put("streaming.files_per_batch",
      StoreFiles.parquetUnder(s"${StreamIngest.streamPath(root)}/batch=1")._1.toDouble, "count")
    out.put("streaming.jobs_per_batch", c.jobs.toDouble, "count")
    out.put("streaming.stages_per_batch", c.stages.toDouble, "count")
    out.put("streaming.tasks_per_batch", c.tasks.toDouble, "count")
    out.put("streaming.shuffle_write_bytes_per_batch", c.shuffleWriteBytes.toDouble, "bytes")
    out.put("streaming.gc_ms_per_batch", c.gcMs.toDouble, "ms")

    // both committed batches equal gold for their docs
    val want = gold(spark, off, 2)
    val got = byBatch(StreamIngest.readStreamTriples(spark, root).toDF(), off)
    (0L until 2L).foreach { b =>
      out.op(s"stream batch $b: store ${got.get(b)} != gold ${want.get(b)}")(
        got.get(b) == want.get(b))
    }
    // replaying a committed batch id is a no-op
    val lineageRows = LineageStore.readLineage(spark, root).count()
    val files = StoreFiles.parquetUnder(StreamIngest.streamPath(root))
    commit(1, in)
    out.op("replayed stream batch changed the store")(
      LineageStore.readLineage(spark, root).count() == lineageRows &&
        StoreFiles.parquetUnder(StreamIngest.streamPath(root)) == files)
  }
}
