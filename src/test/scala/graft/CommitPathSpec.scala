package graft

import graft.gen.CorpusGen
import graft.model._
import graft.pipeline.KgPipeline
import graft.store.{LineageStore, StageMetrics}
import graft.streaming.StreamIngest
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.Dataset
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The store's commit path: one file per bucket per commit (batch and
  * stream), resume without an emptiness probe, and exact stage-metrics
  * capture.
  */
class CommitPathSpec extends AnyFunSuite {
  lazy val spark = SparkTest.spark
  import spark.implicits._

  /** Parquet file count per partition directory (path relative to
    * `dir`, e.g. `bucket=3` or `batch=0/bucket=3`). */
  private def filesPerPartition(dir: String): Map[String, Int] = {
    val base = Paths.get(dir)
    val s = Files.walk(base)
    try s.iterator().asScala
      .filter(_.toString.endsWith(".parquet"))
      .toSeq.groupBy((p: Path) => base.relativize(p.getParent).toString)
      .map { case (k, v) => k -> v.size }
    finally s.close()
  }

  test("commit writes exactly one parquet file per non-empty bucket") {
    val root = Files.createTempDirectory("graft_commit_files").toString
    val buckets = 8
    // buckets 0..5 carry rows, 6 and 7 none; eight round-robin input
    // partitions each hold rows of every non-empty bucket
    val rows = (0 until 240).map { i =>
      Triple(s"s$i", "p", s"o$i", f"d$i%04d", i % 6, 1.0, i, 0)
    }
    val triples = spark.createDataset(rows).repartition(8)
    assert(triples.rdd.getNumPartitions >= 4)
    LineageStore.commit(spark, root, "triples", triples, "snap",
      Some((0 until buckets).toSet))
    val files = filesPerPartition(LineageStore.triplesPath(root))
    assert(files == (0 until 6).map(b => s"bucket=$b" -> 1).toMap, files)
    assert(LineageStore.readTriples(spark, root).count() == rows.size)
    // the two empty buckets still have (zero-count) lineage rows
    assert(LineageStore.committedBuckets(spark, root, "triples") ==
      (0 until buckets).toSet)
  }

  test("commitBatch writes exactly one file per (batch, bucket)") {
    val root = Files.createTempDirectory("graft_stream_files").toString
    val aliases = CorpusGen.aliases(spark)
    val ctx = KgPipeline.prepareLinkContext(spark, aliases)
    val cfg = KgPipeline.Config(buckets = 8)
    val docs = CorpusGen.docs(spark, 60, parts = 4)
    val b0 = docs.filter(_.doc_id < CorpusGen.docId(30))
    val b1 = docs.filter(_.doc_id >= CorpusGen.docId(30))
    StreamIngest.commitBatch(spark, b0, 0L, root, ctx, aliases, cfg)
    StreamIngest.commitBatch(spark, b1, 1L, root, ctx, aliases, cfg)
    val files = filesPerPartition(StreamIngest.streamPath(root))
    // both batches populate several buckets each
    for (b <- Seq(0, 1))
      assert(files.keys.count(_.startsWith(s"batch=$b/bucket=")) > 1, files)
    assert(files.values.forall(_ == 1), files)
    val stored = StreamIngest.readStreamTriples(spark, root)
      .select("subj", "pred", "obj", "doc_id").collect().toSet
    val full = KgPipeline.run(spark, docs, aliases, cfg = cfg, ctx = Some(ctx))
      .select("subj", "pred", "obj", "doc_id").collect().toSet
    assert(stored == full && stored.nonEmpty)
  }

  test("runResumable commits doc-less buckets and an empty doc set, then converges") {
    val aliases = CorpusGen.aliases(spark)
    val buckets = 16
    val pipe: Dataset[Doc] => Dataset[Triple] =
      ds => KgPipeline.run(spark, ds, aliases, cfg = KgPipeline.Config(buckets = buckets))
    def check(docs: Dataset[Doc], name: String): Unit = {
      val root = Files.createTempDirectory(s"graft_resume_$name").toString
      assert(LineageStore.runResumable(spark, root, "triples", docs, pipe,
        buckets, "snap-1") == buckets, name)
      val lineage = LineageStore.readLineage(spark, root).collect()
      assert(lineage.map(_.partition_id).toSet == (0 until buckets).toSet, name)
      val docBuckets = docs.collect()
        .map(d => graft.kg.Triples.bucketOf(d.doc_id, buckets)).toSet
      val docLess = (0 until buckets).toSet -- docBuckets
      assert(docLess.nonEmpty, name)
      assert(lineage.filter(l => docLess(l.partition_id))
        .forall(_.triple_count == 0L), name)
      assert(lineage.map(_.triple_count).sum ==
        (if (docBuckets.isEmpty) 0L else LineageStore.readTriples(spark, root).count()),
        name)
      assert(LineageStore.runResumable(spark, root, "triples", docs, pipe,
        buckets, "snap-2") == 0, name)
    }
    // 5 docs over 16 buckets: at least 11 buckets have no doc at all
    check(CorpusGen.docs(spark, 5, parts = 4), "few")
    check(CorpusGen.docs(spark, 5, parts = 4).limit(0), "empty")
  }

  test("StageMetrics.capture reports exactly the body's tasks") {
    val (n, metrics) = StageMetrics.capture(spark) {
      spark.sparkContext.parallelize(1 to 10, 7).count()
    }
    assert(n == 10L)
    assert(metrics.toMap.get("tasks").contains(7L), metrics)
  }
}
