package graft

import graft.eval.SpanMetrics
import graft.gen.CorpusGen
import graft.kg.{ConnectedComponents, Linker, Triples}
import graft.model._
import graft.pipeline.KgPipeline
import graft.store.LineageStore
import graft.tag.GazetteerTagger
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object SparkTest {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()
  spark.sparkContext.setLogLevel("ERROR")
}

class PipelineSpec extends AnyFunSuite {
  lazy val spark = SparkTest.spark
  import spark.implicits._

  val N = 120L // tiny corpus for e2e

  test("span-sequence invariant holds for every generated doc") {
    val docs = CorpusGen.docs(spark, N, parts = 4)
    assert(KgPipeline.spanSequenceViolations(spark, docs) == 0L)
  }

  test("mention detection matches gold exactly (P=R=1.0)") {
    val docs = CorpusGen.docs(spark, N, parts = 4)
    val sents = KgPipeline.sentences(spark, docs)
    val mentions = KgPipeline.detectMentions(spark, sents,
      new GazetteerTagger(KgPipeline.defaultGazetteer))
    val gold = CorpusGen.goldMentions(spark, N, parts = 4)
    val rows = SpanMetrics.evaluateMentions(spark, mentions, gold).collect()
    val all = rows.find(_.slot == "ALL").get
    assert(all.fp == 0 && all.fn == 0, rows.mkString("\n"))
    assert(all.precision == 1.0 && all.recall == 1.0)
  }

  test("e2e triples match the golden fixture (P=R=1.0 ≥ 0.95 target)") {
    val docs = CorpusGen.docs(spark, N, parts = 4)
    val produced = KgPipeline.run(spark, docs, CorpusGen.aliases(spark))
    val golden = CorpusGen.goldTriples(spark, N, parts = 4)
    val c = SpanMetrics.tripleCounts(spark, produced, golden)
    assert(c.fp == 0 && c.fn == 0, s"tp=${c.tp} fp=${c.fp} fn=${c.fn}")
    assert(c.precision == 1.0 && c.recall == 1.0)
    assert(c.tp > 0)
    // every triple family is non-trivially present (incl. typed relations)
    val preds = produced.select("pred").distinct().collect()
      .map(_.getString(0)).toSet
    for (p <- Seq("mentions", "co_occurs_with", "depicted_in",
                  "visited", "works_for", "met"))
      assert(preds.contains(p), s"missing triple family $p in $preds")
  }

  test("connected components canonicalize alias records to min id") {
    val canon = ConnectedComponents.canonicalMap(spark,
      CorpusGen.aliases(spark).toDF()).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    // every record of an entity maps to its #0 record
    assert(canon("PER_000#0") == "PER_000#0")
    assert(canon("PER_000#1") == "PER_000#0")
    assert(canon("LOC_003#1") == "LOC_003#0")
    // distinct entities stay distinct
    assert(canon("PER_000#0") != canon("PER_001#0"))
  }

  test("salted-join linking agrees with broadcast linking") {
    val docs = CorpusGen.docs(spark, N, parts = 4)
    val sents = KgPipeline.sentences(spark, docs)
    val mentions = KgPipeline.detectMentions(spark, sents,
      new GazetteerTagger(KgPipeline.defaultGazetteer)).persist()
    val dict = CorpusGen.aliasDict.groupBy(_.surface_norm)
    val a = Linker.linkBroadcast(spark, mentions, dict)
      .map(l => (l.doc_id, l.span_offset, l.surface, l.entity_id)).collect().toSet
    val b = Linker.linkSaltedJoin(spark, mentions, CorpusGen.aliases(spark))
      .map(l => (l.doc_id, l.span_offset, l.surface, l.entity_id)).collect().toSet
    assert(a == b)
    assert(a.nonEmpty)
    mentions.unpersist()
  }

  test("bloom-pruned salted link == unpruned, and OOV surfaces never link") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val aliases = CorpusGen.aliases(spark)
    val known = CorpusGen.aliasDict.map(_.surface_norm).distinct.take(6)
    // mention projection incl. OOV garbage surfaces (bloom may pass a
    // false positive; the inner join must still drop it)
    val m = (known.zipWithIndex.map { case (s, i) => (s"d$i", i, 0, s, "PER") }
      ++ (0 until 40).map(i => (s"dx$i", i, 0, s"zz_not_a_surface_$i", "PER")))
      .toDF("doc_id", "span_offset", "sentence_idx", "surface_norm",
        "entity_type")
    def res(bloom: Boolean) =
      Linker.linkSaltedSlim(spark, m, aliases, bloomPrune = bloom)
        .collect().map(l => (l.doc_id, l.span_offset, l.entity_id)).toSet
    val withBloom = res(true)
    val noBloom = res(false)
    assert(withBloom == noBloom, (withBloom, noBloom))
    assert(withBloom.nonEmpty)
    assert(!withBloom.exists(_._1.startsWith("dx")))
  }

  test("full salted pipeline (slim persist) equals the broadcast pipeline") {
    val docs = CorpusGen.docs(spark, N, parts = 4)
    val aliases = CorpusGen.aliases(spark)
    val ctx = Some(KgPipeline.prepareLinkContext(spark, aliases))
    def rows(cfg: KgPipeline.Config) =
      KgPipeline.run(spark, docs, aliases, cfg = cfg, ctx = ctx)
        .map(t => (t.subj, t.pred, t.obj, t.doc_id, t.conf,
          t.span_offset, t.sentence_idx)).collect().toSet
    val viaBroadcast = rows(KgPipeline.Config())
    val viaSalted = rows(KgPipeline.Config(broadcastLink = false))
    assert(viaBroadcast == viaSalted && viaSalted.nonEmpty)
    spark.catalog.clearCache()
  }

  test("raw-text ingestion: splitter sentences feed the same detect stage") {
    import spark.implicits._
    val docs = CorpusGen.docs(spark, 50, parts = 4)
    val sents = KgPipeline.rawSentences(spark, docs).collect()
    assert(sents.nonEmpty)
    // every guid is doc/0/idx and words are non-empty
    assert(sents.forall(s => s.guid.split('/')(1) == "0" && s.words.nonEmpty))
    // detection over raw sentences is partitioning-invariant
    def det(parts: Int) = KgPipeline.detectMentions(spark,
      KgPipeline.rawSentences(spark, CorpusGen.docs(spark, 50, parts = parts)),
      new GazetteerTagger(KgPipeline.defaultGazetteer))
      .collect().map(m => (m.doc_id, m.sentence_idx, m.start_word, m.surface))
      .toSet
    assert(det(2) == det(7) && det(2).nonEmpty)
  }

  test("salted path with no ctx never materializes the driver dictionary") {
    val docs = CorpusGen.docs(spark, N, parts = 4)
    val aliases = CorpusGen.aliases(spark)
    def rows(cfg: KgPipeline.Config) =
      KgPipeline.run(spark, docs, aliases, cfg = cfg, ctx = None)
        .map(t => (t.subj, t.pred, t.obj, t.doc_id, t.conf,
          t.span_offset, t.sentence_idx)).collect().toSet
    val before = KgPipeline.linkContextCalls.get()
    val viaSalted = rows(KgPipeline.Config(broadcastLink = false))
    assert(KgPipeline.linkContextCalls.get() == before,
      "salted path invoked prepareLinkContext (driver-resident dictionary)")
    // identical output to the broadcast path (which legitimately uses it)
    val viaBroadcast = rows(KgPipeline.Config())
    assert(viaBroadcast == viaSalted && viaSalted.nonEmpty)
    spark.catalog.clearCache()
  }

  test("contextual linking stage: golden parity context-on vs context-off") {
    // the generator's dictionary has no post-canonicalization ambiguity
    // (shared surfaces merge under CC), so the co-mention feature must
    // change NOTHING on the golden corpus — the prior-only ordering is
    // the degenerate case of the contextual key (flip behavior itself is
    // exercised on the planted ctx fixture in LinkerCtxSpec)
    val docs = CorpusGen.docs(spark, N, parts = 4)
    val aliases = CorpusGen.aliases(spark)
    def rows(cfg: KgPipeline.Config) =
      KgPipeline.run(spark, docs, aliases, cfg = cfg, ctx = None)
        .map(t => (t.subj, t.pred, t.obj, t.doc_id, t.conf,
          t.span_offset, t.sentence_idx)).collect().toSet
    val ctxOn = rows(KgPipeline.Config(broadcastLink = false,
      contextualLink = true))
    val ctxOff = rows(KgPipeline.Config(broadcastLink = false))
    assert(ctxOn == ctxOff && ctxOff.nonEmpty)
    spark.catalog.clearCache()
  }

  test("curation gate: prefilter equivalence, junk docs never reach the KG") {
    val docs = CorpusGen.docs(spark, N, parts = 4)
    val aliases = CorpusGen.aliases(spark)
    // junk a real crawl would carry: a contact-bearing doc (pii stage;
    // German markers + enough words so earlier stages pass) and an
    // EXACT copy of a real doc (duplicate stage — the copy's id sorts
    // after every generated id, so the original stays the keeper)
    val base = docs.collect()
    val piiDoc = Doc("zz_pii", Array(Span("text",
      "das Haus und der Garten waren heute gut mail me x@y.de wieder da",
      "", 0)))
    // copy a doc the gate KEEPS (its text must vote 'de' — a
    // marker-less doc ties to 'en' and exits at the lang stage before
    // the duplicate stage can see the copy)
    val keepable = base.find { d =>
      val t = d.spans.filter(_.kind == "text").map(_.text).mkString(" ")
      val ws = t.split(" ")
      Seq("der", "und", "das").map(m => ws.count(_ == m)).sum >
        Seq("le", "et", "la", "el", "y").map(m => ws.count(_ == m)).sum &&
        ws.count(_.nonEmpty) >= 5 && !t.contains("@")
    }.getOrElse(fail("no de-voting base doc in the fixture"))
    val copyDoc = Doc("zz_copy", keepable.spans.filter(_.kind == "text")
      .map(sp => Span("text", sp.text, "", sp.offset)))
    val all = spark.createDataset(base.toSeq :+ piiDoc :+ copyDoc)(
      org.apache.spark.sql.Encoders.product[Doc]).repartition(4)
    val c = KgPipeline.CurateCfg()
    def rows(ds: org.apache.spark.sql.Dataset[Doc], cfg: KgPipeline.Config) =
      KgPipeline.run(spark, ds, aliases, cfg = cfg)
        .map(t => (t.subj, t.pred, t.obj, t.doc_id, t.conf,
          t.span_offset, t.sentence_idx)).collect().toSet
    // the gate must equal manual prefilter + ungated run
    val gated = rows(all, KgPipeline.Config(curate = Some(c)))
    val manual = rows(KgPipeline.curationKeep(spark, all, c),
      KgPipeline.Config())
    assert(gated == manual && gated.nonEmpty)
    // the junk never reaches the KG; the funnel actually dropped it
    // (not a detect-stage miss): both ids are tagged with their stage
    assert(!gated.exists(r => r._4 == "zz_pii" || r._4 == "zz_copy"))
    import org.apache.spark.sql.functions.col
    val verdicts = graft.ops.Filters.curationFunnel(
        all.map(d => (d.doc_id, d.spans.filter(_.kind == "text")
          .sortBy(_.offset).map(_.text).mkString(" ")))
          .toDF("doc_id", "text"), c.lang, c.minWords, c.dupPpmMax)
      .where(col("doc_id").startsWith("zz_"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(verdicts == Map("zz_pii" -> "pii", "zz_copy" -> "duplicate"),
      s"got $verdicts")
    spark.catalog.clearCache()
  }

  test("resume: kill-after-partial-commit yields identical final triples") {
    val root = java.nio.file.Files.createTempDirectory("graft_resume").toString
    val docs = CorpusGen.docs(spark, N, parts = 4)
    val aliases = CorpusGen.aliases(spark)
    val buckets = 8
    val pipe: org.apache.spark.sql.Dataset[Doc] => org.apache.spark.sql.Dataset[Triple] =
      ds => KgPipeline.run(spark, ds, aliases, cfg = KgPipeline.Config(buckets = buckets))
    // simulated partial run: only docs of buckets 0..3 processed, committed
    val firstHalf = docs.filter(d => Triples.bucketOf(d.doc_id, buckets) < 4)
    LineageStore.commit(spark, root, "triples", pipe(firstHalf), "snap-1")
    val committed = LineageStore.committedBuckets(spark, root, "triples")
    assert(committed.nonEmpty && committed.forall(_ < 4))
    // resume processes ONLY the remaining buckets
    val n = LineageStore.runResumable(spark, root, "triples", docs, pipe, buckets, "snap-2")
    assert(n > 0)
    // final result identical to a single full run
    val resumed = LineageStore.readTriples(spark, root)
      .select("subj", "pred", "obj", "doc_id").collect().toSet
    val full = pipe(docs).select("subj", "pred", "obj", "doc_id").collect().toSet
    assert(resumed == full)
    // second resume is a no-op
    assert(LineageStore.runResumable(spark, root, "triples", docs, pipe, buckets, "snap-3") == 0)
  }

  test("resume converges when some buckets legitimately produce zero triples") {
    val root = java.nio.file.Files.createTempDirectory("graft_resume0").toString
    val docs = CorpusGen.docs(spark, N, parts = 4)
    val aliases = CorpusGen.aliases(spark)
    val buckets = 8
    val pipelineRuns = new java.util.concurrent.atomic.AtomicInteger(0)
    // a pipeline whose output leaves buckets 4..7 EMPTY (e.g. their docs
    // never link): those buckets must still be marked committed
    val pipe: org.apache.spark.sql.Dataset[Doc] => org.apache.spark.sql.Dataset[Triple] =
      ds => {
        pipelineRuns.incrementAndGet()
        KgPipeline.run(spark, ds, aliases, cfg = KgPipeline.Config(buckets = buckets))
          .filter(_.bucket < 4)
      }
    assert(LineageStore.runResumable(spark, root, "triples", docs, pipe,
      buckets, "snap-1") == buckets)
    assert(LineageStore.committedBuckets(spark, root, "triples") ==
      (0 until buckets).toSet, "zero-triple buckets missing from lineage")
    // the empty buckets have explicit zero-count lineage rows
    val zeroRows = LineageStore.readLineage(spark, root)
      .filter(l => l.partition_id >= 4).collect()
    assert(zeroRows.length == 4 && zeroRows.forall(_.triple_count == 0L))
    // second invocation: CONVERGED — the pipeline must not run again
    val before = pipelineRuns.get()
    assert(LineageStore.runResumable(spark, root, "triples", docs, pipe,
      buckets, "snap-2") == 0)
    assert(pipelineRuns.get() == before, "resume reprocessed committed empty buckets")
  }

  test("snapshot head: batch-10 outranks batch-9 within one created_at ms") {
    val root = java.nio.file.Files.createTempDirectory("graft_snap_tie").toString
    val ts = 1700000000000L
    for (id <- Seq("batch-9", "batch-10"))
      graft.store.Snapshots.append(spark, root,
        graft.store.Snapshots.SnapshotRow(id, "none", "stream_triples",
          ts, 1L, "h"))
    assert(graft.store.Snapshots.current(spark, root, "stream_triples")
      .map(_.snapshot_id).contains("batch-10"))
    // chain-walk past the first snapshot reads empty, not a crash
    assert(graft.store.Snapshots.readStreamAsOf(spark, root, "none")
      .isEmpty)
  }

  test("bucket-level upsert: re-committing changed docs replaces exactly their buckets") {
    val root = java.nio.file.Files.createTempDirectory("graft_upsert").toString
    val aliases = CorpusGen.aliases(spark)
    val buckets = 8
    val pipe: org.apache.spark.sql.Dataset[Doc] => org.apache.spark.sql.Dataset[Triple] =
      ds => KgPipeline.run(spark, ds, aliases, cfg = KgPipeline.Config(buckets = buckets))
    val docs = CorpusGen.docs(spark, 40, parts = 4)
    LineageStore.commit(spark, root, "triples", pipe(docs), "snap-v1")
    // new content for every doc of bucket 2 (an appended sentence with
    // fresh mentions → different triples)
    val modified = docs.map { d =>
      if (Triples.bucketOf(d.doc_id, buckets) != 2) d
      else {
        val off = d.spans.map(_.offset).max + 1
        Doc(d.doc_id, d.spans :+
          graft.model.Span("text", "Anna Müller besuchte Paris .", null, off))
      }
    }
    // Iceberg-style upsert = dynamic-partition overwrite of ONLY the
    // changed buckets; untouched buckets keep their files
    val changed = modified.filter(d => Triples.bucketOf(d.doc_id, buckets) == 2)
    assert(changed.count() > 0)
    LineageStore.commit(spark, root, "triples", pipe(changed), "snap-v2")
    val got = LineageStore.readTriples(spark, root)
      .select("subj", "pred", "obj", "doc_id").collect().toSet
    val want = pipe(modified).select("subj", "pred", "obj", "doc_id").collect().toSet
    assert(got == want && got.nonEmpty)
    // and it actually differs from v1 (the upsert changed something)
    val v1 = pipe(docs).select("subj", "pred", "obj", "doc_id").collect().toSet
    assert(got != v1)
  }

  test("compaction: one file per bucket, identical rows, resume state untouched") {
    val root = java.nio.file.Files.createTempDirectory("graft_compact").toString
    val aliases = CorpusGen.aliases(spark)
    val buckets = 8
    val pipe: org.apache.spark.sql.Dataset[Doc] => org.apache.spark.sql.Dataset[Triple] =
      ds => KgPipeline.run(spark, ds, aliases, cfg = KgPipeline.Config(buckets = buckets))
    val docs = CorpusGen.docs(spark, 60, parts = 4)
    // two commits over disjoint doc halves
    LineageStore.commit(spark, root, "triples",
      pipe(docs.filter(_.doc_id < CorpusGen.docId(30))), "snap-a")
    LineageStore.commit(spark, root, "triples",
      pipe(docs.filter(_.doc_id >= CorpusGen.docId(30))), "snap-b")
    // second commit's dynamic overwrite replaced the first commit's
    // partitions; a third commit over all docs
    LineageStore.commit(spark, root, "triples",
      pipe(docs).unionByName(pipe(docs.filter(_.doc_id < CorpusGen.docId(0)))),
      "snap-c")
    // a commit writes one file per bucket, so commits alone leave
    // nothing to compact: lay the same rows out the way a multi-task
    // partitionBy(bucket) writer without bucket clustering does (every
    // task a file in every bucket). Lineage is left as committed.
    val committedRows = LineageStore.readTriples(spark, root).collect().toSeq
    spark.createDataset(committedRows).repartition(4)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("bucket").parquet(LineageStore.triplesPath(root))
    val beforeRows = LineageStore.readTriples(spark, root)
      .collect().map(t => (t.subj, t.pred, t.obj, t.doc_id, t.bucket)).sorted
    val committed = LineageStore.committedBuckets(spark, root, "triples")
    val (nBefore, nAfter) = LineageStore.compactTriples(spark, root)
    assert(nAfter <= buckets, s"expected <= $buckets files, got $nAfter")
    assert(nAfter < nBefore, s"compaction did not shrink: $nBefore -> $nAfter")
    val afterRows = LineageStore.readTriples(spark, root)
      .collect().map(t => (t.subj, t.pred, t.obj, t.doc_id, t.bucket)).sorted
    assert(afterRows.toSeq == beforeRows.toSeq)
    assert(LineageStore.committedBuckets(spark, root, "triples") == committed)
  }

  test("determinism: same corpus and triples at different partition counts") {
    val t1 = CorpusGen.docs(spark, 40, parts = 2)
    val t2 = CorpusGen.docs(spark, 40, parts = 7)
    assert(t1.collect().map(d => (d.doc_id, d.spans.toSeq)).toSet ==
      t2.collect().map(d => (d.doc_id, d.spans.toSeq)).toSet)
    // full pipeline output is partitioning-invariant (scaling contract)
    val aliases = CorpusGen.aliases(spark)
    val ctx = Some(KgPipeline.prepareLinkContext(spark, aliases))
    val r1 = KgPipeline.run(spark, t1, aliases, ctx = ctx)
      .select("subj", "pred", "obj", "doc_id").collect().toSet
    val r2 = KgPipeline.run(spark, t2, aliases, ctx = ctx)
      .select("subj", "pred", "obj", "doc_id").collect().toSet
    assert(r1 == r2 && r1.nonEmpty)
  }
}

/** Dictionary-scale canonicalization: CC over a synthetic alias graph two
  * orders larger than the default dictionary — convergence in O(log n)
  * rounds and correct min-id representatives.
  */
class CcScaleSpec extends AnyFunSuite {
  lazy val spark = SparkTest.spark
  import spark.implicits._

  test("connected components at 20k entities / 100k edges") {
    val n = 20000
    // entity i has records i#0, i#1, i#2 chained through two surfaces
    val edges = (0 until n).flatMap { i =>
      Seq((s"s:surf_${i}_a", s"e:E${"%06d".format(i)}#0"),
          (s"s:surf_${i}_a", s"e:E${"%06d".format(i)}#1"),
          (s"s:surf_${i}_b", s"e:E${"%06d".format(i)}#1"),
          (s"s:surf_${i}_b", s"e:E${"%06d".format(i)}#2"))
    }.toDF("src", "dst")
    val cc = graft.kg.ConnectedComponents.run(spark, edges)
    val comps = cc.where($"node".startsWith("e:"))
      .groupBy("component").count().collect()
    assert(comps.length == n)            // one component per entity
    assert(comps.forall(_.getLong(1) == 3)) // all three records merged
    // representative is the min record via the canonical map
    val canon = graft.kg.ConnectedComponents.canonicalMap(spark,
      (0 until 100).flatMap { i =>
        Seq(("surf_${i}_a".replace("${i}", i.toString), s"X$i#0", "PER", 0.9),
            ("surf_${i}_a".replace("${i}", i.toString), s"X$i#1", "PER", 0.8))
      }.toDF("surface_norm", "entity_id", "entity_type", "prior"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert((0 until 100).forall(i => canon(s"X$i#1") == s"X$i#0"))
  }

  test("single-task union-find path equals the iterative path exactly") {
    // random graph with chains, cliques and isolated self-loops
    val rnd = new scala.util.Random(11)
    val edges = ((0 until 3000).map { _ =>
      (s"n${rnd.nextInt(800)}", s"n${rnd.nextInt(800)}")
    } ++ (0 until 50).map(i => (s"iso$i", s"iso$i"))).toDF("src", "dst")
    val fast = graft.kg.ConnectedComponents.run(spark, edges)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val iterative = graft.kg.ConnectedComponents
      .run(spark, edges, smallInputEdges = 0)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(fast == iterative)
    assert(fast.nonEmpty && (0 until 50).forall(i => fast(s"iso$i") == s"iso$i"))
  }
}

/** Incremental canonicalization: folding new edges into a converged
  * assignment must equal the from-scratch recompute. */
class CcIncrementalSpec extends AnyFunSuite {
  lazy val spark = SparkTest.spark
  import spark.implicits._

  private def asMap(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.getString(0) -> r.getString(1)).toMap

  test("incremental == full recompute when new edges bridge components") {
    // batch 1: chains a-b-c and d-e; isolated node z (via self-assignment)
    val e1 = Seq(("a", "b"), ("b", "c"), ("d", "e")).toDF("src", "dst")
    val base = graft.kg.ConnectedComponents.run(spark, e1)
      .union(Seq(("z", "z")).toDF("node", "component"))
    // batch 2: bridge c-d (merges the two chains), new pair (x, y)
    val e2 = Seq(("c", "d"), ("x", "y")).toDF("src", "dst")
    val inc = asMap(graft.kg.ConnectedComponents.incremental(spark, base, e2))
    val full = asMap(graft.kg.ConnectedComponents.run(spark,
      e1.unionByName(e2)))
    // merged + new nodes match the from-scratch answer
    assert(full.forall { case (n, c) => inc(n) == c }, (inc, full))
    // the old isolated node survives untouched
    assert(inc("z") == "z")
    assert(inc.keySet == full.keySet + "z")
  }

  test("incremental on a larger random graph matches full recompute") {
    val edges = (0 until 400).map { i =>
      (s"n${(i * 13) % 97}", s"n${(i * 29 + 7) % 97}")
    }.filter { case (a, b) => a != b }
    val (e1, e2) = edges.splitAt(250)
    val base = graft.kg.ConnectedComponents.run(spark, e1.toDF("src", "dst"))
    val inc = asMap(graft.kg.ConnectedComponents.incremental(spark, base,
      e2.toDF("src", "dst")))
    val full = asMap(graft.kg.ConnectedComponents.run(spark,
      edges.toDF("src", "dst")))
    assert(inc == full)
  }
}

/** Torn-commit atomicity: data written but lineage row missing (the crash
  * window between the two writes) must NOT double-count after resume —
  * the bucket is rewritten idempotently (dynamic partition overwrite).
  */
class TornCommitSpec extends AnyFunSuite {
  lazy val spark = SparkTest.spark
  import spark.implicits._

  test("crash between data write and lineage append resumes exactly") {
    val root = java.nio.file.Files.createTempDirectory("graft_torn").toString
    val aliases = CorpusGen.aliases(spark)
    val ctx = Some(KgPipeline.prepareLinkContext(spark, aliases))
    val buckets = 8
    val docs = CorpusGen.docs(spark, 80, parts = 4)
    val pipe: org.apache.spark.sql.Dataset[Doc] => org.apache.spark.sql.Dataset[Triple] =
      ds => KgPipeline.run(spark, ds, aliases,
        cfg = KgPipeline.Config(buckets = buckets), ctx = ctx)
    // simulate the torn write: triples of bucket<2 land on disk WITHOUT a
    // lineage row (crash before the lineage append)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    pipe(docs.filter(d => Triples.bucketOf(d.doc_id, buckets) < 2))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("bucket").parquet(LineageStore.triplesPath(root))
    assert(LineageStore.committedBuckets(spark, root, "triples").isEmpty)
    // resume: lineage says nothing committed → ALL buckets reprocessed;
    // torn partitions are overwritten, not appended
    LineageStore.runResumable(spark, root, "triples", docs, pipe, buckets, "snap")
    val resumed = LineageStore.readTriples(spark, root)
      .select("subj", "pred", "obj", "doc_id").collect()
    val full = pipe(docs).select("subj", "pred", "obj", "doc_id").collect()
    assert(resumed.toSet == full.toSet)
    assert(resumed.length == full.length, "duplicate rows after torn-commit resume")
  }
}
