package graft

import graft.ops.{Ann, Dedup, Multimodal, TextOps}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class OpsSpec extends AnyFunSuite {
  lazy val spark = SparkTest.spark
  import spark.implicits._

  private def docs(rows: (Long, String, String)*) =
    rows.toSeq.toDF("doc_id", "text", "source")

  test("exact dedup groups identical texts, keeps min doc_id") {
    val d = docs((1, "a b c", "s"), (2, "a b c", "s"), (3, "x y z", "s"))
    val r = Dedup.exact(d).collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(r == Set((1L, 2L), (3L, 1L)))
  }

  test("shingles3: 3-gram windows, short docs empty") {
    val r = docs((1, "a b c d", "s")).select(TextOps.shingles3(col("text")))
      .collect()(0).getSeq[String](0)
    assert(r == Seq("a b c", "b c d"))
    val short = docs((1, "a b", "s")).select(TextOps.shingles3(col("text")))
      .collect()(0).getSeq[String](0)
    assert(short.isEmpty)
  }

  test("minhash pairs detect a planted near-duplicate") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val nearDup = (1 to 40).map(i => if (i == 20) "CHANGED" else s"w$i").mkString(" ")
    val other = (100 to 140).map(i => s"v$i").mkString(" ")
    val d = docs((1, base, "s"), (2, nearDup, "s"), (3, other, "s"))
    val pairs = Dedup.minhashPairs(d).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("simhash: identical docs equal, disjoint docs differ") {
    val d = docs((1, "a b c d e", "s"), (2, "a b c d e", "s"), (3, "p q r s t", "s"))
    val m = Dedup.simhash(d).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(1) == m(2))
    assert(m(1) != m(3))
  }

  test("simhash pairs: planted near-dup within hamming budget, disjoint doc excluded") {
    // near-dup docs share a dominant repeated anchor (wide per-bit vote
    // margins), so a one-word edit moves the signature by ≤ the budget;
    // the disjoint doc has a different anchor (signature far away)
    val base = ("anker " * 50) + (1 to 20).map(i => s"w$i").mkString(" ")
    val nearDup = ("anker " * 50) +
      (1 to 20).map(i => if (i == 10) "CHANGED" else s"w$i").mkString(" ")
    val other = ("grund " * 50) + (100 to 120).map(i => s"v$i").mkString(" ")
    val d = docs((1, base, "s"), (2, nearDup, "s"), (3, other, "s"))
    val pairs = Dedup.simhashPairs(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 <= 3L), pairs.toSeq)
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("ngram jaccard: identical docs = 1.0") {
    val d = docs((1, "a b c d e", "s"), (2, "a b c d e", "s"))
    val r = Dedup.ngramJaccardPairs(d, 0.5).collect()
    assert(r.length == 1 && r(0).getDouble(2) == 1.0)
  }

  test("repetitionStats: planted degenerate docs score high, clean docs low") {
    import graft.ops.Filters
    val d = docs(
      (1, "a a a a b", "s"),          // run of 4, heavy dup
      (2, "x y x y x y x y", "s"),    // one bigram pair dominating
      (3, "the quick brown fox jumps", "s")) // clean
    val r = Filters.repetitionStats(d).collect()
      .map(x => x.getLong(0) -> x).toMap
    assert(r(1).getLong(5) == 4)                     // max_run
    assert(r(1).getDouble(3) == 0.6)                 // 1 - 2/5
    assert(r(2).getDouble(4) == 0.571429)            // "y x" 4/7
    assert(r(3).getDouble(3) == 0.0 && r(3).getLong(5) == 1)
  }

  test("sampleToBudget: deterministic, budget-bounded, small sources kept whole") {
    import graft.ops.Filters
    val rows = (0L until 200L).map(i =>
      (i, (0 until 10).map(j => s"w${i}_$j").mkString(" "),
        if (i < 180) "big" else "small"))
    val d = docs(rows: _*)
    val r = Filters.sampleToBudget(d, budgetTokens = 500).collect()
      .map(x => x.getString(0) -> x).toMap
    // small source: 20 docs × 10 tokens = 200 ≤ 500 → keep_ppm = 10^6, all kept
    assert(r("small").getLong(2) == 1000000L && r("small").getLong(3) == 20L)
    // big source: 1800 tokens → ppm 277777; kept tokens well under 2× budget
    assert(r("big").getLong(2) == 277777L)
    assert(r("big").getLong(4) < 1000L && r("big").getLong(3) > 10L)
    // deterministic replay
    val r2 = Filters.sampleToBudget(d, budgetTokens = 500).collect()
      .map(x => x.getString(0) -> x.getLong(3)).toMap
    assert(r2 == r.map { case (k, v) => k -> v.getLong(3) })
  }

  test("dsirSelect: unflagged target-like docs outrank off-distribution docs") {
    import graft.ops.Filters
    // two disjoint vocabularies; only HALF of the A-vocab docs are
    // flagged as target — importance resampling must still rank the
    // UNFLAGGED A-vocab docs above every B-vocab doc
    val vocabA = Vector("alpha", "beta", "gamma", "delta")
    val vocabB = Vector("omega", "sigma", "theta", "kappa")
    def text(v: Vector[String], seed: Long) =
      (0 until 12).map(i => v(((seed + i) % v.size).toInt)).mkString(" ")
    val rows = (0L until 10L).map(i => (i, text(vocabA, i), "s")) ++
      (10L until 30L).map(i => (i, text(vocabB, i), "s"))
    val d = docs(rows: _*)
    val top = Filters.dsirSelect(d, col("doc_id") < 5, topDocs = 10)
      .collect().map(_.getLong(0)).toSet
    assert(top == (0L until 10L).toSet, s"top10=$top")
    // every A doc scores strictly above every B doc
    val all = Filters.dsirSelect(d, col("doc_id") < 5, topDocs = 30)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert((0L until 10L).map(all).min > (10L until 30L).map(all).max)
    // partitioning must not change scores
    val rep = Filters.dsirSelect(d.repartition(7), col("doc_id") < 5,
      topDocs = 30).collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(rep == all)
  }

  test("curationFunnel: first-fail stages, dedup keepers among survivors only") {
    import graft.ops.Filters
    val en20 = (0 until 20).map(i => s"word$i").mkString(" ") + " the and is"
    val rows = Seq(
      1L -> en20,                                   // kept
      2L -> "der und das der und das der und das",  // lang
      3L -> "the and is tiny",                      // length (< 20 words)
      4L -> (("spam " * 24).trim + " the and is"),  // repetition (dup > 0.7)
      5L -> (en20 + " mail me a@b.de"),             // pii
      6L -> en20,                                   // duplicate of 1
      // keeper-slot test: 7 fails pii, 8 shares 7's text WITHOUT pii —
      // 8 must be KEPT (7 never holds the keeper slot), and a second
      // clean copy 9 must be 'duplicate' with keeper 8
      7L -> (en20 + " extra a@b.de"),
      8L -> (en20 + " extra"),
      9L -> (en20 + " extra"))
    val d = rows.map { case (id, t) => (id, t, "s") }.toDF("doc_id", "text", "source")
    val r = Filters.curationFunnel(d).collect()
      .map(x => x.getLong(0) -> x.getString(1)).toMap
    assert(r == Map(1L -> "kept", 2L -> "lang", 3L -> "length",
      4L -> "repetition", 5L -> "pii", 6L -> "duplicate",
      7L -> "pii", 8L -> "kept", 9L -> "duplicate"), s"got $r")
    // partitioning must not change the verdicts
    val rep = Filters.curationFunnel(d.repartition(5)).collect()
      .map(x => x.getLong(0) -> x.getString(1)).toMap
    assert(rep == r)
  }

  test("contamination: planted benchmark overlap detected, clean docs zero") {
    import graft.ops.Filters
    val benchText = (1 to 12).map(i => s"b$i").mkString(" ")
    val d = docs(
      (5, benchText, "s"),                                  // benchmark doc
      (100, "c1 c2 " + (1 to 9).map(i => s"b$i").mkString(" "), "s"), // 2 shared 8-grams
      (101, "clean words only here nothing shared at all", "s"))
    val r = Filters.contamination(d, benchMaxId = 20, n = 8).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r == Map(100L -> 2L, 101L -> 0L))
  }

  test("count-min sketch: one-sided error (estimate >= exact), exact when no collision") {
    import graft.ops.Sketches
    val d = docs((1, "a a a b b c", "s"), (2, "a b d e f g", "s"))
    val r = Sketches.cmsWordCounts(d, depth = 4, width = 64, topK = 10)
      .collect().map(x => x.getString(0) -> (x.getLong(1), x.getLong(2))).toMap
    assert(r("a")._1 == 4L && r("b")._1 == 3L)
    // CMS can only overcount, never undercount
    assert(r.values.forall { case (exact, est) => est >= exact })
    // with 7 distinct words in 64 buckets × 4 rows, the min-row estimate
    // is exact for this corpus
    assert(r.forall { case (_, (exact, est)) => est == exact })
  }

  test("langId recovers the PLANTED language on a language-consistent corpus") {
    // the reference's evaluation culture (bert.py:276-295) applied to the
    // language-ID operator: accuracy against planted truth, not just shape
    val d = graft.gen.CorpusGen.langDocs(spark, 400, parts = 4)
    val joined = graft.ops.TextOps.langId(d)
      .join(d.select("doc_id", "lang"), "doc_id")
    val acc = joined.where(col("lang_pred") === col("lang")).count() / 400.0
    assert(acc > 0.9, s"langid accuracy $acc not above 0.9 (chance = 0.25)")
    // every language is actually present in the corpus
    assert(d.select("lang").distinct().count() == 4)
  }

  test("langid picks the marker-dominant language") {
    val d = docs(
      (1, "the cat and the dog is here", "s"),
      (2, "der hund und das haus und der baum", "s"))
    val r = TextOps.langId(d).collect().map(r => r.getLong(0) -> r.getString(5)).toMap
    assert(r(1) == "en" && r(2) == "de")
  }

  test("brute-force ANN top1 finds the planted neighbor") {
    val mk = (id: Long, base: Float, label: Int) =>
      (id, Array.tabulate(8)(i => base + i * 0.1f), label)
    val e = Seq(
      mk(0, 1.0f, 0), mk(50, 1.01f, 0), // near-identical direction to id 0
      (75L, Array.tabulate(8)(i => if (i % 2 == 0) 1.0f else -1.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val r = Ann.bruteTop1(e, queryMod = 50).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r(0L) == 50L && r(50L) == 0L)
  }

  test("LSH buckets: identical vectors share a bucket") {
    val e = Seq(
      (1L, Array.tabulate(8)(_ * 0.5f), 0),
      (2L, Array.tabulate(8)(_ * 0.5f), 0),
      (3L, Array.tabulate(8)(i => -i * 0.5f), 1))
      .toDF("vec_id", "embedding", "label")
    val b = Ann.lshBuckets(e).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(b(1L) == b(2L))
    assert(b(1L) != b(3L)) // opposite vectors flip every plane sign
  }

  test("multimodal: REAL PNG payloads round-trip through ImageIO in batches") {
    val d = docs((1, "hello world text", "s"), (2, "other doc", "s"))
    val media = Multimodal.pngMediaTable(d)
    assert(media.schema("payload").dataType.typeName == "binary")
    // payloads are genuine PNGs (magic bytes)
    val payloads = media.collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]]("payload")).toMap
    assert(payloads.values.forall(p =>
      (p(0) & 0xff) == 0x89 && p(1) == 'P' && p(2) == 'N' && p(3) == 'G'))
    val f = Multimodal.decodeFeatures(spark, media).collect().sortBy(_.doc_id)
    assert(f.length == 2)
    val md = java.security.MessageDigest.getInstance("MD5")
    val texts = Map(1L -> "hello world text", 2L -> "other doc")
    for (row <- f) {
      md.reset()
      val seed = md.digest(texts(row.doc_id).getBytes("UTF-8"))
      // decoded dims equal the md5 rule the image was ENCODED with
      assert(row.width == 16 + (seed(0) & 0x3f))
      assert(row.height == 16 + (seed(1) & 0x3f))
      assert(row.n_bytes == payloads(row.doc_id).length)
      // pixel-feature parity with a direct driver-side decode (PNG is
      // lossless: encode → distributed decode == local decode)
      val (w2, h2, feats) = Multimodal.decodePng(Multimodal.pngBytes(seed))
      assert((row.width, row.height) == (w2, h2))
      assert(row.features.toSeq == feats.toSeq)
      assert(row.features.forall(v => v > 0f && v < 1f))
    }
    // opaque video-ish path stays decode-free and deterministic
    val stub = Multimodal.mediaTable(d)
    val frames = Multimodal.frameSample(stub).collect()
    assert(frames.length == 4) // 16-byte payload → frames 0 and 2 per doc
    // ts math is (idx*1000)/fps, not idx*(1000/fps): at 30 fps frame 3
    // is 100 ms (the drifting per-frame-increment form gave 99)
    val f30 = Multimodal.frameSample(stub, step = 1, fps = 30).collect()
      .map(r => r.getLong(2) -> r.getLong(3)).toMap
    assert(f30(3L) == 100L && f30(0L) == 0L, f30)
  }

  test("multimodal: REAL WAV payloads round-trip through javax.sound.sampled") {
    val d = docs((1, "hello world text", "s"), (2, "other doc", "s"))
    val media = Multimodal.wavMediaTable(d)
    assert(media.schema("payload").dataType.typeName == "binary")
    // payloads are genuine RIFF/WAVE containers
    val payloads = media.collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]]("payload")).toMap
    assert(payloads.values.forall(p =>
      new String(p, 0, 4, "US-ASCII") == "RIFF" &&
      new String(p, 8, 4, "US-ASCII") == "WAVE"))
    val stats = Multimodal.audioStats(spark, media).collect().sortBy(_.doc_id)
    assert(stats.length == 2)
    val md = java.security.MessageDigest.getInstance("MD5")
    val texts = Map(1L -> "hello world text", 2L -> "other doc")
    for (row <- stats) {
      md.reset()
      val seed = md.digest(texts(row.doc_id).getBytes("UTF-8"))
      val rate = Multimodal.wavRates(seed(0) & 3)
      val n = 256 + (seed(1) & 0xff) * 8
      val amp = 1 + (seed(2) & 0x1f)
      // decoded stats equal the md5 seed rule the clip was ENCODED with
      assert(row.sample_rate == rate && row.n_samples == n)
      assert(row.duration_ms == n * 1000L / rate)
      // the decoder read every sample: peak/sum match the closed form
      assert(row.peak == 100L * amp)
      val r = n % 201
      assert(row.sum_samples == amp.toLong * (r.toLong * (r - 1) / 2 - 100L * r))
      // and match a direct driver-side decode of the same bytes
      val (r2, n2, p2, s2) = Multimodal.decodeWav(payloads(row.doc_id))
      assert((r2.toLong, n2, p2, s2) ==
        (row.sample_rate, row.n_samples, row.peak, row.sum_samples))
    }
    // windowed energy: every window's decoded sum-of-squares equals the
    // sawtooth closed form (prefix sums of squares over the 201-cycle)
    def pSq(m: Long): Long = m * (m + 1) * (2 * m + 1) / 6
    def sSq(x: Long): Long = {
      val f = x / 201; val r = x % 201
      val t = if (r <= 100) 338350L - pSq(100 - r) else 338350L + pSq(r - 101)
      f * 676700L + t
    }
    val wins = Multimodal.audioEnergy(spark, media).collect()
      .groupBy(_.doc_id)
    for ((id, ws) <- wins) {
      md.reset()
      val seed = md.digest(texts(id).getBytes("UTF-8"))
      val n = 256 + (seed(1) & 0xff) * 8
      val amp = 1 + (seed(2) & 0x1f)
      assert(ws.length == (n + 255) / 256)
      for (w <- ws) {
        val a = w.window_idx * 256
        val b = math.min(n.toLong, a + 256)
        assert(w.n_in_window == b - a)
        assert(w.energy == amp.toLong * amp * (sSq(b) - sSq(a)),
          s"doc $id window ${w.window_idx}")
      }
    }
  }

  test("multimodal: REAL video containers — every PNG frame genuinely decoded") {
    val d = docs((1, "hello world text", "s"), (2, "other doc", "s"))
    val media = Multimodal.vidMediaTable(d)
    assert(media.schema("payload").dataType.typeName == "binary")
    // payloads are genuine GFV1 containers whose frames are real PNGs
    val payloads = media.collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]]("payload")).toMap
    for (p <- payloads.values) {
      assert(new String(p, 0, 4, "US-ASCII") == "GFV1")
      // first frame's PNG magic sits right after magic+count+len
      assert((p(12) & 0xff) == 0x89 && p(13) == 'P' && p(14) == 'N' && p(15) == 'G')
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    val texts = Map(1L -> "hello world text", 2L -> "other doc")
    val rows = Multimodal.videoFrameFeatures(spark, media).collect()
      .groupBy(_.doc_id)
    for ((id, fs) <- rows) {
      md.reset()
      val seed = md.digest(texts(id).getBytes("UTF-8"))
      val w = 16 + (seed(0) & 0x3f)
      val h = 16 + (seed(1) & 0x3f)
      val nf = 2 + (seed(3) & 0x07)
      // every step-th frame emitted, ts at 25 fps
      assert(fs.map(_.frame_idx).sorted.toSeq == (0 until nf by 2).map(_.toLong))
      for (f <- fs) {
        assert(f.width == w && f.height == h && f.n_pixels == w.toLong * h)
        assert(f.ts_ms == f.frame_idx * 1000 / 25)
        // the decoder read every pixel: channel sums match the closed
        // form the encoder planted (r = x+7f, g = y+11f, b = x+y+3f)
        val fi = f.frame_idx
        assert(f.sum_r == h.toLong * (w.toLong * (w - 1) / 2 + 7 * fi * w))
        assert(f.sum_g == w.toLong * (h.toLong * (h - 1) / 2 + 11 * fi * h))
        assert(f.sum_b == h.toLong * (w.toLong * (w - 1) / 2) +
          w.toLong * (h.toLong * (h - 1) / 2) + 3 * fi * w * h)
        assert(f.mean_r_ppm == f.sum_r * 1000000L / f.n_pixels)
      }
      // parity with a direct driver-side decode of the same container
      val direct = Multimodal.decodeVideoFrames(payloads(id))
      assert(direct.length == nf)
      for (f <- fs) {
        val (_, dw, dh, sr, sg, sb) = direct(f.frame_idx.toInt)
        assert((dw.toLong, dh.toLong, sr, sg, sb) ==
          (f.width, f.height, f.sum_r, f.sum_g, f.sum_b))
      }
    }
    // a torn container fails loudly, not with fewer frames
    val torn = payloads(1L).take(payloads(1L).length - 5)
    assertThrows[java.io.EOFException](Multimodal.decodeVideoFrames(torn))
    assertThrows[IllegalArgumentException](
      Multimodal.decodeVideoFrames("nope".getBytes ++ new Array[Byte](8)))
  }
}

class DenseTaggerSpec extends org.scalatest.funsuite.AnyFunSuite {
  import graft.tag.DenseStubTagger
  import graft.text.{Tags, Vocab, WindowEncoder}

  test("dense stub tagger: deterministic, order-preserving, valid labels") {
    val enc = new WindowEncoder(Vocab.default, Vocab.tokenToId, Tags.labelMap)
    val wins = Seq(
      enc.encode("a/0/0", Array("Anna", "besuchte", "Paris", "."),
        Array.fill(4)("O")),
      enc.encode("b/0/0", Array("Die", "Stadt", "ist", "gut", "."),
        Array.fill(5)("O"))).flatten
    val t = new DenseStubTagger(Vocab.tokenToId.size)
    val r1 = t.tagBatch(wins)
    val r2 = t.tagBatch(wins)
    assert(r1.map(_.guid) == wins.map(_.guid)) // order preserved
    assert(r1.map(_.preds.toSeq) == r2.map(_.preds.toSeq)) // deterministic
    assert(r1.forall(_.preds.forall(Tags.labelList.contains)))
  }
}

class RelationsSpec extends org.scalatest.funsuite.AnyFunSuite {
  import graft.kg.Relations
  import graft.model.Mention
  private def m(a: Int, b: Int, surf: String, typ: String) =
    Mention("d", 0, 0, a, b, surf, typ)

  test("verb-pattern extraction over consecutive mention pairs") {
    val words = "Anna Müller besuchte Paris .".split(" ")
    val ms = Seq(m(0, 2, "Anna Müller", "PER"), m(3, 4, "Paris", "LOC"))
    val r = Relations.extract(words, ms)
    assert(r.map(x => (x._1.surface, x._2, x._3.surface)) ==
      Seq(("Anna Müller", "visited", "Paris")))
  }

  test("no relation for non-lexicon gaps or distant mentions") {
    val words = "Anna sah gestern vielleicht irgendwo Paris .".split(" ")
    val ms = Seq(m(0, 1, "Anna", "PER"), m(5, 6, "Paris", "LOC"))
    assert(Relations.extract(words, ms).isEmpty)
    val words2 = "Anna kennt Paris .".split(" ")
    assert(Relations.extract(words2,
      Seq(m(0, 1, "Anna", "PER"), m(2, 3, "Paris", "LOC"))).isEmpty)
  }

  test("multi-word gap patterns (works_for, founded_in)") {
    val w1 = "Anna arbeitet für Deutsche Bank .".split(" ")
    val r1 = Relations.extract(w1,
      Seq(m(0, 1, "Anna", "PER"), m(3, 5, "Deutsche Bank", "ORG")))
    assert(r1.map(_._2) == Seq("works_for"))
    val w2 = "Deutsche Bank wurde in Berlin gegründet .".split(" ")
    val r2 = Relations.extract(w2,
      Seq(m(0, 2, "Deutsche Bank", "ORG"), m(4, 5, "Berlin", "LOC")))
    assert(r2.map(_._2) == Seq("founded_in"))
  }
}

/** Native vector kernels: bit parity with the HOF formulation + codegen. */
class AnnKernelSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark = SparkTest.spark
  import org.apache.spark.sql.functions._

  test("cosine6/dot6 match the aggregate(zip_with) HOF form bit-for-bit over real data") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val e = emb.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    val pairs = e.as("a").join(e.as("b"),
      col("a.vec_id") % 7 === col("b.vec_id") % 7 && col("a.vec_id") < col("b.vec_id"))
    def hofDot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
    val both = pairs.select(
      graft.ops.AnnKernels.cosine6Col(spark, col("a.v"), col("b.v")).as("native"),
      round(hofDot(col("a.v"), col("b.v")) /
        (sqrt(hofDot(col("a.v"), col("a.v"))) * sqrt(hofDot(col("b.v"), col("b.v")))), 6)
        .as("hof"),
      graft.ops.AnnKernels.dot6Col(spark, col("a.v"), col("b.v")).as("nativeDot"),
      round(hofDot(col("a.v"), col("b.v")), 6).as("hofDot"))
    val bad = both.where(col("native") =!= col("hof") ||
      col("nativeDot") =!= col("hofDot")).count()
    assert(bad == 0)
    assert(both.count() > 100)
    // the kernel stays inside whole-stage codegen
    both.collect()
    val plan = both.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("cosine6"), plan)
    assert(plan.contains("*("), plan)
  }

  test("dot_long matches the integer HOF fold; ragged vectors fail loudly") {
    import spark.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = graft.ops.Kmeans.quantized(emb, 100).toDF("vec_id", "v")
    val pairs = q.as("a").join(q.as("b"),
      col("a.vec_id") % 5 === col("b.vec_id") % 5 &&
        col("a.vec_id") < col("b.vec_id"))
    val both = pairs.select(
      graft.ops.AnnKernels.dotLongCol(spark, col("a.v"), col("b.v"))
        .as("native"),
      aggregate(zip_with(col("a.v"), col("b.v"), (x, y) => x * y),
        lit(0L), (acc, x) => acc + x).as("hof"))
    assert(both.where(col("native") =!= col("hof")).count() == 0)
    assert(both.count() > 100)
    val ragged = Seq((Array(1L, 2L), Array(1L, 2L, 3L))).toDF("a", "b")
    val ex = intercept[Exception] {
      ragged.select(graft.ops.AnnKernels.dotLongCol(spark,
        col("a"), col("b"))).collect()
    }
    assert(ex.getMessage != null)
  }
}

/** Distributed as-of join: ≤-tie semantics, carry-forward, no-match nulls. */
class AsofJoinSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark = SparkTest.spark
  import spark.implicits._

  test("lastPrior equals a brute-force reference on randomized data") {
    import graft.gen.CorpusGen.mix64
    // deterministic pseudo-random event streams over 20 keys
    val lrows = (0 until 400).map { i =>
      (math.abs(mix64(i * 3 + 1)) % 20, math.abs(mix64(i * 7 + 2)) % 1000, i.toLong)
    }
    val rrows = (0 until 150).map { i =>
      (math.abs(mix64(i * 11 + 5)) % 20, math.abs(mix64(i * 13 + 6)) % 1000, 10000L + i)
    }
      // unique per (key, time): keep max payload id
      .groupBy(r => (r._1, r._2)).values.map(_.maxBy(_._3)).toSeq
    val left = lrows.toDF("key", "t", "lid")
    val right = rrows.toDF("key", "t", "rid")
    val got = graft.ops.AsofJoin.lastPrior(left, right, "key", "t")
      .collect().map(r => r.getLong(2) ->
        Option(r.get(3)).map(_.asInstanceOf[Long])).toMap
    // brute-force reference computed on the driver
    val byKey = rrows.groupBy(_._1)
    val want = lrows.map { case (k, t, lid) =>
      lid -> byKey.getOrElse(k, Seq.empty).filter(_._2 <= t)
        .sortBy(r => (r._2, r._3)).lastOption.map(_._3)
    }.toMap
    assert(got == want)
    assert(got.values.exists(_.isDefined) && got.values.exists(_.isEmpty))
  }

  test("lastPrior matches the latest right row at-or-before each left row") {
    val left = Seq((1L, 10L, "a"), (1L, 20L, "b"), (1L, 25L, "c"), (2L, 5L, "d"))
      .toDF("key", "t", "tag")
    val right = Seq((1L, 10L, 100L), (1L, 22L, 101L), (2L, 9L, 102L))
      .toDF("key", "t", "price")
    val r = graft.ops.AsofJoin.lastPrior(left, right, "key", "t")
      .collect().map(x => x.getString(2) ->
        ((Option(x.get(3)).map(_.asInstanceOf[Long]),
          Option(x.get(4)).map(_.asInstanceOf[Long])))).toMap
    assert(r("a") == ((Some(100L), Some(10L))))  // equal time matches (≤)
    assert(r("b") == ((Some(100L), Some(10L))))  // 22 is later than 20
    assert(r("c") == ((Some(101L), Some(22L))))  // carried forward
    assert(r("d") == ((None, None)))             // no right row at/under 5
  }
}

/** KG graph analytics: hand-computed integer PageRank + degree shape. */
class GraphOpsSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark = SparkTest.spark
  import graft.model.Triple

  private def co(a: String, b: String) =
    Triple(a, "co_occurs_with", b, "d", 0, 1.0, -1, -1)

  test("integer pagerank on a path graph matches the hand computation") {
    import spark.implicits._
    val triples = spark.createDataset(Seq(co("a", "b"), co("b", "c")))
    val r = graft.kg.GraphOps.pageRank(triples, iters = 3).collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    // r0 = 1e6 each; three exact integer-div iterations (damping .85):
    assert(r == Map("a" -> 629187L, "b" -> 1741625L, "c" -> 629187L), r)
    val d = graft.kg.GraphOps.degreeDistribution(triples).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(d == Map(1L -> 2L, 2L -> 1L))
  }

  test("triangle counts: K4 minus one edge has one triangle, corner-correct") {
    import spark.implicits._
    // edges ab, ac, bc, cd → triangle (a,b,c); d touches none
    val triples = spark.createDataset(
      Seq(co("a", "b"), co("a", "c"), co("b", "c"), co("c", "d")))
    val r = graft.kg.GraphOps.triangleCounts(triples).collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(r == Map("a" -> 1L, "b" -> 1L, "c" -> 1L, "d" -> 0L), r)
  }

  test("triangle counts: orientation agrees with naive on a random graph") {
    import spark.implicits._
    // deterministic pseudo-random graph incl. a hub (node h touches all)
    val nodes = (0 until 12).map(i => s"n$i")
    val edges = (for {
      i <- 0 until 12; j <- (i + 1) until 12
      if (i * 31 + j * 17) % 3 == 0
    } yield (s"n$i", s"n$j")) ++ nodes.filter(_ != "h").map(("h", _))
    val triples = spark.createDataset(edges.map { case (a, b) => co(a, b) })
    val got = graft.kg.GraphOps.triangleCounts(triples).collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    // naive per-entity count on the driver
    val und = edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .filter { case (a, b) => a < b }.distinct.toSet
    val vs = und.flatMap(e => Seq(e._1, e._2)).toSeq.distinct.sorted
    val naive = scala.collection.mutable.Map(vs.map(_ -> 0L): _*)
    for {
      a <- vs; b <- vs if a < b && und((a, b))
      c <- vs if b < c && und((b, c)) && und((a, c))
    } { naive(a) += 1; naive(b) += 1; naive(c) += 1 }
    assert(got == naive.toMap, got)
  }

  test("label propagation matches a sequential replay of the sync rule") {
    import spark.implicits._
    val nodes = (0 until 14).map(i => s"n$i")
    val edges = (for {
      i <- 0 until 14; j <- (i + 1) until 14
      if (i * 19 + j * 23) % 4 == 0
    } yield (s"n$i", s"n$j")).distinct
    val triples = spark.createDataset(edges.map { case (a, b) => co(a, b) })
    val got = graft.kg.GraphOps.labelPropagation(triples, iters = 2)
      .collect().map(x => x.getString(0) -> x.getString(1)).toMap
    // sequential synchronous replay with the same tie rule
    val adj = (edges ++ edges.map(_.swap)).distinct
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2) }
    var labels = adj.keys.map(n => n -> n).toMap
    for (_ <- 1 to 2) {
      labels = adj.map { case (n, nbrs) =>
        val freq = nbrs.map(labels).groupBy(identity)
          .map { case (l, xs) => (l, xs.size) }
        n -> freq.toSeq.minBy { case (l, c) => (-c, l) }._1
      }
    }
    assert(got == labels, got)
  }

  test("co-occurrence lift: integer micro-units match hand computation") {
    import spark.implicits._
    val triples = spark.createDataset(
      Seq(co("a", "b"), co("c", "d"), co("a", "c"), co("a", "c")))
    val r = graft.kg.GraphOps.cooccurrenceLift(triples).collect()
      .map(x => (x.getString(0), x.getString(1)) ->
        ((x.getLong(2), x.getLong(3)))).toMap
    // total=4; occ: a=3 b=1 c=3 d=1
    assert(r == Map(
      ("a", "b") -> ((1L, 1000000L * 1 * 4 / (3 * 1))),
      ("c", "d") -> ((1L, 1000000L * 1 * 4 / (3 * 1))),
      ("a", "c") -> ((2L, 1000000L * 2 * 4 / (3 * 3)))), r)
  }

  test("personalized pagerank with ALL nodes as seeds equals global pagerank") {
    import spark.implicits._
    val triples = spark.createDataset(
      Seq(co("a", "b"), co("b", "c"), co("c", "d"), co("a", "d")))
    val global = graft.kg.GraphOps.pageRank(triples, iters = 3).collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    // seedMod = 1 → every node is a seed → uniform teleport = global PR
    val ppr = graft.kg.GraphOps
      .personalizedPageRank(triples, iters = 3, seedMod = 1).collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(ppr == global, s"ppr=$ppr global=$global")
  }

  test("k-hop BFS matches a sequential BFS with the same md5 seed rule") {
    import spark.implicits._
    // deterministic pseudo-random graph: ~40 nodes, two stranded chains
    val edges = ((for {
      i <- 0 until 30; j <- (i + 1) until 30
      if (i * 13 + j * 29) % 17 == 0
    } yield (s"m$i", s"m$j")) ++
      (30 until 39).map(i => (s"m$i", s"m${i + 1}"))).distinct
    val triples = spark.createDataset(edges.map { case (a, b) => co(a, b) })
    val got = graft.kg.GraphOps.kHopDistances(triples, maxHops = 3, seedMod = 4)
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    // driver replay: same seed rule (md5 hex prefix % 4 == 0), plain BFS
    def hexInt(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
      val hex = d.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    val adj = (edges ++ edges.map(_.swap)).distinct
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }
    val seeds = adj.keySet.filter(n => hexInt(n) % 4 == 0)
    assert(seeds.nonEmpty, "test graph must contain at least one seed")
    var dist = seeds.map(_ -> 0L).toMap
    var frontier = seeds
    for (h <- 1 to 3) {
      val next = frontier.flatMap(adj).diff(dist.keySet)
      dist ++= next.map(_ -> h.toLong)
      frontier = next
    }
    assert(got == dist, s"got=$got expected=$dist")
  }

  test("clustering coefficient: integer ppm on the hand graph") {
    import spark.implicits._
    val triples = spark.createDataset(
      Seq(co("a", "b"), co("a", "c"), co("b", "c"), co("c", "d")))
    val r = graft.kg.GraphOps.clusteringCoefficient(triples).collect()
      .map(x => x.getString(0) -> ((x.getLong(1), x.getLong(2), x.getLong(3))))
      .toMap
    assert(r == Map(
      "a" -> ((1L, 2L, 1000000L)), // 2e6·1/(2·1)
      "b" -> ((1L, 2L, 1000000L)),
      "c" -> ((1L, 3L, 333333L)),  // 2e6·1/(3·2)
      "d" -> ((0L, 1L, 0L))), r)   // deg < 2 → 0
  }

  test("neighbourhood jaccard: hand graph, hub cap replayed") {
    import spark.implicits._
    // ab, ac, bc, cd → Γa={b,c} Γb={a,c} Γc={a,b,d} Γd={c}
    val triples = spark.createDataset(
      Seq(co("a", "b"), co("a", "c"), co("b", "c"), co("c", "d")))
    val r = graft.kg.GraphOps.neighborhoodJaccard(triples).collect()
      .map(x => (x.getString(0), x.getString(1)) ->
        ((x.getLong(2), x.getLong(3)))).toMap
    assert(r == Map(
      ("a", "b") -> ((1L, 333333L)), // ∩={c}, 1e6/(2+2-1)
      ("a", "c") -> ((1L, 250000L)), // ∩={b}, 1e6/(2+3-1)
      ("b", "c") -> ((1L, 250000L)),
      ("a", "d") -> ((1L, 500000L)), // ∩={c}, 1e6/(2+1-1)
      ("b", "d") -> ((1L, 500000L))), r)
    // cap at degree 2: wedges through hub c (deg 3) are dropped
    val capped = graft.kg.GraphOps.neighborhoodJaccard(triples,
        maxCenterDegree = 2L).collect()
      .map(x => (x.getString(0), x.getString(1))).toSet
    assert(capped == Set(("a", "c"), ("b", "c")), capped)
  }
}

/** Map-side-pruned grouped top-k vs the plain window form. */
class TopKSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark = SparkTest.spark
  import org.apache.spark.sql.expressions.Window
  import org.apache.spark.sql.functions._

  test("groupedTopK equals the window form (heavy ties), prunes pre-exchange") {
    import spark.implicits._
    // (i*37)%50 forces many equal v values → exercises the tie order
    val rows = (1 to 500).map(i =>
      (s"g${i % 7}", i.toLong, ((i * 37) % 50).toDouble))
    val df = rows.toDF("grp", "id", "v").repartition(13)
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getLong(1), r.getDouble(2), r.getInt(3))
    val topk = graft.ops.TopK.groupedTopK(df, 5)
    val got = topk.collect().map(key).toSet
    val w = Window.partitionBy("grp").orderBy(desc("v"), asc("id"))
    val want = df.withColumn("rn", row_number().over(w))
      .where(col("rn") <= 5).collect().map(key).toSet
    assert(got == want)
    assert(got.size == 35) // 7 groups × k=5
    // the heap prune (MapPartitions) runs BEFORE the window's exchange
    val p = topk.queryExecution.executedPlan.toString
    assert(p.indexOf("MapPartitions") >= 0 &&
      p.indexOf("Exchange") < p.indexOf("MapPartitions"), p)
  }

  test("sampleKPerGroup: deterministic md5-rank sample equals the window form") {
    import spark.implicits._
    val rows = (1 to 300).map(i => (s"src${i % 4}", s"doc_$i"))
    val df = rows.toDF("source", "doc_id").repartition(9)
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getString(1), r.getInt(2))
    val got = graft.ops.TopK.sampleKPerGroup(df, "source", "doc_id", 4)
      .collect().map(key).toSet
    val md = java.security.MessageDigest.getInstance("MD5")
    val want = rows.groupBy(_._1).toSeq.flatMap { case (src, rs) =>
      rs.map(_._2)
        .sortBy(id => (graft.ops.TextOps.h60(md, id) % (1L << 50), id))
        .take(4).zipWithIndex.map { case (id, i) => (src, id, i + 1) }
    }.toSet
    assert(got == want)
    // stable under repartitioning
    val got2 = graft.ops.TopK
      .sampleKPerGroup(df.repartition(3), "source", "doc_id", 4)
      .collect().map(key).toSet
    assert(got2 == got)
  }
}

/** Key-skew diagnostics. */
class DiagnosticsSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark = SparkTest.spark

  test("skewReport: exact counts, integer ppm share, deterministic ties") {
    import spark.implicits._
    val df = (Seq.fill(5)("a") ++ Seq.fill(3)("b") ++ Seq.fill(2)("c"))
      .toDF("k")
    val r = graft.ops.Diagnostics.skewReport(df, "k", topN = 2)
      .collect().map(x => (x.getString(0), x.getLong(1), x.getLong(2)))
    assert(r.toSeq == Seq(("a", 5L, 500000L), ("b", 3L, 300000L)), r.toSeq)
  }
}

/** Range-partitioned exact percentile scan vs the naive sorted pick. */
class PercentileScanSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark = SparkTest.spark

  test("exactPercentiles equals percentile_disc on skewed data with ties") {
    import spark.implicits._
    // Zipf-ish with heavy ties, deliberately unsorted input
    val vals = (1 to 997).map(i => (i * i * 7919L) % 50) ++ Seq(0L, 0L, 49L)
    val df = new scala.util.Random(7).shuffle(vals).toDF("len")
    val ps = Seq(0.01, 0.25, 0.5, 0.75, 0.9, 0.99)
    val got = graft.ops.Scans.exactPercentiles(df, "len", ps)
      .collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap
    val sorted = vals.sorted
    val n = sorted.size
    val want = ps.map(p =>
      p -> sorted((math.max(1L, math.ceil(p * n).toLong) - 1).toInt)).toMap
    assert(got == want, got)
  }

  test("groupedExactPercentiles equals the per-group naive pick") {
    import spark.implicits._
    val rows = (1 to 600).map(i => (s"g${i % 5}", (i * i * 31L) % 40))
    val df = new scala.util.Random(3).shuffle(rows).toDF("src", "len")
      .repartition(11)
    val ps = Seq(0.25, 0.5, 0.9)
    val got = graft.ops.Scans
      .groupedExactPercentiles(df, "src", "len", ps)
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getLong(2))
      .toMap
    val want = rows.groupBy(_._1).flatMap { case (g, xs) =>
      val sorted = xs.map(_._2).sorted
      ps.map(p => (g, p) ->
        sorted((math.max(1L, math.ceil(p * sorted.size).toLong) - 1).toInt))
    }
    assert(got == want, got)
  }

  test("exactPercentiles handles n smaller than the partition count") {
    import spark.implicits._
    val df = Seq(5L, 1L, 9L).toDF("len")
    val got = graft.ops.Scans.exactPercentiles(df, "len", Seq(0.5, 1.0))
      .collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap
    assert(got == Map(0.5 -> 5L, 1.0 -> 9L), got)
  }

  test("histogramQuantiles: bounded-bin answer brackets the exact percentile") {
    import spark.implicits._
    // group g: values 0..99; group h: values 0..9 (bin width 10)
    val df = ((0 until 100).map(v => ("g", v.toLong)) ++
      (0 until 10).map(v => ("h", v.toLong))).toDF("grp", "v")
      .repartition(7)
    val got = graft.ops.Scans
      .histogramQuantiles(df, "grp", "v", binWidth = 10L, ps = Seq(0.5, 0.91))
      .collect()
      .map(r => (r.getString(0), r.getDouble(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // g: target ceil(.5·100)=50 → cum reaches 50 at bin 4 [40,49];
    //    target ceil(.91·100)=91 → bin 9 [90,99]
    // h: ceil(.5·10)=5 → bin 0; ceil(.91·10)=10 → bin 0 (all in bin 0)
    assert(got == Map(
      ("g", 0.5) -> ((4L, 40L, 49L)), ("g", 0.91) -> ((9L, 90L, 99L)),
      ("h", 0.5) -> ((0L, 0L, 9L)), ("h", 0.91) -> ((0L, 0L, 9L))), got)
    // the exact per-group percentile always falls inside the reported bin
    val exact = graft.ops.Scans.groupedExactPercentiles(
        df, "grp", "v", Seq(0.5, 0.91)).collect()
      .map(r => (r.getString(0), r.getDouble(1)) -> r.getLong(2)).toMap
    exact.foreach { case (k, v) =>
      val (_, lo, hi) = got(k); assert(v >= lo && v <= hi, s"$k: $v ∉ [$lo,$hi]")
    }
  }
}

/** Edit-distance-1 blocking join + deterministic OCR variants. */
class FuzzyJoinSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark = SparkTest.spark
  import spark.implicits._

  test("nearTokenPairs finds same-first-char dist-1 pairs across the length band") {
    val toks = Seq("hello", "hellp", "jello", "help", "world")
      .toDF("word").repartition(3)
    val got = graft.ops.FuzzyJoin.nearTokenPairs(toks).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    // hello↔hellp (substitution, same length); hellp↔help (insertion,
    // len band); jello↔hello is dist 1 but BLOCKED by first char —
    // the documented recall trade of prefix blocking
    assert(got == Set(("hello", "hellp"), ("hellp", "help")), got)
  }

  test("ocrVariants is deterministic and single-edit") {
    val words = Seq("alpha", "bravo", "charlie", "delta", "echo", "foxtrot",
      "golf", "hotel", "india", "juliet").toDF("word")
    val v1 = graft.ops.FuzzyJoin.ocrVariants(words, selMod = 1)
      .collect().map(_.getString(0)).sorted
    val v2 = graft.ops.FuzzyJoin.ocrVariants(words, selMod = 1)
      .collect().map(_.getString(0)).sorted
    assert(v1.sameElements(v2) && v1.length == 10)
    // substitution keeps length; every variant is ≤1 char off SOME source
    val originals = Seq("alpha", "bravo", "charlie", "delta", "echo",
      "foxtrot", "golf", "hotel", "india", "juliet")
    v1.foreach { v =>
      assert(originals.exists(o => o.length == v.length &&
        o.zip(v).count { case (a, b) => a != b } <= 1), s"orphan variant $v")
    }
  }
}

/** Vocabulary construction + OOV coverage. */
class VocabOpsSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark = SparkTest.spark
  import spark.implicits._

  test("buildVocab ranks by freq desc then word asc; oovRate counts the tail") {
    val d = Seq((1L, "b b a a c", "s1"), (2L, "a b zz", "s2"))
      .toDF("doc_id", "text", "source")
    val v = graft.ops.VocabOps.buildVocab(d, k = 2).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(v.toSeq == Seq((1L, "a", 3L), (2L, "b", 3L)))
    val o = graft.ops.VocabOps.oovRate(d, k = 2).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(o == Map("s1" -> ((5L, 1L)), "s2" -> ((3L, 1L))))
  }

  test("invertedIndex: tf and 1-based first position per (word, doc)") {
    val d = Seq((1L, "a b a a", "s"), (2L, "b c", "s"))
      .toDF("doc_id", "text", "source")
    val got = graft.ops.VocabOps.invertedIndex(d).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3))))
      .toMap
    assert(got == Map(
      ("a", 1L) -> ((3L, 1L)), ("b", 1L) -> ((1L, 2L)),
      ("b", 2L) -> ((1L, 1L)), ("c", 2L) -> ((1L, 2L))), got)
  }

  test("bpeMergePairs counts frequency-weighted adjacent char pairs") {
    // words: aba(×2) ab(×1) → pairs: ab: 2·2(from aba)+1 = 5? no —
    // aba contributes ab,ba per occurrence: ab 2+1=3, ba 2
    val d = Seq((1L, "aba ab", "s"), (2L, "aba", "s"))
      .toDF("doc_id", "text", "source")
    val got = graft.ops.VocabOps.bpeMergePairs(d, k = 5).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(got.toSeq == Seq((1L, "ab", 3L), (2L, "ba", 2L)), got.toSeq)
  }
}

/** Deterministic split assignment: stability + proportions. */
class SplitAssignSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark = SparkTest.spark
  import spark.implicits._

  test("assignments are stable under corpus growth and ≈ the requested ppm") {
    val small = (0 until 2000).map(_.toLong).toDF("id")
    val grown = (0 until 6000).map(_.toLong).toDF("id")
    def asMap(df: org.apache.spark.sql.DataFrame) =
      graft.ops.Filters.splitAssign(df, "id").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    val a = asMap(small)
    val b = asMap(grown)
    // growing the corpus never reassigns an existing row
    assert(a.forall { case (id, s) => b(id) == s })
    // proportions within 3 points of 80/10/10 at n=6000
    val frac = b.values.groupBy(identity).view.mapValues(_.size / 6000.0).toMap
    assert(math.abs(frac("train") - 0.8) < 0.03, frac)
    assert(math.abs(frac("valid") - 0.1) < 0.03, frac)
    assert(math.abs(frac("test") - 0.1) < 0.03, frac)
  }
}

/** Bucketed range (interval) join: boundary + cross-bucket cases. */
class RangeJoinSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark = SparkTest.spark
  import spark.implicits._

  test("windowJoin matches the naive BETWEEN join incl. bucket boundaries") {
    def t(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    // window 100s; purchases at 1000 (bucket 10) and 250; clicks placed
    // at: exact lower edge (900), inside same bucket (1990 → no), inside
    // PREVIOUS bucket (950), just outside (899), equal ts (1000), other key
    val left = Seq((1L, 10L, t(1000)), (1L, 11L, t(250)), (2L, 20L, t(1000)))
      .toDF("k", "lid", "lts")
    val right = Seq((1L, 100L, t(900)), (1L, 101L, t(950)),
      (1L, 102L, t(899)), (1L, 103L, t(1000)), (1L, 104L, t(240)),
      (3L, 105L, t(1000)))
      .toDF("k", "rid", "rts")
    val got = graft.ops.RangeJoin
      .windowJoin(left, right, "k", "lid", "rid", "lts", "rts", 100L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    val expected = Set(
      (1L, 10L, 100L, 100000000L), // exact lower edge, previous bucket
      (1L, 10L, 101L, 50000000L),  // previous bucket
      (1L, 10L, 103L, 0L),         // equal ts
      (1L, 11L, 104L, 10000000L))  // second purchase
    assert(got == expected, got)
  }
}

/** CDC snapshot diff + generic skew-salted join. */
class DeltaOpsSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark = SparkTest.spark
  import spark.implicits._
  import org.apache.spark.sql.functions._

  test("snapshot diff classifies added/removed/changed and drops unchanged") {
    val a = Seq(("k1", "x"), ("k2", "y"), ("k3", "z")).toDF("key", "v")
    val b = Seq(("k2", "y"), ("k3", "z2"), ("k4", "w")).toDF("key", "v")
    val got = graft.ops.SnapshotDiff.diff(a, b, "key", "v").collect()
      .map(r => r.getString(0) ->
        ((r.getString(1), Option(r.getString(2)), Option(r.getString(3)))))
      .toMap
    assert(got == Map(
      "k1" -> (("removed", Some("x"), None)),
      "k3" -> (("changed", Some("z"), Some("z2"))),
      "k4" -> (("added", None, Some("w")))), got)
  }

  test("salted equi-join equals the plain join on a skewed fact") {
    // one hot key (500 rows) + a uniform tail, across many partitions
    val fact = ((1 to 500).map(i => ("hot", i.toLong)) ++
      (1 to 200).map(i => (s"u${i % 40}", (1000 + i).toLong)))
      .toDF("uid", "event_id").repartition(16)
    val dim = fact.select("uid").distinct()
      .withColumn("attr", expr("substring(md5(uid), 1, 4)"))
    val salted = graft.ops.SaltedJoin
      .saltedEquiJoin(fact, dim, "uid", heavyThreshold = 100L, salts = 4)
    val plain = fact.join(dim, "uid")
    assert(salted.count() == plain.count())
    assert(salted.select("uid", "event_id", "attr").collect().toSet ==
      plain.select("uid", "event_id", "attr").collect().toSet)
    // the physical join key really carries the salt (skew is rerouted)
    val plan = salted.queryExecution.executedPlan.toString
    assert(plan.contains("_salt"), plan.take(800))
    // only the hot key's dim rows are replicated
    assert(dim.count() == 41)
  }

  test("salted join with no heavy keys degenerates to the plain join") {
    val fact = (1 to 50).map(i => (s"u$i", i.toLong)).toDF("uid", "event_id")
    val dim = fact.select("uid").distinct().withColumn("attr", lit("a"))
    val salted = graft.ops.SaltedJoin
      .saltedEquiJoin(fact, dim, "uid", heavyThreshold = 100L, salts = 4)
    assert(salted.count() == 50)
  }
}

/** Prefix-filtered exact set-similarity join: lossless vs naive. */
class SetSimJoinSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark = SparkTest.spark
  import spark.implicits._

  test("setSimJoinPrefix equals the naive all-pairs join (no false negatives)") {
    // 30 docs over a tiny vocab: 10 base texts, each with an exact dup
    // and a one-word mutation — plenty of pairs straddling t=0.6
    val vocab = Vector("rot", "blau", "gelb", "gruen", "weiss", "braun")
    def text(seed: Int, mut: Boolean) = {
      val ws = (0 until 8).map(i => vocab((seed * 7 + i * 3) % vocab.size))
      // mutate the LAST word: only the final 3-gram changes, so the
      // pair stays above t (5 of 6 shingles shared → J = 5/7 ≈ 0.71)
      val ws2 = if (mut) ws.updated(7, vocab((seed + 1) % vocab.size)) else ws
      ws2.mkString(" ")
    }
    val docs = (0 until 10).flatMap { s =>
      Seq((s * 3L, text(s, false)), (s * 3L + 1, text(s, false)),
        (s * 3L + 2, text(s, true)))
    }.toDF("doc_id", "text").repartition(5)
    val tPpm = 600000L
    val got = graft.ops.Dedup.setSimJoinPrefix(docs, tPpm).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // driver-side naive all-pairs over the same shingle sets
    def shingles(t: String): Set[String] = {
      val w = t.split(" ")
      (0 to w.length - 3).map(i => w.slice(i, i + 3).mkString(" ")).toSet
    }
    val sets = docs.collect().map(r => r.getLong(0) -> shingles(r.getString(1)))
    val naive = (for {
      (da, sa) <- sets; (db, sb) <- sets if da < db
      i = (sa & sb).size.toLong
      u = sa.size + sb.size - i
      if 1000000L * i >= tPpm * u
    } yield (da, db) -> (1000000L * i / u)).toMap
    assert(got == naive && naive.nonEmpty, s"got=${got.size} naive=${naive.size}")
    // exact dups score 10^6; mutations land strictly below
    assert(got.values.exists(_ == 1000000L))
    assert(got.values.exists(v => v < 1000000L && v >= tPpm))
  }

  test("setSimJoinDedupFirst emits the exact pair set of the raw prefix join") {
    import org.apache.spark.sql.functions._
    // reuse the dup-family corpus above + a THIRD exact copy of some
    // bases (families of size 3) + shingle-less shorties (exact dups
    // under 3 words must produce NO pair — the naive join sees no gram)
    val vocab = Vector("rot", "blau", "gelb", "gruen", "weiss", "braun")
    def text(seed: Int, mut: Boolean) = {
      val ws = (0 until 8).map(i => vocab((seed * 7 + i * 3) % vocab.size))
      val ws2 = if (mut) ws.updated(7, vocab((seed + 1) % vocab.size)) else ws
      ws2.mkString(" ")
    }
    val docs = ((0 until 10).flatMap { s =>
      Seq((s * 4L, text(s, false)), (s * 4L + 1, text(s, false)),
        (s * 4L + 2, text(s, true))) ++
        (if (s % 2 == 0) Seq((s * 4L + 3, text(s, false))) else Nil)
    } ++ Seq((97L, "zu kurz"), (98L, "zu kurz"), (99L, "x")))
      .toDF("doc_id", "text").repartition(5)
    for (tPpm <- Seq(600000L, 1000000L)) {
      def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      val raw = pairs(graft.ops.Dedup.setSimJoinPrefix(docs, tPpm))
      val folded = pairs(graft.ops.Dedup.setSimJoinDedupFirst(docs, tPpm))
      assert(folded == raw && raw.nonEmpty, s"tPpm=$tPpm: " +
        s"missing=${(raw.keySet -- folded.keySet).take(5)} " +
        s"extra=${(folded.keySet -- raw.keySet).take(5)}")
      // the shingle-less exact dups never pair
      assert(!folded.keySet.exists { case (a, b) => a >= 97L || b >= 97L })
    }
    // degenerate threshold above 10^6: no pair can qualify
    assert(graft.ops.Dedup.setSimJoinDedupFirst(docs, 1000001L).count() == 0)
  }

  test("semanticDedup: within-cell first-wins pruning, totality, repartition-invariant") {
    import org.apache.spark.sql.functions._
    def vec(parts: (Int, Double)*): Array[Float] = {
      val a = Array.fill(64)(0.0f)
      parts.foreach { case (i, x) => a(i) = x.toFloat }
      a
    }
    // ids 0-3 seed 4 well-separated cells (+x, -x, +y, -y); 4/5/7 are
    // near/exact copies (cos ≥ 0.95 with a smaller-id cell-mate → dup),
    // 6 shares a cell with 0 at cos 0.8 (kept)
    val rows = Seq(
      0L -> vec(0 -> 1.0), 1L -> vec(0 -> -1.0),
      2L -> vec(1 -> 1.0), 3L -> vec(1 -> -1.0),
      4L -> vec(0 -> 0.99, 1 -> 0.01), 5L -> vec(0 -> -1.0),
      6L -> vec(0 -> 0.8, 1 -> 0.6), 7L -> vec(1 -> -0.98, 2 -> 0.02))
    val emb = rows.toDF("vec_id", "embedding")
    def result(df: org.apache.spark.sql.DataFrame) =
      Dedup.semanticDedup(df).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val r = result(emb)
    assert(r.size == 8) // totality: every vector gets a row
    assert(r.filter(_._2._2 == 1L).keySet == Set(4L, 5L, 7L),
      s"dups=${r.filter(_._2._2 == 1L).keySet}")
    // first-wins: the smaller-id partner of each dup is kept, same cell
    for ((dup, keeper) <- Seq(4L -> 0L, 5L -> 1L, 7L -> 3L)) {
      assert(r(keeper)._2 == 0L)
      assert(r(dup)._1 == r(keeper)._1, s"$dup not co-clustered with $keeper")
    }
    // partitioning must not change the result
    assert(result(emb.repartition(7)) == r)
    // at tPm = 1000 only an EXACT copy (cos = 1.0 on the quantized
    // grid) qualifies: id 5 stays flagged, the near-copies drop out
    assert(Dedup.semanticDedup(emb, tPm = 1000L)
      .where(col("is_dup") === 1L).count() == 1)
  }

  test("semanticDedup: a vec_id that occurs twice never pairs with itself") {
    import org.apache.spark.sql.functions.col
    def vec(parts: (Int, Double)*): Array[Float] = {
      val a = Array.fill(64)(0.0f)
      parts.foreach { case (i, x) => a(i) = x.toFloat }
      a
    }
    // ids 0-3 seed 4 cells; vec_id 2 is listed twice with the same
    // vector, so both rows land in one cell; 4 is a true copy of 0
    val rows = Seq(
      0L -> vec(0 -> 1.0), 1L -> vec(0 -> -1.0),
      2L -> vec(1 -> 1.0), 2L -> vec(1 -> 1.0), 3L -> vec(1 -> -1.0),
      4L -> vec(0 -> 1.0))
    val emb = rows.toDF("vec_id", "embedding")
    val flagged = Dedup.semanticDedup(emb).where(col("is_dup") === 1L)
      .select("vec_id").distinct().collect().map(_.getLong(0)).toSet
    assert(flagged == Set(4L), s"flagged=$flagged")
  }

  test("semanticClusters: transitive chain collapses to one keeper") {
    import org.apache.spark.sql.functions.col
    def vec(parts: (Int, Double)*): Array[Float] = {
      val a = Array.fill(64)(0.0f)
      parts.foreach { case (i, x) => a(i) = x.toFloat }
      a
    }
    // ids 0-3 seed 4 cells; 4→5→6 is a similarity CHAIN in cell 0's
    // region: cos(4,5) ≈ cos(5,6) ≈ cos 18° ≈ 0.95+, cos(4,6) ≈
    // cos 36° ≈ 0.81 < 0.95 — NOT directly similar
    val rows = Seq(
      0L -> vec(0 -> 1.0), 1L -> vec(0 -> -1.0),
      2L -> vec(1 -> 1.0), 3L -> vec(1 -> -1.0),
      4L -> vec(0 -> 1.0),
      5L -> vec(0 -> 0.951, 1 -> 0.309),
      6L -> vec(0 -> 0.809, 1 -> 0.588))
    val emb = rows.toDF("vec_id", "embedding")
    val keepers = Dedup.semanticClusters(emb, tPm = 940L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(keepers.size == 7)
    // seed 0 ~ 4 (exact direction) ~ 5 ~ 6: one component, keeper 0;
    // isolated vectors keep themselves
    assert(keepers(4L) == 0L && keepers(5L) == 0L && keepers(6L) == 0L,
      s"got $keepers")
    assert(Seq(1L, 2L, 3L).forall(i => keepers(i) == i))
    // first-wins q108 semantics on the same input flag 4/5/6 as dups
    // but via PAIRS: 6 is flagged because of 5, not 0 — the CC variant
    // is the transitive closure of exactly those pairs
    val dups = Dedup.semanticDedup(emb, tPm = 940L).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(dups.filter(_._2 == 1L).keySet == Set(4L, 5L, 6L))
    // partitioning must not change the components
    assert(Dedup.semanticClusters(emb.repartition(5), tPm = 940L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap == keepers)
  }
}

/** MinHash family on a STRING-keyed corpus (the KG doc table shape) —
  * guards the id-type round-trip (a hard long cast would null these). */
class DedupIdTypeSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark = SparkTest.spark
  import org.apache.spark.sql.functions._

  test("minhash signatures/pairs/clusters keep string doc ids intact") {
    import spark.implicits._
    val text = "ein zwei drei vier fünf sechs sieben acht neun zehn"
    val d = Seq(
      ("doc_aaaaaaaaaa", text), ("doc_bbbbbbbbbb", text),
      ("doc_cccccccccc", "ganz anderer text ohne jede ähnlichkeit hier drin überhaupt"))
      .toDF("doc_id", "text")
    val sig = graft.ops.Dedup.minhashSignatures(d)
    assert(sig.schema("doc_id").dataType.typeName == "string")
    assert(sig.where(col("doc_id").isNull).count() == 0 && sig.count() == 24)
    val pairs = graft.ops.Dedup.minhashPairs(d).collect()
    assert(pairs.map(r => (r.getString(0), r.getString(1))).toSet ==
      Set(("doc_aaaaaaaaaa", "doc_bbbbbbbbbb")))
    val clusters = graft.ops.Dedup.duplicateClusters(spark, d)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(clusters == Set(
      ("doc_aaaaaaaaaa", "doc_aaaaaaaaaa"),
      ("doc_bbbbbbbbbb", "doc_aaaaaaaaaa")))
  }
}

/** Round-4 additions: integer BM25, grouped CMS, mergeable KMV agg. */
class Round4OpsSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark = SparkTest.spark
  import org.apache.spark.sql.functions._

  private def corpus = {
    import spark.implicits._
    (0 until 40).map { i =>
      val rep = "wort" + (i % 3)
      (i.toLong, s"der $rep text nummer $i hat $rep inhalt", s"src${i % 2}")
    }.toDF("doc_id", "text", "source")
  }

  test("bm25: scores are partitioning-invariant and rank tf-heavy docs higher") {
    val a = graft.ops.VocabOps.bm25(corpus.repartition(2), nTerms = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val b = graft.ops.VocabOps.bm25(corpus.repartition(7), nTerms = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(a == b && a.nonEmpty)
    // every score is non-negative and some doc matched > 1 query term
    assert(a.forall(_._2 >= 0) && a.exists(_._3 > 1))
  }

  test("bm25: fixed-point log2 matches exact values at powers of two") {
    // ilog2*65536 + mantissa interpolation is exact when ratio = 2^n —
    // checked through the public operator on a crafted corpus is
    // overkill; assert the arithmetic identity the SQL encodes instead
    def log2fp16(x: Long): Long = {
      val ilog = 63 - java.lang.Long.numberOfLeadingZeros(x)
      ilog * 65536L + (x * 65536L) / (1L << ilog) - 65536L
    }
    assert(log2fp16(1) == 0)
    assert(log2fp16(2) == 65536)
    assert(log2fp16(1024) == 10 * 65536)
    // between powers: within 0.086 bits of true log2 — spot check 3
    val approx = log2fp16(3) / 65536.0
    assert(math.abs(approx - math.log(3) / math.log(2)) < 0.086)
  }

  test("grouped CMS: per-source estimates are one-sided and cover top words") {
    val got = graft.ops.Sketches.cmsWordCountsGrouped(corpus, topK = 3)
      .collect()
      .map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getLong(3))))
      .toMap
    assert(got.keys.map(_._1).toSet == Set("src0", "src1"))
    // one-sided error: estimate >= exact, per source
    assert(got.values.forall { case (exact, est) => est >= exact })
    // the planted hot word is a top word in both sources
    assert(got.keys.exists(_._2 == "der"))
  }

  test("KMV approx-distinct aggregate: exact below k, stable estimate above") {
    import spark.implicits._
    val small = (0 until 50).map(i => ("g", s"doc_$i")).toDF("g", "v")
    val exact = small.groupBy("g")
      .agg(graft.ops.Sketches.approxDistinctUdaf(64)(col("v")).as("d"))
      .head().getLong(1)
    assert(exact == 50L) // below k → exact
    val big = (0 until 10000).flatMap(i => Seq(("g", s"doc_$i"), ("g", s"doc_$i")))
      .toDF("g", "v")
    def est(parts: Int): Long = big.repartition(parts).groupBy("g")
      .agg(graft.ops.Sketches.approxDistinctUdaf(64)(col("v")).as("d"))
      .head().getLong(1)
    val e2 = est(2); val e8 = est(8)
    assert(e2 == e8, s"partitioning-dependent estimate: $e2 vs $e8")
    // KMV error ~ 1/sqrt(k) = 12.5%; allow 3 sigma
    assert(math.abs(e2 - 10000L) < 3750, s"estimate $e2 too far from 10000")
  }

  test("chunking: total coverage, right-aligned tail, overlap contract") {
    import spark.implicits._
    val docs = Seq(
      (1L, (1 to 200).map(i => s"t$i").mkString(" "), "s"),
      (2L, (1 to 64).map(i => s"t$i").mkString(" "), "s"),
      (3L, (1 to 10).map(i => s"t$i").mkString(" "), "s"),
      (4L, (1 to 65).map(i => s"t$i").mkString(" "), "s"))
      .toDF("doc_id", "text", "source")
    val rows = graft.ops.TextOps.chunkDocs(docs, 64, 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4), r.getString(5)))
    val byDoc = rows.groupBy(_._1)
    // short docs: one full-doc chunk
    assert(byDoc(3L).toSeq == Seq((3L, 0L, 1L, 10L, "t1", "t10")))
    assert(byDoc(2L).toSeq == Seq((2L, 0L, 1L, 64L, "t1", "t64")))
    // 65 tokens: two chunks, the tail right-aligned to the last token
    assert(byDoc(4L).map(_._6).toSet == Set("t64", "t65"))
    // 200 tokens: every chunk is exactly 64 tokens, last ends at t200,
    // coverage is gapless (next start ≤ prev end + 1)
    val d1 = byDoc(1L).sortBy(_._2)
    assert(d1.forall(_._4 == 64L) && d1.last._6 == "t200" && d1.head._3 == 1L)
    d1.sliding(2).foreach { case Array(a, b) =>
      assert(b._3 <= a._3 + 64, s"gap between $a and $b")
    }
  }

  test("novelty: duplicate docs score 0, unique first doc scores 1000000") {
    import spark.implicits._
    val base = (1 to 20).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, base, "s"), (2L, base, "s"),
      (3L, (1 to 20).map(i => s"x$i").mkString(" "), "s"))
      .toDF("doc_id", "text", "source")
    val got = graft.ops.TextOps.ngramNovelty(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(got(1L) == 1000000L) // first holder of all its grams
    assert(got(2L) == 0L)       // exact duplicate of an earlier doc
    assert(got(3L) == 1000000L) // disjoint content
  }


  test("duplicate-span coverage: copies, partial quotes, self-repeats, short docs") {
    import spark.implicits._
    val base = (1 to 20).map(i => s"a$i").mkString(" ")
    val docs = Seq(
      (1L, base, "s"),                                   // original
      (2L, base, "s"),                                   // full copy
      // 10 unique tokens then an 8-token quote of doc 1
      (3L, (1 to 10).map(i => s"x$i").mkString(" ") + " " +
        (1 to 8).map(i => s"a$i").mkString(" "), "s"),
      (4L, "too short", "s"),                            // < n tokens
      // self-repetition: the same 8-gram twice WITHIN one doc
      (5L, ((1 to 8) ++ (1 to 8)).map(i => s"r$i").mkString(" "), "s"))
      .toDF("doc_id", "text", "source")
    val got = graft.ops.Dedup.duplicateSpanCoverage(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got(1L) == ((20L, 20L, 1000000L)))  // fully covered by the copy
    assert(got(2L) == ((20L, 20L, 1000000L)))
    // only the quoted 8 tokens of doc 3 are covered: 8/18 → 444444 ppm
    assert(got(3L) == ((18L, 8L, 444444L)))
    assert(got(4L) == ((2L, 0L, 0L)))          // short doc: explicit zeros
    assert(got(5L) == ((16L, 16L, 1000000L)))  // self-repeat covers all
  }

  test("PII redaction: planted contacts counted and masked") {
    import spark.implicits._
    val docs = (0L until 50L).map(i => (i, s"text nummer $i", "s"))
      .toDF("doc_id", "text", "source")
    val got = graft.ops.Filters.piiRedact(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // the md5 draw plants on ~30% of docs; every planted doc has exactly
    // one email and one phone, unplanted docs have zero of each
    assert(got.forall { case (_, e, ph) => e == ph && (e == 0L || e == 1L) })
    val planted = got.count(_._2 == 1L)
    assert(planted > 5 && planted < 30, s"planted=$planted")
    // redaction removes every match: re-running the counter on the
    // redacted text finds nothing (spot-check via the operator's rules)
    val masked = graft.ops.Filters.piiRedact(
      docs.withColumn("text",
        org.apache.spark.sql.functions.concat(
          org.apache.spark.sql.functions.lit("x "),
          org.apache.spark.sql.functions.col("text"))))
    assert(masked.count() == 50)
  }

}
