package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import TextOps.hexInt

/** Deduplication operators for training-data pipelines, each expressible
  * at 100 TB: exact (hash groupBy), MinHash+LSH (shingle → minhash →
  * band → bucket join), SimHash, n-gram Jaccard, embedding-cosine
  * near-dup. All hashes derive from md5 so the DuckDB oracles compute
  * bit-identical values.
  */
object Dedup {

  /** Exact dedup: content hash → keeper (min doc_id) + multiplicity. */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("content_hash"))
      .agg(min("doc_id").as("keep_doc_id"), count(lit(1)).as("dup_count"))

  /** Streaming twin of [[exact]]: watermark-bounded first-wins dedup on
    * the content hash (`dropDuplicatesWithinWatermark` keeps per-hash
    * state only inside the watermark window — bounded state at an
    * unbounded ingest rate, the property a 100 TB/day stream needs).
    * Input must carry an event-time `ts` column.
    */
  def streamingExact(docs: DataFrame, watermark: String = "1 hour"): DataFrame =
    docs.select(col("doc_id"), col("ts"), md5(col("text")).as("content_hash"))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("content_hash")

  /** Shared MinHash kernel: per-doc signature (all bands×rows mins over
    * word-3-gram shingles) in ONE pass over the document — zero row
    * fan-out, zero shuffle. A tight typed mapPartitions rather than
    * nested higher-order-function columns: Spark's transform/aggregate
    * lambdas are NOT whole-stage-codegen'd (interpreted per element), and
    * a seeded-md5 min has no codegen-able built-in — measured 2.3×
    * faster than the HOF formulation and ∞ less shuffle than the
    * explode+groupBy one.
    *
    * Hash family: Kirsch-Mitzenmacher double hashing (the same public
    * construction the Bloom filter uses) — hash_i(shingle) =
    * (h1 + i·h2) mod 2^60 with h1 = h60("a_"+shingle), h2 =
    * h60("b_"+shingle). TWO digest calls per shingle instead of one per
    * (shingle, function): at 8 functions this quarters the cost of the
    * dominant dedup kernel while keeping every value bit-replayable in
    * the DuckDB oracles (no overflow: h1 + 7·h2 ≤ 8·(2^60−1) <
    * Long.MaxValue, which also bounds nHashes at 8).
    */
  /** doc ids travel as strings through the kernel and are cast back to
    * the input's own id type at the end — lossless for numeric ids, a
    * no-op for string ids (a hard cast to long would silently null
    * string-keyed corpora like the KG doc table).
    */
  private def docSignatures(docs: DataFrame, nHashes: Int)
      : org.apache.spark.sql.Dataset[(String, Array[Long])] = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(nHashes <= 8,
      s"K-M minhash family supports at most 8 functions (got $nHashes): " +
        "h1 + 7*h2 is the largest sum that cannot overflow Long")
    // the signature kernel is the dominant CPU of the whole dedup family:
    // fan a narrow scan out before it ([[Par.fanOut]], identity at scale)
    Par.fanOut(docs.select(col("doc_id").cast("string"), col("text")))
      .as[(String, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        def h60(s: String): Long = TextOps.h60(md, s)
        val M = 1L << 60
        it.flatMap { case (id, text) =>
          val ws = text.split(" ", -1) // same semantics as split(text,' ')
          val n = ws.length - 2
          if (n <= 0) Iterator.empty
          else {
            val mins = Array.fill(nHashes)(Long.MaxValue)
            var i = 0
            while (i < n) {
              val sh = ws(i) + " " + ws(i + 1) + " " + ws(i + 2)
              val h1 = h60("a_" + sh)
              val h2 = h60("b_" + sh)
              // iterative (v + h2) % M == (h1 + h*h2) % M — the exact
              // expression the DuckDB oracle evaluates directly
              var v = h1
              var h = 0
              while (h < nHashes) {
                if (v < mins(h)) mins(h) = v
                v = (v + h2) % M
                h += 1
              }
              i += 1
            }
            Iterator.single((id, mins))
          }
        }
      }
  }

  /** MinHash signatures: one row per (doc, hash function); the signature
    * value is the min hash over word-3-gram shingles, seeded per function.
    * bands×rows functions; no exchange anywhere in this plan.
    */
  def minhashSignatures(docs: DataFrame, bands: Int = 4, rows: Int = 2): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val idType = docs.schema("doc_id").dataType
    docSignatures(docs, bands * rows)
      .flatMap { case (id, mins) => mins.indices.map(h => (id, h, mins(h))) }
      .toDF("doc_id", "h", "minhash")
      .withColumn("doc_id", col("doc_id").cast(idType))
      .select("doc_id", "h", "minhash")
  }

  /** LSH band keys: concat the row-mins of each band, hash → bucket.
    * Derived from the same one-pass signature kernel (still zero shuffle;
    * the only exchange in the whole MinHash-LSH path is the band-bucket
    * join in [[minhashPairs]]).
    */
  def minhashBands(docs: DataFrame, bands: Int = 4, rows: Int = 2): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val idType = docs.schema("doc_id").dataType
    docSignatures(docs, bands * rows)
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        def md5hex(s: String): String = {
          md.reset()
          md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            .map("%02x".format(_)).mkString
        }
        it.flatMap { case (id, mins) =>
          (0 until bands).map { b =>
            // same string the SQL twin builds: "h:min" sorted, joined by ,
            val parts = (0 until rows).map(r => s"${b * rows + r}:${mins(b * rows + r)}")
            (id, b.toLong, md5hex(parts.sorted.mkString(",")))
          }
        }
      }
      .toDF("doc_id", "band", "band_key")
      .withColumn("doc_id", col("doc_id").cast(idType))
      .select("doc_id", "band", "band_key")
  }

  /** Candidate near-dup pairs: docs sharing any LSH band bucket.
    *
    * The band table is materialized ONCE (`localCheckpoint`) before the
    * self-join: without it both join sides re-derive the signature kernel
    * — the corpus would be shingled and minhashed twice (the dominant
    * cost). On a cluster the equivalent is persist/checkpoint; the
    * self-join then reads the materialized blocks on both sides.
    */
  def minhashPairs(docs: DataFrame, bands: Int = 4, rows: Int = 2): DataFrame = {
    val b = minhashBands(docs, bands, rows).localCheckpoint(eager = false, graft.ops.Par.cutLevel)
    val l = b.select(col("band").as("b1"), col("band_key").as("k1"),
      col("doc_id").as("doc_a"))
    val r = b.select(col("band").as("b2"), col("band_key").as("k2"),
      col("doc_id").as("doc_b"))
    l.join(r, col("b1") === col("b2") && col("k1") === col("k2") &&
        col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
  }

  /** The scale-path dedup pipeline: exact Jaccard computed ONLY for LSH
    * candidate pairs — O(candidates) instead of the O(n²)-per-source
    * self-join of [[ngramJaccardPairs]]. This is the composition a 100 TB
    * corpus requires: shingle → minhash → band-bucket join → verify.
    *
    * The verify step carries each doc's DISTINCT shingle set as ONE array
    * row (no shingle explode, no (doc, shingle) shuffle): two equi-joins
    * attach the sets to the candidate pairs and `array_intersect` counts
    * the overlap per pair — shuffle volume is O(candidates · set size),
    * not O(corpus shingles).
    */
  def lshJaccardPairs(docs: DataFrame, bands: Int = 4, rows: Int = 2,
                      minJaccard: Double = 0.0): DataFrame = {
    // candidate pairs materialized once (three consumers below); the
    // shingle-set table is computed ONLY for docs that appear in some
    // candidate pair — a semi join prunes the corpus scan BEFORE the
    // expensive shingling (previously the full-corpus set table was
    // derived twice, once per join side). candidates ≪ corpus at scale.
    val cand = minhashPairs(docs, bands, rows).localCheckpoint(eager = false, graft.ops.Par.cutLevel)
    val candDocs = cand.select(col("doc_a").as("doc_id"))
      .union(cand.select(col("doc_b").as("doc_id"))).distinct()
    // the empty-set filter sits ABOVE the checkpoint: as a plain where()
    // Catalyst pushes it through the fan-out repartition and the
    // substituted `size(array_distinct(shingles3(text))) > 0` drags the
    // whole shingle kernel back into the single-task scan stage
    // (measured: 2×1.5 s); the checkpoint is a pushdown barrier, and
    // filtering the materialized candidate-sized table is trivial
    val sets = Par.fanOut(docs.select(col("doc_id"), col("text")))
      .join(candDocs, Seq("doc_id"), "left_semi")
      .select(col("doc_id"),
        array_distinct(TextOps.shingles3(col("text"))).as("shs"))
      .localCheckpoint(eager = false, graft.ops.Par.cutLevel) // candidate-sized; read by both joins below
      .where(size(col("shs")) > 0)
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("shs").as("sh_a")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("shs").as("sh_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double").as("inter"),
        size(col("sh_a")).as("sz_a"), size(col("sh_b")).as("sz_b"))
      .select(col("doc_a"), col("doc_b"),
        round(col("inter") / (col("sz_a") + col("sz_b") - col("inter")), 6)
          .as("jaccard"))
      .where(col("jaccard") >= minJaccard)
  }

  /** Duplicate-cluster collapse — the operator a real corpus dedup ends
    * with: LSH candidate pairs → connected components → one (doc_id,
    * keeper) row per clustered doc, keeper = min doc_id of the cluster.
    * Reuses the canonicalization CC engine (alternating large/small-star,
    * O(log n) rounds, one shuffle per phase). Doc ids are zero-padded so
    * the engine's string-min representative is the numeric min.
    */
  def duplicateClusters(spark: org.apache.spark.sql.SparkSession,
                        docs: DataFrame, bands: Int = 4, rows: Int = 2): DataFrame = {
    val idType = docs.schema("doc_id").dataType
    val numeric = idType.isInstanceOf[org.apache.spark.sql.types.NumericType]
    // numeric ids: zero-pad so the CC engine's string-min representative
    // is the numeric min (20 digits covers any long). NON-NEGATIVE ids
    // only: a negative id pads as "0…0-5", whose string order INVERTS
    // the numeric order ("-3" < "-5" lexicographically) — the keeper is
    // still a deterministic cluster representative then, just not the
    // numeric min. String ids pass through; keeper = lexicographic min.
    def enc(c: org.apache.spark.sql.Column) =
      if (numeric) lpad(c.cast("string"), 20, "0") else c.cast("string")
    val edges = minhashPairs(docs, bands, rows)
      .select(enc(col("doc_a")).as("src"), enc(col("doc_b")).as("dst"))
    graft.kg.ConnectedComponents.run(spark, edges)
      .select(col("node").cast(idType).as("doc_id"),
        col("component").cast(idType).as("keeper"))
  }

  /** SimHash (nBits-wide) over word occurrences: per-bit majority vote of
    * md5-derived word hashes. Each word is hashed ONCE into an array
    * column; the per-bit votes and the final bit assembly are nested
    * `aggregate` folds over that array — zero row fan-out, zero shuffle
    * (the previous formulation exploded every word ×nBits and aggregated
    * twice).
    */
  def simhash(docs: DataFrame, nBits: Int = 16): DataFrame =
    Par.fanOut(docs.select(col("doc_id"), col("text")))
      .select(col("doc_id"),
        transform(split(col("text"), " "), w => hexInt(w)).as("hs"))
      .select(col("doc_id"), expr(
        s"""aggregate(sequence(0, ${nBits - 1}), 0L, (acc, j) -> acc +
           |  if(aggregate(hs, 0L,
           |       (a, h) -> a + if((shiftright(h, j) & 1) = 1, 1L, -1L)) > 0,
           |     shiftleft(1L, j), 0L))""".stripMargin).as("simhash"))

  /** SimHash near-duplicate pairs — the pairing step that completes the
    * SimHash path (mirror of minhash → bands → pairs): pigeonhole
    * banding on a wide simhash (`bands` bands of nBits/bands bits each:
    * any two signatures within Hamming distance < bands MUST share a
    * band — candidates are found by equi-join, never all-pairs), then
    * exact Hamming verify via bit_count(xor) ≤ maxHamming. The signature
    * table is materialized once; the only exchange is the band join.
    */
  def simhashPairs(docs: DataFrame, nBits: Int = 60, bands: Int = 6,
                   maxHamming: Int = 3): DataFrame = {
    require(maxHamming < bands, "pigeonhole needs maxHamming < bands")
    val width = nBits / bands
    val sig = simhash(docs, nBits).localCheckpoint(eager = false, graft.ops.Par.cutLevel)
    val banded = sig
      .withColumn("band", explode(sequence(lit(0), lit(bands - 1))))
      .withColumn("band_key",
        expr(s"shiftright(simhash, cast(band * $width as int)) & ${(1L << width) - 1}"))
    val l = banded.select(col("band"), col("band_key"),
      col("doc_id").as("doc_a"), col("simhash").as("sig_a"))
    val r = banded.select(col("band"), col("band_key"),
      col("doc_id").as("doc_b"), col("simhash").as("sig_b"))
    l.join(r, Seq("band", "band_key"))
      .where(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        expr("bit_count(sig_a ^ sig_b)").cast("long").as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }

  /** n-gram Jaccard similarity of doc pairs within the same source
    * (bounded candidate set): |A∩B| / |A∪B| over DISTINCT word-3-grams.
    */
  def ngramJaccardPairs(docs: DataFrame, minJaccard: Double = 0.0): DataFrame = {
    val sh = docs.select(col("doc_id"), col("source"),
      explode(TextOps.shingles3(col("text"))).as("shingle")).distinct()
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val inter = sh.as("a").join(sh.as("b"),
        col("a.source") === col("b.source") &&
        col("a.shingle") === col("b.shingle") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("sz", "sz_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("sz", "sz_b"), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        round(col("inter") / (col("sz_a") + col("sz_b") - col("inter")), 6)
          .as("jaccard"))
      .where(col("jaccard") >= minJaccard)
  }

  /** EXACT Jaccard-threshold set-similarity join via prefix filtering
    * (Chaudhuri et al. ICDE'06 / Xiao et al. PPJoin, public algorithms):
    * all doc pairs whose word-3-gram shingle sets have Jaccard ≥
    * tPpm/10^6, with NO false negatives — unlike the MinHash/LSH family
    * ([[minhashPairs]]), which trades recall for cost, this is the
    * lossless scale path for a hard threshold.
    *
    * Prefix principle: order every set by one GLOBAL total order
    * (rarest shingle first — smallest candidate lists), keep each set's
    * first |s| − ⌈t·|s|⌉ + 1 elements; two sets with Jaccard ≥ t MUST
    * share a prefix element, so the equi-join on prefix shingles loses
    * nothing and touches only the rare tokens. Verify computes exact
    * intersection sizes over the (checkpointed, reused) sorted arrays;
    * the threshold test is the integer cross-multiplication
    * 10^6·|∩| ≥ tPpm·|∪| — no FP, bit-identical on any engine.
    *
    * Scale shape: one shingle-frequency aggregation, one shuffle on the
    * prefix shingle (skew-bounded — prefixes hold the RARE end of the
    * order), verification O(candidates · set size). No all-pairs stage
    * anywhere.
    */
  def setSimJoinPrefix(docs: DataFrame, tPpm: Long = 700000L): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val sh = Par.fanOut(docs.select(col("doc_id"), col("text")))
      .select(col("doc_id"),
        explode(array_distinct(TextOps.shingles3(col("text")))).as("g"))
      .localCheckpoint(eager = false, graft.ops.Par.cutLevel) // reused: frequency pass + per-doc sets
    // dictionary-encode shingles as INT IDS in rarest-first order
    // ((freq asc, shingle asc) — the PPJoin global order): the order key
    // and the verify token become the same long, so the candidate join
    // and the intersection both run on integers, not 30-char strings.
    // r8: ids come from monotonically_increasing_id over the
    // range-sorted table — (partition << 33 | local index) is
    // order-preserving across range partitions and injective, which is
    // ALL the algorithm needs (the prefix principle requires one global
    // total order, not dense ranks); the previous exact dense ranks
    // cost a localCheckpoint + an O(partitions) counts collect + a
    // second RDD pass (three extra job barriers). Ids may differ
    // between runs (range boundaries are sampled) — the PAIR OUTPUT is
    // invariant to any injective order-preserving assignment.
    val parts = math.max(2, spark.sparkContext.defaultParallelism)
    val ids = sh.groupBy("g").agg(count(lit(1)).as("f"))
      .repartitionByRange(parts, col("f"), col("g"))
      .sortWithinPartitions("f", "g")
      .select(col("g"), monotonically_increasing_id().as("gid"))
    // pinned doc_id partitioning for the per-doc set assembly (AQE-exempt
    // user repartition): the sets cache otherwise inherits the exchange's
    // AQE-coalesced ~2 partitions (2.6 MB), and BOTH its consumers — the
    // prefix posexplode feeding the candidate self-join, and the
    // candidate pair generation itself — then run on 2 tasks. collect_list
    // has no map-side reduction (every gid ships regardless), so the
    // complete aggregation over the pinned exchange moves the same bytes.
    val sets = sh.join(ids, "g")
      .repartition(parts, col("doc_id"))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("gid"))).as("arr"))
      .select(col("doc_id"), col("arr"), size(col("arr")).cast("long").as("s"))
      // prefix length |s| − ceil(t·|s|) + 1, all-integer ceil
      .withColumn("pfx",
        expr(s"s - ((${tPpm}L * s + 999999L) div 1000000L) + 1"))
      .localCheckpoint(eager = false, graft.ops.Par.cutLevel) // reused: prefix explode + both verify joins
    val prefixes = sets.select(col("doc_id"), col("s"),
        posexplode(expr("slice(arr, 1, cast(pfx as int))")).as(Seq("p0", "gid")))
      .select(col("doc_id"), col("s"), (col("p0") + 1).cast("long").as("p"),
        col("gid"))
    // two more LOSSLESS prunes from the PPJoin toolbox:
    //  - length filter: J ≥ t ⟹ |∩| ≥ t·max(s) and |∩| ≤ min(s)
    //  - positional filter: since arrays share ONE global order, the
    //    globally-first shared token sits at (min pa, min pb) in both,
    //    nothing shared precedes it, so |∩| ≤ 1 + min(sa−pa, sb−pb);
    //    required overlap α = ceil(t(sa+sb)/(1+t)) in exact integers.
    // Measured on the driver corpus: candidates 202k → 104k → 33k for
    // 256 true pairs, cutting the verify stage 6×.
    val den = 1000000L + tPpm
    val cand = prefixes.as("a").join(prefixes.as("b"),
        col("a.gid") === col("b.gid") && col("a.doc_id") < col("b.doc_id") &&
        expr(s"${tPpm}L * greatest(a.s, b.s) <= 1000000L * least(a.s, b.s)"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(min(col("a.s")).as("vsa"), min(col("b.s")).as("vsb"),
        min(col("a.p")).as("pa"), min(col("b.p")).as("pb"))
      .where(expr(
        s"1 + least(vsa - pa, vsb - pb) >= (${tPpm}L * (vsa + vsb) + ${den - 1}L) div ${den}L"))
      .select(col("doc_a"), col("doc_b"))
    cand
      // pinned spread of the verify stage (AQE-exempt user repartition,
      // the q108 lesson): the candidate aggregation's exchange carries
      // ~2 MB so AQE coalesces it to 2 partitions — but every surviving
      // candidate then pays an array_intersect over the two full sorted
      // shingle-id arrays (CPU ~O(|set|) per pair, measured 263 ms on
      // 2 tasks). The round-robin exchange is candidate-sized (tiny —
      // doc-id pairs only; both verify joins stay broadcast above it).
      .repartition(parts)
      .join(sets.select(col("doc_id").as("doc_a"),
        col("arr").as("arr_a"), col("s").as("s_a")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"),
        col("arr").as("arr_b"), col("s").as("s_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("arr_a"), col("arr_b"))).cast("long")
          .as("inter"),
        col("s_a"), col("s_b"))
      .where(expr(s"1000000L * inter >= ${tPpm}L * (s_a + s_b - inter)"))
      .select(col("doc_a"), col("doc_b"),
        expr("(1000000L * inter) div (s_a + s_b - inter)").as("jacc_ppm"))
  }

  /** [[setSimJoinPrefix]] with the exact-duplicate pre-pass FOLDED INTO
    * THE OPERATOR — the hot-family composition a replicated corpus
    * needs. `setSimJoinPrefix` is lossless but pays the intrinsic
    * ~|family|²/2 candidate pairs when the corpus carries exact-dup
    * families (every member shares every prefix token): measured 13× on
    * 16×-replicated families (BENCH/DEDUP_SF1.md) when exact dedup runs
    * first. This operator makes that pipeline discipline structural:
    *
    *  1. exact dedup ([[exact]]): one hash aggregation groups identical
    *     texts into families (keeper = min doc_id);
    *  2. the prefix join runs over the KEEPERS ONLY — the quadratic
    *     blowup never reaches it;
    *  3. the result is expanded back to members: identical texts have
    *     identical shingle sets, so a representative pair (ra, rb, j)
    *     implies (a, b, j) for every a ∈ fam(ra), b ∈ fam(rb), and every
    *     intra-family pair scores exactly 10^6 ppm (sets equal) — both
    *     expansions are equi-joins against the family map, an
    *     O(output) fan-out.
    *
    * The pair set is IDENTICAL to `setSimJoinPrefix` over the full
    * corpus (oracled value-for-value by q104 against the naive
    * all-pairs join on a replicated table; equivalence property in
    * OpsSpec). Intra-family pairs exist only for docs that shingle at
    * all (< 3 words ⇒ empty set ⇒ the naive join emits nothing), and
    * only when tPpm ≤ 10^6.
    *
    * Scale shape: adds ONE content-hash aggregation and two
    * output-sized equi-joins to the prefix join's plan — and removes
    * its only super-linear regime.
    */
  def setSimJoinDedupFirst(docs: DataFrame, tPpm: Long = 700000L): DataFrame = {
    // family map: doc → representative (+ does-it-shingle flag, constant
    // within a family); reused by the rep filter and both expansions.
    // r8: rep = min(doc_id) OVER (PARTITION BY content_hash) — one
    // hashed pass instead of the previous groupBy + join back, which
    // scanned the corpus (and paid the md5 + split kernels) twice to
    // re-attach the aggregate (guide §2.4: two operations keyed the
    // same way share one exchange).
    // pinned content_hash partitioning (AQE-exempt): the window's
    // exchange carries ~2 MB so AQE coalesced the per-family min pass
    // onto 2 tasks; hash(content_hash) satisfies the window's required
    // distribution, so no second exchange appears
    val mparts = math.max(2,
      docs.sparkSession.sparkContext.defaultParallelism)
    val members = docs
      .select(col("doc_id"), md5(col("text")).as("content_hash"),
        (size(split(col("text"), " ")) >= 3).as("has_sh"))
      .repartition(mparts, col("content_hash"))
      .withColumn("rep", min("doc_id").over(
        org.apache.spark.sql.expressions.Window.partitionBy("content_hash")))
      .select(col("doc_id"), col("rep"), col("has_sh"))
      .localCheckpoint(eager = false, graft.ops.Par.cutLevel)
    val reps = docs.join(
      members.where(col("doc_id") === col("rep")).select("doc_id"),
      Seq("doc_id"), "left_semi")
    val repPairs = setSimJoinPrefix(reps, tPpm)
    // cross-family expansion: every member pair inherits its reps' score
    // (families are disjoint, so no pair is emitted twice)
    val cross = repPairs
      .join(members.select(col("rep").as("doc_a"), col("doc_id").as("a")),
        "doc_a")
      .join(members.select(col("rep").as("doc_b"), col("doc_id").as("b")),
        "doc_b")
      .select(least(col("a"), col("b")).as("doc_a"),
        greatest(col("a"), col("b")).as("doc_b"), col("jacc_ppm"))
    if (tPpm > 1000000L) cross
    else {
      val m = members.where(col("has_sh"))
      val intra = m.as("x").join(m.as("y"),
          col("x.rep") === col("y.rep") && col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
          lit(1000000L).as("jacc_ppm"))
      cross.unionByName(intra)
    }
  }

  /** Embedding-cosine near-duplicates among a bounded candidate window
    * (same label — the pre-clustered analog of an LSH bucket). Cosine
    * runs through the native codegen'd kernel ([[Cosine6Expr]]).
    */
  def embeddingNearDup(emb: DataFrame, minCos: Double = 0.9): DataFrame = {
    val e = emb.select(col("vec_id"), col("label"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    val pairs = e.as("a").join(e.as("b"),
      col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
    pairs.select(
        col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        AnnKernels.cosine6Col(emb.sparkSession, col("a.v"), col("b.v"))
          .as("cosine"))
      .where(col("cosine") >= minCos)
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, "SemDeDup:
    * data-efficient learning at web-scale through semantic
    * deduplication" — public algorithm family): embeddings are
    * k-means-clustered ([[Kmeans.assignQuantized]], integer-exact) and
    * near-duplicate pruning compares pairs ONLY within a cluster — the
    * property that makes semantic dedup tractable at corpus scale: k
    * grows with N so cluster size stays bounded, per-cluster pairwise
    * work stays constant, and `cell` is the one shuffle key (never a
    * corpus² join — the same bounded-candidate-window discipline as
    * [[embeddingNearDup]], with the window LEARNED instead of given).
    * First-wins semantics: a vector is a duplicate iff some SMALLER
    * vec_id in its cluster clears cosine ≥ tPm/1000, so the keeper set
    * has exactly one representative per similar group (like
    * [[nearDupGate]]). Cross-cluster near-dups are missed by design —
    * SemDeDup's stated trade (centroids separate them only when they
    * are far apart in embedding space).
    *
    * All integer math so DuckDB replays bit-for-bit: vectors quantize
    * to round(x·scale) and cos ≥ t is evaluated square-free as
    * dot > 0 ∧ 10⁶·dot² ≥ tPm²·|a|²·|b|². Long-safe for 64-dim
    * unit-ball vectors at scale=100: |dot| ≤ 64·100² = 6.4e5, so
    * 10⁶·dot² ≤ 4.1e17 and tPm²·|a|²·|b|² ≤ 4.1e17 < 2⁶³. Zero-norm
    * vectors never match (dot > 0 is required).
    *
    * Returns one row per input vector: (vec_id, cell, is_dup) —
    * explicit zeros, the same totality contract as
    * [[duplicateSpanCoverage]].
    */
  /** Shared by [[semanticDedup]] and [[semanticClusters]]: (cells,
    * within-cell near-dup pairs). Per-VECTOR norm once (not per pair);
    * the per-PAIR dot runs through the codegen'd [[AnnKernels.dotLong]]
    * kernel — the HOF fold evaluates interpreted per boxed element and
    * dominates the within-cell O(pairs·d) work otherwise.
    */
  private def semanticPairs(emb: DataFrame, k: Int, updates: Int,
                            tPm: Long, scale: Int)
      : (DataFrame, DataFrame) = {
    require(scale <= 100 && tPm <= 1000L,
      s"scale=$scale/tPm=$tPm can overflow the Long-safe predicate bound")
    // ADVICE r7: the static guard assumed ~64-dim unit-ball vectors; the
    // REAL bound is d·scale² ≤ floor(sqrt(Long.Max/10⁶)) = 3,036,999
    // (|dot| ≤ d·scale² for unit-ball input, so both dot²·10⁶ and
    // tPm²·|a|²·|b|² stay under 2⁶³). Check it against the actual
    // vector length: 384/768/1024-dim embeddings at scale=100 would
    // otherwise overflow SILENTLY into wrong is_dup/keeper bits. One
    // single-row peek; empty input needs no guard.
    emb.select(size(col("embedding"))).take(1).foreach { r =>
      val d = r.getInt(0).toLong
      require(d * scale * scale <= 3036999L,
        s"dim=$d at scale=$scale overflows the Long-safe cosine " +
          "predicate (need d*scale^2 <= 3036999): lower scale or " +
          "evaluate via decimal")
    }
    val spark = emb.sparkSession
    val cells = Kmeans.assignQuantized(emb, k, updates, scale)
      .select(col("vec_id"), col("cell").cast("long").as("cell"))
    // pinned cell partitioning (explicit numPartitions — AQE leaves
    // user-numbered repartitions alone): the within-cell pair join's
    // exchanges carry only O(N·d) bytes, so byte-based AQE coalescing
    // collapsed them to ONE partition — while the join OUTPUT is
    // O(pairs·d) dot-product work, serialized onto one core (measured
    // 440 ms single-task). Hash-partitioning both sides by the join key
    // keeps the pair work spread over the cells.
    val parts = math.max(2, spark.sparkContext.defaultParallelism)
    val v = Kmeans.quantized(emb, scale).toDF("vec_id", "v")
      .join(cells, Seq("vec_id"))
      .withColumn("n2",
        aggregate(transform(col("v"), x => x * x),
          lit(0L), (acc, x) => acc + x))
      .repartition(parts, col("cell"))
    // pairs carry the (shared) cell so consumers can stay cell-local —
    // edges NEVER cross cells by construction (the grouping key).
    // r8 third pass: the within-cell pairing is a TYPED per-cell kernel,
    // not a self-join — the SQL join materialized every candidate pair
    // as a row carrying BOTH full quantized vectors (≈ pairs·2·d·8 bytes
    // of array copying, ~740 MB at bench scale) just to feed one dot
    // product. The kernel deserializes each member once per cell and
    // loops pairwise in primitive Longs (same integer predicate, same
    // overflow envelope as the guarded column form), emitting ONLY the
    // surviving (cell, min_id, max_id) rows. Cells stay bounded by the
    // SemDeDup k-scaling discipline, so the per-group walk is
    // O(|cell|²·d) in one task — exactly the parallelism the pinned
    // cell repartition gave the join, minus the pair materialization.
    import spark.implicits._
    val vt = v.select(col("cell").cast("long").as("_1"),
        col("vec_id").cast("long").as("_2"), col("v").as("_3"),
        col("n2").as("_4"))
      .as[(Long, Long, Array[Long], Long)]
    val tPm2 = tPm * tPm
    val pairs = vt.groupBy(col("_1")).as[Long, (Long, Long, Array[Long], Long)]
      .flatMapGroups { (cell, it) =>
        val ms = it.toArray
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
        var i = 0
        while (i < ms.length) {
          var j = i + 1
          while (j < ms.length) {
            // strict vec_id inequality: a repeated vec_id never self-pairs
            if (ms(i)._2 != ms(j)._2) {
              val (a, b) =
                if (ms(i)._2 < ms(j)._2) (ms(i), ms(j)) else (ms(j), ms(i))
              val va = a._3; val vb = b._3
              var d = 0L
              var t = 0
              while (t < va.length) { d += va(t) * vb(t); t += 1 }
              if (d > 0 && d * d * 1000000L >= tPm2 * a._4 * b._4)
                out += ((cell, a._2, b._2))
            }
            j += 1
          }
          i += 1
        }
        out.iterator
      }
      .toDF("cell", "vec_a", "vec_b")
    (cells, pairs)
  }

  def semanticDedup(emb: DataFrame, k: Int = 4, updates: Int = 2,
                    tPm: Long = 950L, scale: Int = 100): DataFrame = {
    val (cells, pairs) = semanticPairs(emb, k, updates, tPm, scale)
    val dups = pairs.select(col("vec_b").as("vec_id")).distinct()
    cells.join(dups.withColumn("is_dup", lit(1L)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(col("is_dup"), lit(0L)).as("is_dup"))
  }

  /** SemDeDup's cluster-keeper variant: the within-cell near-dup PAIRS
    * of [[semanticDedup]] become edges of an ε-graph and connected
    * components collapse each similar group to its min-id keeper —
    * TRANSITIVE (a~b, b~c ⇒ one keeper for all three even when a, c are
    * not directly similar), where first-wins keeps per-pair. Returns one
    * row per vector: (vec_id, keeper), keeper = itself when unpaired.
    *
    * Scale shape (r8): the ε-graph's edges are confined WITHIN k-means
    * cells by construction ([[semanticPairs]] joins on a.cell ===
    * b.cell), so no component can ever span two cells — a global
    * fixpoint CC (per-round shuffle barriers + localCheckpoints) is
    * structurally unnecessary. Components are found by a CELL-LOCAL
    * union-find inside one flatMapGroups: ONE shuffle on the cell key
    * (edge-sized, tiny next to the corpus), zero iterative stages; cell
    * populations are bounded by the SemDeDup k-scaling discipline, so
    * the per-group walk is O(cell·α). Keeper = min vec_id per component
    * — identical to the global-CC result (q111 hash unchanged).
    */
  def semanticClusters(emb: DataFrame, k: Int = 4, updates: Int = 2,
                       tPm: Long = 950L, scale: Int = 100): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val (cells, pairs) = semanticPairs(emb, k, updates, tPm, scale)
    val cc = pairs.select(col("cell"), col("vec_a"), col("vec_b"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (_, edges) =>
        val parent = new java.util.HashMap[Long, Long]()
        def find(x: Long): Long = {
          var r = x
          while (parent.get(r) != r) r = parent.get(r)
          var c = x
          while (parent.get(c) != r) { val n = parent.get(c); parent.put(c, r); c = n }
          r
        }
        edges.foreach { case (_, a, b) =>
          parent.putIfAbsent(a, a)
          parent.putIfAbsent(b, b)
          val ra = find(a); val rb = find(b)
          if (ra != rb) parent.put(ra, rb)
        }
        val minOf = new java.util.HashMap[Long, Long]()
        parent.keySet().forEach { n =>
          val r = find(n)
          // containsKey first: get() on a missing key is null and would
          // NPE on primitive unboxing
          if (!minOf.containsKey(r) || n < minOf.get(r)) minOf.put(r, n)
        }
        import scala.jdk.CollectionConverters._
        parent.keySet().iterator().asScala.map(n => (n, minOf.get(find(n))))
      }
      .toDF("vec_id", "keeper")
    cells.select("vec_id").join(cc, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("keeper"), col("vec_id")).as("keeper"))
  }

  /** Exact SUBSTRING-level duplication coverage (Lee, Ippolito et al.
    * 2022, "Deduplicating training data makes language models better" —
    * public algorithm family): a token position is DUPLICATED if some
    * n-token shingle covering it occurs more than once in the corpus
    * (any doc, any position — a doc repeating itself counts too).
    * Returns one row per doc: (doc_id, n_tokens, n_dup_tokens,
    * dup_ppm) — the span-level complement of [[exact]] (whole-doc) and
    * [[minhashSignatures]] (near-dup): exact full-document copies score
    * 1e6 ppm, partially-quoted boilerplate scores its quoted fraction.
    *
    * Shape: positioned shingles → ONE gram-keyed aggregation finds
    * duplicated grams (like q92's novelty, never a corpus² join), a
    * semi join marks their occurrences, and coverage is a bounded
    * n-wide position explode + doc-keyed distinct count. Every doc
    * gets a row (explicit zeros — same totality contract as
    * [[TextOps.ngramNovelty]]). At 100 TB key the gram tables by a
    * 60-bit content hash instead of the gram string to shrink the
    * shuffle (here grams stay literal so the replay is collision-free
    * exact).
    */
  def duplicateSpanCoverage(docs: DataFrame, n: Int = 8): DataFrame = {
    val grams = Par.fanOut(docs.select(col("doc_id"), col("text")))
      .select(col("doc_id").cast("long").as("doc_id"),
        posexplode(TextOps.shinglesN(col("text"), n)))
      .withColumnRenamed("pos", "p").withColumnRenamed("col", "gram")
      .localCheckpoint(eager = false, graft.ops.Par.cutLevel) // read by the dup aggregation AND the coverage side
    val dup = grams.groupBy("gram").agg(count(lit(1)).as("occ"))
      .where(col("occ") > 1).select("gram")
    val covered = grams.join(dup, Seq("gram"), "left_semi")
      .select(col("doc_id"),
        explode(sequence(col("p"), col("p") + (n - 1))).as("tok"))
      .distinct()
      .groupBy("doc_id").agg(count(lit(1)).as("n_dup_tokens"))
    docs.select(col("doc_id").cast("long").as("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_dup_tokens"), lit(0L)).as("n_dup_tokens"))
      .select(col("doc_id"), col("n_tokens"), col("n_dup_tokens"),
        when(col("n_tokens") > 0,
          expr("(1000000L * n_dup_tokens) div n_tokens"))
          .otherwise(lit(0L)).as("dup_ppm"))
  }

  /** First-wins near-dup GATE over LSH band keys: a doc is KEPT iff it
    * is the first (min doc_id — any deterministic total order works)
    * holder of EVERY one of its band keys, i.e. dropped as soon as ANY
    * band collides with an earlier doc. This is the candidate-level
    * gate a streaming ingest wants (no verify join, one aggregation +
    * one equi-join over the shuffle-free band kernel): false-positive
    * band collisions drop a non-duplicate at the documented LSH rate —
    * compose with [[lshJaccardPairs]] when exactness matters.
    * Total over the corpus: docs too short to shingle (< 3 words) have
    * zero bands and are KEPT, with an explicit (0, 0) row.
    * Output: (doc_id, n_bands, n_first, kept 1/0).
    */
  def nearDupGate(docs: DataFrame, bands: Int = 4, rows: Int = 2): DataFrame = {
    val b = minhashBands(docs, bands, rows).localCheckpoint(eager = false, graft.ops.Par.cutLevel)
    val first = b.groupBy("band", "band_key")
      .agg(min(col("doc_id")).as("first_doc"))
    val perDoc = b.join(first, Seq("band", "band_key"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bands"),
        sum(when(col("doc_id") === col("first_doc"), 1L).otherwise(0L))
          .as("n_first"))
    docs.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bands"), lit(0L)).as("n_bands"),
        coalesce(col("n_first"), lit(0L)).as("n_first"))
      .withColumn("kept",
        (col("n_bands") === col("n_first")).cast("long"))
  }

  private def nearDupPath(root: String) = s"$root/_neardup"

  /** Streaming twin of [[nearDupGate]] — the near-dup counterpart of
    * [[streamingExact]], run per micro-batch inside foreachBatch: a doc
    * is kept iff none of its band keys appeared in ANY earlier batch's
    * state NOR on a smaller doc_id within this batch; the batch's OWN
    * band keys (all docs — the same "seen" semantics as the batch gate)
    * are then appended as the immutable partition
    * `_neardup/batch=<id>/`, so replays overwrite their own partition
    * and reads prune to batches < id (exactly-once under retries, same
    * layout as the quality sidecar). State is (band, band_key) rows —
    * bands×docs, dictionary-shaped; at 10^12 docs put a bloom in front
    * and bucket the state join like the triple store.
    * Returns the KEPT subset of `docs`.
    */
  def nearDupGateBatch(spark: org.apache.spark.sql.SparkSession,
                       root: String, batchId: Long, docs: DataFrame,
                       bands: Int = 4, rows: Int = 2): DataFrame = {
    val b = minhashBands(docs, bands, rows).localCheckpoint()
    nearDupRecover(spark, root) // heal a compaction killed mid-swap
    val seenBefore: Option[DataFrame] =
      if (graft.store.Fs.exists(spark, nearDupPath(root)))
        Some(spark.read.parquet(nearDupPath(root))
          .where(col("batch") < batchId) // replay-safe: own partition excluded
          .select("band", "band_key"))
      else None
    val first = b.groupBy("band", "band_key")
      .agg(min(col("doc_id")).as("first_doc"))
    val inBatchDup = b.join(first, Seq("band", "band_key"))
      .where(col("doc_id") =!= col("first_doc")).select("doc_id")
    val dropped = seenBefore match {
      case Some(st) =>
        b.join(st, Seq("band", "band_key"), "left_semi").select("doc_id")
          .unionByName(inBatchDup).distinct()
      case None => inBatchDup.distinct()
    }
    // an all-short/empty batch has no bands: skip the write rather than
    // leave a schema-less _neardup dir (only _SUCCESS, no parquet) that
    // would fail schema inference on the NEXT batch's state read — the
    // same first-empty-batch hazard the quality sidecar's marker solves,
    // solved here by absence because empty state and no state are
    // semantically identical for a band-key semi join
    if (!b.isEmpty) graft.store.LineageStore.withDynamicOverwrite(spark) {
      b.select(col("band"), col("band_key")).distinct()
        .withColumn("batch", lit(batchId))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .partitionBy("batch")
        .parquet(nearDupPath(root))
    }
    docs.join(dropped, Seq("doc_id"), "left_anti")
  }

  /** Gate-state COMPACTION: without it, `_neardup/batch=<id>/`
    * partitions grow unboundedly with batch count and every state read
    * fans out over all of them. Merges the distinct band keys of every
    * batch `< beforeBatch` into the single reserved partition
    * `batch=-1`, then drops the merged per-batch partitions.
    *
    * Replay safety is preserved by construction:
    *  - gate reads prune to `batch < batchId`, and -1 sorts below every
    *    real id, so compacted state stays visible to every future batch;
    *  - a replayed batch overwrites only its OWN id partition, never -1;
    *  - `beforeBatch` must not exceed a batch id that may still be
    *    replayed (foreachBatch only ever retries the HEAD batch, so
    *    `maxCommittedId` — keeping the head uncompacted — is the safe
    *    operational choice, and what `Main compact` passes). Compacting
    *    a batch that later replays would let the replay see its own
    *    bands as prior state and drop every doc.
    *
    * Crash-safe via the [[graft.store.LineageStore.compactTriples]]
    * rename pattern, NOT an in-place overwrite of batch=-1: a
    * RE-compaction that rewrote -1 in place would, inside the
    * overwrite's commit window (old -1 files deleted, staged files not
    * yet moved), be the only copy of previously-compacted band keys —
    * a crash there silently weakens the gate. Instead the merged set is
    * written to a sibling staging dir, the old -1 is moved aside, the
    * staging renamed in, and only then are the merged per-batch
    * partitions deleted — at every instant a complete copy of every
    * band key exists on storage ([[nearDupRecover]] rolls the only
    * rename gap forward/back; gate reads invoke it at state-open).
    * Returns (partitions before, partitions after).
    */
  def nearDupCompact(spark: org.apache.spark.sql.SparkSession,
                     root: String, beforeBatch: Long): (Long, Long) = {
    val path = nearDupPath(root)
    nearDupRecover(spark, root) // heal a prior interrupted compaction
    if (!graft.store.Fs.exists(spark, path)) return (0L, 0L)
    def ids(): Seq[Long] = spark.read.parquet(path)
      .select("batch").distinct().collect()
      .map(r => r.get(0).toString.toLong).toSeq.sorted
    val before = ids()
    val toMerge = before.filter(_ < beforeBatch)
    if (toMerge.size < 2) return (before.size.toLong, before.size.toLong)
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmpP = new org.apache.hadoop.fs.Path(nearDupTmp(root))
    val oldP = new org.apache.hadoop.fs.Path(nearDupOld(root))
    val livP = new org.apache.hadoop.fs.Path(s"$path/batch=-1")
    // stage the merged set OUTSIDE the partitioned dir (reads never see
    // it); plain parquet files — the dir name supplies batch=-1 on read
    spark.read.parquet(path)
      .where(col("batch") < beforeBatch)
      .select(col("band"), col("band_key")).distinct()
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(tmpP.toString)
    // swap: move old -1 aside (if any), install staging, clean up. The
    // per-batch source partitions are deleted LAST, so every pre-install
    // crash leaves complete state and recovery is trivial.
    if (fs.exists(livP)) require(fs.rename(livP, oldP),
      s"could not move the live batch=-1 aside ($livP)")
    require(fs.rename(tmpP, livP),
      s"could not install the compacted gate state ($tmpP -> $livP)")
    fs.delete(oldP, true)
    toMerge.filter(_ != -1L).foreach { id =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$path/batch=$id"), true)
    }
    (before.size.toLong, ids().size.toLong)
  }

  private def nearDupTmp(root: String) = s"$root/_neardup__compact_tmp"
  private def nearDupOld(root: String) = s"$root/_neardup__compact_old"

  /** Roll an interrupted [[nearDupCompact]] forward/back. The only
    * instant without a live batch=-1 during compaction is between its
    * two renames; if -1 is missing, reinstall whichever complete copy
    * exists — the staging (roll forward: it holds the FULL merged set,
    * including keys whose source partitions were dropped by an earlier
    * compaction) or the moved-aside original (roll back). When a live
    * -1 exists, leftover side dirs are redundant (source partitions are
    * only deleted after install) and are removed. Invoked by
    * [[nearDupCompact]] and at every gate state read
    * ([[nearDupGateBatch]]), so any verb heals the state.
    */
  def nearDupRecover(spark: org.apache.spark.sql.SparkSession,
                     root: String): Unit = {
    val path = nearDupPath(root)
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmpP = new org.apache.hadoop.fs.Path(nearDupTmp(root))
    val oldP = new org.apache.hadoop.fs.Path(nearDupOld(root))
    val livP = new org.apache.hadoop.fs.Path(s"$path/batch=-1")
    val hadOld = fs.exists(oldP)
    if ((hadOld || fs.exists(tmpP)) && !fs.exists(livP)) {
      // -1 existed before (it was moved aside) or a merge was staged:
      // reinstall the staging ONLY when its write completed (_SUCCESS —
      // ADVICE r7: a first-ever compaction crash mid-staging-write
      // leaves a PARTIAL tmp with no prior -1 to fall back to; rolling
      // that forward would install an undercounting -1), else the
      // original
      val tmpComplete = fs.exists(tmpP) &&
        fs.exists(new org.apache.hadoop.fs.Path(tmpP, "_SUCCESS"))
      if (tmpComplete) require(fs.rename(tmpP, livP),
        s"recovery: could not roll the compacted gate state forward ($tmpP)")
      else if (hadOld) require(fs.rename(oldP, livP),
        s"recovery: could not roll the original gate state back ($oldP)")
    }
    fs.delete(tmpP, true)
    fs.delete(oldP, true)
  }

  /** The max batch id present in a root's gate state (None when no
    * state) — `Main compact` uses it to compact everything below the
    * head, the only batch foreachBatch may still retry.
    */
  def nearDupHeadBatch(spark: org.apache.spark.sql.SparkSession,
                       root: String): Option[Long] = {
    val path = nearDupPath(root)
    if (!graft.store.Fs.exists(spark, path)) None
    else spark.read.parquet(path).agg(max(col("batch"))).head.get(0) match {
      case null => None
      case v => Some(v.toString.toLong)
    }
  }
}
