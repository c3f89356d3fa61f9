package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import TestSpark._
import graft.ext._

/** Extension operators: dedup tiers, similarity search, text analysis,
  * multimodal plumbing. */
class ExtSpec extends AnyFunSuite {

  private lazy val docs = fromJsonl(
    """{"doc_id": 1, "text": "the quick brown fox jumps over the lazy dog again and again"}""",
    """{"doc_id": 2, "text": "the quick brown fox jumps over the lazy dog again and again"}""",
    """{"doc_id": 3, "text": "the quick brown fox jumps over the lazy cat again and again"}""",
    """{"doc_id": 4, "text": "completely different words about spark and data processing here"}""")

  test("exact dedup groups identical content") {
    val groups = Dedup.exactGroups(docs, "doc_id", "text").collect()
    assert(groups.length == 3)
    val dup = groups.find(_.getAs[Long]("n_copies") == 2L).get
    assert(dup.getAs[Long]("keep_id") == 1L)
    assert(Dedup.exactDedup(docs, "doc_id", "text").count() == 3)
  }

  test("minhash LSH finds exact and near duplicates, skips unrelated") {
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
      shingleSize = 3, numHashes = 64, bands = 16, threshold = 0.4)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs.contains((1L, 2L))) // identical
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L))) // near-dup
    assert(!pairs.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("spill honors spark.graft.scratchDir and writes nothing elsewhere") {
    val scratch = java.nio.file.Files.createTempDirectory("graft-scratch-spec").toString
    spark.conf.set("spark.graft.scratchDir", scratch)
    try {
      assert(Dedup.scratchRoot(spark) == scratch)
      val back = Dedup.spill(docs, "spec-spill")
      assert(back.count() == 4)
      val children = new java.io.File(scratch).listFiles()
      assert(children != null && children.exists(_.getName.startsWith("spec-spill-")),
        "spill did not write under the configured scratch dir")
    } finally spark.conf.unset("spark.graft.scratchDir")
    // with no conf and a local master, resolution falls back to a temp dir
    assert(Dedup.scratchRoot(spark) != scratch)
  }

  test("minhashLshPairs pins no RDDs after returning (signatures spilled, not persisted)") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Dedup.minhashLshPairs(docs, "doc_id", "text",
      shingleSize = 3, numHashes = 64, bands = 16, threshold = 0.4).collect()
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert((after -- before).isEmpty, "minhashLshPairs leaked persisted RDDs")
  }

  test("incremental dedup drops exact and near matches against the store, keeps fresh docs") {
    val store = fromJsonl(
      """{"doc_id": 1, "text": "the quick brown fox jumps over the lazy dog again and again"}""",
      """{"doc_id": 2, "text": "completely different words about spark and data processing here"}""")
    val fresh = fromJsonl(
      """{"doc_id": 11, "text": "the quick brown fox jumps over the lazy dog again and again"}""",
      """{"doc_id": 12, "text": "the quick brown fox jumps over the lazy cat again and again"}""",
      """{"doc_id": 13, "text": "entirely novel content that matches nothing previously ingested at all"}""",
      """{"doc_id": 14, "text": "entirely novel content that matches nothing previously ingested at all"}""")
    // bipartite pairs: fresh docs are compared against the store only
    val pairs = Dedup.minhashLshPairsAgainst(fresh, store, "doc_id", "text",
      shingleSize = 3, numHashes = 64, bands = 16, threshold = 0.4)
      .collect().map(r => (r.getAs[Long]("new_id"), r.getAs[Long]("seen_id"))).toSet
    assert(pairs.contains((11L, 1L)), "exact cross-shard copy not found")
    assert(pairs.contains((12L, 1L)), "near-dup of a stored doc not found")
    assert(!pairs.exists { case (n, s) => n == 13L || n == 14L || s > 2L },
      s"unexpected pairs: $pairs")
    // full step: 11 dies in the exact tier, 12 in the near tier, 14 is an
    // in-batch duplicate of 13 — exactly one novel survivor remains
    val survivors = Dedup.incrementalDedup(fresh, "doc_id", "text", store, "doc_id",
      threshold = 0.4).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survivors == Set(13L), s"got $survivors")
  }

  test("concat-and-chunk: examples cross doc boundaries; slices reconstruct the stream") {
    import graft.ext.{Packing, TextFunctions}
    // one shard, docs of 3/4/2 tokens + 1 sep each → stream offsets 0, 4, 9;
    // seqLen 5 → examples: 0 covers [0,5), 1 covers [5,10), 2 covers [10,11)
    val docs = fromJsonl(
      """{"doc_id": 1, "sh": "s", "text": "a b c"}""",
      """{"doc_id": 2, "sh": "s", "text": "d e f g"}""",
      """{"doc_id": 3, "sh": "s", "text": "h i"}""")
    val idx = Packing.concatChunkIndex(docs, Seq("sh"), Seq(col("doc_id")),
      TextFunctions.tokenCount(col("text")), seqLen = 5L)
    val rows = idx.collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("example_id"),
      r.getAs[Long]("slice_start"), r.getAs[Long]("slice_len"), r.getAs[Long]("example_pos"))).toSet
    // doc1 [0,3) → ex0 pos0; doc2 [4,8) → ex0 gets token d at pos4, ex1 gets e f g at pos0;
    // doc3 [9,11) → ex1 gets h at pos4, ex2 gets i at pos0
    assert(rows == Set(
      (1L, 0L, 0L, 3L, 0L),
      (2L, 0L, 0L, 1L, 4L), (2L, 1L, 1L, 3L, 0L),
      (3L, 1L, 0L, 1L, 4L), (3L, 2L, 1L, 1L, 0L)), s"got $rows")
    val mat = Packing.materializeChunks(idx, Seq("sh"), col("text"))
      .collect().map(r => r.getAs[Long]("example_id") ->
        ((r.getAs[String]("example_text"), r.getAs[Long]("n_tokens")))).toMap
    assert(mat(0L) == (("a b c d", 4L)), s"got ${mat(0L)}")
    assert(mat(1L) == (("e f g h", 4L)), s"got ${mat(1L)}")
    assert(mat(2L) == (("i", 1L)), s"got ${mat(2L)}")
    // unsharded use refuses loudly
    intercept[IllegalArgumentException] {
      Packing.concatChunkIndex(docs, Seq.empty, Seq(col("doc_id")),
        TextFunctions.tokenCount(col("text")), 5L)
    }
  }

  test("length-bucketed batching fills batches within buckets and reports padding") {
    import graft.ext.Packing
    val docs = fromJsonl(
      """{"id": 1, "sh": "s", "len": 5}""",
      """{"id": 2, "sh": "s", "len": 7}""",
      """{"id": 3, "sh": "s", "len": 9}""",
      """{"id": 4, "sh": "s", "len": 55}""",
      """{"id": 5, "sh": "s", "len": 60}""",
      """{"id": 6, "sh": "s", "len": 200}""")
    val batched = Packing.lengthBucketBatches(docs, Seq("sh"), col("len"),
      Seq(10L, 100L), batchSize = 2, Seq(col("id")))
    val rows = batched.collect().map(r => r.getAs[Long]("id") ->
      ((r.getAs[Int]("length_bucket"), r.getAs[Long]("batch_id"), r.getAs[Int]("batch_pos")))).toMap
    // bucket 0: lens < 10 (ids 1,2,3) → batches [1,2], [3]; bucket 1: ids 4,5;
    // bucket 2: id 6
    assert(rows(1L) == ((0, 0L, 0)) && rows(2L) == ((0, 0L, 1)) && rows(3L) == ((0, 1L, 0)))
    assert(rows(4L) == ((1, 0L, 0)) && rows(5L) == ((1, 0L, 1)))
    assert(rows(6L) == ((2, 0L, 0)))
    val stats = Packing.batchPaddingStats(batched, Seq("sh"), col("len"))
      .collect().map(r => (r.getAs[Int]("length_bucket"), r.getAs[Long]("batch_id")) ->
        ((r.getAs[Long]("n_rows"), r.getAs[Long]("max_len"), r.getAs[Long]("pad_tokens")))).toMap
    // bucket 0 batch 0: lens 5,7 pad to 7 → 2 wasted; singletons waste 0
    assert(stats((0, 0L)) == ((2L, 7L, 2L)))
    assert(stats((0, 1L)) == ((1L, 9L, 0L)))
    assert(stats((1, 0L)) == ((2L, 60L, 5L)))
    assert(stats((2, 0L)) == ((1L, 200L, 0L)))
    // unsharded use refuses loudly
    intercept[IllegalArgumentException] {
      Packing.lengthBucketBatches(docs, Nil, col("len"), Seq(10L), 2, Seq(col("id")))
    }
  }

  test("bloom-prefiltered incremental exact dedup equals the plain tier, nulls included") {
    val store = fromJsonl(
      """{"doc_id": 1, "text": "alpha beta gamma"}""",
      """{"doc_id": 2, "text": null}""",
      """{"doc_id": 3, "text": "delta epsilon zeta"}""")
    val batch = fromJsonl(
      """{"doc_id": 11, "text": "alpha beta gamma"}""",
      """{"doc_id": 12, "text": "entirely new content"}""",
      """{"doc_id": 13, "text": null}""",
      """{"doc_id": 14, "text": "entirely new content"}""",
      """{"doc_id": 15, "text": "another fresh one"}""")
    val groups = Dedup.exactGroups(store, "doc_id", "text")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    val exact = ids(Dedup.incrementalExact(batch, "doc_id", "text", groups))
    val bloom = ids(Dedup.incrementalExactBloom(batch, "doc_id", "text", groups,
      expectedDocs = 1000L, fpp = 0.001))
    assert(bloom == exact, s"bloom tier diverged: $bloom vs $exact")
    // 11 dies (stored), 13 dies (store holds a null-content doc),
    // 14 dies in-batch against 12 — survivors are exactly {12, 15}
    assert(exact == Set(12L, 15L), s"got $exact")
  }

  test("removeDupSpans cuts cross-document spans, keeps unique text and short docs") {
    val docs = fromJsonl(
      """{"doc_id": 1, "text": "one two three four unique tail here"}""",
      """{"doc_id": 2, "text": "prefix words one two three four suffix stuff"}""",
      """{"doc_id": 3, "text": "completely fresh sentence with no overlap at all"}""",
      """{"doc_id": 4, "text": "tiny"}""")
    val out = Dedup.removeDupSpans(docs, "doc_id", "text", n = 4)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("cleaned_text"), r.getAs[Long]("n_tokens"), r.getAs[Long]("n_removed"))))
      .toMap
    // "one two three four" is the only cross-doc 4-gram: its four tokens
    // vanish from both docs, everything else survives in order
    assert(out(1L) == (("unique tail here", 7L, 4L)), s"got ${out(1L)}")
    assert(out(2L) == (("prefix words suffix stuff", 8L, 4L)), s"got ${out(2L)}")
    assert(out(3L) == (("completely fresh sentence with no overlap at all", 8L, 0L)))
    // shorter than n: no grams, passes through whole
    assert(out(4L) == (("tiny", 1L, 0L)))
  }

  test("removeDupSpans passes every document whole when no gram repeats (prefilter early exit)") {
    val docs = fromJsonl(
      """{"doc_id": 1, "text": "alpha beta gamma delta epsilon"}""",
      """{"doc_id": 2, "text": "zeta eta theta iota kappa"}""")
    val out = Dedup.removeDupSpans(docs, "doc_id", "text", n = 3)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("cleaned_text"), r.getAs[Long]("n_removed")))).toMap
    assert(out(1L) == (("alpha beta gamma delta epsilon", 0L)))
    assert(out(2L) == (("zeta eta theta iota kappa", 0L)))
  }

  test("linear classifier score: hashed-bucket mean + sigmoid, hand-checked") {
    import graft.ext.TextFunctions._
    // two buckets with opposite weights: score is monotone in the share of
    // tokens hashing to bucket 0
    val w = Seq(4.0, -4.0)
    def bucket(t: String): Int = {
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(md5.take(15), 16) % 2).toInt
    }
    val toks = Seq("alpha", "beta", "gamma", "delta")
    val expectMean = toks.map(t => w(bucket(t))).sum / toks.length
    val expect = 1.0 / (1.0 + math.exp(-(0.5 + expectMean)))
    val got = spark.range(1)
      .select(linearClassifierScore(lit(toks.mkString(" ")), w, bias = 0.5).as("s"))
      .head().getDouble(0)
    assert(math.abs(got - expect) < 1e-12, s"got $got expect $expect")
    // token-less text scores sigmoid(bias)
    val empty = spark.range(1)
      .select(linearClassifierScore(lit("  ... "), w, bias = 0.5).as("s"))
      .head().getDouble(0)
    assert(math.abs(empty - 1.0 / (1.0 + math.exp(-0.5))) < 1e-12)
    // filter form keeps scorers above threshold and surfaces the column
    val kept = classifierFilter(fromJsonl(
      """{"doc_id": 1, "text": "alpha beta gamma delta"}"""),
      "text", w, 0.5, threshold = 0.0)
    assert(kept.columns.contains("classifier_score") && kept.count() == 1)
  }

  test("bm25 ranks term-dense short docs first; chunking covers every token with overlap") {
    import graft.ext.TextFunctions._
    val corpus = fromJsonl(
      """{"doc_id": 1, "text": "spark spark spark pipeline"}""",
      """{"doc_id": 2, "text": "spark appears once in a much longer document about other engines entirely"}""",
      """{"doc_id": 3, "text": "nothing relevant here at all"}""")
    val ranked = bm25Search(corpus, "doc_id", "text", Seq("spark"), 10).collect()
    assert(ranked.map(_.getAs[Long]("doc_id")).toSeq == Seq(1L, 2L),
      "tf-dense short doc must outrank the long one; non-matching doc excluded")
    assert(ranked.map(_.getAs[Int]("rank")).toSeq == Seq(1, 2))
    assert(ranked.head.getAs[Double]("score") > ranked.last.getAs[Double]("score"))

    // 25 tokens, chunk 10, stride 5 → 1 + ceil(15/5) = 4 chunks
    val text = (1 to 25).map(i => s"t$i").mkString(" ")
    val chunks = spark.range(1).select(chunkByTokens(lit(text), 10, 5).as("c"))
      .collect().head.getAs[scala.collection.Seq[String]]("c")
    assert(chunks.length == 4)
    assert(chunks.head == (1 to 10).map(i => s"t$i").mkString(" "))
    assert(chunks(1) == (6 to 15).map(i => s"t$i").mkString(" "), "stride-5 overlap expected")
    assert(chunks.last == (16 to 25).map(i => s"t$i").mkString(" "))
    // short doc → exactly itself
    val short = spark.range(1).select(chunkByTokens(lit("only three tokens"), 10, 5).as("c"))
      .collect().head.getAs[scala.collection.Seq[String]]("c")
    assert(short == Seq("only three tokens"))
  }

  test("intervalJoin equals the naive range join for any bin width; half-open bounds") {
    import spark.implicits._
    val points = (0L to 100L).map(p => (p, p)).toDF("pid", "t")
    val intervals = Seq(
      (1L, 0L, 10L),    // contains 0..9 (half-open: 10 excluded)
      (2L, 9L, 9L),     // empty → contributes nothing
      (3L, 5L, 40L),    // spans several bins
      (4L, 95L, 200L),  // runs past the point range
      (5L, 50L, 51L)    // single point
    ).toDF("iid", "lo", "hi")
    val naive = points.join(intervals, col("t") >= col("lo") && col("t") < col("hi"))
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    for (bin <- Seq(1L, 7L, 1000L)) {
      val fast = graft.ext.Joins.intervalJoin(points, "t", intervals, "lo", "hi", bin)
        .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(fast == naive, s"bin=$bin diverged")
    }
    assert(naive.contains((0L, 1L)) && !naive.contains((10L, 1L)), "half-open sanity")
    assert(!naive.exists(_._2 == 2L), "empty interval must match nothing")
    // seeded fuzz: random intervals over a wider domain, two bin widths
    val rnd = new scala.util.Random(7)
    val fuzzIv = (1 to 60).map { i =>
      val lo = rnd.nextInt(1000).toLong; (i.toLong, lo, lo + rnd.nextInt(80).toLong)
    }.toDF("iid", "lo", "hi")
    val fuzzPts = (0L until 1000L by 3L).map(p => (p, p)).toDF("pid", "t")
    val fuzzNaive = fuzzPts.join(fuzzIv, col("t") >= col("lo") && col("t") < col("hi"))
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    for (bin <- Seq(16L, 128L)) {
      val fast = graft.ext.Joins.intervalJoin(fuzzPts, "t", fuzzIv, "lo", "hi", bin)
        .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(fast == fuzzNaive, s"fuzz diverged at bin=$bin")
    }
    // keyed variant restricts to same-key pairs
    val kp = Seq((1L, 5L, "a"), (2L, 5L, "b")).toDF("pid", "t", "k")
    val ki = Seq((7L, 0L, 10L, "a")).toDF("iid", "lo", "hi", "k")
    val keyed = graft.ext.Joins.intervalJoin(kp, "t", ki, "lo", "hi", 4L, on = Seq("k"))
      .select("pid").collect().map(_.getLong(0)).toSet
    assert(keyed == Set(1L))
  }

  test("rrf fusion: doc in both legs wins, ranks total, scores quantized") {
    import spark.implicits._
    val lexical = Seq(("a", 1), ("b", 2), ("c", 3)).toDF("id", "rank")
    val vector  = Seq(("b", 1), ("d", 2)).toDF("id", "rank")
    val out = Retrieval.rrfFuse(Seq(lexical, vector), "id", "rank", topK = 3).collect()
    assert(out.map(_.getAs[String]("id")).toSeq == Seq("b", "a", "d"))
    assert(out.map(_.getAs[Int]("rank")).toSeq == Seq(1, 2, 3))
    // scores carry the same 1e-6 floor-quantization as bm25Search, so the
    // ordering is engine-stable with 3+ legs (FP addition order)
    def q(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
    assert(out.head.getAs[Double]("rrf_score") == q(1.0 / 62 + 1.0 / 61))
    assert(out(1).getAs[Double]("rrf_score") == q(1.0 / 61))
  }

  test("kmeans clustering + stratified sampling gives cluster-balanced subsets") {
    import spark.implicits._
    // two well-separated blobs
    val pts = ((1 to 20).map(i => (i.toLong, Array(10.0f + i * 0.01f, 10f))) ++
      (21 to 40).map(i => (i.toLong, Array(-10.0f - i * 0.01f, -10f)))).toDF("id", "v")
    val cents = Similarity.kmeansTrain(pts, "id", "v", k = 2, iterations = 3)
    assert(cents.length == 2)
    val assigned = pts.withColumn("cluster", Similarity.kmeansAssign(col("v"), cents))
    val sizes = assigned.groupBy("cluster").count().collect().map(_.getLong(1)).sorted
    assert(sizes.toSeq == Seq(20L, 20L), s"blobs not separated: ${sizes.toSeq}")
    // cluster-balanced sampling: the cluster id is just a stratum
    val sampled = Sampling.stratified(assigned, Seq("cluster"), 5)
    assert(sampled.groupBy("cluster").count().collect().forall(_.getLong(1) == 5L))
    // deterministic: same call, same rows
    val again = Sampling.stratified(assigned, Seq("cluster"), 5)
    assert(sampled.select("id").collect().map(_.getLong(0)).toSet ==
      again.select("id").collect().map(_.getLong(0)).toSet)
  }

  test("recallAtK scores approximate ANN results per query") {
    import spark.implicits._
    val exact = Seq((1L, 10L), (1L, 11L), (1L, 12L), (1L, 13L),
      (2L, 20L), (2L, 21L), (3L, 30L)).toDF("query_id", "neighbor_id")
    val approx = Seq((1L, 10L), (1L, 11L), (1L, 98L), (1L, 99L),
      (2L, 20L), (2L, 21L)).toDF("query_id", "neighbor_id")
    val r = Similarity.recallAtK(approx, exact).collect()
      .map(row => row.getAs[Long]("query_id") -> row.getAs[Double]("recall")).toMap
    assert(r == Map(1L -> 0.5, 2L -> 1.0, 3L -> 0.0), s"got $r")
  }

  test("ingestStep: shard-by-shard batch ingestion converges the store") {
    val store = java.nio.file.Files.createTempDirectory("graft-ingest").toString + "/docs"
    val shard1 = fromJsonl(
      """{"doc_id": 1, "text": "the quick brown fox jumps over the lazy dog again and again"}""",
      """{"doc_id": 2, "text": "unrelated words about spark engines and data processing here"}""")
    val shard2 = fromJsonl(
      """{"doc_id": 3, "text": "the quick brown fox jumps over the lazy dog again and again"}""", // exact dup of 1
      """{"doc_id": 4, "text": "the quick brown fox jumps over the lazy cat again and again"}""", // near-dup of 1
      """{"doc_id": 5, "text": "brand new sentences never observed anywhere previously at all"}""")
    Dedup.ingestStep(shard1, "doc_id", "text", store, nearThreshold = Some(0.4),
      batchTag = Some("shard1"))
    Dedup.ingestStep(shard2, "doc_id", "text", store, nearThreshold = Some(0.4),
      batchTag = Some("shard2"))
    val ids = Dedup.readStore(spark, store).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 2L, 5L), s"got $ids")
    // the signature store tracks exactly the surviving documents
    assert(Dedup.readStore(spark, store + "_sigs").count() == 3)
    // a RETRY of shard2 (same tag, at-least-once semantics) overwrites its
    // own directory instead of duplicating or self-colliding
    Dedup.ingestStep(shard2, "doc_id", "text", store, nearThreshold = Some(0.4),
      batchTag = Some("shard2"))
    val retried = Dedup.readStore(spark, store).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(retried == Set(1L, 2L, 5L), s"retry diverged: $retried")
    assert(Dedup.readStore(spark, store + "_sigs").count() == 3)
    // mismatched signature parameters against an existing store refuse
    intercept[graft.model.ValidationError] {
      Dedup.ingestStep(shard2, "doc_id", "text", store, nearThreshold = Some(0.4),
        shingleSize = 5, batchTag = Some("shard3"))
    }
    // a near-tier call against a store built WITHOUT signatures refuses
    val bare = java.nio.file.Files.createTempDirectory("graft-ingest-bare").toString + "/docs"
    Dedup.ingestStep(shard1, "doc_id", "text", bare, nearThreshold = None,
      batchTag = Some("s1"))
    intercept[graft.model.ValidationError] {
      Dedup.ingestStep(shard2, "doc_id", "text", bare, nearThreshold = Some(0.4),
        batchTag = Some("s2"))
    }
  }

  test("ingestStep: content-hash sidecar written per batch, fallback when missing, null semantics kept") {
    // gate lowered to 0 = the ARMED form (sidecar writes + batch bloom) on
    // a tiny store; production arms at exactBloomMinStoreBytes of store
    val saved = Dedup.exactBloomMinStoreBytes
    Dedup.exactBloomMinStoreBytes = 0L
    try {
      val root = java.nio.file.Files.createTempDirectory("graft-ingest-hash").toString
      val store = root + "/docs"
      val shard1 = fromJsonl(
        """{"doc_id": 1, "text": "alpha beta gamma delta epsilon zeta eta theta"}""",
        """{"doc_id": 2, "text": null}""")
      val shard2 = fromJsonl(
        """{"doc_id": 3, "text": "alpha beta gamma delta epsilon zeta eta theta"}""", // exact dup of 1
        """{"doc_id": 4, "text": null}""", // null content: <=> must match stored null
        """{"doc_id": 5, "text": "completely different content with no overlap whatsoever"}""")
      Dedup.ingestStep(shard1, "doc_id", "text", store, batchTag = Some("s1"))
      // sidecar dir mirrors the batch dir
      assert(new java.io.File(s"${store}_hashes/batch-s1").isDirectory,
        "content-hash sidecar not written")
      assert(spark.read.parquet(s"${store}_hashes/batch-s1").count() == 2)
      Dedup.ingestStep(shard2, "doc_id", "text", store, batchTag = Some("s2"))
      val ids = Dedup.readStore(spark, store).select("doc_id").collect().map(_.getLong(0)).toSet
      assert(ids == Set(1L, 2L, 5L), s"got $ids")
      // crash-fallback: delete s1's sidecar; a later batch must still dedup
      // against s1 (per-dir re-hash of the text column), results identical
      def rmr(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rmr)); f.delete()
      }
      rmr(new java.io.File(s"${store}_hashes/batch-s1"))
      val shard3 = fromJsonl(
        """{"doc_id": 6, "text": "alpha beta gamma delta epsilon zeta eta theta"}""", // dup of 1 (sidecar-less dir)
        """{"doc_id": 7, "text": "completely different content with no overlap whatsoever"}""") // dup of 5 (sidecar'd dir)
      Dedup.ingestStep(shard3, "doc_id", "text", store, batchTag = Some("s3"))
      val after = Dedup.readStore(spark, store).select("doc_id").collect().map(_.getLong(0)).toSet
      assert(after == Set(1L, 2L, 5L), s"fallback diverged: $after")
      // null-content dedup THROUGH the armed bloom: nulls can't probe, so
      // they must ride around it into the <=> join
      val shard4 = fromJsonl(
        """{"doc_id": 8, "text": "alpha beta gamma delta epsilon zeta eta theta"}""", // dup of 1
        """{"doc_id": 9, "text": null}""", // null content: dup of stored null
        """{"doc_id": 10, "text": "genuinely novel content appearing in no earlier shard"}""")
      Dedup.ingestStep(shard4, "doc_id", "text", store, batchTag = Some("s4"))
      val armed = Dedup.readStore(spark, store).select("doc_id").collect().map(_.getLong(0)).toSet
      assert(armed == Set(1L, 2L, 5L, 10L), s"armed bloom diverged: $armed")
      // DISARMED (default gate, tiny store): no sidecar written, dedup
      // identical — the r10 direct-anti-join shape
      Dedup.exactBloomMinStoreBytes = saved
      val store2 = root + "/docs2"
      Dedup.ingestStep(shard1, "doc_id", "text", store2, batchTag = Some("d1"))
      assert(!new java.io.File(s"${store2}_hashes/batch-d1").exists(),
        "sidecar written below the arming gate")
      Dedup.ingestStep(shard2, "doc_id", "text", store2, batchTag = Some("d2"))
      val disarmed = Dedup.readStore(spark, store2).select("doc_id").collect().map(_.getLong(0)).toSet
      assert(disarmed == Set(1L, 2L, 5L), s"disarmed path diverged: $disarmed")
    } finally Dedup.exactBloomMinStoreBytes = saved
  }

  test("compactIngestStore: bin-packs docs+sigs+hashes, ingest continues identically") {
    val saved = Dedup.exactBloomMinStoreBytes
    Dedup.exactBloomMinStoreBytes = 0L // arm sidecars at spec size
    try {
      val root = java.nio.file.Files.createTempDirectory("graft-ingest-compact").toString
      val shards = Seq(
        fromJsonl(
          """{"doc_id": 1, "text": "the quick brown fox jumps over the lazy dog again and again"}""",
          """{"doc_id": 2, "text": "unrelated words about spark engines and data processing here"}"""),
        fromJsonl(
          """{"doc_id": 3, "text": "the quick brown fox jumps over the lazy dog again and again"}""", // exact dup of 1
          """{"doc_id": 4, "text": "the quick brown fox jumps over the lazy cat again and again"}""", // near-dup of 1
          """{"doc_id": 5, "text": "brand new sentences never observed anywhere previously at all"}"""))
      shards.zipWithIndex.foreach { case (sh, i) =>
        Dedup.ingestStep(sh, "doc_id", "text", s"$root/a", nearThreshold = Some(0.4),
          batchTag = Some(s"s$i"))
        Dedup.ingestStep(sh, "doc_id", "text", s"$root/b", nearThreshold = Some(0.4),
          batchTag = Some(s"s$i"))
      }
      Dedup.compactIngestStore(spark, s"$root/a", s"$root/ac", "text")
      // layout: one batch dir per store, pin copied
      assert(Dedup.listBatchDirs(spark, s"$root/ac").size == 1)
      assert(Dedup.listBatchDirs(spark, s"$root/ac_sigs").size == 1)
      assert(Dedup.listBatchDirs(spark, s"$root/ac_hashes").size == 1)
      assert(new java.io.File(s"$root/ac_sigs/_params.json").exists(), "sig params pin not copied")
      // rows preserved exactly
      assert(Dedup.readStore(spark, s"$root/ac").select("doc_id").collect().map(_.getLong(0)).toSet ==
        Dedup.readStore(spark, s"$root/b").select("doc_id").collect().map(_.getLong(0)).toSet)
      // ingest CONTINUES identically against the compacted store
      val shard3 = fromJsonl(
        """{"doc_id": 6, "text": "the quick brown fox jumps over the lazy dog again and again"}""", // exact dup of 1
        """{"doc_id": 7, "text": "brand new sentences never observed anywhere previously today"}""", // near-dup of 5
        """{"doc_id": 8, "text": "entirely novel eighth document with wholly original content"}""")
      Dedup.ingestStep(shard3, "doc_id", "text", s"$root/ac", nearThreshold = Some(0.4),
        batchTag = Some("s2"))
      Dedup.ingestStep(shard3, "doc_id", "text", s"$root/b", nearThreshold = Some(0.4),
        batchTag = Some("s2"))
      val a = Dedup.readStore(spark, s"$root/ac").select("doc_id").collect().map(_.getLong(0)).toSet
      val b = Dedup.readStore(spark, s"$root/b").select("doc_id").collect().map(_.getLong(0)).toSet
      assert(a == b, s"post-compaction ingest diverged: $a vs $b")
      assert(Dedup.readStore(spark, s"$root/ac_sigs").count() ==
        Dedup.readStore(spark, s"$root/b_sigs").count())
      // param drift against the compacted store still refuses
      intercept[graft.model.ValidationError] {
        Dedup.ingestStep(shard3, "doc_id", "text", s"$root/ac", nearThreshold = Some(0.4),
          shingleSize = 5, batchTag = Some("s3"))
      }
      // nested/overlapping outPath refuses
      intercept[IllegalArgumentException] {
        Dedup.compactIngestStore(spark, s"$root/ac", s"$root/ac", "text")
      }
      // DERIVED-root collisions refuse too — compaction wipes outPath,
      // outPath_sigs and outPath_hashes before reading, so any overlap
      // between those and the source's three roots deletes source data:
      // out doc root == source sig root
      intercept[IllegalArgumentException] {
        Dedup.compactIngestStore(spark, s"$root/ac", s"$root/ac_sigs", "text")
      }
      // out sig root == source doc root (outPath + "_sigs" == path)
      intercept[IllegalArgumentException] {
        Dedup.compactIngestStore(spark, s"$root/x_sigs", s"$root/x", "text")
      }
      // scheme alias of the same location must not slip past the check
      intercept[IllegalArgumentException] {
        Dedup.compactIngestStore(spark, s"$root/ac", s"file:$root/ac", "text")
      }
    } finally Dedup.exactBloomMinStoreBytes = saved
  }

  test("ingestStep: partial hash sidecar (no _SUCCESS) falls back to re-hashing that dir") {
    // a crash mid-sidecar-write leaves some part files and no _SUCCESS; if
    // the fragment were trusted as the dir's complete hash set, hashes it
    // is missing would let exact duplicates into the store
    val root = java.nio.file.Files.createTempDirectory("graft-partial-sidecar").toString
    val store = s"$root/docs"
    val shard1 = fromJsonl(
      """{"doc_id": 1, "text": "first document body"}""",
      """{"doc_id": 2, "text": "second document body"}""")
    Dedup.ingestStep(shard1, "doc_id", "text", store, batchTag = Some("s1"),
      exactArmMinStoreBytes = 0L)
    Dedup.ingestStep(fromJsonl("""{"doc_id": 3, "text": "third document body"}"""),
      "doc_id", "text", store, batchTag = Some("s2"), exactArmMinStoreBytes = 0L)
    // corrupt s1's sidecar the way a crash would: keep the dir, drop the
    // marker AND the data files (an empty hash set — the worst fragment)
    val sidecar = new java.io.File(s"${store}_hashes/batch-s1")
    assert(sidecar.isDirectory, "sidecar for s1 should exist (armed at 0)")
    sidecar.listFiles().foreach(f => assert(f.delete(), s"couldn't delete $f"))
    // a duplicate of doc 1 must STILL be dropped: the unmarked sidecar is
    // treated as absent and batch-s1 is re-hashed from its text
    Dedup.ingestStep(fromJsonl(
      """{"doc_id": 4, "text": "first document body"}""",
      """{"doc_id": 5, "text": "novel fifth body"}"""),
      "doc_id", "text", store, batchTag = Some("s3"), exactArmMinStoreBytes = 0L)
    val ids = Dedup.readStore(spark, store).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 2L, 3L, 5L), s"partial sidecar leaked a duplicate: $ids")
    // and the fragment dir was HEALED by that batch (re-hashed + rewritten
    // whole), so later batches read the sidecar instead of re-hashing s1
    // forever
    assert(new java.io.File(s"${store}_hashes/batch-s1/_SUCCESS").exists(),
      "fragment sidecar was not healed")
    assert(spark.read.parquet(s"${store}_hashes/batch-s1").count() == 2)
  }

  test("cachedDirBytes: writers invalidate reused paths") {
    val root = java.nio.file.Files.createTempDirectory("graft-dirbytes").toString
    val hconf = spark.sparkContext.hadoopConfiguration
    import spark.implicits._
    (1 to 10).toDF("v").write.mode("overwrite").parquet(s"$root/batch-x")
    val first = Dedup.cachedDirBytes(hconf, s"$root/batch-x")
    // rewrite the dir with 100x the rows — the cache must serve the stale
    // value until a writer invalidates, then re-list
    (1 to 1000).map(i => s"row-$i-some-longer-content").toDF("v")
      .write.mode("overwrite").parquet(s"$root/batch-x")
    assert(Dedup.cachedDirBytes(hconf, s"$root/batch-x") == first, "expected stale cache")
    Dedup.invalidateDirBytes(hconf, s"$root/batch-x")
    val healed = Dedup.cachedDirBytes(hconf, s"$root/batch-x")
    assert(healed > first, s"invalidate did not refresh: $healed vs $first")
  }

  test("invalidateDirBytes: segment-boundary match, scheme-alias-proof") {
    val root = java.nio.file.Files.createTempDirectory("graft-dirbytes-seg").toString
    val hconf = spark.sparkContext.hadoopConfiguration
    import spark.implicits._
    // batch-3 and batch-30: invalidating batch-3 must NOT evict batch-30
    // (a raw substring match would)
    (1 to 10).toDF("v").write.mode("overwrite").parquet(s"$root/batch-3")
    (1 to 10).toDF("v").write.mode("overwrite").parquet(s"$root/batch-30")
    val b3 = Dedup.cachedDirBytes(hconf, s"$root/batch-3")
    val b30 = Dedup.cachedDirBytes(hconf, s"$root/batch-30")
    (1 to 1000).map(i => s"row-$i-padding-content").toDF("v")
      .write.mode("overwrite").parquet(s"$root/batch-3")
    (1 to 1000).map(i => s"row-$i-padding-content").toDF("v")
      .write.mode("overwrite").parquet(s"$root/batch-30")
    Dedup.invalidateDirBytes(hconf, s"$root/batch-3")
    assert(Dedup.cachedDirBytes(hconf, s"$root/batch-3") > b3,
      "invalidating batch-3 did not refresh batch-3")
    assert(Dedup.cachedDirBytes(hconf, s"$root/batch-30") == b30,
      "invalidating batch-3 wrongly evicted batch-30 (substring match)")
    // scheme alias: a key cached under a file://-qualified spelling must be
    // evicted by an unqualified invalidation root (and vice versa) — the
    // canonical-key contract; a raw contains() on the writer's spelling
    // would never match and serve the stale gate bytes forever
    (1 to 10).toDF("v").write.mode("overwrite").parquet(s"$root/batch-q")
    val bq = Dedup.cachedDirBytes(hconf, s"file://$root/batch-q")
    (1 to 1000).map(i => s"row-$i-padding-content").toDF("v")
      .write.mode("overwrite").parquet(s"$root/batch-q")
    Dedup.invalidateDirBytes(hconf, s"$root/batch-q") // unqualified root
    assert(Dedup.cachedDirBytes(hconf, s"file://$root/batch-q") > bq,
      "unqualified invalidation root failed to evict the file://-spelled key")
  }

  test("ingestStep: band sidecar written per near-tier batch, fallback identical, pruned probe exact") {
    val root = java.nio.file.Files.createTempDirectory("graft-ingest-bands").toString
    def rmr(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rmr)); f.delete()
    }
    val shard1 = fromJsonl(
      """{"doc_id": 1, "text": "the quick brown fox jumps over the lazy dog again and again"}""",
      """{"doc_id": 2, "text": "unrelated words about spark engines and data processing here"}""")
    val shard2 = fromJsonl(
      """{"doc_id": 3, "text": "the quick brown fox jumps over the lazy cat again and again"}""", // near-dup of 1
      """{"doc_id": 4, "text": "brand new sentences never observed anywhere previously at all"}""")
    val shard3 = fromJsonl(
      """{"doc_id": 5, "text": "brand new sentences never observed anywhere previously today"}""", // near-dup of 4
      """{"doc_id": 6, "text": "entirely novel sixth document with wholly original material"}""")
    // store A: the sidecar'd path; store B: sidecars deleted after every
    // batch, forcing the per-dir fallback (= the pre-sidecar plan) — the
    // two must converge to identical survivor sets
    Seq(shard1, shard2, shard3).zipWithIndex.foreach { case (sh, i) =>
      Dedup.ingestStep(sh, "doc_id", "text", s"$root/a", nearThreshold = Some(0.4),
        batchTag = Some(s"s$i"))
      Dedup.ingestStep(sh, "doc_id", "text", s"$root/b", nearThreshold = Some(0.4),
        batchTag = Some(s"s$i"))
      rmr(new java.io.File(s"$root/b_bands"))
    }
    val a = Dedup.readStore(spark, s"$root/a").select("doc_id").collect().map(_.getLong(0)).toSet
    val b = Dedup.readStore(spark, s"$root/b").select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a == b, s"sidecar path diverged from fallback: $a vs $b")
    assert(a == Set(1L, 2L, 4L, 6L), s"got $a")
    // the sidecar IS the banding of its sig dir: bit-identical keys, one
    // row per band per doc, bucket pin recorded
    assert(new java.io.File(s"$root/a_bands/_params.json").exists(), "bucket pin not written")
    for (tagged <- Seq("batch-s0", "batch-s1", "batch-s2")) {
      val sigDir = spark.read.parquet(s"$root/a_sigs/$tagged")
      val expect = sigDir.select(col("doc_id"),
        posexplode(Kernels.bandKeysKernel(16, 4)(col("sig"))).as(Seq("band", "band_key")))
      val got = spark.read.parquet(s"$root/a_bands/$tagged")
        .select(col("doc_id"), col("band"), col("band_key"))
      assert(got.exceptAll(expect).isEmpty && expect.exceptAll(got).isEmpty,
        s"band sidecar $tagged does not match its sig dir's banding")
    }
    // partial sidecar (dir present, no _SUCCESS): treated as absent — the
    // near-dup against that dir's docs must STILL be caught via fallback
    val frag = new java.io.File(s"$root/a_bands/batch-s0")
    frag.listFiles().foreach(f => assert(f.delete(), s"couldn't delete $f"))
    Dedup.ingestStep(fromJsonl(
      """{"doc_id": 7, "text": "the quick brown fox jumps over the lazy dog again and again today"}"""), // near-dup of 1 (dir s0)
      "doc_id", "text", s"$root/a", nearThreshold = Some(0.4), batchTag = Some("s3"))
    val afterFrag = Dedup.readStore(spark, s"$root/a").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(afterFrag == Set(1L, 2L, 4L, 6L), s"partial band sidecar lost recall: $afterFrag")
    // the fragment dir was HEALED by that batch: rewritten whole with its
    // marker, rows again the exact banding of its sig dir
    assert(new java.io.File(s"$root/a_bands/batch-s0/_SUCCESS").exists(),
      "band fragment was not healed")
    assert(spark.read.parquet(s"$root/a_bands/batch-s0").count() ==
      spark.read.parquet(s"$root/a_sigs/batch-s0").count() * 16)
    // bounded probe (1 doc = 16 keys << buckets): the bucket-pruned read
    // engages and must return the same answer — near-dup still dropped
    Dedup.ingestStep(fromJsonl(
      """{"doc_id": 8, "text": "brand new sentences never observed anywhere previously at all!"}"""), // near-dup of 4 (dir s1, sidecar'd)
      "doc_id", "text", s"$root/a", nearThreshold = Some(0.4), batchTag = Some("s4"))
    val afterProbe = Dedup.readStore(spark, s"$root/a").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(afterProbe == Set(1L, 2L, 4L, 6L), s"pruned probe diverged: $afterProbe")
    // compaction regenerates the band index for the compacted store
    Dedup.compactIngestStore(spark, s"$root/a", s"$root/acomp", "text")
    assert(Dedup.listBatchDirs(spark, s"$root/acomp_bands").size == 1,
      "compaction did not regenerate the band sidecar")
    assert(new java.io.File(s"$root/acomp_bands/_params.json").exists(),
      "compaction did not write the bucket pin")
    assert(spark.read.parquet(s"$root/acomp_bands/batch-compacted").count() ==
      Dedup.readStore(spark, s"$root/acomp_sigs").count() * 16)
    // and ingest against the compacted (sidecar-served) store stays exact
    Dedup.ingestStep(fromJsonl(
      """{"doc_id": 9, "text": "entirely novel sixth document with wholly original material plus"}""", // near-dup of 6
      """{"doc_id": 10, "text": "tenth body sharing nothing with any earlier ingested document"}"""),
      "doc_id", "text", s"$root/acomp", nearThreshold = Some(0.4), batchTag = Some("s5"))
    val postCompact = Dedup.readStore(spark, s"$root/acomp").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(postCompact == Set(1L, 2L, 4L, 6L, 10L), s"post-compaction sidecar ingest diverged: $postCompact")
  }

  test("lookupNearDups: point lookup via the band sidecar, bucket predicate pushed to the scan") {
    val root = java.nio.file.Files.createTempDirectory("graft-lookup").toString
    val store = s"$root/docs"
    val shard1 = fromJsonl(
      """{"doc_id": 1, "text": "the quick brown fox jumps over the lazy dog again and again"}""",
      """{"doc_id": 2, "text": "unrelated words about spark engines and data processing here"}""")
    val shard2 = fromJsonl(
      """{"doc_id": 3, "text": "brand new sentences never observed anywhere previously at all"}""")
    Seq(shard1, shard2).zipWithIndex.foreach { case (sh, i) =>
      Dedup.ingestStep(sh, "doc_id", "text", store, nearThreshold = Some(0.4),
        batchTag = Some(s"s$i"))
    }
    // near-dup probe: matches doc 1 (Jaccard high), nothing else
    val hits = Dedup.lookupNearDups(spark, store,
      "the quick brown fox jumps over the lazy dog again and again today", 0.4)
    val rows = hits.collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("jaccard"))
    assert(rows.map(_._1).toSet == Set(1L), s"got ${rows.toSeq}")
    assert(rows.head._2 >= 0.4 && rows.head._2 <= 1.0)
    // exact-duplicate probe: Jaccard exactly 1.0
    val exactHit = Dedup.lookupNearDups(spark, store,
      "brand new sentences never observed anywhere previously at all", 0.9).collect()
    assert(exactHit.map(_.getAs[Long]("doc_id")).toSet == Set(3L))
    assert(exactHit.head.getAs[Double]("jaccard") == 1.0)
    // disjoint probe: empty
    assert(Dedup.lookupNearDups(spark, store,
      "wholly absent vocabulary zone nothing shared with stored docs", 0.4).isEmpty)
    // the probe's bucket set must reach the sidecar scan as a pushed
    // parquet predicate — the point-query payoff of the sorted bucket
    // layout; assert on the physical scan's PushedFilters, not folklore.
    // The candidate frame is materialized eagerly inside the lookup (its
    // matched-file set prunes the verify read), so the plan is captured
    // through the audit tap.
    var candPlan: Option[org.apache.spark.sql.DataFrame] = None
    Dedup.lookupAuditHook = Some((_, df) => candPlan = Some(df))
    try Dedup.lookupNearDups(spark, store,
      "the quick brown fox jumps over the lazy dog again and again today", 0.4).collect()
    finally Dedup.lookupAuditHook = None
    assert(candPlan.isDefined, "lookup audit tap never fired")
    val scans = candPlan.get.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    val bandScan = scans.find(_.metadata.getOrElse("Location", "").contains("_bands"))
    assert(bandScan.isDefined, s"no band-sidecar scan in candidate plan")
    val pushed = bandScan.get.metadata.getOrElse("PushedFilters", "")
    assert(pushed.contains("In(bucket") || pushed.contains("EqualTo(bucket"),
      s"bucket predicate not pushed to the sidecar scan: $pushed")
    // dir-pruned verify: the probe only matches doc 1 (dir batch-s0), so
    // the verify's sig scan must read s0 and NOT s1
    val verifyLocs = Dedup.lookupNearDups(spark, store,
      "the quick brown fox jumps over the lazy dog again and again today", 0.4)
      .queryExecution.sparkPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metadata.getOrElse("Location", "")
      }.filter(_.contains("_sigs"))
    assert(verifyLocs.nonEmpty && verifyLocs.forall(l =>
      l.contains("batch-s0") && !l.contains("batch-s1")),
      s"verify read was not dir-pruned to the matched dir: $verifyLocs")
    // and a probe against a store whose sidecars were removed still
    // answers identically through the per-dir fallback
    def rmr(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rmr)); f.delete()
    }
    rmr(new java.io.File(s"${store}_bands"))
    val fallback = Dedup.lookupNearDups(spark, store,
      "the quick brown fox jumps over the lazy dog again and again today", 0.4)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(fallback == Set(1L), s"fallback lookup diverged: $fallback")
  }

  test("lookupNearDupsBatch: one plan for all probes, job count constant in probe count") {
    val root = java.nio.file.Files.createTempDirectory("graft-lookupb").toString
    val store = s"$root/docs"
    val shard1 = fromJsonl(
      """{"doc_id": 1, "text": "the quick brown fox jumps over the lazy dog again and again"}""",
      """{"doc_id": 2, "text": "unrelated words about spark engines and data processing here"}""")
    val shard2 = fromJsonl(
      """{"doc_id": 3, "text": "brand new sentences never observed anywhere previously at all"}""")
    Seq(shard1, shard2).zipWithIndex.foreach { case (sh, i) =>
      Dedup.ingestStep(sh, "doc_id", "text", store, nearThreshold = Some(0.4),
        batchTag = Some(s"s$i"))
    }
    import spark.implicits._
    val probes = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again today"), // ~ doc 1
      (11L, "brand new sentences never observed anywhere previously at all"),     // = doc 3
      (12L, "wholly absent vocabulary zone nothing shared with stored docs"))     // no match
      .toDF("probe_id", "text")
    val rows = Dedup.lookupNearDupsBatch(spark, store, probes, "probe_id", "text", 0.4)
      .collect().map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("doc_id"),
        r.getAs[Double]("jaccard")))
    assert(rows.map(t => (t._1, t._2)).toSet == Set((10L, 1L), (11L, 3L)),
      s"batch lookup hits diverged: ${rows.toSeq}")
    assert(rows.find(_._1 == 11L).get._3 == 1.0, "exact probe must verify at Jaccard 1.0")
    // parity with the point API on the matching probes
    val point = Dedup.lookupNearDups(spark, store,
      "the quick brown fox jumps over the lazy dog again and again today", 0.4)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("jaccard"))).toSet
    assert(point == rows.filter(_._1 == 10L).map(t => (t._2, t._3)).toSet,
      "batch result diverged from the point lookup")
    // job count must be CONSTANT in the probe count — the whole point of
    // the batched form (a per-probe loop would run N× the jobs). Counted
    // via listener with a stability drain (the bus is async).
    def countJobs(f: => Unit): Int = {
      val n = new java.util.concurrent.atomic.AtomicInteger()
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          n.incrementAndGet(); ()
        }
      }
      spark.sparkContext.addSparkListener(l)
      try f finally ()
      var prev = -1; var cur = n.get()
      while (cur != prev) { prev = cur; Thread.sleep(300); cur = n.get() }
      spark.sparkContext.removeSparkListener(l)
      cur
    }
    def run(ps: Seq[(Long, String)]): Unit =
      Dedup.lookupNearDupsBatch(spark, store, ps.toDF("probe_id", "text"),
        "probe_id", "text", 0.4).collect()
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog again and again today",
      "brand new sentences never observed anywhere previously at all",
      "wholly absent vocabulary zone nothing shared with stored docs",
      "yet more disjoint probe material covering nothing already stored")
    val jobs2 = countJobs(run((0 until 2).map(i => (i.toLong, texts(i % 4)))))
    val jobs8 = countJobs(run((0 until 8).map(i => (i.toLong, texts(i % 4)))))
    assert(jobs8 <= jobs2 + 1,
      s"job count grew with probe count: $jobs2 jobs at 2 probes vs $jobs8 at 8")
  }

  test("compactIngestStore re-buckets the band index by size; pin semantics across the change") {
    // the rule itself: power-of-two, floored at the default, monotone,
    // capped — keeps per-bucket index volume ~constant as the store grows
    assert(Dedup.scaledBandBuckets(0L) == 64)
    assert(Dedup.scaledBandBuckets(64L * 64000L) == 64)
    assert(Dedup.scaledBandBuckets(64L * 64000L + 1) == 128)
    // the two measured-good choices the r13 bucket-count sweep settled:
    // 800k docs x 16 bands -> 256, 3M docs x 16 bands -> 1024
    assert(Dedup.scaledBandBuckets(800000L * 16) == 256)
    assert(Dedup.scaledBandBuckets(3000000L * 16) == 1024)
    assert(Dedup.scaledBandBuckets(Long.MaxValue / 4) == 8192)
    // end-to-end with a forced-tiny target so a 4-doc fixture crosses the
    // rule: compaction must GROW the bucket count, write the new pin
    // before the band dir, and every later reader/writer of the compacted
    // root must adopt the new function
    val root = java.nio.file.Files.createTempDirectory("graft-rebucket").toString
    val store = s"$root/docs"
    Dedup.ingestStep(fromJsonl(
      """{"doc_id": 1, "text": "the quick brown fox jumps over the lazy dog again and again"}""",
      """{"doc_id": 2, "text": "unrelated words about spark engines and data processing here"}""",
      """{"doc_id": 3, "text": "brand new sentences never observed anywhere previously at all"}""",
      """{"doc_id": 4, "text": "fourth document body carrying its own wholly distinct wording"}""",
      """{"doc_id": 5, "text": "a fifth standalone document keeps the fixture above the tiny target"}"""),
      "doc_id", "text", store, nearThreshold = Some(0.4), batchTag = Some("s0"))
    def pinnedBuckets(bandsPath: String): Int = {
      val src = scala.io.Source.fromFile(s"$bandsPath/_params.json", "UTF-8")
      val s = try src.mkString finally src.close()
      """"buckets"\s*:\s*(\d+)""".r.findFirstMatchIn(s).get.group(1).toInt
    }
    assert(pinnedBuckets(s"${store}_bands") == 64, "fresh store must pin the default")
    // 5 docs x 16 bands = 80 band rows; target 1 row/bucket -> 64*1 < 80 -> 128
    Dedup.compactIngestStore(spark, store, s"$root/comp", "text",
      bandBucketTargetRows = 1L)
    assert(pinnedBuckets(s"$root/comp_bands") == 128,
      "compaction did not re-bucket by the scaled rule")
    // the rebuilt index's bucket column follows the NEW pinned function
    val bandRows = spark.read.parquet(s"$root/comp_bands/batch-compacted")
      .select(col("bucket"), pmod(xxhash64(col("band"), col("band_key")),
        lit(128L)).cast("int").as("expect")).collect()
    assert(bandRows.nonEmpty && bandRows.forall(r => r.getInt(0) == r.getInt(1)),
      "rebuilt band index bucket values disagree with the new pin")
    // a point probe against the re-bucketed store still answers exactly
    val hit = Dedup.lookupNearDups(spark, s"$root/comp",
      "the quick brown fox jumps over the lazy dog again and again today", 0.4)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(hit == Set(1L), s"probe against re-bucketed store diverged: $hit")
    // a later ingest into the compacted root adopts the 128-bucket pin:
    // its near-dup still dies, and its own sidecar rows use the new function
    Dedup.ingestStep(fromJsonl(
      """{"doc_id": 6, "text": "brand new sentences never observed anywhere previously at all!"}""", // near-dup of 3
      """{"doc_id": 7, "text": "seventh body sharing nothing with any earlier ingested document"}"""),
      "doc_id", "text", s"$root/comp", nearThreshold = Some(0.4), batchTag = Some("s1"))
    val survivors = Dedup.readStore(spark, s"$root/comp").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(survivors == Set(1L, 2L, 3L, 4L, 5L, 7L), s"post-rebucket ingest diverged: $survivors")
    val s1Rows = spark.read.parquet(s"$root/comp_bands/batch-s1")
      .select(col("bucket"), pmod(xxhash64(col("band"), col("band_key")),
        lit(128L)).cast("int").as("expect")).collect()
    assert(s1Rows.nonEmpty && s1Rows.forall(r => r.getInt(0) == r.getInt(1)),
      "later ingest's sidecar did not adopt the re-bucketed pin")
    // monotone: re-compacting at the DEFAULT target (scaled = 64 < pin)
    // must keep 128 — probes never lose pruning resolution
    Dedup.compactIngestStore(spark, s"$root/comp", s"$root/comp2", "text")
    assert(pinnedBuckets(s"$root/comp2_bands") == 128,
      "re-compaction shrank the pinned bucket count")
    // and an explicit override still wins over both pin and rule (the
    // auto-compact swap relies on this to keep the live pin mid-swap)
    Dedup.compactIngestStore(spark, s"$root/comp", s"$root/comp3", "text",
      bandBuckets = Some(64), bandBucketTargetRows = 1L)
    assert(pinnedBuckets(s"$root/comp3_bands") == 64,
      "explicit bandBuckets override did not win")
  }

  test("mergeIngestStores: replaying src into dst equals direct ingest; overlap refused") {
    val root = java.nio.file.Files.createTempDirectory("graft-merge").toString
    def buildBase(path: String): Unit = {
      Dedup.ingestStep(fromJsonl(
        """{"doc_id": 1, "text": "the quick brown fox jumps over the lazy dog again and again"}""",
        """{"doc_id": 2, "text": "unrelated words about spark engines and data processing here"}"""),
        "doc_id", "text", path, nearThreshold = Some(0.4), batchTag = Some("s0"))
      Dedup.ingestStep(fromJsonl(
        """{"doc_id": 3, "text": "brand new sentences never observed anywhere previously at all"}"""),
        "doc_id", "text", path, nearThreshold = Some(0.4), batchTag = Some("s1"))
    }
    // dst and an identically-built control
    buildBase(s"$root/a"); buildBase(s"$root/c")
    // src: built INDEPENDENTLY (its own in-batch near dedup: 13 dies
    // against 12 at build time), two batch dirs
    val b0 = fromJsonl(
      """{"doc_id": 10, "text": "the quick brown fox jumps over the lazy dog again and again today"}""", // near-dup of dst's 1
      """{"doc_id": 11, "text": "eleventh body sharing nothing with any other document anywhere"}""",    // novel
      """{"doc_id": 12, "text": "twelfth text with its own private vocabulary zone entirely"}""",
      """{"doc_id": 13, "text": "twelfth text with its own private vocabulary zone entirely!"}""")       // near-dup of 12, dies in src
    val b1 = fromJsonl(
      """{"doc_id": 14, "text": "twelfth text with its own private vocabulary zone entirely?"}""")       // near-dup of 12, dies cross-batch in src
    Dedup.ingestStep(b0, "doc_id", "text", s"$root/b", nearThreshold = Some(0.4), batchTag = Some("t0"))
    Dedup.ingestStep(b1, "doc_id", "text", s"$root/b", nearThreshold = Some(0.4), batchTag = Some("t1"))
    val srcSurvivors = Dedup.readStore(spark, s"$root/b").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(srcSurvivors == Set(10L, 11L, 12L), s"src build diverged: $srcSurvivors")
    // merge src into dst; control ingests the same surviving dirs directly.
    // src was built with the SAME sig params, so the replay must take the
    // sidecar-REUSE path (no re-shingle) — the phase hook proves it, and
    // the equality with the re-shingling direct-ingest control below
    // proves reuse is answer-identical
    val phasesSeen = scala.collection.mutable.Set[String]()
    Dedup.phaseHook = Some((name, _) => { phasesSeen += name; () })
    try assert(Dedup.mergeIngestStores(spark, s"$root/a", s"$root/b", "doc_id", "text",
      nearThreshold = Some(0.4)) == 2)
    finally Dedup.phaseHook = None
    assert(phasesSeen.contains("sig_reuse") && !phasesSeen.contains("sig_build"),
      s"pin-matched merge did not take the sidecar-reuse path: $phasesSeen")
    Seq("batch-t0", "batch-t1").foreach { t =>
      Dedup.ingestStep(spark.read.parquet(s"$root/b/$t"), "doc_id", "text",
        s"$root/c", nearThreshold = Some(0.4))
    }
    val merged = Dedup.readStore(spark, s"$root/a").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val control = Dedup.readStore(spark, s"$root/c").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(merged == control, s"merge diverged from direct ingest: $merged vs $control")
    // dst's 1 survives its near-dup 10; src's novel docs land
    assert(merged == Set(1L, 2L, 3L, 11L, 12L), s"merged survivors: $merged")
    // overlapping roots refuse before anything is written
    intercept[IllegalArgumentException] {
      Dedup.mergeIngestStores(spark, s"$root/a", s"$root/a/batch-s0", "doc_id", "text")
    }
    // SIBLING-root hazard: src = dst's own _sigs root passes a primary-vs-
    // primary check, yet the replay would write dst's sig sidecar straight
    // into the src store — the 4x4 family check must refuse both ways
    intercept[IllegalArgumentException] {
      Dedup.mergeIngestStores(spark, s"$root/a", s"$root/a_sigs", "doc_id", "text")
    }
    intercept[IllegalArgumentException] {
      Dedup.mergeIngestStores(spark, s"$root/a_sigs", s"$root/a", "doc_id", "text")
    }
    // and a crashed merge resumes idempotently: re-running replays each
    // batch onto its own digest tag — survivors unchanged
    assert(Dedup.mergeIngestStores(spark, s"$root/a", s"$root/b", "doc_id", "text",
      nearThreshold = Some(0.4)) == 2)
    val rerun = Dedup.readStore(spark, s"$root/a").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(rerun == merged, s"re-run merge diverged: $rerun")
    // an EXACT-ONLY-built src merges into a near-tier dst fine: the replay
    // re-derives signatures from text, so src's missing sidecars are
    // irrelevant — only the DST must be signed (coverage guard's concern)
    Dedup.ingestStep(fromJsonl(
      """{"doc_id": 20, "text": "the quick brown fox jumps over the lazy dog again and again!"}""", // near-dup of dst's 1
      """{"doc_id": 21, "text": "twenty first body with vocabulary shared by no other document"}"""),
      "doc_id", "text", s"$root/e", batchTag = Some("x0")) // exact-only build: no sigs
    assert(!new java.io.File(s"$root/e_sigs").exists())
    val phasesExactSrc = scala.collection.mutable.Set[String]()
    Dedup.phaseHook = Some((name, _) => { phasesExactSrc += name; () })
    try assert(Dedup.mergeIngestStores(spark, s"$root/a", s"$root/e", "doc_id", "text",
      nearThreshold = Some(0.4)) == 1)
    finally Dedup.phaseHook = None
    assert(phasesExactSrc.contains("sig_build") && !phasesExactSrc.contains("sig_reuse"),
      s"sig-less src must fall back to re-shingling: $phasesExactSrc")
    val afterExactSrc = Dedup.readStore(spark, s"$root/a").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(afterExactSrc == merged + 21L, s"exact-only src merge diverged: $afterExactSrc")
  }

  test("backfillSigStore: exact-only store upgraded to the near tier; partial loss refused then healed") {
    val root = java.nio.file.Files.createTempDirectory("graft-backfill").toString
    val store = s"$root/docs"
    // two shards ingested EXACT-ONLY — no sig/band sidecars exist
    Dedup.ingestStep(fromJsonl(
      """{"doc_id": 1, "text": "the quick brown fox jumps over the lazy dog again and again"}""",
      """{"doc_id": 2, "text": "unrelated words about spark engines and data processing here"}"""),
      "doc_id", "text", store, batchTag = Some("s0"))
    Dedup.ingestStep(fromJsonl(
      """{"doc_id": 3, "text": "brand new sentences never observed anywhere previously at all"}"""),
      "doc_id", "text", store, batchTag = Some("s1"))
    assert(!new java.io.File(s"${store}_sigs").exists())
    // switching to the near tier against the unsigned store must refuse
    // LOUDLY (silent skip = permanent recall loss), naming the remedy
    val err = intercept[graft.model.ValidationError] {
      Dedup.ingestStep(fromJsonl(
        """{"doc_id": 4, "text": "wholly novel fourth document body with its own words"}"""),
        "doc_id", "text", store, nearThreshold = Some(0.4), batchTag = Some("s2"))
    }
    assert(err.getMessage.contains("backfillSigStore"), s"guard message: ${err.getMessage}")
    // backfill: one scan per missing dir; sig + band sidecars + pins appear
    assert(Dedup.backfillSigStore(spark, store, "doc_id", "text") == 2)
    assert(new java.io.File(s"${store}_sigs/_params.json").exists(), "sig pin not written")
    assert(new java.io.File(s"${store}_bands/_params.json").exists(), "band pin not written")
    for (tag <- Seq("batch-s0", "batch-s1")) {
      assert(new java.io.File(s"${store}_sigs/$tag/_SUCCESS").exists(), s"no sig dir for $tag")
      // the backfilled band sidecar IS the banding of its sig dir
      val sigDir = spark.read.parquet(s"${store}_sigs/$tag")
      val expect = sigDir.select(col("doc_id"),
        posexplode(Kernels.bandKeysKernel(16, 4)(col("sig"))).as(Seq("band", "band_key")))
      val got = spark.read.parquet(s"${store}_bands/$tag")
        .select(col("doc_id"), col("band"), col("band_key"))
      assert(got.exceptAll(expect).isEmpty && expect.exceptAll(got).isEmpty,
        s"backfilled band sidecar $tag does not match its sig dir's banding")
    }
    // idempotent: nothing left to backfill
    assert(Dedup.backfillSigStore(spark, store, "doc_id", "text") == 0)
    // mismatched parameters refuse instead of mixing shingle functions
    intercept[graft.model.ValidationError] {
      Dedup.backfillSigStore(spark, store, "doc_id", "text", shingleSize = 5)
    }
    // the near tier now sees the backfilled shards: a near-dup of doc 1
    // dies cross-store, a novel doc survives
    Dedup.ingestStep(fromJsonl(
      """{"doc_id": 5, "text": "the quick brown fox jumps over the lazy dog again and again today"}""", // near-dup of 1
      """{"doc_id": 6, "text": "sixth body sharing nothing with any earlier ingested document"}"""),
      "doc_id", "text", store, nearThreshold = Some(0.4), batchTag = Some("s2"))
    val survivors = Dedup.readStore(spark, store).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(survivors == Set(1L, 2L, 3L, 6L), s"post-backfill near ingest diverged: $survivors")
    // PARTIAL loss (crash between store_write and sig_write, retry never
    // ran): the coverage guard must refuse tag-set-exactly, and a backfill
    // of just that dir restores detection against its documents
    def rmr(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rmr)); f.delete()
    }
    rmr(new java.io.File(s"${store}_sigs/batch-s1"))
    val err2 = intercept[graft.model.ValidationError] {
      Dedup.ingestStep(fromJsonl(
        """{"doc_id": 7, "text": "some totally different seventh body of text here"}"""),
        "doc_id", "text", store, nearThreshold = Some(0.4), batchTag = Some("s3"))
    }
    assert(err2.getMessage.contains("batch-s1"), s"guard message: ${err2.getMessage}")
    assert(Dedup.backfillSigStore(spark, store, "doc_id", "text") == 1)
    Dedup.ingestStep(fromJsonl(
      """{"doc_id": 8, "text": "brand new sentences never observed anywhere previously at all!"}"""), // near-dup of 3 (dir s1)
      "doc_id", "text", store, nearThreshold = Some(0.4), batchTag = Some("s3"))
    val after = Dedup.readStore(spark, store).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(after == Set(1L, 2L, 3L, 6L), s"re-backfilled dir lost recall: $after")
  }

  test("backfillSigStore: a crash-left sig FRAGMENT is re-signed, not skipped as complete") {
    // a backfill (or ingest) crash mid-sig-write leaves a partial
    // batch-<tag> under _sigs with no _SUCCESS marker — Spark creates the
    // directory at job setup, so keying the skip set on dir EXISTENCE
    // would treat the fragment as the tag's complete signatures: the
    // coverage guard then accepts the tag and every future near-tier
    // batch checks against partial signatures — silent recall loss
    val root = java.nio.file.Files.createTempDirectory("graft-backfill-frag").toString
    val store = s"$root/docs"
    Dedup.ingestStep(fromJsonl(
      """{"doc_id": 1, "text": "the quick brown fox jumps over the lazy dog again and again"}"""),
      "doc_id", "text", store, batchTag = Some("s0"))
    Dedup.ingestStep(fromJsonl(
      """{"doc_id": 2, "text": "brand new sentences never observed anywhere previously at all"}"""),
      "doc_id", "text", store, batchTag = Some("s1"))
    assert(Dedup.backfillSigStore(spark, store, "doc_id", "text") == 2)
    // simulate the crash: drop s1's marker and one data file — the dir
    // EXISTS but is a fragment the trust gate must treat as absent
    val sigDir = new java.io.File(s"${store}_sigs/batch-s1")
    assert(new java.io.File(sigDir, "_SUCCESS").delete())
    sigDir.listFiles().filter(_.getName.endsWith(".parquet")).take(1).foreach(f => assert(f.delete()))
    // the re-run must RE-SIGN the fragment dir (pre-fix it returned 0,
    // leaving the fragment permanently trusted by the coverage guard)
    assert(Dedup.backfillSigStore(spark, store, "doc_id", "text") == 1,
      "fragment sig dir was skipped as complete")
    assert(new java.io.File(sigDir, "_SUCCESS").exists(), "re-signed dir lacks _SUCCESS")
    // and detection against s1's documents is whole again
    Dedup.ingestStep(fromJsonl(
      """{"doc_id": 3, "text": "brand new sentences never observed anywhere previously at all!"}"""), // near-dup of 2
      "doc_id", "text", store, nearThreshold = Some(0.4), batchTag = Some("s2"))
    val survivors = Dedup.readStore(spark, store).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(survivors == Set(1L, 2L), s"fragment re-sign lost recall: $survivors")
  }

  test("autoCompactIngestStore: a pin-less pre-sidecar store gains a live pin matching the staged index") {
    // the pre-sidecar upgrade path: a store built before band sidecars has
    // NO _bands root at all. Auto-compaction regenerates the index — and
    // must bucket it at the exact function the next writer will pin, then
    // record that pin in the live root itself, or a later default change
    // leaves rows bucketed under one function and pinned under another
    // (bucket-pruned probes then silently miss candidates)
    val root = java.nio.file.Files.createTempDirectory("graft-autocompact-pinless").toString
    val store = s"$root/docs"
    Dedup.ingestStep(fromJsonl(
      """{"doc_id": 1, "text": "the quick brown fox jumps over the lazy dog again and again"}""",
      """{"doc_id": 2, "text": "unrelated words about spark engines and data processing here"}"""),
      "doc_id", "text", store, nearThreshold = Some(0.4), batchTag = Some("s0"))
    Dedup.ingestStep(fromJsonl(
      """{"doc_id": 3, "text": "brand new sentences never observed anywhere previously at all"}"""),
      "doc_id", "text", store, nearThreshold = Some(0.4), batchTag = Some("s1"))
    // erase the band family entirely — the pin-less legacy layout
    def rmr(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rmr)); f.delete()
    }
    rmr(new java.io.File(s"${store}_bands"))
    // a changed session default (the exact hazard: the staged index and a
    // later writer's fresh pin must still agree)
    val prior = Dedup.bandSidecarBuckets
    try {
      Dedup.bandSidecarBuckets = 128
      assert(Dedup.autoCompactIngestStore(spark, store, "text", maxDirs = 2))
      val pin = {
        val src = scala.io.Source.fromFile(s"${store}_bands/_params.json", "UTF-8")
        try src.mkString finally src.close()
      }
      assert(""""buckets"\s*:\s*(\d+)""".r.findFirstMatchIn(pin).get.group(1).toInt == 128,
        s"live pin after pin-less auto-compact: $pin")
      val bandRows = spark.read.parquet(
        Dedup.listBatchDirs(spark, s"${store}_bands"): _*)
        .select(col("bucket"), pmod(xxhash64(col("band"), col("band_key")),
          lit(128L)).cast("int").as("expect")).collect()
      assert(bandRows.nonEmpty && bandRows.forall(r => r.getInt(0) == r.getInt(1)),
        "staged band index bucketed under a different function than the live pin")
      // a later writer (back at the old default) ADOPTS the recorded pin
      Dedup.bandSidecarBuckets = prior
      Dedup.ingestStep(fromJsonl(
        """{"doc_id": 4, "text": "the quick brown fox jumps over the lazy dog again and again!"}""", // near-dup of 1
        """{"doc_id": 5, "text": "fifth body sharing nothing with any earlier ingested document"}"""),
        "doc_id", "text", store, nearThreshold = Some(0.4), batchTag = Some("s2"))
      val survivors = Dedup.readStore(spark, store).select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(survivors == Set(1L, 2L, 3L, 5L), s"post-swap ingest diverged: $survivors")
      val s2Rows = spark.read.parquet(s"${store}_bands/batch-s2")
        .select(col("bucket"), pmod(xxhash64(col("band"), col("band_key")),
          lit(128L)).cast("int").as("expect")).collect()
      assert(s2Rows.nonEmpty && s2Rows.forall(r => r.getInt(0) == r.getInt(1)),
        "later ingest did not adopt the swap-recorded pin")
      // and the bucket-pruned point probe answers exactly against both
      // the compacted and the fresh rows
      val hit = Dedup.lookupNearDups(spark, store,
        "brand new sentences never observed anywhere previously at all?", 0.4)
        .collect().map(_.getAs[Long]("doc_id")).toSet
      assert(hit == Set(3L), s"probe against pin-less-upgraded store diverged: $hit")
    } finally Dedup.bandSidecarBuckets = prior
  }

  test("removeFromIngestStore: tombstoned docs stop answering reads, lookups, and dedup; compaction applies the deletes") {
    val root = java.nio.file.Files.createTempDirectory("graft-tombstone").toString
    val store = s"$root/docs"
    val bodies = Map(
      1L -> "alpha document speaks entirely about mountain weather patterns and snowfall",
      2L -> "beta text covers oceanic current measurements with buoy telemetry data",
      3L -> "gamma report describes desert irrigation schedules for arid farmland zones")
    Dedup.ingestStep(fromJsonl(
      s"""{"doc_id": 1, "text": "${bodies(1L)}"}""",
      s"""{"doc_id": 2, "text": "${bodies(2L)}"}"""),
      "doc_id", "text", store, nearThreshold = Some(0.4), batchTag = Some("s0"),
      exactArmMinStoreBytes = 0L)
    Dedup.ingestStep(fromJsonl(
      s"""{"doc_id": 3, "text": "${bodies(3L)}"}"""),
      "doc_id", "text", store, nearThreshold = Some(0.4), batchTag = Some("s1"),
      exactArmMinStoreBytes = 0L)
    // remove doc 1 (GDPR-style predicate over the store's own columns)
    assert(Dedup.removeFromIngestStore(spark, store, "doc_id", col("doc_id") === 1) == 1L)
    // idempotent: the row is no longer live, a re-remove is a no-op
    assert(Dedup.removeFromIngestStore(spark, store, "doc_id", col("doc_id") === 1) == 0L)
    // a different id-column pin refuses (exclusion would silently miss)
    intercept[graft.model.ValidationError] {
      Dedup.removeFromIngestStore(spark, store, "text", col("doc_id") === 2)
    }
    // readStore excludes immediately
    assert(Dedup.readStore(spark, store).select("doc_id")
      .collect().map(_.getLong(0)).toSet == Set(2L, 3L))
    // lookups no longer answer with the removed doc
    assert(Dedup.lookupNearDups(spark, store, bodies(1L) + " today", 0.4).isEmpty)
    assert(Dedup.lookupNearDupsBatch(spark, store,
      fromJsonl(s"""{"doc_id": 9, "text": "${bodies(1L)} today"}"""),
      "doc_id", "text", 0.4).isEmpty)
    // ...while live docs still answer
    assert(Dedup.lookupNearDups(spark, store, bodies(3L) + " today", 0.4)
      .collect().map(_.getAs[Long]("doc_id")).toSet == Set(3L))
    // the DELETE-THEN-REINGEST contract: an exact copy AND a near-dup of
    // the removed content both land live (new tag); near-dups of LIVE
    // docs still die
    Dedup.ingestStep(fromJsonl(
      s"""{"doc_id": 11, "text": "${bodies(1L)}"}""",          // exact copy of removed 1
      s"""{"doc_id": 12, "text": "${bodies(2L)} today"}"""),   // near-dup of live 2
      "doc_id", "text", store, nearThreshold = Some(0.4), batchTag = Some("s2"),
      exactArmMinStoreBytes = 0L)
    val afterReingest = Dedup.readStore(spark, store).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(afterReingest == Set(2L, 3L, 11L), s"re-ingest after removal diverged: $afterReingest")
    // near-dup of the re-ingested copy dies against IT (not its ghost)
    Dedup.ingestStep(fromJsonl(
      s"""{"doc_id": 13, "text": "${bodies(1L)} tonight"}"""),
      "doc_id", "text", store, nearThreshold = Some(0.4), batchTag = Some("s3"),
      exactArmMinStoreBytes = 0L)
    assert(Dedup.readStore(spark, store).select("doc_id")
      .collect().map(_.getLong(0)).toSet == Set(2L, 3L, 11L))
    // remove 3 too, then COMPACT: physical removal, tombstones consumed
    assert(Dedup.removeFromIngestStore(spark, store, "doc_id", col("doc_id") === 3) == 1L)
    Dedup.compactIngestStore(spark, store, s"$root/comp", "text")
    assert(!new java.io.File(s"$root/comp_tombstones").exists(),
      "compaction must not carry a tombstone root to the output")
    val compDocs = Dedup.readStore(spark, s"$root/comp").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(compDocs == Set(2L, 11L), s"compacted survivors: $compDocs")
    // physically gone: the raw parquet union holds no removed rows
    assert(spark.read.parquet(s"$root/comp/batch-compacted")
      .filter(col("doc_id").isin(1L, 3L)).isEmpty)
    // the compacted SIG store holds no removed signatures either (they
    // would resurface as candidates under the batch-compacted tag)
    assert(spark.read.parquet(s"$root/comp_sigs/batch-compacted")
      .filter(col("doc_id").isin(1L, 3L)).isEmpty)
    // near-dup of removed 3 lands live post-compaction
    Dedup.ingestStep(fromJsonl(
      s"""{"doc_id": 23, "text": "${bodies(3L)} tonight"}"""),
      "doc_id", "text", s"$root/comp", nearThreshold = Some(0.4), batchTag = Some("s4"),
      exactArmMinStoreBytes = 0L)
    assert(Dedup.readStore(spark, s"$root/comp").select("doc_id")
      .collect().map(_.getLong(0)).toSet == Set(2L, 11L, 23L))
  }

  test("removeFromIngestStore: auto-compaction consumes tombstones in place; merge replays only live src rows") {
    val root = java.nio.file.Files.createTempDirectory("graft-tombstone-ac").toString
    val store = s"$root/docs"
    Dedup.ingestStep(fromJsonl(
      """{"doc_id": 1, "text": "alpha document speaks entirely about mountain weather patterns and snowfall"}""",
      """{"doc_id": 2, "text": "beta text covers oceanic current measurements with buoy telemetry data"}"""),
      "doc_id", "text", store, nearThreshold = Some(0.4), batchTag = Some("s0"))
    Dedup.ingestStep(fromJsonl(
      """{"doc_id": 3, "text": "gamma report describes desert irrigation schedules for arid farmland zones"}"""),
      "doc_id", "text", store, nearThreshold = Some(0.4), batchTag = Some("s1"))
    assert(Dedup.removeFromIngestStore(spark, store, "doc_id", col("doc_id") === 2) == 1L)
    assert(Dedup.autoCompactIngestStore(spark, store, "text", maxDirs = 2))
    assert(!new java.io.File(s"${store}_tombstones").exists(),
      "in-place compaction must delete the consumed tombstone root")
    assert(Dedup.readStore(spark, store).select("doc_id")
      .collect().map(_.getLong(0)).toSet == Set(1L, 3L))
    // the tombstone ledger COUNTS toward the auto-compact threshold: a
    // removal-heavy store (small removals, no new ingest dirs) must still
    // compact — and apply its deletes physically — at the threshold
    Dedup.ingestStep(fromJsonl(
      """{"doc_id": 4, "text": "delta memo lists greenhouse ventilation routines for alpine nurseries"}"""),
      "doc_id", "text", store, nearThreshold = Some(0.4), batchTag = Some("s2"))
    assert(Dedup.removeFromIngestStore(spark, store, "doc_id", col("doc_id") === 1) == 1L)
    // 2 primary dirs + 1 tombstone dir < 4: below threshold, nothing runs
    assert(!Dedup.autoCompactIngestStore(spark, store, "text", maxDirs = 4))
    assert(new java.io.File(s"${store}_tombstones").exists())
    // a second small removal, still no new ingest dir: 2 + 2 = 4 triggers
    assert(Dedup.removeFromIngestStore(spark, store, "doc_id", col("doc_id") === 3) == 1L)
    assert(Dedup.autoCompactIngestStore(spark, store, "text", maxDirs = 4))
    assert(!new java.io.File(s"${store}_tombstones").exists(),
      "removal-triggered compaction must consume the ledger")
    assert(Dedup.readStore(spark, store).select("doc_id")
      .collect().map(_.getLong(0)).toSet == Set(4L))
    // merge: a src store with tombstones replays only its LIVE rows
    val src = s"$root/src"
    Dedup.ingestStep(fromJsonl(
      """{"doc_id": 10, "text": "tenth body carrying its own wholly distinct wording zone"}""",
      """{"doc_id": 11, "text": "eleventh text with private vocabulary shared by no other doc"}"""),
      "doc_id", "text", src, nearThreshold = Some(0.4), batchTag = Some("t0"))
    assert(Dedup.removeFromIngestStore(spark, src, "doc_id", col("doc_id") === 10) == 1L)
    assert(Dedup.mergeIngestStores(spark, store, src, "doc_id", "text",
      nearThreshold = Some(0.4)) == 1)
    assert(Dedup.readStore(spark, store).select("doc_id")
      .collect().map(_.getLong(0)).toSet == Set(4L, 11L),
      "merge resurrected a tombstoned src row")
  }

  test("ingestStep: a retried tag's stale-complete sidecars are dropped before the overwrite") {
    // a PRIOR completed attempt leaves _SUCCESS-marked hash/band sidecars;
    // a retry that rewrites the primary dir and crashes before its own
    // sidecar writes must not leave those stale-complete sidecars trusted
    // against the rewritten dir (the fragment hardening only covers
    // partial, unmarked sidecars)
    val root = java.nio.file.Files.createTempDirectory("graft-stale-sidecar").toString
    val store = s"$root/docs"
    val shard = fromJsonl(
      """{"doc_id": 1, "text": "first retried document body with several words"}""",
      """{"doc_id": 2, "text": "second retried document body with other words"}""")
    Dedup.ingestStep(shard, "doc_id", "text", store, nearThreshold = Some(0.4),
      batchTag = Some("t"), exactArmMinStoreBytes = 0L)
    assert(new java.io.File(s"${store}_hashes/batch-t/_SUCCESS").exists())
    assert(new java.io.File(s"${store}_bands/batch-t/_SUCCESS").exists())
    // retry the SAME tag, crashing right after the store-dir write (the
    // phase hook throws once store_write completes)
    Dedup.phaseHook = Some((name, _) =>
      if (name == "store_write") throw new RuntimeException("injected crash after store_write"))
    try intercept[RuntimeException] {
      Dedup.ingestStep(shard, "doc_id", "text", store, nearThreshold = Some(0.4),
        batchTag = Some("t"), exactArmMinStoreBytes = 0L)
    } finally Dedup.phaseHook = None
    assert(!new java.io.File(s"${store}_hashes/batch-t").exists(),
      "stale-complete hash sidecar survived the retry's store overwrite")
    assert(!new java.io.File(s"${store}_bands/batch-t").exists(),
      "stale-complete band sidecar survived the retry's store overwrite")
    // completing the retry converges: sidecars rewritten whole + marked,
    // survivors unchanged
    Dedup.ingestStep(shard, "doc_id", "text", store, nearThreshold = Some(0.4),
      batchTag = Some("t"), exactArmMinStoreBytes = 0L)
    assert(new java.io.File(s"${store}_hashes/batch-t/_SUCCESS").exists())
    assert(new java.io.File(s"${store}_bands/batch-t/_SUCCESS").exists())
    val ids = Dedup.readStore(spark, store).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 2L), s"retry convergence broke survivorship: $ids")
  }

  test("ingestStep: cross-store verify reads only matched sig dirs, id-range pushed to the scan") {
    // the bounded verify fetch: candidates carry their batch-dir tag, so
    // the exact-Jaccard verify must scan ONLY the sig dirs that produced a
    // candidate — with the candidates' doc_id ranges pushed into the
    // parquet read — instead of the whole store (the r12 verdict's last
    // O(store)-per-batch cost)
    val root = java.nio.file.Files.createTempDirectory("graft-verify-prune").toString
    val store = s"$root/docs"
    val shard1 = fromJsonl(
      """{"doc_id": 1, "text": "the quick brown fox jumps over the lazy dog again and again"}""",
      """{"doc_id": 2, "text": "unrelated words about spark engines and data processing here"}""")
    val shard2 = fromJsonl(
      """{"doc_id": 3, "text": "completely different vocabulary zone discussing culinary recipes tonight"}""",
      """{"doc_id": 4, "text": "yet another disjoint subject area covering alpine hiking routes"}""")
    Seq(shard1, shard2).zipWithIndex.foreach { case (sh, i) =>
      Dedup.ingestStep(sh, "doc_id", "text", store, nearThreshold = Some(0.4),
        batchTag = Some(s"s$i"))
    }
    // batch 3: a near-dup of doc 1 (dir s0's vocabulary) + a novel doc —
    // candidates can only arise in batch-s0
    var keepPlan: Option[org.apache.spark.sql.DataFrame] = None
    Dedup.planAuditHook = Some((n, df) => if (n == "ingest_keep_sigs") keepPlan = Some(df))
    try Dedup.ingestStep(fromJsonl(
      """{"doc_id": 5, "text": "the quick brown fox jumps over the lazy dog again and again today"}""",
      """{"doc_id": 6, "text": "wholly novel sixth subject matter with fresh original material"}"""),
      "doc_id", "text", store, nearThreshold = Some(0.4), batchTag = Some("s2"))
    finally Dedup.planAuditHook = None
    // correctness first: the near-dup died, the novel doc survived
    val ids = Dedup.readStore(spark, store).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 2L, 3L, 4L, 6L), s"survivorship diverged under the verify prune: $ids")
    // the verify's sig scans: matched dir only (batch-s0, not batch-s1),
    // with the candidate id range pushed into the parquet read
    assert(keepPlan.isDefined, "ingest_keep_sigs audit tap never fired")
    // sparkPlan, not executedPlan: AQE wraps the latter in an
    // AdaptiveSparkPlanExec leaf whose inner plan a tree collect can't see
    val sigScans = keepPlan.get.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
        if s.metadata.getOrElse("Location", "").contains("_sigs") => s
    }
    assert(sigScans.nonEmpty, "no sig-store scan in the keep-sigs plan")
    val locs = sigScans.map(_.metadata.getOrElse("Location", ""))
    assert(locs.forall(l => l.contains("batch-s0") && !l.contains("batch-s1")),
      s"verify fetch was not pruned to the matched dir: $locs")
    assert(sigScans.exists(_.metadata.getOrElse("PushedFilters", "").contains("doc_id")),
      s"candidate id range not pushed to the sig scan: " +
        sigScans.map(_.metadata.getOrElse("PushedFilters", "")).mkString("; "))
  }

  test("compactIngestStore: band index range-partitioned — no empty files, quasi-disjoint bucket ranges") {
    val root = java.nio.file.Files.createTempDirectory("graft-compact-range").toString
    // enough signature bytes that targetFileMB=1 packs several output
    // files (the hash-repartition pathology this layout replaces left
    // empties whenever nSig exceeded the 64 distinct bucket values)
    val docs = spark.range(6000).select(col("id").as("doc_id"),
      concat_ws(" ", (0 until 12).map(i =>
        concat(lit("w"), pmod(col("id") * 31 + i, lit(9999)).cast("string"))): _*).as("text"))
    Dedup.ingestStep(docs.toDF(), "doc_id", "text", s"$root/old",
      nearThreshold = Some(0.9), batchTag = Some("s0"))
    Dedup.compactIngestStore(spark, s"$root/old", s"$root/new", "text", targetFileMB = 1)
    val bandDir = s"$root/new_bands/batch-compacted"
    val partFiles = new java.io.File(bandDir).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(partFiles.length > 1, s"expected several band files, got ${partFiles.length} — " +
      "the multi-file layout assertion is vacuous otherwise")
    val perFile = spark.read.parquet(bandDir)
      .groupBy(input_file_name().as("f"))
      .agg(min(col("bucket")).as("lo"), max(col("bucket")).as("hi"), count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getLong(3)))
    assert(perFile.length == partFiles.length,
      s"${partFiles.length - perFile.length} empty band file(s): range partitioning should fill every file")
    // files hold contiguous (bucket, band_key) ranges: sorted by lo, each
    // file's bucket range may only touch its neighbor at the boundary value
    val sorted = perFile.sortBy(_._2)
    sorted.sliding(2).foreach {
      case Array((fa, _, hiA, _), (fb, loB, _, _)) =>
        assert(hiA <= loB, s"bucket ranges overlap beyond a boundary: $fa hi=$hiA vs $fb lo=$loB")
      case _ =>
    }
  }

  test("ingestStep: default tag separates same-ids/different-content re-ingests") {
    // stable-id recrawl: the second one-shot ingest reuses ids 1-2 with new
    // content. With an id-only digest both batches would share a tag and the
    // second overwrite would silently delete the first batch's survivors
    // while skipping dedup against them.
    val store = java.nio.file.Files.createTempDirectory("graft-recrawl").toString + "/docs"
    val crawl1 = fromJsonl(
      """{"doc_id": 1, "text": "original page one content from the first crawl pass"}""",
      """{"doc_id": 2, "text": "original page two content from the first crawl pass"}""")
    val crawl2 = fromJsonl(
      """{"doc_id": 1, "text": "updated page one content from the second crawl pass"}""",
      """{"doc_id": 2, "text": "original page two content from the first crawl pass"}""") // unchanged
    Dedup.ingestStep(crawl1, "doc_id", "text", store) // no explicit batchTag
    Dedup.ingestStep(crawl2, "doc_id", "text", store)
    // distinct auto tags -> two batch directories survive side by side
    val dirs = new java.io.File(store).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("batch-"))
    assert(dirs.length == 2, s"expected 2 batch dirs, got ${dirs.toSeq}")
    // crawl1's documents were NOT deleted, and crawl2's unchanged page 2
    // was deduplicated against crawl1's copy (same content hash)
    val rows = Dedup.readStore(spark, store).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows.count(_._2.contains("original page two")) == 1,
      s"unchanged page should survive exactly once: $rows")
    assert(rows.exists(_._2.contains("original page one")) &&
      rows.exists(_._2.contains("updated page one")), s"lost a crawl batch: $rows")
    // a true retry (identical batch) still lands in the same directory
    Dedup.ingestStep(crawl2, "doc_id", "text", store)
    val dirs2 = new java.io.File(store).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("batch-"))
    assert(dirs2.length == 2, s"retry created a new dir: ${dirs2.toSeq}")
    assert(Dedup.readStore(spark, store).count() == rows.size.toLong)
  }

  test("gopher rules pass clean prose and flag each spam shape") {
    import graft.ext.TextFunctions._
    def flags(text: String): Map[String, Any] = {
      val df = spark.range(1).select(gopherFlags(lit(text)).as("f"))
      val row = df.select(col("f.*")).collect().head
      row.schema.fieldNames.zip(row.toSeq).toMap
    }
    val clean = (1 to 60).map(i => s"word$i").mkString(" ") +
      " the of and that have to be with more text"
    val cf = flags(clean)
    assert(Seq("r_word_count", "r_mean_word_len", "r_symbol_ratio", "r_bullet_lines",
      "r_ellipsis_lines", "r_alpha_words", "r_stopwords", "r_dup_lines",
      "r_dup_paras", "r_dup_line_chars", "r_dup_para_chars").forall(r => cf(r) == true),
      s"clean prose failed a rule: $cf")
    assert(spark.range(1).select(gopherPass(lit(clean))).collect().head.getBoolean(0))

    assert(flags("short text")("r_word_count") == false)
    assert(flags((1 to 60).map(_ => "• buy now with the of").mkString("\n"))("r_bullet_lines") == false)
    assert(flags((1 to 60).map(i => s"line$i ends like this...").mkString("\n"))("r_ellipsis_lines") == false)
    assert(flags(((1 to 60).map(i => s"w$i").mkString(" ")) + " ### ### ### ### ### ### ###")("r_symbol_ratio") == false)
    assert(flags((1 to 60).map(_ => "123 456 789").mkString(" "))("r_alpha_words") == false)
    assert(flags((1 to 60).map(i => s"word$i").mkString(" "))("r_stopwords") == false)
    val dupLines = (1 to 20).map(_ => "the same line of text appears here").mkString("\n")
    val df2 = flags(dupLines)
    assert(df2("r_dup_lines") == false)
    assert(df2("r_dup_line_chars") == false)
    val dupParas = (1 to 10).map(_ => "the same paragraph of text with many words appears").mkString("\n\n")
    val pf = flags(dupParas)
    assert(pf("r_dup_paras") == false)
    assert(pf("r_dup_para_chars") == false)
  }

  test("simhash md5-compat variant agrees with itself and finds the planted dup") {
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 6, md5Compat = true)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) -> r.getAs[Int]("hamming")).toMap
    assert(pairs((1L, 2L)) == 0) // identical docs → identical signature
  }

  test("dedupNearExact matches dedupNear on the planted corpus") {
    val blocked = docs.withColumn("blk", lit(1))
    val exact = Dedup.dedupNearExact(blocked, "doc_id", "text", Seq("blk"), 3, 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(exact == Set(1L, 4L))
  }

  test("near-dup clustering: pairs form components, dedupNear keeps survivors") {
    import spark.implicits._
    // chain 1-2, 2-3 (one component) and 7-8 (another)
    val pairs = Seq((1L, 2L, 0.9), (2L, 3L, 0.95), (7L, 8L, 0.92))
      .toDF("id_a", "id_b", "jaccard")
    val clusters = Dedup.clusterPairs(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L))

    // end-to-end: docs 1/2/3 near-identical → one survivor; doc 4 untouched
    val surviving = Dedup.dedupNear(docs, "doc_id", "text", threshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(surviving == Set(1L, 4L))
  }

  test("vocab ranks tokens by total count with doc frequencies, token-text ties") {
    val df = fromJsonl(
      """{"doc_id": 1, "text": "alpha alpha beta"}""",
      """{"doc_id": 2, "text": "alpha beta gamma"}""",
      """{"doc_id": 3, "text": "delta delta delta"}""")
    val v = graft.ext.TextFunctions.vocab(df, "doc_id", "text", 3)
      .collect().map(r => (r.getAs[Int]("rank"), r.getAs[String]("token"),
        r.getAs[Long]("n_tokens"), r.getAs[Long]("n_docs"))).sortBy(_._1)
    // alpha and delta tie at 3 total — alpha wins on token text
    assert(v.toSeq == Seq((1, "alpha", 3L, 2L), (2, "delta", 3L, 1L), (3, "beta", 2L, 2L)))
  }

  test("lshParams picks the factorization whose s-curve midpoint hits the threshold") {
    // s* = (1/b)^(1/r): 64 hashes at 0.5 → (16,4) (0.5 exactly); at 0.8 →
    // (8,8) (0.771, closest); at 0.95 → (4,16) (0.917) over (2,32) (0.978)?
    // |0.917-0.95|=0.033 < |0.978-0.95|=0.028 is false — (2,32) wins
    assert(Dedup.lshParams(0.5, 64) == ((16, 4)))
    assert(Dedup.lshParams(0.8, 64) == ((8, 8)))
    assert(Dedup.lshParams(0.95, 64) == ((2, 32)))
    val (b, r) = Dedup.lshParams(0.7, 128)
    assert(b * r == 128)
    assert(math.abs(math.pow(1.0 / b, 1.0 / r) - 0.7) < 0.1)
  }

  test("clusterStats histograms duplicate-cluster sizes") {
    import spark.implicits._
    // components {1,2,3} (size 3), {7,8} and {9,10} (two of size 2)
    val pairs = Seq((1L, 2L, 0.9), (2L, 3L, 0.95), (7L, 8L, 0.92), (9L, 10L, 0.85))
      .toDF("id_a", "id_b", "jaccard")
    val stats = Dedup.clusterStats(pairs).collect()
      .map(r => r.getAs[Long]("size") ->
        ((r.getAs[Long]("n_clusters"), r.getAs[Long]("n_docs")))).toMap
    assert(stats == Map(3L -> ((1L, 3L)), 2L -> ((2L, 4L))))
  }

  test("clusterPairs collapses a long label chain within maxIter (pointer jumping)") {
    import spark.implicits._
    // a 41-node path: edge-propagation alone moves the min label one hop
    // per round, so diameter-40 would blow the maxIter=10 default and
    // silently return unconverged labels; pointer jumping halves remaining
    // chain length per round, so this must fully collapse to cluster 0
    val pairs = (0 until 40).map(i => (i.toLong, (i + 1).toLong, 0.9))
      .toDF("id_a", "id_b", "jaccard")
    val labels = Dedup.clusterPairs(pairs).collect()
    assert(labels.length == 41)
    val bad = labels.filter(_.getAs[Long]("cluster") != 0L)
    assert(bad.isEmpty, s"unconverged labels: ${bad.take(5).mkString(", ")}")
  }

  test("scaledParts: session floor, data-proportional growth, 4096 cap") {
    val s = spark
    val floor = s.sessionState.conf.numShufflePartitions
    assert(Dedup.scaledParts(s, 0L) == floor)
    assert(Dedup.scaledParts(s, 350_000_000L) == math.max(floor, 176)) // the sf1 gram count
    assert(Dedup.scaledParts(s, Long.MaxValue / 4) == 4096)
  }

  test("spillSized: size gate decides the broadcast hint deterministically") {
    // the deterministic-join-sizing mechanism every bounded candidate /
    // hit / loser set now rides through: below the byte gate the frame
    // comes back broadcast-hinted (the join strategy stops hinging on
    // AQE's estimate of a fused subtree), above it the plain spilled scan
    // returns and the join degrades to the sort-merge a genuinely large
    // side needs anyway
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    def hinted(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.analyzed.collect { case h: ResolvedHint => h }.nonEmpty
    val small = spark.range(100).toDF("id")
    assert(hinted(Dedup.spillSized(small, "graft-test-sized")),
      "a 100-row frame sits far below the 64 MB gate and must be hinted")
    assert(!hinted(Dedup.spillSized(small, "graft-test-sized", broadcastBytes = 1L)),
      "a 1-byte gate admits nothing; the plain spilled scan must come back")
  }

  test("removeDupSpans: the explicit gram repartition is the ONLY gram exchange") {
    import spark.implicits._
    // the explicit repartition by __g must be REUSED by the hot-gram
    // aggregation and the join back: any ENSURE_REQUIREMENTS exchange on
    // __g would mean Catalyst re-shuffled the operator's dominant data a
    // second time (at toy scale AQE may also replace the join side with a
    // broadcast — that's fine; a REQUIREMENTS re-shuffle is not)
    // the gram pipeline now executes eagerly when cutCoveredSpans
    // materializes the hit set, so its exchanges live in the hit subtree
    // (captured via the audit hook), NOT the returned frame's lineage —
    // which must stay exchange-free on the corpus side (scan → broadcast
    // join → kernel)
    val docs = (0L until 50L).map(i => (i, s"a b c d e f g h i $i")).toDF("doc_id", "text")
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.{ShuffleExchangeExec, REPARTITION_BY_NUM}
    def flat(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => flat(a.executedPlan)
      case _ => p +: p.children.flatMap(flat)
    }
    def gramKeyed(e: ShuffleExchangeExec): Boolean = e.outputPartitioning match {
      case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning =>
        h.expressions.exists(_.references.exists(_.name == "__g"))
      case _ => false
    }
    var hits: Option[DataFrame] = None
    Dedup.planAuditHook = Some((name, df) => if (name == "dupspans_hits") hits = Some(df))
    val cutPlan = try {
      Dedup.removeDupSpans(docs, "doc_id", "text", n = 3).queryExecution.executedPlan
    } finally Dedup.planAuditHook = None
    assert(flat(cutPlan).collect { case e: ShuffleExchangeExec => e }.isEmpty,
      s"the final cut lineage must not shuffle (materialized hit set + broadcast):\n$cutPlan")
    val plan = hits.getOrElse(fail("audit hook never saw the hit subtree"))
      .queryExecution.executedPlan
    val ex = flat(plan).collect { case e: ShuffleExchangeExec if gramKeyed(e) => e }
    assert(ex.nonEmpty, s"expected the explicit __g repartition in the hit plan:\n$plan")
    val required = ex.filterNot(_.shuffleOrigin == REPARTITION_BY_NUM)
    assert(required.isEmpty,
      s"Catalyst inserted ${required.size} extra __g exchange(s) beyond the explicit repartition:\n$plan")
  }

  test("modM31 equals % Mersenne31 across the minhash input range") {
    // the fast reduction replaced the hardware divide in the signature
    // inner loop; inputs there are h*a+b with h < M31, a,b < 2^31 — i.e.
    // anything in [0, 2^62). Sweep structured edges + a seeded random spray.
    val m = (1L << 31) - 1
    val edges = Seq(0L, 1L, m - 1, m, m + 1, 2 * m, 2 * m + 1,
      (1L << 62) - 1, (1L << 62) - m, 123456789012345L)
    val rnd = new scala.util.Random(8L)
    val random = Seq.fill(10000)(rnd.nextLong() >>> 2) // uniform in [0, 2^62)
    (edges ++ random).foreach { x =>
      assert(Kernels.modM31(x) == x % m, s"modM31($x)")
    }
  }

  test("clusterPairs agrees with a reference union-find on random graphs") {
    import spark.implicits._
    // differential fuzz for the pointer-jumping rewrite: 12 seeded random
    // graphs (varying density, self-loop-free) vs an in-memory union-find
    // whose union-by-min keeps each component's root at its minimum id —
    // exactly clusterPairs' contract
    for (seed <- 1 to 12) {
      val rnd = new scala.util.Random(seed)
      val n = 40 + rnd.nextInt(40)
      val edges = Seq.fill(rnd.nextInt(2 * n) + 1)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)).filter(e => e._1 != e._2)
      if (edges.nonEmpty) {
        val parent = Array.tabulate(n)(identity)
        def find(x: Int): Int = {
          var r = x
          while (parent(r) != r) r = parent(r)
          var c = x
          while (parent(c) != c) { val nx = parent(c); parent(c) = r; c = nx }
          r
        }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a.toInt), find(b.toInt))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val touched = edges.flatMap(e => Seq(e._1, e._2)).toSet
        // BOTH arms (r15): the driver union-find fast path (default gate)
        // and the distributed min-propagation rounds (gate lowered to 0)
        // must label identically — per-component minimum ids.
        for (gate <- Seq(Dedup.ccCollectMaxEdges, 0L)) {
          val prior = Dedup.ccCollectMaxEdges
          Dedup.ccCollectMaxEdges = gate
          try {
            val got = Dedup.clusterPairs(
                edges.map { case (a, b) => (a, b, 0.9) }.toDF("id_a", "id_b", "jaccard"))
              .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
            assert(got.keySet == touched, s"seed=$seed gate=$gate: node coverage differs")
            touched.foreach { v =>
              assert(got(v) == find(v.toInt).toLong, s"seed=$seed gate=$gate node=$v: " +
                s"cluster ${got(v)} vs union-find ${find(v.toInt)}")
            }
          } finally Dedup.ccCollectMaxEdges = prior
        }
      }
    }
  }

  test("clusterPairs labels identically across arms when the pair frame has null ids") {
    // r16: the gate probe inspects the collected rows for null ids and
    // falls through to the distributed arm (a driver getLong would NPE
    // where distributed propagation drops null join keys) — both gate
    // settings must produce the same labels on a null-bearing graph
    val rows = Seq[(java.lang.Long, java.lang.Long)](
      (1L, 2L), (2L, 3L), (null, 5L), (6L, null), (7L, 8L))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => org.apache.spark.sql.Row(r._1, r._2))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id_a", org.apache.spark.sql.types.LongType, nullable = true),
        org.apache.spark.sql.types.StructField("id_b", org.apache.spark.sql.types.LongType, nullable = true))))
    def run(gate: Long): Set[(Option[Long], Option[Long])] = {
      val prior = Dedup.ccCollectMaxEdges
      Dedup.ccCollectMaxEdges = gate
      try Dedup.clusterPairs(df).collect()
        .map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0)),
          if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSet
      finally Dedup.ccCollectMaxEdges = prior
    }
    val withGate = run(Dedup.ccCollectMaxEdges)
    val distributed = run(0L)
    assert(withGate == distributed,
      s"null-id graph labels differ: gate=$withGate distributed=$distributed")
    // the non-null component must still be labeled by its minimum
    assert(withGate.contains((Some(2L), Some(1L))) && withGate.contains((Some(3L), Some(1L))))
  }

  test("clusterPairs with the gate at Long.MaxValue takes the union-find arm") {
    // the probe limit is gate+1: unclamped, Long.MaxValue wraps to a
    // limit of 0 and every graph silently falls to the distributed arm
    import spark.implicits._
    val pairs = Seq((1L, 2L, 0.9), (2L, 3L, 0.9), (7L, 8L, 0.9), (9L, 7L, 0.9))
      .toDF("id_a", "id_b", "jaccard")
    def run(gate: Long): (Set[(Long, Long)], Set[String]) = {
      val prior = Dedup.ccCollectMaxEdges
      val fired = scala.collection.mutable.Set[String]()
      Dedup.ccCollectMaxEdges = gate
      Dedup.phaseHook = Some((n, _) => { fired += n; () })
      try (Dedup.clusterPairs(pairs).collect().map(r => r.getLong(0) -> r.getLong(1)).toSet,
        fired.toSet)
      finally { Dedup.ccCollectMaxEdges = prior; Dedup.phaseHook = None }
    }
    val (maxGate, maxPhases) = run(Long.MaxValue)
    val (distributed, distPhases) = run(0L)
    assert(maxPhases.contains("cc_unionfind"), s"union-find arm not taken: $maxPhases")
    assert(!distPhases.contains("cc_unionfind"))
    assert(maxGate == distributed, s"labels differ: $maxGate vs $distributed")
    assert(maxGate == Set(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L, 9L -> 7L))
  }

  test("keepBestPerCluster keeps the highest-priority member, min id on ties") {
    import spark.implicits._
    val frame = Seq(
      (1L, 10L), (2L, 50L), (3L, 50L),   // component {1,2,3}: 2 wins (pri tie with 3, lower id)
      (7L, 5L), (8L, 9L),                // component {7,8}: 8 wins on priority
      (9L, 1L)                           // unclustered: passes through
    ).toDF("doc_id", "pri")
    val pairs = Seq((1L, 2L, 0.9), (2L, 3L, 0.95), (7L, 8L, 0.92))
      .toDF("id_a", "id_b", "jaccard")
    val kept = Dedup.keepBestPerCluster(frame, "doc_id",
      Dedup.clusterPairs(pairs), col("pri"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 8L, 9L))

    // end-to-end exact tier on the planted corpus: same clusters as
    // dedupNearExact, but the longest member survives instead of min id
    val blocked = docs.withColumn("blk", lit(1))
    val byLen = Dedup.dedupNearExactBy(blocked, "doc_id", "text", Seq("blk"),
      priority = length(col("text")), shingleSize = 3, threshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val minId = Dedup.dedupNearExact(blocked, "doc_id", "text", Seq("blk"), 3, 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(byLen.size == minId.size)   // same number of duplicate groups
    val lens = docs.select(col("doc_id"), length(col("text")).as("l")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    // every survivor is at least as long as the min-id survivor it replaced
    assert(byLen.map(lens).sum >= minId.map(lens).sum)
  }

  test("simhash: identical docs have distance 0, near dups small distance") {
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 16).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) -> r.getAs[Int]("hamming")).toMap
    assert(pairs((1L, 2L)) == 0)
    assert(pairs.get((1L, 3L)).exists(_ <= 16))
  }

  test("chunk-overlap pairs catch partial duplicates that whole-doc jaccard misses") {
    val shared = "the quick brown fox jumps over the lazy dog and then runs far away home " * 4
    val partial = fromJsonl(
      s"""{"doc_id": 1, "text": "AAAA unique prefix one. $shared"}""",
      s"""{"doc_id": 2, "text": "BBBB different opening text here. $shared And an ending."}""",
      """{"doc_id": 3, "text": "completely unrelated content about spark query engines and data"}""")
    val pairs = Dedup.chunkOverlapPairs(partial, "doc_id", "text",
      window = 16, maskBits = 4, minShared = 2)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists { case (a, b) => a == 3L || b == 3L })
    // identical text → identical chunk sequence
    val h = partial.select(Kernels.chunkHashesKernel(16, 4)(
      org.apache.spark.sql.functions.col("text")).as("c")).collect()
    assert(h(0).getAs[scala.collection.Seq[Long]]("c").nonEmpty)
  }

  test("ngram jaccard within blocks") {
    val blocked = docs.withColumn("blk", lit(1))
    val pairs = Dedup.ngramJaccardPairs(blocked, "doc_id", "text", Seq("blk"), 3, 0.5)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("topK ranking: window-exact order — score desc, id-asc ties, null cos last") {
    // pins the bounded-heap top-k (topKByScore) to the row_number-window
    // semantics it replaced: cosine DESC with Spark's desc null ordering
    // (nulls last), ties broken by neighbor_id ASC. Planted: three
    // bit-identical vectors (identical cos — pure id tiebreak), an
    // orthogonal and an antipodal vector (interior ranks), and a zero
    // vector (null cosine — must rank LAST, not first, exactly as the
    // window's desc ordering placed it).
    import scala.jdk.CollectionConverters._
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "vec_id BIGINT, embedding ARRAY<FLOAT>")
    def row(id: Long, v: Seq[Float]) = org.apache.spark.sql.Row(id, v)
    val data = Seq(
      row(0L, Seq(1f, 0.2f, 0f)),
      row(1L, Seq(0.9f, 0.1f, 0f)), row(2L, Seq(0.9f, 0.1f, 0f)),
      row(3L, Seq(0.9f, 0.1f, 0f)),                  // 1,2,3: identical → tie
      row(4L, Seq(-0.2f, 1f, 0f)),                   // near-orthogonal
      row(5L, Seq(0f, 0f, 0f)),                      // zero norm → cos null
      row(6L, Seq(-1f, -0.2f, 0f)))                  // antipodal
    val df = spark.createDataFrame(data.asJava, schema)
    val got = Similarity.bruteForceTopK(df.filter(col("vec_id") === 0), df,
      "vec_id", "embedding", 6).collect().sortBy(_.getAs[Int]("rank"))
    assert(got.map(_.getAs[Int]("rank")).toSeq == Seq(1, 2, 3, 4, 5, 6))
    assert(got.map(_.getAs[Long]("neighbor_id")).toSeq == Seq(1L, 2L, 3L, 4L, 6L, 5L))
    val cosTie = got.take(3).map(_.getAs[Double]("cos")).distinct
    assert(cosTie.size == 1, s"tied vectors must have bit-identical cos, got ${cosTie.toSeq}")
    assert(got(4).getAs[Double]("cos") < 0)          // antipodal interior
    assert(got(5).isNullAt(got(5).fieldIndex("cos"))) // zero vector: null, LAST
  }

  test("brute-force topK: self-similar vector ranks first") {
    import scala.jdk.CollectionConverters._
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "vec_id BIGINT, embedding ARRAY<FLOAT>")
    def row(id: Long, v: Seq[Float]) = org.apache.spark.sql.Row(id, v)
    val data = Seq(
      row(0L, Seq(1f, 0f, 0f)), row(1L, Seq(0.9f, 0.1f, 0f)),
      row(2L, Seq(0f, 1f, 0f)), row(3L, Seq(-1f, 0f, 0f)))
    val df = spark.createDataFrame(data.asJava, schema)
    val top = Similarity.bruteForceTopK(df.filter(col("vec_id") === 0), df, "vec_id", "embedding", 2)
      .collect().sortBy(_.getAs[Int]("rank"))
    assert(top(0).getAs[Long]("neighbor_id") == 1L) // closest direction
    assert(top(0).getAs[Double]("cos") > 0.99)
    assert(top(1).getAs[Long]("neighbor_id") == 2L)

    val lsh = Similarity.lshTopK(df.filter(col("vec_id") === 0), df, "vec_id", "embedding",
      k = 1, planes = 2, tables = 4, dim = 3)
      .collect()
    assert(lsh.nonEmpty && lsh.head.getAs[Long]("neighbor_id") == 1L)
  }

  test("IVF topK: exhaustive probe equals brute force; narrow probe finds in-cluster neighbor") {
    import scala.jdk.CollectionConverters._
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "vec_id BIGINT, embedding ARRAY<FLOAT>")
    def row(id: Long, v: Seq[Float]) = org.apache.spark.sql.Row(id, v)
    val data = Seq(
      row(0L, Seq(1f, 0f, 0f)), row(1L, Seq(0.9f, 0.1f, 0f)),
      row(2L, Seq(0f, 1f, 0f)), row(3L, Seq(0f, 0.95f, 0.05f)),
      row(4L, Seq(-1f, 0f, 0f)), row(5L, Seq(0f, 0f, 1f)))
    val df = spark.createDataFrame(data.asJava, schema)
    val q = df.filter(col("vec_id") === 0)
    val brute = Similarity.bruteForceTopK(q, df, "vec_id", "embedding", 3)
      .collect().map(r => (r.getAs[Int]("rank"), r.getAs[Long]("neighbor_id"))).toSeq.sorted
    val ivfAll = Similarity.ivfTopK(q, df, "vec_id", "embedding", k = 3, nlist = 3, nprobe = 3)
      .collect().map(r => (r.getAs[Int]("rank"), r.getAs[Long]("neighbor_id"))).toSeq.sorted
    assert(ivfAll == brute) // exhaustive probe == exact
    val ivf1 = Similarity.ivfTopK(q, df, "vec_id", "embedding", k = 1, nlist = 3, nprobe = 1)
      .collect()
    assert(ivf1.nonEmpty && ivf1.head.getAs[Long]("neighbor_id") == 1L)
  }

  test("incremental IVF store: sharding invisible, retries idempotent, params pinned") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val store = java.nio.file.Files.createTempDirectory("graft-ivf-incr-spec").toString
    try {
      // three id-mod shards; shard 0 bootstraps and freezes the quantizer
      (0 to 2).foreach { s =>
        Similarity.ivfIngestStep(emb.filter(pmod(col("vec_id"), lit(3)) === s),
          "vec_id", "embedding", store, nlist = 4, batchTag = Some(s.toString))
      }
      val idx = Similarity.loadIvfStore(spark, store)
      assert(idx.indexed.count() == emb.count()) // every vector, exactly once
      // exhaustive probe over the union store == brute force (sharding
      // cannot show in the answer)
      val q = emb.filter(col("vec_id") < 5)
      def keyed(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
          r.getAs[Long]("neighbor_id"))).toSet
      assert(keyed(Similarity.ivfTopK(q, idx, "vec_id", "embedding", k = 3, nprobe = 4))
        == keyed(Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", 3)))
      // at-least-once retry: re-ingesting a shard under its own tag
      // overwrites its directory — no duplicates, probe unchanged
      Similarity.ivfIngestStep(emb.filter(pmod(col("vec_id"), lit(3)) === 1),
        "vec_id", "embedding", store, nlist = 4, batchTag = Some("1"))
      assert(Similarity.loadIvfStore(spark, store).indexed.count() == emb.count())
      // a drifted quantizer config refuses loudly
      intercept[graft.model.ValidationError] {
        Similarity.ivfIngestStep(emb.limit(3), "vec_id", "embedding", store, nlist = 8)
      }
      // cached-model fast path: re-ingesting a shard with the centroids a
      // previous call returned writes BIT-IDENTICAL assignments (the model
      // is frozen; the cache only skips the parquet load)
      val returned = Similarity.ivfIngestStep(
        emb.filter(pmod(col("vec_id"), lit(3)) === 2), "vec_id", "embedding",
        store, nlist = 4, batchTag = Some("2"))
      val viaLoad = spark.read.parquet(s"$store/index/batch-2")
        .collect().map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Int]("cluster"))).toSet
      Similarity.ivfIngestStep(
        emb.filter(pmod(col("vec_id"), lit(3)) === 2), "vec_id", "embedding",
        store, nlist = 4, batchTag = Some("2"), cachedModel = Some(returned))
      val viaCache = spark.read.parquet(s"$store/index/batch-2")
        .collect().map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Int]("cluster"))).toSet
      assert(viaCache == viaLoad, "cached-model ingest diverged from load-model ingest")
      // auto-tag: the digest is content-derived, so a re-ingest of the
      // SAME rows without an explicit tag lands in the SAME directory
      val before = Similarity.loadIvfStore(spark, store).indexed.count()
      Similarity.ivfIngestStep(emb.filter(col("vec_id") < 7), "vec_id", "embedding",
        store, nlist = 4)
      Similarity.ivfIngestStep(emb.filter(col("vec_id") < 7), "vec_id", "embedding",
        store, nlist = 4)
      assert(Similarity.loadIvfStore(spark, store).indexed.count() == before + 7)
    } finally {
      val p = new org.apache.hadoop.fs.Path(store)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  test("incremental ANN ingest steady state is map-only: no exchange in the REAL assignment plans") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def hasExchange(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.executedPlan.toString.contains("Exchange")
    // fail-closed control: the detector must see the exchange in a plan
    // that provably shuffles before we trust its silence below
    assert(hasExchange(emb.groupBy(col("vec_id") % 7).count()),
      "control: detector blind to a real shuffle")
    val captured = scala.collection.mutable.Map[String, Boolean]()
    graft.ext.Similarity.planAuditHook =
      Some((name, df) => captured(name) = hasExchange(df))
    val s1 = java.nio.file.Files.createTempDirectory("graft-ivf-audit").toString
    val s2 = java.nio.file.Files.createTempDirectory("graft-ivfpq-audit").toString
    try {
      // two shards each: the audited steady state is the SECOND shard,
      // assigned against an already-frozen quantizer
      (0 to 1).foreach { s =>
        graft.ext.Similarity.ivfIngestStep(emb.filter(pmod(col("vec_id"), lit(2)) === s),
          "vec_id", "embedding", s1, nlist = 4, batchTag = Some(s.toString))
        graft.ext.Similarity.ivfPqIngestStep(emb.filter(pmod(col("vec_id"), lit(2)) === s),
          "vec_id", "embedding", s2, nlist = 4, m = 8, ksub = 16, dim = 64,
          batchTag = Some(s.toString))
      }
      assert(captured.keySet == Set("ivf_ingest_assign", "ivfpq_ingest_assign"))
      captured.foreach { case (name, shuffled) =>
        assert(!shuffled, s"$name: per-shard assignment plan contains an Exchange — " +
          "the steady-state ingest is supposed to be a map over the shard")
      }
    } finally {
      graft.ext.Similarity.planAuditHook = None
      Seq(s1, s2).foreach { d =>
        val p = new org.apache.hadoop.fs.Path(d)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      }
    }
  }

  test("incremental IVF-PQ store: frozen codebooks, exhaustive probe exact") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val store = java.nio.file.Files.createTempDirectory("graft-ivfpq-incr-spec").toString
    try {
      (0 to 2).foreach { s =>
        Similarity.ivfPqIngestStep(emb.filter(pmod(col("vec_id"), lit(3)) === s),
          "vec_id", "embedding", store, nlist = 4, m = 8, ksub = 16, dim = 64,
          batchTag = Some(s.toString))
      }
      val idx = Similarity.loadIvfPqStore(spark, store)
      assert(idx.indexed.count() == emb.count())
      // codes exist on every shard's rows (encoded under shard 0's books)
      assert(idx.indexed.filter(col("codes").isNull).isEmpty)
      // exhaustive settings: exact however the corpus was sharded and
      // however coarse the bootstrap codebooks are
      val q = emb.filter(col("vec_id") < 5)
      def keyed(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
          r.getAs[Long]("neighbor_id"))).toSet
      assert(keyed(Similarity.ivfPqTopK(q, idx, "vec_id", "embedding",
          k = 3, nprobe = 4, rerank = 1 << 20))
        == keyed(Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", 3)))
      // params pin covers the PQ settings too
      intercept[graft.model.ValidationError] {
        Similarity.ivfPqIngestStep(emb.limit(3), "vec_id", "embedding", store,
          nlist = 4, m = 4, ksub = 16, dim = 64)
      }
    } finally {
      val p = new org.apache.hadoop.fs.Path(store)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  test("ivfStoreReport: explicit zero cells, occupancy sums to 1, imbalance = max/uniform") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val store = java.nio.file.Files.createTempDirectory("graft-ivf-report-spec").toString
    try {
      (0 to 1).foreach { s =>
        Similarity.ivfIngestStep(emb.filter(pmod(col("vec_id"), lit(2)) === s),
          "vec_id", "embedding", store, nlist = 8, batchTag = Some(s.toString))
      }
      val rep = Similarity.ivfStoreReport(spark, store).collect()
      assert(rep.length == 8, "one row per cell, dead cells included")
      assert(rep.map(_.getAs[Int]("cluster")).toSeq == (0 until 8))
      val ns = rep.map(_.getAs[Long]("n_vectors"))
      assert(ns.sum == emb.count(), "occupancies must sum to the corpus")
      assert(math.abs(rep.map(_.getAs[Double]("occupancy_frac")).sum - 1.0) < 1e-9)
      val expectedImb = ns.max.toDouble * 8 / ns.sum
      rep.foreach(r => assert(math.abs(r.getAs[Double]("imbalance") - expectedImb) < 1e-9))
      // the report never reads the vector payload: column-pruned scan
      val plan = Similarity.ivfStoreReport(spark, store)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("c_vec"), s"report plan reads the vector column:\n$plan")
    } finally {
      val p = new org.apache.hadoop.fs.Path(store)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  test("ivfRetrain: new pinned store, exhaustive probe unchanged, source untouched") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val root = java.nio.file.Files.createTempDirectory("graft-ivf-retrain-spec").toString
    try {
      (0 to 2).foreach { s =>
        Similarity.ivfIngestStep(emb.filter(pmod(col("vec_id"), lit(3)) === s),
          "vec_id", "embedding", s"$root/old", nlist = 4, batchTag = Some(s.toString))
      }
      Similarity.ivfRetrain(spark, s"$root/old", s"$root/new", nlist = 8)
      val idx = Similarity.loadIvfStore(spark, s"$root/new")
      assert(idx.centroids.length == 8, "retrained quantizer has the new nlist")
      assert(idx.indexed.count() == emb.count(), "re-assign lost or duplicated rows")
      def keyed(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
          r.getAs[Long]("neighbor_id"))).toSet
      val q = emb.filter(col("vec_id") < 5)
      assert(keyed(Similarity.ivfTopK(q, idx, "vec_id", "embedding", k = 3, nprobe = 8))
        == keyed(Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", 3)))
      // the new pin carries the NEW params: old-config ingest refuses,
      // new-config ingest appends
      intercept[graft.model.ValidationError] {
        Similarity.ivfIngestStep(emb.limit(3), "vec_id", "embedding", s"$root/new", nlist = 4)
      }
      // source store is untouched and still loads under its old params
      assert(Similarity.loadIvfStore(spark, s"$root/old").centroids.length == 4)
      // overwrite-to-self refuses before touching anything
      intercept[IllegalArgumentException] {
        Similarity.ivfRetrain(spark, s"$root/old", s"$root/old", nlist = 8)
      }
    } finally {
      val p = new org.apache.hadoop.fs.Path(root)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  test("compactIvfStore: identical rows and probes, fewer files, pin byte-preserved") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val root = java.nio.file.Files.createTempDirectory("graft-ivf-compact-spec").toString
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def parquetFiles(dir: String): Int = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(dir), true)
      var n = 0
      while (it.hasNext) if (it.next().getPath.getName.endsWith(".parquet")) n += 1
      n
    }
    def pin(store: String): String = {
      val in = fs.open(new org.apache.hadoop.fs.Path(store, "_params.json"))
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    }
    try {
      (0 to 5).foreach { s =>
        Similarity.ivfIngestStep(emb.filter(pmod(col("vec_id"), lit(6)) === s),
          "vec_id", "embedding", s"$root/old", nlist = 4, batchTag = Some(s.toString))
      }
      val before = parquetFiles(s"$root/old/index")
      Similarity.compactIvfStore(spark, s"$root/old", s"$root/new")
      assert(parquetFiles(s"$root/new/index") < before,
        s"compaction did not reduce file count ($before)")
      assert(graft.ext.Dedup.listBatchDirs(spark, s"$root/new/index").size == 1)
      assert(pin(s"$root/new") == pin(s"$root/old"), "params pin must copy byte-for-byte")
      // identical row set and identical exhaustive probe
      val oldIdx = Similarity.loadIvfStore(spark, s"$root/old")
      val newIdx = Similarity.loadIvfStore(spark, s"$root/new")
      def rows(df: org.apache.spark.sql.DataFrame) = df
        .select(col("neighbor_id"), col("cluster")).collect()
        .map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Int]("cluster"))).toSet
      assert(rows(newIdx.indexed) == rows(oldIdx.indexed))
      def keyed(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
          r.getAs[Long]("neighbor_id"))).toSet
      val q = emb.filter(col("vec_id") < 5)
      assert(keyed(Similarity.ivfTopK(q, newIdx, "vec_id", "embedding", k = 3, nprobe = 4))
        == keyed(Similarity.ivfTopK(q, oldIdx, "vec_id", "embedding", k = 3, nprobe = 4)))
      // idempotent: a retried compaction overwrites cleanly
      Similarity.compactIvfStore(spark, s"$root/old", s"$root/new")
      assert(rows(Similarity.loadIvfStore(spark, s"$root/new").indexed) == rows(oldIdx.indexed))
      // a never-pinned (half-bootstrapped) store refuses compaction
      fs.delete(new org.apache.hadoop.fs.Path(s"$root/old/_params.json"), false)
      intercept[IllegalArgumentException] {
        Similarity.compactIvfStore(spark, s"$root/old", s"$root/new2")
      }
    } finally fs.delete(new org.apache.hadoop.fs.Path(root), true)
  }

  test("ivfPqRetrain: both models retrained, exhaustive probe unchanged; PQ store compacts") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val root = java.nio.file.Files.createTempDirectory("graft-ivfpq-retrain-spec").toString
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      (0 to 1).foreach { s =>
        Similarity.ivfPqIngestStep(emb.filter(pmod(col("vec_id"), lit(2)) === s),
          "vec_id", "embedding", s"$root/old", nlist = 4, m = 8, ksub = 16, dim = 64,
          batchTag = Some(s.toString))
      }
      Similarity.ivfPqRetrain(spark, s"$root/old", s"$root/new",
        nlist = 8, m = 8, ksub = 16, dim = 64)
      val idx = Similarity.loadIvfPqStore(spark, s"$root/new")
      assert(idx.centroids.length == 8 && idx.indexed.count() == emb.count())
      def keyed(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
          r.getAs[Long]("neighbor_id"))).toSet
      val q = emb.filter(col("vec_id") < 5)
      val brute = keyed(Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", 3))
      assert(keyed(Similarity.ivfPqTopK(q, idx, "vec_id", "embedding",
        k = 3, nprobe = 8, rerank = 1 << 20)) == brute)
      // compaction handles the PQ store too: books copied, probe unchanged
      Similarity.compactIvfStore(spark, s"$root/new", s"$root/compact")
      val cIdx = Similarity.loadIvfPqStore(spark, s"$root/compact")
      assert(keyed(Similarity.ivfPqTopK(q, cIdx, "vec_id", "embedding",
        k = 3, nprobe = 8, rerank = 1 << 20)) == brute)
    } finally fs.delete(new org.apache.hadoop.fs.Path(root), true)
  }

  test("store bootstrap commit marker: a missing pin re-trains instead of silently unpinning") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val store = java.nio.file.Files.createTempDirectory("graft-ivf-pin-spec").toString
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      Similarity.ivfIngestStep(emb.filter(col("vec_id") < 20), "vec_id", "embedding",
        store, nlist = 4, batchTag = Some("b0"))
      // simulate a crash between saveCentroids and the pin write
      fs.delete(new org.apache.hadoop.fs.Path(store, "_params.json"), false)
      Similarity.ivfIngestStep(emb.filter(col("vec_id") < 20), "vec_id", "embedding",
        store, nlist = 4, batchTag = Some("b0"))
      assert(fs.exists(new org.apache.hadoop.fs.Path(store, "_params.json")),
        "retry after a mid-bootstrap crash must restore the pin")
      // and the restored pin still refuses drifted configs
      intercept[graft.model.ValidationError] {
        Similarity.ivfIngestStep(emb.limit(3), "vec_id", "embedding", store, nlist = 8)
      }
    } finally fs.delete(new org.apache.hadoop.fs.Path(store), true)
  }

  test("explicit batch tags refuse directory-unsafe characters (both stores)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val store = java.nio.file.Files.createTempDirectory("graft-tag-spec").toString
    try {
      intercept[graft.model.ValidationError] {
        Similarity.ivfIngestStep(emb.limit(3), "vec_id", "embedding", store,
          nlist = 4, batchTag = Some("a/b"))
      }
      intercept[graft.model.ValidationError] {
        Dedup.ingestStep(docs, "doc_id", "text", store, batchTag = Some("a.b"))
      }
      // URL-encodable characters are refused too — input_file_name() returns
      // URI-encoded paths while FileSystem listings are raw, so a tag that
      // percent-encodes differently in the two forms would break every
      // scan-tag-vs-listed-dir comparison (tombstone sidecar deletion, the
      // verify resolver's matched-dir set). The tag charset restriction IS
      // the invariant that keeps the two forms byte-equal.
      for (bad <- Seq("a b", "a%20b", "a#b", "a+b")) {
        intercept[graft.model.ValidationError] {
          Dedup.ingestStep(docs, "doc_id", "text", store, batchTag = Some(bad))
        }
        intercept[graft.model.ValidationError] {
          Similarity.ivfIngestStep(emb.limit(3), "vec_id", "embedding", store,
            nlist = 4, batchTag = Some(bad))
        }
      }
    } finally {
      val p = new org.apache.hadoop.fs.Path(store)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  test("PQ probes refuse mismatched query/index id types") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val idx = Similarity.pqBuild(emb, "vec_id", "embedding", m = 8, ksub = 16, dim = 64)
    val intQueries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").cast("int").as("vec_id"), col("embedding"))
    intercept[graft.model.ValidationError] {
      Similarity.pqTopK(intQueries, idx, "vec_id", "embedding", k = 3, rerank = 10)
    }
  }

  test("singleton prefilters: pruned plans return bit-identical results to direct plans") {
    // the adaptive gates route small corpora to the direct single-exchange
    // plans; force the PRUNED plans on the same small corpus and assert
    // exact equality — the prune must never change an answer, only cost
    val docsBig = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def spans(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("cleaned_text"),
        r.getAs[Long]("n_removed"))).toSet
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    val directSpans = spans(Dedup.removeDupSpans(docsBig, "doc_id", "text", n = 4))
    val directPairs = pairs(Dedup.minhashLshPairs(docsBig, "doc_id", "text", threshold = 0.4))
    val (g0, b0) = (Dedup.gramPruneMinRows, Dedup.bandPruneMinRows)
    try {
      Dedup.gramPruneMinRows = 0L
      Dedup.bandPruneMinRows = 0L
      assert(spans(Dedup.removeDupSpans(docsBig, "doc_id", "text", n = 4)) == directSpans)
      assert(pairs(Dedup.minhashLshPairs(docsBig, "doc_id", "text", threshold = 0.4))
        == directPairs)
    } finally {
      Dedup.gramPruneMinRows = g0
      Dedup.bandPruneMinRows = b0
    }
  }

  test("prebuilt ANN indexes: probe-only overloads match the train-and-search forms") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def keyOf(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("query_id"), r.getAs[Int]("rank"), r.getAs[Long]("neighbor_id"))
    val q1 = emb.filter(col("vec_id") < 5)
    val q2 = emb.filter(col("vec_id") >= 5 && col("vec_id") < 10)

    val ivfIdx = Similarity.ivfBuild(emb, "vec_id", "embedding", nlist = 8)
    val oneShot = Similarity.ivfTopK(q1, emb, "vec_id", "embedding",
      k = 3, nlist = 8, nprobe = 8).collect().map(keyOf).toSet
    val probed = Similarity.ivfTopK(q1, ivfIdx, "vec_id", "embedding",
      k = 3, nprobe = 8).collect().map(keyOf).toSet
    assert(probed == oneShot)
    // the same index serves a second query batch without retraining
    val probed2 = Similarity.ivfTopK(q2, ivfIdx, "vec_id", "embedding",
      k = 3, nprobe = 8).collect().map(keyOf).toSet
    val brute2 = Similarity.bruteForceTopK(q2, emb, "vec_id", "embedding", 3)
      .collect().map(keyOf).toSet
    assert(probed2 == brute2)

    val pqIdx = Similarity.pqBuild(emb, "vec_id", "embedding", m = 8, ksub = 16, dim = 64)
    val pqProbed = Similarity.pqTopK(q1, pqIdx, "vec_id", "embedding",
      k = 3, rerank = 1 << 20).collect().map(keyOf).toSet
    val pqOneShot = Similarity.pqTopK(q1, emb, "vec_id", "embedding",
      k = 3, m = 8, ksub = 16, dim = 64, rerank = 1 << 20).collect().map(keyOf).toSet
    assert(pqProbed == pqOneShot)

    val ivfPqIdx = Similarity.ivfPqBuild(emb, "vec_id", "embedding",
      nlist = 8, m = 8, ksub = 16, dim = 64)
    val ivfPqProbed = Similarity.ivfPqTopK(q1, ivfPqIdx, "vec_id", "embedding",
      k = 3, nprobe = 8, rerank = 1 << 20).collect().map(keyOf).toSet
    val brute1 = Similarity.bruteForceTopK(q1, emb, "vec_id", "embedding", 3)
      .collect().map(keyOf).toSet
    assert(ivfPqProbed == brute1)

    // IVF-SQ8: exhaustive setting equals brute force; the same prebuilt
    // index serves a second batch; the narrow int8-scored path (bounded
    // rerank) keeps high recall against exact
    val sq8Idx = Similarity.ivfSq8Build(emb, "vec_id", "embedding", nlist = 8)
    val sq8Probed = Similarity.ivfSq8TopK(q1, sq8Idx, "vec_id", "embedding",
      k = 3, nprobe = 8, rerank = 1 << 20).collect().map(keyOf).toSet
    assert(sq8Probed == brute1)
    val sq8Probed2 = Similarity.ivfSq8TopK(q2, sq8Idx, "vec_id", "embedding",
      k = 3, nprobe = 8, rerank = 1 << 20).collect().map(keyOf).toSet
    assert(sq8Probed2 == brute2)
    val sq8Narrow = Similarity.ivfSq8TopK(q1, sq8Idx, "vec_id", "embedding",
      k = 3, nprobe = 8, rerank = 8)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val brutePairs = brute1.map { case (q, _, n) => (q, n) }
    assert(brutePairs.intersect(sq8Narrow).size * 10 >= brutePairs.size * 8,
      s"int8-scored recall@rerank=8 below 0.8: ${brutePairs.intersect(sq8Narrow).size}/${brutePairs.size}")

    // persistence round-trip: load serves identical results
    val sq8Path = java.nio.file.Files.createTempDirectory("graft-sq8").toString
    Similarity.saveIvfSq8Index(sq8Idx, sq8Path)
    val sq8Loaded = Similarity.loadIvfSq8Index(spark, sq8Path)
    val sq8FromDisk = Similarity.ivfSq8TopK(q1, sq8Loaded, "vec_id", "embedding",
      k = 3, nprobe = 8, rerank = 1 << 20).collect().map(keyOf).toSet
    assert(sq8FromDisk == brute1)
  }

  test("semDedup: k=1 equals global components; clustered tier is a safe subset of drops") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id").collect().map(_.getLong(0)).toSet
    val all = ids(emb)
    val global = ids(Dedup.semDedup(emb, "vec_id", "embedding", k = 1, threshold = 0.45))
    // exactly the non-smallest member of every cosine component is dropped
    val pairs = Dedup.embeddingNearDupPairs(emb, "vec_id", "embedding",
      threshold = 0.45, planes = 0)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
    assert(pairs.nonEmpty)
    val paired = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    val componentMins = {
      // union-find over the pair graph: expected survivors = component minima
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = { val p = parent.getOrElse(x, x); if (p == x) x else { val r = find(p); parent(x) = r; r } }
      pairs.foreach { case (x, y) => val (rx, ry) = (find(x), find(y)); if (rx != ry) parent(math.max(rx, ry)) = math.min(rx, ry) }
      paired.groupBy(find).values.map(_.min).toSet
    }
    assert(all -- global == paired -- componentMins,
      s"drops ${all -- global} != expected ${paired -- componentMins}")
    // clustered tier: only within-cluster pairs can drop documents, so its
    // drop set is a subset of the global one (the paper's recall trade)
    val clustered = ids(Dedup.semDedup(emb, "vec_id", "embedding", k = 8, threshold = 0.45))
    assert((all -- clustered).subsetOf(all -- global))
  }

  test("embedding near-dup: bucketed multi-table tier matches the exact all-pairs tier") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    val exact = pairs(Dedup.embeddingNearDupPairs(emb, "vec_id", "embedding",
      threshold = 0.45, planes = 0))
    // few planes + many tables → recall effectively total even for pairs at
    // the threshold boundary (miss prob (1-0.6485^2)^32 ≈ 3e-8 per pair)
    val lsh = pairs(Dedup.embeddingNearDupPairs(emb, "vec_id", "embedding",
      threshold = 0.45, planes = 2, tables = 32))
    assert(lsh == exact, s"bucketed tier diverged: missing=${exact -- lsh} extra=${lsh -- exact}")
    // a single tight bucketing is a strict candidate subset (precision tier)
    val narrow = pairs(Dedup.embeddingNearDupPairs(emb, "vec_id", "embedding",
      threshold = 0.45, planes = 8, tables = 1))
    assert(narrow.subsetOf(exact))
  }

  test("PQ topK: exhaustive rerank equals brute force; narrow rerank keeps recall") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 5)
    def keyOf(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("query_id"), r.getAs[Int]("rank"), r.getAs[Long]("neighbor_id"))
    val brute = Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", 5)
      .collect().map(keyOf).toSet
    // rerank covering the whole corpus → exact re-rank sees every candidate
    val pqAll = Similarity.pqTopK(q, emb, "vec_id", "embedding",
      k = 5, m = 8, ksub = 16, dim = 64, rerank = 1 << 20)
      .collect().map(keyOf).toSet
    assert(pqAll == brute)
    // narrow rerank: ADC candidate selection must keep most true neighbors
    val pqNarrow = Similarity.pqTopK(q, emb, "vec_id", "embedding",
      k = 5, m = 8, ksub = 16, dim = 64, rerank = 50)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val bruteIds = brute.map { case (qid, _, nid) => (qid, nid) }
    val recall = (pqNarrow & bruteIds).size.toDouble / bruteIds.size
    assert(recall >= 0.6, s"flat-PQ recall@5 with rerank=50 was $recall")
    // codes are m small ints — the 16x-compressed index payload
    val books = Similarity.pqTrain(emb, "embedding", "vec_id", m = 8, ksub = 16, dim = 64)
    assert(books.length == 8 && books.forall(_.length == 16) &&
      books.forall(_.forall(_.length == 8)))
    val code = emb.select(graft.ext.Kernels.pqEncodeKernel(books)(col("embedding")).as("c"))
      .first().getAs[scala.collection.Seq[Int]]("c")
    assert(code.length == 8 && code.forall(c => c >= 0 && c < 16))
  }

  test("IVF-PQ topK: exhaustive settings equal brute force; narrow settings keep recall") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 5)
    def keyOf(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("query_id"), r.getAs[Int]("rank"), r.getAs[Long]("neighbor_id"))
    val brute = Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", 5)
      .collect().map(keyOf).toSet
    val exhaustive = Similarity.ivfPqTopK(q, emb, "vec_id", "embedding",
      k = 5, nlist = 4, nprobe = 4, m = 8, ksub = 16, dim = 64, rerank = 1 << 20)
      .collect().map(keyOf).toSet
    assert(exhaustive == brute)
    val narrow = Similarity.ivfPqTopK(q, emb, "vec_id", "embedding",
      k = 5, nlist = 4, nprobe = 2, m = 8, ksub = 16, dim = 64, rerank = 50)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val bruteIds = brute.map { case (qid, _, nid) => (qid, nid) }
    val recall = (narrow & bruteIds).size.toDouble / bruteIds.size
    assert(recall >= 0.5, s"IVF-PQ recall@5 with nprobe=2/4, rerank=50 was $recall")
  }

  test("sessionization: gap breaks, per-session stats, native session_window parity") {
    import spark.implicits._
    val ev = Seq(
      ("u1", 0L), ("u1", 100L), ("u1", 5000L), ("u1", 5100L), ("u2", 10L))
      .toDF("user_id", "t")
    val sessions = Sessions.sessionStats(ev, "user_id", "t", gapSec = 1000L)
      .collect().map(r => (r.getAs[String]("user_id"), r.getAs[Long]("session_idx"),
        r.getAs[Long]("n_events"), r.getAs[Long]("duration"))).toSet
    assert(sessions == Set(("u1", 0L, 2L, 100L), ("u1", 1L, 2L, 100L), ("u2", 0L, 1L, 0L)))
    // native session_window (batch mode) groups the same events
    val withTs = ev.withColumn("ts", org.apache.spark.sql.functions.timestamp_seconds(col("t")))
    val sw = Sessions.streamingSessionCounts(withTs, "user_id", "ts", "1000 seconds")
      .collect().map(r => (r.getAs[String]("user_id"), r.getAs[Long]("n_events"))).toSeq
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    assert(sw == Map("u1" -> Seq(2L, 2L), "u2" -> Seq(1L)))
  }

  test("text metrics: tokens, quality, language id, fingerprint") {
    val d = fromJsonl(
      """{"id": 1, "text": "The cat and the dog, with friends!"}""",
      """{"id": 2, "text": "der hund und die katze ist nicht da"}""",
      """{"id": 3, "text": ""}""")
      .select(col("id"),
        TextFunctions.tokenCount(col("text")).as("n"),
        TextFunctions.typeTokenRatio(col("text")).as("ttr"),
        TextFunctions.punctRatio(col("text")).as("punct"),
        TextFunctions.qualityScore(col("text")).as("q"),
        TextFunctions.langId(col("text")).as("lang"),
        TextFunctions.fingerprint(col("text")).as("fp"))
      .collect().map(r => r.getAs[Long]("id") -> r).toMap
    assert(d(1L).getAs[Int]("n") == 7)
    assert(d(1L).getAs[String]("lang") == "en")
    assert(d(2L).getAs[String]("lang") == "de")
    assert(d(3L).getAs[String]("lang") == "und")
    assert(d(1L).getAs[Double]("punct") > 0 && d(1L).getAs[Double]("punct") < 0.2)
    assert(d(1L).getAs[Double]("q") > 0 && d(1L).getAs[Double]("q") <= 1.0)
    // fingerprint is order/duplication-invariant
    val fp = fromJsonl(
      """{"id": 1, "text": "alpha beta gamma"}""",
      """{"id": 2, "text": "gamma beta alpha alpha"}""")
      .select(TextFunctions.fingerprint(col("text")).as("fp")).collect()
    assert(fp(0).getString(0) == fp(1).getString(0))
  }

  test("PII scrub redacts emails/IPs/phones/cards; repetition ratio flags boilerplate") {
    val r = fromJsonl(
      """{"id": 1, "text": "mail a.b@x.io or call +4915112345678, server 192.168.0.1, card 4111111111111111"}""")
      .select(TextFunctions.scrubPii(col("text")).as("s")).collect().head.getString(0)
    assert(r == "mail <EMAIL> or call <PHONE>, server <IP>, card <NUMBER>")
    val rep = fromJsonl(
      """{"id": 1, "text": "same\nsame\nsame\nsame"}""",
      """{"id": 2, "text": "a\nb\nc\nd"}""",
      """{"id": 3, "text": ""}""")
      .select(col("id"), TextFunctions.lineRepetitionRatio(col("text")).as("rep"))
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Double]("rep")).toMap
    assert(rep(1L) == 0.75 && rep(2L) == 0.0 && rep(3L) == 0.0)
  }

  test("deterministic sampling: stratified caps per group; fraction is layout-stable") {
    val df = spark.range(0, 1000).selectExpr("id", "cast(id % 4 as string) as g")
    val strat = graft.ext.Sampling.stratified(df, Seq("g"), 10)
    val byG = strat.groupBy("g").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byG.values.forall(_ == 10L) && byG.size == 4)
    // same winners regardless of input partitioning
    val strat2 = graft.ext.Sampling.stratified(df.repartition(13), Seq("g"), 10)
    assert(strat.collect().map(_.getLong(0)).sorted.toSeq ==
      strat2.collect().map(_.getLong(0)).sorted.toSeq)
    val frac = graft.ext.Sampling.deterministicFraction(df, 0.25)
    val n = frac.count()
    assert(n > 150 && n < 350) // ~250 expected
    val frac2 = graft.ext.Sampling.deterministicFraction(df.repartition(7), 0.25)
    assert(frac.collect().map(_.getLong(0)).sorted.toSeq ==
      frac2.collect().map(_.getLong(0)).sorted.toSeq)
    assert(graft.ext.Sampling.deterministicFraction(df, 1.0).count() == 1000L)
    assert(graft.ext.Sampling.deterministicFraction(df, 0.0).count() == 0L)
    // unstratified call refuses (single global window partition)
    intercept[IllegalArgumentException] {
      graft.ext.Sampling.stratified(df, Nil, 5)
    }
  }

  test("weighted mix keeps per-stratum fractions deterministically") {
    val rows = (1 to 400).map(i =>
      s"""{"id": $i, "src": "${if (i % 2 == 0) "wiki" else "crawl"}"}""")
    val df = fromJsonl(rows: _*)
    val mixed = Sampling.mix(df, "src", Map("wiki" -> 1.0, "crawl" -> 0.2))
    val bySrc = mixed.groupBy("src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc("wiki") == 200L)                       // keep-all stratum intact
    val crawl = bySrc.getOrElse("crawl", 0L)
    assert(crawl > 10L && crawl < 80L, s"~20% of 200 expected, got $crawl")
    // unlisted strata drop by default, keep under an explicit default
    val withOther = fromJsonl((rows :+ """{"id": 999, "src": "books"}"""): _*)
    assert(Sampling.mix(withOther, "src", Map("wiki" -> 1.0))
      .filter(col("src") =!= "wiki").count() == 0L)
    assert(Sampling.mix(withOther, "src", Map("wiki" -> 1.0), default = 1.0)
      .count() == 401L)
    // deterministic: same filter, same survivors, any run
    val again = Sampling.mix(df, "src", Map("wiki" -> 1.0, "crawl" -> 0.2))
    assert(again.select("id").collect().map(_.getLong(0)).toSet ==
      mixed.select("id").collect().map(_.getLong(0)).toSet)
    // pure filter: no exchange in the plan
    assert(!mixed.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("token-budget packing fills shard-local packs at budget boundaries") {
    val df = fromJsonl(
      """{"id": 1, "g": "a", "tok": 300}""",
      """{"id": 2, "g": "a", "tok": 300}""",
      """{"id": 3, "g": "a", "tok": 300}""",
      """{"id": 4, "g": "b", "tok": 600}""",
      """{"id": 5, "g": "b", "tok": 100}""")
    val packed = graft.ext.Packing.packByTokenBudget(
      df, Seq("g"), Seq(col("id")), col("tok"), 512L)
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("pack_id"), r.getAs[Long]("pack_offset"))).toMap
    // shard a: cum-before 0, 300, 600 → packs 0, 0, 1
    assert(packed(1L) == (0L, 0L) && packed(2L) == (0L, 300L) && packed(3L) == (1L, 88L))
    // shard b restarts: 0, 600 → packs 0, 1
    assert(packed(4L) == (0L, 0L) && packed(5L) == (1L, 88L))
    // unsharded call refuses (would serialize through one window partition)
    intercept[IllegalArgumentException] {
      graft.ext.Packing.packByTokenBudget(df, Nil, Seq(col("id")), col("tok"), 512L)
    }
  }

  test("greedy next-fit packing never straddles a boundary; oversized docs get own packs") {
    val df = fromJsonl(
      """{"id": 1, "g": "a", "tok": 300}""",
      """{"id": 2, "g": "a", "tok": 300}""",
      """{"id": 3, "g": "a", "tok": 200}""",
      """{"id": 4, "g": "a", "tok": 900}""",
      """{"id": 5, "g": "a", "tok": 10}""",
      """{"id": 6, "g": "b", "tok": 600}""",
      """{"id": 7, "g": "b", "tok": 100}""")
    val packed = graft.ext.Packing.packGreedy(
      df, Seq("g"), Seq(col("id")), col("tok"), 512L)
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("pack_id"), r.getAs[Long]("pack_offset"))).toMap
    // shard a: 300 opens pack 0; 300 would overflow → pack 1; 200 fits at 300;
    // 900 oversized → pack 2 alone; 10 can't join the oversized pack → pack 3
    assert(packed(1L) == (0L, 0L) && packed(2L) == (1L, 0L) && packed(3L) == (1L, 300L))
    assert(packed(4L) == (2L, 0L) && packed(5L) == (3L, 0L))
    // shard b restarts: 600 oversized opens pack 0 alone; 100 → pack 1
    assert(packed(6L) == (0L, 0L) && packed(7L) == (1L, 0L))

    // property vs in-memory greedy on a bigger frame
    val n = 500
    val rows = (1 to n).map(i => s"""{"id": $i, "g": "${"g" + (i % 7)}", "tok": ${(i * 131) % 700 + 1}}""")
    val big = fromJsonl(rows: _*)
    val got = graft.ext.Packing.packGreedy(big, Seq("g"), Seq(col("id")), col("tok"), 1000L)
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("pack_id"), r.getAs[Long]("pack_offset"))).toMap
    val expected = scala.collection.mutable.Map.empty[Long, (Long, Long)]
    val state = scala.collection.mutable.Map.empty[String, (Long, Long)]
    for (i <- 1 to n) {
      val g = "g" + (i % 7); val tok = (i * 131) % 700 + 1
      var (pid, fill) = state.getOrElse(g, (0L, 0L))
      if (fill > 0 && fill + tok > 1000L) { pid += 1; fill = 0L }
      expected(i.toLong) = (pid, fill)
      state(g) = (pid, fill + tok)
    }
    assert(got == expected.toMap)
    intercept[IllegalArgumentException] {
      graft.ext.Packing.packGreedy(df, Nil, Seq(col("id")), col("tok"), 512L)
    }
  }

  test("sub-sharded greedy packing: per-bucket next-fit, disjoint ids, invariants hold") {
    // a low-cardinality shard key (one 'en'-style majority group) is the
    // scale hazard subShards exists for — every doc in ONE shard here
    val n = 600
    val budget = 1000L
    val subShards = 4
    val rows = (1 to n).map(i => s"""{"id": $i, "g": "en", "tok": ${(i * 131) % 700 + 1}}""")
    val big = fromJsonl(rows: _*)
    val packed = graft.ext.Packing.packGreedy(
      big, Seq("g"), Seq(col("id")), col("tok"), budget, subShards = subShards)
    val got = packed.collect().map(r => r.getAs[Long]("id") ->
      (r.getAs[Long]("pack_id"), r.getAs[Long]("pack_offset"))).toMap
    // every input row assigned exactly once; deterministic across runs
    assert(got.keySet == (1 to n).map(_.toLong).toSet)
    val again = graft.ext.Packing.packGreedy(
      big, Seq("g"), Seq(col("id")), col("tok"), budget, subShards = subShards)
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("pack_id"), r.getAs[Long]("pack_offset"))).toMap
    assert(again == got)
    // replay: each bucket (recovered as pack_id mod subShards, which must
    // match Spark's own hash assignment) is an independent next-fit of its
    // id-ordered subsequence, interleaved into the shard's id space
    val bucketOf = big.select(col("id"),
        pmod(xxhash64(col("id")), lit(subShards)).cast("int").as("b"))
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Int]("b")).toMap
    val expected = scala.collection.mutable.Map.empty[Long, (Long, Long)]
    val state = scala.collection.mutable.Map.empty[Int, (Long, Long)]
    for (i <- 1 to n) {
      val tok = (i * 131) % 700 + 1
      val b = bucketOf(i.toLong)
      var (pid, fill) = state.getOrElse(b, (0L, 0L))
      if (fill > 0 && fill + tok > budget) { pid += 1; fill = 0L }
      expected(i.toLong) = (pid * subShards + b, fill)
      state(b) = (pid, fill + tok)
    }
    assert(got == expected.toMap)
    // packing invariants survive sub-sharding: no straddles (offset + tok
    // <= budget except a lone oversized doc), ids disjoint across buckets
    val byPack = (1 to n).groupBy(i => got(i.toLong)._1)
    byPack.foreach { case (_, members) =>
      val spans = members.map { i => (got(i.toLong)._2, ((i * 131) % 700 + 1).toLong) }
      assert(spans.forall { case (off, tok) => off + tok <= budget } || spans.size == 1)
    }
  }

  test("tf-idf top terms: rare terms outrank common ones, ranks are total") {
    val docs = fromJsonl(
      """{"id": 1, "text": "apple banana apple"}""",
      """{"id": 2, "text": "banana cherry"}""",
      """{"id": 3, "text": "cherry durian cherry durian"}""")
    val out = graft.ext.TextFunctions.tfIdfTopTerms(docs, "id", "text", 2)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("rank")) ->
        (r.getAs[String]("term"), r.getAs[Double]("score"))).toMap
    def trunc6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    // N=3; df: apple 1, banana 2, cherry 2, durian 1
    assert(out((1L, 1)) == ("apple", trunc6(2.0 / 3 * math.log(3.0))))
    assert(out((1L, 2)) == ("banana", trunc6(1.0 / 3 * math.log(1.5))))
    assert(out((3L, 1)) == ("durian", trunc6(0.5 * math.log(3.0))))
    assert(out((3L, 2)) == ("cherry", trunc6(0.5 * math.log(1.5))))
    // d2: banana and cherry tie (same tf, same df) → term breaks the tie
    assert(out((2L, 1))._1 == "banana" && out((2L, 2))._1 == "cherry")
  }

  test("corpus curation: dedup, quality gate, scrub, and pack compose") {
    val good = "the quick brown fox jumps over the lazy dog while many other animals watch " +
      "from the forest edge and wonder about the strange scene unfolding before them today"
    val docs = fromJsonl(
      s"""{"id": 1, "text": "$good", "lang": "en"}""",
      s"""{"id": 2, "text": "$good", "lang": "en"}""", // exact dup of 1 → dropped
      s"""{"id": 3, "text": "$good contact me at jo@example.com for details", "lang": "en"}""",
      """{"id": 4, "text": "!!! ??? ### $$$ %%% !!!", "lang": "en"}""", // junk → filtered
      s"""{"id": 5, "text": "$good and then some more words appear here", "lang": "de"}""")
    val out = graft.ext.Corpus.curate(docs, "id", "text", Seq("lang"),
      graft.ext.Corpus.CurateConfig(minQuality = 0.3, budget = 40L))
    val rows = out.collect().map(r => r.getAs[Long]("id") -> r).toMap
    assert(rows.keySet == Set(1L, 3L, 5L)) // 2 deduped away, 4 quality-filtered
    assert(rows(3L).getAs[String]("text").contains("<EMAIL>"))
    assert(!rows(3L).getAs[String]("text").contains("example.com"))
    // en shard: doc 1 (29 tokens) fills pack 0; doc 3 (36 tokens incl. scrub
    // artifacts) overflows the 40-token budget → pack 1. de restarts at 0.
    assert(rows(1L).getAs[Long]("pack_id") == 0L && rows(1L).getAs[Long]("pack_offset") == 0L)
    assert(rows(3L).getAs[Long]("pack_id") == 1L)
    assert(rows(5L).getAs[Long]("pack_id") == 0L)
    assert(rows.values.forall(_.getAs[Double]("quality") > 0.3))
  }

  test("corpus curation: the compression band kills template spam the score gate passed") {
    // varied words keep the quality score healthy, but 30 repeats of the
    // same sentence deflate to almost nothing — only the entropy gate trips
    val spam = Seq.fill(30)("our fine curated excellent premium quality shop sells " +
      "wonderful remarkable products online").mkString(" ")
    val prose = "the committee reviewed seventeen distinct proposals before narrowing " +
      "the field to a shortlist that balanced cost with feasibility and long term " +
      "impact on the surrounding communities in clearly measurable ways"
    val docs = fromJsonl(
      s"""{"id": 1, "text": "$prose", "lang": "en"}""",
      s"""{"id": 2, "text": "$spam", "lang": "en"}""")
    val noBand = graft.ext.Corpus.curate(docs, "id", "text", Seq("lang"),
      graft.ext.Corpus.CurateConfig(minQuality = 0.2, budget = 4096L))
    assert(noBand.select("id").collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    val banded = graft.ext.Corpus.curate(docs, "id", "text", Seq("lang"),
      graft.ext.Corpus.CurateConfig(minQuality = 0.2, budget = 4096L,
        compressionBand = Some((0.3, 0.95))))
    assert(banded.select("id").collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("curateFunnel reports per-tier drop counts in chain order") {
    val good = "the quick brown fox jumps over the lazy dog while many other animals watch " +
      "from the forest edge and wonder about the strange scene unfolding before them today"
    val docs = fromJsonl(
      s"""{"id": 1, "text": "$good", "lang": "en"}""",
      s"""{"id": 2, "text": "$good", "lang": "en"}""",                    // exact dup
      """{"id": 3, "text": "!!! ??? ### $$$ %%% !!!", "lang": "en"}""",   // junk
      s"""{"id": 4, "text": "$good with an extra tail of words", "lang": "en"}""")
    val eval = fromJsonl("""{"q": "an extra tail of words"}""")
    val funnel = graft.ext.Corpus.curateFunnel(docs, "id", "text",
      graft.ext.Corpus.CurateConfig(minQuality = 0.3, decontamN = 5),
      eval = Some((eval, "q")))
      .collect().map(r => (r.getAs[Int]("tier_idx"), r.getAs[String]("tier"),
        r.getAs[Long]("rows"), r.getAs[Long]("dropped")))
    assert(funnel.map(_._2).toSeq == Seq("input", "exact_dedup", "decontam", "quality_gate"))
    // 4 in → exact dedup kills the copy → decontam kills the leaked doc →
    // quality kills the junk
    assert(funnel.map(t => (t._3, t._4)).toSeq ==
      Seq((4L, 0L), (3L, 1L), (2L, 1L), (1L, 1L)))
  }

  test("corpus curation: the encoding-repair tier lets mojibake dups hash-match") {
    val clean = "the café story keeps going with many plain words that fill the " +
      "quality gate comfortably and then continues for a while longer still"
    // the same text after a UTF-8-as-latin-1 round trip: é → Ã©
    val broken = clean.replace("é", "Ã©")
    val docs = fromJsonl(
      s"""{"id": 1, "text": "$clean", "lang": "en"}""",
      s"""{"id": 2, "text": "$broken", "lang": "en"}""")
    // without repair the two hash differently and both survive
    val plain = graft.ext.Corpus.curate(docs, "id", "text", Seq("lang"),
      graft.ext.Corpus.CurateConfig(minQuality = 0.2, budget = 2048L))
    assert(plain.count() == 2)
    // with repair the mojibake copy canonicalizes and dedups away
    val repaired = graft.ext.Corpus.curate(docs, "id", "text", Seq("lang"),
      graft.ext.Corpus.CurateConfig(minQuality = 0.2, budget = 2048L,
        repairEncoding = true))
    assert(repaired.select("id").collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("corpus curation: the gopher tier drops rule-violating docs the score gate missed") {
    // both docs clear the closed-formula quality score, but the second is
    // under Gopher's 50-word floor — only the gopher tier catches it
    val long = ((1 to 55).map(i => s"area$i").mkString(" ")) + " the of and that have to be with"
    val short = "the quick brown fox jumps over the lazy dog with spirit and style that we have"
    val docs = fromJsonl(
      s"""{"id": 1, "text": "$long", "lang": "en"}""",
      s"""{"id": 2, "text": "$short", "lang": "en"}""")
    val base = graft.ext.Corpus.curate(docs, "id", "text", Seq("lang"),
      graft.ext.Corpus.CurateConfig(minQuality = 0.3, budget = 512L))
    assert(base.collect().map(_.getAs[Long]("id")).toSet == Set(1L, 2L))
    val gated = graft.ext.Corpus.curate(docs, "id", "text", Seq("lang"),
      graft.ext.Corpus.CurateConfig(minQuality = 0.3, budget = 512L, gopherRules = true))
    assert(gated.collect().map(_.getAs[Long]("id")).toSet == Set(1L))
  }

  test("corpus curation: normalize, line-dedup, and decontamination tiers compose") {
    val body = "the quick brown fox jumps over the lazy dog while many other animals watch " +
      "from the forest edge and wonder about the strange scene unfolding before them today"
    val boiler = "subscribe to our newsletter"
    // docs 1 and 2 differ only by HTML wrapping + the boilerplate line —
    // normalize + line-dedup must reveal them as exact duplicates
    val docs = fromJsonl(
      s"""{"id": 1, "text": "<p>$body</p>", "lang": "en"}""",
      s"""{"id": 2, "text": "$boiler\\n$body", "lang": "en"}""",
      s"""{"id": 3, "text": "$boiler\\nthe benchmark asks what is the capital of france and this document leaks the answer paris to the training set", "lang": "en"}""",
      s"""{"id": 4, "text": "$boiler\\nperfectly clean document with plenty of ordinary words speaking about weather mountains rivers and the slow passage of seasons across the wide valley", "lang": "en"}""")
    val eval = fromJsonl("""{"q": "what is the capital of france"}""")
    val out = graft.ext.Corpus.curate(docs, "id", "text", Seq("lang"),
      graft.ext.Corpus.CurateConfig(minQuality = 0.3, budget = 512L,
        normalize = true, lineDedupMaxCount = Some(2L), decontamN = 5),
      eval = Some((eval, "q")))
    val rows = out.collect().map(r => r.getAs[Long]("id") -> r).toMap
    // 2 deduped against 1 (after normalize+line-dedup), 3 decontaminated away
    assert(rows.keySet == Set(1L, 4L))
    // the surviving text is the cleaned form: no tags, no boilerplate
    assert(rows(1L).getAs[String]("text") == body)
    assert(!rows(4L).getAs[String]("text").contains(boiler))
  }

  test("corpus curation: near-dup tier drops high-Jaccard survivors of the exact tier") {
    val base = "the quick brown fox jumps over the lazy dog while many other animals " +
      "watch from the forest edge and wonder about the strange scene unfolding today " +
      "as the sun slowly sets behind the tall ancient trees of the quiet northern valley"
    val docs = fromJsonl(
      s"""{"id": 1, "text": "$base", "lang": "en"}""",
      s"""{"id": 2, "text": "${base.replace("lazy", "sleepy")}", "lang": "en"}""", // near-dup of 1
      s"""{"id": 3, "text": "completely different content about training large models on clusters with parquet shuffles and broadcast joins across many executor nodes in production settings", "lang": "en"}""")
    val exactOnly = graft.ext.Corpus.curate(docs, "id", "text", Seq("lang"),
      graft.ext.Corpus.CurateConfig(minQuality = 0.1, budget = 10000L))
    assert(exactOnly.collect().map(_.getAs[Long]("id")).toSet == Set(1L, 2L, 3L))
    val nearDedup = graft.ext.Corpus.curate(docs, "id", "text", Seq("lang"),
      graft.ext.Corpus.CurateConfig(minQuality = 0.1, budget = 10000L,
        nearDupThreshold = Some(0.5)))
    // doc 2 is a one-word variant of doc 1 → same cluster, smaller id survives
    assert(nearDedup.collect().map(_.getAs[Long]("id")).toSet == Set(1L, 3L))
  }

  test("multimodal: synthetic media decodes to expected metadata") {
    val ids = spark.range(0, 10).toDF("doc_id")
    val media = Multimodal.syntheticMedia(spark, ids, "doc_id").toDF
    val decoded = Multimodal.decodeAndFeaturize(spark, media).collect()
    assert(decoded.length == 10)
    val d7 = decoded.find(_.doc_id == 7L).get
    assert(d7.meta.format == "jpeg") // 7 % 3 == 1
    assert(d7.meta.width == (7 % 64) * 16 + 16)
    assert(d7.meta.height == (7 % 48) * 16 + 16)
    assert(d7.features.length == 8 && d7.features.exists(_ != 0f))
    val frames = Multimodal.frameSample(media.filter(col("doc_id") === 3), 16)
    assert(frames.count() > 1)
  }

  test("multimodal: binaryFile source reads real files into the decode tier") {
    val dir = java.nio.file.Files.createTempDirectory("graft-media").toString
    def writePng(name: String, w: Int, h: Int): Unit = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      javax.imageio.ImageIO.write(img, "png", new java.io.File(s"$dir/$name"))
    }
    writePng("a.png", 32, 16)
    writePng("b.png", 64, 48)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/junk.txt"), "nope".getBytes)
    val media = Multimodal.readMediaDir(spark, dir, globFilter = Some("*.png"))
    assert(media.count() == 2) // the glob prunes junk.txt at listing time
    val decoded = Multimodal.decodeAndFeaturize(spark, media, Multimodal.ImageIoDecoder)
      .collect().map(d => (d.meta.width, d.meta.height)).toSet
    assert(decoded == Set((32, 16), (64, 48)))
  }

  test("multimodal: real PNG round-trip through the ImageIO decoder") {
    val ids = spark.range(0, 6).toDF("doc_id")
    val media = Multimodal.syntheticImageMedia(spark, ids, "doc_id").toDF
    val decoded = Multimodal.decodeAndFeaturize(spark, media,
      Multimodal.ImageIoDecoder).collect()
    assert(decoded.length == 6)
    decoded.foreach { d =>
      assert(d.meta.format == "png", s"doc ${d.doc_id}: ${d.meta.format}")
      assert(d.meta.width == (d.doc_id % 64) * 16 + 16)
      assert(d.meta.height == (d.doc_id % 48) * 16 + 16)
      assert(d.meta.channels == 3)
      // left→right red gradient ⇒ strip luminances strictly ordered
      assert(d.features.length == 8 && d.features.head < d.features.last)
    }
    // the decoder refuses bytes no ImageReader recognizes
    intercept[org.apache.spark.SparkException] {
      Multimodal.decodeAndFeaturize(spark,
        Multimodal.syntheticMedia(spark, ids, "doc_id").toDF,
        Multimodal.ImageIoDecoder).collect()
    }
  }

  test("dupNgramFraction is corpus-relative: shared spans count, unique text scores 0") {
    val docs = fromJsonl(
      """{"doc_id": 1, "text": "alpha beta gamma delta epsilon zeta"}""",
      """{"doc_id": 2, "text": "alpha beta gamma completely different ending"}""",
      """{"doc_id": 3, "text": "nothing here overlaps with any other row"}""",
      """{"doc_id": 4, "text": ""}""")
    val out = TextFunctions.dupNgramFraction(docs, "doc_id", "text", n = 3)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_ngrams"), r.getAs[Long]("n_dup"), r.getAs[Double]("dup_fraction"))).toMap
    // docs 1 and 2 share exactly the trigram "alpha beta gamma"
    assert(out(1L) == ((4L, 1L, 0.25)))
    assert(out(2L) == ((4L, 1L, 0.25)))
    assert(out(3L)._2 == 0L && out(3L)._3 == 0.0)
    assert(out(4L)._2 == 0L)   // empty text contributes no duplicated span
  }

  test("C4 rules: each line and page filter trips on its planted violation") {
    import org.apache.spark.sql.functions.col
    val good = "the first proper sentence sits right here.\n" +
      "and the second one follows immediately after!\n" +
      "finally a third sentence closes the page?"
    val docs = fromJsonl(
      s"""{"doc_id": 1, "text": ${jsonStr(good)}}""",
      s"""{"doc_id": 2, "text": ${jsonStr(good + "\nno terminal punctuation on this line")}}""",
      s"""{"doc_id": 3, "text": ${jsonStr(good + "\ntiny line.")}}""",
      s"""{"doc_id": 4, "text": ${jsonStr(good + "\nthis line mentions JavaScript libraries today.")}}""",
      s"""{"doc_id": 5, "text": ${jsonStr(good + "\nbrace bearing line looks like this {x}.")}}""",
      s"""{"doc_id": 6, "text": ${jsonStr(good + "\nsome lorem ipsum filler appears right here.")}}""",
      s"""{"doc_id": 7, "text": "only one real sentence lives here."}""")
    val out = TextFunctions.c4Filter(docs, "text")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    assert(out.keySet == Set(1L, 2L, 3L, 4L))   // 5 brace, 6 lorem, 7 sentences
    assert(out(1L) == good)
    assert(out(2L) == good)                      // unpunctuated line dropped
    assert(out(3L) == good)                      // short line dropped
    assert(out(4L) == good)                      // javascript line dropped
    // bad-words page rule
    val bw = TextFunctions.c4Filter(docs.filter(col("doc_id") === 1), "text",
      badWords = Seq("sentence"))
    assert(bw.count() == 0)
  }

  private def jsonStr(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", "\\n") + "\""

  test("paragraphDedup drops repeated blocks that line dedup would shred") {
    val docs = fromJsonl(
      """{"doc_id": 1, "text": "body one unique\n\nfooter line a\nfooter line b"}""",
      """{"doc_id": 2, "text": "body two unique\n\nfooter line a\nfooter line b"}""",
      """{"doc_id": 3, "text": "body three unique"}""")
    val out = Dedup.paragraphDedup(docs, "doc_id", "text", maxCount = 1)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("clean_text"), r.getAs[Long]("n_removed"))).toMap
    assert(out(1L) == (("body one unique", 1L)))   // footer BLOCK removed whole
    assert(out(2L) == (("body two unique", 1L)))
    assert(out(3L) == (("body three unique", 0L)))
    // multi-line paragraphs survive intact when unique
    val keep = Dedup.paragraphDedup(fromJsonl(
      """{"doc_id": 1, "text": "line a\nline b\n\nother para"}"""),
      "doc_id", "text", maxCount = 1).collect().head
    assert(keep.getAs[String]("clean_text") == "line a\nline b\n\nother para")
  }

  test("ANN indexes round-trip through parquet persistence") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val emb = (0L until 200L).map(i =>
      (i, Array.fill(16)(rnd.nextGaussian().toFloat).toSeq)).toDF("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") < 5)
    val dir = java.nio.file.Files.createTempDirectory("graft-annidx").toString

    val ivf = Similarity.ivfBuild(emb, "vec_id", "embedding", nlist = 4)
    Similarity.saveIvfIndex(ivf, s"$dir/ivf")
    val ivf2 = Similarity.loadIvfIndex(spark, s"$dir/ivf")
    assert(ivf2.centroids.map(_.toSeq).toSeq == ivf.centroids.map(_.toSeq).toSeq)
    val a = Similarity.ivfTopK(queries, ivf, "vec_id", "embedding", k = 3, nprobe = 4)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = Similarity.ivfTopK(queries, ivf2, "vec_id", "embedding", k = 3, nprobe = 4)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == b && a.nonEmpty)

    val pq = Similarity.pqBuild(emb, "vec_id", "embedding", m = 4, ksub = 8, dim = 16)
    Similarity.savePqIndex(pq, s"$dir/pq")
    val pq2 = Similarity.loadPqIndex(spark, s"$dir/pq")
    assert(pq2.books.map(_.map(_.toSeq).toSeq).toSeq == pq.books.map(_.map(_.toSeq).toSeq).toSeq)
    val pa = Similarity.pqTopK(queries, pq, "vec_id", "embedding", k = 3, rerank = 20)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pb = Similarity.pqTopK(queries, pq2, "vec_id", "embedding", k = 3, rerank = 20)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pa == pb && pa.nonEmpty)

    val ivfpq = Similarity.ivfPqBuild(emb, "vec_id", "embedding",
      nlist = 4, m = 4, ksub = 8, dim = 16)
    Similarity.saveIvfPqIndex(ivfpq, s"$dir/ivfpq")
    val ivfpq2 = Similarity.loadIvfPqIndex(spark, s"$dir/ivfpq")
    val xa = Similarity.ivfPqTopK(queries, ivfpq, "vec_id", "embedding",
      k = 3, nprobe = 4, rerank = 20).select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val xb = Similarity.ivfPqTopK(queries, ivfpq2, "vec_id", "embedding",
      k = 3, nprobe = 4, rerank = 20).select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(xa == xb && xa.nonEmpty)
  }

  test("corpus stats reports volumes, dup rate and means per stratum") {
    val docs = fromJsonl(
      """{"doc_id": 1, "s": "a", "text": "one two three"}""",
      """{"doc_id": 2, "s": "a", "text": "one two three"}""",
      """{"doc_id": 3, "s": "a", "text": "four five"}""",
      """{"doc_id": 4, "s": "b", "text": "six"}""")
    val out = Corpus.stats(docs, "text", Seq("s"))
      .collect().map(r => r.getAs[String]("s") -> r).toMap
    val a = out("a")
    assert(a.getAs[Long]("n_docs") == 3L)
    assert(a.getAs[Long]("n_tokens") == 8L)
    assert(a.getAs[Long]("n_distinct_texts") == 2L)
    assert(a.getAs[Double]("dup_ratio") == math.floor((1.0 - 2.0 / 3) * 1e6 + 0.5) / 1e6)
    assert(a.getAs[Double]("mean_tokens") == math.floor(8.0 / 3 * 1e6 + 0.5) / 1e6)
    val b = out("b")
    assert(b.getAs[Long]("n_docs") == 1L && b.getAs[Double]("dup_ratio") == 0.0)
    // approx tier: same row set, distinct count within HLL error (exact here)
    val approx = Corpus.stats(docs, "text", Seq("s"), exactDistinct = false)
      .collect().map(r => r.getAs[String]("s") -> r.getAs[Long]("n_distinct_texts")).toMap
    assert(approx("a") == 2L && approx("b") == 1L)
  }

  test("multimodal: real WAV round-trip through the JDK sound decoder") {
    val ids = spark.range(0, 6).toDF("doc_id")
    val media = Multimodal.syntheticWavMedia(spark, ids, "doc_id").toDF
    val decoded = Multimodal.decodeAndFeaturizeAudio(spark, media).collect()
    assert(decoded.length == 6)
    decoded.foreach { d =>
      assert(d.meta.format == "wave", s"doc ${d.doc_id}: ${d.meta.format}")
      assert(d.meta.sampleRate == 8000 + (d.doc_id % 4) * 4000)
      assert(d.meta.channels == 1 + (d.doc_id % 2))
      assert(d.meta.frames == 256 + (d.doc_id % 512))
      // pseudo-noise PCM ⇒ every RMS window is strictly positive
      assert(d.features.length == 8 && d.features.forall(_ > 0f))
    }
    // deterministic: same ids ⇒ bit-identical features
    val again = Multimodal.decodeAndFeaturizeAudio(spark, media).collect()
    assert(decoded.sortBy(_.doc_id).map(_.features.toSeq).toSeq ==
      again.sortBy(_.doc_id).map(_.features.toSeq).toSeq)
    // the decoder refuses non-audio bytes
    intercept[org.apache.spark.SparkException] {
      Multimodal.decodeAndFeaturizeAudio(spark,
        Multimodal.syntheticMedia(spark, ids, "doc_id").toDF).collect()
    }
  }

  test("multimodal: real MP4/MKV container metadata through the box/EBML walk") {
    val ids = spark.range(0, 8).toDF("doc_id")
    val media = Multimodal.syntheticVideoMedia(spark, ids, "doc_id").toDF
    val decoded = Multimodal.decodeVideoMeta(spark, media).collect()
    assert(decoded.length == 8)
    decoded.foreach { d =>
      val id = d.doc_id
      assert(d.meta.format == (if (id % 2 == 0) "mp4" else "matroska"),
        s"doc $id: ${d.meta.format}")
      val expectCodec =
        if (id % 2 == 0) { if (id % 4 == 0) "avc1" else "hev1" }
        else { if (id % 4 == 1) "V_VP9" else "V_AV1" }
      assert(d.meta.codec == expectCodec, s"doc $id: ${d.meta.codec}")
      assert(d.meta.width == (id % 64) * 16 + 16 && d.meta.height == (id % 48) * 16 + 16)
      assert(d.meta.duration_ms == 1000 + (id % 60) * 500)
      assert(d.meta.sizeBytes > 0)
    }
    // a 64-bit (version 1) mvhd parses through the large-time path too
    val v1mvhd = {
      val bb = java.nio.ByteBuffer.allocate(120)
      bb.put(0, 1.toByte)            // version 1
      bb.putInt(4 + 16, 1000)        // timescale after two 8-byte times
      bb.putLong(4 + 20, 7500L)      // 64-bit duration
      bb.array()
    }
    def box(typ: String, body: Array[Byte]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(8 + body.length)
      bb.putInt(8 + body.length); bb.put(typ.getBytes("US-ASCII")); bb.put(body)
      bb.array()
    }
    val mp4v1 = box("ftyp", "isom".getBytes ++ new Array[Byte](8)) ++
      box("moov", box("mvhd", v1mvhd))
    assert(Multimodal.ContainerVideoDecoder.decode(mp4v1).duration_ms == 7500L)
    // the decoder refuses non-container bytes
    intercept[IllegalArgumentException] {
      Multimodal.ContainerVideoDecoder.decode(Array.fill[Byte](64)(7))
    }
  }

  test("salted join equals plain join; key profile finds hot keys") {
    import spark.implicits._
    val fact = (Seq.fill(50)("hot") ++ Seq("a", "b", "c")).zipWithIndex
      .map { case (k, i) => (k, i) }.toDF("k", "v")
    val dim = Seq(("hot", "H"), ("a", "A"), ("b", "B")).toDF("k", "label")
    val plain = fact.join(dim, Seq("k")).select("k", "v", "label").collect().toSet
    val salted = Skew.saltedJoin(fact, dim, "k", salt = 4).select("k", "v", "label").collect().toSet
    assert(salted == plain && plain.size == 52)
    val prof = Skew.keyProfile(fact, "k", 1).collect().head
    assert(prof.getString(0) == "hot" && prof.getLong(1) == 50L)
  }

  test("bpe-ish token count segments like a GPT pre-tokenizer") {
    val d = fromJsonl("""{"id": 1, "text": "don't stop, 42 times!"}""")
      .select(TextFunctions.bpeTokenCountApprox(col("text")).as("n")).collect().head
    // don | 't | _stop | , | _42 | _times | ! → 7
    assert(d.getAs[Int]("n") == 7)
  }

  test("embedding normalize + int8 quantize round-trip") {
    import scala.jdk.CollectionConverters._
    val schema = org.apache.spark.sql.types.StructType.fromDDL("v ARRAY<FLOAT>")
    val df = spark.createDataFrame(
      Seq(org.apache.spark.sql.Row(Seq(3f, -4f, 0f))).asJava, schema)
    val r = df.select(
      Similarity.l2Normalize(col("v")).as("u"),
      Similarity.dequantizeInt8(Similarity.quantizeInt8(col("v"))).as("dq")).collect().head
    val u = r.getAs[scala.collection.Seq[Float]]("u")
    assert(math.abs(u(0) - 0.6f) < 1e-6 && math.abs(u(1) + 0.8f) < 1e-6)
    val dq = r.getAs[scala.collection.Seq[Float]]("dq")
    Seq(3f, -4f, 0f).zip(dq).foreach { case (x, y) =>
      assert(math.abs(x - y) <= 4.0 / 127 + 1e-6) // within one quantization step
    }
  }

  test("kernel, declarative, and native-codegen cosine agree bit-for-bit") {
    import scala.jdk.CollectionConverters._
    graft.exprs.catalyst.GraftFunctions.register(spark)
    val schema = org.apache.spark.sql.types.StructType.fromDDL("a ARRAY<FLOAT>, b ARRAY<FLOAT>")
    val df = spark.createDataFrame(Seq(
      org.apache.spark.sql.Row(Seq(0.3f, -1.2f, 2.2f), Seq(1.5f, 0.7f, -0.1f))).asJava, schema)
    val r = df.select(
      Kernels.cosineKernel(col("a"), col("b")).as("k"),
      Similarity.cosine(col("a"), col("b")).as("c"),
      call_function("graft_cosine", col("a"), col("b")).as("n")).collect().head
    assert(r.getDouble(0) == r.getDouble(1) && r.getDouble(1) == r.getDouble(2))
    // also callable from plain SQL
    df.createOrReplaceTempView("vecs")
    val sqlV = spark.sql("SELECT graft_cosine(a, b) AS c FROM vecs").collect().head.getDouble(0)
    assert(sqlV == r.getDouble(0))
  }

  test("URL host/domain extraction and blocklist filtering") {
    val rows = fromJsonl(
      """{"id": 1, "url": "https://user:pw@WWW.Sub.Example.COM:8443/path?q=1"}""",
      """{"id": 2, "url": "http://blog.other.org/post#frag"}""",
      """{"id": 3, "url": "ftp://files.example.com/x"}""",
      """{"id": 4, "url": "not a url at all"}""",
      """{"id": 5, "url": "https://localhost/admin"}""")
    val got = rows.select(col("id"),
      TextFunctions.extractHost(col("url")).as("h"),
      TextFunctions.registeredDomain(TextFunctions.extractHost(col("url"))).as("d"))
      .collect().map(r => r.getAs[Long]("id") ->
        ((Option(r.getAs[String]("h")), r.getAs[String]("d")))).toMap
    assert(got(1L) == ((Some("www.sub.example.com"), "example.com"))) // case, userinfo, port
    assert(got(2L) == ((Some("blog.other.org"), "other.org")))
    assert(got(3L) == ((Some("files.example.com"), "example.com")))   // any scheme
    assert(got(4L)._1.isEmpty)                                        // no URL shape → null host
    assert(got(5L) == ((Some("localhost"), "")))                      // single label: no reg domain
    val kept = TextFunctions.filterBlockedDomains(rows, "url", Seq("EXAMPLE.com"))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 4L, 5L)) // 1 and 3 blocked; null/blank domains pass
  }

  test("NFC normalize composes decomposed accents; strip-html leaves visible text") {
    val df = fromJsonl(
      """{"id": 1, "composed": "café", "decomposed": "café"}""")
    val r = df.select(
      TextFunctions.normalizeNfc(col("composed")).as("a"),
      TextFunctions.normalizeNfc(col("decomposed")).as("b"),
      (col("composed") === col("decomposed")).as("raw_eq")).collect().head
    assert(!r.getAs[Boolean]("raw_eq"), "fixture must start byte-different")
    assert(r.getAs[String]("a") == r.getAs[String]("b"))
    assert(r.getAs[String]("a") == "café")
    // interpreted and codegen paths agree (nullSafeEval vs doGenCode)
    graft.exprs.catalyst.GraftFunctions.register(spark)
    val sqlV = spark.sql("SELECT graft_nfc('café') AS v")
      .collect().head.getString(0)
    assert(sqlV == "café")

    val html = fromJsonl(
      """{"id": 1, "h": "<div><p>Hello &amp; welcome</p><script>drop(); </script><style>p { color: red }</style>Tom &lt;3&nbsp;Spark</div>"}""")
    val clean = html.select(TextFunctions.stripHtml(col("h")).as("c")).collect().head.getString(0)
    assert(clean == "Hello & welcome\nTom <3 Spark") // </p> keeps the line break
    // null propagates, doesn't crash
    val nullRow = fromJsonl("""{"id": 1, "h": null}""")
      .select(TextFunctions.stripHtml(col("h")).as("c"),
        TextFunctions.normalizeNfc(col("h")).as("n")).collect().head
    assert(nullRow.isNullAt(0) && nullRow.isNullAt(1))
  }

  test("line dedup removes corpus-repeated lines, keeps order, restores empty docs") {
    val boiler = "subscribe now"
    val corpus = fromJsonl(
      s"""{"doc_id": 1, "text": "$boiler\\nunique first line\\nunique second line"}""",
      s"""{"doc_id": 2, "text": "alpha\\n$boiler\\nbeta"}""",
      s"""{"doc_id": 3, "text": "gamma\\n  $boiler  "}""", // trimmed before comparing
      """{"doc_id": 4, "text": ""}""",
      s"""{"doc_id": 5, "text": "$boiler"}""")
    val out = Dedup.lineDedup(corpus, "doc_id", "text", maxCount = 2)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("clean_text"), r.getAs[Long]("n_lines"), r.getAs[Long]("n_removed"))))
      .toMap
    assert(out(1L) == (("unique first line\nunique second line", 3L, 1L)))
    assert(out(2L) == (("alpha\nbeta", 3L, 1L)))          // order preserved around the gap
    assert(out(3L) == (("gamma", 2L, 1L)))                // whitespace-padded copy still counted
    assert(out(4L) == (("", 0L, 0L)))                     // empty doc survives as a row
    assert(out(5L) == (("", 1L, 1L)))                     // all-boilerplate doc emptied, not dropped
    // below the threshold nothing is touched
    val loose = Dedup.lineDedup(corpus, "doc_id", "text", maxCount = 4)
      .agg(sum(col("n_removed"))).collect().head.getLong(0)
    assert(loose == 0L)
  }

  test("decontamination: n-gram overlap with the eval set flags only real overlap") {
    val eval = fromJsonl(
      """{"q": "what is the capital of france"}""")
    val corpus = fromJsonl(
      """{"doc_id": 1, "text": "Quiz answers: what is the capital of France? Paris of course."}""",
      """{"doc_id": 2, "text": "everyone knows paris is the capital of france indeed"}""",
      """{"doc_id": 3, "text": "totally unrelated text about spark query planning internals"}""",
      """{"doc_id": 4, "text": "short doc"}""")
    val flags = Decontamination.flagContaminated(corpus, "doc_id", "text", eval, "q", n = 5)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("contaminated")).toMap
    assert(flags == Map(1L -> true, 2L -> true, 3L -> false, 4L -> false))
    // the filter form keeps exactly the clean docs, columns untouched
    val kept = Decontamination.removeContaminated(corpus, "doc_id", "text", eval, "q", n = 5)
    assert(kept.columns.toSeq == corpus.columns.toSeq)
    assert(kept.select("doc_id").collect().map(_.getLong(0)).toSet == Set(3L, 4L))
    // the eval n-gram set reaches the corpus as a broadcast, never a shuffle
    // of the corpus by n-gram
    val physical = Decontamination.flagContaminated(corpus, "doc_id", "text", eval, "q", n = 5)
      .queryExecution.executedPlan.toString
    assert(physical.contains("BroadcastHashJoin"))
  }

  test("contamination report covers every eval set in one pass, zero-hit sets included") {
    val corpus = fromJsonl(
      """{"doc_id": 1, "text": "Quiz answers: what is the capital of France? Paris of course."}""",
      """{"doc_id": 2, "text": "everyone knows paris is the capital of france indeed"}""",
      """{"doc_id": 3, "text": "totally unrelated text about spark query planning internals"}""",
      """{"doc_id": 4, "text": "short doc"}""")
    val evals = Map(
      "trivia" -> fromJsonl("""{"q": "what is the capital of france"}"""),
      "planning" -> fromJsonl("""{"q": "everything about spark query planning internals"}"""),
      "untouched" -> fromJsonl("""{"q": "completely absent benchmark phrasing here"}"""))
    val rep = Decontamination.report(corpus, "doc_id", "text", evals, "q", n = 5)
      .collect().map(r => r.getAs[String]("eval_name") ->
        ((r.getAs[Long]("n_contaminated"), r.getAs[Long]("n_docs"),
          r.getAs[Double]("contamination_rate")))).toMap
    assert(rep("trivia") == ((2L, 4L, 0.5)))
    assert(rep("planning") == ((1L, 4L, 0.25)))
    assert(rep("untouched") == ((0L, 4L, 0.0)))
  }

  test("removeContaminatedSpans cuts exactly the eval-covered tokens") {
    val eval = fromJsonl("""{"q": "what is the capital of france"}""")
    val corpus = fromJsonl(
      """{"doc_id": 1, "text": "Quiz answers: what is the capital of France? Paris of course."}""",
      """{"doc_id": 2, "text": "totally unrelated text about spark query planning internals"}""",
      """{"doc_id": 3, "text": "tiny doc"}""")
    val out = Decontamination.removeContaminatedSpans(
      corpus, "doc_id", "text", eval, "q", n = 5)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("cleaned_text"), r.getAs[Long]("n_tokens"),
          r.getAs[Long]("n_removed")))).toMap
    // starts {2,3} cover tokens 2..7: the quoted question dies, the
    // framing around it survives
    assert(out(1L) == (("quiz answers paris of course", 11L, 6L)))
    // clean and short docs pass through whole
    assert(out(2L) ==
      (("totally unrelated text about spark query planning internals", 8L, 0L)))
    assert(out(3L) == (("tiny doc", 2L, 0L)))
    // eval grams arrive as a broadcast — the corpus is never shuffled by gram
    val physical = Decontamination.removeContaminatedSpans(
      corpus, "doc_id", "text", eval, "q", n = 5)
      .queryExecution.executedPlan.toString
    assert(physical.contains("BroadcastHashJoin"))
  }

  test("semantic decontamination flags near-eval embeddings, exact and LSH tiers agree") {
    import spark.implicits._
    val mk = (id: Long, base: Double) =>
      (id, (0 until 64).map(i => (math.sin(base + i * 0.1)).toFloat).toSeq)
    val corpus = Seq(mk(1L, 0.0), mk(2L, 0.05), mk(3L, 2.5)).toDF("vec_id", "embedding")
    val eval = Seq(mk(10L, 0.02)).toDF("vec_id", "embedding")
    val exact = Decontamination.flagSemantic(corpus, "vec_id", "embedding",
      eval, "embedding", threshold = 0.9)
      .collect().map(_.getLong(0)).toSet
    assert(exact == Set(1L, 2L))     // 3 points elsewhere on the curve
    val lsh = Decontamination.flagSemantic(corpus, "vec_id", "embedding",
      eval, "embedding", threshold = 0.9, planes = 2, tables = 32)
      .collect().map(_.getLong(0)).toSet
    assert(lsh == exact)
    // filter form keeps exactly the clean rows, columns untouched
    val kept = Decontamination.removeSemantic(corpus, "vec_id", "embedding",
      eval, "embedding", threshold = 0.9)
    assert(kept.columns.toSeq == corpus.columns.toSeq)
    assert(kept.select("vec_id").collect().map(_.getLong(0)).toSet == Set(3L))
  }

  test("corpus manifest fingerprint is order-insensitive but duplicate- and edit-sensitive") {
    import graft.ext.Corpus
    val a = fromJsonl(
      """{"doc_id": 1, "sh": "s", "text": "alpha"}""",
      """{"doc_id": 2, "sh": "s", "text": "beta"}""",
      """{"doc_id": 3, "sh": "s", "text": "gamma"}""")
    def fp(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val r = Corpus.manifest(df, "doc_id", "text", Seq("sh")).collect().head
      (r.getAs[Long]("content_fingerprint"), r.getAs[Long]("n_docs"))
    }
    val (base, n) = fp(a)
    assert(n == 3L)
    // same rows, reversed order → identical fingerprint
    assert(fp(a.orderBy(col("doc_id").desc))._1 == base)
    // a duplicated document changes it (multiset, not set, semantics)
    assert(fp(a.unionAll(a.filter(col("doc_id") === 1)))._1 != base)
    // a one-character edit changes it
    val edited = a.withColumn("text",
      when(col("doc_id") === 2, lit("beta!")).otherwise(col("text")))
    assert(fp(edited)._1 != base)
  }

  test("corpus export writes pos-ordered shards with a manifest receipt, reproducibly") {
    import graft.ext.Corpus
    val docs = fromJsonl((1 to 40).map(i =>
      s"""{"doc_id": $i, "text": "document number $i body"}"""): _*)
    val dir = java.nio.file.Files.createTempDirectory("graft-export").toString
    val man = Corpus.export(docs, "doc_id", "text", s"$dir/a", shards = 4, seed = "s1")
      .collect().map(r => r.getAs[Long]("shard") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("content_fingerprint")))).toMap
    assert(man.keySet == Set(0L, 1L, 2L, 3L))
    assert(man.values.map(_._1).sum == 40L)
    // every shard's pos is contiguous from 0
    val data = spark.read.parquet(s"$dir/a/data")
      .select(col("shard").cast("long").as("shard"), col("pos"))
    val byShard = data.collect()
      .groupBy(_.getAs[Long]("shard")).view
      .mapValues(_.map(_.getAs[Long]("pos")).sorted.toSeq).toMap
    byShard.foreach { case (s, ps) =>
      assert(ps == (0L until ps.length).toSeq, s"shard $s positions: $ps")
    }
    // re-export to a fresh path: identical manifest (same bytes shipped)
    val man2 = Corpus.export(docs, "doc_id", "text", s"$dir/b", shards = 4, seed = "s1")
      .collect().map(r => r.getAs[Long]("shard") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("content_fingerprint")))).toMap
    assert(man2 == man)
    // a different seed reshuffles membership but ships the same corpus
    val man3 = Corpus.export(docs, "doc_id", "text", s"$dir/c", shards = 4, seed = "s2")
      .collect().map(r => r.getAs[Long]("n_docs")).sum
    assert(man3 == 40L)
    // JSONL + gzip: same content fingerprints as the parquet export
    val manJ = Corpus.export(docs, "doc_id", "text", s"$dir/j", shards = 4,
      seed = "s1", format = "json", compression = Some("gzip"))
      .collect().map(r => r.getAs[Long]("shard") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("content_fingerprint")))).toMap
    assert(manJ == man)
    val gzFiles = new java.io.File(s"$dir/j/data/shard=0").listFiles()
      .count(_.getName.endsWith(".json.gz"))
    assert(gzFiles >= 1)
  }

  test("corpus drift: identical snapshots score zero PSI; a shifted stratum lights up") {
    import graft.ext.Corpus
    val a = fromJsonl(
      """{"doc_id": 1, "lang": "en", "text": "aaaa"}""",
      """{"doc_id": 2, "lang": "en", "text": "bbbb"}""",
      """{"doc_id": 3, "lang": "de", "text": "cccc"}""",
      """{"doc_id": 4, "lang": "de", "text": "dddd"}""")
    val same = Corpus.drift(a, a, Seq("lang"), length(col("text")), Seq(3L))
      .collect()
    assert(same.nonEmpty && same.forall(_.getAs[Double]("psi") == 0.0))
    // b drops every 'de' doc: the lang feature must dominate total PSI and
    // the de bucket must carry it (p_b floored at eps)
    val b = a.filter(col("lang") === "en")
    val drifted = Corpus.drift(a, b, Seq("lang"), length(col("text")), Seq(3L))
      .collect().map(r => (r.getAs[String]("feature"), r.getAs[String]("bucket")) ->
        r.getAs[Double]("psi")).toMap
    assert(drifted(("lang", "de")) > 1.0, s"got $drifted")   // 0.5 vs eps → huge psi
    assert(drifted(("lang", "en")) > 0.0 && drifted(("lang", "en")) < 1.0)
    assert(drifted(("length", "1")) == 0.0)                  // lengths unchanged
  }

  test("fuzzy decontamination flags near-duplicates of eval docs, not topical overlap") {
    val eval = fromJsonl(
      """{"q": "the quick brown fox jumps over the lazy dog every single morning"}""")
    val corpus = fromJsonl(
      // verbatim copy → jaccard 1.0
      """{"doc_id": 1, "text": "the quick brown fox jumps over the lazy dog every single morning"}""",
      // light edit → still above 0.5
      """{"doc_id": 2, "text": "the quick brown fox jumps over the lazy dog every single evening"}""",
      // shares words but few trigrams → below threshold
      """{"doc_id": 3, "text": "a lazy dog sleeps while the morning fox hunts somewhere else entirely"}""",
      """{"doc_id": 4, "text": "completely unrelated prose about catalyst query planning internals"}""")
    val flags = Decontamination.flagFuzzy(corpus, "doc_id", "text", eval, "q",
      shingleSize = 3, numHashes = 64, bands = 16, threshold = 0.5)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("max_jaccard")).toMap
    assert(flags.keySet == Set(1L, 2L))
    assert(flags(1L) == 1.0 && flags(2L) >= 0.5)
    // the filter form keeps exactly the clean docs, columns untouched
    val kept = Decontamination.removeFuzzy(corpus, "doc_id", "text", eval, "q",
      shingleSize = 3, numHashes = 64, bands = 16, threshold = 0.5)
    assert(kept.columns.toSeq == corpus.columns.toSeq)
    assert(kept.select("doc_id").collect().map(_.getLong(0)).toSet == Set(3L, 4L))
  }

  test("decontamination: bloom tier agrees with the exact tier (modulo FPs)") {
    val eval = fromJsonl(
      """{"q": "what is the capital of france"}""")
    val corpus = fromJsonl(
      """{"doc_id": 1, "text": "Quiz answers: what is the capital of France? Paris of course."}""",
      """{"doc_id": 2, "text": "everyone knows paris is the capital of france indeed"}""",
      """{"doc_id": 3, "text": "totally unrelated text about spark query planning internals"}""",
      """{"doc_id": 4, "text": "short doc"}""")
    val flags = Decontamination.flagContaminatedBloom(corpus, "doc_id", "text",
      eval, "q", n = 5, expectedGrams = 1000L, fpp = 0.001)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("contaminated")).toMap
    // every exact-tier hit MUST be a bloom hit (no false negatives); at
    // fpp=0.1% over a handful of grams the clean docs stay clean too
    assert(flags(1L) && flags(2L))
    assert(!flags(3L) && !flags(4L))
    // no join in the plan at all — the probe is a codegen'd bloom bit test
    // (BloomFilterMightContain), not a row-at-a-time Scala UDF
    val physical = Decontamination.flagContaminatedBloom(corpus, "doc_id", "text",
      eval, "q", n = 5, expectedGrams = 1000L, fpp = 0.001)
      .queryExecution.executedPlan.toString
    assert(!physical.contains("Join"))
    assert(!physical.contains("ScalaUDF"))
  }

  test("as-of join: backward picks latest at-or-before, left-outer keeps unmatched") {
    val quotes = fromJsonl(
      """{"sym": "A", "qts": 10, "px": 1.0}""",
      """{"sym": "A", "qts": 20, "px": 2.0}""",
      """{"sym": "A", "qts": 30, "px": 3.0}""",
      """{"sym": "B", "qts": 25, "px": 9.0}""")
    val trades = fromJsonl(
      """{"sym": "A", "tts": 5,  "qty": 100}""",
      """{"sym": "A", "tts": 20, "qty": 200}""",
      """{"sym": "A", "tts": 27, "qty": 300}""",
      """{"sym": "B", "tts": 24, "qty": 400}""",
      """{"sym": "C", "tts": 50, "qty": 500}""")
    val out = Joins.asOf(trades, quotes, Seq("sym"), "tts", "qts")
      .collect().map(r => (r.getAs[String]("sym"), r.getAs[Long]("tts"),
        Option(r.getAs[Any]("px")))).toSet
    assert(out == Set(
      ("A", 5L, None),            // before any quote
      ("A", 20L, Some(2.0)),      // inclusive: quote at the same instant
      ("A", 27L, Some(2.0)),      // latest at-or-before
      ("B", 24L, None),           // B's only quote is later
      ("C", 50L, None)))          // key never quoted
    // row count is exactly the left side: left-outer semantics
    assert(Joins.asOf(trades, quotes, Seq("sym"), "tts", "qts").count() == 5)
  }

  test("as-of join: forward picks earliest at-or-after; null left ts matches nothing") {
    val quotes = fromJsonl(
      """{"sym": "A", "qts": 10, "px": 1.0}""",
      """{"sym": "A", "qts": 30, "px": 3.0}""")
    val trades = fromJsonl(
      """{"sym": "A", "tts": 10, "qty": 1}""",
      """{"sym": "A", "tts": 15, "qty": 2}""",
      """{"sym": "A", "tts": 31, "qty": 3}""",
      """{"sym": "A", "tts": null, "qty": 4}""")
    val out = Joins.asOf(trades, quotes, Seq("sym"), "tts", "qts", direction = "forward")
      .collect().map(r => (r.getAs[Long]("qty"), Option(r.getAs[Any]("px")))).toSet
    assert(out == Set(
      (1L, Some(1.0)),  // inclusive at the same instant
      (2L, Some(3.0)),  // earliest at-or-after
      (3L, None),       // past the last quote
      (4L, None)))      // null ts never matches
    // backward: the null-ts left row also matches nothing (nulls sort first)
    val back = Joins.asOf(trades, quotes, Seq("sym"), "tts", "qts")
      .filter(col("qty") === 4).collect().head
    assert(back.isNullAt(back.fieldIndex("px")))
  }

  test("as-of join plan shuffles once on the key and keeps the window partitioned") {
    val quotes = fromJsonl("""{"sym": "A", "qts": 10, "px": 1.0}""")
    val trades = fromJsonl("""{"sym": "A", "tts": 5, "qty": 100}""")
    val qe = Joins.asOf(trades, quotes, Seq("sym"), "tts", "qts").queryExecution
    val physical = qe.executedPlan.toString
    assert(!physical.contains("BroadcastNestedLoop") && !physical.contains("CartesianProduct"))
    // every window is keyed, never global
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val unpartitioned = qe.optimizedPlan.collect {
      case w: LWindow if w.partitionSpec.isEmpty => w
    }
    assert(unpartitioned.isEmpty, "as-of join planned an unpartitioned window")
  }
}
