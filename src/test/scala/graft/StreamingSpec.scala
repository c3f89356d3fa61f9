package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import TestSpark._
import graft.streaming.{GraftStreaming, StreamingCollection}

/** Streaming semantics: Structured Streaming for the append path (aggo adds),
  * StreamingCollection recompute for mutation/removal — the engine-parity
  * test style of the reference (streaming vs batch must agree,
  * tests/streaming-comparison.spec.js). */
case class Ev(user: String, amount: Double)

class StreamingSpec extends AnyFunSuite {

  test("streaming $match+$group agrees with batch on same data") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[Ev]
    val stream = mem.toDF()
    val pipeline =
      """[{"$match": {"amount": {"$gte": 5}}},
          {"$group": {"_id": "$user", "n": {"$sum": 1}, "total": {"$sum": "$amount"}}}]"""
    val out = GraftStreaming.aggregate(stream, pipeline)
    val q = out.writeStream.format("memory").queryName("s1").outputMode("complete").start()
    try {
      mem.addData(Ev("a", 10), Ev("a", 2), Ev("b", 7))
      q.processAllAvailable()
      mem.addData(Ev("a", 5), Ev("c", 1))
      q.processAllAvailable()
      val streamed = spark.table("s1").collect()
        .map(r => (r.getAs[String]("_id"), r.getAs[Long]("n"), r.getAs[Double]("total"))).toSet
      val batch = Aggo.aggregate(
        Seq(Ev("a", 10), Ev("a", 2), Ev("b", 7), Ev("a", 5), Ev("c", 1)).toDF(), pipeline)
        .collect().map(r => (r.getAs[String]("_id"), r.getAs[Long]("n"), r.getAs[Double]("total"))).toSet
      assert(streamed == batch)
      assert(streamed == Set(("a", 2L, 15.0), ("b", 1L, 7.0)))
    } finally q.stop()
  }

  test("Batching maps latency targets and rate limits to Spark's levers") {
    import org.apache.spark.sql.streaming.Trigger
    import GraftStreaming.Batching
    // latency target → ProcessingTime trigger at half the budget
    assert(Batching(latencyTargetMs = Some(1000)).trigger == Trigger.ProcessingTime(500))
    assert(Batching().trigger == Trigger.ProcessingTime(0))
    assert(Batching(availableNow = true).trigger == Trigger.AvailableNow())
    // rate limits route to the per-source admission options
    assert(Batching(maxRowsPerBatch = Some(5000)).readerOptions("kafka") ==
      Map("maxOffsetsPerTrigger" -> "5000"))
    assert(Batching(maxRowsPerBatch = Some(3)).readerOptions("parquet") ==
      Map("maxFilesPerTrigger" -> "3"))
    assert(Batching(maxRowsPerBatch = Some(3)).readerOptions("rate").isEmpty)
    assert(Batching().readerOptions("kafka").isEmpty)
    // start() cannot apply a source-side cap — refuse instead of no-op
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Ev]
    assertThrows[graft.model.GraftException] {
      GraftStreaming.start(mem.toDF(), "sguard", "append",
        Batching(maxRowsPerBatch = Some(10)))
    }
  }

  test("start() runs a pipeline under a Batching trigger end-to-end") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[Ev]
    val out = GraftStreaming.aggregate(mem.toDF(),
      """[{"$group": {"_id": "$user", "total": {"$sum": "$amount"}}}]""")
    mem.addData(Ev("a", 1), Ev("b", 2), Ev("a", 3))
    val q = GraftStreaming.start(out, "sbatch", "complete",
      GraftStreaming.Batching(availableNow = true))
    try {
      q.awaitTermination(30000) // AvailableNow: drain backlog then stop
      val rows = spark.table("sbatch").collect()
        .map(r => (r.getAs[String]("_id"), r.getAs[Double]("total"))).toSet
      assert(rows == Set(("a", 4.0), ("b", 2.0)))
    } finally q.stop()
  }

  test("stateless stages run in append mode") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[Ev]
    val out = GraftStreaming.aggregate(mem.toDF(),
      """[{"$match": {"user": "a"}}, {"$project": {"user": 1, "double": {"$multiply": ["$amount", 2]}}}]""")
    val q = out.writeStream.format("memory").queryName("s2").outputMode("append").start()
    try {
      mem.addData(Ev("a", 1), Ev("b", 2), Ev("a", 3))
      q.processAllAvailable()
      assert(spark.table("s2").collect().map(_.getAs[Double]("double")).sorted.toSeq == Seq(2.0, 6.0))
    } finally q.stop()
  }

  test("windowed event-time aggregation with watermark") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(java.sql.Timestamp, Double)]
    val stream = mem.toDF().toDF("ts", "value")
    val out = GraftStreaming.windowedAggregate(stream, "ts", "10 minutes", None,
      "5 minutes", """{"n": {"$sum": 1}, "total": {"$sum": "$value"}}""")
    val q = out.writeStream.format("memory").queryName("s3").outputMode("complete").start()
    try {
      def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
      mem.addData((ts(1), 1.0), (ts(5), 2.0), (ts(12), 10.0))
      q.processAllAvailable()
      val rows = spark.table("s3").collect()
        .map(r => r.getAs[Long]("n") -> r.getAs[Double]("total")).toMap
      assert(rows == Map(2L -> 3.0, 1L -> 10.0))
    } finally q.stop()
  }

  test("StreamingCollection: add/remove re-aggregates (reference live view)") {
    val schema = StructType.fromDDL("id BIGINT, cat STRING, v DOUBLE")
    val coll = new StreamingCollection(spark, schema)
    @volatile var updates = 0
    coll.onUpdate((_, _) => updates += 1)
    coll.addBulk(Seq(Row(1L, "x", 10.0), Row(2L, "x", 20.0), Row(3L, "y", 5.0)))
    val pipeline = """[{"$group": {"_id": "$cat", "total": {"$sum": "$v"}}}, {"$sort": {"_id": 1}}]"""
    val r1 = coll.stream("byCat", pipeline).collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(r1.toSeq == Seq(("x", 30.0), ("y", 5.0)))
    coll.add(Row(4L, "y", 7.0))
    assert(coll.aggregate(pipeline).collect().map(r => (r.getString(0), r.getDouble(1))).toSeq ==
      Seq(("x", 30.0), ("y", 12.0)))
    val removed = coll.removeWhere("""{"cat": "x"}""")
    assert(removed == 2 && coll.size == 2)
    assert(coll.aggregate(pipeline).collect().map(r => (r.getString(0), r.getDouble(1))).toSeq ==
      Seq(("y", 12.0)))
    assert(updates >= 2)
  }

  test("vectorIndexSink: streaming IVF store equals batch ingest, probe exact") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val rows = emb.select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val mem = MemoryStream[(Long, scala.collection.Seq[Float])]
    val store = java.nio.file.Files.createTempDirectory("graft-vec-store").toString + "/ivf"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-vec-ckpt").toString
    val q = GraftStreaming.vectorIndexSink(
      mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding", store, ckpt, nlist = 4)
    try {
      // three arrival shards; the first trains + freezes the quantizer
      val (a, rest) = rows.splitAt(rows.length / 3)
      val (b, c) = rest.splitAt(rest.length / 2)
      Seq(a, b, c).foreach { shard => mem.addData(shard.toSeq); q.processAllAvailable() }
      val idx = graft.ext.Similarity.loadIvfStore(spark, store)
      assert(idx.indexed.count() == rows.length)
      // exhaustive probe over the streamed store == brute force — the
      // micro-batching is invisible in the answer
      val queries = emb.filter(col("vec_id") < 5)
      def keyed(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
          r.getAs[Long]("neighbor_id"))).toSet
      assert(keyed(graft.ext.Similarity.ivfTopK(queries, idx, "vec_id", "embedding",
          k = 3, nprobe = 4))
        == keyed(graft.ext.Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", 3)))
    } finally q.stop()
  }

  test("vectorIndexSink: mid-stream auto-compaction keeps probe results exact, dir count bounded") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val rows = emb.select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val mem = MemoryStream[(Long, scala.collection.Seq[Float])]
    val store = java.nio.file.Files.createTempDirectory("graft-vec-ac").toString + "/ivf"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-vec-ac-ckpt").toString
    val q = GraftStreaming.vectorIndexSink(
      mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding", store, ckpt,
      nlist = 4, autoCompactMaxDirs = Some(2))
    try {
      val shards = rows.grouped(math.max(1, (rows.length + 3) / 4)).toSeq
      shards.foreach { shard => mem.addData(shard.toSeq); q.processAllAvailable() }
      // the sink compacted between batches: dir count stays under the gate
      val dirs = graft.ext.Dedup.listBatchDirs(spark, s"$store/index")
      assert(dirs.size < 2 + 1, s"auto-compaction did not bound the dir count: $dirs")
      assert(dirs.exists(_.contains("batch-compacted-")), s"no compacted dir: $dirs")
      val idx = graft.ext.Similarity.loadIvfStore(spark, store)
      assert(idx.indexed.count() == rows.length,
        "compaction changed the store's row count")
      // probe results identical to brute force — the mid-stream swaps are
      // invisible in the answer
      val queries = emb.filter(col("vec_id") < 5)
      def keyed(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
          r.getAs[Long]("neighbor_id"))).toSet
      assert(keyed(graft.ext.Similarity.ivfTopK(queries, idx, "vec_id", "embedding",
          k = 3, nprobe = 4))
        == keyed(graft.ext.Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", 3)))
    } finally q.stop()
  }

  test("streaming incremental dedup: store converges to one copy per distinct doc") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF().toDF("doc_id", "text")
    val store = java.nio.file.Files.createTempDirectory("graft-store").toString + "/docs"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val q = GraftStreaming.incrementalDedupSink(stream, "doc_id", "text", store, ckpt)
    try {
      mem.addData((1L, "alpha"), (2L, "alpha"), (3L, "beta"))
      q.processAllAvailable()
      val s1 = graft.ext.Dedup.readStore(spark, store).select("doc_id").collect().map(_.getLong(0)).toSet
      assert(s1 == Set(1L, 3L), s"after batch 1: $s1")
      // batch 2: 4 duplicates stored content, 5 is novel
      mem.addData((4L, "alpha"), (5L, "gamma"))
      q.processAllAvailable()
      val s2 = graft.ext.Dedup.readStore(spark, store).select("doc_id").collect().map(_.getLong(0)).toSet
      assert(s2 == Set(1L, 3L, 5L), s"after batch 2: $s2")
    } finally q.stop()

    // near tier: cross-batch near-dups die against the signature store,
    // which accumulates instead of re-shingling the document store.
    val mem2 = MemoryStream[(Long, String)]
    val store2 = java.nio.file.Files.createTempDirectory("graft-store2").toString + "/docs"
    val ckpt2 = java.nio.file.Files.createTempDirectory("graft-ckpt2").toString
    val q2 = GraftStreaming.incrementalDedupSink(mem2.toDF().toDF("doc_id", "text"),
      "doc_id", "text", store2, ckpt2, queryName = "graft-incr-near",
      nearThreshold = Some(0.4))
    try {
      mem2.addData(
        (1L, "the quick brown fox jumps over the lazy dog again and again"),
        (2L, "unrelated words about spark engines and data processing here"))
      q2.processAllAvailable()
      assert(graft.ext.Dedup.readStore(spark, store2).count() == 2)
      assert(graft.ext.Dedup.readStore(spark, store2 + "_sigs").count() == 2, "signature store not maintained")
      mem2.addData(
        (3L, "the quick brown fox jumps over the lazy cat again and again"), // near-dup of 1
        (4L, "brand new sentences never observed anywhere previously at all"))
      q2.processAllAvailable()
      val n2 = graft.ext.Dedup.readStore(spark, store2).select("doc_id").collect().map(_.getLong(0)).toSet
      assert(n2 == Set(1L, 2L, 4L), s"near tier failed: $n2")
    } finally q2.stop()
  }

  test("auto-compaction: sink crosses the dir threshold mid-stream, survivorship unchanged") {
    // a weeks-long ingest accumulates one dir per micro-batch; with
    // autoCompactMaxDirs the sink folds them between batches and the
    // NEXT batches dedup against the swapped-in batch-compacted-* dirs
    // (including the regenerated band index) with identical survivorship
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(Long, String)]
    val store = java.nio.file.Files.createTempDirectory("graft-autocompact").toString + "/docs"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-autocompact-ckpt").toString
    val q = GraftStreaming.incrementalDedupSink(mem.toDF().toDF("doc_id", "text"),
      "doc_id", "text", store, ckpt, queryName = "graft-autocompact",
      nearThreshold = Some(0.4), autoCompactMaxDirs = Some(3))
    val A = "the quick brown fox jumps over the lazy dog again and again"
    val B = "unrelated words about spark engines and data processing here"
    val C = "brand new sentences never observed anywhere previously at all"
    val D = "entirely novel sixth document with wholly original material"
    val E = "completely different vocabulary zone discussing culinary recipes tonight"
    val F = "final fresh subject area covering alpine hiking routes today"
    try {
      def feed(rows: (Long, String)*): Unit = { mem.addData(rows); q.processAllAvailable() }
      feed((1L, A), (2L, B))
      feed((3L, "the quick brown fox jumps over the lazy cat again and again"), (4L, C))
      // 3rd dir crosses the threshold -> compaction folds the store
      feed((5L, B), (6L, D))
      val afterCompact = graft.ext.Dedup.listBatchDirs(spark, store)
      assert(afterCompact.size == 1 && afterCompact.head.endsWith("batch-compacted-1"),
        s"threshold crossing did not compact: $afterCompact")
      // near-dup of C must die against the SWAPPED-IN compacted band index
      feed((7L, "brand new sentences never observed anywhere previously at most"), (8L, E))
      // exact dup of E against a post-compaction dir; then threshold again
      feed((9L, E), (10L, F))
      val survivors = graft.ext.Dedup.readStore(spark, store)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(survivors == Set(1L, 2L, 4L, 6L, 8L, 10L),
        s"auto-compaction changed survivorship: $survivors")
      val dirs = graft.ext.Dedup.listBatchDirs(spark, store)
      assert(dirs.size == 1 && dirs.head.endsWith("batch-compacted-2"),
        s"second threshold crossing did not compact: $dirs")
      // sidecar roots folded with it; sig store mirrors the survivors
      assert(graft.ext.Dedup.listBatchDirs(spark, store + "_sigs").size == 1)
      assert(graft.ext.Dedup.readStore(spark, store + "_sigs").count() == 6)
      // no staging leftovers
      assert(!new java.io.File(store + "__compacting").exists(),
        "staging root not cleaned up")
    } finally q.stop()
  }

  test("curatedIngestSink gates quality and perplexity before the dedup store") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(Long, String)]
    val store = java.nio.file.Files.createTempDirectory("graft-cur-store").toString + "/docs"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-cur-ckpt").toString
    val ref = Seq("the quick brown fox jumps over the lazy dog").toDF("text")
    val counts = graft.ext.LanguageModel.ngramCounts(ref, "text", 2).persist()
    val q = GraftStreaming.curatedIngestSink(mem.toDF().toDF("doc_id", "text"),
      "doc_id", "text", store, ckpt, minQuality = 0.3,
      lm = Some((counts, 2, 20.0)))
    try {
      mem.addData(
        (1L, "the quick brown fox jumps over the lazy dog"), // clean, in-distribution
        (2L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
        (3L, "??? !!! ###"),                                 // junk: quality gate
        (4L, "zzz qqq vvv www"))                             // OOV gibberish: ppl gate
      q.processAllAvailable()
      val kept = graft.ext.Dedup.readStore(spark, store)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(kept == Set(1L), s"store after curated ingest: $kept")
      // a later clean novel doc still lands; the old dup still dies
      mem.addData((5L, "the quick brown fox jumps over the lazy dog"),
        (6L, "the lazy dog jumps over the quick brown fox"))
      q.processAllAvailable()
      val kept2 = graft.ext.Dedup.readStore(spark, store)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(kept2 == Set(1L, 6L), s"store after batch 2: $kept2")
    } finally { q.stop(); counts.unpersist() }
  }

  test("curatedIngestSink decontamination tier drops eval-overlapping docs scan-side") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(Long, String)]
    val store = java.nio.file.Files.createTempDirectory("graft-dec-store").toString + "/docs"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-dec-ckpt").toString
    // the bloom is built ONCE before the stream starts — the static artifact
    val eval = Seq("what is the capital of france").toDF("q")
    val bloom = graft.ext.Decontamination.evalGramBloom(
      eval, "q", n = 4, expectedGrams = 1000L)
    val q = GraftStreaming.curatedIngestSink(mem.toDF().toDF("doc_id", "text"),
      "doc_id", "text", store, ckpt, minQuality = 0.0,
      decontamBloom = Some((bloom, 4)))
    try {
      mem.addData(
        (1L, "students often ask what is the capital of france during class"), // leaked
        (2L, "a perfectly clean document about distributed query planning"))
      q.processAllAvailable()
      val kept = graft.ext.Dedup.readStore(spark, store)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(kept == Set(2L), s"store after decontaminated ingest: $kept")
    } finally q.stop()
  }

  test("manifestSink appends a per-batch reproducibility receipt") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(Long, String, String)]
    val out = java.nio.file.Files.createTempDirectory("graft-man-sink").toString + "/m"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-man-ckpt").toString
    val q = GraftStreaming.manifestSink(mem.toDF().toDF("doc_id", "sh", "text"),
      "doc_id", "text", Seq("sh"), out, ckpt)
    try {
      mem.addData((1L, "a", "alpha"), (2L, "a", "beta"), (3L, "b", "gamma"))
      q.processAllAvailable()
      mem.addData((4L, "a", "delta"))
      q.processAllAvailable()
      val rows = spark.read.parquet(out)
        .collect().map(r => (r.getAs[Long]("batch_id"), r.getAs[String]("sh")) ->
          r.getAs[Long]("n_docs")).toMap
      assert(rows == Map((0L, "a") -> 2L, (0L, "b") -> 1L, (1L, "a") -> 1L), s"got $rows")
      // the receipt fingerprint matches a batch recomputation of the same rows
      val recomputed = graft.ext.Corpus.manifest(
        Seq((1L, "a", "alpha"), (2L, "a", "beta")).toDF("doc_id", "sh", "text"),
        "doc_id", "text", Seq("sh")).collect().head.getAs[Long]("content_fingerprint")
      val streamed = spark.read.parquet(out)
        .filter(org.apache.spark.sql.functions.col("batch_id") === 0L &&
          org.apache.spark.sql.functions.col("sh") === "a")
        .collect().head.getAs[Long]("content_fingerprint")
      assert(streamed == recomputed)
    } finally q.stop()
  }

  test("curatedIngestSink funnel receipts record per-batch per-tier survivor counts") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(Long, String)]
    val store = java.nio.file.Files.createTempDirectory("graft-fun-store").toString + "/docs"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-fun-ckpt").toString
    val funnel = java.nio.file.Files.createTempDirectory("graft-fun-receipt").toString + "/f"
    val ref = Seq("the quick brown fox jumps over the lazy dog").toDF("text")
    val counts = graft.ext.LanguageModel.ngramCounts(ref, "text", 2).persist()
    val q = GraftStreaming.curatedIngestSink(mem.toDF().toDF("doc_id", "text"),
      "doc_id", "text", store, ckpt, minQuality = 0.3,
      lm = Some((counts, 2, 20.0)), funnelPath = Some(funnel))
    try {
      mem.addData(
        (1L, "the quick brown fox jumps over the lazy dog"), // survives every tier
        (2L, "the quick brown fox jumps over the lazy dog"), // exact dup: dies at dedup_store
        (3L, "??? !!! ###"),                                 // dies at quality
        (4L, "zzz qqq vvv www"))                             // dies at lm_filter
      q.processAllAvailable()
      def receipts(bid: Long): Map[String, (Long, Long)] =
        spark.read.parquet(funnel)
          .filter(org.apache.spark.sql.functions.col("batch_id") === bid)
          .collect().map(r => r.getAs[String]("tier") ->
            (r.getAs[Long]("rows"), r.getAs[Long]("dropped"))).toMap
      assert(receipts(0L) == Map(
        "input" -> ((4L, 0L)), "quality" -> ((3L, 1L)),
        "lm_filter" -> ((2L, 1L)), "dedup_store" -> ((1L, 1L))),
        s"batch-0 receipts: ${receipts(0L)}")
      // batch 2: the cross-store dup dies in the dedup tier, the novel doc lands
      mem.addData((5L, "the quick brown fox jumps over the lazy dog"),
        (6L, "the lazy dog jumps over the quick brown fox"))
      q.processAllAvailable()
      assert(receipts(1L) == Map(
        "input" -> ((2L, 0L)), "quality" -> ((2L, 0L)),
        "lm_filter" -> ((2L, 0L)), "dedup_store" -> ((1L, 1L))),
        s"batch-1 receipts: ${receipts(1L)}")
      // receipt survivor counts equal the store's actual content
      val storeN = graft.ext.Dedup.readStore(spark, store).count()
      assert(storeN == 2L, s"store holds $storeN docs")
    } finally { q.stop(); counts.unpersist() }
  }

  test("curatedIngestSink customGate plugs a batch-tier op into the streaming chain") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(Long, String)]
    val store = java.nio.file.Files.createTempDirectory("graft-cg-store").toString + "/docs"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-cg-ckpt").toString
    // the custom gate: fuzzy decontamination against a static eval frame
    val eval = Seq("the quick brown fox jumps over the lazy dog every day")
      .toDF("q").persist()
    eval.count()
    val q = GraftStreaming.curatedIngestSink(mem.toDF().toDF("doc_id", "text"),
      "doc_id", "text", store, ckpt, minQuality = 0.0,
      customGate = Some(b => graft.ext.Decontamination.removeFuzzy(
        b, "doc_id", "text", eval, "q", threshold = 0.5)))
    try {
      mem.addData(
        (1L, "the quick brown fox jumps over the lazy dog every single day"), // near-dup of eval
        (2L, "a completely different document about catalyst plan rewrites"))
      q.processAllAvailable()
      val kept = graft.ext.Dedup.readStore(spark, store)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(kept == Set(2L), s"store after custom-gated ingest: $kept")
    } finally { q.stop(); eval.unpersist() }
  }

  test("fromJSONLStream: batched loading with onBatch callback and error strategies") {
    val dir = java.nio.file.Files.createTempDirectory("graft-jsonl-stream").toString
    def write(name: String, lines: String*): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/$name"),
        lines.mkString("\n").getBytes("UTF-8"))
    write("a.jsonl", """{"id": 1, "v": "x"}""", """{"id": 2, "v": "y"}""")
    write("b.jsonl", """{"id": 3, "v": "z"}""", """not json at all""")

    // maxFilesPerBatch=1 → one micro-batch per file; bad line skipped
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Set[Long])]
    val ckpt = java.nio.file.Files.createTempDirectory("graft-jsonl-ckpt").toString
    val q = Aggo.forEachJSONLBatch(spark, s"$dir/*.jsonl", ckpt,
      Aggo.StreamLoaderOptions(maxFilesPerBatch = Some(1))) { (batch, n) =>
      seen += ((n, batch.collect().map(_.getAs[Long]("id")).toSet))
    }
    try {
      assert(seen.size == 2, s"expected one batch per file, got $seen")
      assert(seen.flatMap(_._2).toSet == Set(1L, 2L, 3L))
    } finally q.stop()

    // collect strategy keeps the malformed line in __corrupt
    val ckpt2 = java.nio.file.Files.createTempDirectory("graft-jsonl-ckpt2").toString
    @volatile var corrupt = Seq.empty[String]
    val q2 = Aggo.forEachJSONLBatch(spark, s"$dir/*.jsonl", ckpt2,
      Aggo.StreamLoaderOptions(errorStrategy = "collect")) { (batch, _) =>
      corrupt = corrupt ++ batch.filter(
        org.apache.spark.sql.functions.col("__corrupt").isNotNull)
        .collect().map(_.getAs[String]("__corrupt"))
    }
    try assert(corrupt == Seq("not json at all"), s"got $corrupt")
    finally q2.stop()
  }

  test("AdaptiveBatcher sizes batches from observed cost toward the latency target") {
    val schema = StructType.fromDDL("id BIGINT, v DOUBLE")
    val coll = new StreamingCollection(spark, schema)
    // fake clock: advances `stepNs` per read; a flush reads twice, so each
    // flush appears to cost exactly `stepNs`
    var now = 0L
    var stepNs = 8L * 1000000L // 8 ms per flush
    val clock = () => { now += stepNs; now }
    val batcher = new graft.streaming.AdaptiveBatcher(coll, targetMs = 16,
      initialBatch = 4, minBatch = 1, maxBatch = 1024, clock = clock)
    (1 to 4).foreach(i => batcher.add(Row(i.toLong, i.toDouble)))
    assert(batcher.pendingCount == 0, "batcher should flush at the batch boundary")
    // 8 ms for 4 docs = 2 ms/doc; 16 ms target → 8 docs per batch
    assert(batcher.currentBatchSize == 8, s"got ${batcher.currentBatchSize}")
    assert(coll.size == 4)
    // recompute becomes expensive: 6400 ms per flush of 8 docs = 800 ms/doc;
    // EWMA = 0.7·2 + 0.3·800 = 241.4 ms/doc → 16 ms target → clamps to min
    stepNs = 6400L * 1000000L
    (5 to 12).foreach(i => batcher.add(Row(i.toLong, i.toDouble)))
    assert(coll.size == 12)
    assert(batcher.currentBatchSize == 1, s"got ${batcher.currentBatchSize}")
    // cheap again: the EWMA decays (0.7^k) and the batch size recovers
    stepNs = 1L * 1000000L
    (13 to 32).foreach(i => batcher.add(Row(i.toLong, i.toDouble)))
    assert(batcher.currentBatchSize > 1, s"got ${batcher.currentBatchSize}")
    batcher.flush() // drain any partial batch left by the larger batch size
    assert(coll.size == 32)
    batcher.flush() // idempotent on empty
    assert(coll.size == 32)
  }

  test("stream-static $lookup joins a static collection per micro-batch") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val tiers = fromJsonl(
      """{"user": "a", "tier": "gold"}""",
      """{"user": "b", "tier": "bronze"}""")
    val mem = MemoryStream[Ev]
    val out = GraftStreaming.aggregate(mem.toDF(),
      """[{"$lookup": {"from": "tiers", "localField": "user", "foreignField": "user", "as": "t"}},
          {"$unwind": {"path": "$t", "preserveNullAndEmptyArrays": true}},
          {"$project": {"user": 1, "amount": 1, "tier": "$t.tier"}}]""",
      Map("tiers" -> tiers))
    val q = out.writeStream.format("memory").queryName("s5").outputMode("append").start()
    try {
      mem.addData(Ev("a", 1), Ev("c", 2))
      q.processAllAvailable()
      val rows = spark.table("s5").collect()
        .map(r => (r.getAs[String]("user"), r.getAs[String]("tier"))).toSet
      assert(rows == Set(("a", "gold"), ("c", null)))
    } finally q.stop()
  }

  test("CDC weighted aggregation retracts deletions (batch and stream)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val spec = """{"_id": "$user", "n": {"$count": {}}, "total": {"$sum": "$amount"}, "mean": {"$avg": "$amount"}}"""

    // batch deltas: add a:10, a:20, b:5 then remove a:10 and all of b
    val deltas = Seq(
      (1, "a", 10.0), (1, "a", 20.0), (1, "b", 5.0),
      (-1, "a", 10.0), (-1, "b", 5.0)).toDF("sign", "user", "amount")
    val batch = graft.streaming.Cdc.aggregateDeltas(deltas, "sign", spec).collect()
    assert(batch.length == 1) // b's group disappeared
    val a = batch.head
    assert(a.getAs[String]("_id") == "a" && a.getAs[Long]("n") == 1L)
    assert(a.getAs[Double]("total") == 20.0 && a.getAs[Double]("mean") == 20.0)

    // same deltas as a stream in complete mode
    val mem = MemoryStream[(Int, String, Double)]
    val out = graft.streaming.Cdc.aggregateDeltas(
      mem.toDF().toDF("sign", "user", "amount"), "sign", spec)
    val q = out.writeStream.format("memory").queryName("s6").outputMode("complete").start()
    try {
      mem.addData((1, "a", 10.0), (1, "a", 20.0), (1, "b", 5.0))
      q.processAllAvailable()
      assert(spark.table("s6").count() == 2)
      mem.addData((-1, "a", 10.0), (-1, "b", 5.0))
      q.processAllAvailable()
      val rows = spark.table("s6").collect()
      assert(rows.length == 1 && rows.head.getAs[Double]("total") == 20.0)
    } finally q.stop()

    // non-retractable accumulator is rejected with guidance
    assertThrows[graft.model.GraftException] {
      graft.streaming.Cdc.aggregateDeltas(deltas, "sign", """{"_id": "$user", "m": {"$max": "$amount"}}""")
    }
  }

  test("CDC multiset retraction: deleted min yields next survivor, sets/pushes shrink") {
    import spark.implicits._
    // a: insert 10,20,20,30 then delete 10 (the min) and one 20
    // b: insert 5 then delete 5 (group disappears)
    val deltas = Seq(
      (1, "a", 10.0), (1, "a", 20.0), (1, "a", 20.0), (1, "a", 30.0), (1, "b", 5.0),
      (-1, "a", 10.0), (-1, "a", 20.0), (-1, "b", 5.0)).toDF("sign", "user", "amount")
    val out = graft.streaming.Cdc.multisetDeltas(deltas, "sign",
      """{"_id": "$user",
          "mn": {"$min": "$amount"}, "mx": {"$max": "$amount"},
          "set": {"$addToSet": "$amount"}, "all": {"$push": "$amount"}}""")
      .collect()
    assert(out.length == 1) // b retracted to empty → gone
    val a = out.head
    assert(a.getAs[String]("_id") == "a")
    assert(a.getAs[Double]("mn") == 20.0 && a.getAs[Double]("mx") == 30.0)
    assert(a.getAs[scala.collection.Seq[Double]]("set").toSeq == Seq(20.0, 30.0))
    assert(a.getAs[scala.collection.Seq[Double]]("all").toSeq == Seq(20.0, 30.0))
  }

  test("streaming sessionization: native session_window merges within gap") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(String, Long)]
    val events = mem.toDF().toDF("user_id", "secs")
      .withColumn("ts", org.apache.spark.sql.functions.timestamp_seconds(
        org.apache.spark.sql.functions.col("secs")))
      .withWatermark("ts", "10 minutes")
    val out = graft.ext.Sessions.streamingSessionCounts(events, "user_id", "ts", "100 seconds")
    val q = out.writeStream.format("memory").queryName("s7").outputMode("complete").start()
    try {
      mem.addData(("u1", 0L), ("u1", 50L), ("u1", 500L), ("u2", 0L))
      q.processAllAvailable()
      val rows = spark.table("s7").collect()
        .map(r => (r.getAs[String]("user_id"), r.getAs[Long]("n_events"))).toSeq.sorted
      assert(rows == Seq(("u1", 1L), ("u1", 2L), ("u2", 1L)))
    } finally q.stop()
  }

  test("streaming dedup suppresses duplicate keys within the watermark horizon") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(String, Long)]
    val events = mem.toDF().toDF("k", "secs")
      .withColumn("ts", org.apache.spark.sql.functions.timestamp_seconds(
        org.apache.spark.sql.functions.col("secs")))
    val out = GraftStreaming.dedupExact(events, Seq("k"), "ts", "1 hour")
    val q = out.writeStream.format("memory").queryName("sd1").outputMode("append").start()
    try {
      // event times strictly above the initial zero watermark — rows AT the
      // watermark are dropped as late by the dedup state store
      mem.addData(("k1", 1000L), ("k1", 1005L), ("k2", 1000L))
      q.processAllAvailable()
      mem.addData(("k1", 1020L), ("k3", 1030L)) // k1 still inside the horizon → suppressed
      q.processAllAvailable()
      val keys = spark.table("sd1").collect().map(_.getAs[String]("k")).sorted.toSeq
      assert(keys == Seq("k1", "k2", "k3"))
    } finally q.stop()
    assertThrows[IllegalArgumentException] {
      GraftStreaming.dedupExact(events, Nil, "ts", "1 hour")
    }
  }

  test("stateful sessions: in-batch closes emit immediately, timeouts finalize the rest") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(String, Long)]
    val events = mem.toDF().toDF("user", "secs")
      .withColumn("ts", org.apache.spark.sql.functions.timestamp_seconds(
        org.apache.spark.sql.functions.col("secs")))
    val out = GraftStreaming.statefulSessions(events, "user", "ts", "100 seconds", "0 seconds")
    val q = out.writeStream.format("memory").queryName("ss1").outputMode("append").start()
    try {
      // u1: events at 1000s and 1050s form one session; 1500s starts a new
      // one and closes the first within the batch. u2 has a lone event.
      mem.addData(("u1", 1000L), ("u1", 1050L), ("u1", 1500L), ("u2", 1000L))
      q.processAllAvailable()
      // watermark is now 1500s → u2's timeout (1100s) fires on the next batch
      mem.addData(("u3", 2000L))
      q.processAllAvailable()
      // watermark 2000s → u1's open session (timeout 1600s) finalizes; a
      // second u3 event 1000s later closes u3's first session in-batch
      mem.addData(("u3", 3000L))
      q.processAllAvailable()
      val got = spark.table("ss1").collect().map(r => (r.getAs[String]("key"),
        r.getAs[java.sql.Timestamp]("session_start").getTime / 1000,
        r.getAs[java.sql.Timestamp]("session_end").getTime / 1000,
        r.getAs[Long]("n_events"), r.getAs[Long]("duration_ms"))).toSet
      assert(got == Set(
        ("u1", 1000L, 1050L, 2L, 50000L),
        ("u2", 1000L, 1000L, 1L, 0L),
        ("u1", 1500L, 1500L, 1L, 0L),
        ("u3", 2000L, 2000L, 1L, 0L)))
    } finally q.stop()
  }

  test("blocking stages are rejected on unbounded streams") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Ev]
    val out = GraftStreaming.aggregate(mem.toDF(), """[{"$sort": {"amount": 1}}, {"$limit": 1}]""")
    assertThrows[org.apache.spark.sql.AnalysisException] {
      out.writeStream.format("memory").queryName("s4").outputMode("append").start()
    }
  }
}
