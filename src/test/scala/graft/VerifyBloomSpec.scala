package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import TestSpark._
import graft.ext._

/** The verify fetch's UNIFORM-SPREAD arm (r13 verdict #1): sig dirs are
  * written with per-row-group parquet bloom filters on `doc_id`
  * ([[Dedup.sigWriteOptions]]), and when a batch's candidate ids blanket
  * their span — where coalesced BETWEEN ranges structurally can't prune —
  * the collected id set is pushed as a native parquet In predicate that
  * parquet-mr's row-group filter evaluates against those blooms. */
class VerifyBloomSpec extends AnyFunSuite {

  test("chooseIdPredicate: clustered ids take ranges, uniform spread takes the In set, unbounded takes neither") {
    import Dedup.{IdPredicate, chooseIdPredicate}
    // tight absolute cover: dense block under the gate -> ranges
    assert(chooseIdPredicate((0L until 100L).toArray, 64, 262144)
      .exists(_.isInstanceOf[IdPredicate.Ranges]))
    // two far-apart clusters: ranges exclude most of the span -> ranges
    // even past the absolute gate
    val clustered = ((0L until 80000L) ++ (10000000L until 10080000L)).toArray
    assert(chooseIdPredicate(clustered, 64, 262144)
      .exists(_.isInstanceOf[IdPredicate.Ranges]))
    // uniform spread past the absolute gate: every-other-id over a 400k
    // span coalesces to ranges covering ~the whole span -> the In set
    val uniform = (0L until 200000L).map(_ * 2).toArray
    chooseIdPredicate(uniform, 64, 262144) match {
      case Some(IdPredicate.InSet(ids)) => assert(ids.length == 200000)
      case other => fail(s"uniform spread chose $other")
    }
    // ...unless the set outgrows the plan-size cap -> no predicate
    assert(chooseIdPredicate(uniform, 64, 100000).isEmpty)
    assert(chooseIdPredicate(Array.empty[Long], 64, 262144).isEmpty)
    // hash-valued id space (xxhash64 doc_ids): a uniform spread across
    // MORE THAN HALF THE LONG RANGE used to overflow the Long cover sum
    // negative, pass the tight-cover gate, and silently pick Ranges in
    // exactly the regime the InSet/bloom arm was built for — the cover
    // arithmetic is double-accumulated now, so the InSet arm arms
    val hashSpread = (0L until 200000L)
      .map(i => (i - 100000L) * (Long.MaxValue / 110000L)).toArray
    chooseIdPredicate(hashSpread, 64, 262144) match {
      case Some(IdPredicate.InSet(ids)) => assert(ids.length == 200000)
      case other => fail(s"overflowing hash-id spread chose $other")
    }
    // clustered hash-space ids (one dense block at each Long extreme)
    // still take ranges — the span overflows but the COVER is tiny
    val hashClustered = ((0L until 50000L).map(Long.MinValue + _) ++
      (0L until 50000L).map(Long.MaxValue - _)).sorted.toArray
    assert(chooseIdPredicate(hashClustered, 64, 262144)
      .exists(_.isInstanceOf[IdPredicate.Ranges]))
  }

  test("ingest sig dirs carry doc_id bloom filters that exclude candidate-free row groups") {
    val root = java.nio.file.Files.createTempDirectory("graft-sig-bloom").toString
    val store = s"$root/docs"
    // ids deliberately NON-contiguous so min/max stats can't exclude the
    // absent probe ids below — only the bloom can
    val docs = spark.range(500).select(
      (col("id") * 2).as("doc_id"),
      concat(lit("document body number "), col("id"),
        lit(" with enough distinct words to shingle properly")).as("text"))
    Dedup.ingestStep(docs, "doc_id", "text", store,
      nearThreshold = Some(0.4), batchTag = Some("s0"))
    val hconf = spark.sparkContext.hadoopConfiguration
    val dir = new org.apache.hadoop.fs.Path(s"${store}_sigs/batch-s0")
    val fs = dir.getFileSystem(hconf)
    val files = fs.listStatus(dir).map(_.getPath)
      .filter(_.getName.endsWith(".parquet"))
    assert(files.nonEmpty)
    // absent ODD ids inside the present ids' min/max span: stats keep
    // every row group, blooms must exclude (deterministic for fixed data)
    val probeIds = Seq(1L, 101L, 301L, 501L, 701L)
    val javaSet = new java.util.HashSet[java.lang.Long]()
    probeIds.foreach(javaSet.add(_))
    val pred = org.apache.parquet.filter2.predicate.FilterApi.in(
      org.apache.parquet.filter2.predicate.FilterApi.longColumn("doc_id"), javaSet)
    var total = 0; var kept = 0; var blooms = 0
    files.foreach { f =>
      val inFile = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, hconf)
      val plain = org.apache.parquet.hadoop.ParquetFileReader.open(inFile,
        org.apache.parquet.HadoopReadOptions.builder(hconf, f).build())
      try {
        val rgs = plain.getRowGroups
        total += rgs.size()
        // the bloom is physically present for doc_id in every row group
        rgs.forEach { bm =>
          val cols = bm.getColumns
          (0 until cols.size()).foreach { i =>
            val c = cols.get(i)
            if (c.getPath.toDotString == "doc_id" &&
                plain.getBloomFilterDataReader(bm).readBloomFilter(c) != null)
              blooms += 1
          }
        }
      } finally plain.close()
      val filtered = org.apache.parquet.hadoop.ParquetFileReader.open(inFile,
        org.apache.parquet.HadoopReadOptions.builder(hconf, f)
          .withRecordFilter(org.apache.parquet.filter2.compat.FilterCompat.get(pred))
          .build())
      try kept += filtered.getRowGroups.size() finally filtered.close()
    }
    assert(blooms == total, s"doc_id bloom missing: $blooms blooms over $total row groups")
    assert(kept < total,
      s"In predicate over absent in-span ids excluded nothing ($kept of $total kept) — " +
        "stats can't exclude these, so the blooms are not engaging")
  }

  test("Spark scan over a bloom-enabled sig layout emits only surviving row groups' rows") {
    // wall time can't show the bloom win on this host (the page cache makes
    // even a full fetch ~1 s at 32 threads) — the honest Spark-level signal
    // is the SCAN's numOutputRows: the vectorized reader emits every row of
    // each non-excluded row group and row-filters nothing, so scan output <
    // total rows proves row groups were excluded AT THE READER, in a real
    // Spark plan with the exact write options sig dirs use.
    val dir = java.nio.file.Files.createTempDirectory("graft-bloom-scan").toString + "/sigs"
    val n = 400000L
    // shuffled ids + a wide payload, many small row groups — the shape of
    // an accumulated sig store (uniform ids defeat min/max stats)
    spark.range(n).select(
        (xxhash64(col("id")) % 100000000L).as("doc_id"),
        array((0 until 32).map(i => xxhash64(col("id"), lit(i))): _*).as("sh"))
      .repartition(4)
      .write.options(Dedup.sigWriteOptions + ("parquet.block.size" -> (1L << 20).toString))
      .parquet(dir)
    val probeIds = (0 until 400).map(i => -1L - i * 1000) // absent, in-span
    def scanRows(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      df.queryExecution.executedPlan.collectLeaves().collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metrics("numOutputRows").value
      }.sum
    }
    // control: a RANGE predicate (blooms don't apply, min/max can't
    // exclude over shuffled ids) — the reader must emit every row
    val unfiltered = scanRows(spark.read.parquet(dir)
      .filter(col("doc_id").between(-50L, 50L)))
    assert(unfiltered == n, s"control: stats should exclude nothing here ($unfiltered)")
    val filtered = scanRows(spark.read.parquet(dir)
      .filter(col("doc_id").isInCollection(probeIds)))
    assert(filtered < n / 2,
      s"bloom row-group filtering did not engage in the Spark scan: $filtered of $n rows emitted")
  }

  test("ingestStep: uniform-spread verify pushes the In set; survivors identical to the range form") {
    // same store ingested twice: once with the tight-cover gate lowered to
    // 0 so the uniform-ish candidate spread declines ranges and arms the
    // In set, once with defaults (ranges). Survivors must be identical,
    // and the InSet run's sig scan must carry the In predicate.
    def build(root: String): Set[Long] = {
      val store = s"$root/docs"
      // two seed shards with CONSECUTIVE ids: the candidates' coalesced
      // range covers their whole span (ratio 1.0 — the dense-uniform
      // shape), so with the tight-cover gate at 0 ranges decline and the
      // In set arms
      val bodies = Map(
        2L -> "alpha document speaks entirely about mountain weather patterns and snowfall",
        3L -> "beta text covers oceanic current measurements with buoy telemetry data",
        4L -> "gamma report describes desert irrigation schedules for arid farmland zones",
        5L -> "delta essay narrates urban transit planning and metro scheduling debates")
      Seq((0, Seq(2L, 3L)), (1, Seq(4L, 5L))).foreach { case (i, ids) =>
        val rows = ids.map(id => s"""{"doc_id": $id, "text": "${bodies(id)}"}""")
        Dedup.ingestStep(fromJsonl(rows: _*), "doc_id", "text", store,
          nearThreshold = Some(0.4), batchTag = Some(s"s$i"))
      }
      // near-dups of ALL FOUR stored docs (candidates blanket the span) +
      // one novel doc
      Dedup.ingestStep(fromJsonl(
        (Seq(100L -> 2L, 101L -> 3L, 102L -> 4L, 103L -> 5L).map { case (nid, sid) =>
          s"""{"doc_id": $nid, "text": "${bodies(sid)} today"}"""
        } :+ """{"doc_id": 104, "text": "wholly novel fifth subject matter carrying fresh original vocabulary"}"""): _*),
        "doc_id", "text", store, nearThreshold = Some(0.4), batchTag = Some("s2"))
      Dedup.readStore(spark, store).select("doc_id").collect().map(_.getLong(0)).toSet
    }
    val rootA = java.nio.file.Files.createTempDirectory("graft-inset-a").toString
    val rootB = java.nio.file.Files.createTempDirectory("graft-inset-b").toString
    var keepPlan: Option[org.apache.spark.sql.DataFrame] = None
    val survivorsInSet =
      try {
        Dedup.verifyRangeTightCover = 0.0
        Dedup.planAuditHook = Some((n, df) => if (n == "ingest_keep_sigs") keepPlan = Some(df))
        build(rootA)
      } finally {
        Dedup.verifyRangeTightCover = 100000.0
        Dedup.planAuditHook = None
      }
    val survivorsRanges = build(rootB)
    assert(survivorsInSet == survivorsRanges,
      s"InSet verify diverged from ranges: $survivorsInSet vs $survivorsRanges")
    assert(survivorsInSet == Set(2L, 3L, 4L, 5L, 104L),
      s"survivorship diverged: $survivorsInSet")
    // the InSet run's sig scan carries the native In predicate
    assert(keepPlan.isDefined, "ingest_keep_sigs audit tap never fired")
    val sigScans = keepPlan.get.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
        if s.metadata.getOrElse("Location", "").contains("_sigs") => s
    }
    assert(sigScans.exists(_.metadata.getOrElse("PushedFilters", "").contains("In(doc_id")),
      s"In predicate not pushed to the sig scan: " +
        sigScans.map(_.metadata.getOrElse("PushedFilters", "")).mkString("; "))
  }

  test("lookupNearDupsBatch: InSet and range verify forms return identical rows") {
    val root = java.nio.file.Files.createTempDirectory("graft-lookupb-inset").toString
    val store = s"$root/docs"
    Dedup.ingestStep(fromJsonl(
      """{"doc_id": 10, "text": "the quick brown fox jumps over the lazy dog again and again"}""",
      """{"doc_id": 11, "text": "unrelated words about spark engines and data processing here"}""",
      """{"doc_id": 20, "text": "brand new sentences never observed anywhere previously at all"}"""),
      "doc_id", "text", store, nearThreshold = Some(0.4), batchTag = Some("s0"))
    val probes = fromJsonl(
      """{"doc_id": 1, "text": "the quick brown fox jumps over the lazy dog again and again today"}""",
      """{"doc_id": 2, "text": "unrelated words about spark engines and data processing here now"}""")
    def run(): Set[(Long, Long)] =
      Dedup.lookupNearDupsBatch(spark, store, probes, "doc_id", "text", 0.4)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ranges = run()
    val inset = try { Dedup.verifyRangeTightCover = 0.0; run() }
                finally Dedup.verifyRangeTightCover = 100000.0
    assert(ranges == inset, s"batch lookup diverged: $ranges vs $inset")
    assert(ranges == Set((1L, 10L), (2L, 11L)), s"batch lookup rows: $ranges")
  }
}
