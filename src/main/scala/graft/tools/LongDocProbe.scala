package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Armed-vs-disarmed measurement of the exact-tier store amortizations at
  * REALISTIC document lengths — the datapoint the 8 GB
  * `exactBloomMinStoreBytes` arming gate was priced for by arithmetic but
  * never measured: the GenSf1 streaming corpus is ~300 B/doc (short
  * docs), where the armed form LOSES 64→93 s because the text re-scan the
  * hash sidecar replaces is cheap; at production 2-50 KB web docs that
  * re-scan is 10-100× the 33 B/doc sidecar read, which is what the gate's
  * arithmetic claims pays. This probe generates a 2-50 KB-doc fixture
  * (hash-derived, ~5% planted exact dups, semi-compressible text) and
  * drives `Dedup.ingestStep`'s exact tier shard-by-shard into TWO stores —
  * one with the amortizations forced ON (`exactArmMinStoreBytes = 0`), one
  * forced OFF (`Long.MaxValue`) — INTERLEAVED per batch so host drift
  * hits both arms alike, reporting per-batch wall and the store's on-disk
  * bytes. The crossover (first store size where armed < disarmed) is the
  * number the gate's default should sit below for long docs.
  *
  * NEAR mode (SPARK_GRAFT_LONGDOC_NEAR=1): the near tier's costs — shingle
  * build, signature write, band join, and above all the bounded verify
  * fetch — were only ever measured on GenSf1's ~300 B docs, where every
  * per-doc constant is tiny; this mode drives the FULL near tier
  * (`nearThreshold = 0.7`) over the same 2-50 KB fixture (plus planted
  * NEAR dups: half of the 5% dup draw appends a short tail instead of
  * copying exactly, so the verify phase has real pairs to check) with
  * `Dedup.phaseHook` set, printing the per-batch per-phase wall table at
  * store sizes the short-doc profile never reaches (~10 GB at the 400k
  * default). One arm only, exact tier pinned armed (the exact-tier A/B is
  * the default mode's job; its own measurement says armed wins ≥6 GB).
  *
  * The fixture is generated LAZILY per batch (deterministic in doc_id):
  * each shard is written just-in-time outside the timed region and deleted
  * once consumed, so scratch holds ~one shard + the store + sidecars at
  * any moment — what lets the near mode reach a 30 GB store on a host
  * whose scratch could not hold fixture + store together (the r14 run died
  * at batch 9/16 for exactly that).
  *
  * Env: SPARK_GRAFT_LONGDOC_DOCS (default 300000; 400000 in near mode),
  * _BATCHES (default 8), _CPUS (default 32), _NEAR (default 0).
  */
object LongDocProbe {
  def main(args: Array[String]): Unit = {
    val nearMode = sys.env.get("SPARK_GRAFT_LONGDOC_NEAR").contains("1")
    val nDocs = sys.env.getOrElse("SPARK_GRAFT_LONGDOC_DOCS",
      if (nearMode) "400000" else "300000").toLong
    val nBatches = sys.env.getOrElse("SPARK_GRAFT_LONGDOC_BATCHES", "8").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val work = java.nio.file.Files.createTempDirectory("graft-longdoc").toString

    // ---- fixture: 2-50 KB docs, one ~110 B hash-derived paragraph per
    // 64-long chunk (distinct hash text per paragraph: compresses like
    // prose, ~3-4x, not like repeat()'d filler, ~100x — the gate reads
    // ON-DISK bytes, so compressibility is part of the measurement).
    // ~5% of docs copy the content of a doc 7 ids earlier: exact dups
    // both in-batch and across the store, so the anti-join has real work.
    val id = col("id")
    val isDup = pmod(xxhash64(lit("dup"), id), lit(20)) === 0 && id >= 7
    val contentId = when(isDup, id - 7).otherwise(id)
    val sizeTarget = (pmod(xxhash64(lit("len"), contentId), lit(48L * 1024)) + 2048)
    val nPars = (sizeTarget / 110).cast("int")
    val baseText = concat_ws(" ", transform(sequence(lit(0), nPars - 1), j =>
      concat(lit("segment "), hex(xxhash64(contentId, j)),
        lit(" carries block "), hex(xxhash64(contentId, j, lit(1L))),
        lit(" of the document body"))))
    // near mode: half the dup draw appends a short tail — a NEAR dup the
    // exact tier can't drop, so the band join + verify have real pairs
    val text = if (!nearMode) baseText
      else when(isDup && pmod(xxhash64(lit("near"), id), lit(2)) === 0,
        concat(baseText, lit(" trailing revision note appended by a later editor")))
        .otherwise(baseText)
    val cpusInt = cpus.toInt
    // LAZY per-batch fixture (r14 verdict #2): the up-front materialization
    // of the whole fixture is what killed the 30 GB near point — fixture +
    // store + sigs + spill needed ~2.3× the store in scratch even with
    // consumed shards freed. Generation is deterministic in doc_id, so each
    // shard is written just-in-time (OUTSIDE the timed region, matching the
    // old pre-materialized read) and deleted once consumed: scratch holds
    // ~one shard + the store + its sidecars at any moment.
    val fixture = spark.range(nDocs).repartition(cpusInt)
      .select(id.as("doc_id"), text.as("text"))
      .withColumn("__b", pmod(xxhash64(lit("batch"), col("doc_id")), lit(nBatches)))
    var shardBytesTotal = 0L
    def writeShard(b: Int): String = {
      val p = s"$work/shard-$b"
      fixture.filter(col("__b") === b).drop("__b").write.mode("overwrite").parquet(p)
      val hp = new org.apache.hadoop.fs.Path(p)
      shardBytesTotal += hp.getFileSystem(
        spark.sparkContext.hadoopConfiguration).getContentSummary(hp).getLength
      p
    }
    def dropShard(b: Int): Unit = {
      val p = new org.apache.hadoop.fs.Path(s"$work/shard-$b")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
    println(s"[longdoc] fixture: $nDocs docs over $nBatches lazily-generated batches")

    def storeBytes(root: String): Long = {
      val p = new org.apache.hadoop.fs.Path(root)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) 0L else fs.getContentSummary(p).getLength
    }
    HostCal.warmup()
    if (nearMode) {
      // ---- near-tier per-phase table on long docs ----
      val phases = scala.collection.mutable.LinkedHashMap[String, Double]()
      graft.ext.Dedup.phaseHook = Some((name, sec) =>
        phases(name) = phases.getOrElse(name, 0.0) + sec)
      val totals = scala.collection.mutable.LinkedHashMap[String, Double]()
      try {
        (0 until nBatches).foreach { b =>
          phases.clear()
          val batch = spark.read.parquet(writeShard(b))
          val t0 = System.nanoTime()
          graft.ext.Dedup.ingestStep(batch, "doc_id", "text", s"$work/near",
            nearThreshold = Some(0.7), batchTag = Some(s"b$b"),
            exactArmMinStoreBytes = 0L)
          val wall = (System.nanoTime() - t0) / 1e9
          val sb = storeBytes(s"$work/near")
          println(f"batch $b%2d  store ${sb / 1e9}%5.2f GB  total $wall%6.1f s  " +
            phases.map { case (k, v) => f"$k=$v%.1f" }.mkString(" "))
          phases.foreach { case (k, v) => totals(k) = totals.getOrElse(k, 0.0) + v }
          totals("__total") = totals.getOrElse("__total", 0.0) + wall
          dropShard(b) // consumed — scratch never holds fixture + store whole
        }
      } finally graft.ext.Dedup.phaseHook = None
      println("---- near-mode totals ----")
      totals.foreach { case (k, v) => println(f"$k%-18s $v%8.1f s") }
      val n = graft.ext.Dedup.readStore(spark, s"$work/near").count()
      println(f"[longdoc-near] survivors $n of $nDocs (fixture ${shardBytesTotal / 1e9}%.2f GB cumulative)")
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(work))
      try {
        val it = walk.sorted(java.util.Comparator.reverseOrder()).iterator()
        while (it.hasNext) java.nio.file.Files.deleteIfExists(it.next())
      } finally walk.close()
      spark.stop()
      return
    }
    val rows = scala.collection.mutable.ArrayBuffer[String]()
    (0 until nBatches).foreach { b =>
      val batch = spark.read.parquet(writeShard(b))
      // interleave arms within the batch index, ALTERNATING which arm
      // runs first per batch: an r12 A/A control (identical code both arms)
      // measured a strong second-runner advantage (warm page cache), so a
      // fixed order would systematically charge one arm
      val arms = Seq("armed" -> 0L, "disarmed" -> Long.MaxValue)
      val walls = (if (b % 2 == 0) arms else arms.reverse).map { case (arm, gate) =>
        val t0 = System.nanoTime()
        graft.ext.Dedup.ingestStep(batch, "doc_id", "text", s"$work/$arm",
          batchTag = Some(s"b$b"), exactArmMinStoreBytes = gate)
        arm -> (System.nanoTime() - t0) / 1e9
      }.toMap
      dropShard(b) // both arms consumed it
      val sb = storeBytes(s"$work/armed")
      val line = f"batch $b%2d  store ${sb / 1e9}%5.2f GB  armed ${walls("armed")}%6.1f s  " +
        f"disarmed ${walls("disarmed")}%6.1f s  (armed/disarmed ${walls("armed") / walls("disarmed")}%.2f)"
      println(line); rows += line
    }
    // survivors must be identical — the arms differ only in plan
    val a = graft.ext.Dedup.readStore(spark, s"$work/armed").count()
    val d = graft.ext.Dedup.readStore(spark, s"$work/disarmed").count()
    println(s"[longdoc] survivors armed=$a disarmed=$d ${if (a == d) "MATCH" else "MISMATCH"}")
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(work))
    try {
      val it = walk.sorted(java.util.Comparator.reverseOrder()).iterator()
      while (it.hasNext) java.nio.file.Files.deleteIfExists(it.next())
    } finally walk.close()
    spark.stop()
  }
}
