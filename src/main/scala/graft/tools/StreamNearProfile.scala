package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Per-batch, per-phase cost breakdown of the curated near-dup ingest —
  * over the sf1 corpus (712 s / 24 batches ≈ 30 s per 250k-doc batch at
  * r10). Drives
  * `Dedup.ingestStep` — the exact per-micro-batch body
  * `curatedIngestSink` delegates to — over the same 24-way split of the
  * sf1 corpus with `Dedup.phaseHook` set, so each batch reports wall
  * seconds for: exact tier (in-batch dedup + store-hash anti-join),
  * signature build (shingle + MinHash), in-batch band self-join,
  * cross-store band join + Jaccard verify, and the two store writes.
  * The phase barriers are forced ONLY under the hook; production keeps
  * its lazy fusion, so this is a measurement of the same work, split —
  * the per-batch total here can read a few % above the unsplit sink.
  *
  * Run a subset with SPARK_GRAFT_PROFILE_BATCHES (default 24 = full
  * corpus).
  */
object StreamNearProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF1_DIR", "/tmp/graft-sf1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val nBatches = sys.env.getOrElse("SPARK_GRAFT_PROFILE_BATCHES", "24").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val work = java.nio.file.Files.createTempDirectory("graft-near-profile").toString
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    // same quality gate the sink applies before ingestStep
    val gated = docs.filter(
      graft.ext.TextFunctions.qualityScore(col("text")) > 0.6)
    val store = s"$work/store"
    val phases = scala.collection.mutable.LinkedHashMap[String, Double]()
    graft.ext.Dedup.phaseHook = Some((name, sec) =>
      phases(name) = phases.getOrElse(name, 0.0) + sec)
    val totals = scala.collection.mutable.LinkedHashMap[String, Double]()
    try {
      (0 until 24).take(nBatches).foreach { b =>
        phases.clear()
        // materialize the batch input FIRST, outside the timed region: the
        // real sink's micro-batch arrives as a bounded file-stream read,
        // not a full-corpus scan + gate per batch — timing the un-spilled
        // filter would charge ~15 s/batch of corpus re-scan + quality UDF
        // to ingestStep (measured r11; it dwarfed every real phase)
        gated.filter(pmod(col("doc_id"), lit(24)) === b)
          .write.mode("overwrite").parquet(s"$work/in-$b")
        val batch = spark.read.parquet(s"$work/in-$b")
        val t0 = System.nanoTime()
        graft.ext.Dedup.ingestStep(batch, "doc_id", "text", store,
          nearThreshold = Some(0.7), batchTag = Some(b.toString))
        val wall = (System.nanoTime() - t0) / 1e9
        // cand_* entries are METRICS riding the phase hook (candidate-pair
        // count in thousands, matched-dir count), not seconds — keep them
        // out of the accounted-wall sum
        val accounted = phases.collect {
          case (k, v) if !k.startsWith("cand_") => v }.sum
        println(f"batch $b%2d  total $wall%6.1f s  (phased $accounted%6.1f, " +
          f"overhead ${wall - accounted}%5.1f)  " +
          phases.map { case (k, v) => f"$k=$v%.1f" }.mkString(" "))
        phases.foreach { case (k, v) => totals(k) = totals.getOrElse(k, 0.0) + v }
        totals("__total") = totals.getOrElse("__total", 0.0) + wall
      }
    } finally graft.ext.Dedup.phaseHook = None
    println("---- totals ----")
    totals.foreach { case (k, v) => println(f"$k%-18s $v%8.1f s") }
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(work))
    try {
      val it = walk.sorted(java.util.Comparator.reverseOrder()).iterator()
      while (it.hasNext) java.nio.file.Files.deleteIfExists(it.next())
    } finally walk.close()
    spark.stop()
  }
}
