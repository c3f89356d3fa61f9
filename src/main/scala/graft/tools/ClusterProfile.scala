package graft.tools

import org.apache.spark.sql.functions._

/** Phase-attributed profile of the clusterStats workload — the scaling
  * record's one remaining >1 slope (r10: 1.128 on quiet brackets at all
  * tiers, 3M→6M wall 49.9→162.7 s = 3.26× for 2× rows). Runs the
  * clusterStats tier (minhashLshPairs threshold=0.5 → clusterPairs →
  * size histogram) over the size-parameterized [[GenSf1]] corpus at each
  * requested tier with `Dedup.phaseHook` set, materializing a barrier
  * between the verify join and CC so the phases attribute honestly:
  *
  *   mh_sig        shingle+minhash signature spill
  *   mh_cand       band join + distinct + candidate spill
  *   verify        exact-Jaccard verify join (tool-side spill barrier)
  *   cc_init / cc_round / cc_delta  connected components
  *   stats         size histogram aggregation
  *
  * Also records candidate / verified-pair / label counts per tier (is the
  * growth the workload's?) and JVM GC wall per tier (is the 6M jump a heap
  * cliff at the protocol 24g rather than plan superlinearity?).
  *
  * Usage: runMain graft.tools.ClusterProfile [nDocs ...]  (default 3M 6M)
  */
object ClusterProfile {
  def main(args: Array[String]): Unit = {
    val tiers = if (args.nonEmpty) args.map(_.toLong).toSeq else Seq(3000000L, 6000000L)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def gcMillis(): Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).sum
    }

    tiers.foreach { n =>
      val dir = s"/tmp/graft-scale-$n"
      if (!new java.io.File(s"$dir/documents.parquet/_SUCCESS").exists()) {
        System.err.println(s"[cluster-profile] generating $n docs at $dir")
        GenSf1.writeDocs(spark, dir, n)
      }
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val phases = scala.collection.mutable.LinkedHashMap[String, Double]()
      graft.ext.Dedup.phaseHook = Some { (name, sec) =>
        phases(name) = phases.getOrElse(name, 0.0) + sec
        System.err.println(f"[cluster-profile] n=$n $name%-14s $sec%8.1f s")
      }
      try {
        System.gc()
        val gc0 = gcMillis()
        val t0 = System.nanoTime()
        val pairs = graft.ext.Dedup.minhashLshPairs(docs, "doc_id", "text", threshold = 0.5)
        // barrier: spill the verified pairs so CC phases don't absorb the verify
        val tv0 = System.nanoTime()
        val verified = graft.ext.Dedup.spillSized(pairs, "graft-profile-pairs")
        val nPairs = verified.count()
        phases("verify") = (System.nanoTime() - tv0) / 1e9
        val clusters = graft.ext.Dedup.clusterPairs(verified)
        val ts0 = System.nanoTime()
        val hist = clusters
          .groupBy(col("cluster")).agg(count(lit(1)).as("size"))
          .groupBy(col("size")).agg(count(lit(1)).as("n_clusters")).collect()
        phases("stats") = (System.nanoTime() - ts0) / 1e9
        val wall = (System.nanoTime() - t0) / 1e9
        val gcSec = (gcMillis() - gc0) / 1e3
        val nLabels = hist.map(r => r.getAs[Long]("size") * r.getAs[Long]("n_clusters")).sum
        val attributed = phases.values.sum
        println(f"""{"n":$n,"wall":$wall%.1f,"gc_sec":$gcSec%.1f,"pairs":$nPairs,"labels":$nLabels,""" +
          phases.map { case (k, v) => f""""$k":$v%.1f""" }.mkString(",") +
          f""","unattributed":${wall - attributed}%.1f}""")
      } finally graft.ext.Dedup.phaseHook = None
    }
    spark.stop()
  }
}
