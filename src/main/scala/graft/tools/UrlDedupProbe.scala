package graft.tools

import org.apache.spark.sql.functions._

/** Interleaved A/B probe for the sf1UrlDedup regression (r10:
  * 11.1→19.5 s wall / 283→551 CPU-s under QUIET cal brackets, with the
  * url ops untouched in the diff — either an unflagged host pathology or
  * an interaction worth finding). Runs the sf1 urlDedup workload
  * (urlDedup over 6M synthesized URLs) `reps` times back-to-back with a
  * HostCal bracket and load reading around every attempt, so a co-tenant
  * burst shows up as attempt-to-attempt variance instead of poisoning a
  * single-shot record. Prints one line per attempt + a min/median summary.
  *
  * Usage: runMain graft.tools.UrlDedupProbe [reps] [sf1Dir]
  */
object UrlDedupProbe {
  def main(args: Array[String]): Unit = {
    val reps = if (args.nonEmpty) args(0).toInt else 5
    val sfDir = if (args.length > 1) args(1) else "/tmp/graft-sf1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val cpuNs: () => Long =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
        case b: com.sun.management.OperatingSystemMXBean => () => b.getProcessCpuTime
        case _ => () => 0L
      }
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val urls = docs.select(col("doc_id"),
      concat(lit("https://Host"), (col("doc_id") % 100000).cast("string"),
        lit(".example.org/p/"), (col("doc_id") % 500000).cast("string"),
        lit("?utm_source=x&a=1")).as("url"))
    // per-stage executor CPU/run time, to see WHERE a slow attempt spends
    // its doubled CPU (same JVM, same plan, idle host — r10's regression
    // reproduced bimodally here, so it's not co-tenant load)
    val stageLines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val m = sc.stageInfo.taskMetrics
        stageLines.add(f"    stage ${sc.stageInfo.stageId}%3d run=${m.executorRunTime / 1e3}%7.1f s " +
          f"cpu=${m.executorCpuTime / 1e9}%7.1f s gc=${m.jvmGCTime / 1e3}%6.1f s " +
          f"tasks=${sc.stageInfo.numTasks} ${sc.stageInfo.name.takeWhile(_ != '\n').take(60)}")
      }
    })
    HostCal.warmup()
    // build ONCE: if bimodality vanishes when the same analyzed plan (and
    // its cached codegen classes) is reused across attempts, the swing is
    // per-build code generation / JIT state, not the workload
    val reuse = sys.env.get("URL_PROBE_REUSE").contains("1")
    val built = graft.ext.TextFunctions.urlDedup(urls, "doc_id", "url")
    val walls = (1 to reps).map { i =>
      System.gc()
      val calPre = HostCal.unit()._1
      val t0 = System.nanoTime(); val c0 = cpuNs()
      val out = if (reuse) built else graft.ext.TextFunctions.urlDedup(urls, "doc_id", "url")
      val n = out.count()
      val wall = (System.nanoTime() - t0) / 1e9; val cpu = (cpuNs() - c0) / 1e9
      val calPost = HostCal.unit()._1
      println(f"[url-probe] #$i wall=$wall%.1f s cpu=$cpu%.0f s " +
        f"cal=$calPre%.3f/$calPost%.3f rows=$n")
      Thread.sleep(300) // let stage-completed events drain
      while (!stageLines.isEmpty) println(stageLines.poll())
      (wall, cpu)
    }
    val s = walls.sortBy(_._1)
    println(f"[url-probe] min=${s.head._1}%.1f s med=${s(s.size / 2)._1}%.1f s " +
      f"minCpu=${s.map(_._2).min}%.0f s")
    spark.stop()
  }
}
