package graft.tools

import org.apache.spark.sql.SparkSession

/** Writes `.explain("formatted")` for named SparkEntry queries to
  * `<dir>/<query>_<suffix>.txt` — before/after plan evidence for a change
  * that claims a plan shape.
  *
  * Usage: sbt "runMain graft.tools.PlanDump <suffix> <query> [query ...]"
  * e.g.   sbt "runMain graft.tools.PlanDump before q_dedup_minhash q_ann_ivf_sq8"
  * Env: SPARK_GRAFT_PLANS_DIR (default target/plans), SPARK_GRAFT_SF_DIR
  * (default /root/testdata/sf0.01 — the plan shape, not the timing, is
  * the artifact). Also accepts the three bench headline names
  * (simpleFilter, groupAndAggregate, complexPipeline), planned over the
  * lineitem table through Aggo. */
object PlanDump {
  private val headline = Map(
    "simpleFilter" ->
      """[
        {"$match": {"l_returnflag": "R", "l_linestatus": "F", "l_quantity": {"$gte": 10}}}
      ]""",
    "groupAndAggregate" ->
      """[
        {"$group": {"_id": "$l_returnflag",
          "revenue": {"$sum": {"$multiply": ["$l_extendedprice", {"$subtract": [1, "$l_discount"]}]}},
          "avg_price": {"$avg": "$l_extendedprice"},
          "n": {"$sum": 1}}},
        {"$sort": {"revenue": -1}}
      ]""",
    "complexPipeline" ->
      """[
        {"$match": {"l_quantity": {"$gte": 5}}},
        {"$project": {"l_returnflag": 1, "l_linestatus": 1,
          "revenue": {"$multiply": ["$l_extendedprice", {"$subtract": [1, "$l_discount"]}]},
          "m": {"$month": "$l_shipdate"}}},
        {"$group": {"_id": {"rf": "$l_returnflag", "m": "$m"},
          "rev": {"$sum": "$revenue"}, "n": {"$sum": 1}}},
        {"$sort": {"rev": -1}},
        {"$limit": 10}
      ]""")

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDump <suffix> <query> [query ...]")
    val suffix = args.head
    val names = args.tail.toSeq
    val plansDir = sys.env.getOrElse("SPARK_GRAFT_PLANS_DIR", "target/plans")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(plansDir))
    names.foreach { name =>
      val df = headline.get(name) match {
        case Some(p) =>
          val li = spark.read.parquet(s"$dir/lineitem.parquet")
          graft.Aggo.aggregate(li, p)
        case None => graft.SparkEntry.queries(name)(spark, dir)
      }
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      val out = java.nio.file.Paths.get(plansDir, s"${name}_$suffix.txt")
      java.nio.file.Files.write(out, plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"[plandump] wrote $out (${plan.length} chars)")
    }
    spark.stop()
  }
}
