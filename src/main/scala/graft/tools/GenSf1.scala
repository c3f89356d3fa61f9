package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** True-sf1 testdata generator: 10× the driver's sf0.1 row counts on the
  * relational tables (lineitem 6M — the headline-query input) and a
  * genuinely DISTINCT 6M-document corpus + 200k-vector embedding table for
  * the LLM-pipeline workloads — not replicas: every row is hash-derived,
  * so the corpus has 6M distinct ids and (modulo deliberately planted
  * duplicates) distinct texts, while still carrying the structure the
  * dedup/curation tiers exist to find:
  *
  *  - 70% base documents with log-uniform (Zipf-ish) token draws from a
  *    50k vocabulary, lengths 20-80 tokens;
  *  - 30% variant documents: an edit-tiered rewrite (2/10/35% of tokens)
  *    of a hash-chosen base — the 2% tier sits far above any Jaccard
  *    threshold (near-dup work), 35% far below (cluster splitting); a 2%
  *    rewrite of a short doc can land zero edits, so the exact tier gets
  *    true duplicates too;
  *  - 5% of documents draw from a 20-token vocabulary (repetition-heavy →
  *    quality-gate deaths), so the curation funnel has a real shape;
  *  - embeddings: 2048 hash-centroids + 10% relative noise, with every
  *    5th vector a tight jitter of its predecessor (semantic near-dups).
  *
  * Deterministic (pure xxhash64 derivations, no RNG state), so the corpus
  * is reproducible byte-for-byte. Writes parquet to args(0) (default
  * /tmp/graft-sf1) in the driver's testdata schema — `SparkEntry.preflight`
  * passes on the result.
  */
object GenSf1 {

  /** The document corpus at an arbitrary size, same distribution at every
    * size (70/30 base/variant split, tiered rewrites, 5% repetition-heavy):
    * [[ClusterProfile]] calls this at any requested size, so its tiers
    * differ ONLY in row count.
    */
  def writeDocs(spark: SparkSession, out: String, nDocs: Long): Unit = {
    val nBase = nDocs * 7 / 10
    val vocab = 50000

    // ---- documents ----
    val id = col("id")
    // 5% repetition-heavy docs draw from a 20-token vocabulary
    val docVocab = when(pmod(xxhash64(lit("rep"), id), lit(20)) === 0, lit(20))
      .otherwise(lit(vocab))
    val len = (pmod(xxhash64(lit("len"), id), lit(61)) + 20).cast("int")
    def tokenAt(docId: Column, i: Column, v: Column): Column =
      concat(lit("w"),
        floor(pow(v.cast("double"),
          pmod(xxhash64(lit("tok"), docId, i), lit(1000000L)) / lit(1000000.0)))
          .cast("long").cast("string"))
    val baseText = array_join(
      transform(sequence(lit(0), len - 1), i => tokenAt(id, i, docVocab)), " ")
    val base = spark.range(nBase)
      .select(id.as("doc_id"), baseText.as("text"))
    // variants: hash-pick a base, rewrite an edit-tiered fraction of tokens
    val vid = col("doc_id")
    val variants0 = spark.range(nBase, nDocs)
      .select(id.as("doc_id"),
        pmod(xxhash64(lit("base"), id), lit(nBase)).as("base_id"),
        element_at(array(lit(2), lit(10), lit(35)),
          pmod(xxhash64(lit("tier"), id), lit(3)).cast("int") + 1).as("pct"))
    val variants = variants0
      .join(base.select(col("doc_id").as("base_id"), col("text").as("base_text")), "base_id")
      .select(vid,
        array_join(
          transform(split(col("base_text"), " "), (t, i) =>
            when(pmod(xxhash64(vid, i, t), lit(100)) < col("pct"),
              concat(lit("w"), pmod(xxhash64(t, vid), lit(vocab.toLong)).cast("string")))
              .otherwise(t)), " ").as("text"))
    val langs = array(lit("en"), lit("de"), lit("fr"), lit("es"), lit("zh"))
    val srcs = array(lit("web"), lit("books"), lit("code"), lit("wiki"))
    val hl = pmod(xxhash64(lit("lang"), col("doc_id")), lit(100))
    val docs = base.unionByName(variants)
      .select(col("doc_id"), col("text"),
        when(hl < 55, langs.getItem(0)).when(hl < 75, langs.getItem(1))
          .when(hl < 87, langs.getItem(2)).when(hl < 95, langs.getItem(3))
          .otherwise(langs.getItem(4)).as("lang"),
        element_at(srcs, pmod(xxhash64(lit("src"), col("doc_id")), lit(4)).cast("int") + 1)
          .as("source"),
        length(col("text")).cast("long").as("n_chars"))
    docs.repartition(math.max(4, (nDocs / 187500L).toInt))
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
  }

  /** The embedding corpus at an arbitrary size (2048 hash-centroids, 10%
    * noise, every-5th-vector semantic twins) — size-invariant distribution
    * for the same reason as [[writeDocs]].
    */
  def writeEmbeddings(spark: SparkSession, out: String, nVec: Long): Unit = {
    val v = col("id")
    // every 5th vector derives from its predecessor's (centroid, noise) with
    // a 1% jitter on top — a tight semantic near-dup
    val bv = when(pmod(xxhash64(lit("twin"), v), lit(5)) === 0 && v > 0, v - 1).otherwise(v)
    val cid = pmod(xxhash64(lit("c"), bv), lit(2048L))
    def u(seed: Column*): Column = // hash-uniform in [-1, 1)
      (pmod(xxhash64(seed: _*), lit(2000L)) - 1000L) / lit(1000.0)
    val emb = spark.range(nVec).select(
      v.as("vec_id"),
      transform(sequence(lit(0), lit(63)), j =>
        (u(lit("cv"), cid, j) + u(lit("nz"), bv, j) * lit(0.1) +
          u(lit("jt"), v, j) * lit(0.01)).cast("float")).as("embedding"),
      pmod(xxhash64(lit("lbl"), bv), lit(16L)).cast("int").as("label"))
    emb.repartition(math.max(2, (nVec / 25000L).toInt))
      .write.mode("overwrite").options(graft.ext.Dedup.noDictOptions).parquet(s"$out/embeddings.parquet")
  }

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/graft-sf1")
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    writeDocs(spark, out, nDocs = 6000000L)
    writeEmbeddings(spark, out, nVec = 200000L)

    // ---- lineitem (6M) ----
    def h(tag: String): Column = xxhash64(lit(tag), col("id"))
    val flagH = pmod(h("rf"), lit(100))
    spark.range(6000000L).select(
      (col("id") / 4 + 1).cast("long").as("l_orderkey"),
      (pmod(h("pk"), lit(200000L)) + 1).as("l_partkey"),
      (pmod(h("sk"), lit(10000L)) + 1).as("l_suppkey"),
      (pmod(col("id"), lit(4)) + 1).cast("int").as("l_linenumber"),
      (pmod(h("q"), lit(50L)) + 1).cast("double").as("l_quantity"),
      round((pmod(h("ep"), lit(10000000L)) + 100000L) / 100.0, 2).as("l_extendedprice"),
      (pmod(h("d"), lit(11L)) / 100.0).as("l_discount"),
      (pmod(h("t"), lit(9L)) / 100.0).as("l_tax"),
      when(flagH < 25, "R").when(flagH < 50, "A").otherwise("N").as("l_returnflag"),
      when(pmod(h("ls"), lit(100)) < 50, "F").otherwise("O").as("l_linestatus"),
      timestamp_seconds(lit(694224000L) + pmod(h("sd"), lit(2556L)) * 86400L +
        pmod(h("ss"), lit(86400L))).as("l_shipdate"))
      .repartition(32).write.mode("overwrite").parquet(s"$out/lineitem.parquet")

    // ---- orders (1.5M) + events (1M): completes the bench surface ----
    val opr = array(lit("1-URGENT"), lit("2-HIGH"), lit("3-MEDIUM"),
      lit("4-NOT SPECIFIED"), lit("5-LOW"))
    spark.range(1500000L).select(
      (col("id") + 1).as("o_orderkey"),
      (pmod(h("ck"), lit(150000L)) + 1).as("o_custkey"),
      when(pmod(h("os"), lit(100)) < 49, "F")
        .when(pmod(h("os"), lit(100)) < 98, "O").otherwise("P").as("o_orderstatus"),
      round((pmod(h("tp"), lit(50000000L)) + 100000L) / 100.0, 2).as("o_totalprice"),
      timestamp_seconds(lit(694224000L) + pmod(h("od"), lit(2406L)) * 86400L)
        .as("o_orderdate"),
      element_at(opr, pmod(h("op"), lit(5)).cast("int") + 1).as("o_orderpriority"))
      .repartition(16).write.mode("overwrite").parquet(s"$out/orders.parquet")
    val etypes = array(lit("view"), lit("click"), lit("purchase"), lit("scroll"))
    spark.range(1000000L).select(
      col("id").as("event_id"),
      timestamp_seconds(lit(1700000000L) + pmod(h("ts"), lit(2592000L))).as("ts"),
      pmod(h("u"), lit(50000L)).as("user_id"),
      element_at(etypes, pmod(h("et"), lit(4)).cast("int") + 1).as("event_type"),
      (pmod(h("v"), lit(100000L)) / 100.0).as("value"),
      concat(lit("""{"page":"""), pmod(h("pg"), lit(1000L)).cast("string"), lit("}"))
        .as("props"))
      .repartition(8).write.mode("overwrite").parquet(s"$out/events.parquet")

    println(s"sf1 testdata written to $out")
    spark.stop()
  }
}
