package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.exprs.catalyst.GraftFunctions

/** Approximate-nearest-neighbor search over embedding columns
  * (`array<float>`/`array<double>`).
  *
  * Two tiers:
  *  - `bruteForceTopK` — exact cosine top-k via a broadcast of the (small)
  *    query set against the full corpus: one scan of the corpus, ranked by
  *    a per-query bounded-heap aggregate. The baseline and the
  *    oracle-checkable tier.
  *  - `lshTopK` — random-hyperplane LSH bucketing: corpus and queries are
  *    both bucketed (one cheap signature scan each), candidates come from a
  *    bucket equi-join, then exact re-ranking. At 100 TB the bucket join
  *    replaces the corpus-sized cross product with |corpus|·L rows shuffled
  *    on short keys.
  */
object Similarity {

  /** Per-vector norm hoisted out of a pair sweep (see `Dedup.semDedup`):
    * sqrt(dot(v,v)) computed once per frame row, below the join that fans
    * the row out to its candidate pairs. */
  private def nativeNorm(v: Column): Column = sqrt(GraftFunctions.dot(v, v))

  /** Cosine from a pair dot and hoisted norms — bit-for-bit the fused
    * [[GraftFunctions.cosine]] (identical ascending summations, identical
    * sqrt(na)*sqrt(nb) product) at a third of the per-pair flops. */
  private def cosFromNorms(a: Column, b: Column, na: Column, nb: Column): Column =
    when(na * nb > 0, GraftFunctions.dot(a, b) / (na * nb))

  /** Deterministic per-query top-k over a scored candidate frame of
    * exactly (query_id, neighbor_id, score) — the scale-safe replacement
    * for `row_number().over(Window.partitionBy(query_id))`: a window
    * re-shuffles and sorts EVERY scored candidate row, while the
    * bounded-heap aggregate (graft_top_k, the `$topN` accumulator's
    * engine) keeps O(k) state per query per task and combines map-side,
    * so the exchange carries at most tasks·|queries|·k narrow heap
    * entries — never the candidate set, and never the vectors, which
    * callers project away before calling. Ordering matches the window
    * form's `score desc, neighbor_id asc` exactly, including Spark's
    * desc-sort edge ranks (NaN first, nulls last): the heap key maps
    * score→−score with NaN→−∞ and null→+∞, both outside cosine's [−1,1]
    * range. Output is (query_id, rank, neighbor_id, score) with rank
    * 1-based in heap (= window) order. */
  private def topKByScore(scored: DataFrame, k: Int, scoreName: String): DataFrame = {
    val s = col(scoreName)
    val heapKey = struct(
      when(s.isNull, lit(Double.PositiveInfinity))
        .when(isnan(s), lit(Double.NegativeInfinity))
        .otherwise(-s).as("__k1"),
      col("neighbor_id").as("__k2"))
    scored
      .select(col("query_id"), heapKey.as("__key"),
        struct(col("neighbor_id"), s.as(scoreName)).as("__val"))
      .groupBy(col("query_id"))
      .agg(GraftFunctions.topK(col("__key"), col("__val"), k, smallest = true).as("__topk"))
      .select(col("query_id"), posexplode(col("__topk")).as(Seq("__p", "__v")))
      .select(col("query_id"), (col("__p") + 1).as("rank"),
        col("__v.neighbor_id").as("neighbor_id"),
        col(s"__v.$scoreName").as(scoreName))
  }

  /** Sequential-order dot product of two numeric array columns (folds left,
    * same order as a scalar loop — reproducible across engines). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; null when either vector has zero norm. */
  def cosine(a: Column, b: Column): Column = {
    val d = dot(a, b)
    val n = norm(a) * norm(b)
    when(n > 0, d / n)
  }

  /** L2-normalized copy of a float-vector column (null for zero norm).
    * Normalizing once at ingest turns every downstream cosine into a plain
    * dot product — one less sqrt per pair at verify time. */
  def l2Normalize(v: Column): Column = {
    val n = norm(v)
    when(n > 0, transform(v, x => (x.cast("double") / n).cast("float")))
  }

  /** Symmetric int8 quantization: codes = round(x / scale) with
    * scale = max|x|/127, returned as {codes, scale} — 4× smaller candidate
    * tables for the ANN index tier; exact vectors stay in the re-rank tier. */
  def quantizeInt8(v: Column): Column = {
    val scale = greatest(
      aggregate(v, lit(0.0), (acc, x) => greatest(acc, abs(x.cast("double")))),
      lit(1e-30)) / 127.0
    struct(
      transform(v, x => round(x.cast("double") / scale).cast("tinyint")).as("codes"),
      scale.as("scale"))
  }

  def dequantizeInt8(q: Column): Column =
    transform(q.getField("codes"), c => (c.cast("double") * q.getField("scale")).cast("float"))

  /** Approximate dot product straight off two int8 quantized vectors
    * (scaleₐ·scale_b·Σ codesₐᵢ·codes_bᵢ) — the integer sum stays in longs,
    * one multiply at the end. */
  def int8Dot(qa: Column, qb: Column): Column =
    qa.getField("scale") * qb.getField("scale") *
      aggregate(zip_with(qa.getField("codes"), qb.getField("codes"),
        (x, y) => x.cast("long") * y.cast("long")), lit(0L), (acc, x) => acc + x)
        .cast("double")

  /** Sign-bit binary quantization: bit `i` of word `i/64` is set when
    * `v[i] > 0`, packed little-endian into `ceil(dim/64)` longs — a 32×
    * smaller representation whose Hamming distance approximates angular
    * distance (Charikar 2002 SimHash bound). `dim` must be the exact vector
    * length (compile-time word layout; a plan-time constant, like the
    * hyperplane tier's `dim`). */
  def binaryQuantize(v: Column, dim: Int): Column = {
    require(dim > 0, s"dim must be positive, got $dim")
    val words = (dim + 63) / 64
    array((0 until words).map { w =>
      val hi = math.min(dim, (w + 1) * 64)
      (w * 64 until hi).map { i =>
        when(element_at(v, i + 1) > 0, lit(1L << (i - w * 64))).otherwise(lit(0L))
      }.reduce(_.bitwiseOR(_))
    }: _*)
  }

  /** Hamming distance between two packed bit vectors ([[binaryQuantize]]
    * outputs): popcount of the XOR, summed across words. */
  def hammingDistance(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => bit_count(x.bitwiseXOR(y)).cast("long")),
      lit(0L), (acc, x) => acc + x)

  /** Matryoshka truncation (Kusupati et al. 2022): keep the first `dim`
    * components and re-normalize, the standard cheap-tier trick for
    * MRL-trained embeddings — candidate generation runs on the short
    * prefix, exact re-rank on the full vector. Null for zero-norm
    * prefixes. */
  def matryoshka(v: Column, dim: Int): Column = {
    require(dim > 0, s"dim must be positive, got $dim")
    l2Normalize(slice(v, 1, dim))
  }

  /** Element-wise (optionally weighted) mean of an embedding column per
    * group — the chunk→document pooling step of a retrieval/dedup
    * pipeline that embeds fixed-size chunks but needs one vector per
    * document (mean-of-chunk-embeddings is the standard late-chunking /
    * doc-representation baseline).
    *
    * Plan shape: posexplode to (group, dim, x) rows, one keyed aggregation
    * per (group, dim) with full map-side partial combine, then a bounded
    * per-group reassembly (`collect_list` of exactly `dim` structs — the
    * embedding width, not the data size). The explode multiplies shuffle
    * rows by `dim`, but each carries 3 numeric fields, and the
    * alternative — collecting whole vectors per group — puts unbounded
    * chunk counts in one aggregation buffer; at 100 TB the per-(group,dim)
    * partial-combine shape is the one that survives skew (a million-chunk
    * document combines map-side into one row per dim per task).
    *
    * Sizing at corpus scale: the aggregation's key space is |groups|·dim
    * (the gram/line near-unique-key shape), but do NOT pre-repartition on
    * the keys — an explicit exchange before the groupBy satisfies the
    * aggregation's required distribution, which moves the partial combine
    * AFTER the shuffle and ships every exploded row raw, exactly the skew
    * this plan shape exists to avoid. Leave the partial agg map-side and
    * size the post-combine exchange with the session width
    * (`spark.sql.shuffle.partitions` ~ |groups|·dim / 2M, the
    * [[Dedup.scaledParts]] arithmetic) for the pooling job.
    *
    * Ragged / degenerate inputs: `weight_total` is Σw over ALL chunks of
    * the group — computed on the pre-explode frame, because the
    * per-dimension weight sums below only see the chunks long enough to
    * reach that dimension (`max` over them under-reports Σw for ragged
    * widths, and a group whose vectors are all empty/null has no exploded
    * rows at all). Per-dimension means for ragged widths divide by the
    * weight of exactly the chunks that HAVE that dimension — the standard
    * masked-mean semantics. A group of only empty/null vectors still
    * appears, with `pooled` = empty array. The Σw side-aggregation is one
    * map-side-combined pass over the raw frame joined on the group keys —
    * both sides one row per group, negligible next to the exploded agg.
    *
    * @param weightCol optional per-chunk weight (e.g. token count) —
    *                  pooled value is Σ(w·x)/Σ(w) per dimension.
    * @return one row per group: groupCols, `pooled` (array&lt;double&gt;),
    *         `weight_total` (Σw — chunk count when unweighted). */
  def meanPool(df: DataFrame, groupCols: Seq[String], vecCol: String,
               weightCol: Option[String] = None): DataFrame = {
    require(groupCols.nonEmpty, "meanPool requires at least one group column")
    val g = groupCols.map(col)
    val w = weightCol.map(c => col(c).cast("double")).getOrElse(lit(1.0))
    val totals = df.groupBy(g: _*).agg(sum(w).as("weight_total"))
    val pooled = df.select(g :+ w.as("__w") :+ posexplode(col(vecCol)).as(Seq("__pos", "__x")): _*)
      .groupBy(g :+ col("__pos"): _*)
      .agg(sum(col("__x") * col("__w")).as("__sx"), sum(col("__w")).as("__sw"))
      .groupBy(g: _*)
      .agg(
        transform(array_sort(collect_list(struct(col("__pos"),
          (col("__sx") / col("__sw")).as("__m")))), s => s.getField("__m")).as("pooled"))
    totals.join(pooled, groupCols, "left")
      .withColumn("pooled", coalesce(col("pooled"), array().cast("array<double>")))
      .select(g :+ col("pooled") :+ col("weight_total"): _*)
  }

  /** Exact top-k cosine neighbors for every row of `queries` against
    * `corpus`. Queries are broadcast (they must be small — typically a probe
    * set); the corpus is scanned once. Deterministic ranking: cosine desc,
    * then corpus id asc. Self-matches (same id) are excluded. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
                     vecCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
      .withColumn("q_nrm", nativeNorm(col("q_vec"))))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))
      .withColumn("c_nrm", nativeNorm(col("c_vec")))
    val scored = q.crossJoin(c)
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", cosFromNorms(col("q_vec"), col("c_vec"),
        col("q_nrm"), col("c_nrm")))
      .select(col("query_id"), col("neighbor_id"), col("cos"))
    topKByScore(scored, k, "cos")
  }

  /** IVF (inverted-file) ANN — the coarse-quantizer shape billion-vector
    * indexes use:
    *
    *  1. *train*: `nlist` deterministic seed centroids (corpus vectors with
    *     the smallest id hash — a TakeOrdered, not a collect of the corpus)
    *     refined by `iterations` Lloyd steps, each one scan: assign every
    *     vector to its nearest centroid, then an element-wise mean via
    *     posexplode + groupBy(cluster, position);
    *  2. *index*: one scan assigning each corpus vector a cluster id —
    *     at scale this is the partitioning/bucketing column of the stored
    *     index table;
    *  3. *search*: each query probes its `nprobe` nearest centroids; the
    *     candidate set is a cluster-id equi-join, re-ranked by exact cosine.
    *
    * With `nprobe == nlist` the search is exhaustive (oracle tier);
    * recall/latency trade via `nprobe` as in any IVF index. */
  /** Distributed Lloyd k-means over a float-vector column: `k` deterministic
    * seed centroids (smallest id-hash rows — a TakeOrdered, not a corpus
    * collect) refined by `iterations` steps, each one scan (assign every
    * vector to its nearest centroid, then an element-wise mean via
    * posexplode + groupBy(cluster, position)). Only the k×dim centroid
    * array reaches the driver — bounded by construction.
    *
    * This is [[ivfTopK]]'s coarse quantizer, public because the centroids
    * are useful on their own: topic/embedding clustering for
    * cluster-balanced corpus sampling ([[kmeansAssign]] +
    * [[Sampling.stratified]] on the cluster id). */
  def kmeansTrain(corpus: DataFrame, idCol: String, vecCol: String,
                  k: Int, iterations: Int = 1, seed: Long = 42L,
                  sampleRows: Int = 0): Array[Array[Double]] = {
    val full = corpus.select(col(idCol).as("vid"), col(vecCol).as("cv"))
    // sampleRows > 0 bounds TRAINING (not assignment) to the sampleRows
    // smallest id-hash rows — the standard fit-on-a-sample/assign-all
    // recipe: at corpus scale, `iterations` full scans just to fit k
    // centroids is the dominant retrain cost, and a few-hundred-k sample
    // fits them identically well. The sample is deterministic (same hash
    // family and seed as the centroid seeding, so the k seed rows are by
    // construction a prefix of it), materialized ONCE, and every Lloyd
    // scan below runs over it instead of the corpus. A corpus smaller
    // than sampleRows degenerates to the full frame — centroids are then
    // bit-identical to unsampled training (means are order-independent).
    val base =
      if (sampleRows > 0)
        Dedup.spill(
          full.withColumn("__h", xxhash64(col("vid") + lit(seed)))
            .orderBy(col("__h"), col("vid")).limit(sampleRows).drop("__h"),
          "graft-kmeans-sample", Dedup.noDictOptions)
      else full
    var centroids: Array[Array[Double]] = base
      .withColumn("__h", xxhash64(col("vid") + lit(seed)))
      .orderBy(col("__h"), col("vid")).limit(k)
      .collect().map(_.getAs[scala.collection.Seq[Float]]("cv").toArray.map(_.toDouble))
    for (_ <- 1 to iterations) {
      val assign = Kernels.nearestCentroidsKernel(centroids, 1)
      val means = base
        .withColumn("cluster", element_at(assign(col("cv")), 1))
        .select(col("cluster"), posexplode(col("cv")).as(Seq("pos", "x")))
        .groupBy(col("cluster"), col("pos")).agg(avg(col("x")).as("m"))
        .collect()
      val byCluster = means.groupBy(_.getAs[Int]("cluster"))
      centroids = centroids.indices.map { cid =>
        byCluster.get(cid) match {
          case Some(rows) => rows.sortBy(_.getAs[Int]("pos")).map(_.getAs[Double]("m")).toArray
          case None       => centroids(cid) // empty cluster keeps its seed
        }
      }.toArray
    }
    centroids
  }

  /** Nearest-centroid cluster id (0-based) for a vector column — one scan,
    * centroids broadcast inside the kernel closure. */
  def kmeansAssign(vec: Column, centroids: Array[Array[Double]]): Column =
    element_at(Kernels.nearestCentroidsKernel(centroids, 1)(vec), 1)

  /** A trained + materialized IVF index: the coarse-quantizer centroids
    * (k×dim doubles, a driver-side model artifact) and the (cluster, id,
    * vector) index table — the store-side artifact a retrieval service
    * builds once and probes many times. */
  final case class IvfIndex(centroids: Array[Array[Double]], indexed: DataFrame)

  /** Train the coarse quantizer and materialize the index table once.
    * The materialization matters: left lazy, the cluster-assign UDF would
    * collapse past every probe's candidate join and re-run per candidate. */
  def ivfBuild(corpus: DataFrame, idCol: String, vecCol: String, nlist: Int,
               iterations: Int = 1, seed: Long = 42L,
               trainSampleRows: Int = 0): IvfIndex = {
    val centroids = kmeansTrain(corpus, idCol, vecCol, nlist, iterations, seed,
      trainSampleRows)
    val indexed = Dedup.spill(
      corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))
        .withColumn("cluster",
          element_at(Kernels.nearestCentroidsKernel(centroids, 1)(col("c_vec")), 1)),
      "graft-ivf-index", indexWriteOptions)
    IvfIndex(centroids, indexed)
  }

  /** Probe-only IVF search against a prebuilt [[IvfIndex]]: steady-state
    * cost is the cluster equi-join + exact re-rank only — no training jobs
    * per query batch. */
  def ivfTopK(queries: DataFrame, index: IvfIndex, idCol: String, vecCol: String,
              k: Int, nprobe: Int): DataFrame = {
    // norms hoisted BELOW the probe join: once per broadcast query row and
    // once per index row, so the per-candidate cosine is a single dot
    val probes = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
      .withColumn("q_nrm", nativeNorm(col("q_vec")))
      .withColumn("cluster",
        explode(Kernels.nearestCentroidsKernel(index.centroids, nprobe)(col("q_vec")))))
    val indexed = index.indexed
      .withColumn("c_nrm", nativeNorm(col("c_vec")))
    // no pair dedup needed: every index vector lives in exactly ONE
    // cluster (assigned with the single nearest centroid at build time)
    // and the probe list per query is nprobe DISTINCT clusters, so the
    // cluster equi-join produces each (query, neighbor) pair at most once
    // — a distinct here would re-shuffle the whole candidate set keyed on
    // the vectors for nothing
    val scored = probes.join(indexed, "cluster")
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", cosFromNorms(col("q_vec"), col("c_vec"),
        col("q_nrm"), col("c_nrm")))
      .select(col("query_id"), col("neighbor_id"), col("cos"))
    topKByScore(scored, k, "cos")
  }

  /** Train-and-search convenience form — [[ivfBuild]] + the probe-only
    * [[ivfTopK]]. One-shot jobs only; a service keeps the [[IvfIndex]]. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
              k: Int, nlist: Int, nprobe: Int, iterations: Int = 1,
              seed: Long = 42L): DataFrame =
    ivfTopK(queries, ivfBuild(corpus, idCol, vecCol, nlist, iterations, seed),
      idCol, vecCol, k, nprobe)

  /** IVF-SQ8 — IVF cluster pruning over an int8 scalar-quantized code
    * table (the public FAISS `IVF…,SQ8` shape, the step between float IVF
    * and PQ): the stored per-vector payload is [[quantizeInt8]]'s
    * {codes, scale} — 4× smaller than float32 — candidates are scored by
    * the approximate [[int8Dot]] cosine straight off the codes, and the
    * per-query top `rerank` are re-ranked with exact cosine against the
    * true vectors (an id equi-join, as in [[pqTopK]]). With
    * `nprobe == nlist` and `rerank` ≥ corpus the result is exactly brute
    * force (oracle tier); recall/latency trade via `nprobe` and `rerank`. */
  final case class IvfSq8Index(centroids: Array[Array[Double]], indexed: DataFrame)

  /** Train the coarse quantizer and materialize the (cluster, id, sq8
    * codes, vector) index table once. cluster is the partition/bucket
    * column at scale, the int8 codes the 4×-compressed scan payload; the
    * float vectors live only in the re-rank join. */
  def ivfSq8Build(corpus: DataFrame, idCol: String, vecCol: String, nlist: Int,
                  iterations: Int = 1, seed: Long = 42L,
                  trainSampleRows: Int = 0): IvfSq8Index = {
    val centroids = kmeansTrain(corpus, idCol, vecCol, nlist, iterations, seed,
      trainSampleRows)
    val indexed = Dedup.spill(
      corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))
        .withColumn("cluster",
          element_at(Kernels.nearestCentroidsKernel(centroids, 1)(col("c_vec")), 1))
        .withColumn("q8", quantizeInt8(col("c_vec"))),
      "graft-ivfsq8-index", indexWriteOptions)
    IvfSq8Index(centroids, indexed)
  }

  /** Raw int8 code dot via the native codegen expression
    * ([[graft.exprs.catalyst.Int8DotExpr]]) — exact long-summed integer
    * dot, cast to double once, bit-identical to the interpreted
    * `aggregate(zip_with(...))` form it replaced in r15 (which walked ~3
    * interpreted expression-tree nodes per element per call on every
    * candidate row — the measured dominant cost of the whole probe). */
  private def int8DotRaw(a: Column, b: Column): Column =
    GraftFunctions.int8Dot(a, b).cast("double")

  /** Probe-only IVF-SQ8 search against a prebuilt [[IvfSq8Index]]: cluster
    * equi-join + int8 approximate scoring + exact re-rank of the top
    * `rerank` — no training jobs per query batch.
    *
    * The approximate cosine is the integer code dot over the integer code
    * norms (the per-vector scales cancel out of dot/(|a||b|)). Both norms
    * are HOISTED below the candidate join — once per probe row and once
    * per index row at scan, instead of twice per CANDIDATE (each index row
    * is scored against every query probing its cluster): identical
    * `sqrt(na*nb)` product, identical quotient, bit-identical scores. */
  def ivfSq8TopK(queries: DataFrame, index: IvfSq8Index, idCol: String,
                 vecCol: String, k: Int, nprobe: Int, rerank: Int): DataFrame = {
    val qdf = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
    val probes = broadcast(qdf
      .withColumn("q8q", quantizeInt8(col("q_vec")))
      .withColumn("__qn", int8DotRaw(col("q8q").getField("codes"), col("q8q").getField("codes")))
      .withColumn("cluster",
        explode(Kernels.nearestCentroidsKernel(index.centroids, nprobe)(col("q_vec")))))
    // pairs are unique by construction (one cluster per index vector,
    // distinct probe clusters per query — see ivfTopK); the approximate
    // tier scores the int8 codes and goes NARROW before its top-`rerank`
    // heap, so neither the codes nor the query vectors ever cross an
    // exchange with the candidate set
    val indexedN = index.indexed.select("cluster", "neighbor_id", "q8")
      .withColumn("__cn", int8DotRaw(col("q8").getField("codes"), col("q8").getField("codes")))
    val nrm = sqrt(col("__qn") * col("__cn"))
    val approx = probes.join(indexedN, "cluster")
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("a_score", when(nrm > 0,
        int8DotRaw(col("q8q").getField("codes"), col("q8").getField("codes")) / nrm))
      .select(col("query_id"), col("neighbor_id"), col("a_score"))
    // the survivor set is bounded (|queries|·rerank) — broadcast it into
    // the index scan for the exact re-rank instead of shuffling the index
    val cand = topKByScore(approx, rerank, "a_score")
      .select(col("query_id"), col("neighbor_id"))
    val rescored = index.indexed.select(col("neighbor_id"), col("c_vec"))
      .join(broadcast(cand), Seq("neighbor_id"))
      .join(broadcast(qdf), Seq("query_id"))
      .withColumn("cos", GraftFunctions.cosine(col("q_vec"), col("c_vec")))
      .select(col("query_id"), col("neighbor_id"), col("cos"))
    topKByScore(rescored, k, "cos")
  }

  /** Train-and-search convenience form — [[ivfSq8Build]] + the probe-only
    * [[ivfSq8TopK]]. One-shot jobs only; a service keeps the index. */
  def ivfSq8TopK(queries: DataFrame, corpus: DataFrame, idCol: String,
                 vecCol: String, k: Int, nlist: Int, nprobe: Int, rerank: Int,
                 iterations: Int = 1, seed: Long = 42L): DataFrame =
    ivfSq8TopK(queries, ivfSq8Build(corpus, idCol, vecCol, nlist, iterations, seed),
      idCol, vecCol, k, nprobe, rerank)

  /** Train product-quantization codebooks: the vector space is split into
    * `m` contiguous subspaces and each gets `ksub` codewords refined by
    * Lloyd steps — the same distributed assign + per-(code, position) mean
    * recipe as [[ivfTopK]]'s coarse quantizer, run per subspace. Only the
    * m×ksub×(dim/m) codebook array ever reaches the driver (= dim·ksub
    * doubles — bounded by construction, independent of corpus size). At
    * corpus scale, train on a deterministic hash-sample; the codebooks are
    * a model artifact, not data. */
  def pqTrain(corpus: DataFrame, vecCol: String, idCol: String, m: Int, ksub: Int,
              dim: Int, iterations: Int = 2, seed: Long = 42L,
              sampleRows: Int = 0): Array[Array[Array[Double]]] = {
    require(dim % m == 0, s"dim=$dim must be divisible by m=$m")
    val subDim = dim / m
    // same bounded-training recipe as [[kmeansTrain]]: sampleRows > 0
    // materializes the deterministic hash-prefix sample once and both the
    // seed selection and every Lloyd scan run over it; smaller corpora
    // degenerate to the full frame, bit-identically
    val src =
      if (sampleRows > 0)
        Dedup.spill(
          corpus.select(col(idCol), col(vecCol))
            .withColumn("__h", xxhash64(col(idCol) + lit(seed)))
            .orderBy(col("__h"), col(idCol)).limit(sampleRows).drop("__h"),
          "graft-pq-sample", Dedup.noDictOptions)
      else corpus
    // one exploded frame: (sub, subvector) — every subspace trains from the
    // same scan; slice is 1-based
    val subs = src.select(col(idCol).as("vid"), col(vecCol).as("v"))
      .select(col("vid"), explode(sequence(lit(0), lit(m - 1))).as("sub"), col("v"))
      .withColumn("sv", slice(col("v"), col("sub") * subDim + 1, lit(subDim)))
    // deterministic seed codewords per subspace: smallest id-hash rows
    val seedRows = subs
      .withColumn("__h", xxhash64(col("vid") + lit(seed)))
      .withColumn("__r", row_number().over(
        Window.partitionBy(col("sub")).orderBy(col("__h"), col("vid"))))
      .filter(col("__r") <= ksub)
      .select(col("sub"), col("__r"), col("sv")).collect()
    var books: Array[Array[Array[Double]]] = Array.tabulate(m) { s =>
      seedRows.filter(_.getAs[Int]("sub") == s).sortBy(_.getAs[Int]("__r"))
        .map(_.getAs[scala.collection.Seq[Float]]("sv").toArray.map(_.toDouble))
    }
    for (_ <- 1 to iterations) {
      val enc = Kernels.pqEncodeKernel(books)
      // assign every vector to its per-subspace codeword, then mean per
      // (sub, code, pos) — one distributed pass for all subspaces
      val means = src.select(col(vecCol).as("v"))
        .withColumn("codes", enc(col("v")))
        .select(explode(sequence(lit(0), lit(m - 1))).as("sub"), col("codes"), col("v"))
        .withColumn("code", element_at(col("codes"), col("sub") + 1))
        .withColumn("sv", slice(col("v"), col("sub") * subDim + 1, lit(subDim)))
        .select(col("sub"), col("code"), posexplode(col("sv")).as(Seq("pos", "x")))
        .groupBy("sub", "code", "pos").agg(avg(col("x")).as("mu"))
        .collect()
      val byKey = means.groupBy(r => (r.getAs[Int]("sub"), r.getAs[Int]("code")))
      books = Array.tabulate(m) { s =>
        Array.tabulate(ksub) { c =>
          byKey.get((s, c)) match {
            case Some(rows) => rows.sortBy(_.getAs[Int]("pos")).map(_.getAs[Double]("mu"))
            case None       => books(s)(c) // empty cell keeps its seed
          }
        }
      }
    }
    books
  }

  /** Flat-PQ ANN: the corpus is stored as m-byte PQ codes (16–64× smaller
    * than the float vectors — at 100 TB the difference between scanning the
    * corpus and scanning 2 TB of codes); each query broadcasts an ADC lookup
    * table, every candidate costs m table lookups, the per-query top
    * `rerank` by approximate score are re-ranked with exact cosine against
    * the true vectors (an id equi-join back into the corpus). Recall is
    * tuned by `rerank`; with honest codebooks the top-k after exact re-rank
    * is near-exhaustive. Composable with [[ivfTopK]]'s cluster pruning —
    * IVF picks the partitions, PQ makes scanning them cheap. */
  /** A trained + materialized flat-PQ index: the per-subspace codebooks
    * (m×ksub×(dim/m) doubles, a model artifact) and the (id, codes, vector)
    * index table. The codes column IS the compressed scan payload at scale;
    * the vectors ride along for the exact re-rank join. */
  final case class PqIndex(books: Array[Array[Array[Double]]], codes: DataFrame) {
    def ksub: Int = books(0).length
  }

  /** Train codebooks and materialize the encoded index once. Left lazy,
    * Catalyst collapses the encode projection past the candidate join and
    * re-encodes per CANDIDATE (|queries|×|corpus| UDF calls instead of
    * |corpus|) — measured 100× slower at the bench scale. */
  def pqBuild(corpus: DataFrame, idCol: String, vecCol: String, m: Int = 8,
              ksub: Int = 16, dim: Int = 64, iterations: Int = 2,
              seed: Long = 42L, trainSampleRows: Int = 0): PqIndex = {
    val books = pqTrain(corpus, vecCol, idCol, m, ksub, dim, iterations, seed,
      trainSampleRows)
    val codes = Dedup.spill(
      corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))
        .withColumn("codes", Kernels.pqEncodeKernel(books)(col("c_vec"))),
      "graft-pq-index", indexWriteOptions)
    PqIndex(books, codes)
  }

  /** The batched ADC sweep excludes self-matches with reference equality
    * over the BOXED ids inside the partition loop (`qIds(i) != nid` in
    * Kernels.adcSweepImpl) — exact only when both sides box to the same
    * runtime class. The Column comparison it replaced (`query_id =!=
    * neighbor_id`) applied implicit casts, so an Integer-query /
    * Long-index pairing used to work and would now silently keep
    * self-matches (and the tie comparator could throw). Refuse the
    * mismatch loudly at the probe entry instead. */
  private def requireSameIdType(qdf: DataFrame, indexDf: DataFrame): Unit = {
    val qt = qdf.schema("query_id").dataType
    val nt = indexDf.schema("neighbor_id").dataType
    if (qt != nt) throw new graft.model.ValidationError(
      s"PQ probe query id type ${qt.simpleString} != index id type ${nt.simpleString} — " +
        "the ADC sweep's self-match exclusion compares boxed JVM values and a type " +
        "mismatch would silently never exclude; cast one side to the other's type")
  }

  /** Probe-only flat-PQ search against a prebuilt [[PqIndex]]: ADC scoring
    * over the code table + exact re-rank of the top `rerank` — no training
    * jobs per query batch. */
  def pqTopK(queries: DataFrame, index: PqIndex, idCol: String, vecCol: String,
             k: Int, rerank: Int): DataFrame = {
    val qdf = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
    requireSameIdType(qdf, index.codes)
    // the probe set is small by contract (it is broadcast below); collect it
    // once and ship the flat ADC tables in the sweep closure — a per-row
    // nested table column costs more to deserialize than the scoring itself
    val qRows = qdf.collect()
    val qIds: Array[Any] = qRows.map(_.get(0))
    val qTables: Array[Array[Double]] = qRows.map(r =>
      Kernels.adcTableFlat(index.books, r.getAs[scala.collection.Seq[Float]]("q_vec")))
    // batched partition sweep (Kernels.adcSweepPartition): every codes row
    // is decoded once and scored against all queries in-loop, per-query
    // bounded heaps keep each partition's top `rerank` — the
    // |queries|×|corpus| relation never exists as rows, no exchange carries
    // more than partitions·|queries|·rerank narrow candidates, and the
    // query VECTORS stay out entirely (they ride the tiny broadcast qdf
    // into the re-rank join below)
    val codesDf = index.codes.select(col("neighbor_id"), col("codes"))
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("query_id", qdf.schema("query_id").dataType),
      org.apache.spark.sql.types.StructField("neighbor_id", codesDf.schema("neighbor_id").dataType),
      org.apache.spark.sql.types.StructField("a_score", org.apache.spark.sql.types.DoubleType)))
    val approx = queries.sparkSession.createDataFrame(
      codesDf.rdd.mapPartitions(
        Kernels.adcSweepPartition(qIds, qTables, index.ksub, rerank)),
      outSchema)
    val cand = topKByScore(approx, rerank, "a_score")
      .select(col("query_id"), col("neighbor_id"))
    val rescored = index.codes.select(col("neighbor_id"), col("c_vec"))
      .join(broadcast(cand), Seq("neighbor_id"))
      .join(broadcast(qdf), Seq("query_id"))
      .withColumn("cos", GraftFunctions.cosine(col("q_vec"), col("c_vec")))
      .select(col("query_id"), col("neighbor_id"), col("cos"))
    topKByScore(rescored, k, "cos")
  }

  /** Train-and-search convenience form — [[pqBuild]] + the probe-only
    * [[pqTopK]]. One-shot jobs only; a service keeps the [[PqIndex]]. */
  def pqTopK(queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
             k: Int, m: Int = 8, ksub: Int = 16, dim: Int = 64, rerank: Int = 50,
             iterations: Int = 2, seed: Long = 42L): DataFrame =
    pqTopK(queries, pqBuild(corpus, idCol, vecCol, m, ksub, dim, iterations, seed),
      idCol, vecCol, k, rerank)

  /** IVF-PQ — the billion-vector index shape: an IVF coarse quantizer
    * prunes the search to `nprobe` clusters, and within them candidates are
    * scored from PQ codes via the ADC table (m lookups each), with exact
    * re-rank of the top `rerank`. The stored index at scale is
    * (cluster_id, pq_codes, id) — cluster_id the partition/bucket column,
    * codes the 16–64×-compressed payload; the float vectors live only in
    * the re-rank join. With `nprobe == nlist` and `rerank` ≥ corpus, the
    * result is exactly brute force (oracle tier). */
  /** A trained + materialized IVF-PQ index — the billion-vector shape:
    * coarse-quantizer centroids, PQ codebooks, and the
    * (cluster, id, codes, vector) index table. cluster_id is the
    * partition/bucket column at scale, codes the 16–64×-compressed scan
    * payload; the float vectors live only in the re-rank join. */
  final case class IvfPqIndex(centroids: Array[Array[Double]],
                              books: Array[Array[Array[Double]]],
                              indexed: DataFrame) {
    def ksub: Int = books(0).length
  }

  /** Train both quantizers and materialize the combined index table once
    * (see [[pqBuild]] for why materialization is load-bearing). */
  def ivfPqBuild(corpus: DataFrame, idCol: String, vecCol: String, nlist: Int,
                 m: Int = 8, ksub: Int = 16, dim: Int = 64, iterations: Int = 1,
                 seed: Long = 42L, trainSampleRows: Int = 0): IvfPqIndex = {
    val centroids = kmeansTrain(corpus, idCol, vecCol, nlist, iterations, seed,
      trainSampleRows)
    val books = pqTrain(corpus, vecCol, idCol, m, ksub, dim, iterations, seed,
      trainSampleRows)
    val indexed = Dedup.spill(
      corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))
        .withColumn("cluster",
          element_at(Kernels.nearestCentroidsKernel(centroids, 1)(col("c_vec")), 1))
        .withColumn("codes", Kernels.pqEncodeKernel(books)(col("c_vec"))),
      "graft-ivfpq-index", indexWriteOptions)
    IvfPqIndex(centroids, books, indexed)
  }

  /** Probe-only IVF-PQ search against a prebuilt [[IvfPqIndex]]: cluster
    * pruning + ADC scoring + exact re-rank, no training jobs per batch. */
  def ivfPqTopK(queries: DataFrame, index: IvfPqIndex, idCol: String, vecCol: String,
                k: Int, nprobe: Int, rerank: Int): DataFrame = {
    val qdf = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
    requireSameIdType(qdf, index.indexed)
    val qRows = qdf.collect()
    val qIds: Array[Any] = qRows.map(_.get(0))
    val qVecs = qRows.map(_.getAs[scala.collection.Seq[Float]]("q_vec"))
    val qTables: Array[Array[Double]] = qVecs.map(Kernels.adcTableFlat(index.books, _))
    // cluster pruning via a driver-built cluster→queries inversion of each
    // query's nprobe probe list (same L2 tie order as the UDF kernel), then
    // the batched partition sweep: each indexed row is decoded once and
    // scored only against the queries probing its cluster — the identical
    // candidate pair set the former probes⋈indexed equi-join produced,
    // without materializing a row per (query, candidate). Query vectors
    // enter only via the broadcast re-rank join below.
    val byCluster: Map[Int, Array[Int]] = qVecs.zipWithIndex
      .flatMap { case (v, qi) =>
        Kernels.nearestCentroidsDriver(index.centroids, v, nprobe).map(c => (c, qi)) }
      .groupBy(_._1).map { case (c, pairs) => c -> pairs.map(_._2).sorted }
    val idxDf = index.indexed.select(col("cluster"), col("neighbor_id"), col("codes"))
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("query_id", qdf.schema("query_id").dataType),
      org.apache.spark.sql.types.StructField("neighbor_id", idxDf.schema("neighbor_id").dataType),
      org.apache.spark.sql.types.StructField("a_score", org.apache.spark.sql.types.DoubleType)))
    val approx = queries.sparkSession.createDataFrame(
      idxDf.rdd.mapPartitions(
        Kernels.adcSweepClusteredPartition(byCluster, qIds, qTables, index.ksub, rerank)),
      outSchema)
    val cand = topKByScore(approx, rerank, "a_score")
      .select(col("query_id"), col("neighbor_id"))
    val rescored = index.indexed.select(col("neighbor_id"), col("c_vec"))
      .join(broadcast(cand), Seq("neighbor_id"))
      .join(broadcast(qdf), Seq("query_id"))
      .withColumn("cos", GraftFunctions.cosine(col("q_vec"), col("c_vec")))
      .select(col("query_id"), col("neighbor_id"), col("cos"))
    topKByScore(rescored, k, "cos")
  }

  /** Train-and-search convenience form — [[ivfPqBuild]] + the probe-only
    * [[ivfPqTopK]]. One-shot jobs only; a service keeps the [[IvfPqIndex]]. */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
                k: Int, nlist: Int, nprobe: Int, m: Int = 8, ksub: Int = 16,
                dim: Int = 64, rerank: Int = 50, iterations: Int = 1,
                seed: Long = 42L): DataFrame =
    ivfPqTopK(queries,
      ivfPqBuild(corpus, idCol, vecCol, nlist, m, ksub, dim, iterations, seed),
      idCol, vecCol, k, nprobe, rerank)

  /** LSH-bucketed ANN: candidates share at least one of `tables` hyperplane
    * sign-buckets; candidates are re-ranked by exact cosine. Recall is
    * tunable via (planes, tables); the shape is the IVF/LSH standard for
    * billion-vector corpora. */
  // ------------------------------------------------- index persistence ----
  // A trained ANN index is parquet all the way down: the data-sized table
  // (cluster assignments / PQ codes) as a partitioned parquet dir, the
  // driver-bounded model (centroids/codebooks) as a tiny parquet table
  // beside it. Train once in the indexing job, load and probe from any
  // number of serving jobs — no re-training, no JVM-serialized blobs.

  /** Write options for every materialized index table: dictionary OFF for
    * the hash-valued array payloads (float vectors, sq8 codes — the
    * [[Dedup.noDictOptions]] pathology), back ON for `codes` (m positions
    * over ksub=16 distinct values — the dictionary-friendliest page shape
    * there is) and `cluster` (≤nlist distinct ints). The r10 blanket
    * noDict on these writes was the suspect for sf1IvfPqBuild 11.1→15.4 s;
    * PerColumnDictSpec pins the resulting footer encodings. Frames without
    * a codes/cluster column ignore the extra per-column keys. */
  private[graft] val indexWriteOptions: Map[String, String] =
    Dedup.noDictOptionsExcept("codes", "cluster")

  private def saveCentroids(spark: org.apache.spark.sql.SparkSession,
                            cents: Array[Array[Double]], path: String): Unit = {
    import spark.implicits._
    cents.zipWithIndex.toSeq.map { case (v, i) => (i, v.toSeq) }
      .toDF("cid", "vec").coalesce(1).write.mode("overwrite").options(Dedup.noDictOptions).parquet(path)
  }

  private def loadCentroids(spark: org.apache.spark.sql.SparkSession,
                            path: String): Array[Array[Double]] =
    spark.read.parquet(path).orderBy("cid")
      .collect().map(_.getSeq[Double](1).toArray)

  private def saveBooks(spark: org.apache.spark.sql.SparkSession,
                        books: Array[Array[Array[Double]]], path: String): Unit = {
    import spark.implicits._
    (for { (sub, m) <- books.zipWithIndex.toSeq; (v, k) <- sub.zipWithIndex }
      yield (m, k, v.toSeq))
      .toDF("sub", "code", "vec").coalesce(1).write.mode("overwrite").options(Dedup.noDictOptions).parquet(path)
  }

  private def loadBooks(spark: org.apache.spark.sql.SparkSession,
                        path: String): Array[Array[Array[Double]]] =
    spark.read.parquet(path).orderBy("sub", "code").collect()
      .groupBy(_.getInt(0)).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_.getInt(1)).map(_.getSeq[Double](2).toArray).toArray)
      .toArray

  def saveIvfIndex(idx: IvfIndex, path: String): Unit = {
    saveCentroids(idx.indexed.sparkSession, idx.centroids, s"$path/centroids")
    idx.indexed.write.mode("overwrite").options(indexWriteOptions).parquet(s"$path/index")
  }

  def loadIvfIndex(spark: org.apache.spark.sql.SparkSession, path: String): IvfIndex =
    IvfIndex(loadCentroids(spark, s"$path/centroids"),
      spark.read.parquet(s"$path/index"))

  /** One shard's step of incremental IVF index maintenance — the ANN
    * counterpart of [[graft.ext.Dedup.ingestStep]]: a training-data
    * pipeline embeds documents as they are curated, and rebuilding the
    * index per arriving shard is quadratic in corpus size. The FIRST call
    * trains the coarse quantizer on its own batch (the standard deployment
    * recipe: train on a sample, freeze) and writes `path/centroids` plus a
    * `_params.json` pin; EVERY call assigns its vectors to the frozen
    * centroids — one scan, no shuffle, the assignment kernel is a map —
    * and writes `path/index/batch-<tag>/`. Probe the accumulated store via
    * [[loadIvfStore]] + the probe-only [[ivfTopK]] overload; with
    * `nprobe = nlist` the probe over the union store is exactly brute
    * force however the corpus was sharded.
    *
    * The per-batch-directory layout carries [[graft.ext.Dedup.ingestStep]]'s
    * idempotence contract: a retried batch (`foreachBatch` is
    * at-least-once) overwrites its own tag directory; the default tag is a
    * deterministic digest of the batch's (id, vector) pairs. The params
    * pin (`nlist`, `iterations`, `seed`) refuses a call whose settings
    * differ from the store's — mixing assignments from two quantizers
    * would silently zero recall for part of the store.
    *
    * Frozen-quantizer caveat (inherent to the recipe): if the embedding
    * distribution drifts far from the bootstrap shard, cell occupancy
    * skews and pruned-probe recall sags. Monitor with [[ivfStoreReport]]
    * (per-cell occupancy + imbalance); [[ivfRetrain]] re-trains and
    * re-assigns offline in one linear pass over the store.
    *
    * Single-writer contract: the FIRST call against an empty store is the
    * bootstrap commit, and two concurrent bootstraps race (last params-pin
    * wins silently). The shipped streaming sinks are serial per query;
    * parallel multi-writer ingest must bootstrap the store once up front,
    * after which concurrent shard appends to distinct tags are safe. */
  /** Test-only tap (same contract as [[Dedup.planAuditHook]]): hands the
    * per-shard assignment frame each ingest step is about to write to the
    * hook, so the plan audit can pin the steady-state "map-only, no
    * exchange" claim on the REAL code path. `None` in production. */
  private[graft] var planAuditHook: Option[(String, DataFrame) => Unit] = None

  /** @param cachedModel the centroids a PREVIOUS call on this same store
    *        returned — a per-batch ingest loop (the streaming sink) passes
    *        them back so steady-state batches skip the per-batch parquet
    *        load of a model that is frozen by construction. Used only when
    *        the store's bootstrap pin already exists (a cached model can
    *        never substitute for bootstrapping); the params pin is still
    *        checked every call, so config drift refuses as before.
    * @return the store's frozen centroids (train-or-load this call, or the
    *         cache passed in), for the caller to feed back as `cachedModel`.
    *         An empty shard returns the cache unchanged (possibly null). */
  def ivfIngestStep(batch: DataFrame, idCol: String, vecCol: String,
                    path: String, nlist: Int = 256, iterations: Int = 1,
                    seed: Long = 42L, batchTag: Option[String] = None,
                    cachedModel: Option[Array[Array[Double]]] = None):
      Array[Array[Double]] = {
    val spark = batch.sparkSession
    val params = s"""{"nlist":$nlist,"iterations":$iterations,"seed":$seed}"""
    checkStoreParams(spark, path, params)
    val rows = batch.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))
    // an empty shard writes nothing: nothing to bootstrap from or assign,
    // and a stream's empty micro-batches would otherwise each leave an
    // empty batch directory in the store
    if (rows.limit(1).isEmpty) return cachedModel.orNull
    val tag = storeBatchTag(rows, batchTag)
    val centroids = withFrozenModel(spark, path, params, exists =>
      if (exists) cachedModel.getOrElse(loadCentroids(spark, s"$path/centroids"))
      else {
        val c = kmeansTrain(rows, "neighbor_id", "c_vec", nlist, iterations, seed)
        saveCentroids(spark, c, s"$path/centroids")
        c
      })
    val assigned = rows.withColumn("cluster",
      element_at(Kernels.nearestCentroidsKernel(centroids, 1)(col("c_vec")), 1))
    planAuditHook.foreach(_("ivf_ingest_assign", assigned))
    assigned.write.mode("overwrite").options(indexWriteOptions).parquet(s"$path/index/$tag")
    centroids
  }

  /** [[ivfIngestStep]] for the IVF-PQ shape — the payload a 100-TB store
    * actually keeps is the m-byte PQ code, not the float vector, so the
    * bootstrap shard freezes BOTH models (coarse centroids + per-subspace
    * codebooks) and every shard writes (cluster, codes, c_vec) rows. The
    * idempotence, params-pin, and empty-shard contracts are identical;
    * probe with [[loadIvfPqStore]] + the probe-only [[ivfPqTopK]]. */
  /** @param cachedModel same contract as [[ivfIngestStep]]'s: the
    *        (centroids, codebooks) a previous call on this store returned.
    * @return the store's frozen (centroids, codebooks) for feeding back. */
  def ivfPqIngestStep(batch: DataFrame, idCol: String, vecCol: String,
                      path: String, nlist: Int = 256, m: Int = 8, ksub: Int = 16,
                      dim: Int = 64, iterations: Int = 1, seed: Long = 42L,
                      batchTag: Option[String] = None,
                      cachedModel: Option[(Array[Array[Double]], Array[Array[Array[Double]]])] = None):
      (Array[Array[Double]], Array[Array[Array[Double]]]) = {
    val spark = batch.sparkSession
    val params = s"""{"nlist":$nlist,"m":$m,"ksub":$ksub,"dim":$dim,""" +
      s""""iterations":$iterations,"seed":$seed}"""
    checkStoreParams(spark, path, params)
    val rows = batch.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))
    if (rows.limit(1).isEmpty) return cachedModel.orNull
    val tag = storeBatchTag(rows, batchTag)
    val (centroids, books) = withFrozenModel(spark, path, params, exists =>
      if (exists) cachedModel.getOrElse(
        (loadCentroids(spark, s"$path/centroids"), loadBooks(spark, s"$path/books")))
      else {
        val c = kmeansTrain(rows, "neighbor_id", "c_vec", nlist, iterations, seed)
        val b = pqTrain(rows, "c_vec", "neighbor_id", m, ksub, dim, iterations, seed)
        saveCentroids(spark, c, s"$path/centroids")
        saveBooks(spark, b, s"$path/books")
        (c, b)
      })
    val assigned = rows.withColumn("cluster",
        element_at(Kernels.nearestCentroidsKernel(centroids, 1)(col("c_vec")), 1))
      .withColumn("codes", Kernels.pqEncodeKernel(books)(col("c_vec")))
    planAuditHook.foreach(_("ivfpq_ingest_assign", assigned))
    assigned.write.mode("overwrite").options(indexWriteOptions).parquet(s"$path/index/$tag")
    (centroids, books)
  }

  /** Refuse a call whose quantizer settings differ from an existing
    * store's `_params.json` — mixing assignments from two quantizers in
    * one store silently loses recall for part of it. */
  private def checkStoreParams(spark: org.apache.spark.sql.SparkSession,
                               path: String, params: String): Unit = {
    val pp = new org.apache.hadoop.fs.Path(path, "_params.json")
    val fs = pp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(pp)) {
      val in = fs.open(pp)
      val seen = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
                 finally in.close()
      if (seen != params) throw new graft.model.ValidationError(
        s"index store $path was built with $seen; this call uses $params — assignments " +
          "from two coarse quantizers in one store would silently lose recall, refusing")
    }
  }

  /** Batch-digest tag (same recipe as the dedup store): a crashed-and-
    * retried one-shot call overwrites its own directory, a re-embed of
    * the same ids with different vectors lands as a new batch. Explicit
    * tags must already be directory-safe — sanitizing would collapse
    * distinct tags like "a/b" and "a.b" onto one directory and let one
    * shard silently overwrite another, so a disallowed character is a
    * loud refusal instead. */
  private def storeBatchTag(rows: DataFrame, batchTag: Option[String]): String =
    "batch-" + batchTag.map { t =>
        if (!t.matches("[A-Za-z0-9_-]+")) throw new graft.model.ValidationError(
          s"batch tag '$t' must match [A-Za-z0-9_-]+ — it names a store directory, and " +
            "sanitizing distinct tags onto one name would silently overwrite a shard")
        t
      }
      .getOrElse {
        val d = rows.select(conv(substring(md5(concat_ws("",
            coalesce(col("neighbor_id").cast("string"), lit("")),
            coalesce(xxhash64(col("c_vec").cast("string")).cast("string"), lit("")))), 1, 15), 16, 10)
          .cast("long").as("h"))
          .agg(coalesce(expr("bit_xor(h)"), lit(0L)).as("x"), count(lit(1)).as("n"))
          .head()
        f"auto-${d.getLong(0)}%016x-${d.getLong(1)}"
      }

  /** Load-or-bootstrap a store's frozen model: `build(exists)` loads when
    * the store is bootstrapped, trains + saves otherwise. The `_params
    * .json` pin is the bootstrap COMMIT MARKER, written last — after the
    * centroids (and, for PQ, the codebooks) are durably saved — and
    * `exists` is gated on the PIN, not on the model artifacts: a crash
    * between saving an artifact and writing the pin leaves a store that
    * deterministically RE-TRAINS on retry (seeded k-means over the same
    * retried batch — `foreachBatch` redelivers the same data — reproduces
    * the same model; nothing was assigned against the partial one because
    * ingest writes index batches only after this returns). Gating on the
    * artifacts instead would skip the pin forever on such a store, and
    * [[checkStoreParams]] would then silently accept any future quantizer
    * settings — the exact mixed-quantizer recall loss the pin refuses.
    * Single-writer contract: concurrent bootstraps of one EMPTY store race
    * (last pin wins); the shipped streaming sinks are serial per query,
    * and multi-writer ingest must bootstrap the store once up front. */
  private def withFrozenModel[M](spark: org.apache.spark.sql.SparkSession,
                                 path: String, params: String,
                                 build: Boolean => M): M = {
    val pp = new org.apache.hadoop.fs.Path(path, "_params.json")
    val fs = pp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val exists = fs.exists(pp)
    val model = build(exists)
    if (!exists) {
      val out = fs.create(pp, true)
      try out.write(params.getBytes("UTF-8")) finally out.close()
    }
    model
  }

  /** The LIVE index rows of an incremental store: the union of its
    * per-batch index dirs minus any [[removeFromIvfStore]] tombstones —
    * the one read path every probe, report, retrain, and compaction
    * shares, so logical deletion is immediate everywhere by construction.
    * A store with no ledger keeps its pre-tombstone plan (no join). */
  private def liveIndexRows(spark: org.apache.spark.sql.SparkSession,
                            path: String): DataFrame = {
    val dirs = Dedup.listBatchDirs(spark, s"$path/index")
    require(dirs.nonEmpty, s"no ingested batches under $path/index")
    val base = spark.read.parquet(dirs: _*)
    Dedup.tombstonesOf(spark, s"$path/index") match {
      case Some((tombs, _)) => Dedup.minusTombstones(base, "neighbor_id", tombs)
      case None => base
    }
  }

  /** Read an [[ivfIngestStep]]-maintained store: frozen centroids + the
    * union of its per-batch index directories (minus tombstoned rows),
    * probe-ready for the [[ivfTopK]] overload. */
  def loadIvfStore(spark: org.apache.spark.sql.SparkSession, path: String): IvfIndex =
    IvfIndex(loadCentroids(spark, s"$path/centroids"), liveIndexRows(spark, path))

  /** Read an [[ivfPqIngestStep]]-maintained store: frozen centroids +
    * codebooks + the union of its per-batch code directories (minus
    * tombstoned rows), probe-ready for the probe-only [[ivfPqTopK]]. */
  def loadIvfPqStore(spark: org.apache.spark.sql.SparkSession, path: String): IvfPqIndex =
    IvfPqIndex(loadCentroids(spark, s"$path/centroids"),
      loadBooks(spark, s"$path/books"), liveIndexRows(spark, path))

  // --------------------------------------------- store operations ----
  // The three maintenance passes a long-lived frozen-quantizer store needs:
  // occupancy monitoring (is the bootstrap quantizer still a good fit?),
  // offline retraining (fix it when it isn't), and batch-dir compaction
  // (bound the file count a year of micro-batch appends accumulates).

  /** Per-cell occupancy report over an [[ivfIngestStep]]- or
    * [[ivfPqIngestStep]]-maintained store — the monitoring pass the
    * frozen-quantizer caveat calls for: embedding drift away from the
    * bootstrap shard shows up as cell-occupancy skew long before it shows
    * up as recall loss in production probes. One column-pruned scan of the
    * store (cluster only — the codes/vector payload is never read),
    * aggregated to `nlist` rows; EMPTY cells are reported as explicit
    * zero rows (a drifted store's signature is many dead cells plus a few
    * overfull ones, and dropping the dead ones would hide exactly that).
    *
    * @return one row per cell: (cluster, n_vectors, occupancy_frac) plus
    *         the store-wide `imbalance` repeated on every row — max cell
    *         occupancy over the ideal uniform share (1.0 = perfectly
    *         balanced; nlist = everything in one cell). A healthy
    *         bootstrap sits in low single digits; alert-and-
    *         [[ivfRetrain]] past that. */
  def ivfStoreReport(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame = {
    val nlist = loadCentroids(spark, s"$path/centroids").length
    // live rows only: a removal-heavy cell's occupancy must reflect what
    // probes can actually return (the exclusion join reads neighbor_id
    // alongside cluster; the vector/code payload stays pruned)
    val counts = liveIndexRows(spark, path).select(col("cluster"))
      .groupBy(col("cluster")).agg(count(lit(1)).as("n_vectors"))
    // nlist is driver-bounded model state: the full cell list broadcasts
    val cells = broadcast(spark.range(nlist).select(col("id").cast("int").as("cluster")))
    val filled = cells.join(counts, Seq("cluster"), "left")
      .select(col("cluster"), coalesce(col("n_vectors"), lit(0L)).as("n_vectors"))
    // store-wide total/max via one driver-bounded action over the ≤nlist
    // cell rows (the same bounded-model-state argument as the centroids
    // collect), attached as literals — an unpartitioned window would say
    // the same thing while tripping the gate-wide plan audits for a
    // genuinely unbounded single-partition shuffle
    val stats = filled.agg(
      sum(col("n_vectors")).as("t"), max(col("n_vectors")).as("m")).first()
    val total = math.max(1L, stats.getLong(0))
    val maxCell = stats.getLong(1)
    filled
      .withColumn("occupancy_frac", col("n_vectors") / lit(total.toDouble))
      .withColumn("imbalance", lit(maxCell.toDouble * nlist / total))
      .orderBy(col("cluster"))
  }

  /** Offline re-train + re-assign of an [[ivfIngestStep]] store — the
    * repair pass for a drifted frozen quantizer: train a fresh coarse
    * quantizer on the FULL accumulated corpus (not just the long-gone
    * bootstrap shard), re-assign every stored vector in one linear
    * map-only pass, and write a complete new params-pinned store at
    * `outPath`. The source store is never touched (swap paths at the
    * orchestration layer once the new store is probed healthy); the new
    * store's pin is written LAST, after centroids and index — the same
    * bootstrap-commit contract as [[ivfIngestStep]], so a crashed retrain
    * leaves an obviously-unbootstrapped directory, never a half-pinned
    * store. `outPath` is WIPED first ([[clearStoreDir]]) — store loads
    * union every batch dir, so retraining into a non-empty directory
    * would silently union stale old-quantizer batches. The re-assigned
    * index lands as a single `batch-retrain` dir (compaction for free);
    * ingest into the new store may resume with the NEW parameters
    * immediately.
    *
    * At exhaustive probe settings (`nprobe = nlist`) the retrained store
    * returns bit-identical answers to the old one — quantization only
    * prunes, never scores — which is exactly the oracle gate's check. */
  def ivfRetrain(spark: org.apache.spark.sql.SparkSession, path: String,
                 outPath: String, nlist: Int = 256, iterations: Int = 1,
                 seed: Long = 42L, trainSampleRows: Int = 262144): Unit = {
    requireDisjointStores(spark, path, outPath)
    val store = loadIvfStore(spark, path)
    clearStoreDir(spark, outPath)
    val params = s"""{"nlist":$nlist,"iterations":$iterations,"seed":$seed}"""
    val vecs = store.indexed.select(col("neighbor_id"), col("c_vec"))
    // training is sample-bounded by default (fit-on-a-sample/assign-all):
    // without it, fitting ~nlist centroids costs `iterations` FULL-corpus
    // scans — at 100 TB that is the whole retrain bill. 262144 rows is
    // ~1000× nlist, far past the k-means fit saturation point; the
    // ASSIGNMENT below still covers every stored vector, and exhaustive
    // probes (the oracle gate) are quantizer-independent either way.
    val centroids = kmeansTrain(vecs, "neighbor_id", "c_vec", nlist, iterations,
      seed, trainSampleRows)
    saveCentroids(spark, centroids, s"$outPath/centroids")
    vecs.withColumn("cluster",
        element_at(Kernels.nearestCentroidsKernel(centroids, 1)(col("c_vec")), 1))
      .write.mode("overwrite").options(indexWriteOptions).parquet(s"$outPath/index/batch-retrain")
    writeStorePin(spark, outPath, params)
  }

  /** [[ivfRetrain]] for an [[ivfPqIngestStep]] store: re-trains BOTH
    * frozen models (coarse centroids and per-subspace codebooks) on the
    * full accumulated corpus and re-assigns + re-encodes every stored
    * vector in one linear pass — the PQ store keeps the float vectors
    * alongside the codes for exactly this (and the exact re-rank), so no
    * external copy of the corpus is needed. Same contracts as
    * [[ivfRetrain]]: source untouched, single `batch-retrain` dir, pin
    * written last with the NEW params. At exhaustive settings
    * (`nprobe = nlist`, `rerank` ≥ corpus) the retrained store's answers
    * remain exactly brute force. */
  def ivfPqRetrain(spark: org.apache.spark.sql.SparkSession, path: String,
                   outPath: String, nlist: Int = 256, m: Int = 8, ksub: Int = 16,
                   dim: Int = 64, iterations: Int = 1, seed: Long = 42L,
                   trainSampleRows: Int = 262144): Unit = {
    requireDisjointStores(spark, path, outPath)
    val store = loadIvfPqStore(spark, path)
    clearStoreDir(spark, outPath)
    val params = s"""{"nlist":$nlist,"m":$m,"ksub":$ksub,"dim":$dim,""" +
      s""""iterations":$iterations,"seed":$seed}"""
    val vecs = store.indexed.select(col("neighbor_id"), col("c_vec"))
    // both models train sample-bounded — see [[ivfRetrain]]; assignment
    // and re-encode below still cover every stored vector
    val centroids = kmeansTrain(vecs, "neighbor_id", "c_vec", nlist, iterations,
      seed, trainSampleRows)
    val books = pqTrain(vecs, "c_vec", "neighbor_id", m, ksub, dim, iterations,
      seed, trainSampleRows)
    saveCentroids(spark, centroids, s"$outPath/centroids")
    saveBooks(spark, books, s"$outPath/books")
    vecs.withColumn("cluster",
        element_at(Kernels.nearestCentroidsKernel(centroids, 1)(col("c_vec")), 1))
      .withColumn("codes", Kernels.pqEncodeKernel(books)(col("c_vec")))
      .write.mode("overwrite").options(indexWriteOptions).parquet(s"$outPath/index/batch-retrain")
    writeStorePin(spark, outPath, params)
  }

  /** Bin-pack an incremental store's accumulated `batch-*` directories
    * into bounded-size ones — the maintenance pass a streaming
    * [[graft.streaming.GraftStreaming.vectorIndexSink]] needs: a year of
    * micro-batches is thousands of small parquet dirs, and store-scan
    * parallelism degrades into per-file task overhead (same failure mode
    * as [[graft.sources.Layout.compact]], whose sizing recipe this
    * reuses). Reads the union of batch dirs, sizes the output from the
    * ACTUAL on-disk bytes, and writes a complete new store at `outPath`:
    * coalesced index as a single `batch-compacted` dir (`coalesce` —
    * partition merging only, no shuffle), centroids/books copied
    * verbatim, and the source's params pin REPRODUCED BYTE-FOR-BYTE,
    * written last (bootstrap-commit contract). The source store is never
    * touched — swap at the orchestration layer — and re-running is
    * idempotent (full overwrite of `outPath`). Probe results over the
    * compacted store are identical by construction: same rows, same
    * frozen model, only the file layout changes.
    *
    * @return the number of index files planned. */
  def compactIvfStore(spark: org.apache.spark.sql.SparkSession, path: String,
                      outPath: String, targetFileMB: Int = 256): Int = {
    require(targetFileMB > 0, s"targetFileMB must be positive, got $targetFileMB")
    requireDisjointStores(spark, path, outPath)
    val dirs = Dedup.listBatchDirs(spark, s"$path/index")
    require(dirs.nonEmpty, s"no ingested batches under $path/index")
    val hconf = spark.sparkContext.hadoopConfiguration
    val srcPin = new org.apache.hadoop.fs.Path(path, "_params.json")
    val fs = srcPin.getFileSystem(hconf)
    require(fs.exists(srcPin), s"store $path has no _params.json pin — refusing to " +
      "compact a store that was never (fully) bootstrapped")
    val pinBytes = {
      val in = fs.open(srcPin)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    }
    var bytes = 0L
    dirs.foreach { d =>
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(d), true)
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet")) bytes += f.getLen
      }
    }
    val parts = math.max(1L,
      (bytes + targetFileMB * 1048576L - 1) / (targetFileMB * 1048576L)).toInt
    // wipe any previous compaction attempt first: a retry must not leave a
    // stale pin next to half-written artifacts. Output-side filesystem is
    // resolved from outPath (it may be a different FS than the source).
    val outRoot = new org.apache.hadoop.fs.Path(outPath)
    val outFs = outRoot.getFileSystem(hconf)
    outFs.delete(outRoot, true)
    // live rows only — compaction is where [[removeFromIvfStore]]'s
    // logical deletes become physical: the compacted output holds no
    // tombstoned row and carries no ledger (the source store's
    // `_tombstones` root is never copied), so the new store starts clean.
    // `bytes` above counts tombstoned rows too — a removal-heavy store
    // just plans slightly more parts than it fills, never fewer.
    liveIndexRows(spark, path).coalesce(parts)
      .write.mode("overwrite").options(indexWriteOptions).parquet(s"$outPath/index/batch-compacted")
    // model artifacts copy verbatim (centroids always; books for PQ stores)
    Seq("centroids", "books").foreach { d =>
      val src = new org.apache.hadoop.fs.Path(path, d)
      if (fs.exists(src))
        org.apache.hadoop.fs.FileUtil.copy(fs, src, outFs,
          new org.apache.hadoop.fs.Path(outPath, d), false, hconf)
    }
    writeStorePin(spark, outPath, pinBytes)
    parts
  }

  /** Threshold-gated IN-PLACE compaction for the streaming vector sinks —
    * [[compactIvfStore]] is operator-invoked and writes a NEW root, but
    * [[graft.streaming.GraftStreaming.vectorIndexSink]] accumulates one
    * index dir per micro-batch until someone remembers to run it (the
    * same failure mode `autoCompactIngestStore` closes for the dedup
    * store). Runs between micro-batches (single-writer window): when the
    * store holds ≥ `maxDirs` index batch dirs, compacts into a STAGING
    * root, then swaps — with a crash posture that differs from the dedup
    * store's on purpose. The dedup store is a MEMBERSHIP structure
    * (duplicates can never change an answer), so its swap tolerates any
    * crash point; ANN top-k is NOT duplicate-tolerant (a crash-left
    * duplicate neighbor takes two of the k slots, and re-compacting a
    * duplicated store would bake the copies in). So the swap here is
    * MANIFEST-RESUMABLE:
    *
    *  1. the consumed tag list + the fresh compacted ordinal are recorded
    *     at `<path>/index/_compacting.json` BEFORE any live mutation;
    *  2. the staged dir renames in as `batch-compacted-<k>`;
    *  3. the consumed old dirs are deleted;
    *  4. the manifest is deleted, the staging root wiped.
    *
    * Every call (and therefore the next micro-batch's maintenance hook)
    * FINISHES a crashed swap before counting dirs: a manifest with its
    * compacted dir present resumes at step 3 (deleting exactly the
    * recorded tags — batches ingested after the crash are untouched); a
    * manifest without it restarts or clears. Readers between steps 2 and
    * 3 can transiently see both the compacted dir and not-yet-deleted
    * originals (duplicate neighbors) — bounded by the swap, never
    * persistent, and never re-compacted into the store. Probe results
    * after any completed call are identical by construction (same rows,
    * same frozen model — [[compactIvfStore]]'s contract).
    *
    * @return true if a compaction (or a crashed swap's completion) ran. */
  def autoCompactIvfStore(spark: org.apache.spark.sql.SparkSession, path: String,
                          maxDirs: Int, targetFileMB: Int = 256): Boolean = {
    require(maxDirs >= 2, s"maxDirs must be >= 2, got $maxDirs")
    val hconf = spark.sparkContext.hadoopConfiguration
    val indexRoot = s"$path/index"
    val manifestP = new org.apache.hadoop.fs.Path(indexRoot, "_compacting.json")
    val mFs = manifestP.getFileSystem(hconf)
    def tagOf(d: String): String = d.substring(d.lastIndexOf('/') + 1)
    def deleteDir(p: String): Unit = {
      val pp = new org.apache.hadoop.fs.Path(p)
      pp.getFileSystem(hconf).delete(pp, true)
    }
    val staging = path + "__compacting"
    val resumed = if (!mFs.exists(manifestP)) false else {
      // finish a crashed swap FIRST — counting dirs (or compacting) over a
      // half-swapped store would double-count or bake in duplicates
      val in = mFs.open(manifestP)
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      val parsed = scala.util.Try(org.json4s.jackson.JsonMethods.parse(txt)).toOption
      val ordinal = parsed.flatMap(j => (j \ "ordinal") match {
        case org.json4s.JInt(i) => Some(i.toInt); case _ => None })
      val consumed = parsed.map(j => (j \ "consumed") match {
        case org.json4s.JArray(a) => a.collect { case org.json4s.JString(s) => s }
        case _ => Nil }).getOrElse(Nil)
      val consumedTombs = parsed.map(j => (j \ "consumedTombs") match {
        case org.json4s.JArray(a) => a.collect { case org.json4s.JString(s) => s }
        case _ => Nil }).getOrElse(Nil)
      ordinal match {
        case Some(k) if mFs.exists(new org.apache.hadoop.fs.Path(indexRoot, s"batch-compacted-$k")) =>
          // compacted dir landed: resume at step 3
          Dedup.listBatchDirs(spark, indexRoot)
            .filter(d => consumed.contains(tagOf(d)) && tagOf(d) != s"batch-compacted-$k")
            .foreach(deleteDir)
          // then the consumed tombstone dirs (the staged compaction read
          // live rows only, so the recorded ledger entries are applied) —
          // AFTER the index dirs: a crash in between leaves tombstones
          // naming dead tags, which every reader treats as inert
          Dedup.listBatchDirs(spark, indexRoot + "_tombstones")
            .filter(d => consumedTombs.contains(tagOf(d)))
            .foreach(deleteDir)
          mFs.delete(manifestP, false)
          deleteDir(staging)
          true
        case _ =>
          // crash before the rename (or unreadable manifest): nothing of
          // the swap is visible — clear and let the normal path re-decide
          mFs.delete(manifestP, false)
          deleteDir(staging)
          false
      }
    }
    val dirs = Dedup.listBatchDirs(spark, indexRoot)
    // the tombstone dirs count toward the threshold (same rule as
    // autoCompactIngestStore: every probe pays the exclusion join against
    // the ledger union, and compaction is what consumes it — a
    // removal-heavy store must compact without waiting for index-dir
    // growth) and are pinned BEFORE the staged compaction runs
    // (single-writer window, so the set is stable): the staged output
    // holds live rows only, and after the swap these ledger entries are
    // physically applied and must go
    val tombDirs = Dedup.listBatchDirs(spark, indexRoot + "_tombstones")
    if (dirs.size + tombDirs.size < maxDirs) return resumed
    compactIvfStore(spark, path, staging, targetFileMB)
    val k = 1 + dirs.map(tagOf).flatMap { t =>
      "^batch-compacted-(\\d+)$".r.findFirstMatchIn(t).map(_.group(1).toInt)
    }.foldLeft(0)(math.max)
    val consumedJson = dirs.map(d => s""""${tagOf(d)}"""").mkString("[", ",", "]")
    val consumedTombsJson = tombDirs.map(d => s""""${tagOf(d)}"""").mkString("[", ",", "]")
    val mo = mFs.create(manifestP, true)
    try mo.write((s"""{"ordinal":$k,"consumed":$consumedJson,""" +
      s""""consumedTombs":$consumedTombsJson}""").getBytes("UTF-8"))
    finally mo.close()
    val src = new org.apache.hadoop.fs.Path(s"$staging/index/batch-compacted")
    val dst = new org.apache.hadoop.fs.Path(indexRoot, s"batch-compacted-$k")
    mFs.delete(dst, true)
    require(mFs.rename(src, dst), s"rename $src -> $dst failed")
    dirs.foreach(deleteDir)
    tombDirs.foreach(deleteDir)
    mFs.delete(manifestP, false)
    deleteDir(staging)
    true
  }

  /** Remove vectors from an [[ivfIngestStep]]- or [[ivfPqIngestStep]]-
    * maintained store — the GDPR-style retraction the dedup store got in
    * [[graft.ext.Dedup.removeFromIngestStore]], mirrored onto the ANN
    * index so the repo's two long-lived store kinds carry the same
    * compliance posture (before this, deleting an embedding meant a manual
    * retrain/rebuild). Logical removal is IMMEDIATE and physical removal
    * happens at the next compaction:
    *
    *  - the matching LIVE rows' `(batch-dir tag, neighbor_id)` pairs are
    *    recorded under `<path>/index_tombstones/batch-<digest>/` (the
    *    digest tag makes a crashed-and-retried call overwrite its own dir
    *    instead of stacking);
    *  - EVERY reader goes through the shared live-rows path
    *    ([[liveIndexRows]] — probes via [[loadIvfStore]] /
    *    [[loadIvfPqStore]], [[ivfStoreReport]], retrain, compaction), so a
    *    tombstoned vector can never land in a top-k answer, a report
    *    count, or a rebuilt store;
    *  - [[compactIvfStore]] CONSUMES tombstones: the compacted output
    *    contains only live rows and carries no ledger root.
    *    [[autoCompactIvfStore]] deletes the consumed tombstone dirs after
    *    the consumed index dirs (a crash in between leaves tombstones
    *    naming dead tags — inert). [[ivfRetrain]] / [[ivfPqRetrain]] read
    *    through [[loadIvfStore]] and so also rebuild tombstone-free.
    *
    * The ledger id column is pinned to `neighbor_id` (the index schema's
    * id) at first removal via `_params.json` — a foreign or corrupt ledger
    * whose pin disagrees refuses instead of silently part-excluding. The
    * tag-reuse caveat matches the dedup store's: a re-ingest of a removed
    * id under the SAME explicit batch tag stays removed (same tag = the
    * same original batch, the retry contract); any new tag (including the
    * default digest tag, which differs whenever the vector payload does)
    * lands live. Single-writer, like every store mutation. Works on both
    * IVF and IVF-PQ stores — the ledger keys on the shared
    * (tag, neighbor_id) index shape.
    *
    * @param predicate row filter over the index's own columns
    *                  (`neighbor_id`, `c_vec`, `cluster`, and for PQ
    *                  stores `codes`) selecting the vectors to remove
    * @return number of vectors tombstoned by THIS call. */
  def removeFromIvfStore(spark: org.apache.spark.sql.SparkSession,
                         path: String, predicate: Column): Long = {
    val indexRoot = s"$path/index"
    val dirs = Dedup.listBatchDirs(spark, indexRoot)
    require(dirs.nonEmpty, s"no ingested batches under $indexRoot")
    val hconf = spark.sparkContext.hadoopConfiguration
    val tombPath = indexRoot + "_tombstones"
    val pinP = new org.apache.hadoop.fs.Path(tombPath, "_params.json")
    val pinFs = pinP.getFileSystem(hconf)
    if (pinFs.exists(pinP)) {
      val in = pinFs.open(pinP)
      val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      val seen = """"idCol"\s*:\s*"([^"]*)"""".r.findFirstMatchIn(s).map(_.group(1))
      if (!seen.contains("neighbor_id")) throw new graft.model.ValidationError(
        s"tombstone ledger $tombPath carries id-column pin ${seen.orNull}, expected " +
          "'neighbor_id' — a foreign ledger would make exclusion silently partial, refusing")
    } else {
      val o = pinFs.create(pinP, true)
      try o.write("""{"idCol":"neighbor_id"}""".getBytes("UTF-8")) finally o.close()
    }
    // hits = LIVE rows matching the predicate (re-removing an already-
    // tombstoned row is a no-op), with their batch-dir tag
    val priorTombs = Dedup.tombstonesOf(spark, indexRoot).map(_._1)
    val taggedAll = spark.read.parquet(dirs: _*)
      .withColumn("__tomb_tag", Dedup.fileTagCol)
    val live = priorTombs.fold(taggedAll)(t => taggedAll.join(t.select(
        col("__tomb_tag").as("__pt"), col("__tomb_id").as("__pi")),
      taggedAll("__tomb_tag") === col("__pt") &&
        (taggedAll("neighbor_id") <=> col("__pi")),
      "left_anti"))
    val hits = Dedup.spill(live.filter(predicate)
      .select(col("__tomb_tag"), col("neighbor_id").as("__tomb_id")).distinct(),
      "graft-ivf-tombstone-hits")
    // digest removal tag (order-independent over the hit pairs) — a
    // crashed-and-retried call overwrites its own dir instead of stacking
    val d = hits.select(conv(substring(md5(concat_ws("",
        col("__tomb_tag"), coalesce(col("__tomb_id").cast("string"), lit("")))),
        1, 15), 16, 10).cast("long").as("h"))
      .agg(coalesce(expr("bit_xor(h)"), lit(0L)).as("x"), count(lit(1)).as("n")).head()
    val nHits = d.getLong(1)
    if (nHits == 0L) return 0L
    val tag = f"batch-auto-${d.getLong(0)}%016x-$nHits"
    hits.write.mode("overwrite").parquet(s"$tombPath/$tag")
    nHits
  }

  /** Wipe a store output directory before a rewrite ([[ivfRetrain]] /
    * [[ivfPqRetrain]] / [[compactIvfStore]]): [[loadIvfStore]] unions ALL
    * `batch-*` dirs under `outPath/index`, so rewriting into a directory
    * with pre-existing store contents would silently union stale
    * old-quantizer batches (duplicate ids, wrong assignments at narrow
    * nprobe), and a crash over a previously PINNED outPath would leave the
    * stale pin next to new artifacts — violating the pin-written-last
    * commit contract. The FileSystem is resolved from outPath itself, not
    * the source store's (they may differ). */
  private def clearStoreDir(spark: org.apache.spark.sql.SparkSession,
                            outPath: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(outPath)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  /** Write a store's `_params.json` bootstrap-commit pin — always the LAST
    * artifact written (see [[withFrozenModel]]). */
  private def writeStorePin(spark: org.apache.spark.sql.SparkSession,
                            path: String, params: String): Unit = {
    val pp = new org.apache.hadoop.fs.Path(path, "_params.json")
    val fs = pp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(pp, true)
    try out.write(params.getBytes("UTF-8")) finally out.close()
  }

  /** Same qualified-path disjointness guard as [[graft.sources.Layout
    * .compact]]: rewriting a store onto (or inside) itself truncates what
    * the lazy scan is reading. */
  private def requireDisjointStores(spark: org.apache.spark.sql.SparkSession,
                                    path: String, outPath: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val qIn = fs.makeQualified(p).toString + "/"
    val qOut = fs.makeQualified(new org.apache.hadoop.fs.Path(outPath)).toString + "/"
    require(!qIn.startsWith(qOut) && !qOut.startsWith(qIn),
      s"store rewrite input and output must be disjoint directories ($qIn vs $qOut)")
  }

  def saveIvfSq8Index(idx: IvfSq8Index, path: String): Unit = {
    saveCentroids(idx.indexed.sparkSession, idx.centroids, s"$path/centroids")
    idx.indexed.write.mode("overwrite").options(indexWriteOptions).parquet(s"$path/index")
  }

  def loadIvfSq8Index(spark: org.apache.spark.sql.SparkSession, path: String): IvfSq8Index =
    IvfSq8Index(loadCentroids(spark, s"$path/centroids"),
      spark.read.parquet(s"$path/index"))

  def savePqIndex(idx: PqIndex, path: String): Unit = {
    saveBooks(idx.codes.sparkSession, idx.books, s"$path/books")
    idx.codes.write.mode("overwrite").options(indexWriteOptions).parquet(s"$path/index")
  }

  def loadPqIndex(spark: org.apache.spark.sql.SparkSession, path: String): PqIndex =
    PqIndex(loadBooks(spark, s"$path/books"), spark.read.parquet(s"$path/index"))

  def saveIvfPqIndex(idx: IvfPqIndex, path: String): Unit = {
    saveCentroids(idx.indexed.sparkSession, idx.centroids, s"$path/centroids")
    saveBooks(idx.indexed.sparkSession, idx.books, s"$path/books")
    idx.indexed.write.mode("overwrite").options(indexWriteOptions).parquet(s"$path/index")
  }

  def loadIvfPqIndex(spark: org.apache.spark.sql.SparkSession, path: String): IvfPqIndex =
    IvfPqIndex(loadCentroids(spark, s"$path/centroids"),
      loadBooks(spark, s"$path/books"),
      spark.read.parquet(s"$path/index"))

  /** Per-query recall of an approximate ANN result against the exact one:
    * |approx ∩ exact| / |exact| over (query_id, neighbor_id) pairs — the
    * standard index-quality metric, computed distributedly so an index can
    * be evaluated on a sampled query set at corpus scale (two keyed
    * aggregations + one semi join, no driver state). Both inputs use the
    * (query_id, neighbor_id) column shape every `*TopK` here returns. */
  def recallAtK(approx: DataFrame, exact: DataFrame,
                queryCol: String = "query_id", neighborCol: String = "neighbor_id"): DataFrame = {
    val hits = exact.select(col(queryCol), col(neighborCol))
      .join(approx.select(col(queryCol), col(neighborCol)), Seq(queryCol, neighborCol), "left_semi")
      .groupBy(queryCol).agg(count(lit(1)).as("hits"))
    exact.groupBy(queryCol).agg(count(lit(1)).as("n_exact"))
      .join(hits, Seq(queryCol), "left")
      .select(col(queryCol),
        (coalesce(col("hits"), lit(0L)).cast("double") / col("n_exact")).as("recall"))
  }

  def lshTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
              vecCol: String, k: Int, planes: Int = 8, tables: Int = 4,
              dim: Int = 64, seed: Long = 42L): DataFrame = {
    // norms hoisted below the bucket join (once per row, before the
    // per-table explode) and carried through the multi-table distinct —
    // see ivfTopK for the argument
    def bucketed(df: DataFrame, vecName: String, idName: String,
                 nrmName: String): DataFrame = {
      val withBuckets = df.select(col(idCol).as(idName), col(vecCol).as(vecName))
        .withColumn(nrmName, nativeNorm(col(vecName)))
        .withColumn("buckets",
          Kernels.hyperplaneBucketsKernel(planes, tables, dim, seed)(col(vecName)))
      withBuckets.select(col(idName), col(vecName), col(nrmName),
        posexplode(col("buckets")).as(Seq("table", "bucket")))
    }
    val q = bucketed(broadcast(queries), "q_vec", "query_id", "q_nrm")
    val c = bucketed(corpus, "c_vec", "neighbor_id", "c_nrm")
    // a pair CAN collide in several tables (unlike IVF's one-cluster-per-
    // vector join), so the multi-table dedup is load-bearing — but it runs
    // NARROW: cosine is scored per collision (bit-identical doubles for
    // identical inputs, ≤ `tables` redundant dots — flops are free next to
    // an exchange), so the distinct and the top-k heap only ever see
    // (query_id, neighbor_id, cos) rows, never the vectors
    val candidates = q.join(c, Seq("table", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", cosFromNorms(col("q_vec"), col("c_vec"),
        col("q_nrm"), col("c_nrm")))
      .select(col("query_id"), col("neighbor_id"), col("cos")).distinct()
    topKByScore(candidates, k, "cos")
  }
}
