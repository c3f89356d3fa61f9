package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Count-based n-gram language modeling for corpus quality filtering — the
  * CCNet recipe (Wenzek et al. 2020): score every document's tokens under a
  * language model and drop the high-perplexity tail (boilerplate, gibberish,
  * wrong-language text all score badly). The smoothing is Stupid Backoff
  * (Brants et al. 2007, "Large Language Models in Machine Translation"),
  * which was designed precisely for distributed count tables: no
  * discounting pass, no normalization across the vocabulary — an unseen
  * n-gram just backs off to the (n-1)-gram score times a fixed `alpha`.
  *
  * Plan shape at 100 TB:
  *  - [[ngramCounts]] is one narrow scan per order (explode → hash
  *    aggregate keyed on the gram). The aggregation is partial/final, so a
  *    hot gram ("the") arrives at the reducer pre-combined.
  *  - [[stupidBackoffScore]] joins the corpus's token positions against the
  *    counts table once per (order, context) key — equi-joins on the gram
  *    string, the same shape Brants' MapReduce scorer used. In the usual
  *    filtering setup the LM is trained on a BOUNDED high-quality reference
  *    corpus (CCNet uses Wikipedia), so the counts table is broadcast-sized
  *    and every join is a broadcast hash join over one corpus scan; AQE
  *    picks that up from the counts table's size without hints. Self-scoring
  *    (counts from the corpus itself) degrades to shuffle hash joins keyed
  *    on the gram — still no cross product anywhere.
  *  - Per-document reduction is a single hash aggregate keyed on the
  *    document id.
  *  - The counts frame is referenced once per (order, context) key — five
  *    times at n=3 — and Spark re-executes its aggregation per reference.
  *    Materialize it (`.persist()`, or write it out: it IS the trained
  *    model) before scoring; the bench does exactly that.
  *
  * Tokenization is [[TextFunctions.tokens]] (lowercase, split on `\W+`) so
  * scores line up with the rest of the text stack and with the DuckDB
  * oracle. Scores are log10 and 1e-6-quantized before ranking/filtering so
  * the total order is stable across engines.
  */
object LanguageModel {

  private val MaxOrder = 5

  /** 0-based position `i`'s gram of order `k` (tokens `i-k+1 .. i`, joined
    * with a space), null when the position has fewer than `k-1` predecessors.
    * `slice` is 1-based: tokens `a..b` (0-based) = `slice(t, a+1, b-a+1)`. */
  private def gramAt(t: Column, i: Column, k: Int): Column =
    when(i >= k - 1, array_join(slice(t, i - (k - 2), lit(k)), " "))

  /** Counts of every word n-gram of order `1..n` across `corpus`.
    *
    * @return `(gram, order, cnt)` — `gram` is the space-joined token
    *         sequence. The order-1 rows double as the unigram table, and
    *         their `sum(cnt)` is the corpus token count `N`. */
  def ngramCounts(corpus: DataFrame, textCol: String, n: Int): DataFrame = {
    require(n >= 1 && n <= MaxOrder, s"n must be in 1..$MaxOrder, got $n")
    // expression-backed gram enumeration since r15
    // (graft.exprs.catalyst.WordGramsExpr): the interpreted
    // transform/sequence/slice/array_join tree allocated an array slice
    // and walked ~5 expression nodes per position per order — the kernel
    // emits the same space-joined windows in one pass (empty array for
    // null/short token arrays, exactly the when/otherwise guard it
    // replaces; gram strings identical, so counts and every downstream
    // join key are unchanged).
    val toks = corpus.select(TextFunctions.tokens(col(textCol)).as("__t"))
    (1 to n).map { k =>
      toks
        .select(explode(graft.exprs.catalyst.GraftFunctions.wordGrams(col("__t"), k)).as("gram"))
        .groupBy(col("gram"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("order", lit(k))
    }.reduce(_ unionByName _)
  }

  /** Stupid-backoff score of every document in `docs` under the LM defined
    * by `counts` (a [[ngramCounts]] frame of max order `n`).
    *
    * Per token at 0-based position `i` with `k0 = min(n-1, i)` available
    * context tokens:
    * {{{
    *   S_1(w)            = cnt(w) / N          when seen, else alpha / N (OOV floor)
    *   S_k(w | ctx_k-1)  = cnt(gram_k) / cnt(ctx_k-1)   when gram_k seen
    *                     = alpha * S_k-1                 otherwise
    * }}}
    * starting from the longest order the position supports — a position
    * with a short prefix starts at its own `k0` with NO backoff penalty
    * (there is nothing to back off from). A seen gram's context is always
    * seen too (the context is the gram's own prefix), so the division is
    * never null on the hit branch.
    *
    * @return one row per input document: `n_tokens`, `avg_logp` (mean
    *         log10 token score, 1e-6-quantized; null for token-less
    *         documents) and `ppl` (`10^(-avg_logp)`, 1e-6-quantized). */
  def stupidBackoffScore(docs: DataFrame, idCol: String, textCol: String,
                         counts: DataFrame, n: Int,
                         alpha: Double = 0.4): DataFrame = {
    require(n >= 1 && n <= MaxOrder, s"n must be in 1..$MaxOrder, got $n")
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1], got $alpha")
    // token count N is one long — the same bounded driver materialization
    // the ANN tier uses for centroids; it parameterizes the OOV floor.
    val bigN = counts.filter(col("order") === 1)
      .agg(coalesce(sum(col("cnt")), lit(0L))).first().getLong(0)
    require(bigN > 0, "counts has no order-1 rows — train ngramCounts first")

    // token-less documents (empty or null text) are excluded here — sequence
    // over an empty array would run descending — and restored with nulls at
    // the end
    val toks = docs.select(col(idCol), TextFunctions.tokens(col(textCol)).as("__t"))
      .filter(size(col("__t")) > 0)
    // Per-position gram/context strings are precomputed INSIDE the explode
    // (struct per position) so the token array itself is not carried through
    // the joins — the join input is one narrow row per token.
    val posStruct = transform(sequence(lit(0), size(col("__t")) - 1), i =>
      struct(
        (Seq(element_at(col("__t"), i + 1).as("g1")) ++
          (2 to n).flatMap(k => Seq(
            gramAt(col("__t"), i, k).as(s"g$k"),
            when(i >= k - 1, array_join(slice(col("__t"), i - (k - 2), lit(k - 1)), " ")).as(s"c$k")))): _*))
    val pos = toks
      .select(col(idCol), size(col("__t")).cast("long").as("__nt"), explode(posStruct).as("__p"))
      .select(col(idCol), col("__nt"), col("__p.*"))

    // one left equi-join per (order, role) key; gram and context lookups of
    // the same order share one aliased read of the counts frame
    val byOrder = (1 to n).map(k => k -> counts.filter(col("order") === k)
      .select(col("gram"), col("cnt"))).toMap
    val joined0 = pos.join(byOrder(1).withColumnRenamed("cnt", "__cnt_g1")
      .withColumnRenamed("gram", "g1_key"), col("g1") === col("g1_key"), "left")
      .drop("g1_key")
    val joined = (2 to n).foldLeft(joined0) { (acc, k) =>
      acc
        .join(byOrder(k).withColumnRenamed("cnt", s"__cnt_g$k")
          .withColumnRenamed("gram", s"g${k}_key"),
          col(s"g$k") === col(s"g${k}_key"), "left")
        .drop(s"g${k}_key")
        .join(byOrder(k - 1).withColumnRenamed("cnt", s"__cnt_c$k")
          .withColumnRenamed("gram", s"c${k}_key"),
          col(s"c$k") === col(s"c${k}_key"), "left")
        .drop(s"c${k}_key")
    }

    // backoff chain, lowest order outward: s_k = if no context, s_{k-1};
    // elif gram seen, cnt_g/cnt_c; else alpha * s_{k-1}
    val base: Column = when(col("__cnt_g1").isNotNull,
      col("__cnt_g1").cast("double") / lit(bigN.toDouble))
      .otherwise(lit(alpha) / lit(bigN.toDouble))
    val score = (2 to n).foldLeft(base) { (s, k) =>
      when(col(s"g$k").isNull, s)
        .when(col(s"__cnt_g$k").isNotNull,
          col(s"__cnt_g$k").cast("double") / col(s"__cnt_c$k").cast("double"))
        .otherwise(lit(alpha) * s)
    }

    val scored = joined
      .groupBy(col(idCol))
      .agg(first(col("__nt")).as("n_tokens"),
        (floor(avg(log10(score)) * 1e6 + 0.5) / 1e6).as("avg_logp"))
      .withColumn("ppl", floor(pow(lit(10.0), -col("avg_logp")) * 1e6 + 0.5) / 1e6)
    // token-less documents produced no positions — restore them with nulls
    docs.select(col(idCol)).distinct()
      .join(scored, Seq(idCol), "left")
      .withColumn("n_tokens", coalesce(col("n_tokens"), lit(0L)))
  }

  /** The filter form: keeps documents whose perplexity under `counts` is at
    * most `maxPpl` (token-less documents are dropped — they have no score).
    * Input columns pass through untouched; `ppl` is appended. */
  def perplexityFilter(docs: DataFrame, idCol: String, textCol: String,
                       counts: DataFrame, n: Int, maxPpl: Double,
                       alpha: Double = 0.4): DataFrame = {
    val scores = stupidBackoffScore(docs, idCol, textCol, counts, n, alpha)
      .filter(col("ppl") <= maxPpl)
      .select(col(idCol), col("ppl"))
    docs.join(scores, Seq(idCol))
  }
}
