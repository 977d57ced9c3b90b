package graft.ops

import graft.core.Xxh64
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** CORPUS-TRAINED text embeddings, fully in-Spark — the in-sandbox answer to
  * the reference's external sentence-transformers models (no model weights
  * exist in this environment, extraction_strategy.py:186-247): instead of
  * loading pretrained weights, train a distributional embedding ON the
  * corpus being processed and plug it into the same [[Embedder]] seam every
  * operator already consumes.
  *
  * Classic public recipe (Levy & Goldberg 2014, "Neural Word Embedding as
  * Implicit Matrix Factorization"): token co-occurrence within a window →
  * PPMI weighting → dimensionality reduction. The reduction here is a
  * deterministic signed random projection (each context term maps to a ±1
  * per output dimension via xxh64), which preserves cosine geometry with no
  * iterative solver — every step is one Spark aggregation:
  *
  *   1. co-occurrence — a per-row O(len·window) projection generates
  *      (term, ctx) pairs with NO self-join, then one groupBy(count) shuffle
  *      with map-side combine;
  *   2. marginals + total — aggregations over the pair table;
  *   3. PPMI(t,c) = max(0, ln(n(t,c)·N / (n(t)·n(c))));
  *   4. vec_j(t) = Σ_c PPMI(t,c)·sign(xxh64(c, j)) — posexplode over the
  *      dim axis + groupBy(term, j).sum, the standard sparse-matrix times
  *      random-matrix product as a relational plan.
  *
  * The trained table is bounded (vocab × dim scalars) and collects into a
  * broadcastable [[TrainedEmbedder]]; at a vocabulary too large to collect,
  * keep it as a table and join — the training plan is identical.
  *
  * Exact bit-reproducibility across runs is NOT part of this contract (the
  * per-(term, dim) float sums reduce in partition order); semantic
  * properties are what the tests pin. The integer co-occurrence counts ARE
  * exact and are the driver-oracled surface (q_cooccurrence).
  */
object CorpusEmbed {

  /** Ordered within-window token pairs (term_a precedes term_b by ≤ window)
    * with exact integer counts — generated per row (no self-join), one
    * aggregation shuffle.
    */
  def cooccurrence(df: DataFrame, textCol: String,
                   window: Int = 3, minCount: Long = 1L): DataFrame = {
    val arr = TextAnalysis.tokens(col(textCol))
    val n = size(arr)
    val pairs = when(n >= 2,
      flatten(transform(sequence(lit(0), n - 2), i =>
        transform(sequence(lit(1), least(lit(window), n - 1 - i)), k =>
          struct(element_at(arr, i + 1).as("term_a"),
            element_at(arr, i + 1 + k).as("term_b"))))))
      .otherwise(array().cast("array<struct<term_a:string,term_b:string>>"))
    df.select(explode(pairs).as("p"))
      .select(col("p.term_a"), col("p.term_b"))
      .groupBy("term_a", "term_b").agg(count(lit(1)).as("n"))
      .where(col("n") >= minCount)
  }

  /** An [[Embedder]] backed by a trained (term → vector) table; documents
    * embed as the L2-normalized mean of their in-vocabulary unit term
    * vectors, falling back to `fallback` when no token is in vocabulary.
    */
  final class TrainedEmbedder(val vectors: Map[String, Array[Float]],
                              override val dim: Int,
                              fallback: Embedder) extends Embedder {
    override def embed(text: String): Array[Float] = {
      val acc = new Array[Float](dim)
      var hits = 0
      Embed.tokens(text).foreach { t =>
        vectors.get(t).foreach { v =>
          var j = 0
          while (j < dim) { acc(j) += v(j); j += 1 }
          hits += 1
        }
      }
      if (hits == 0) fallback.embed(text)
      else {
        var ss = 0.0; var j = 0
        while (j < dim) { ss += acc(j).toDouble * acc(j); j += 1 }
        if (ss > 0) {
          val norm = math.sqrt(ss); j = 0
          while (j < dim) { acc(j) = (acc(j) / norm).toFloat; j += 1 }
        }
        acc
      }
    }
  }

  /** Train on a corpus. `vocabSize` caps the vocabulary at the most frequent
    * terms (by symmetric co-occurrence marginal); pairs below `minCount` are
    * dropped before weighting (standard PPMI noise floor).
    */
  def train(df: DataFrame, textCol: String,
            dim: Int = 64, window: Int = 3, vocabSize: Int = 4096,
            minCount: Long = 2L,
            fallback: Embedder = Embedder.default): TrainedEmbedder = {
    val spark = df.sparkSession
    import spark.implicits._
    val co = cooccurrence(df, textCol, window, minCount)
    // symmetric context counts: a window hit counts for both directions
    val sym = co.select(col("term_a"), col("term_b"), col("n"))
      .unionByName(co.select(col("term_b").as("term_a"),
        col("term_a").as("term_b"), col("n")))
      .groupBy("term_a", "term_b").agg(sum("n").as("n"))
      .cache()
    val marg = sym.groupBy("term_a").agg(sum("n").as("na"))
    val vocab = marg.orderBy(col("na").desc, col("term_a")).limit(vocabSize)
      .withColumnRenamed("term_a", "term")
    val totalRow = sym.agg(sum("n").cast("double").as("total"))
    // PPMI over the vocabulary-restricted pair table, then the signed
    // random projection: posexplode over the dim axis, one (term, j) sum
    val signU = udf { (ctx: String, ppmi: Double, d: Int) =>
      Array.tabulate(d) { j =>
        if ((Xxh64.hashString(ctx, j.toLong) & 1L) == 1L) ppmi else -ppmi
      }
    }
    val rows = sym
      .join(broadcast(vocab.select(col("term").as("term_a"), col("na"))), Seq("term_a"))
      .join(broadcast(vocab.select(col("term").as("term_b"), col("na").as("nb"))), Seq("term_b"))
      .crossJoin(broadcast(totalRow))
      .withColumn("ppmi", greatest(lit(0.0),
        log(col("n").cast("double") * col("total") /
          (col("na").cast("double") * col("nb").cast("double")))))
      .where(col("ppmi") > 0.0)
      .select(col("term_a").as("term"),
        posexplode(signU(col("term_b"), col("ppmi"), lit(dim))).as(Seq("j", "x")))
      .groupBy("term", "j").agg(sum("x").as("v"))
    val collected = rows.as[(String, Int, Double)].collect()
    sym.unpersist()
    // assemble + L2-normalize per-term vectors driver-side (vocab·dim scalars)
    val byTerm = collected.groupBy(_._1).map { case (t, vs) =>
      val vec = new Array[Float](dim)
      vs.foreach { case (_, j, v) => vec(j) = v.toFloat }
      var ss = 0.0; var j = 0
      while (j < dim) { ss += vec(j).toDouble * vec(j); j += 1 }
      if (ss > 0) {
        val norm = math.sqrt(ss); j = 0
        while (j < dim) { vec(j) = (vec(j) / norm).toFloat; j += 1 }
      }
      t -> vec
    }
    new TrainedEmbedder(byTerm, dim, fallback)
  }
}
