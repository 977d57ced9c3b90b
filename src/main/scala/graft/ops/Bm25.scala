package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus-level BM25 scoring as a relational pipeline (the reference scores
  * with the rank_bm25 library in-memory, content_filter_strategy.py:507-508,
  * and hand-rolls a simplified variant in filters.py:554-573 and
  * async_url_seeder.py:1380-1426; here the corpus statistics are Spark
  * aggregations so the same math runs over any corpus size):
  *
  *   tf(t,d)  — explode(tokens) → groupBy(doc, term).count
  *   df(t)    — countDistinct docs per term
  *   idf(t)   — Okapi: ln( (N − df + 0.5) / (df + 0.5) + 1 )
  *   score(d) — Σ_{t ∈ q} idf·tf·(k1+1) / (tf + k1·(1 − b + b·len/avgdl))
  *
  * The per-term join is an equi-join on the term key against a literal query
  * term list (broadcast); corpus stats reduce map-side before shuffling.
  */
object Bm25 {

  /** BM25 Okapi scores of every document against one query.
    * Output: (doc_id, score) for docs matching ≥ 1 query term.
    *
    * Scale shape: the query-term restriction is pushed INSIDE the token
    * array before anything explodes, so the only rows that ever shuffle are
    * query-term occurrences (∝ hits, not ∝ corpus tokens), the document
    * length rides along with them (no separate doc_id lens join), and the
    * corpus is tokenized exactly once per branch of a single projection.
    * Corpus scalars (N, avgdl) stay IN the plan as a broadcast 1-row
    * aggregate — no driver-side collect serializing the job chain.
    */
  def score(df: DataFrame, idCol: String, textCol: String, query: Seq[String],
            k1: Double = 1.5, b: Double = 0.75): DataFrame = {
    val qLits = query.map(_.toLowerCase).distinct
    val tk = TextAnalysis.tokens(col(textCol))
    val sel = df.select(col(idCol).as("doc_id"),
      size(tk).cast("double").as("dl"),
      filter(tk, t => t.isin(qLits: _*)).as("qtk"))
    val stats = sel.agg(count(lit(1)).cast("double").as("n_docs"), avg("dl").as("avgdl"))
    val tf = sel.where(size(col("qtk")) > 0)
      .select(col("doc_id"), col("dl"), explode(col("qtk")).as("term"))
      .groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))
    val dfs = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val idf = dfs.crossJoin(broadcast(stats))
      .withColumn("idf",
        log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
    tf.join(broadcast(idf.select("term", "idf", "avgdl")), Seq("term"))
      .withColumn("contrib",
        col("idf") * col("tf") * (k1 + 1.0) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy("doc_id").agg(sum("contrib").as("score"))
  }
}

/** Adaptive-crawl corpus statistics as Spark aggregations (re-expressed from
  * /root/reference/crawl4ai/adaptive_crawler.py:287-416):
  *
  *  - coverage    — per query term: (df/N)·(1 + 0.5·ln(1+tf)/ln(1+max_tf)),
  *    averaged, √-curved, capped at 1 (:306-345).
  *  - consistency — mean pairwise Jaccard of per-doc DISTINCT term sets
  *    (:347-372; O(n²) over the knowledge base — bounded by sampling here).
  *  - saturation  — 1 − recent/initial new-term discovery rate (:374-389).
  *  - confidence  — 0.4·coverage + 0.3·consistency + 0.3·saturation (:287-304).
  */
object Adaptive {

  /** (term, tf, df) corpus stats in one pass. */
  def termStats(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"),
        explode(TextAnalysis.tokens(col(textCol))).as("term"))
      .groupBy("term")
      .agg(count(lit(1)).as("tf"), countDistinct("doc_id").as("df"))

  /** ONE action, one plan: the per-term score
    * (df/N)·(1 + 0.5·ln(1+tf)/ln(1+max_tf)) summed over query terms splits
    * algebraically into Σq df and Σq df·ln(1+tf) (the ln(1+max_tf) divisor
    * is a constant), so a single aggregate over the term stats yields
    * (max_tf, both sums) and a cross-joined 1-row doc count completes the
    * scalar — no cached intermediate, no serialized job chain.
    */
  def coverage(df: DataFrame, idCol: String, textCol: String,
               query: Seq[String]): Double = {
    val qTerms = query.map(_.toLowerCase).filter(_.nonEmpty).distinct
    if (qTerms.isEmpty) return 0.0
    val isQ = col("term").isin(qTerms: _*)
    val row = termStats(df, idCol, textCol)
      .agg(
        max(col("tf")).cast("double").as("max_tf"),
        sum(when(isQ, col("df"))).cast("double").as("s1"),
        sum(when(isQ, col("df").cast("double") * log(lit(1.0) + col("tf")))).as("s2"))
      .crossJoin(df.agg(count(lit(1)).cast("double").as("n_docs")))
      .head()
    val n = row.getDouble(3)
    if (n == 0.0 || row.isNullAt(1)) return 0.0
    val maxTf = row.getDouble(0)
    val total = row.getDouble(1) / n +
      0.5 * (row.getDouble(2) / n) / math.log(1.0 + maxTf)
    math.min(1.0, math.sqrt(total / qTerms.size))
  }

  /** Mean pairwise Jaccard of distinct-term sets over a bounded sample of
    * documents (the reference iterates all pairs of its small knowledge
    * base; at scale, sample then pair).
    */
  def consistency(df: DataFrame, idCol: String, textCol: String,
                  maxDocs: Int = 64): Double = {
    val sets = df.orderBy(col(idCol)).limit(maxDocs)
      .select(col(idCol).as("id"),
        array_distinct(TextAnalysis.tokens(col(textCol))).as("terms"))
    val a = sets.select(col("id").as("id_a"), col("terms").as("t_a"))
    val b = sets.select(col("id").as("id_b"), col("terms").as("t_b"))
    val pairs = a.crossJoin(b).where(col("id_a") < col("id_b"))
      .where(size(col("t_a")) > 0 && size(col("t_b")) > 0)
      .select((size(array_intersect(col("t_a"), col("t_b"))).cast("double") /
        size(array_union(col("t_a"), col("t_b"))).cast("double")).as("j"))
    val r = pairs.agg(avg("j"), count(lit(1))).head()
    if (r.getLong(1) == 0L) 1.0 else r.getDouble(0)
  }

  /** 1 − recent/initial rate over a new-terms-per-epoch history. */
  def saturation(newTermsHistory: Seq[Long]): Double = {
    if (newTermsHistory.size < 2) return 0.0
    val recent = math.max(newTermsHistory.last, 1L).toDouble
    val initial = math.max(newTermsHistory.head, 1L).toDouble
    math.max(0.0, math.min(1.0 - recent / initial, 1.0))
  }

  def confidence(coverage: Double, consistency: Double, saturation: Double): Double =
    0.4 * coverage + 0.3 * consistency + 0.3 * saturation
}
