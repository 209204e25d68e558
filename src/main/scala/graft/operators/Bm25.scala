package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The one quantized BM25 scorer behind both data paths: the fresh
  * corpus pass ([[Pipeline.bm25Scores]]/[[Pipeline.bm25TopK]]) and the
  * persisted-postings serve ([[RetrievalIndex.scores]]/
  * [[RetrievalIndex.topK]]). The paths differ only in where the postings
  * and the corpus stats come from; tokenizing, idf, saturation, the
  * per-(query, doc) sum and the top-k cut are these functions. */
private[graft] object Bm25 {

  /** (doc_id, __toks, dl) for every non-null-text doc — empty docs keep a
    * row with dl = 0. Null surgery (the charNgramPairs device): the
    * explicit cheap IsNotNull pre-filter keeps semantics, and coalesce
    * makes the tokenize chain NON-NULLABLE so constraint propagation
    * cannot infer an isnotnull(tokens_scan(…)) filter that would re-run
    * the kernel below the next exchange. */
  def docTokens(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.filter(col(textCol).isNotNull)
      .select(col(idCol).cast("long").as("doc_id"),
        graft.functions.tokens_fast(coalesce(col(textCol), lit(""))).as("__toks"))
      .withColumn("dl", size(col("__toks")).cast("long"))

  /** Distinct (query_id, term) pairs; null, empty and token-free queries
    * contribute no row. */
  def queryTerms(queries: DataFrame, idCol: String, textCol: String): DataFrame =
    queries.filter(col(textCol).isNotNull)
      .select(col(idCol).cast("long").as("query_id"),
        explode_outer(graft.functions.tokens_fast(
          coalesce(col(textCol), lit("")))).as("term"))
      .filter(col("term").isNotNull)
      .distinct()

  /** Score `postings` (term, doc_id, tf, dl, non-null terms only) against
    * `qterms` over a corpus of `n` docs and `totalT` tokens: df →
    * quantized idf → tf/dl saturation → per-(query, doc) int64 sum, keeping
    * score > 0.
    *
    * `byDoc` hash-partitions the postings by doc_id before the fanout
    * join; HashPartitioning(doc_id) satisfies the per-(query_id, doc_id)
    * sum's distribution, so the fanout rows aggregate where they are
    * produced. It pays only on a large posting mass, which the caller
    * decides from the data ([[RetrievalIndex.FanoutRepartitionMinRows]]);
    * sum(long) is order-free, so values are identical either way. */
  def score(postings: DataFrame, qterms: DataFrame, n: Long, totalT: Long,
      byDoc: Boolean): DataFrame = {
    val dfTable = postings.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val qlogScale = 16L * (63 - java.lang.Long.numberOfLeadingZeros(Pipeline.Bm25Scale))
    val qti = dfTable.join(broadcast(qterms), "term")
      .withColumn("__r", expr(s"${Pipeline.Bm25Scale}L + " +
        s"(2 * ${n}L - 2 * df + 1) * ${Pipeline.Bm25Scale}L DIV (2 * df + 1)"))
      .withColumn("idf_q", expr(Pipeline.qlog2Sql("__r")) - lit(qlogScale))
      // zero-weight terms (df so high the quantized idf floors to 0 —
      // stop words) contribute 0 to every score but would still fan out
      // the postings join; dropping them is exactly score-preserving
      .filter(col("idf_q") > 0)
      .select(col("query_id"), col("term"), col("idf_q"))
    // __sat (the tf/dl saturation quotient) depends only on the posting,
    // never the query — compute it once per posting row, not once per
    // (posting × query) fanout row (guide §2.3: the fanout measured 59×
    // the posting count on hot-term query batches)
    val scoring = postings.withColumn("__sat", expr(
      s"(44 * tf * ${totalT}L * 16) DIV (20 * tf * ${totalT}L + 6 * ${totalT}L + 18 * dl * ${n}L)"))
    (if (byDoc) scoring.repartition(col("doc_id")) else scoring)
      .join(broadcast(qti), "term")
      .withColumn("__sc", col("idf_q") * col("__sat"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("__sc")).cast("long").as("score"))
      .filter(col("score") > 0)
  }

  /** The k best (score desc, doc_id asc) docs per query as
    * (query_id, rnk, doc_id, score), on the bounded-heap `top_k`
    * aggregate: k rows per partition cross the exchange, never every
    * scored pair. `k` is checked before `scored` is built. */
  def topK(k: Int)(scored: => DataFrame): DataFrame = {
    require(k > 0, "k must be positive")
    scored
      .groupBy(col("query_id"))
      .agg(graft.functions.top_k(
        struct(col("score"), (-col("doc_id")).as("nid")), k).as("__top"))
      .select(col("query_id"), posexplode(col("__top")).as(Seq("__i", "__s")))
      .select(col("query_id"), (col("__i") + 1).cast("int").as("rnk"),
        (-col("__s.nid")).as("doc_id"), col("__s.score"))
  }
}
