package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.GenDir

/** Persisted BM25 postings index — the retrieval family's full lifecycle
  * (build → serve → append → staleness → rebuild), closing the one index
  * family that still re-derived its artifact per run: [[Pipeline.bm25TopK]]
  * tokenizes the whole corpus on every invocation, which a RAG serve path
  * or a nightly retrieval-decontamination audit cannot afford at 100 TB
  * (one corpus pass per QUERY BATCH instead of one per corpus version).
  * This index stores the sufficient statistics of the quantized BM25
  * scorer once, so serving a query batch costs a partition-pruned read of
  * the query terms' postings — never a corpus pass.
  *
  * Layout under a [[graft.core.GenDir]] root (reader-atomic generations,
  * no new swap machinery):
  * {{{
  *   root/_gN/postings/pb=<b>/    (term, doc_id, tf, dl) — built mass,
  *                                hash-partitioned by term into `parts`
  *                                directory partitions
  *   root/_gN/stats/              (parts, docs, tokens) — the build's
  *                                corpus-stat DELTA (docs counts every
  *                                non-null-text doc, incl. empty ones)
  *   root/_gN/appends/batch=<id>/postings/pb=<b>/  delta postings
  *   root/_gN/appends/batch=<id>/stats/            delta (docs, tokens)
  *   root/_gN/appends/batch=<id>/_DONE             commit sentinel
  * }}}
  *
  * Scores from the index are EXACT vs a fresh [[Pipeline.bm25TopK]] over
  * the accumulated corpus — not approximately: the index stores (tf, dl)
  * per posting and (docs, tokens) per mass, and df/idf are re-derived
  * from the LIVE postings at serve time, so an append never stales a
  * score the way an IVF append stales a codebook. Scoring is
  * [[Bm25.score]], the scorer [[Pipeline.bm25Scores]] runs, so
  * serve-from-index is hash-identical to fresh, which is what lets one
  * DuckDB oracle gate both (q113 vs q174). Rebuild is therefore
  * pure DEFRAGMENTATION (each append adds one directory tree and one
  * union leg per batch), exactly the minhash/phash discipline.
  *
  * Scale shape: the stored artifact is one slim row per (doc, distinct
  * term) — the corpus collapses to integers before any join. A serve
  * touches only the `pb` partitions its query terms hash into (partition
  * pruning against `parts` = 64 dirs; the pruning values are the ≤ 64
  * DISTINCT buckets, collected bounded by `parts` regardless of query
  * batch size), joins them against the BROADCAST query-term table, and
  * aggregates df for those terms from the pruned rows themselves — no
  * separate df table to keep consistent across appends. The per-doc sum
  * shuffles only (query, doc) partial sums and the top-k cut rides the
  * bounded-heap `top_k` aggregate. */
object RetrievalIndex {

  private val DoneMarker = "_DONE"

  /** Directory partitions the term space hashes into. 64 keeps a serve
    * touching ≤ `min(64, distinct query terms)` dirs while an sf0.1
    * build still writes meaningfully-sized files; a 100 TB deployment
    * raises it with corpus size (it is per-index, stored in stats). */
  val DefaultParts = 64

  /** Appended fraction above which [[staleness]] recommends a rebuild —
    * scores never degrade (df/idf are live-derived), so like the minhash
    * twin this is about file-count fragmentation: every append adds one
    * union leg and up to `parts` files to each serve. */
  val RebuildFraction = 0.5

  /** Matched-posting rows above which [[scores]] pre-partitions the
    * scoring side by doc_id (the hot-term fanout discipline — see the
    * comment in [[scores]]). Data-driven (the pin's exact count), with
    * ~4–10× margin to both measured regimes: gate-SF serves sit at
    * ~115k matched rows where the extra exchange LOSES, the 10× stress
    * serve at 1.2M where it wins 3–4×; any at-scale serve is far above.
    * Var so RetrievalIndexSpec can force BOTH branches and pin their
    * value identity (the [[Similarity.maxBroadcastDeltaBytes]] spec-knob
    * convention). */
  @volatile private[graft] var FanoutRepartitionMinRows = 512L * 1024
  private[graft] val DefaultFanoutRepartitionMinRows = 512L * 1024

  private def fsOf(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def cur(spark: SparkSession, path: String): String =
    GenDir.resolveRequired(spark, path)

  /** One row per (doc, distinct term): (term, doc_id, tf, dl, pb), plus
    * the corpus-stat delta (docs, tokens) counted over ALL non-null-text
    * docs. */
  private def postingsOf(df: DataFrame, idCol: String, textCol: String,
      parts: Int): (DataFrame, DataFrame) = {
    val toks = Bm25.docTokens(df, idCol, textCol)
    val stats = toks.agg(count(lit(1)).as("docs"),
      coalesce(sum(col("dl")), lit(0L)).as("tokens"))
    val rows = toks
      .select(col("doc_id"), col("dl"), explode_outer(col("__toks")).as("term"))
      .filter(col("term").isNotNull)
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("pb", pmod(xxhash64(col("term")), lit(parts)).cast("int"))
    (rows, stats)
  }

  /** One empty parquet file carrying the full posting schema (pb as a
    * data column) — readable, WARN-quiet, and union-compatible with the
    * partitioned layout. Used for rebuild tombstones and empty deltas. */
  private def emptyPostings(spark: SparkSession, dest: String): Unit =
    spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL(
          "term STRING, doc_id BIGINT, tf BIGINT, dl BIGINT, pb INT"))
      .write.mode("overwrite").parquet(dest)

  private def writePostings(rows: DataFrame, parts: Int, dest: String): Unit =
    // repartition on the partition column first: each task then holds
    // exactly one pb's rows, so the partitioned write emits ONE file per
    // pb dir instead of one per (task, pb)
    rows.repartition(parts, col("pb"))
      .write.partitionBy("pb").mode("overwrite").parquet(dest)

  /** Build the index over a corpus, publishing generation 0. */
  def build(df: DataFrame, idCol: String, textCol: String, path: String,
      parts: Int = DefaultParts): Unit = {
    require(parts > 0, "parts must be positive")
    val spark = df.sparkSession
    val fs = fsOf(spark, path)
    val p = new org.apache.hadoop.fs.Path(path)
    if (fs.exists(p)) fs.delete(p, true)
    val g0 = GenDir.genPath(path, 0)
    val (rows, stats) = postingsOf(df, idCol, textCol, parts)
    writePostings(rows, parts, s"$g0/postings")
    if (!fs.listStatus(new org.apache.hadoop.fs.Path(s"$g0/postings"))
        .exists(s => s.isDirectory && s.getPath.getName.startsWith("pb=")))
      emptyPostings(spark, s"$g0/postings")
    stats.withColumn("parts", lit(parts))
      .select(col("parts"), col("docs"), col("tokens"))
      .write.mode("overwrite").parquet(s"$g0/stats")
    GenDir.commit(spark, path, 0)
  }

  /** Committed append batch dirs of a resolved generation. */
  private def committedAppends(spark: SparkSession, curGen: String): Seq[String] = {
    val appends = new org.apache.hadoop.fs.Path(s"$curGen/appends")
    val fs = appends.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(appends)) Seq.empty
    else fs.listStatus(appends).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch=") &&
        fs.exists(new org.apache.hadoop.fs.Path(s.getPath, DoneMarker)))
      .map(_.getPath.toString)
      .sorted
  }

  private val PostingCols =
    Seq(col("term"), col("doc_id"), col("tf"), col("dl"),
      col("pb").cast("int").as("pb"))

  /** The live posting rows: built mass plus every committed append (one
    * union leg per batch — the fragmentation [[rebuild]] folds away). */
  private def liveRows(spark: SparkSession, curGen: String): DataFrame = {
    val base = spark.read.parquet(s"$curGen/postings").select(PostingCols: _*)
    committedAppends(spark, curGen).foldLeft(base) { (acc, b) =>
      acc.unionByName(
        spark.read.parquet(s"$b/postings").select(PostingCols: _*))
    }
  }

  /** (parts, live docs, live tokens): build stats plus committed deltas. */
  private def liveStats(spark: SparkSession, curGen: String): (Int, Long, Long) = {
    val b = spark.read.parquet(s"$curGen/stats").head()
    val parts = b.getAs[Int]("parts")
    val appends = committedAppends(spark, curGen)
    val (ad, at) =
      if (appends.isEmpty) (0L, 0L)
      else {
        val r = spark.read.parquet(appends.map(a => s"$a/stats"): _*)
          .agg(coalesce(sum(col("docs")), lit(0L)),
            coalesce(sum(col("tokens")), lit(0L))).head()
        (r.getLong(0), r.getLong(1))
      }
    (parts, b.getAs[Long]("docs") + ad, b.getAs[Long]("tokens") + at)
  }

  /** Merge a delta batch into the index, exactly-once per `batchId`: the
    * delta's postings and stat row land in a self-contained
    * `appends/batch=<id>` dir whose `_DONE` sentinel is the commit point
    * — a retry of a committed batch is a no-op, a crashed append leaves
    * a sentinel-less dir the retry deletes and redoes. Upstream owns id
    * uniqueness across batches (the minhash caveat, stated not hidden):
    * a doc appended under two different batch ids is two docs. */
  def append(delta: DataFrame, idCol: String, textCol: String, path: String,
      batchId: String): Unit = {
    require(batchId.matches("[A-Za-z0-9._-]+"),
      s"RetrievalIndex.append: batchId must be a plain token, got '$batchId'")
    val spark = delta.sparkSession
    val g = cur(spark, path)
    val parts = liveStats(spark, g)._1
    val dir = new org.apache.hadoop.fs.Path(s"$g/appends/batch=$batchId")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(new org.apache.hadoop.fs.Path(dir, DoneMarker))) return
    if (fs.exists(dir)) fs.delete(dir, true)
    val (rows, stats) = postingsOf(delta, idCol, textCol, parts)
    writePostings(rows, parts, s"$dir/postings")
    // an all-empty-text delta yields zero posting rows — a partitioned
    // write then emits NO data files and the dir can neither be read back
    // nor stay WARN-quiet; replace it with one typed empty file (the
    // rebuild-tombstone shape)
    val pDir = new org.apache.hadoop.fs.Path(s"$dir/postings")
    if (!fs.listStatus(pDir).exists(s =>
        s.isDirectory && s.getPath.getName.startsWith("pb=")))
      emptyPostings(spark, s"$dir/postings")
    stats.write.mode("overwrite").parquet(s"$dir/stats")
    fs.create(new org.apache.hadoop.fs.Path(dir, DoneMarker), false).close()
  }

  /** Staleness report: built docs, appended docs (committed batches
    * only), fraction, rebuild recommendation. Unlike the IVF twin there
    * is no recall axis at any fraction — serve scores are live-exact —
    * so the recommendation is purely the file/union-leg fragmentation
    * economics. */
  def staleness(spark: SparkSession, path: String): DataFrame = {
    val g = cur(spark, path)
    val built = spark.read.parquet(s"$g/stats").head().getAs[Long]("docs")
    val appends = committedAppends(spark, g)
    val appended =
      if (appends.isEmpty) 0L
      else spark.read.parquet(appends.map(a => s"$a/stats"): _*)
        .agg(coalesce(sum(col("docs")), lit(0L))).head().getLong(0)
    val frac = appended.toDouble / math.max(built + appended, 1L)
    spark.createDataFrame(Seq((built, appended, frac, frac > RebuildFraction)))
      .toDF("built_rows", "appended_rows", "appended_fraction",
        "rebuild_recommended")
  }

  /** Fold the committed appends into a fresh generation: one pass over
    * the index's own posting rows (never the corpus text), repartitioned
    * back to one file per `pb`, published reader-atomically. Each
    * absorbed batch leaves an EMPTY committed append dir in the new
    * generation — the tombstone that keeps a late upstream retry of that
    * batch a no-op while the staleness counter reads 0. Serve results
    * are identical before and after (spec-pinned) — the fold moves
    * bytes, never statistics. */
  def rebuild(spark: SparkSession, path: String): Unit = {
    import spark.implicits._
    val g = cur(spark, path)
    val (parts, docs, tokens) = liveStats(spark, g)
    val rows = graft.core.GraftSession.pin(liveRows(spark, g))
    val gen = GenDir.next(spark, path)
    val stage = GenDir.genPath(path, gen)
    writePostings(rows, parts, s"$stage/postings")
    graft.core.GraftSession.release(rows)
    Seq((parts, docs, tokens)).toDF("parts", "docs", "tokens")
      .write.mode("overwrite").parquet(s"$stage/stats")
    val fs = fsOf(spark, path)
    committedAppends(spark, g).foreach { b =>
      val name = new org.apache.hadoop.fs.Path(b).getName
      val dest = s"$stage/appends/$name"
      emptyPostings(spark, s"$dest/postings")
      Seq((0L, 0L)).toDF("docs", "tokens")
        .write.mode("overwrite").parquet(s"$dest/stats")
      fs.create(new org.apache.hadoop.fs.Path(dest, DoneMarker), false).close()
    }
    GenDir.commit(spark, path, gen)
  }

  /** The query-term table and the partition-pruned posting rows behind
    * [[scores]] — split out so the pruning contract (`pb IN (...)` lands
    * in the scan's PARTITION filters, not a post-scan data filter) is
    * spec-assertable on the pre-pin plan. */
  private[graft] def prunedFor(queries: DataFrame, queryIdCol: String,
      queryTextCol: String, path: String): (DataFrame, DataFrame, Long, Long) = {
    val spark = queries.sparkSession
    val g = cur(spark, path)
    val (parts, n, totalT) = liveStats(spark, g)
    require(n > 0, "empty index")
    val qterms = Bm25.queryTerms(queries, queryIdCol, queryTextCol)
    // bounded driver collect (COVERAGE.md inventory): DISTINCT pb values
    // of the query terms — at most `parts` ints regardless of batch size
    val pbs = qterms
      .select(pmod(xxhash64(col("term")), lit(parts)).cast("int").as("pb"))
      .distinct().collect().map(_.getInt(0)).toSeq
    // partition pruning: only the query terms' pb dirs are listed/read —
    // the 100 TB contract (a serve touches terms' postings, not the index)
    (qterms, liveRows(spark, g).filter(col("pb").isin(pbs: _*)), n, totalT)
  }

  /** The scored (query_id, doc_id, score > 0) set against the index —
    * [[Pipeline.bm25Scores]] served from the persisted postings, exact
    * to the last bit. The query batch is the small side by contract; the
    * only driver-side materialization is the DISTINCT `pb` bucket list
    * (≤ `parts` ints — bounded by the index layout, not the data). */
  def scores(queries: DataFrame, queryIdCol: String, queryTextCol: String,
      path: String): DataFrame = {
    val (qterms, pruned, n, totalT) =
      prunedFor(queries, queryIdCol, queryTextCol, path)
    // postings of the query terms: needed by BOTH the df aggregate and
    // the scoring join — pin so the pruned read happens once (the pin's
    // eager materialization also yields the exact row count the fanout
    // discipline below keys on, for free)
    val (matched, matchedRows) = graft.core.GraftSession.pinCounted(
      pruned.join(broadcast(qterms.select(col("term")).distinct()), Seq("term")))
    // hot-term fanout discipline (r17; optimization guide §2.3/§2.4):
    // the scoring join fans every posting row out once per query
    // containing its term — 70.4M rows from 1.2M matched postings at the
    // 10× stress serve (common terms have df ≈ 0.6·corpus and appear in
    // most queries). When the matched mass is large, Bm25.score
    // hash-repartitions it by doc_id BEFORE the fanout, so each task's
    // aggregation map holds only its own docs' pairs instead of a
    // spilling 5M-group partial map (the r17 JFR profile:
    // BytesToBytesMap growAndRehash + spill writes dominated the serve).
    // Measured on the stress serve: 8.4 s → ~2 s for the score
    // aggregation; oracle-gated q174/q176 pass on BOTH branches.
    // The engage cutoff is the pin's EXACT row count (data-driven,
    // never core-count-driven): below it the extra exchange costs more
    // than the no-shuffle agg saves — measured at gate SF (q176: matched
    // 115k / fanout 4.4M, repartition +0.4 s wall, sys-heavy exchange on
    // small data) and at the 10× stress serve (matched 1.2M / fanout
    // 70M, repartition −6 s) — with ~4–10× margin to the cutoff on each
    // side; a 100 TB serve is always far above it.
    Bm25.score(matched, qterms, n, totalT,
      byDoc = matchedRows >= FanoutRepartitionMinRows)
  }

  /** BM25 top-k against the index — [[Pipeline.bm25TopK]] served from
    * the persisted postings, identical ranking. */
  def topK(queries: DataFrame, queryIdCol: String, queryTextCol: String,
      path: String, k: Int): DataFrame =
    Bm25.topK(k)(scores(queries, queryIdCol, queryTextCol, path))

  /** Remove the index (gate cleanup). */
  def drop(spark: SparkSession, path: String): Unit = {
    val fs = fsOf(spark, path)
    val p = new org.apache.hadoop.fs.Path(path)
    if (fs.exists(p)) fs.delete(p, true): Unit
  }
}
