package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{GenDir, GraftSession}
import graft.operators.{Pipeline, RetrievalIndex}

/** The persisted BM25 postings index behind q174/q175: serve-from-index
  * must be BIT-identical to a fresh [[Pipeline.bm25TopK]] over the
  * accumulated corpus (the index stores sufficient statistics and
  * re-derives df/idf live, so appends never stale a score), appends are
  * exactly-once per batch id across retries and crashes, rebuild is pure
  * defragmentation, and a serve only reads the query terms' `pb`
  * partition dirs. */
class RetrievalIndexSpec extends AnyFunSuite {
  lazy val spark = GraftSession.local(4)
  import spark.implicits._

  // overlapping vocab so rankings are nontrivial; one empty and one
  // null text exercise the corpus-stat discipline (empty docs count in
  // n/totalT, null docs don't)
  private def corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick red fox runs fast over the hill"),
    (3L, "a lazy dog sleeps under the brown tree"),
    (4L, "quick quick quick fox fox dog"),
    (5L, "red hill tree under sun"),
    (6L, "sun rises over the red hill every day"),
    (7L, "every dog has his day says the fox"),
    (8L, ""),
    (9L, null.asInstanceOf[String]),
    (10L, "fast runs win the day under the sun"),
    (11L, "brown tree brown dog brown fox"),
    (12L, "says who says what says the lazy red dog")
  ).toDF("doc_id", "text")

  // the last three are degenerate queries: a null one and one whose every
  // term is out of the corpus vocabulary score nothing on either path; an
  // empty one tokenizes like split(trim(""), ...) — the oracle's rule — to
  // the single token "", which only the empty-text doc 8 also carries
  private def queriesDf = Seq(
    (100L, "quick brown fox"),
    (101L, "red hill sun"),
    (102L, "lazy dog day"),
    (103L, null.asInstanceOf[String]),
    (104L, ""),
    (105L, "zebra quasar xylophone")
  ).toDF("qid", "qtext")
  private val ScorelessQids = Set(103L, 105L)
  private val EmptyQid = 104L

  /** Collect, then free the frame's pins: the collect was its last action. */
  private def rows(df: DataFrame): Set[(Long, Int, Long, Long)] =
    try df.collect().map(r =>
      (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    finally GraftSession.release(df)

  private def fresh(c: DataFrame): Set[(Long, Int, Long, Long)] =
    rows(Pipeline.bm25TopK(queriesDf, c, "qid", "qtext", "doc_id", "text", k = 4))

  private def served(path: String): Set[(Long, Int, Long, Long)] =
    rows(RetrievalIndex.topK(queriesDf, "qid", "qtext", path, k = 4))

  private def tmp(tag: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft-retridx-spec-$tag-" +
      s"${java.lang.ProcessHandle.current().pid()}"

  test("serve-from-index is exact vs fresh BM25, through append, crash retry and rebuild") {
    val path = tmp("life")
    val (a, b) = (corpus.filter(col("doc_id") % 3 =!= 1),
      corpus.filter(col("doc_id") % 3 === 1))

    RetrievalIndex.build(a, "doc_id", "text", path, parts = 8)
    assert(served(path) == fresh(a), "build-only serve == fresh over the built mass")

    // crashed append: a sentinel-less batch dir with garbage postings
    // must be deleted and redone by the retry
    val g = GenDir.resolveRequired(spark, path)
    val crashed = new org.apache.hadoop.fs.Path(s"$g/appends/batch=b1/postings")
    val fs = crashed.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq(("junk", 999L, 99L, 9L, 0)).toDF("term", "doc_id", "tf", "dl", "pb")
      .write.mode("overwrite").parquet(crashed.toString)
    assert(served(path) == fresh(a), "a sentinel-less batch dir is invisible to serve")

    RetrievalIndex.append(b, "doc_id", "text", path, "b1")
    val full = fresh(corpus)
    assert(served(path) == full, "append folds in exactly (crash debris replaced)")
    assert(full.nonEmpty && !full.exists(r => ScorelessQids(r._1)))
    assert(full.filter(_._1 == EmptyQid).map(_._3) == Set(8L))
    val st1 = RetrievalIndex.staleness(spark, path).head()
    assert(st1.getLong(0) == 7L && st1.getLong(1) == 4L,
      s"built counts non-null-text docs of the base (incl. the empty one), " +
        s"appended of the delta: $st1")

    RetrievalIndex.append(b, "doc_id", "text", path, "b1") // committed retry
    assert(RetrievalIndex.staleness(spark, path).head().getLong(1) == 4L)
    assert(served(path) == full, "committed retry is a no-op")

    RetrievalIndex.rebuild(spark, path)
    assert(GenDir.resolveRequired(spark, path) != g, "rebuild published a new generation")
    val st2 = RetrievalIndex.staleness(spark, path).head()
    assert(st2.getLong(0) == 11L && st2.getLong(1) == 0L,
      s"rebuild folds the mass and resets the append counter: $st2")
    assert(served(path) == full, "rebuild moves bytes, never statistics")

    RetrievalIndex.append(b, "doc_id", "text", path, "b1") // absorbed retry
    assert(RetrievalIndex.staleness(spark, path).head().getLong(1) == 0L,
      "the rebuild tombstone keeps an absorbed batch's late retry a no-op")
    assert(served(path) == full)

    RetrievalIndex.drop(spark, path)
  }

  test("scores match Pipeline.bm25Scores exactly (threshold consumers)") {
    val path = tmp("scores")
    RetrievalIndex.build(corpus, "doc_id", "text", path, parts = 8)
    def norm(df: DataFrame): Set[(Long, Long, Long)] =
      try df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      finally GraftSession.release(df)
    val freshScores = norm(Pipeline.bm25Scores(
      queriesDf, corpus, "qid", "qtext", "doc_id", "text")
      .select(col("query_id"), col("doc_id"), col("score")))
    val servedScores = norm(RetrievalIndex.scores(queriesDf, "qid", "qtext", path)
      .select(col("query_id"), col("doc_id"), col("score")))
    assert(servedScores == freshScores)
    assert(freshScores.nonEmpty)
    assert(!freshScores.exists(r => ScorelessQids(r._1)),
      s"null and out-of-vocabulary queries score nothing: $freshScores")
    assert(freshScores.filter(_._1 == EmptyQid).map(_._2) == Set(8L),
      s"the empty query matches the empty-text doc only: $freshScores")
    RetrievalIndex.drop(spark, path)
  }

  test("serve prunes to the query terms' pb partitions") {
    val path = tmp("prune")
    RetrievalIndex.build(corpus, "doc_id", "text", path, parts = 8)
    val one = Seq((1L, "fox")).toDF("qid", "qtext")
    val plan = RetrievalIndex.prunedFor(one, "qid", "qtext", path)._2
      .queryExecution.executedPlan.toString
    // the pb IN (...) literal filter must land in the scan's PARTITION
    // filters (dir pruning), not ride as a post-scan data filter (a
    // single-bucket query simplifies IN to equality — accept both)
    assert(plan.contains("PartitionFilters") &&
      "PartitionFilters: \\[[^\\]]*pb[^\\]]*(INSET|IN|=) ".r.findFirstIn(plan).isDefined,
      s"expected a pb IN/INSET/= partition filter in:\n$plan")
    RetrievalIndex.drop(spark, path)
  }

  test("indexed retrieval decon == the fresh-scorer path (q176 vs q116)") {
    val path = tmp("decon")
    val evalDocs = Seq((200L, "quick brown fox"), (201L, "sun rises")).toDF("eid", "etext")
    RetrievalIndex.build(corpus, "doc_id", "text", path, parts = 8)
    def ids(df: DataFrame): Set[Long] =
      df.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val freshKept = ids(Pipeline.decontaminateRetrieval(
      corpus, evalDocs, "doc_id", "text", "eid", "etext", minScore = 200L))
    val indexedKept = ids(Pipeline.decontaminateRetrievalIndexed(
      corpus, evalDocs, "doc_id", "eid", "etext", path, minScore = 200L))
    assert(indexedKept == freshKept)
    // the floor must actually drop something, or the equality is vacuous
    assert(freshKept.size < corpus.count())
    RetrievalIndex.drop(spark, path)
  }

  test("fanout-repartition engages above the cutoff with identical values " +
      "(r17 hot-term fanout discipline, both branches)") {
    import graft.operators.RetrievalIndex.{FanoutRepartitionMinRows, DefaultFanoutRepartitionMinRows}
    val path = tmp("fanout")
    RetrievalIndex.build(corpus, "doc_id", "text", path, parts = 8)
    def planOf(): String = {
      val df = RetrievalIndex.scores(queriesDf, "qid", "qtext", path)
      try df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      finally GraftSession.release(df)
    }
    val persisted0 = spark.sparkContext.getPersistentRDDs.keySet
    try {
      RetrievalIndex.FanoutRepartitionMinRows = Long.MaxValue
      val below = served(path)
      assert(!planOf().contains("REPARTITION_BY_COL"),
        "below the cutoff the scoring side must NOT add the doc_id exchange")
      RetrievalIndex.FanoutRepartitionMinRows = 0L
      val above = served(path)
      assert(planOf().contains("REPARTITION_BY_COL"),
        "above the cutoff the scoring side must pre-partition by doc_id")
      assert(above == below,
        "the fanout repartition is placement-only: served top-k identical")
      assert(above == fresh(corpus), "and still exact vs the fresh scorer")
    } finally RetrievalIndex.FanoutRepartitionMinRows = DefaultFanoutRepartitionMinRows
    assert(FanoutRepartitionMinRows == DefaultFanoutRepartitionMinRows)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- persisted0
    assert(leaked.isEmpty, s"pins the test's frames built are still cached: $leaked")
  }

  test("empty-delta append stays readable and WARN-quiet") {
    val path = tmp("empty")
    RetrievalIndex.build(corpus, "doc_id", "text", path, parts = 8)
    val empty = Seq((50L, ""), (51L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    RetrievalIndex.append(empty, "doc_id", "text", path, "e0")
    val st = RetrievalIndex.staleness(spark, path).head()
    assert(st.getLong(1) == 1L, s"the empty-text doc counts, the null one doesn't: $st")
    // the all-empty batch contributes docs to n (lowering every idf's
    // denominator share) — equality vs fresh over the same union proves
    // the stats row landed even though zero postings did
    val full = corpus.unionByName(empty)
    assert(served(path) == fresh(full))
    RetrievalIndex.drop(spark, path)
  }
}
