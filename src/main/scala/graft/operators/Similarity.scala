package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{dotd, vec_double}

/** Similarity search over embedding columns (`Array[Float]`).
  *
  * Baseline: brute-force cosine top-k (broadcast the query set, scan the
  * corpus once — at 100 TB the corpus scan is embarrassingly parallel and
  * the only shuffle is the final per-query top-k, which is tiny).
  *
  * Scale path: LSH-bucketed search (random-hyperplane signs) that probes
  * only matching buckets — trades recall for a corpus-partition-pruned scan.
  */
object Similarity {

  /** Every ANN operator's query side is a broadcast-sized BATCH, not a
    * second corpus — the plans broadcast it (and [[ivfTopKFromIndex]]
    * collects it for the probe set). Enforced so a misuse at 100 TB fails
    * loudly with the contract named instead of OOMing the driver. */
  private[graft] val MaxQueryBatch = 100000

  /** The multi-probe EXPANSION (tables × 2^probeBits rows per query) is
    * broadcast to the corpus side only while it stays this small; a larger
    * probe set falls back to a shuffle join on (table, bucket) — still
    * skinny longs, just exchanged instead of replicated to every task. */
  private[graft] val MaxBroadcastProbeRows = 4L * 1000 * 1000
  private def boundedQueryBatch(queries: DataFrame, op: String): Unit = {
    // take(), not limit().count(): a terminal take plans CollectLimitExec
    // (incremental partition scan, early exit) with NO codegen-limit
    // counter — Spark's BaseLimitExec mints a JVM-global fresh
    // `_limit_counter_N` per plan instance, so a WSCG limit stage misses
    // the codegen cache and re-runs Janino on EVERY invocation (the
    // round-9 q81 cg=4-per-rep trace). The collected rows are a constant
    // column, ≤ MaxQueryBatch+1 of them.
    val n = queries.select(lit(1).as("__one")).take(MaxQueryBatch + 1).length
    require(n <= MaxQueryBatch,
      s"$op: query batch has > $MaxQueryBatch rows — the contract is a " +
        "broadcast-sized query batch; chunk the queries or use a " +
        "corpus-level pair operator (cosinePairsBlocked/semanticDedupPairs)")
  }

  /** Rank the k best neighbors per query — (cos desc, neighbor_id asc) —
    * via the bounded [[graft.functions.TopKAgg]] aggregate: the map side
    * pre-combines, so the exchange carries at most k rows per (query ×
    * partition) instead of every scored pair. Bit-identical to the
    * row_number window formulation (TopKSpec pins the equivalence).
    * Expects (query_id, neighbor_id: numeric, cos) columns. */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy(col("query_id"))
      .agg(graft.functions.top_k(
        struct(col("cos"), (-col("neighbor_id")).as("nid")), k).as("__top"))
      .select(col("query_id"), posexplode(col("__top")).as(Seq("__i", "__s")))
      .select(col("query_id"), (-col("__s.nid")).as("neighbor_id"),
        col("__s.cos").as("cos"), (col("__i") + 1).cast("int").as("rank"))

  /** Brute-force cosine top-k.
    *
    * @param queries (id, vector) rows — must be small enough to broadcast.
    * @param corpus  (id, vector) rows — arbitrarily large.
    * Output: (query_id, neighbor_id, cos, rank), rank 1..k, ties broken by
    * neighbor_id so results are fully deterministic.
    */
  def bruteForceTopK(
      queries: DataFrame,
      corpus: DataFrame,
      queryId: String,
      queryVec: String,
      corpusId: String,
      corpusVec: String,
      k: Int): DataFrame = {
    // norms are per-vector, not per-pair: precompute once on each side
    // (cos = dot/(qn*cn) — identical doubles to the per-pair formula)
    val q = broadcast(queries
      .select(col(queryId).cast("long").as("query_id"),
        vec_double(col(queryVec)).as("qv"))
      .withColumn("qn", sqrt(dotd(col("qv"), col("qv")))))
    val c = corpus
      .select(col(corpusId).cast("long").as("neighbor_id"),
        vec_double(col(corpusVec)).as("cv"))
      .withColumn("cn", sqrt(dotd(col("cv"), col("cv"))))
    val scored = q.crossJoin(c)
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dotd(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("cos"))
    rankTopK(scored, k)
      .select(col("query_id"), col("neighbor_id"), col("cos"), col("rank"))
  }

  /** Deterministic pseudo-random hyperplane component for (dim index d, plane p)
    * — the [[graft.functions.LshBuckets]] splitmix64 family (one generator,
    * shared by the corpus expression and the driver-side query probes). */
  private[graft] def planeComponent(p: Int, dim: Int): Array[Double] =
    graft.functions.LshBuckets.planeComponent(p, dim)

  /** Sign-LSH bucket id: `planes` random-hyperplane sign bits packed into a
    * long. Vectors in the same bucket are likely-similar (SimHash for
    * embeddings). */
  def signBucket(df: DataFrame, vecCol: String, planes: Int, dim: Int): DataFrame = {
    val vd = vec_double(col(vecCol))
    val bits = (0 until planes).map { p =>
      val comps = planeComponent(p, dim)
      val dot = dotd(vd, typedLit(comps.toSeq))
      when(dot >= 0, shiftleft(lit(1L), p)).otherwise(lit(0L))
    }
    df.withColumn("bucket", bits.reduce(_ bitwiseOR _))
  }

  /** LSH-bucketed approximate top-k: `tables` independent sign-LSH hash
    * tables (disjoint hyperplane sets — the plane generator is keyed by a
    * global plane index, so table t uses planes t·planes…); a candidate
    * shares one of the query's probe buckets in ANY table. Exact cosine +
    * rank within candidates.
    *
    * Probing is QUERY-DIRECTED multi-probe (Lv et al., VLDB'07): a sign
    * bit is wrong with probability that falls with the projection's
    * margin |q·h|, so per table the probes are every subset of the
    * `probeBits` LOWEST-margin planes (2^probeBits buckets) — the buckets
    * the true neighbors most plausibly fell into. Flipping high-margin
    * bits (as blanket 1-bit probing does) buys geometrically dissimilar
    * regions instead. Measured recall@10 on the synthetic embeddings:
    * the old blanket-1-bit 16×10 tables reached 0.52 @ 18% scanned; the
    * margin-directed grid is strictly better per scanned fraction and the
    * defaults below (192 tables × 14 planes, probeBits=4) reach 0.83 @
    * ~22%. Many selective tables beat deep probes on few coarse tables
    * ((64,12,4) = 0.80 @ 26% vs (192,14,4) = 0.83 @ 22%): an extra table
    * re-rolls the projection and gives a near-neighbor an independent
    * chance to collide, while a deep probe drags in buckets far from the
    * query. The corpus side computes tables·planes projections in ONE
    * codegen'd [[graft.functions.LshBuckets]] pass and carries `tables`
    * bucket rows per vector — the standard storage-for-recall LSH trade;
    * at 100 TB the per-table bucket ids are one write, and the probe join
    * shuffles only (table, bucket) longs. Recall < 1 by construction —
    * spec-tested against brute force. */
  def lshTopK(
      queries: DataFrame,
      corpus: DataFrame,
      queryId: String,
      queryVec: String,
      corpusId: String,
      corpusVec: String,
      k: Int,
      planes: Int = 14,
      dim: Int = 64,
      tables: Int = 192,
      probeBits: Int = 4): DataFrame = {
    val (q, c, cand) = lshCandidates(queries, corpus, queryId, queryVec,
      corpusId, corpusVec, planes, dim, tables, probeBits)
    val scored = cand
      .join(broadcast(q), "query_id")
      .join(c, "neighbor_id")
      .select(col("query_id"), col("neighbor_id"),
        (dotd(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("cos"))
    rankTopK(scored, k)
  }

  /** Candidate-pair count at given LSH parameters — the scan-fraction
    * denominator for recall/scan tuning (specs and the grid tool). */
  private[graft] def lshCandidateCount(
      queries: DataFrame,
      corpus: DataFrame,
      queryId: String,
      queryVec: String,
      corpusId: String,
      corpusVec: String,
      planes: Int = 14,
      dim: Int = 64,
      tables: Int = 192,
      probeBits: Int = 4): Long =
    lshCandidates(queries, corpus, queryId, queryVec, corpusId, corpusVec,
      planes, dim, tables, probeBits)._3.count()

  /** Shared candidate generation for [[lshTopK]]: returns (query side with
    * norms, corpus side with norms, distinct (query_id, neighbor_id)
    * candidate pairs). */
  private def lshCandidates(
      queries: DataFrame,
      corpus: DataFrame,
      queryId: String,
      queryVec: String,
      corpusId: String,
      corpusVec: String,
      planes: Int,
      dim: Int,
      tables: Int,
      probeBits: Int): (DataFrame, DataFrame, DataFrame) = {
    require(probeBits >= 0 && probeBits <= planes,
      s"probeBits ($probeBits) must be in [0, planes=$planes]")
    val spark = queries.sparkSession
    import spark.implicits._
    // center the hyperplanes on the corpus mean: raw sign-LSH on offset
    // data puts most vectors on the same side of most planes (unbalanced
    // buckets, weak recall/scan). Shifting each plane to pass through the
    // mean needs NO data rewrite — bit p becomes sign(v·h_p − μ·h_p), a
    // per-plane scalar threshold. μ comes from a deterministic 1024-vector
    // sample (the IVF-codebook sampling device: smallest xxhash64(id)) so
    // the hash is reproducible and the extra corpus work is one
    // TakeOrdered, not a full pass. Measured recall@10 at 16×10×4:
    // 0.68 → (see spec) at the same ~25% scan.
    val meanV: Array[Double] = {
      val sample = corpus
        .select(col(corpusId).cast("long").as("__id"), vec_double(col(corpusVec)).as("__v"))
        .orderBy(xxhash64(col("__id")), col("__id")).limit(1024)
        .collect().map(_.getSeq[Double](1))
      val m = new Array[Double](dim)
      if (sample.nonEmpty) {
        sample.foreach { v =>
          var i = 0; val n = math.min(dim, v.length)
          while (i < n) { m(i) += v(i); i += 1 }
        }
        var i = 0
        while (i < dim) { m(i) /= sample.length; i += 1 }
      }
      m
    }
    def planeThreshold(globalPlane: Int): Double = {
      val h = planeComponent(globalPlane, dim)
      var s = 0.0; var i = 0
      while (i < dim) { s += meanV(i) * h(i); i += 1 }
      s
    }
    // the query batch is broadcast-sized by contract — collect it ONCE and
    // compute the probe buckets in plain Scala. The margin-directed probe
    // set (ranked |dot| per plane, XOR of every low-margin subset) as a
    // Catalyst expression duplicates the whole sort_array(dots) subtree
    // into each of the 2^probeBits masks — tables × 2^probeBits × planes ×
    // dim literal nodes blew past 1M and OOM'd codegen. Driver math is
    // bit-identical (sequential index-order folds == SeqDot).
    val qRows: Array[(Long, Seq[Double])] = queries
      .select(col(queryId).cast("long"), vec_double(col(queryVec)))
      .limit(MaxQueryBatch + 1).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
    require(qRows.length <= MaxQueryBatch,
      s"lshTopK: query batch has > $MaxQueryBatch rows — the contract is " +
        "a broadcast-sized query batch; chunk the queries or use a " +
        "corpus-level pair operator (cosinePairsBlocked/semanticDedupPairs)")
    val thresholds: Seq[Double] =
      (0 until tables * planes).map(planeThreshold)
    // per (query, table): own bucket XOR every subset of the probeBits
    // lowest-|margin| plane bits — the buckets a true neighbor most
    // plausibly fell into (query-directed multi-probe). The EXPANSION is
    // tables·2^probeBits rows per query — ~10^8 at the full batch bound —
    // so it runs on EXECUTORS (parallelize the raw batch, flatMap the
    // probe math); the driver never holds the expanded set. The dot folds
    // are sequential index-order (the SeqDot contract), bit-identical to
    // the previous driver-side formulation.
    val probeMult = tables.toLong << probeBits
    val probeRowCount = qRows.length * probeMult
    val thrArr = thresholds.toArray
    val (pl, tb, pb, dm) = (planes, tables, probeBits, dim)
    val probeSlices = math.max(1, math.min(512, (probeRowCount / 500000L).toInt + 1))
    val qProbe = spark.sparkContext
      .parallelize(qRows.toSeq, probeSlices)
      .flatMap { case (id, v) =>
        (0 until tb).iterator.flatMap { t =>
          val dots = Array.tabulate(pl) { p =>
            val g = t * pl + p
            val h = graft.functions.LshBuckets.planeComponent(g, dm)
            var s = 0.0; var i = 0; val n = math.min(v.length, h.length)
            while (i < n) { s += v(i) * h(i); i += 1 }
            s - thrArr(g)
          }
          var bucket = 0L
          var p = 0
          while (p < pl) { if (dots(p) >= 0) bucket |= (1L << p); p += 1 }
          val lowPlanes = dots.zipWithIndex
            .map { case (d, pp) => (math.abs(d), pp) }.sorted
            .take(pb).map(_._2)
          (0 until (1 << pb)).iterator.map { s =>
            var mask = 0L
            var j = 0
            while (j < pb) {
              if (((s >> j) & 1) == 1) mask ^= (1L << lowPlanes(j))
              j += 1
            }
            (id, t, bucket ^ mask)
          }
        }
      }.toDF("query_id", "t", "bucket")
    val q = qRows.toSeq.toDF(queryId, queryVec)
      .select(col(queryId).cast("long").as("query_id"),
        vec_double(col(queryVec)).as("qv"))
      .withColumn("qn", sqrt(dotd(col("qv"), col("qv"))))
    // tables*planes projections per corpus vector are real compute — widen
    // first so they use every core, not the scan's few input splits (no-op
    // on genuinely wide sources). All buckets come from ONE codegen'd
    // LshBuckets pass (per-dot expressions OOM'd codegen past ~500 planes).
    val c = graft.core.GraftSession.widen(corpus)
      .select(col(corpusId).cast("long").as("neighbor_id"),
        vec_double(col(corpusVec)).as("cv"))
      .withColumn("cn", sqrt(dotd(col("cv"), col("cv"))))
    val cb = c.select(col("neighbor_id"),
        posexplode(graft.functions.lsh_buckets(col("cv"), tables, planes, dim, thresholds))
          .as(Seq("t", "bucket")))
    // candidate-then-fetch (the same shape the jaccard verifier uses):
    // dedup the multi-table collisions down to id pairs first, then
    // re-attach vectors once per surviving pair — query vectors by
    // broadcast, corpus vectors in the single scoring join. The probe set
    // is skinny (three longs/row) but its COUNT scales as
    // queries·tables·2^probeBits; broadcast only while it fits
    // [[MaxBroadcastProbeRows]], else a shuffle join on (t, bucket) —
    // same candidates, exchanged instead of replicated to every task.
    val probeSide =
      if (probeRowCount <= MaxBroadcastProbeRows) broadcast(qProbe) else qProbe
    val cand = probeSide.join(cb, Seq("t", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id")).distinct()
    (q, c, cand)
  }

  /** IVF-Flat approximate top-k: a coarse quantizer of `nlist` anchor
    * centroids partitions the corpus into inverted lists; each query probes
    * its `nprobe` nearest lists and ranks exact cosine within them —
    * scanning ~nprobe/nlist of the corpus instead of all of it.
    *
    * Codebook: `nlist` deterministic pseudo-random seeds (smallest
    * xxhash64(id) — a TakeOrdered, no full sort) refined with `refine`
    * spherical k-means iterations over a `64·nlist`-vector sample of the
    * same deterministic order, all driver-side — the sample is codebook
    * -sized, not corpus-sized, which is exactly how an IVF codebook is
    * trained at 100 TB too (sample + Lloyd, persist the codebook; the
    * corpus-wide work stays one assignment pass). Refinement balances the
    * inverted lists; FINENESS is the bigger recall lever at fixed scan
    * fraction — quadrupling both sides keeps nprobe/nlist constant while
    * each probed list hugs the query tighter. Measured mean recall@10 at
    * ~25% scanned: 0.55 at 4/16 → 0.77 at 16/64 → 0.85 at the default
    * 32/128 (0.85/0.85/0.80 across sf0.001/0.01/0.1); anchor assignment
    * for both sides is ONE codegen'd [[graft.functions.IvfNearestLists]]
    * pass, so the finer codebook costs flops, not plan size. `replicate`
    * spills each corpus vector into its top-N nearest lists for recall
    * beyond that (measured 0.88 at replicate=2 nprobe=16/64, ~50%
    * scanned) — replication is list storage, not extra query fan-out.
    * Recall < 1 by construction — spec-tested against brute force.
    */
  def ivfTopK(
      queries: DataFrame,
      corpus: DataFrame,
      queryId: String,
      queryVec: String,
      corpusId: String,
      corpusVec: String,
      k: Int,
      nlist: Int = 0,
      nprobe: Int = 32,
      refine: Int = 3,
      replicate: Int = 1): DataFrame = {
    boundedQueryBatch(queries, "ivfTopK")
    // widen before the per-row assignment kernel (nlist×dim dots per
    // vector): a one-split demo corpus would otherwise run the whole
    // corpus-side assignment on one task; no-op on wide inputs. The
    // auto-nlist count runs on the UN-widened scan — a count through the
    // widen repartition would pay the round-robin shuffle just to count.
    val nl = if (nlist > 0) nlist else autoNlist(corpus.count())
    val c = normalizedCorpus(graft.core.GraftSession.widen(corpus),
      corpusId, corpusVec)
    val codebook = trainIvfCodebook(c, nl, refine)
    val cb = corpusLists(c, codebook, replicate)
    ivfProbe(queries, cb, codebook, queryId, queryVec, k,
      math.min(nprobe, nl), replicate)
  }

  /** nlist ≈ 4·√N (bounded to [16, 65536], and to N/16 so no list drops
    * below ~16 vectors): keeps list size ~√N/4 so the codebook grows
    * with the corpus — at a fixed scan FRACTION, finer lists hug each
    * query tighter (fineness is the recall lever, see [[ivfTopK]]); at
    * 100 TB a fixed nlist would degenerate to corpus-sized lists and the
    * partition pruning would prune nothing, while at demo corpora the
    * N/16 cap stops the codebook from shattering into near-empty lists
    * (k-means wants tens of points per centroid to be trainable; at
    * 100 TB the √N term is always the binding one). The ~5 % scan point
    * (nprobe ≈ nlist/20) measures recall 1.0 on the clustered 10×-sf0.1
    * stress corpus (STRESS.md grid rows; ScaleStressSpec pins ≥ 0.8).
    * Explicit nlist > 0 overrides. */
  private[graft] def autoNlist(count: Long): Int =
    math.max(16, math.min(count / 16, math.min(1L << 16,
      math.ceil(4 * math.sqrt(count.toDouble)).toLong)).toInt)

  /** Corpus projected to the internal (neighbor_id, cv, cn) shape. */
  private[graft] def normalizedCorpus(
      corpus: DataFrame, corpusId: String, corpusVec: String): DataFrame =
    corpus.select(col(corpusId).cast("long").as("neighbor_id"),
      vec_double(col(corpusVec)).as("cv"))
      .withColumn("cn", sqrt(dotd(col("cv"), col("cv"))))

  /** Above this sample size (vectors), Lloyd refinement runs on executors
    * instead of driver threads: at the 65,536-list `autoNlist` cap the
    * 64·nlist sample is ~4.2M×64d ≈ 2 GB of doubles — driver-side Lloyd
    * there is tens of minutes of single-node compute in a 100 TB build,
    * while the distributed path keeps only nlist×dim partial sums on the
    * driver. 2^16 vectors ≈ nlist 1024 — well below the scale where the
    * per-iteration Spark-job overhead matters. */
  private[graft] val DistributedLloydSampleThreshold: Int = 1 << 16

  /** The fixed chunking both Lloyd paths share: FIXED 16-way (not
    * core-count), so the per-chunk partial sums combine in the same order
    * on every machine and either execution path — deterministic,
    * bit-identical codebooks. */
  private val LloydChunks = 16

  /** Lloyd ASSIGN+ACCUMULATE over one contiguous chunk of the sorted
    * sample: per-centroid coordinate sums + counts, rows folded in chunk
    * order (argmax dot, smallest index on ties — deterministic). Shared
    * verbatim by the driver-threaded and executor paths, so the arithmetic
    * order — hence the bits — cannot diverge. */
  private[graft] def lloydAccumulate(
      cb: Array[Array[Double]],
      chunk: Array[Array[Double]],
      dim: Int): (Array[Array[Double]], Array[Int]) = {
    val sums = Array.fill(cb.length)(new Array[Double](dim))
    val cnts = new Array[Int](cb.length)
    for (v <- chunk) {
      var bj = 0; var bd = Double.NegativeInfinity; var j = 0
      while (j < cb.length) {
        var d = 0.0; var i = 0
        while (i < dim) { d += v(i) * cb(j)(i); i += 1 }
        if (d > bd) { bd = d; bj = j }
        j += 1
      }
      val s = sums(bj); var i = 0
      while (i < dim) { s(i) += v(i); i += 1 }
      cnts(bj) += 1
    }
    (sums, cnts)
  }

  /** Fold per-chunk partials IN CHUNK ORDER into `sums`/`cnts` — the same
    * double-fold order every run on either path. */
  private def lloydFoldInto(
      sums: Array[Array[Double]], cnts: Array[Int],
      ps: Array[Array[Double]], pc: Array[Int], dim: Int): Unit = {
    var j = 0
    while (j < sums.length) {
      val s = sums(j); val p = ps(j); var i = 0
      while (i < dim) { s(i) += p(i); i += 1 }
      cnts(j) += pc(j)
      j += 1
    }
  }

  /** Spherical-Lloyd UPDATE: re-normalized mean per centroid; an empty
    * list keeps its seed. Shared by both paths. */
  private def lloydUpdate(
      cbk: Array[Array[Double]],
      sums: Array[Array[Double]], cnts: Array[Int]): Array[Array[Double]] =
    cbk.indices.map { j =>
      if (cnts(j) == 0) cbk(j) // empty list keeps its seed
      else {
        val s = sums(j)
        val n = math.sqrt(s.map(x => x * x).sum)
        if (n == 0) cbk(j) else s.map(_ / n)
      }
    }.toArray

  /** Deterministic IVF codebook: `nlist` seeds (smallest xxhash64(id)) +
    * `refine` spherical-Lloyd iterations over a 64·nlist sample in the
    * same deterministic order. Small samples refine on driver threads
    * (no job-scheduling overhead); past
    * [[DistributedLloydSampleThreshold]] the SAME chunked fold runs on
    * executors ([[trainIvfCodebookDistributed]]) — bit-identical output
    * either way (spec-pinned). See [[ivfTopK]]. */
  private[graft] def trainIvfCodebook(
      c: DataFrame, nlist: Int, refine: Int): Seq[Seq[Double]] =
    if (nlist * 64 > DistributedLloydSampleThreshold)
      trainIvfCodebookDistributed(c, nlist, refine)
    else trainIvfCodebookLocal(c, nlist, refine)

  /** Driver-threaded Lloyd over a collected sample (the small-nlist fast
    * path): one TakeOrdered job fetches seeds + refinement sample
    * together, L2-normalized on the driver; assignment runs on the fixed
    * [[LloydChunks]]-way chunking via [[lloydAccumulate]]. */
  private[graft] def trainIvfCodebookLocal(
      c: DataFrame, nlist: Int, refine: Int): Seq[Seq[Double]] = {
    val sample: Array[Array[Double]] = c
      .select(col("neighbor_id"), col("cv"), col("cn"))
      .orderBy(xxhash64(col("neighbor_id")), col("neighbor_id"))
      .limit(nlist * 64)
      .collect()
      .map { r =>
        val n = r.getDouble(2)
        r.getSeq[Double](1).map(x => if (n == 0) 0.0 else x / n).toArray
      }
    require(sample.nonEmpty, "empty corpus")
    var cbk = sample.take(nlist).map(_.clone())
    val dim = cbk(0).length
    val chunkSize = math.max(1, (sample.length + LloydChunks - 1) / LloydChunks)
    val chunks: Array[Array[Array[Double]]] = sample.grouped(chunkSize).toArray
    var it = 0
    while (it < refine) {
      val cb = cbk
      val partials = chunks.map { chunk =>
        java.util.concurrent.CompletableFuture.supplyAsync { () =>
          lloydAccumulate(cb, chunk, dim)
        }
      }
      val sums = Array.fill(cbk.length)(new Array[Double](dim))
      val cnts = new Array[Int](cbk.length)
      partials.foreach { f =>
        val (ps, pc) = f.get()
        lloydFoldInto(sums, cnts, ps, pc, dim)
      }
      cbk = lloydUpdate(cbk, sums, cnts)
      it += 1
    }
    cbk.map(_.toSeq).toSeq
  }

  /** Executor-side Lloyd for big codebooks: the deterministic sorted
    * sample is ranked (TakeOrdered keeps it in one sorted partition, so
    * zipWithIndex ranks ARE the sort order), split into the same
    * [[LloydChunks]] contiguous rank ranges the local path uses, and
    * cached across iterations — the sample never lands on the driver.
    * Each iteration broadcasts the current codebook, runs
    * [[lloydAccumulate]] once per chunk-partition (rows re-sorted by rank
    * inside the chunk — identical fold order), and collects only the 16
    * nlist×dim partial-sum blocks, folded on the driver in chunk order.
    * Same seeds, same chunking, same arithmetic order as the local path ⇒
    * bit-identical codebook (spec-pinned); what changes is WHERE the
    * sample·nlist·dim flops run. The cache is persist (lineage kept), so
    * executor loss recomputes rather than failing the build. */
  private[graft] def trainIvfCodebookDistributed(
      c: DataFrame, nlist: Int, refine: Int): Seq[Seq[Double]] = {
    val spark = c.sparkSession
    val ranked = c
      .select(col("neighbor_id"), col("cv"), col("cn"))
      .orderBy(xxhash64(col("neighbor_id")), col("neighbor_id"))
      .limit(nlist * 64)
      .rdd
      .map { r =>
        val n = r.getDouble(2)
        r.getSeq[Double](1).map(x => if (n == 0) 0.0 else x / n).toArray
      }
      .zipWithIndex()
    val len = ranked.count()
    require(len > 0, "empty corpus")
    val chunkSize = math.max(1L, (len + LloydChunks - 1) / LloydChunks)
    val chunked = ranked
      .map { case (v, i) => ((i / chunkSize).toInt, (i, v)) }
      .partitionBy(new org.apache.spark.Partitioner {
        override def numPartitions: Int = LloydChunks
        override def getPartition(key: Any): Int = key.asInstanceOf[Int]
      })
      .map(_._2)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // registered for closure-release (see GraftSession.registerPin)
    graft.core.GraftSession.registerPin(chunked)
    var cbk: Array[Array[Double]] = chunked
      .filter(_._1 < nlist).collect().sortBy(_._1).map(_._2.clone())
    val dim = cbk(0).length
    var it = 0
    while (it < refine) {
      val bc = spark.sparkContext.broadcast(cbk)
      val partials = chunked
        .mapPartitionsWithIndex { (pid, iter) =>
          val rows = iter.toArray.sortBy(_._1).map(_._2)
          if (rows.isEmpty) Iterator.empty
          else Iterator((pid, lloydAccumulate(bc.value, rows, bc.value(0).length)))
        }
        .collect()
      val sums = Array.fill(cbk.length)(new Array[Double](dim))
      val cnts = new Array[Int](cbk.length)
      partials.sortBy(_._1).foreach { case (_, (ps, pc)) =>
        lloydFoldInto(sums, cnts, ps, pc, dim)
      }
      cbk = lloydUpdate(cbk, sums, cnts)
      bc.unpersist(false)
      it += 1
    }
    chunked.unpersist(false)
    cbk.map(_.toSeq).toSeq
  }

  /** The `take` nearest anchors as a codegen'd single pass — the
    * [[graft.functions.IvfNearestLists]] expression; ranking is (dot
    * desc, j asc) with sequential index-order dot folds, bit-identical to
    * the driver-side probe math in [[ivfTopKFromIndex]]. One expression
    * replaces nlist discrete dot projections + a struct-array sort per
    * row (8× the assignment cost at nlist=128). */
  private def nearestAnchors(
      codebook: Seq[Seq[Double]], v: org.apache.spark.sql.Column, take: Int) =
    graft.functions.ivf_nearest(v, codebook.flatten, codebook.length,
      codebook.head.length, take)

  /** Corpus side of an IVF index: each vector tagged with its inverted
    * list id(s). replicate=1 — the default — is the classic single-list
    * IVF (argmax anchor); replicate>1 spills each vector into its nearest
    * lists, softening list boundaries at the cost of replicate× list
    * storage. */
  private def corpusLists(
      c: DataFrame, codebook: Seq[Seq[Double]], replicate: Int): DataFrame =
    if (replicate <= 1)
      c.withColumn("bucket", element_at(nearestAnchors(codebook, col("cv"), 1), 1))
    else
      c.withColumn("bucket", explode(nearestAnchors(codebook, col("cv"), replicate)))

  /** Probe side shared by the inline and persisted-index paths: queries
    * fan out to their `nprobe` nearest lists, rank exact cosine within. */
  private def ivfProbe(
      queries: DataFrame,
      cb: DataFrame,
      codebook: Seq[Seq[Double]],
      queryId: String,
      queryVec: String,
      k: Int,
      nprobe: Int,
      replicate: Int): DataFrame = {
    val qb = queries.select(col(queryId).cast("long").as("query_id"),
      vec_double(col(queryVec)).as("qv"))
      .withColumn("qn", sqrt(dotd(col("qv"), col("qv"))))
      .withColumn("bucket", explode(nearestAnchors(codebook, col("qv"), nprobe)))
    val scored = broadcast(qb).join(cb, "bucket")
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dotd(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("cos"))
    // replicate>1 can surface the same pair through several lists — dedup
    // before ranking (same device as lshTopK's multi-probe)
    val uniq =
      if (replicate <= 1) scored
      else scored.groupBy(col("query_id"), col("neighbor_id"))
        .agg(first(col("cos")).as("cos"))
    rankTopK(uniq, k)
  }

  /** The one way IVF list rows reach parquet: repartition on the
    * partition column so each task holds whole buckets (the partitioned
    * write emits one file per bucket dir instead of one per (task,
    * bucket) — at 100 TB with a 65k-list codebook the difference is 65k
    * right-sized files vs task-count × 65k shards), and sort within the
    * partition on (bucket, neighbor_id) so file contents stay
    * deterministic per corpus+params (the shuffle's fetch order is not).
    * The RetrievalIndex postings writer applies the same discipline. */
  private def writeLists(rows: DataFrame, dest: String): Unit =
    rows.select(col("neighbor_id"), col("cv"), col("cn"), col("bucket"))
      .repartition(col("bucket"))
      .sortWithinPartitions(col("bucket"), col("neighbor_id"))
      .write.mode("overwrite").partitionBy("bucket").parquet(dest)

  /** Persist an IVF index: inverted lists as parquet PARTITIONED BY list
    * id (so probes prune at the directory level) plus the codebook. This
    * is the 100 TB shape of [[ivfTopK]]: train the codebook once, pay the
    * corpus assignment pass once, and serve every later query batch from
    * the index — a probe reads only its `nprobe` list partitions, never
    * the corpus.
    *
    * Layout ([[graft.core.GenDir]] — every reader and maintenance op
    * resolves the live generation through [[ivfCurrent]]):
    * `path/_gN/lists/bucket=M/` parquet holding (neighbor_id, cv, cn —
    * norms precomputed at build time) and `path/_gN/codebook/` parquet
    * holding (j, v). Deterministic end-to-end: same corpus + params ⇒
    * byte-identical lists, so rebuilds are idempotent. Re-building over
    * an existing index publishes a NEW generation (reader-atomic — see
    * [[rebuildIvfIndex]]). */
  def buildIvfIndex(
      corpus: DataFrame,
      path: String,
      corpusId: String,
      corpusVec: String,
      nlist: Int = 0,
      refine: Int = 3,
      replicate: Int = 1): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // widen before the assignment kernel: a demo-scale corpus arrives as
    // one or two parquet splits, and without this the nlist×dim dot pass
    // AND the partitioned lists write below both run on that one task
    // (measured at the 10× stress corpus: full build ~26-42 s of which
    // codebook training is only ~0.3-1.6 s — the rest was the single-task
    // assignment plus one task creating ~566 bucket dirs serially)
    // count on the UN-widened scan (metadata-fast; through the widen
    // repartition it would pay the shuffle), reused for auto-nlist AND
    // meta's built_rows — the original paid two count jobs per build
    val built = corpus.count()
    val c = normalizedCorpus(graft.core.GraftSession.widen(corpus),
      corpusId, corpusVec)
    val nl = if (nlist > 0) nlist else autoNlist(built)
    val codebook = trainIvfCodebook(c, nl, refine)
    sweepLegacyIvf(spark, path)
    val gen = graft.core.GenDir.next(spark, path)
    val stage = graft.core.GenDir.genPath(path, gen)
    writeLists(corpusLists(c, codebook, replicate), s"$stage/lists")
    codebook.zipWithIndex.map { case (v, j) => (j, v) }
      .toDF("j", "v")
      .write.mode("overwrite").parquet(s"$stage/codebook")
    // build parameters ride with the index: replicate decides the serve
    // side's pair dedup, so a mismatch would silently corrupt top-k.
    // built_rows seeds the staleness counter ivfIndexStaleness reads.
    Seq((nl, refine, replicate, built))
      .toDF("nlist", "refine", "replicate", "built_rows")
      .write.mode("overwrite").parquet(s"$stage/meta")
    graft.core.GenDir.commit(spark, path, gen)
  }

  /** The live generation dir of a persisted IVF index — every reader and
    * maintenance op resolves through this ONCE per operation, so each
    * operation sees one consistent generation (meta, codebook, lists and
    * appends all from the same `_gN`). An index persisted by the
    * pre-generation layout (round ≤ 11: flat `path/lists` etc.) resolves
    * to the flat root — fully servable and appendable; its first
    * [[rebuildIvfIndex]] (or a fresh [[buildIvfIndex]] over it) migrates
    * it by publishing `_g0`, after which the flat subdirs are the grace
    * generation and are swept at the following publish. */
  def ivfCurrent(spark: SparkSession, path: String): String =
    graft.core.GenDir.resolve(spark, path).getOrElse {
      val lists = new org.apache.hadoop.fs.Path(s"$path/lists")
      val fs = lists.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(lists)) path
      else throw new IllegalStateException(
        s"no committed generation and no legacy flat layout under $path — " +
          "not a graft IVF index (or its build never committed)")
    }

  /** Sweep the pre-generation flat subdirs once a committed generation
    * supersedes them by more than the grace window — the legacy analog of
    * [[graft.core.GenDir.commit]]'s debris sweep. Idempotent; called at
    * the start of every build/rebuild so a crash between a migration's
    * publish and its sweep self-heals on the next maintenance pass. */
  private def sweepLegacyIvf(spark: SparkSession, path: String): Unit =
    if (graft.core.GenDir.resolve(spark, path).isDefined) {
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      Seq("lists", "codebook", "meta", "appends").foreach { d =>
        val p = new org.apache.hadoop.fs.Path(s"$path/$d")
        if (fs.exists(p)) fs.delete(p, true): Unit
      }
    }

  /** Sentinel marking an append batch dir as FULLY committed. Marker
    * dirs are parquet jobs: the output dir (and on object stores, where
    * rename is a non-atomic copy, any prefix of its files) can exist
    * before the data commits — bare existence is NOT commit evidence.
    * The sentinel is a single atomic create AFTER the marker's rows
    * parquet is in place; every exactly-once check and every staleness
    * read gates on it. */
  private[graft] val BatchDoneMarker = "_DONE"

  /** Legacy marker migration: a round-≤11 append committed its counter
    * marker via tmp+rename with NO `_DONE` sentinel, so under the
    * sentinel-gated discipline a legacy index would read its appended
    * mass as 0 and a rebuild would drop those batch tombstones — letting
    * a late upstream retry of an absorbed batch re-append duplicate
    * vectors. On a LEGACY layout only (no committed generation — under
    * the generation discipline every committed marker carries the
    * sentinel, so a sentinel-less dir there is genuine crash debris), a
    * sentinel-less batch dir is a committed legacy marker IFF its rows
    * parquet is readable as exactly one non-null count AND that count
    * matches the batch's lists delta (the `delta-<id>-`-prefixed list
    * files its append moved in — the batch's other commit evidence).
    * Readability alone only proves commit under a job-commit output
    * committer (v1); with direct-write committers (S3A magic,
    * FileOutputCommitter v2) a crashed append can leave READABLE partial
    * files, and stamping those would turn the retry's redo into a silent
    * skip. A dir failing either check is a real partial write and stays
    * unstamped for its retry to delete. */
  private def stampLegacyAppendMarkers(spark: SparkSession, path: String,
      cur: String): Unit =
    if (graft.core.GenDir.resolve(spark, path).isEmpty) {
      val appends = new org.apache.hadoop.fs.Path(s"$cur/appends")
      val fs = appends.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(appends))
        fs.listStatus(appends)
          .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch=") &&
            !fs.exists(new org.apache.hadoop.fs.Path(s.getPath, BatchDoneMarker)))
          .foreach { b =>
            val recorded =
              try {
                val rows = spark.read.parquet(b.getPath.toString)
                  .select(col("rows")).collect()
                if (rows.length == 1 && !rows(0).isNullAt(0))
                  Some(rows(0).getLong(0))
                else None
              } catch { case scala.util.control.NonFatal(_) => None }
            val confirmed = recorded.exists { n =>
              val batchId = b.getPath.getName.stripPrefix("batch=")
              val lists = new org.apache.hadoop.fs.Path(s"$cur/lists")
              val deltaFiles =
                if (!fs.exists(lists)) Array.empty[String]
                else fs.listStatus(lists).filter(_.isDirectory).flatMap { d =>
                  fs.listStatus(d.getPath)
                    .filter(f => f.isFile &&
                      f.getPath.getName.startsWith(s"delta-$batchId-"))
                    .map(_.getPath.toString)
                }
              val actual =
                if (deltaFiles.isEmpty) 0L
                else
                  try spark.read.parquet(deltaFiles.toIndexedSeq: _*)
                    .select(col("neighbor_id")).distinct().count()
                  catch { case scala.util.control.NonFatal(_) => -1L }
              actual == n
            }
            if (confirmed)
              fs.create(new org.apache.hadoop.fs.Path(b.getPath, BatchDoneMarker),
                false).close()
          }
    }

  /** Appended fraction above which [[ivfIndexStaleness]] recommends a
    * retrain: the codebook was trained on the BUILD corpus only, so
    * appended vectors are assigned to lists by a progressively staler
    * quantizer as the appended mass grows. The 0.5 threshold is
    * deliberately conservative — the ScaleStressSpec gate appends 2×
    * the build corpus (fraction 0.67) from a shifted distribution and
    * pins recall above its floor even THERE, so at 0.5 the index is
    * measurably still serving well; past it you are running on
    * extrapolated evidence. */
  val IvfRetrainFraction = 0.5

  /** Staleness report for a persisted IVF index: rows the codebook was
    * trained on, rows appended since ([[appendToIvfIndex]] records one
    * counter row per batch, idempotently by batchId), the appended
    * fraction, and whether a retrain is recommended
    * ([[IvfRetrainFraction]]). One tiny metadata read — run it before
    * serving a day's queries, the way you'd check a compaction queue. */
  def ivfIndexStaleness(spark: SparkSession, path: String): DataFrame = {
    val cur = ivfCurrent(spark, path)
    stampLegacyAppendMarkers(spark, path, cur)
    // `built_rows` joined the meta schema in round 10 — an index built
    // before that (or by an older job version) must read as 0, not throw
    val metaDf = spark.read.parquet(s"$cur/meta")
    val built =
      if (!metaDf.columns.contains("built_rows")) 0L
      else metaDf.select(col("built_rows")).head().getLong(0)
    // NOTE appended_rows counts each batch's distinct vector ids; a vector
    // re-ingested under a DIFFERENT batchId counts once per batch, so the
    // fraction is an upper bound under at-least-once upstream delivery —
    // conservative in the safe direction (recommends retrain earlier).
    val appendsPath = new org.apache.hadoop.fs.Path(s"$cur/appends")
    val fs = appendsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // only COMMITTED batch markers are readable evidence: a crashed
    // append (or a mid-copy object-store rename) leaves a batch dir
    // without the _DONE sentinel — its parquet may be partial/unreadable,
    // and its batch will be redone by the retry anyway
    val committedBatches =
      if (!fs.exists(appendsPath)) Seq.empty[String]
      else fs.listStatus(appendsPath).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch=") &&
          fs.exists(new org.apache.hadoop.fs.Path(s.getPath, BatchDoneMarker)))
        .map(_.getPath.toString)
    val appended =
      if (committedBatches.isEmpty) 0L
      else spark.read.parquet(committedBatches: _*)
        .agg(sum(col("rows"))).collect()(0) match {
          case r if r.isNullAt(0) => 0L
          case r => r.getLong(0)
        }
    val frac = appended.toDouble / math.max(built + appended, 1L)
    spark.createDataFrame(Seq(
      (built, appended, frac, frac > IvfRetrainFraction)))
      .toDF("built_rows", "appended_rows", "appended_fraction",
        "retrain_recommended")
  }

  /** Append a delta batch to a persisted [[buildIvfIndex]] index — the
    * 100 TB daily-ingest shape (the [[graft.operators.Dedup.minhashLshAgainst]]
    * analog for ANN): delta vectors are assigned with the index's OWN
    * persisted codebook — no retrain, one assignment pass over the delta
    * only — and appended to their `bucket=N` list partitions. Probes see
    * old and new vectors uniformly; the codebook drifts from the corpus
    * distribution only as far as the corpus itself drifts (rebuild on a
    * cadence, serve appends in between — standard IVF operations).
    *
    * The delta is written to a hidden staging dir and its files MOVED into
    * the `bucket=N` list partitions (rename, not rewrite), each prefixed
    * by `batchId`: a concurrent reader never lists a half-written parquet
    * file, and a failed/re-run append first deletes its own batch's files
    * so retries never duplicate delta vectors. Pass a stable `batchId`
    * (e.g. the ingest date) to get that retry idempotence; the default
    * random id is safe for single-shot use. */
  def appendToIvfIndex(
      delta: DataFrame,
      path: String,
      corpusId: String,
      corpusVec: String,
      batchId: String = java.util.UUID.randomUUID().toString): Unit = {
    val spark = delta.sparkSession
    require(batchId.matches("[A-Za-z0-9._-]+"),
      s"appendToIvfIndex: batchId must be a plain file-name token, got '$batchId'")
    val cur = ivfCurrent(spark, path)
    // a legacy batch's commit evidence predates the sentinel — stamp it
    // so the exactly-once check below skips (not redoes) committed work
    stampLegacyAppendMarkers(spark, path, cur)
    // exactly-once per batchId: the marker's _DONE sentinel is written
    // LAST, so its presence means the batch fully committed — skip the
    // retry outright. (A FAILED append has no sentinel; its retry falls
    // through to the prefix-delete + redo below, clearing any partial
    // marker dir first — bare dir existence is NOT commit evidence on
    // object stores, where rename is a non-atomic copy.) This also
    // protects a REBUILT index: rebuildIvfIndex absorbs appended vectors
    // into the build mass and carries each batch marker forward as a
    // rows=0 tombstone, so a late upstream retry of an absorbed batch
    // lands here and cannot re-duplicate vectors the rebuild already owns.
    val markerDir = new org.apache.hadoop.fs.Path(s"$cur/appends/batch=$batchId")
    val markerFs = markerDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (markerFs.exists(
        new org.apache.hadoop.fs.Path(markerDir, BatchDoneMarker)))
      return
    if (markerFs.exists(markerDir)) markerFs.delete(markerDir, true)
    val replicate = spark.read.parquet(s"$cur/meta")
      .select(col("replicate")).head().getInt(0)
    val codebook: Seq[Seq[Double]] = spark.read.parquet(s"$cur/codebook")
      .orderBy(col("j")).collect()
      .map(r => r.getSeq[Double](1).toSeq).toSeq
    val stage = s"$cur/.delta-$batchId.stage"
    writeLists(corpusLists(normalizedCorpus(
      graft.core.GraftSession.widen(delta), corpusId, corpusVec),
      codebook, replicate), stage)
    import org.apache.hadoop.fs.Path
    val lists = new Path(s"$cur/lists")
    val fs = lists.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // distinct ids, not list rows: replicate>1 writes each vector into
    // several lists, and the staleness fraction compares CORPUS masses.
    // Read the staged bucket dirs explicitly — the stage dir's own name
    // (`.delta-*.stage`) is hidden under Spark's path filter, so handing
    // it to the reader logs a spurious `All paths were ignored` WARN per
    // append (paths are still used; the WARN is tail spam — r15 item 6)
    val stagedBuckets = fs.listStatus(new Path(stage))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("bucket="))
      .map(_.getPath.toString)
    val deltaRows =
      if (stagedBuckets.isEmpty) 0L
      else spark.read.parquet(stagedBuckets.toIndexedSeq: _*)
        .select(col("neighbor_id")).distinct().count()
    val prefix = s"delta-$batchId-"
    // retry idempotence: a re-run removes exactly its own prior files
    fs.listStatus(lists).filter(_.isDirectory).foreach { b =>
      fs.listStatus(b.getPath)
        .filter(_.getPath.getName.startsWith(prefix))
        .foreach(f => fs.delete(f.getPath, false))
    }
    // reuse the single staged listing above — a second listStatus of the
    // stage dir is one extra metadata round-trip per append on object
    // stores, the cost this path is built to avoid
    stagedBuckets.map(new Path(_))
      .foreach { bp =>
        val dest = new Path(lists, bp.getName)
        fs.mkdirs(dest)
        fs.listStatus(bp)
          .filter { f =>
            val n = f.getPath.getName
            f.isFile && !n.startsWith("_") && !n.startsWith(".")
          }
          .foreach { f =>
            val moved =
              fs.rename(f.getPath, new Path(dest, prefix + f.getPath.getName))
            require(moved, s"appendToIvfIndex: rename failed for ${f.getPath}")
          }
      }
    fs.delete(new Path(stage), true): Unit
    // staleness counter: one row per batch under appends/batch=<id>. The
    // parquet job creates its output dir before any data commits, and on
    // object stores even the round-11 tmp+rename commit is a non-atomic
    // copy — so dir presence is never commit evidence. The commit point
    // is the _DONE sentinel: ONE atomic create (single PUT on object
    // stores) AFTER the rows parquet is fully in place; the exactly-once
    // check above and the ivfIndexStaleness read both gate on it, and a
    // crash anywhere before it leaves a sentinel-less dir the retry
    // deletes and redoes.
    spark.createDataFrame(Seq(Tuple1(deltaRows)))
      .toDF("rows")
      .write.mode("overwrite").parquet(markerDir.toString)
    markerFs.create(new Path(markerDir, BatchDoneMarker), false).close()
  }

  /** Retrain a persisted IVF index over its FULL current mass — the
    * operator behind [[ivfIndexStaleness]]'s `retrain_recommended` (round
    * 10 measured staleness; this closes the loop). The corpus is
    * recovered from the index's own lists (distinct vector ids —
    * replicate>1 stores each vector in several lists), the codebook is
    * retrained on build + appended vectors together, and every list is
    * rewritten under the fresh quantizer, so post-rebuild assignments
    * reflect the drifted distribution the appends brought in.
    *
    * The new index (lists + codebook + meta) is staged as the NEXT
    * GENERATION beside the live one and published with one atomic
    * sentinel create ([[graft.core.GenDir]]): the live files never move,
    * so a CONCURRENT reader mid-scan keeps its generation and a reader
    * resolving mid-publish gets either generation, both complete
    * (SwapAtomicitySpec loops serves through a rebuild). A failure
    * anywhere before the sentinel leaves uncommitted debris the next
    * commit sweeps — no rollback window, no manual `.old` recovery.
    * [[readIvfMeta]]'s serving pin keys on the live generation's path,
    * so long-lived serving processes pick up the new codebook on their
    * next batch (grace keeps one generation back for their in-flight
    * scans).
    *
    * The appends counter dir is not carried over: a rebuilt index has
    * ZERO appended mass by definition, so [[ivfIndexStaleness]] reads
    * fraction 0 — the counter-reset contract the staleness gate pins.
    *
    * `nlist = 0` re-derives the list count from the CURRENT corpus size
    * ([[autoNlist]]) — after a 2× append that typically grows the list
    * count, keeping per-list occupancy (hence probe cost) level;
    * `replicate = 0` and `refine = 0` keep the build-time values from the
    * index meta — a rebuild must never silently retrain with FEWER Lloyd
    * iterations than the original build, or post-rebuild recall can
    * regress below what the stale index served. */
  def rebuildIvfIndex(
      spark: SparkSession,
      path: String,
      nlist: Int = 0,
      refine: Int = 0,
      replicate: Int = 0): Unit = {
    import spark.implicits._
    val cur = ivfCurrent(spark, path)
    // migrating a legacy index: its committed markers predate the
    // sentinel — stamp them NOW or the carry-forward below would drop
    // their tombstones and a late retry could re-append absorbed vectors
    stampLegacyAppendMarkers(spark, path, cur)
    // one driver read for both carried hyperparams (the round-11 verdict
    // noted the two separate head() jobs here)
    val metaRow = spark.read.parquet(s"$cur/meta")
      .select(col("replicate"), col("refine")).head()
    val rep = if (replicate > 0) replicate else metaRow.getInt(0)
    val ref = if (refine > 0) refine else metaRow.getInt(1)
    // recover the distinct corpus from the lists: replicate>1 wrote each
    // vector into several bucket partitions; (cv, cn) are identical across
    // replicas so any representative is exact
    // pinCounted: built_rows below reuses the materialization's own count
    // instead of re-running a count job over the pinned blocks
    val (corpus, builtRows) = graft.core.GraftSession.pinCounted(
      spark.read.parquet(s"$cur/lists")
        .groupBy(col("neighbor_id"))
        .agg(first(col("cv")).as("cv"), first(col("cn")).as("cn")))
    val nl = if (nlist > 0) nlist else autoNlist(builtRows)
    val codebook = trainIvfCodebook(corpus, nl, ref)
    // a legacy flat layout superseded by an earlier migration is now two
    // publishes old — sweep before staging (self-healing: also covers a
    // crash between a migration's commit and any later cleanup)
    sweepLegacyIvf(spark, path)
    val gen = graft.core.GenDir.next(spark, path)
    val stage = graft.core.GenDir.genPath(path, gen)
    import org.apache.hadoop.fs.Path
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    writeLists(corpusLists(corpus, codebook, rep), s"$stage/lists")
    codebook.zipWithIndex.map { case (v, j) => (j, v) }
      .toDF("j", "v")
      .write.mode("overwrite").parquet(s"$stage/codebook")
    // built_rows = the pinned distinct corpus — no re-listing of the
    // staged lists (corpusLists writes each corpus vector, replicated)
    graft.core.GraftSession.release(corpus)
    Seq((nl, ref, rep, builtRows))
      .toDF("nlist", "refine", "replicate", "built_rows")
      .write.mode("overwrite").parquet(s"$stage/meta")
    // carry each COMMITTED append batch marker forward as a rows=0
    // tombstone: the appended MASS is absorbed into built_rows (staleness
    // reads 0), but the batch ids stay known so a late retry of an
    // absorbed batch is still skipped by appendToIvfIndex's exactly-once
    // check. Uncommitted (sentinel-less) markers are NOT carried — their
    // batch never fully landed, and its retry must redo the work against
    // the new generation.
    val appendsPath = new Path(s"$cur/appends")
    if (fs.exists(appendsPath))
      fs.listStatus(appendsPath)
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch=") &&
          fs.exists(new Path(s.getPath, BatchDoneMarker)))
        .map(_.getPath.getName)
        .foreach { b =>
          spark.createDataFrame(Seq(Tuple1(0L))).toDF("rows")
            .write.mode("overwrite").parquet(s"$stage/appends/$b")
          fs.create(new Path(s"$stage/appends/$b/$BatchDoneMarker"), false)
            .close()
        }
    // publish: one atomic sentinel create (GenDir) — no renames, no
    // rollback window; concurrent readers keep their generation
    graft.core.GenDir.commit(spark, path, gen)
  }

  /** Serve approximate top-k from a persisted [[buildIvfIndex]] index.
    * The probed list ids are computed driver-side from the (small) query
    * batch and pushed as a partition filter, so the scan lists and reads
    * ONLY those `bucket=N` directories — the IVF pruning is Spark
    * partition pruning, visible in the plan's PartitionFilters. Results
    * are bit-identical to the inline [[ivfTopK]] at the same parameters
    * (spec-pinned). */
  /** Pinned (replicate, codebook) per index GENERATION: a generation is
    * immutable after commit ([[appendToIvfIndex]] only adds list files),
    * so a serving process reads it once and pins it instead of paying two
    * Spark jobs per query batch. Keyed by (generation path, codebook
    * mtime): a rebuild publishes a NEW generation path, and a
    * delete-the-root-and-rebuild at the same path (test fixtures,
    * re-seeded pipelines — generation numbering restarts at `_g0`) gets
    * a fresh codebook mtime, so the pin can never serve a stale
    * codebook either way. */
  private val ivfMetaCache =
    scala.collection.concurrent.TrieMap.empty[(String, Long), (Int, Seq[Seq[Double]])]

  /** The live generation's (replicate, codebook), pinned per generation —
    * shared by the top-k serve and the index-backed dedup-pair paths.
    * Takes the RESOLVED generation dir so one serve operation reads its
    * meta and its lists from the same generation. */
  private[graft] def readIvfMetaAt(
      spark: SparkSession, cur: String): (Int, Seq[Seq[Double]]) = {
    val cbPath = new org.apache.hadoop.fs.Path(s"$cur/codebook")
    val cbVersion = cbPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getFileStatus(cbPath).getModificationTime
    ivfMetaCache.getOrElseUpdate((cur, cbVersion), {
      val rep = spark.read.parquet(s"$cur/meta")
        .select(col("replicate")).head().getInt(0)
      val cb: Seq[Seq[Double]] = spark.read.parquet(s"$cur/codebook")
        .orderBy(col("j")).collect()
        .map(r => r.getSeq[Double](1).toSeq).toSeq
      (rep, cb)
    })
  }

  def ivfTopKFromIndex(
      path: String,
      queries: DataFrame,
      queryId: String,
      queryVec: String,
      k: Int,
      nprobe: Int = 32): DataFrame = {
    val spark = queries.sparkSession
    // one resolve per serve: meta, codebook and lists all read from the
    // SAME committed generation (GenDir), so a rebuild publishing midway
    // can never mix generations inside one operation
    val cur = ivfCurrent(spark, path)
    // replicate comes from the index itself, never the caller: serving a
    // replicate>1 index without the pair dedup would return the same
    // neighbor at several ranks
    val (replicate, codebook) = readIvfMetaAt(spark, cur)
    // the query batch is evaluated ONCE (a non-deterministic upstream —
    // sample/limit/rand — would otherwise probe one realization and score
    // another, silently losing neighbors) and bounded by the broadcast
    // contract: collect here, derive BOTH the probe set and the probe-side
    // frame from the same rows
    val qRows: Array[(Long, Seq[Double])] = queries
      .select(col(queryId).cast("long"), vec_double(col(queryVec)))
      .limit(MaxQueryBatch + 1).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
    require(qRows.length <= MaxQueryBatch,
      s"ivfTopKFromIndex: query batch has > $MaxQueryBatch rows — the " +
        "contract is a broadcast-sized query batch; chunk the queries")
    // driver-side probe set: nprobe lists per query vector, deduplicated.
    // Anchor ranking replays rankedAnchors exactly: sequential index-order
    // dot (bit-identical to SeqDot), order by (-dot, j) ascending.
    val probed: Array[Int] = qRows.flatMap { case (_, v) =>
      codebook.indices.map { j =>
        var d = 0.0; var i = 0; val cj = codebook(j)
        val n = math.min(v.length, cj.length)
        while (i < n) { d += v(i) * cj(i); i += 1 }
        (-d, j)
      }.sorted.take(math.min(nprobe, codebook.size)).map(_._2)
    }.distinct.sorted
    val lists = spark.read.parquet(s"$cur/lists")
      .filter(col("bucket").isin(probed.map(Integer.valueOf): _*))
    import spark.implicits._
    val qDf = qRows.toSeq.toDF(queryId, queryVec)
    ivfProbe(qDf, lists, codebook, queryId, queryVec, k,
      math.min(nprobe, codebook.size), replicate)
  }

  /** Broadcast ceiling for the delta side of the index-backed semantic
    * dedup join ([[Dedup.maxBroadcastIdBytes]] discipline: measured plan
    * stats, shuffle fallback with identical values, spec knob = 0 forces
    * the fallback). Var so SemanticIndexSpec can exercise both paths. */
  private[graft] val DefaultMaxBroadcastDeltaBytes: Long = 64L << 20
  @volatile private[graft] var maxBroadcastDeltaBytes: Long = DefaultMaxBroadcastDeltaBytes

  /** Embedding near-dup pairs between a delta batch and a persisted
    * [[buildIvfIndex]] corpus — the train-once/serve-delta shape the
    * minhash family got with [[Dedup.minhashLshAgainstIndex]], applied to
    * q82's semantic pair generation. Candidates are pairs whose vectors
    * share a nearest list: the index side's list membership was decided
    * at build/append time and is READ, never recomputed; the delta is
    * assigned in-plan with the index's own persisted codebook (so both
    * sides agree on the geometry), then verified with exact cosine over
    * the stored double vectors — served pairs are bit-identical to the
    * inline twin ([[semanticDedupPairsWithCodebook]], spec-pinned).
    *
    * Scan shape at 100 TB: the lists read is partition-PRUNED to the
    * delta's own buckets (a driver-side distinct over ≤ nlist ints), and
    * the delta side is broadcast while its measured size fits
    * [[maxBroadcastDeltaBytes]] — the corpus-scale lists scan then joins
    * stream-side with NO shuffle above it (spec-asserted); an oversized
    * delta falls back to a shuffle join on `bucket`, values identical.
    * Ids must be disjoint across delta and index, as in
    * [[Dedup.minhashLshAgainstIndex]]. Output: (id_a = index id,
    * id_b = delta id, cos), distinct. */
  def semanticDedupAgainstIndex(
      delta: DataFrame,
      path: String,
      deltaId: String,
      deltaVec: String,
      threshold: Double): DataFrame = {
    val spark = delta.sparkSession
    // one resolve per serve (generation consistency, as in ivfTopKFromIndex)
    val cur = ivfCurrent(spark, path)
    val (replicate, codebook) = readIvfMetaAt(spark, cur)
    val d = graft.core.GraftSession.pin(
      corpusLists(normalizedCorpus(delta, deltaId, deltaVec), codebook, replicate)
        .select(col("neighbor_id").as("id_b"), col("cv").as("bv"),
          col("cn").as("bn"), col("bucket").as("bucket")))
    // ≤ nlist ints — bounded at any delta size; SORTED so the IN-list
    // literal order (hence the generated source, hence the codegen
    // cache key) is identical across invocations
    val buckets = d.select(col("bucket")).distinct().collect()
      .map(_.getInt(0)).sorted.map(Integer.valueOf(_)).toSeq
    val lists = spark.read.parquet(s"$cur/lists")
      .filter(col("bucket").isin(buckets: _*))
    pairsOnSharedLists(lists, d, threshold, replicate)
  }

  /** Inline twin of [[semanticDedupAgainstIndex]]: identical pair
    * semantics with the corpus side assigned in-plan from the same
    * persisted codebook — the equality SemanticIndexSpec and the q155
    * oracle pin. */
  private[graft] def semanticDedupPairsWithCodebook(
      delta: DataFrame,
      corpus: DataFrame,
      path: String,
      idCol: String,
      vecCol: String,
      threshold: Double): DataFrame = {
    val spark = delta.sparkSession
    val (replicate, codebook) = readIvfMetaAt(spark, ivfCurrent(spark, path))
    val d = graft.core.GraftSession.pin(
      corpusLists(normalizedCorpus(delta, idCol, vecCol), codebook, replicate)
        .select(col("neighbor_id").as("id_b"), col("cv").as("bv"),
          col("cn").as("bn"), col("bucket").as("bucket")))
    pairsOnSharedLists(
      corpusLists(normalizedCorpus(corpus, idCol, vecCol), codebook, replicate),
      d, threshold, replicate)
  }

  /** Shared verify kernel: join the (corpus-side) lists frame —
    * `(neighbor_id, cv, cn, bucket)` — with the assigned delta on the
    * list id, exact cosine over the stored doubles, threshold filter.
    * At replicate=1 (the default) a pair can share at most ONE list, so
    * the plan is a pure broadcast-join scan stage — no exchange anywhere;
    * replicate>1 duplicates a pair once per shared list with the SAME cos
    * bits, so a distinct (one exchange over the reduced pair set, not the
    * lists) collapses them exactly. */
  private def pairsOnSharedLists(
      lists: DataFrame, d: DataFrame, threshold: Double,
      replicate: Int): DataFrame = {
    val dSide =
      if (org.apache.spark.sql.GraftSqlBridge.sizeEstimate(d) <=
          BigInt(maxBroadcastDeltaBytes)) broadcast(d)
      else d
    val verified = lists.join(dSide, Seq("bucket"))
      .filter(col("neighbor_id") =!= col("id_b") &&
        col("cn") > 0.0 && col("bn") > 0.0)
      .select(col("neighbor_id").as("id_a"), col("id_b"),
        (dotd(col("cv"), col("bv")) / (col("cn") * col("bn"))).as("cos"))
      .filter(col("cos") >= threshold)
    if (replicate <= 1) verified else verified.distinct()
  }

  /** Per-subspace PQ codebooks trained over a deterministic residual
    * sample (smallest xxhash64(id) — the [[trainIvfCodebook]] sampling
    * device): residual = normalized vector − its coarse anchor, split into
    * `m` subvectors of `dim/m` dims, each clustered with `refinePq`
    * sequential L2-Lloyd iterations (sample is codebook-sized, driver-side,
    * index-order folds — deterministic, so rebuilds are byte-identical).
    * Returns the flattened [((s·ksub)+j)·dsub + d] codeword matrix. */
  private[graft] def trainPqCodebooks(
      c: DataFrame,
      coarse: Seq[Seq[Double]],
      m: Int,
      ksub: Int,
      refinePq: Int): Seq[Double] = {
    val dim = coarse.head.length
    val dsub = dim / m
    val anchors: Array[Array[Double]] = coarse.map(_.toArray).toArray
    val resid: Array[Array[Double]] = c
      .select(col("neighbor_id"), col("cv"), col("cn"))
      .orderBy(xxhash64(col("neighbor_id")), col("neighbor_id"))
      .limit(ksub * 64)
      .collect()
      .map { row =>
        val cv = row.getSeq[Double](1).toArray
        val cn = row.getDouble(2)
        val vhat = if (cn == 0) cv else cv.map(_ / cn)
        // bucket = argmax raw-cv dot (the corpusLists assignment — the
        // positive cn scale can't change the argmax), ties to lower j
        var bj = 0; var bd = Double.NegativeInfinity; var j = 0
        while (j < anchors.length) {
          var d = 0.0; var i = 0
          val n = math.min(cv.length, dim)
          while (i < n) { d += cv(i) * anchors(j)(i); i += 1 }
          if (d > bd) { bd = d; bj = j }
          j += 1
        }
        val a = anchors(bj)
        Array.tabulate(dim)(i => (if (i < vhat.length) vhat(i) else 0.0) - a(i))
      }
    require(resid.nonEmpty, "empty corpus")
    val out = new Array[Double](m * ksub * dsub)
    var s = 0
    while (s < m) {
      val sub: Array[Array[Double]] =
        resid.map(r => java.util.Arrays.copyOfRange(r, s * dsub, (s + 1) * dsub))
      // seeds cycle the sample if it's smaller than ksub (duplicate
      // codewords are harmless: encode ties break to the lower id)
      var cb: Array[Array[Double]] =
        Array.tabulate(ksub)(j => sub(j % sub.length).clone())
      var it = 0
      while (it < refinePq) {
        val sums = Array.fill(ksub)(new Array[Double](dsub))
        val cnts = new Array[Int](ksub)
        for (v <- sub) {
          var bj = 0; var bd = Double.MaxValue; var j = 0
          while (j < ksub) {
            var d2 = 0.0; var d = 0
            while (d < dsub) { val t = v(d) - cb(j)(d); d2 += t * t; d += 1 }
            if (d2 < bd) { bd = d2; bj = j }
            j += 1
          }
          val acc = sums(bj); var d = 0
          while (d < dsub) { acc(d) += v(d); d += 1 }
          cnts(bj) += 1
        }
        cb = Array.tabulate(ksub) { j =>
          if (cnts(j) == 0) cb(j) else sums(j).map(_ / cnts(j))
        }
        it += 1
      }
      var j = 0
      while (j < ksub) {
        System.arraycopy(cb(j), 0, out, (s * ksub + j) * dsub, dsub)
        j += 1
      }
      s += 1
    }
    out.toSeq
  }

  /** Persist an IVF-PQ index (Jégou et al., TPAMI 2011): the
    * [[buildIvfIndex]] layout with each inverted-list vector COMPRESSED to
    * `m` one-byte PQ codes instead of its float coordinates — `m` bytes
    * per vector vs 8·dim for the flat index (64 dim → 64× smaller lists).
    * This is the 100 TB serving shape: a corpus whose flat lists would be
    * tens of TB fits executor page cache as PQ codes, probes scan bytes
    * with `m`-add ADC lookups, and exact rerank touches only the top-R
    * candidates' original vectors.
    *
    * Layout: `path/lists/bucket=N/` (neighbor_id, codes: binary),
    * `path/codebook/` the coarse anchors, `path/pq/` the flattened
    * codeword matrix, `path/meta/` (nlist, m, ksub). Training and encode
    * are deterministic end-to-end — same corpus + params ⇒ byte-identical
    * index. */
  def buildIvfPqIndex(
      corpus: DataFrame,
      path: String,
      corpusId: String,
      corpusVec: String,
      nlist: Int = 0,
      refine: Int = 3,
      m: Int = 16,
      ksub: Int = 256,
      refinePq: Int = 8): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // count on the UN-widened scan (see buildIvfIndex)
    val nl = if (nlist > 0) nlist else autoNlist(corpus.count())
    val c = normalizedCorpus(graft.core.GraftSession.widen(corpus),
      corpusId, corpusVec)
    val coarse = trainIvfCodebook(c, nl, refine)
    val dim = coarse.head.length
    require(dim % m == 0, s"buildIvfPqIndex: dim ($dim) must be divisible by m ($m)")
    val pq = trainPqCodebooks(c, coarse, m, ksub, refinePq)
    // one corpus pass: normalize, coarse-assign, PQ-encode — all row-local
    // codegen'd expressions, embarrassingly parallel at any scale
    val vhat = when(col("cn") === 0, col("cv"))
      .otherwise(transform(col("cv"), x => x / col("cn")))
    c.withColumn("bucket", element_at(nearestAnchors(coarse, col("cv"), 1), 1))
      .withColumn("codes", graft.functions.pq_encode(
        vhat, col("bucket"), coarse.flatten, pq, nl, dim, m, ksub))
      .select(col("neighbor_id"), col("codes"), col("bucket"))
      // same fan discipline as writeLists (schema differs: codes, no cv/cn)
      .repartition(col("bucket"))
      .sortWithinPartitions(col("bucket"), col("neighbor_id"))
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$path/lists")
    coarse.zipWithIndex.map { case (v, j) => (j, v) }
      .toDF("j", "v")
      .write.mode("overwrite").parquet(s"$path/codebook")
    Seq(Tuple1(pq)).toDF("pq")
      .write.mode("overwrite").parquet(s"$path/pq")
    Seq((nl, m, ksub)).toDF("nlist", "m", "ksub")
      .write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Pinned immutable metadata per PQ index path (the [[ivfMetaCache]]
    * discipline, keyed by the codebook dir's mtime). */
  private val pqMetaCache = scala.collection.concurrent.TrieMap
    .empty[(String, Long), (Int, Int, Seq[Seq[Double]], Array[Double])]

  /** Serve approximate top-k from a persisted [[buildIvfPqIndex]] index:
    * probe list ids are computed driver-side from the bounded query batch
    * and pushed as partition filters (only `nprobe` `bucket=N` dirs are
    * read — spec-pinned); each probed list is scanned with the `m`-add
    * [[graft.functions.PqAdc]] lookup, never decoded. With `rerank > 0`
    * the ADC top-`rerank` candidates (a broadcast-sized set) are joined
    * back to `exact` (the original vectors, e.g. the corpus table) and
    * the final top-k is EXACT cosine over those candidates — bit-identical
    * to [[bruteForceTopK]]'s formula, the standard IVF-PQ + refine serve
    * path. Without rerank, scores are the raw ADC approximation.
    *
    * Driver memory contract: the probe frame is `batch × nprobe` rows and
    * the per-query ADC tables are `batch × m·ksub` doubles — both bounded
    * below alongside [[MaxQueryBatch]] so misuse fails loudly. */
  def ivfPqTopK(
      path: String,
      queries: DataFrame,
      queryId: String,
      queryVec: String,
      k: Int,
      nprobe: Int = 32,
      rerank: Int = 0,
      exact: DataFrame = null,
      exactId: String = null,
      exactVec: String = null): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val cbPath = new org.apache.hadoop.fs.Path(s"$path/codebook")
    val cbFs = cbPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cbVersion = cbFs.getFileStatus(cbPath).getModificationTime
    val (m, ksub, coarse, pq) = pqMetaCache.getOrElseUpdate((path, cbVersion), {
      val meta = spark.read.parquet(s"$path/meta").select(col("m"), col("ksub")).head()
      val cb: Seq[Seq[Double]] = spark.read.parquet(s"$path/codebook")
        .orderBy(col("j")).collect()
        .map(r => r.getSeq[Double](1).toSeq).toSeq
      val pqm = spark.read.parquet(s"$path/pq").head().getSeq[Double](0).toArray
      (meta.getInt(0), meta.getInt(1), cb, pqm)
    })
    val dim = coarse.head.length
    val dsub = dim / m
    val qRows: Array[(Long, Seq[Double])] = queries
      .select(col(queryId).cast("long"), vec_double(col(queryVec)))
      .limit(MaxQueryBatch + 1).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
    require(qRows.length <= MaxQueryBatch,
      s"ivfPqTopK: query batch has > $MaxQueryBatch rows — the contract is " +
        "a broadcast-sized query batch; chunk the queries")
    require(qRows.length.toLong * (m.toLong * ksub + nprobe) <= 32L * 1000 * 1000,
      s"ivfPqTopK: batch of ${qRows.length} queries needs " +
        s"${qRows.length.toLong * m * ksub} ADC table doubles — chunk the " +
        "queries (contract: batch × (m·ksub + nprobe) ≤ 32M)")
    val np = math.min(nprobe, coarse.size)
    // per query: normalized vector, top-np anchors (the ivfTopKFromIndex
    // probe math — index-order dots, (-dot, j) ranking), per-(query,
    // bucket) anchor dot (the ADC base term) and the m·ksub lookup table
    val probeRows = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Int, Double)]
    val tabRows = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Seq[Double])]
    qRows.foreach { case (qid, v) =>
      var norm = 0.0
      v.foreach(x => norm += x * x)
      norm = math.sqrt(norm)
      val qh = if (norm == 0) v.toArray else v.map(_ / norm).toArray
      val dots = coarse.indices.map { j =>
        var d = 0.0; var i = 0; val cj = coarse(j)
        val n = math.min(qh.length, cj.length)
        while (i < n) { d += qh(i) * cj(i); i += 1 }
        (-d, j)
      }
      dots.sorted.take(np).foreach { case (nd, j) =>
        probeRows += ((qid, j, -nd))
      }
      val tab = new Array[Double](m * ksub)
      var s = 0
      while (s < m) {
        var j = 0
        while (j < ksub) {
          val pBase = (s * ksub + j) * dsub
          var d = 0.0; var i = 0
          while (i < dsub) {
            val qi = s * dsub + i
            if (qi < qh.length) d += qh(qi) * pq(pBase + i)
            i += 1
          }
          tab(s * ksub + j) = d
          j += 1
        }
        s += 1
      }
      tabRows += ((qid, tab.toSeq))
    }
    val probed = probeRows.map(_._2).distinct.sorted
    val lists = spark.read.parquet(s"$path/lists")
      .filter(col("bucket").isin(probed.map(Integer.valueOf).toSeq: _*))
    val probeDf = probeRows.toSeq.toDF("query_id", "bucket", "base")
    val tabDf = tabRows.toSeq.toDF("query_id", "tab")
    val scored = lists
      .join(broadcast(probeDf), "bucket")
      .join(broadcast(tabDf), "query_id")
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (col("base") + graft.functions.pq_adc(col("tab"), col("codes"), m, ksub))
          .as("cos"))
    if (rerank <= 0) rankTopK(scored, k)
    else {
      require(exact != null && exactId != null && exactVec != null,
        "ivfPqTopK: rerank > 0 needs the original vectors (exact/exactId/exactVec)")
      // candidates are batch × rerank rows — broadcast them against the
      // original vectors (one corpus scan, no shuffle), then EXACT cosine
      val cand = rankTopK(scored, rerank).select(col("query_id"), col("neighbor_id"))
      val qDf = broadcast(qRows.toSeq.toDF("query_id", "qv")
        .withColumn("qn", sqrt(dotd(col("qv"), col("qv")))))
      val ex = exact.select(col(exactId).cast("long").as("neighbor_id"),
        vec_double(col(exactVec)).as("cv"))
        .withColumn("cn", sqrt(dotd(col("cv"), col("cv"))))
      val rescored = ex.join(broadcast(cand), "neighbor_id")
        .join(qDf, "query_id")
        .select(col("query_id"), col("neighbor_id"),
          (dotd(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("cos"))
      rankTopK(rescored, k)
    }
  }

  /** Assign every vector to its nearest centroid by cosine (the Lloyd
    * assignment step / IVF list build): centroids broadcast, corpus scans
    * once — embarrassingly parallel at 100 TB, the only shuffle is the
    * per-vector argmax window over `nlist` candidate rows. Ties break on
    * the lower centroid id, so assignment is fully deterministic. */
  def assignToCentroids(
      vecs: DataFrame,
      centroids: DataFrame,
      vecId: String,
      vecCol: String,
      centroidId: String,
      centroidVec: String): DataFrame = {
    // cos = dot / sqrt(|v|² · |c|²) — the SINGLE-sqrt form: it yields
    // exactly 1.0 on self-pairs (sqrt(x·x) == x), matching DuckDB's
    // list_cosine_similarity; sqrt(x)·sqrt(x) can round up one ulp.
    // Squared norms are per-vector, precomputed once on each side.
    val c = broadcast(centroids
      .select(col(centroidId).cast("long").as("centroid_id"),
        vec_double(col(centroidVec)).as("cv"))
      .withColumn("cn2", dotd(col("cv"), col("cv"))))
    val v = vecs
      .select(col(vecId).cast("long").as("vec_id"), vec_double(col(vecCol)).as("vv"))
      .withColumn("vn2", dotd(col("vv"), col("vv")))
    val scored = v.crossJoin(c)
      .select(col("vec_id"), col("centroid_id"),
        (dotd(col("vv"), col("cv")) / sqrt(col("vn2") * col("cn2"))).as("cos"))
    // argmax as a MAX(struct) aggregate — (cos desc, centroid_id asc) is
    // the lexicographic max of struct(cos, -id), identical values to the
    // row_number window but with full map-side combine: each vector's
    // nlist candidate rows are partition-local after the broadcast cross
    // join, so the exchange carries ONE row per vector, not nlist
    scored.groupBy(col("vec_id"))
      .agg(max(struct(col("cos"), (-col("centroid_id")).as("nid"))).as("__m"))
      .select(col("vec_id"), (-col("__m.nid")).as("centroid_id"),
        col("__m.cos").as("cos"))
  }

  /** Per-cluster mean vectors — the Lloyd UPDATE step completing
    * [[assignToCentroids]]. Per (cluster, dimension) the member values are
    * folded in a pinned order (sorted by member id), so the sum — and
    * therefore the new centroid — is bit-identical across engines,
    * partitionings, and retries, unlike a plain floating SUM whose
    * combine order floats. Shuffle key is (cluster, dim): ~k·d groups
    * regardless of corpus size. */
  def centroidMeans(
      vecs: DataFrame,
      assignments: DataFrame,
      vecId: String,
      vecCol: String,
      clusterCol: String): DataFrame = {
    val member = vecs
      .select(col(vecId).cast("long").as("__vid"), vec_double(col(vecCol)).as("__v"))
      .join(assignments.select(col(vecId).cast("long").as("__vid"),
        col(clusterCol).as("centroid_id")), "__vid")
      .select(col("centroid_id"), col("__vid"),
        posexplode(col("__v")).as(Seq("__pos", "__val")))
    member.groupBy(col("centroid_id"), (col("__pos") + 1).as("dim"))
      .agg(sort_array(collect_list(struct(col("__vid").as("i"), col("__val").as("v"))))
        .as("__xs"), count(lit(1)).as("__n"))
      .select(col("centroid_id"), col("dim"),
        (aggregate(col("__xs"), lit(0.0), (acc, x) => acc + x.getField("v"))
          / col("__n").cast("double")).as("mean_val"))
  }

  /** Pairwise cosine between per-label prototype vectors (the label
    * confusability / embedding drift matrix): [[centroidMeans]] builds the
    * prototypes with order-pinned folds, then every unordered label pair
    * gets dot and norms folded in DIMENSION order — bit-identical across
    * engines and retries, like the means themselves. Work after the means
    * is O(labels² · dim) on ~labels·dim rows — negligible at any corpus
    * size; the corpus is touched exactly once (inside centroidMeans). */
  def prototypeSimilarityMatrix(
      vecs: DataFrame,
      assignments: DataFrame,
      vecId: String,
      vecCol: String,
      labelCol: String): DataFrame = {
    val spark = vecs.sparkSession
    // ONE corpus pass: the means table is labels × dim — codebook-sized —
    // so the pairwise math runs driver-side on the collected means (the
    // IVF-codebook device), never by re-executing the corpus aggregate
    // once per join branch (a distributed self-join would plan the
    // posexplode + shuffle subtree 3× with no exchange reuse). The label
    // keeps its INPUT type (string labels — languages, sources — are as
    // natural here as ints).
    val meansDf = centroidMeans(vecs, assignments, vecId, vecCol, labelCol)
      .select(col("centroid_id"), col("dim"), col("mean_val"))
    val labelType = meansDf.schema("centroid_id").dataType
    val m = meansDf.collect()
    require(m.forall(_.get(0) != null), "labels must be non-null")
    val byLabel: Map[Any, Array[Double]] = m.groupBy(_.get(0)).map {
      case (l, rs) =>
        val arr = new Array[Double](rs.map(_.getInt(1)).max)
        rs.foreach(r => arr(r.getInt(1) - 1) = r.getDouble(2))
        l -> arr
    }
    // folds run in ascending dim order — identical arithmetic to the
    // oracle's list_sum(... ORDER BY dim) and to the previous declarative
    // formulation (spec-pinned bit identity)
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < math.min(a.length, b.length)) { s += a(i) * b(i); i += 1 }
      s
    }
    // external atomic label values (Long, Int, String, ...) are Comparable
    val labels = byLabel.keys.toSeq.sortWith(
      (a, b) => a.asInstanceOf[Comparable[Any]].compareTo(b) < 0)
    val norms = labels.map(l => l -> math.sqrt(dot(byLabel(l), byLabel(l)))).toMap
    val rows: Seq[org.apache.spark.sql.Row] = for {
      i <- labels; j <- labels if ord2(i, j)
    } yield org.apache.spark.sql.Row(
      i, j, dot(byLabel(i), byLabel(j)) / (norms(i) * norms(j)))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("label_a", labelType, nullable = false),
      org.apache.spark.sql.types.StructField("label_b", labelType, nullable = false),
      org.apache.spark.sql.types.StructField("cos",
        org.apache.spark.sql.types.DoubleType, nullable = false)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
  }

  private def ord2(a: Any, b: Any): Boolean =
    a.asInstanceOf[Comparable[Any]].compareTo(b) < 0

  /** Embedding near-duplicate pairs: cosine >= threshold within a blocking
    * column (block quadratic work; at scale block = LSH bucket). */
  def cosinePairsBlocked(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      blockCol: String,
      threshold: Double): DataFrame = {
    val v = df.select(col(blockCol).as("blk"), col(idCol).cast("long").as("vid"),
      vec_double(col(vecCol)).as("vec"))
      .withColumn("nrm", sqrt(dotd(col("vec"), col("vec"))))
    v.as("x").join(v.as("y"),
        col("x.blk") === col("y.blk") && col("x.vid") < col("y.vid"))
      .select(col("x.vid").as("id_a"), col("y.vid").as("id_b"),
        (dotd(col("x.vec"), col("y.vec")) / (col("x.nrm") * col("y.nrm"))).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Semantic near-dup pairs at scale: exact cosine pairs within
    * centroid-assigned clusters. [[cosinePairsBlocked]] needs a natural
    * blocking key (label, source, …); when none exists, the embedding
    * space itself provides one — assign every vector to its argmax-cosine
    * centroid ([[assignToCentroids]]: broadcast centroids, one scan) and
    * run the exact pair join inside each cluster. At 100 TB the centroids
    * come from a sample (the IVF-codebook shape: sample + Lloyd + persist)
    * and the quadratic term is bounded by the largest cluster — the same
    * blocking discipline as every dedup operator here. Near-dup pairs
    * that straddle a cluster boundary are missed by construction (the
    * recall analog of LSH banding); tighten with more centroids + a
    * second pass on cluster medoids, or use [[lshTopK]] when
    * boundary-complete recall matters more than exactness. */
  def semanticDedupPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: DataFrame,
      centroidId: String,
      centroidVec: String,
      threshold: Double): DataFrame = {
    val assigned = assignToCentroids(df, centroids, idCol, vecCol, centroidId, centroidVec)
      .select(col("vec_id").as("__vid"), col("centroid_id"))
    cosinePairsBlocked(
      df.join(assigned, col(idCol).cast("long") === col("__vid")).drop("__vid"),
      idCol, vecCol, "centroid_id", threshold)
  }

  /** Symmetric int8 quantization error report — the storage scale path for
    * ANN (4x smaller vectors than float32, 8x than float64). Per vector:
    * scale = 127 / max|x|, q_i = clamp(floor(x_i*scale + 0.5), ±127),
    * reconstruction x̂_i = q_i/scale. Per label: vector count, the worst
    * per-element absolute error, and the mean per-vector squared error.
    * Everything is row-local except the final per-label rollup, whose
    * double sums fold in pinned (vec id) order so the report is
    * bit-reproducible (same machinery as [[centroidMeans]]). floor(x+0.5)
    * is used instead of round() — round's half-even vs half-away tie rules
    * differ across engines; floor(x+0.5) doesn't. */
  def quantizeInt8Report(
      vecs: DataFrame,
      vecId: String,
      vecCol: String,
      labelCol: String): DataFrame = {
    val perVec = vecs.select(col(vecId).cast("long").as("vec_id"),
        col(labelCol).cast("long").as("label"), vec_double(col(vecCol)).as("__xs"))
      .withColumn("__m", array_max(transform(col("__xs"), x => abs(x))))
      .withColumn("__scale",
        when(col("__m") === 0.0, lit(0.0)).otherwise(lit(127.0) / col("__m")))
      .withColumn("__err", transform(col("__xs"), x => {
        val q = least(greatest(floor(x * col("__scale") + lit(0.5)), lit(-127.0)), lit(127.0))
        val xhat = when(col("__scale") === 0.0, lit(0.0)).otherwise(q / col("__scale"))
        abs(x - xhat)
      }))
      .select(col("vec_id"), col("label"),
        array_max(col("__err")).as("max_err"),
        aggregate(col("__err"), lit(0.0), (acc, e) => acc + e * e).as("sse"))
    perVec.groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        max(col("max_err")).as("max_abs_err"),
        sort_array(collect_list(struct(col("vec_id").as("i"), col("sse").as("v"))))
          .as("__xs"))
      .select(col("label"), col("n_vecs"), col("max_abs_err"),
        (aggregate(col("__xs"), lit(0.0), (acc, x) => acc + x.getField("v"))
          / col("n_vecs").cast("double")).as("mean_sse"))
  }

  /** Per-dimension winsorization report: the clip bounds (pLo/pHi linear-
    * interpolation percentiles) and how many values each would clip — the
    * outlier-robustness prepass before embedding normalization. The dims
    * explode is row-local; the percentile aggregate shuffles on the
    * dimension index (d groups regardless of corpus size), and the bounds
    * (d rows) broadcast back onto the exploded stream for the clip counts,
    * so the corpus is never shuffled. */
  def dimWinsorReport(
      vecs: DataFrame,
      vecCol: String,
      pLo: Double,
      pHi: Double): DataFrame = {
    val dims = vecs.select(posexplode(vec_double(col(vecCol))).as(Seq("__pos", "val")))
      .select((col("__pos") + 1).as("dim"), col("val"))
    val bounds = dims.groupBy(col("dim"))
      .agg(percentile(col("val"), lit(pLo)).as("p_lo"),
        percentile(col("val"), lit(pHi)).as("p_hi"))
    dims.join(broadcast(bounds), "dim")
      .groupBy(col("dim"), col("p_lo"), col("p_hi"))
      .agg(sum(when(col("val") < col("p_lo"), 1L).otherwise(0L)).as("n_below"),
        sum(when(col("val") > col("p_hi"), 1L).otherwise(0L)).as("n_above"))
      .orderBy(col("dim"))
  }

  /** Fold (pid, (n, Σx, gram)) partials into [[LloydChunks]] deterministic
    * chunk partials on executors: partials inside a chunk combine in pid
    * order, the driver folds the chunks in chunk order — bounded driver
    * intake at ANY partition count, bit-stable for a fixed partitioning. */
  private def gramChunkFold(
      parts: org.apache.spark.rdd.RDD[(Int, (Long, Array[Double], Array[Double]))],
      nParts: Int,
      dim: Int): Array[(Int, (Long, Array[Double], Array[Double]))] = {
    val chunkSize = math.max(1, (nParts + LloydChunks - 1) / LloydChunks)
    parts
      .map { case (pid, p) => (pid / chunkSize, (pid, p)) }
      .groupByKey(LloydChunks)
      .map { case (ck, it) =>
        val sorted = it.toArray.sortBy(_._1)
        val (_, (_, s0, g0)) = sorted.head
        val s = new Array[Double](s0.length)
        val g = new Array[Double](g0.length)
        var n = 0L
        sorted.foreach { case (_, (pn, ps, pg)) =>
          n += pn
          var i = 0
          while (i < s.length) { s(i) += ps(i); i += 1 }
          i = 0
          while (i < g.length) { g(i) += pg(i); i += 1 }
        }
        (ck, (n, s, g))
      }
      .collect().sortBy(_._1)
  }

  /** Cyclic Jacobi eigensolve of a symmetric matrix — fixed (p, q) sweep
    * order, so the result is deterministic for a given input. Returns
    * (eigenvalues desc, eigenvectors as rows in the same order). Driver
    * work is O(d³) per sweep at d = the embedding dimension — corpus-size
    * independent. */
  private[graft] def jacobiEig(
      cov: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val dim = cov.length
    val a = cov.map(_.clone())
    val q = Array.tabulate(dim, dim)((r, c) => if (r == c) 1.0 else 0.0)
    var sweep = 0
    var off = Double.MaxValue
    while (sweep < 64 && off > 1e-14) {
      off = 0.0
      var p = 0
      while (p < dim - 1) {
        var r = p + 1
        while (r < dim) {
          val apq = a(p)(r)
          if (math.abs(apq) > 1e-18) {
            off = math.max(off, math.abs(apq))
            val theta = (a(r)(r) - a(p)(p)) / (2.0 * apq)
            // sign convention must map theta == 0 to a FULL 45° rotation
            // (t = 1); math.signum(0) = 0 would silently skip the
            // equal-diagonal case and leave the matrix undiagonalized
            val sgn = if (theta >= 0.0) 1.0 else -1.0
            val t = sgn / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            var m = 0
            while (m < dim) {
              val amp = a(m)(p); val amq = a(m)(r)
              a(m)(p) = c * amp - s * amq
              a(m)(r) = s * amp + c * amq
              m += 1
            }
            m = 0
            while (m < dim) {
              val apm = a(p)(m); val aqm = a(r)(m)
              a(p)(m) = c * apm - s * aqm
              a(r)(m) = s * apm + c * aqm
              val qmp = q(m)(p); val qmq = q(m)(r)
              q(m)(p) = c * qmp - s * qmq
              q(m)(r) = s * qmp + c * qmq
              m += 1
            }
          }
          r += 1
        }
        p += 1
      }
      sweep += 1
    }
    val eig = (0 until dim).map(d => (a(d)(d), (0 until dim).map(q(_)(d)).toArray))
      .sortBy(-_._1)
    (eig.map(_._1).toArray, eig.map(_._2).toArray)
  }

  /** PCA / whitening report over the embedding column — the one-pass
    * 100 TB shape: every partition accumulates the d-vector sum and the
    * d×d Gram upper triangle in one sweep (a few KB per task at d = 64,
    * regardless of corpus size), the driver folds the partials in
    * partition order, solves the d×d eigensystem with cyclic Jacobi
    * (fixed sweep order — deterministic), and a second bounded pass
    * verifies the whitening actually whitens (covariance of the
    * transformed corpus ≈ I on the kept components). The report pins the
    * algebraic invariants — PSD spectrum, eigenvector orthonormality,
    * covariance reconstruction, whitened identity — as oracle-checkable
    * booleans plus exact counts; at 100 TB the cost is two scans plus a
    * 4096-double all-reduce, never a corpus-sized driver structure. */
  private[graft] case class PcaFit(
      n: Long, dim: Int, mu: Array[Double], cov: Array[Array[Double]],
      lambda: Array[Double], q: Array[Array[Double]])

  /** One-pass distributed PCA fit: per-partition (n, Σx, ΣxxT upper)
    * folded into LloydChunks deterministic chunk partials ON EXECUTORS
    * (pid-ordered inside each chunk), so the driver receives 16 partials
    * regardless of partition count — at 100k partitions a flat collect
    * would be GBs; this is KBs. Eigensolve is the d×d cyclic Jacobi. */
  private[graft] def pcaFit(
      rdd: org.apache.spark.rdd.RDD[Array[Double]], dim: Int): PcaFit = {
    def accumulate(it: Iterator[Array[Double]]): Iterator[(Int, (Long, Array[Double], Array[Double]))] = {
      val s = new Array[Double](dim)
      val g = new Array[Double](dim * (dim + 1) / 2)
      var n = 0L
      it.foreach { v =>
        var i = 0
        var o = 0
        while (i < dim) {
          s(i) += v(i)
          var j = i
          while (j < dim) { g(o) += v(i) * v(j); o += 1; j += 1 }
          i += 1
        }
        n += 1
      }
      Iterator((org.apache.spark.TaskContext.getPartitionId(), (n, s, g)))
    }
    val nParts = math.max(1, rdd.getNumPartitions)
    val partials = gramChunkFold(rdd.mapPartitions(accumulate), nParts, dim)
    val n = partials.map(_._2._1).sum
    require(n > 1, "pca needs at least two vectors")
    val sum = new Array[Double](dim)
    val gram = new Array[Double](dim * (dim + 1) / 2)
    partials.foreach { case (_, (_, ps, pg)) =>
      var i = 0
      while (i < sum.length) { sum(i) += ps(i); i += 1 }
      i = 0
      while (i < gram.length) { gram(i) += pg(i); i += 1 }
    }
    val mu = sum.map(_ / n)
    val cov = Array.ofDim[Double](dim, dim)
    var o = 0
    var i = 0
    while (i < dim) {
      var j = i
      while (j < dim) {
        val c = gram(o) / n - mu(i) * mu(j)
        cov(i)(j) = c; cov(j)(i) = c
        o += 1; j += 1
      }
      i += 1
    }
    val (lambda, q) = jacobiEig(cov)
    PcaFit(n, dim, mu, cov, lambda, q)
  }

  /** Project vectors onto the top-k principal axes (NO whitening — the
    * λ^(-1/2) scaling distorts cosine geometry; plain projection keeps
    * the dominant structure): the 8× smaller serve-side representation
    * for PCA-compressed ANN. Fit is one corpus pass + a d×d driver
    * eigensolve; the (μ, Q_k) projection broadcast is k·d doubles. */
  def pcaProject(
      vecs: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    val src = vecs.select(col(idCol).cast("long").as("__id"),
        vec_double(col(vecCol)).as("v"))
      .filter(col("v").isNotNull)
    val vecRdd = src.rdd.map(_.getSeq[Double](1).toArray)
    val dim = vecRdd.first().length
    require(k >= 1 && k <= dim, s"k must be in [1, $dim]")
    val fit = pcaFit(vecRdd, dim)
    projectWithFit(vecs, idCol, vecCol, fit, k).select(col("__id").as(idCol), col("proj"))
  }

  /** Project (id, vec) rows with an existing fit's top-k axes — the
    * device that keeps query and corpus in the SAME projected space. */
  private def projectWithFit(
      df: DataFrame, idCol: String, vecCol: String,
      fit: PcaFit, k: Int): DataFrame = {
    val spark = df.sparkSession
    val src = df.select(col(idCol).cast("long").as("__id"),
        vec_double(col(vecCol)).as("v"))
      .filter(col("v").isNotNull)
    val proj = Array.tabulate(k, fit.dim)((c, d) => fit.q(c)(d))
    val bc = spark.sparkContext.broadcast((fit.mu, proj))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("__id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("proj",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType, containsNull = false),
        nullable = false)))
    val out = src.rdd.mapPartitions { it =>
      val (bmu, bw) = bc.value
      it.map { r =>
        val v = r.getSeq[Double](1).toArray
        val y = new Array[Double](bw.length)
        var c = 0
        while (c < bw.length) {
          var d = 0.0
          var m = 0
          while (m < bmu.length) { d += bw(c)(m) * (v(m) - bmu(m)); m += 1 }
          y(c) = d; c += 1
        }
        org.apache.spark.sql.Row(r.getLong(0), y.toSeq)
      }
    }
    spark.createDataFrame(out, schema)
  }

  /** PCA-compressed ANN serve — project-filter-rerank: candidates come
    * from a brute-force scan of the kDim-projected corpus (kDim/dim of
    * the dot-product work and memory traffic of the full scan), then
    * ONLY the candM survivors per query get exact cosine on the original
    * vectors (the PQ rerank discipline with a linear projection instead
    * of codebooks). One corpus fit; queries project with the corpus's
    * (μ, Q). Exact-rerank output matches [[bruteForceTopK]]'s cos
    * bit-for-bit on every returned pair. */
  def pcaTopK(
      queries: DataFrame,
      corpus: DataFrame,
      queryId: String,
      queryVec: String,
      corpusId: String,
      corpusVec: String,
      k: Int,
      kDim: Int = 24,
      candM: Int = 100): DataFrame = {
    boundedQueryBatch(queries, "pcaTopK")
    val vecRdd = corpus.select(vec_double(col(corpusVec)).as("v"))
      .filter(col("v").isNotNull)
      .rdd.map(_.getSeq[Double](0).toArray)
    val dim = vecRdd.first().length
    require(kDim >= 1 && kDim <= dim, s"kDim must be in [1, $dim]")
    val fit = pcaFit(vecRdd, dim)
    val cp = projectWithFit(corpus, corpusId, corpusVec, fit, kDim)
      .select(col("__id").as("vec_id"), col("proj"))
    val qp = projectWithFit(queries, queryId, queryVec, fit, kDim)
      .select(col("__id").as("vec_id"), col("proj"))
    val cand = bruteForceTopK(qp, cp, "vec_id", "proj", "vec_id", "proj", candM)
      .select(col("query_id"), col("neighbor_id"))
    val q = broadcast(queries
      .select(col(queryId).cast("long").as("query_id"),
        vec_double(col(queryVec)).as("qv"))
      .withColumn("qn", sqrt(dotd(col("qv"), col("qv")))))
    val c = corpus
      .select(col(corpusId).cast("long").as("neighbor_id"),
        vec_double(col(corpusVec)).as("cv"))
      .withColumn("cn", sqrt(dotd(col("cv"), col("cv"))))
    val scored = cand.join(c, "neighbor_id").join(q, "query_id")
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dotd(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("cos"))
    rankTopK(scored, k)
      .select(col("query_id"), col("neighbor_id"), col("cos"), col("rank"))
  }

  /** Late-interaction retrieval (ColBERT MaxSim shape): each vector is a
    * bag of `subDim`-wide token sub-vectors and relevance is
    * Σ_i max_j dot(q_i, d_j) — the multi-vector scoring modern retrievers
    * use where single-vector cosine washes out token-level matches. One
    * codegen'd kernel pass per (query, doc) pair over the broadcast query
    * batch — the corpus scan stays embarrassingly parallel, and only the
    * tiny per-query top-k moves. Fold order is fixed (i asc, j asc, dot
    * left-to-right) so the oracle replays the score bit-for-bit. */
  def maxSimTopK(
      queries: DataFrame,
      corpus: DataFrame,
      queryId: String,
      queryVec: String,
      corpusId: String,
      corpusVec: String,
      k: Int,
      subDim: Int = 8): DataFrame = {
    boundedQueryBatch(queries, "maxSimTopK")
    val q = broadcast(queries
      .select(col(queryId).cast("long").as("query_id"),
        vec_double(col(queryVec)).as("qv")))
    val c = corpus
      .select(col(corpusId).cast("long").as("neighbor_id"),
        vec_double(col(corpusVec)).as("cv"))
    val scored = q.crossJoin(c)
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        graft.functions.maxsim_score(col("qv"), col("cv"), subDim).as("cos"))
    rankTopK(scored, k)
      .select(col("query_id"), col("neighbor_id"),
        col("cos").as("score"), col("rank"))
  }

  /** Maximal Marginal Relevance selection (Carbonell & Goldstein 1998):
    * per query, greedily pick `k` results balancing relevance against
    * redundancy — score(d) = λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s), ties
    * by id. The greedy is inherently sequential, so it runs on the
    * driver over a CONTRACT-BOUNDED candidate set (≤ `MaxMmrCandidates`
    * per query, from the distributed top-candM scan): the distributed
    * work is the corpus scan + the candM² candidate-pair sims, the
    * driver folds ≤ a few KB per query. All cosines come from the same
    * index-ordered dotd folds as [[bruteForceTopK]], so an engine
    * replaying the greedy over ITS OWN identically-rounded cosines picks
    * the identical set. */
  private[graft] val MaxMmrCandidates = 64

  /** The MMR driver fold is queries·candM² pair sims — bounded much
    * tighter than [[MaxQueryBatch]]; larger batches shard into calls. */
  private[graft] val MaxMmrQueries = 1024L

  def mmrSelect(
      queries: DataFrame,
      corpus: DataFrame,
      queryId: String,
      queryVec: String,
      corpusId: String,
      corpusVec: String,
      k: Int,
      candM: Int = 20,
      lambda: Double = 0.5): DataFrame = {
    require(k >= 1 && candM >= k, "need candM >= k >= 1")
    require(candM <= MaxMmrCandidates,
      s"MMR candidates per query are driver-folded — candM must be <= $MaxMmrCandidates")
    boundedQueryBatch(queries, "mmrSelect")
    // tighter than MaxQueryBatch: the driver folds queries·candM² sims
    // (candM = 64 → ~2k pairs/query); 1024 queries keeps that < 100 MB.
    // Shard a bigger reranking batch into calls — the greedy is per-query,
    // so sharding changes nothing.
    val nQ = queries.count()
    require(nQ <= MaxMmrQueries,
      s"mmrSelect folds queries x candM^2 candidate sims on the driver — " +
        s"got $nQ queries, max $MaxMmrQueries; shard the query batch")
    val spark = queries.sparkSession
    import spark.implicits._
    val cand = bruteForceTopK(queries, corpus,
      queryId, queryVec, corpusId, corpusVec, candM)
      .select(col("query_id"), col("neighbor_id"), col("cos"))
    val cv = corpus.select(col(corpusId).cast("long").as("id"),
        vec_double(col(corpusVec)).as("v"))
      .withColumn("n", sqrt(dotd(col("v"), col("v"))))
    // candidate-pair sims, per query: candM² tiny rows, same cosine folds
    val pairs = cand.as("a").join(cand.as("b"), Seq("query_id"))
      .filter(col("a.neighbor_id") < col("b.neighbor_id"))
      .join(cv.select(col("id").as("__ia"), col("v").as("va"), col("n").as("na")),
        col("a.neighbor_id") === col("__ia"))
      .join(cv.select(col("id").as("__ib"), col("v").as("vb"), col("n").as("nb")),
        col("b.neighbor_id") === col("__ib"))
      .select(col("query_id"), col("a.neighbor_id").as("ia"),
        col("b.neighbor_id").as("ib"),
        (dotd(col("va"), col("vb")) / (col("na") * col("nb"))).as("sim"))
    val rels = cand.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1)
    val sims = pairs.collect()
      .map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)), r.getDouble(3)))
      .toMap
    def simOf(q: Long, a: Long, b: Long): Double =
      if (a == b) 1.0
      else sims.getOrElse((q, math.min(a, b), math.max(a, b)), 0.0)
    val out = rels.toSeq.sortBy(_._1).flatMap { case (q, cs) =>
      val rel = cs.map(c => c._2 -> c._3).toMap
      val selected = scala.collection.mutable.ArrayBuffer.empty[Long]
      while (selected.size < math.min(k, rel.size)) {
        val best = rel.keysIterator
          .filterNot(selected.contains)
          .map { d =>
            val red = if (selected.isEmpty) 0.0
              else selected.iterator.map(s => simOf(q, d, s)).max
            (lambda * rel(d) - (1.0 - lambda) * red, d)
          }
          // argmax with id tiebreak — identical to ORDER BY score DESC, id
          .reduceLeft((x, y) =>
            if (y._1 > x._1 || (y._1 == x._1 && y._2 < x._2)) y else x)
        selected += best._2
      }
      selected.toSeq.zipWithIndex.map { case (d, i) =>
        (q, (i + 1), d, rel(d))
      }
    }
    out.toDF("query_id", "sel_rank", "doc_id", "rel")
  }

  /** Contrastive-pair mining (the embedding-training data prep): per
    * query, the best SAME-label neighbor (positive) and the
    * highest-ranked DIFFERENT-label neighbor (hard negative — the
    * near-miss that actually teaches the margin, not a random negative).
    * One broadcast top-candM scan; the per-query first-of-each-side pick
    * is a tiny window over ≤ candM rows. Queries whose candidate window
    * lacks one of the sides are dropped (both sides required). */
  def hardNegatives(
      queries: DataFrame,
      corpus: DataFrame,
      queryId: String,
      queryVec: String,
      corpusId: String,
      corpusVec: String,
      labelCol: String,
      candM: Int = 50): DataFrame = {
    boundedQueryBatch(queries, "hardNegatives")
    val labels = corpus.select(col(corpusId).cast("long").as("neighbor_id"),
      col(labelCol).as("__nl"))
    val qLabels = queries.select(col(queryId).cast("long").as("query_id"),
      col(labelCol).as("__ql"))
    val ranked = bruteForceTopK(queries, corpus,
        queryId, queryVec, corpusId, corpusVec, candM)
      .join(labels, "neighbor_id")
      .join(broadcast(qLabels), "query_id")
    val firstOf = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"), col("__same"))
      .orderBy(col("rank"))
    val sides = ranked
      .withColumn("__same", col("__nl") === col("__ql"))
      .withColumn("__rn", row_number().over(firstOf))
      .filter(col("__rn") === 1)
    val pos = sides.filter(col("__same"))
      .select(col("query_id"), col("neighbor_id").as("pos_id"),
        col("cos").as("pos_cos"))
    val neg = sides.filter(!col("__same"))
      .select(col("query_id"), col("neighbor_id").as("neg_id"),
        col("cos").as("neg_cos"))
    pos.join(neg, "query_id")
      .select(col("query_id"), col("pos_id"), col("pos_cos"),
        col("neg_id"), col("neg_cos"))
  }

  def pcaWhitenReport(
      vecs: DataFrame,
      vecCol: String,
      k: Int): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val rdd = vecs.select(vec_double(col(vecCol)).as("v"))
      .filter(col("v").isNotNull)
      .rdd.map(_.getSeq[Double](0).toArray)
    val dim = rdd.first().length
    require(k >= 1 && k <= dim, s"k must be in [1, $dim]")
    val nParts = math.max(1, rdd.getNumPartitions)
    val fit = pcaFit(rdd, dim)
    val n = fit.n
    val mu = fit.mu
    val cov = fit.cov
    val lambda = fit.lambda
    val vecsQ = fit.q

    // invariants
    val covScale = math.max(1e-30, cov.map(_.map(math.abs).max).max)
    val psd = lambda.forall(_ >= -1e-8 * covScale)
    var orthoErr = 0.0
    var i = 0
    while (i < dim) {
      var j = 0
      while (j < dim) {
        var d = 0.0
        var m = 0
        while (m < dim) { d += vecsQ(i)(m) * vecsQ(j)(m); m += 1 }
        orthoErr = math.max(orthoErr, math.abs(d - (if (i == j) 1.0 else 0.0)))
        j += 1
      }
      i += 1
    }
    var reconErr = 0.0
    i = 0
    while (i < dim) {
      var j = 0
      while (j < dim) {
        var d = 0.0
        var m = 0
        while (m < dim) { d += vecsQ(m)(i) * lambda(m) * vecsQ(m)(j); m += 1 }
        reconErr = math.max(reconErr, math.abs(d - cov(i)(j)))
        j += 1
      }
      i += 1
    }

    // pass 2: whitened covariance on the top-k components must be ≈ I
    val lamEps = 1e-12 * covScale
    val w = Array.tabulate(k, dim) { (c, d) =>
      val l = math.max(lambda(c), lamEps)
      vecsQ(c)(d) / math.sqrt(l)
    }
    val bcW = spark.sparkContext.broadcast((mu, w))
    val wParts = rdd.mapPartitions { it =>
      val (bmu, bw) = bcW.value
      val kk = bw.length
      val g = new Array[Double](kk * (kk + 1) / 2)
      var cnt = 0L
      it.foreach { v =>
        val y = new Array[Double](kk)
        var c = 0
        while (c < kk) {
          var d = 0.0
          var m = 0
          while (m < bmu.length) { d += bw(c)(m) * (v(m) - bmu(m)); m += 1 }
          y(c) = d; c += 1
        }
        var o2 = 0
        c = 0
        while (c < kk) {
          var j = c
          while (j < kk) { g(o2) += y(c) * y(j); o2 += 1; j += 1 }
          c += 1
        }
        cnt += 1
      }
      Iterator((org.apache.spark.TaskContext.getPartitionId(),
        (cnt, new Array[Double](0), g)))
    }
    val wPartials = gramChunkFold(wParts, nParts, dim)
    val wg = new Array[Double](k * (k + 1) / 2)
    wPartials.foreach { case (_, (_, _, pg)) =>
      var m = 0
      while (m < wg.length) { wg(m) += pg(m); m += 1 }
    }
    var whitenErr = 0.0
    var o = 0
    i = 0
    while (i < k) {
      var j = i
      while (j < k) {
        whitenErr = math.max(whitenErr,
          math.abs(wg(o) / n - (if (i == j) 1.0 else 0.0)))
        o += 1; j += 1
      }
      i += 1
    }
    bcW.unpersist(false)

    val total = lambda.map(math.max(_, 0.0)).sum
    val topK = lambda.take(k).map(math.max(_, 0.0)).sum
    Seq((n, dim, k,
      psd,
      orthoErr < 1e-8,
      reconErr < 1e-7 * covScale,
      whitenErr < 1e-6,
      total > 0.0 && topK > 0.0 && topK <= total * (1.0 + 1e-12)))
      .toDF("n_vecs", "dim", "k", "psd", "orthonormal", "reconstructs",
        "whitened_identity", "var_frac_ok")
  }
}
