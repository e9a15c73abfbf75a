package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>`).
  *
  * Arithmetic discipline: every dot product is a *left fold in double
  * precision* (`aggregate(zip_with(...))`) — float→double promotion is
  * exact and the fold order is fixed, so scores are bit-reproducible
  * across runs, partitionings, and engines (oracle-checkable).
  * All per-vector work is row-local HOF code; the only shuffles are the
  * top-k merge (tiny: partitions × k rows) and the candidate joins. */
object Similarity {

  /** Deterministic double-precision dot product of two float vectors.
    * Native codegen'd expression (graft.functions.FloatVectorDot) — the
    * HOF form [[dotHof]] computes the identical left fold but runs
    * interpreted (~100 boxed lambda calls per pair at dim 64). */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorExprs.floatDot(a, b)

  /** Reference HOF implementation of [[dot]] — kept as the executable
    * specification (bit-identical results) and for engines without the
    * native expression. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** L2 norm, same fold discipline. */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** cosine = dot / (‖a‖·‖b‖) — computed exactly in this form (norms
    * pre-rooted before multiplying) so oracles can reproduce it. */
  def cosine(a: Column, b: Column, normA: Column, normB: Column): Column =
    dot(a, b) / (normA * normB)

  /** Brute-force cosine top-k: for each query vector, the k nearest
    * corpus vectors by (cosine DESC, id ASC).
    *
    * Two-phase distributed top-k — the pattern that survives a 1000-way
    * corpus: (1) per (query, input-partition) local top-k via partial
    * `min(struct)`-style aggregation of sorted slices, (2) merge the
    * partitions×k survivors per query. No global sort, no window over the
    * full cross product, and the queries side is broadcast.
    *
    * SCALE GUARDRAIL: broadcasting the query side silently assumes it
    * fits in every executor's memory. `maxBroadcastQueries` makes that
    * assumption explicit — a bounded `limit(max+1).count()` probe on the
    * (small) query side, noise next to the |queries|·|corpus| scoring
    * pass, skipped entirely when the limit is `Long.MaxValue` (callers
    * composing the result lazily opt out that way). A query set too
    * large to broadcast means this operator is the wrong tool: hand off
    * to the bucketed scale paths ([[annTopK]] / [[ivfTopK]]), which
    * shuffle candidates through an equi-join instead of replicating the
    * queries. */
  def cosineTopK(queries: DataFrame, corpus: DataFrame, id: String,
                 vec: String, k: Int,
                 maxBroadcastQueries: Long = 500000L,
                 materializeCorpusNorms: Boolean = false): DataFrame = {
    val nQ = requireBounded("cosineTopK", "query", queries,
      maxBroadcastQueries, "maxBroadcastQueries",
      "use annTopK or ivfTopK for large query sets, raise the limit " +
        "explicitly, or pass Long.MaxValue to keep the plan fully lazy")
    val q = queries.select(col(id).as("q_id"), col(vec).as("q_vec"),
      norm(col(vec)).as("q_norm"))
    // Under the BNLJ there is no exchange to materialize the streamed
    // side's projection (the q120 lesson): c_norm lands in the post-join
    // project and re-evaluates PER PAIR — d extra multiplies × |queries|
    // per corpus row. Negligible for small query sets (the common case;
    // persisting the corpus would cost corpus-scale storage), dominant
    // when |queries| ≈ |corpus| (mutual-kNN) — opt in to persist the
    // (id, vec, norm) projection so the scan READS the norm instead.
    //
    // And there is no exchange to PARALLELIZE the scoring either (the
    // editDistancePairs lesson, r16): a broadcast-joined plan runs at
    // the input's split count — ONE split for a small/local corpus file,
    // serializing the |queries|·|corpus| scoring pass on one core
    // (measured: q166's all-pairs pass 2.2 s in one task). For LARGE
    // query sets, pin a deterministic id-hash exchange (see
    // pinIfManyQueries — measured −0.67 s paired at |q| = 2000, +0.39 s
    // at |q| = 200, so the pin is count-gated).
    val c0 = pinIfManyQueries(
      corpus.select(col(id).as("c_id"), col(vec).as("c_vec"),
        norm(col(vec)).as("c_norm")),
      col("c_id"), nQ)
    val c = if (materializeCorpusNorms) Caches.track(c0.persist()) else c0
    val scored = c.join(broadcast(q), col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        cosine(col("q_vec"), col("c_vec"), col("q_norm"), col("c_norm")).as("cos"))
    topKMerge(scored, k)
  }

  /** Margin-based bitext / nearest-neighbor pair mining (Artetxe &
    * Schwenk's ratio-margin criterion, the standard parallel-pair miner
    * for training-data pipelines): a forward neighbor y of x is a
    * strong match not when cos(x, y) is high in absolute terms but when
    * it stands out against BOTH points' neighborhoods —
    * `margin(x, y) = sim(x, y) / mean(NNk sims of x in tgt ∪ NNk sims
    * of y in src)`. Hubs (points similar to everything) get discounted;
    * isolated true pairs rise.
    *
    * Cross-engine determinism discipline: similarities are the rounded
    * cosines the top-k family already hash-checks, SHIFTED to
    * `1 + cos ∈ [0, 2]` so the ratio is division-safe on arbitrary
    * (unnormalized, sign-indefinite) embedding spaces, then floored
    * onto the 10⁶ integer grid — neighborhood masses are exact int64
    * SUMS (order-free), and the single final division of two identical
    * int64s yields identical doubles in every engine. The denominator
    * averages each side's mass over its ACTUAL neighbor count (`margin
    * = 2·sim·nA·nB / (massA·nB + massB·nA)`, all-int64 numerator and
    * denominator) — when both sides have full `kNbr` neighborhoods
    * this is identical to the fixed-2k form, and when a side is
    * SHORTER than `kNbr` the mean is still a mean (the fixed-2k form
    * silently inflated margins there — r12 advice). Output per src
    * item: top `k` of its `kNbr` forward neighbors by margin DESC then
    * tgt id ASC — `(a_id, rank, b_id, cos, margin)` with margin rounded
    * to 6.
    *
    * Scale shape: two brute top-k passes (src→tgt and tgt→src — each
    * side broadcasts once, so BOTH sides are bounded by the guardrail;
    * at corpus scale use [[bitextMineTopKAnn]] — ANN nomination +
    * exact rescore, recall-evaluated the q227 way). BOTH passes are
    * persisted: fwd feeds two consumers; bwd only one, but the r13
    * BenchAB kept its persist by measurement (see the inline note).
    * Everything after is
    * |src|·kNbr-bounded. Ids of the two sides may overlap freely — no
    * self-exclusion applies across corpora (mining x against a tgt
    * copy of itself is [[mutualKnnPairs]]' job, not this one). */
  def bitextMineTopK(src: DataFrame, tgt: DataFrame, id: String,
                     vec: String, k: Int, kNbr: Int,
                     maxBroadcastSide: Long = 500000L): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(kNbr >= k, s"kNbr ($kNbr) must be >= k ($k)")
    val nSrc = requireBounded("bitextMineTopK", "src", src,
      maxBroadcastSide, "maxBroadcastSide", "mine in src batches")
    val nTgt = requireBounded("bitextMineTopK", "tgt", tgt,
      maxBroadcastSide, "maxBroadcastSide",
      "nominate with an ANN composition and rescore, or raise the limit")
    // count-gated id-hash exchanges before the two per-row-heavy BNLJ
    // passes (each STREAMS the other corpus side; the broadcast side's
    // row count gates its pin) — the cosineTopK parallelism rule (r16)
    val a = pinIfManyQueries(
      src.select(col(id).cast("long").as("a_id"),
        col(vec).as("a_vec"), norm(col(vec)).as("a_norm")),
      col("a_id"), nTgt)
    val b = pinIfManyQueries(
      tgt.select(col(id).cast("long").as("b_id"),
        col(vec).as("b_vec"), norm(col(vec)).as("b_norm")),
      col("b_id"), nSrc)
    val fwd = Caches.track(topKMerge(
      b.join(broadcast(a), lit(true))
        .select(col("a_id").as("q_id"), col("b_id").as("c_id"),
          cosine(col("a_vec"), col("b_vec"), col("a_norm"),
            col("b_norm")).as("cos")),
      kNbr).persist())
    // bwd has a SINGLE consumer (its mass aggregate), where the
    // persist-pays rule predicts dead weight — but the r13 BenchAB
    // measured the persisted form consistently FASTER (paired +0.13 s
    // of 0.93 s at sf0.1, positive in every interleaved round): the
    // materialized kNbr-bounded top-k table is tiny, and the margin
    // join plans better off it than off the inlined shuffle+mapGroups
    // chain. Measurement beats the rule; it stays persisted.
    val bwd = Caches.track(topKMerge(
      a.join(broadcast(b), lit(true))
        .select(col("b_id").as("q_id"), col("a_id").as("c_id"),
          cosine(col("a_vec"), col("b_vec"), col("a_norm"),
            col("b_norm")).as("cos")),
      kNbr).persist())
    bitextMarginChain(fwd, bwd, k)
  }

  /** The margin arithmetic both bitext forms share, over precomputed
    * per-direction neighbor tables in [[topKMerge]] shape — `fwd` keyed
    * by src (`q_id` = a, `neighbor_id` = b), `bwd` keyed by tgt. All
    * int64 until ONE final division (see [[bitextMineTopK]]'s
    * determinism note); masses normalized by each side's actual
    * neighbor count. Callers persist both inputs (fwd: two consumers;
    * bwd: one, kept persisted by the r13 BenchAB measurement). */
  private[graft] def bitextMarginChain(fwd: DataFrame, bwd: DataFrame,
                                       k: Int): DataFrame = {
    def shifted(c: Column): Column =
      floor((lit(1.0) + c) * lit(1000000.0)).cast("long")
    val massA = fwd.groupBy(col("q_id").as("a_id"))
      .agg(sum(shifted(col("cos"))).as("__ma"),
        count(lit(1)).as("__na"))
    val massB = bwd.groupBy(col("q_id").as("b_id"))
      .agg(sum(shifted(col("cos"))).as("__mb"),
        count(lit(1)).as("__nb"))
    val cand = fwd
      .select(col("q_id").as("a_id"), col("neighbor_id").as("b_id"),
        col("cos"), shifted(col("cos")).as("__s"))
      .join(massA, Seq("a_id"))
      .join(massB, Seq("b_id"))
      .withColumn("margin",
        round((col("__s") * 2 * col("__na") * col("__nb")).cast("double") /
          greatest(col("__ma") * col("__nb") + col("__mb") * col("__na"),
            lit(1L)), 6))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("a_id")).orderBy(col("margin").desc, col("b_id"))
    cand.withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= k)
      .select(col("a_id"), col("rank"), col("b_id"), col("cos"),
        col("margin"))
  }

  /** Corpus-scale bitext mining — the ANN-nominated form
    * [[bitextMineTopK]]'s scaladoc promises: each direction's `kNbr`
    * neighborhood comes from a [[CandidateGen]] (e.g.
    * [[ivfSq8Candidates]] with a pool ≥ kNbr) instead of a brute
    * broadcast pass, EXACT float cosines re-score the candidates only
    * (the [[refineTopK]] discipline — scoring cost ∝ candidate pool,
    * never |src|·|tgt|), and the int64 margin chain is unchanged. When
    * the generators recall every true neighbor the output is
    * bit-identical to [[bitextMineTopK]] (spec-pinned); in general the
    * recall/cost point is the generator's — measured by the q232
    * recall eval row exactly as q227 does for dense PRF.
    *
    * Self-pair convention: the shared generators exclude `q_id ==
    * c_id` (the intra-corpus rule), so sides whose id spaces OVERLAP
    * would lose the (x, x) cross-corpus candidate that the brute form
    * keeps — use disjoint id spaces (the normal bitext setup) or the
    * brute/batched form. */
  def bitextMineTopKAnn(src: DataFrame, tgt: DataFrame, id: String,
                        vec: String, k: Int, kNbr: Int,
                        fwdGen: CandidateGen,
                        bwdGen: CandidateGen): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(kNbr >= k, s"kNbr ($kNbr) must be >= k ($k)")
    val scorer = exactCosineScorer(id, vec)
    val fwd = Caches.track(
      topKMerge(scorer(fwdGen(src, tgt), src, tgt), kNbr).persist())
    val bwd = Caches.track(
      topKMerge(scorer(bwdGen(tgt, src), tgt, src), kNbr).persist())
    bitextMarginChain(fwd, bwd, k)
  }

  /** Shared two-phase top-k: input (q_id, c_id, cos) → (q_id, rank, c_id,
    * cos rounded to 6). Deterministic total order (cos DESC, c_id ASC).
    *
    * Phase 1 runs a bounded heap per query inside each partition —
    * memory O(|queries|·k) regardless of partition size. (A
    * `collect_list`-then-slice formulation materializes EVERY candidate
    * of a (query, partition) group before slicing — at a 100 TB corpus
    * that is an unbounded array per group and the OOM path.) Phase 2
    * shuffles only the |partitions|·|queries|·k survivors and merges. */
  private[graft] def topKMerge(scored: DataFrame, k: Int): DataFrame = {
    import scored.sparkSession.implicits._
    // pops the WORST kept candidate first: smaller cos = worse, then
    // larger id = worse
    val worstFirst: Ordering[(Double, Long)] =
      Ordering.by { case (cos, id) => (-cos, id) }
    def keep(heaps: scala.collection.mutable.HashMap[Long, scala.collection.mutable.PriorityQueue[(Double, Long)]],
             q: Long, cand: (Double, Long)): Unit = {
      val h = heaps.getOrElseUpdate(q,
        scala.collection.mutable.PriorityQueue.empty(worstFirst))
      if (h.size < k) h.enqueue(cand)
      else if (worstFirst.compare(cand, h.head) < 0) { h.dequeue(); h.enqueue(cand) }
    }
    val typed = scored.select(col("q_id").cast("long"), col("c_id").cast("long"),
      col("cos").cast("double")).as[(Long, Long, Double)]
    val local = typed.mapPartitions { it =>
      val heaps = scala.collection.mutable.HashMap
        .empty[Long, scala.collection.mutable.PriorityQueue[(Double, Long)]]
      it.foreach { case (q, c, s) => keep(heaps, q, (s, c)) }
      heaps.iterator.flatMap { case (q, h) =>
        h.iterator.map { case (s, c) => (q, c, s) } }
    }
    local.groupByKey(_._1).flatMapGroups { (q, rows) =>
      // worstFirst ascending = better-first (smaller (-cos, id) = better)
      rows.map { case (_, c, s) => (s, c) }.toSeq
        .sorted(worstFirst).take(k).zipWithIndex
        .map { case ((s, c), i) => (q, i + 1, c, s) }.iterator
    }.toDF("q_id", "rank", "neighbor_id", "cos")
      .select(col("q_id"), col("rank"), col("neighbor_id"),
        round(col("cos"), 6).as("cos"))
  }

  /** SCALE GUARDRAIL shared by the two brute-force operators: reject an
    * input too large for a quadratic/broadcast plan BEFORE building it.
    * The probe is a `limit(max+1).count()` — it stops as soon as max+1
    * rows are found, never a full scan — and is skipped only for the
    * explicit `Long.MaxValue` opt-out (the "I know what I'm doing"
    * escape hatch that also keeps the builder fully lazy for composing
    * callers). A limit at/above Int.MaxValue that is NOT the opt-out is
    * rejected outright: the probe cannot bound it, and silently
    * disabling the guard would be worse than an error. */
  /** Returns the probed row count (exact when it passed the guard), or
    * -1 when the guardrail is disabled (`Long.MaxValue` = fully lazy —
    * no probe job runs, so the count is unknown). The count is free
    * attribution the bounded ops reuse for the parallelism-pin decision
    * below. */
  private def requireBounded(op: String, side: String, df: DataFrame,
                             maxRows: Long, limitName: String,
                             alternative: String): Long =
    if (maxRows != Long.MaxValue) {
      require(maxRows < Int.MaxValue,
        s"$op: $limitName=$maxRows is above the probe-able range " +
          s"(>= Int.MaxValue); pass Long.MaxValue to disable the " +
          "guardrail explicitly, or a bound below Int.MaxValue")
      val probed = df.limit(maxRows.toInt + 1).count()
      require(probed <= maxRows,
        s"$op is a brute-force operator, but its $side side has at least " +
          s"$probed rows (> $limitName=$maxRows); $alternative")
      probed
    } else -1L

  /** Query-count threshold above which the brute BNLJ scorers pin a
    * deterministic id-hash exchange on the streamed (corpus) side
    * before scoring (the editDistancePairs parallelism lesson: a
    * broadcast-joined plan runs at the input's split count — ONE split
    * for a small/local corpus file, serializing the scoring pass).
    * The exchange costs one corpus-row move; the scoring stage computes
    * |queries| fused d-term dots per row, so the pin pays exactly when
    * the query side is large — measured at sf0.1 (r16, interleaved
    * BenchAB): |q| = 2000 (mutual-kNN) −0.67 s paired, |q| = 200 (q19)
    * +0.39 s paired. 1024 sits in the measured crossover band; ops
    * whose query side is unprobed (fully-lazy callers) never pin. */
  private val PinParallelismMinQueries = 1024L

  /** Pin the compute parallelism of a per-row-heavy BNLJ scoring pass
    * when the (probed) query side is large enough to pay for the
    * exchange — no-op for small or unknown query counts. Explicit-n
    * repartition ⇒ exempt from AQE's byte-based coalescing (which
    * re-serializes KB-sized exchanges feeding compute-bound stages). */
  private def pinIfManyQueries(df: DataFrame, key: Column,
                               nQueries: Long): DataFrame =
    if (nQueries >= PinParallelismMinQueries)
      df.repartition(
        df.sparkSession.sessionState.conf.numShufflePartitions, key)
    else df

  /** Near-duplicate pairs by embedding cosine ≥ threshold, brute force
    * over the full pair space a<b. Quadratic — correct baseline and the
    * verification step; the scale path buckets candidates first
    * (random-hyperplane LSH, [[hyperplaneLshPairs]]).
    *
    * SCALE GUARDRAIL: the a<b theta self-join plans as a nested loop over
    * the full |df|² pair space — `maxRows` makes the smallness assumption
    * explicit, exactly like [[cosineTopK]]'s `maxBroadcastQueries`. */
  def cosineNearDupPairs(df: DataFrame, id: String, vec: String,
                         threshold: Double,
                         maxRows: Long = 500000L): DataFrame = {
    requireBounded("cosineNearDupPairs", "input", df, maxRows, "maxRows",
      "use hyperplaneLshPairs (bucketed candidate generation) for large " +
        "corpora, raise the limit explicitly, or pass Long.MaxValue to " +
        "keep the plan fully lazy")
    val v = df.select(col(id), col(vec), norm(col(vec)).as("nrm"))
    val a = v.select(col(id).as("a_id"), col(vec).as("a_vec"), col("nrm").as("a_nrm"))
    val b = v.select(col(id).as("b_id"), col(vec).as("b_vec"), col("nrm").as("b_nrm"))
    a.join(b, col("a_id") < col("b_id"))
      .withColumn("cos", round(
        cosine(col("a_vec"), col("b_vec"), col("a_nrm"), col("b_nrm")), 6))
      .filter(col("cos") >= threshold)
      .select("a_id", "b_id", "cos")
  }

  /** Random-hyperplane (sign) LSH bucket key: `numPlanes` sign bits of
    * projections onto fixed pseudo-random hyperplanes. Vectors in the same
    * bucket are cosine-close with high probability. Row-local; native
    * codegen'd projection. Plane component for (plane j, dim d) is the
    * Knuth multiplicative hash `((j·8191 + d)·2654435761 mod (2^31−1))
    * / (2^31−1) − 0.5` — exact integer→double arithmetic, reproducible
    * in any engine (see graft.functions.HyperplaneProjection). */
  def hyperplaneBucket(vec: Column, numPlanes: Int): Column =
    (0 until numPlanes).map { j =>
      val proj = graft.functions.VectorExprs.hyperplaneProjection(vec, lit(j))
      when(proj >= 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** ANN top-k — the scale path for [[cosineTopK]]: hyperplane-LSH
    * bucketing with multi-probe (the query's own bucket plus all
    * one-bit-flip neighbors, numPlanes+1 probes), exact cosine ranking
    * within the candidate set only. Candidate volume ≈
    * |queries|·(numPlanes+1)·avg-bucket-size instead of
    * |queries|·|corpus| — at a 10⁹-vector corpus this is the difference
    * between a bucketed equi-join and an unrunnable cross product.
    * Approximate: recall < 1 by construction; raise numPlanes probes or
    * add band tables for recall. Deterministic (fixed hyperplanes),
    * hence oracle-checkable. */
  def annTopK(queries: DataFrame, corpus: DataFrame, id: String,
              vec: String, k: Int, numPlanes: Int): DataFrame = {
    val q = queries.select(col(id).as("q_id"), col(vec).as("q_vec"),
      norm(col(vec)).as("q_norm"),
      hyperplaneBucket(col(vec), numPlanes).as("q_bucket"))
    val probes = q.select(col("q_id"), col("q_vec"), col("q_norm"),
      explode(array(col("q_bucket") +:
        (0 until numPlanes).map(j => col("q_bucket").bitwiseXOR(1L << j)): _*))
        .as("probe"))
    val c = corpus.select(col(id).as("c_id"), col(vec).as("c_vec"),
      norm(col(vec)).as("c_norm"),
      hyperplaneBucket(col(vec), numPlanes).as("c_bucket"))
    val cand = probes.join(c,
        col("probe") === col("c_bucket") && col("q_id") =!= col("c_id"))
      .dropDuplicates("q_id", "c_id") // a pair can match via several probes
    val scored = cand.select(col("q_id"), col("c_id"),
      cosine(col("q_vec"), col("c_vec"), col("q_norm"), col("c_norm")).as("cos"))
    topKMerge(scored, k)
  }

  /** IVF-style ANN top-k: a deterministic coarse quantizer (centroids =
    * every `centroidStride`-th corpus vector; [[trainIvfCentroids]]
    * produces the k-means-refined table for [[ivfTopKWith]]) partitions
    * the corpus into cells; each query probes its `nProbe` best cells and
    * ranks exactly within them. Candidate volume ≈
    * |queries|·nProbe·avg-cell-size. The centroid table is broadcast (it
    * is small by construction); the per-query cell ranking collects at
    * most |centroids| structs. Deterministic (fixed centroids, fixed
    * tie-breaks) → oracle-checkable. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, id: String, vec: String,
              k: Int, centroidStride: Int, nProbe: Int): DataFrame = {
    val cent = corpus.filter(pmod(col(id), lit(centroidStride)) === 0)
      .select(col(id).as("cent_id"), col(vec).as("cent_vec"),
        norm(col(vec)).as("cent_norm"))
    ivfTopKWith(queries, corpus, id, vec, k, cent, nProbe)
  }

  /** [[ivfTopK]] against an explicit centroid table
    * `(cent_id, cent_vec, cent_norm)` — e.g. the [[trainIvfCentroids]]
    * output. */
  def ivfTopKWith(queries: DataFrame, corpus: DataFrame, id: String,
                  vec: String, k: Int, cent: DataFrame, nProbe: Int): DataFrame = {
    val c = corpus.select(col(id).as("c_id"), col(vec).as("c_vec"),
      norm(col(vec)).as("c_norm"))
    val assigned = assignCells(c, cent)
    val q = queries.select(col(id).as("q_id"), col(vec).as("q_vec"),
      norm(col(vec)).as("q_norm"))
    // nProbe best cells per query (bounded by |centroids|)
    val probes = q.crossJoin(broadcast(cent))
      .select(col("q_id"),
        cosine(col("q_vec"), col("cent_vec"), col("q_norm"), col("cent_norm"))
          .as("qcos"), col("cent_id"))
      .groupBy(col("q_id"))
      .agg(slice(array_sort(collect_list(
        struct((-col("qcos")).as("n"), col("cent_id")))), 1, nProbe).as("cells"))
      .select(col("q_id"), explode(col("cells.cent_id")).as("cell"))
    val scored = probes.join(q, "q_id")
      .join(assigned, Seq("cell"))
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        cosine(col("q_vec"), col("c_vec"), col("q_norm"), col("c_norm")).as("cos"))
    topKMerge(scored, k)
  }

  /** Assign each `(c_id, c_vec, c_norm)` vector to its best centroid cell
    * (max cosine, tie → larger cent_id — the `max(struct)` order). One
    * broadcast of the tiny centroid table + one row-local scoring pass +
    * one partial-aggregated reduce per vector; shared by [[ivfTopKWith]]
    * (IVF search) and [[semanticNearDupPairs]] (semantic dedup). */
  private[graft] def assignCells(c: DataFrame, cent: DataFrame): DataFrame =
    c.crossJoin(broadcast(cent))
      .select(col("c_id"), col("c_vec"), col("c_norm"), col("cent_id"),
        cosine(col("c_vec"), col("cent_vec"), col("c_norm"), col("cent_norm"))
          .as("ccos"))
      .groupBy(col("c_id"))
      .agg(max(struct(col("ccos"), col("cent_id"), col("c_vec"), col("c_norm")))
        .as("b"))
      .select(col("c_id"), col("b.cent_id").as("cell"),
        col("b.c_vec").as("c_vec"), col("b.c_norm").as("c_norm"))

  /** IVF cluster-quality report — the "is my quantizer healthy" panel
    * read before trusting an index build: per trained cell, its member
    * count and corpus share (a dominant cell re-creates the quadratic
    * blowup semantic dedup and IVF pruning exist to avoid — the signal
    * to raise k or split the cell), plus exact int64 L2 cohesion on the
    * dyadic grid (`dd_j = floor(x_j·2¹²) − floor(c_j·2¹²)`, both sides
    * exact: float·2¹² is exact in double, and the trained centroid's
    * floats are dyadic rationals) — sum/max/mean squared distance to
    * the OWN-cell centroid; a cell whose mean dwarfs the others is a
    * junk-drawer cell. Shape: one assignment pass, one posexplode
    * groupBy (n·d rows collapse to n, map-side combinable), a
    * |cells|-row rollup with a broadcast 1-row total. Output:
    * `(cell, n, share_bp, sum_d2, max_d2, mean_d2)`; empty cells are
    * absent (their row would be all zeros). */
  def cellQualityReport(df: DataFrame, id: String, vec: String,
                        cent: DataFrame): DataFrame = {
    val c = df.select(col(id).as("c_id"), col(vec).as("c_vec"),
      norm(col(vec)).as("c_norm"))
    val asg = assignCells(c, cent)
    val centExploded = cent.select(col("cent_id").as("cell"),
        posexplode(col("cent_vec")).as(Seq("j", "cx")))
      .select(col("cell"), col("j"),
        floor(col("cx").cast("double") * 4096).cast("long").as("cq"))
    val d2 = asg
      .select(col("cell"), col("c_id"),
        posexplode(col("c_vec")).as(Seq("j", "x")))
      .join(broadcast(centExploded), Seq("cell", "j"))
      .select(col("cell"), col("c_id"),
        (floor(col("x").cast("double") * 4096).cast("long") - col("cq"))
          .as("dd"))
      .groupBy(col("cell"), col("c_id"))
      .agg(sum(col("dd") * col("dd")).as("d2"))
    val per = d2.groupBy(col("cell"))
      .agg(count(lit(1)).as("n"), sum(col("d2")).as("sum_d2"),
        max(col("d2")).as("max_d2"))
    val tot = per.agg(sum(col("n")).as("__t"))
    per.crossJoin(broadcast(tot))
      .select(col("cell"), col("n"),
        expr("(10000 * n) div __t").as("share_bp"),
        col("sum_d2"), col("max_d2"),
        expr("sum_d2 div n").as("mean_d2"))
  }

  /** Automatic WHALE-CELL re-split (r15 verdict item 5) — the action
    * wired to [[cellQualityReport]]'s dominant-cell alarm: a cell
    * holding more than `maxShareBp` basis points of the corpus
    * re-creates the Σ_cell |cell|² quadratic blowup that semantic
    * dedup and IVF pruning exist to avoid, so each such cell is
    * re-quantized with a `splitK`-way second-level Lloyd's
    * ([[trainIvfCentroids]], the SAME deterministic trainer) over ITS
    * MEMBERS ONLY, and its centroid is replaced by the children.
    * Children get fresh ids above the current max (deterministic:
    * whales ascend, children ordered by their training label), so
    * downstream assignment/oracle conventions (max-cos, larger-id
    * tie-break) are untouched. One round; loop with a fresh
    * [[cellQualityReport]] until quiet if one split isn't enough.
    *
    * Scale shape: one assignment pass (persisted — consumed by the
    * count rollup and every whale's member filter), a |cells|-row
    * count collect, then per whale an artifact-sized k-means over the
    * whale's members. The whale count is bounded by construction
    * (at most 10000/maxShareBp cells can exceed the share), so the
    * driver loop is O(1) per corpus. Returns the refined
    * `(cent_id, cent_vec, cent_norm)` — the input table unchanged when
    * no cell exceeds the share. */
  def splitWhaleCells(df: DataFrame, id: String, vec: String,
                      cent: DataFrame, maxShareBp: Long,
                      splitK: Int = 2, iters: Int = 1): DataFrame = {
    require(maxShareBp >= 1 && maxShareBp <= 9999,
      s"maxShareBp must be in [1, 9999], got $maxShareBp")
    require(splitK >= 2 && iters >= 0,
      s"need splitK >= 2, iters >= 0; got splitK=$splitK iters=$iters")
    import df.sparkSession.implicits._
    val c = df.select(col(id).as("c_id"), col(vec).as("c_vec"),
      norm(col(vec)).as("c_norm"))
    val asg = Caches.track(assignCells(c, cent).persist())
    val counts = asg.groupBy(col("cell").cast("long").as("cell"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val total = counts.values.sum
    val whales = counts.toSeq
      .filter { case (_, n) => (10000L * n) / total > maxShareBp }
      .map(_._1).sorted
    if (whales.isEmpty) return cent
    val maxId = cent.agg(max(col("cent_id").cast("long"))).head.getLong(0)
    val children = whales.zipWithIndex.flatMap { case (w, wi) =>
      val members = asg.filter(col("cell").cast("long") === w)
        .select(col("c_id"), col("c_vec"))
      trainIvfCentroids(members, "c_id", "c_vec", splitK, iters)
        .collect()
        .map(r => (r.getAs[Number]("cent_id").longValue(),
          r.getSeq[Float](1)))
        .sortBy(_._1).zipWithIndex
        .map { case ((_, v), j) =>
          (maxId + 1 + wi.toLong * splitK + j, v) }
    }
    val keep = cent.select(col("cent_id").cast("long").as("cent_id"),
        col("cent_vec"), col("cent_norm"))
      .filter(!col("cent_id").isin(whales: _*))
    keep.unionByName(children.toDF("cent_id", "cent_vec")
      .withColumn("cent_norm", norm(col("cent_vec"))))
  }

  /** Greedy k-Center coreset (farthest-point sampling — Sener &
    * Savarese 2018, "Active Learning for CNNs: A Core-Set Approach",
    * ICLR; the classic 2-approximation to the k-center cover): seed =
    * the min-id point, then k−1 rounds of "add the point FARTHEST from
    * its nearest selected center" (tie → smaller id). The geometric
    * COVERAGE selector — where [[graft.ops.Dedup.pairGraphRank]] picks
    * densely-endorsed prototypes, k-center picks boundary/outlier
    * coverage, the other half of a data-selection portfolio.
    *
    * Every distance is exact int64 squared-L2 on the floor-quantized
    * grid (`d2 = Σ (⌊2ˢv⌋ − ⌊2ˢc⌋)²`, the q82 convention), so each
    * argmax and the reported radii replay engine-exact — the oracle
    * recomputes the whole greedy relationally, no artifact transport.
    *
    * Scale shape: k corpus passes, each a fused-codegen
    * min-over-selected expression (selected centers are k·d int
    * literals) + TakeOrdered(1) — no sort shuffle, no corpus-scale
    * driver data; the selection is a (k, d)-bounded driver artifact.
    * Output: `(rank, <id>, r2)` with `r2` the cover radius² BEFORE the
    * center was added (rank 1 → 0) — the non-increasing r2 sequence IS
    * the k-vs-coverage curve a curation pass reads. */
  def kCenterCoreset(df: DataFrame, id: String, vec: String, k: Int,
                     scaleBits: Int = 12): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(scaleBits >= 1 && scaleBits <= 20, s"bad scaleBits: $scaleBits")
    val spark = df.sparkSession
    import spark.implicits._
    val scale = (1L << scaleBits).toDouble
    val c = df.select(col(id).cast("long").as("c_id"), col(vec).as("c_vec"))
    def quant(v: Seq[Float]): Array[Long] =
      v.map(x => math.floor(x.toDouble * scale).toLong).toArray
    val seed = c.orderBy(col("c_id").asc).limit(1).collect()
    require(seed.nonEmpty, "kCenterCoreset: empty corpus")
    var selected =
      Vector((seed(0).getLong(0), quant(seed(0).getSeq[Float](1)), 0L))
    val d = selected.head._2.length
    // min-distance-to-selected as ONE native fused expression over a
    // flat center array carried by addReferenceObj (r16; the Sq8Dot
    // array-parameter rule) — the literal `least(Σ (q_j − c_j)²…)` tree
    // grew k·d terms and re-paid Catalyst analysis + codegen per greedy
    // round per run (q259 measured warm 4.1 s on a 10-stage no-shuffle
    // plan). Same integers: floor((double)v_j·2ˢ) − c_j, squared,
    // summed, min over centers.
    var round = 2
    while (round <= k) {
      val minD = graft.functions.VectorExprs.minCenterDist2(
        col("c_vec"), selected.flatMap(_._2).toArray, d, scaleBits)
      val next = c.filter(!col("c_id").isin(selected.map(_._1): _*))
        .select(col("c_id"), col("c_vec"), minD.as("__d"))
        .orderBy(col("__d").desc, col("c_id").asc).limit(1).collect()
      if (next.isEmpty) round = k + 1
      else {
        selected = selected :+ ((next(0).getLong(0),
          quant(next(0).getSeq[Float](1)), next(0).getLong(2)))
        round += 1
      }
    }
    selected.zipWithIndex
      .map { case ((i, _, r2), rk) => (rk + 1, i, r2) }
      .toDF("rank", id, "r2")
  }

  /** Semantic near-dup pairs, SemDeDup-style (Abbas et al. 2023,
    * arXiv:2303.09540): cluster embeddings with the trained coarse
    * quantizer ([[trainIvfCentroids]]), then compare pairs WITHIN each
    * cluster cell only. Candidate volume ∝ Σ_cell |cell|² — like
    * [[hyperplaneLshPairs]] but with data-adaptive buckets, so semantically
    * close pairs land together far more often than under random
    * hyperplane signs (higher recall at equal candidate volume). The
    * pair join is a cell equi-join, never a theta join; the centroid
    * table is broadcast. Skew note: a pathological giant cell re-creates
    * the quadratic blowup — at scale, raise k (more/smaller cells) or
    * split hot cells with a second-level quantizer.
    * Output: `(a_id, b_id, cell, cos)` with a<b, cos rounded to 6 BEFORE
    * thresholding (cross-engine determinism, same as
    * [[cosineNearDupPairs]]). */
  def semanticNearDupPairs(df: DataFrame, id: String, vec: String,
                           cent: DataFrame, threshold: Double): DataFrame = {
    val c = df.select(col(id).as("c_id"), col(vec).as("c_vec"),
      norm(col(vec)).as("c_norm"))
    pairsWithinCells(assignCells(c, cent), threshold)
  }

  private def pairsWithinCells(asg: DataFrame, threshold: Double): DataFrame = {
    val a = asg.select(col("c_id").as("a_id"), col("c_vec").as("a_vec"),
      col("c_norm").as("a_nrm"), col("cell"))
    val b = asg.select(col("c_id").as("b_id"), col("c_vec").as("b_vec"),
      col("c_norm").as("b_nrm"), col("cell").as("b_cell"))
    a.join(b, col("cell") === col("b_cell") && col("a_id") < col("b_id"))
      .withColumn("cos", round(
        cosine(col("a_vec"), col("b_vec"), col("a_nrm"), col("b_nrm")), 6))
      .filter(col("cos") >= threshold)
      .select("a_id", "b_id", "cell", "cos")
  }

  /** Semantic dedup verdict per document: `(id, cell, kept)`. Greedy
    * min-id representative policy — a vector is DROPPED iff some
    * lower-id vector in its cell is cosine-close (≥ threshold); ties
    * and chains resolve deterministically (in a chain a~b~c with a≁c,
    * both b and c drop: each has a lower-id near-dup, even though b
    * itself was dropped — the SemDeDup greedy, not connected-component
    * clustering; see [[graft.ops.Dedup.dedupClusters]] for the latter).
    * One assignment pass, one within-cell pair join, one left join
    * against the distinct dropped set. */
  def semanticDedup(df: DataFrame, id: String, vec: String,
                    cent: DataFrame, threshold: Double): DataFrame = {
    val c = df.select(col(id).as("c_id"), col(vec).as("c_vec"),
      norm(col(vec)).as("c_norm"))
    val asg = assignCells(c, cent)
    val dropped = pairsWithinCells(asg, threshold)
      .select(col("b_id").as("d_id")).distinct()
    asg.join(dropped, col("c_id") === col("d_id"), "left_outer")
      .select(col("c_id").as(id), col("cell"), col("d_id").isNull.as("kept"))
  }

  /** Dense pseudo-relevance feedback (Rocchio on the quantized grid) —
    * the embedding-space mirror of [[graft.ops.TextAnalysis.prfTopK]]'s
    * sparse query expansion: round 1 ranks the corpus by the exact
    * integer dot of `floor(2ˢ·v)` vectors (queries broadcast, the q19
    * posture with dot instead of cosine — the inner-product convention
    * for L2-normalized embedding spaces, which is the caller's
    * contract); the top `fbDocs` neighbors per query are assumed
    * relevant, and round 2 re-ranks with the Rocchio query
    * `q' = α·q + β·mean(feedback vectors)` — computed WITHOUT division
    * as `q'' = α·n_fb·q + β·Σ feedback` (a positive per-query scaling,
    * so the dot RANKING is identical to the mean form and every
    * intermediate stays exact int64; no floor-vs-truncate cross-engine
    * hazard ever arises). Self-matches are excluded in both rounds;
    * feedback docs may re-rank (standard PRF). All integers — the
    * oracle recomputes everything relationally, no artifact transport.
    * Output: `(q_id, rank, neighbor_id, iscore)` with iscore the
    * round-2 integer dot. */
  def densePrfTopK(queries: DataFrame, corpus: DataFrame, id: String,
                   vec: String, k: Int, fbDocs: Int, alpha: Long,
                   beta: Long, scaleBits: Int = 12,
                   maxBroadcastQueries: Long = 500000L): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(fbDocs >= 1, s"fbDocs must be >= 1, got $fbDocs")
    require(alpha >= 1 && beta >= 0,
      s"need alpha >= 1, beta >= 0, got alpha=$alpha beta=$beta")
    require(scaleBits >= 1 && scaleBits <= 20, s"bad scaleBits: $scaleBits")
    val nQ = requireBounded("densePrfTopK", "query", queries,
      maxBroadcastQueries,
      "maxBroadcastQueries", "batch the queries or raise the limit")
    // BOTH dot rounds run as fused-codegen BNLJ passes, never the
    // relational (id, dim, m) expansion (|corpus|·d·|queries| joined
    // rows through a hash agg — same-instrument A/B: the relational
    // form ran at 2.4× the q124 yardstick, this form at 0.5×, ~4.5× on
    // the ratio basis ONCE the code table below persists): round 1 is
    // the q209 quantize-and-dot over the raw float pair; round 2 scores
    // the int-quantized corpus against the MODIFIED integer query via
    // Sq8Dot with identity dequantization (lo = 0, range = 255 makes
    // `lo + code·range div 255` = code exactly, signs included) — the
    // same Σ floor(2ˢ·c)·mq2 integers as the relational form.
    val q1 = queries.select(col(id).cast("long").as("q_id"),
      col(vec).as("q_vec"))
    // count-gated id-hash exchange before the per-row-heavy BNLJ — the
    // cosineTopK/editDistancePairs parallelism rule (r16)
    val c1 = pinIfManyQueries(
      corpus.select(col(id).cast("long").as("c_id"),
        col(vec).as("c_vec")),
      col("c_id"), nQ)
    val r1 = c1.crossJoin(broadcast(q1))
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        graft.functions.VectorExprs.quantDot(col("c_vec"), col("q_vec"),
          scaleBits).as("iscore"))
    val w1 = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("iscore").desc, col("c_id"))
    // persisted: consumed by the centroid join, the per-query counts,
    // AND the zero-feedback guard below, and its recompute crosses the
    // round-1 corpus BNLJ + the top-fbDocs window shuffle — without the
    // persist each consumer re-ran the full round-1 pass
    val fb = Caches.track(r1.withColumn("__rn", row_number().over(w1))
      .filter(col("__rn") <= fbDocs)
      .select(col("q_id"), col("c_id")).persist())
    densePrfRescore(queries, corpus, id, vec, fb, k, alpha, beta,
      scaleBits)
  }

  /** [[densePrfTopK]] with round 1 nominated by the cell-pruned
    * IVF-SQ8 scan ([[ivfSq8TopK]]) instead of the brute corpus BNLJ —
    * the corpus-scale PRF form (r11 verdict item 7): at 10⁹ docs the
    * brute round 1 is the wrong tool; the IVF probe reads `nProbe`
    * cells' codes per query, and everything downstream — the Rocchio
    * centroid from the feedback docs' full-precision vectors, the
    * division-free q'' scaling, and round 2's EXACT fused-codegen
    * identity-dequant rescore over the whole corpus — is
    * [[densePrfTopK]]'s arithmetic verbatim (shared code). Recall vs
    * brute PRF is the caller's (nProbe, centroid-quality) dial,
    * reported by [[topKRecall]]; when every vector sits ON the trained
    * SQ8 bounds and every cell is probed, round-1 scores reconstruct
    * exactly and the output equals [[densePrfTopK]] bit for bit
    * (spec-pinned). Output: `(q_id, rank, neighbor_id, iscore)`. */
  def densePrfIvfTopK(queries: DataFrame, corpus: DataFrame, id: String,
                      vec: String, k: Int, fbDocs: Int, alpha: Long,
                      beta: Long, cent: DataFrame, nProbe: Int,
                      lo: Array[Long], hi: Array[Long],
                      scaleBits: Int = 12,
                      maxBroadcastQueries: Long = 500000L): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(fbDocs >= 1, s"fbDocs must be >= 1, got $fbDocs")
    require(alpha >= 1 && beta >= 0,
      s"need alpha >= 1, beta >= 0, got alpha=$alpha beta=$beta")
    require(scaleBits >= 1 && scaleBits <= 20, s"bad scaleBits: $scaleBits")
    requireBounded("densePrfIvfTopK", "query", queries,
      maxBroadcastQueries, "maxBroadcastQueries",
      "batch the queries or raise the limit")
    val fb = Caches.track(
      ivfSq8TopK(queries, corpus, id, vec, fbDocs, cent, nProbe, lo, hi,
        scaleBits)
        .select(col("q_id"), col("neighbor_id").as("c_id")).persist())
    densePrfRescore(queries, corpus, id, vec, fb, k, alpha, beta,
      scaleBits)
  }

  /** The shared Rocchio + exact-rescore half of the dense-PRF family:
    * feedback centroid sums from the feedback docs' FULL-PRECISION
    * vectors (query-bounded explode), division-free q'' =
    * α·|fb|·q + β·Σfb on the int grid, round 2 as the fused
    * identity-dequant Sq8Dot BNLJ over the persisted corpus code
    * table. `fb` must be persisted by the caller (consumed by the
    * guard, the counts, and the centroid join). */
  private def densePrfRescore(queries: DataFrame, corpus: DataFrame,
                              id: String, vec: String, fb: DataFrame,
                              k: Int, alpha: Long, beta: Long,
                              scaleBits: Int): DataFrame = {
    val scale = (1L << scaleBits).toDouble
    val dims = queries.select(size(col(vec))).head().getInt(0)
    val q1 = queries.select(col(id).cast("long").as("q_id"),
      col(vec).as("q_vec"))
    val c1 = corpus.select(col(id).cast("long").as("c_id"),
      col(vec).as("c_vec"))
    // a query with ZERO round-1 neighbors (its only corpus match is
    // itself, or the corpus is effectively empty) has no feedback
    // centroid and would silently vanish through the inner joins below
    // — fail loudly instead, matching the family's posture. ONE
    // union-collect job for both query-bounded counts (the bm25Core
    // merged-collect shape; two separate count() actions measured as
    // pure job overhead on q222's bench line)
    val guardCounts = q1.select(col("q_id")).distinct()
      .select(lit(1).as("__side"))
      .unionByName(fb.select(col("q_id")).distinct()
        .select(lit(2).as("__side")))
      .groupBy(col("__side")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val nQ = guardCounts.getOrElse(1, 0L)
    val nFb = guardCounts.getOrElse(2, 0L)
    require(nFb == nQ,
      s"densePrf: ${nQ - nFb} quer(ies) have zero round-1 feedback " +
        "neighbors (only corpus match is the query itself, or the " +
        "corpus is empty) — they would silently drop from the output; " +
        "remove them from the query batch or fix the corpus")
    val fbN = fb.groupBy(col("q_id")).agg(count(lit(1)).as("__n"))
    // feedback centroid sums: |fb| ≤ fbDocs·|queries| rows explode —
    // query-bounded, never corpus-scale
    val cent = c1.join(broadcast(fb), Seq("c_id"))
      .select(col("q_id"), posexplode(col("c_vec")).as(Seq("dim", "__x")))
      .groupBy(col("q_id"), col("dim"))
      .agg(sum(floor(col("__x").cast("double") * scale).cast("long"))
        .as("__sm"))
    val qm = queries
      .select(col(id).cast("long").as("q_id"),
        posexplode(col(vec)).as(Seq("dim", "__x")))
      .select(col("q_id"), col("dim"),
        floor(col("__x").cast("double") * scale).cast("long").as("mq"))
    val q2 = qm.join(broadcast(fbN), Seq("q_id"))
      .join(broadcast(cent), Seq("q_id", "dim"), "left")
      .select(col("q_id"), col("dim"),
        (lit(alpha) * col("__n") * col("mq") +
          lit(beta) * coalesce(col("__sm"), lit(0L))).as("mq2"))
      // pivot the per-dim rows back to one array per query (the
      // trainIvfCentroids means-pivot pattern; query-bounded rows)
      .groupBy(col("q_id"))
      .agg(array_sort(collect_list(struct(col("dim"), col("mq2"))))
        .as("dm"))
      .select(col("q_id"),
        transform(col("dm"), e => e.getField("mq2")).as("mq2arr"))
    // persist the code projection: under the round-2 BNLJ there is no
    // exchange, so the 64-term quantize array would collapse into the
    // post-join project and re-evaluate PER PAIR (the q120 lesson —
    // re-learned here the hard way: the unpersisted first cut measured
    // SLOWER than the relational dim-join it replaced). A count-gated
    // id-hash exchange parallelizes the round-2 scoring over the cached
    // table for large query batches (the cosineTopK parallelism rule,
    // r16 — a cached 1-split projection serializes the BNLJ just like a
    // 1-split scan); nQ is already collected by the guard above.
    val codes = Caches.track(pinIfManyQueries(
      c1.select(col("c_id"),
        array((0 until dims).map(j =>
          floor(element_at(col("c_vec"), j + 1).cast("double") * scale)
            .cast("int")): _*).as("codes")),
      col("c_id"), nQ)
      .persist())
    val zeros = Array.fill(dims)(0L)
    val ident = Array.fill(dims)(255L)
    val r2 = codes.crossJoin(broadcast(q2))
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        graft.functions.VectorExprs.sq8Dot(col("codes"), col("mq2arr"),
          zeros, ident).as("iscore"))
    val w2 = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("iscore").desc, col("c_id"))
    r2.withColumn("rank", row_number().over(w2).cast("int"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("c_id").as("neighbor_id"),
        col("iscore"))
  }

  /** Embedding-based decontamination — the SEMANTIC form of the n-gram
    * eval-leak gate ([[graft.ops.Dedup]]'s `decontaminate` family, and
    * stage 8 of [[graft.ops.Curation.pretrainingFunnel]]): a corpus
    * document is CONTAMINATED iff its embedding is cosine-close to ANY
    * holdout/benchmark embedding — the check that catches PARAPHRASED
    * leakage exact n-gram overlap cannot see. Cosine is rounded to 6
    * digits BEFORE thresholding (the [[cosineNearDupPairs]] cross-engine
    * discipline); pick a dyadic threshold (e.g. 29/32 = 0.90625) so the
    * comparison literal is IEEE-exact in any engine. Output: one row per
    * corpus id — `(id, n_hits, max_cos, kept)` with
    * `kept = (n_hits == 0)`; `max_cos` is reported over ALL holdout
    * vectors (an audit column — how close the nearest benchmark item
    * is, flagged or not).
    *
    * Scale shape: the holdout side is benchmark-scale by contract
    * (`maxBroadcastHoldout` guards it) and BROADCASTS; the corpus
    * streams through ONE fused nested-loop pass, and the per-doc
    * aggregate map-side-combines the |holdout| pair rows before the
    * shuffle — corpus-scan cost, zero corpus-scale join. The corpus-side
    * norm lands in the post-BNLJ project and re-evaluates per pair (the
    * q120 collapse); `materializeCorpusNorms` opts into persisting the
    * (id, vec, norm) projection when |holdout| is large enough to make
    * that dominant ([[cosineTopK]]'s measured tradeoff). */
  def semanticDecontaminate(corpus: DataFrame, id: String, vec: String,
                            holdout: DataFrame, hvec: String,
                            threshold: Double,
                            maxBroadcastHoldout: Long = 500000L,
                            materializeCorpusNorms: Boolean = false)
      : DataFrame = {
    requireBounded("semanticDecontaminate", "holdout", holdout,
      maxBroadcastHoldout, "maxBroadcastHoldout",
      "shard the holdout set and AND the kept flags, or raise the limit")
    require(!holdout.isEmpty,
      "semanticDecontaminate: empty holdout set (nothing to check " +
        "against — a cross join would silently drop every corpus row)")
    val h = holdout.select(col(hvec).as("h_vec"),
      norm(col(hvec)).as("h_norm"))
    val c0 = corpus.select(col(id), col(vec).as("c_vec"),
      norm(col(vec)).as("c_norm"))
    val c = if (materializeCorpusNorms) Caches.track(c0.persist()) else c0
    // a zero-norm vector on either side makes cosine 0/0 = NaN, and
    // Spark orders NaN ABOVE all doubles (max_cos would go NaN, and
    // NaN >= threshold is TRUE under Spark's ordering-based comparison)
    // while other engines disagree — null the undefined pairs out
    // explicitly instead: a degenerate embedding matches nothing and is
    // invisible to the audit max (sum/max skip nulls in every engine)
    c.crossJoin(broadcast(h))
      .select(col(id),
        when(col("c_norm") > 0 && col("h_norm") > 0,
          round(cosine(col("c_vec"), col("h_vec"), col("c_norm"),
            col("h_norm")), 6)).as("cos"))
      .groupBy(col(id))
      .agg(sum(when(col("cos") >= threshold, 1L).otherwise(0L))
        .as("n_hits"), max(col("cos")).as("max_cos"))
      .withColumn("kept", col("n_hits") === 0L)
  }

  /** Deterministic Lloyd's k-means for the IVF coarse quantizer: init =
    * the `k` lowest-id corpus vectors, then `iters` rounds of
    * (assign to max-cosine centroid, tie → larger cent_id) →
    * (component-wise mean per cell). Returns `(cent_id, cent_vec,
    * cent_norm)` for [[ivfTopKWith]]; cells that lose all members drop
    * out (k may shrink).
    *
    * Scale shape per round: one broadcast of the k×dim centroid table,
    * one row-local assignment pass, and the mean as posexplode →
    * groupBy(cell, dim) partial-agg — |cells|·dim result rows, never a
    * per-cell collect of member vectors. `localCheckpoint` truncates the
    * loop's lineage so round N's plan doesn't replay rounds 1..N-1.
    *
    * No DuckDB oracle ON PURPOSE: a float mean is order-dependent, so
    * cross-engine bit-equality is not a sound contract — the spec instead
    * pins recovery of well-separated clusters and determinism of the
    * derived assignment. */
  def trainIvfCentroids(corpus: DataFrame, id: String, vec: String,
                        k: Int, iters: Int): DataFrame = {
    require(k >= 1 && iters >= 0, s"need k >= 1, iters >= 0; got k=$k iters=$iters")
    val c = corpus.select(col(id).as("c_id"), col(vec).as("c_vec"),
      norm(col(vec)).as("c_norm"))
    var cent = c.orderBy(col("c_id").asc).limit(k)
      .select(col("c_id").as("cent_id"), col("c_vec").as("cent_vec"),
        col("c_norm").as("cent_norm"))
      .localCheckpoint(true)
    for (_ <- 0 until iters) {
      val assigned = c.crossJoin(broadcast(cent))
        .select(col("c_id"), col("c_vec"), col("cent_id"),
          cosine(col("c_vec"), col("cent_vec"), col("c_norm"), col("cent_norm"))
            .as("ccos"))
        .groupBy(col("c_id"))
        .agg(max(struct(col("ccos"), col("cent_id"), col("c_vec"))).as("b"))
        .select(col("b.cent_id").as("cell"), col("b.c_vec").as("v"))
      // component-wise mean without materializing per-cell member lists
      val means = assigned
        .select(col("cell"), posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy(col("cell"), col("dim"))
        .agg(avg(col("x")).as("m"))
        .groupBy(col("cell"))
        .agg(array_sort(collect_list(struct(col("dim"), col("m")))).as("dm"))
        .select(col("cell").as("cent_id"),
          transform(col("dm"), e => e.getField("m").cast("float")).as("cent_vec"))
      cent = means
        .withColumn("cent_norm", norm(col("cent_vec")))
        .localCheckpoint(true)
    }
    cent
  }

  // ------------------------------------------------------------ PQ (ADC)

  /** The m subvectors of `vec` as an exploded `(sub, sv)` pair column —
    * shared by PQ training, encoding, and query-table construction. */
  private def subVectors(vec: Column, m: Int, dsub: Int): Column =
    posexplode(array((0 until m).map(j => slice(vec, j * dsub + 1, dsub)): _*))

  /** Product-quantization codebooks (Jégou et al. 2011, "Product
    * Quantization for Nearest Neighbor Search", IEEE TPAMI 33(1)):
    * split each `dim`-float vector into `m` subvectors of dim/m and run
    * deterministic Lloyd's k-means PER SUBSPACE (init = the subvectors
    * of the `ksub` lowest-id corpus vectors; assignment = min squared-L2,
    * tie → smaller code_id). Returns `(sub, code_id, code_vec)` with ALL
    * m·ksub codewords alive — a cell that loses every member keeps its
    * previous codeword, so downstream code/table indices stay dense
    * (unlike [[trainIvfCentroids]], where a dropped cell only shrinks
    * the probe set).
    *
    * Scale shape per round: the codebook (m·ksub·dim/m floats — KiB) is
    * broadcast; assignment is row-local scoring + a partial-agg min that
    * collapses map-side (subvector rows of one input vector never leave
    * their partition); means are posexplode → groupBy(sub, code, dim)
    * partial aggs. `localCheckpoint` truncates loop lineage. Like
    * [[trainIvfCentroids]], the TRAINING step has no cross-engine oracle
    * on purpose (float means are order-dependent); the search step is
    * oracle-checked against the collected codebook (q82). */
  /** PQ k-means initialization: the ksub lowest-id vectors, with
    * `code_id` = rank of id among them. The window is UNPARTITIONED by
    * construction (a global rank over the seed set), which is only safe
    * because its input is `.limit(ksub)`-bounded — never the full corpus.
    * Exposed `private[graft]` so PlanGuard can audit exactly this
    * training-phase plan and fail if the bound ever disappears. */
  private[graft] def pqInitCodes(corpus: DataFrame, id: String,
                                 ksub: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.orderBy("c_id")
    corpus.select(col(id).as("c_id")).orderBy(col("c_id").asc)
      .limit(ksub)
      .withColumn("code_id", (row_number().over(w) - 1).cast("int"))
  }

  def trainPqCodebooks(corpus: DataFrame, id: String, vec: String,
                       dim: Int, m: Int, ksub: Int, iters: Int): DataFrame = {
    require(m >= 1 && dim % m == 0,
      s"need dim divisible by m, got dim=$dim m=$m")
    require(ksub >= 1 && iters >= 0, s"need ksub >= 1, iters >= 0; got ksub=$ksub iters=$iters")
    val dsub = dim / m
    val sv = corpus.select(col(id).as("c_id"),
      subVectors(col(vec), m, dsub).as(Seq("sub", "sv")))
    val low = pqInitCodes(corpus, id, ksub)
    var cb = low.join(sv, "c_id")
      .select(col("sub"), col("code_id"), col("sv").as("code_vec"))
      .localCheckpoint(true)
    for (_ <- 0 until iters) {
      val assigned = sv.join(broadcast(cb), "sub")
        .select(col("c_id"), col("sub"), col("sv"), col("code_id"),
          graft.functions.VectorExprs.floatL2Sq(col("sv"), col("code_vec"))
            .as("d2"))
        .groupBy(col("c_id"), col("sub"))
        .agg(min(struct(col("d2"), col("code_id"), col("sv"))).as("b"))
        .select(col("sub"), col("b.code_id").as("code_id"), col("b.sv").as("v"))
      val means = assigned
        .select(col("sub"), col("code_id"), posexplode(col("v")).as(Seq("d", "x")))
        .groupBy(col("sub"), col("code_id"), col("d"))
        .agg(avg(col("x")).as("mx"))
        .groupBy(col("sub"), col("code_id"))
        .agg(array_sort(collect_list(struct(col("d"), col("mx")))).as("dm"))
        .select(col("sub"), col("code_id"),
          transform(col("dm"), e => e.getField("mx").cast("float")).as("code_vec"))
      // empty cells keep their previous codeword — indices stay dense
      cb = cb.as("o").join(means.as("n"), Seq("sub", "code_id"), "left")
        .select(col("sub"), col("code_id"),
          coalesce(col("n.code_vec"), col("o.code_vec")).as("code_vec"))
        .localCheckpoint(true)
    }
    cb
  }

  /** PQ-encode a corpus: each vector → `m` codeword indices (`codes`,
    * one int per subspace — m bytes of information per vector vs
    * dim·4 bytes of floats; at dim 64, m 8 that is 32× compression,
    * the memory-side half of IVF-PQ). Assignment = min squared-L2,
    * tie → smaller code_id — same rule as training.
    *
    * Shape: codebook broadcast; scoring row-local; the argmin partial
    * agg collapses map-side (all m·ksub scored rows of one vector share
    * its partition); the codes array is a bounded m-element
    * collect_list. */
  def pqEncode(corpus: DataFrame, id: String, vec: String,
               codebooks: DataFrame, dim: Int, m: Int): DataFrame = {
    require(m >= 1 && dim % m == 0,
      s"need dim divisible by m, got dim=$dim m=$m")
    val dsub = dim / m
    corpus.select(col(id).as("c_id"),
        subVectors(col(vec), m, dsub).as(Seq("sub", "sv")))
      .join(broadcast(codebooks), "sub")
      .select(col("c_id"), col("sub"),
        struct(
          graft.functions.VectorExprs.floatL2Sq(col("sv"), col("code_vec"))
            .as("d2"),
          col("code_id")).as("s"))
      .groupBy(col("c_id"), col("sub"))
      .agg(min(col("s")).as("b"))
      .groupBy(col("c_id"))
      .agg(array_sort(collect_list(struct(col("sub"), col("b.code_id").as("code"))))
        .as("sc"))
      .select(col("c_id"),
        transform(col("sc"), e => e.getField("code").cast("int")).as("codes"))
  }

  /** PQ ANN top-k by asymmetric distance computation: the corpus is
    * scanned as CODES ONLY (never its float vectors) — each query
    * precomputes one lookup table (inner product of each query
    * subvector with each codeword, m·ksub doubles), the tables
    * broadcast, and every candidate scores with m array reads
    * ([[graft.functions.PqAdc]], codegen'd). Approximate inner-product
    * ranking (rank DESC, id ASC — recall < 1 by construction, set by
    * m/ksub); compose with an IVF cell equi-join
    * ([[ivfTopKWith]]'s assignment) for the full FAISS-style IVF-PQ
    * shape when even a code scan is too wide.
    *
    * At 100 TB this is the difference between scanning 4·dim bytes and
    * m bytes per candidate: the 32×-smaller code table is what actually
    * fits the page cache. Deterministic (fixed codebooks, fixed
    * tie-breaks) → oracle-checkable against the collected codebook. */
  def pqTopK(queries: DataFrame, corpus: DataFrame, id: String, vec: String,
             k: Int, codebooks: DataFrame, dim: Int, m: Int,
             ksub: Int): DataFrame = {
    require(m >= 1 && dim % m == 0,
      s"need dim divisible by m, got dim=$dim m=$m")
    val dsub = dim / m
    val codes = pqEncode(corpus, id, vec, codebooks, dim, m)
    // per-query flattened lookup table: slot sub·ksub + code = ⟨q_sub, cw⟩
    val dt = queries.select(col(id).as("q_id"),
        subVectors(col(vec), m, dsub).as(Seq("sub", "sv")))
      .join(broadcast(codebooks), "sub")
      .select(col("q_id"),
        (col("sub") * ksub + col("code_id")).as("slot"),
        graft.functions.VectorExprs.floatDot(col("sv"), col("code_vec")).as("ip"))
      .groupBy(col("q_id"))
      .agg(array_sort(collect_list(struct(col("slot"), col("ip")))).as("se"))
      .select(col("q_id"),
        transform(col("se"), e => e.getField("ip")).as("dt"))
    val scored = codes.crossJoin(broadcast(dt))
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        graft.functions.VectorExprs.pqAdc(col("codes"), col("dt"), ksub).as("cos"))
    topKMerge(scored, k)
      .withColumnRenamed("cos", "adot")
  }

  /** Per-vector PQ reconstruction error — the audit a PQ deployment
    * ships alongside its index (how much signal the m/ksub sizing
    * throws away, which vectors quantize badly): qerr = Σ_sub min-L2²
    * to the sub's nearest codeword — exactly the squared distance
    * between the vector and its PQ decode. Deterministic: the per-sub
    * errors are row-local folds and the m-term total folds in sub order
    * (bounded collect + ordered sum), so the report is
    * oracle-checkable. Same broadcast + map-side-argmin shape as
    * [[pqEncode]]. */
  def pqReconstructionError(corpus: DataFrame, id: String, vec: String,
                            codebooks: DataFrame, dim: Int,
                            m: Int): DataFrame = {
    require(m >= 1 && dim % m == 0,
      s"need dim divisible by m, got dim=$dim m=$m")
    val dsub = dim / m
    corpus.select(col(id).as("__id"),
        subVectors(col(vec), m, dsub).as(Seq("sub", "sv")))
      .join(broadcast(codebooks), "sub")
      .select(col("__id"), col("sub"),
        graft.functions.VectorExprs.floatL2Sq(col("sv"), col("code_vec"))
          .as("d2"))
      .groupBy(col("__id"), col("sub"))
      .agg(min(col("d2")).as("d2"))
      .groupBy(col("__id"))
      .agg(array_sort(collect_list(struct(col("sub"), col("d2")))).as("ds"))
      .select(col("__id").as(id),
        round(aggregate(transform(col("ds"), e => e.getField("d2")),
          lit(0.0), (a, v) => a + v), 6).as("qerr"))
  }

  /** The static index table of IVF-PQ: `(cell, c_id, codes)` — each
    * corpus vector's coarse cell plus its PQ codes. Built once, reused
    * by [[ivfPqTopK]]; a live query stream is served by running
    * [[ivfPqTopK]] per micro-batch through
    * [[graft.streaming.StatefulOps.eachBatch]]. */
  def ivfPqIndex(corpus: DataFrame, id: String, vec: String,
                 cent: DataFrame, codebooks: DataFrame, dim: Int,
                 m: Int): DataFrame = {
    val c = corpus.select(col(id).as("c_id"), col(vec).as("c_vec"),
      norm(col(vec)).as("c_norm"))
    pqEncode(corpus, id, vec, codebooks, dim, m)
      .join(assignCells(c, cent).select(col("c_id"), col("cell")), "c_id")
  }

  /** IVF-PQ top-k — the two optimizations composed, the shape a
    * billion-vector index actually runs (FAISS IndexIVFPQ; Jégou et al.
    * 2011 §V): the coarse quantizer prunes WHICH vectors to look at
    * (each query probes its nProbe best cells — candidate volume ∝
    * nProbe·avg-cell-size, never |corpus|), and product quantization
    * shrinks WHAT is read per candidate (m code bytes + m table reads,
    * never the float vector). Both approximations are deterministic
    * (fixed trained tables, fixed tie-breaks), so the composition stays
    * oracle-checkable end-to-end.
    *
    * Plan shape: centroids and per-query lookup tables broadcast; cell
    * assignment and encoding are the shared partial-agg passes
    * ([[assignCells]], [[pqEncode]]); candidate generation is ONE cell
    * equi-join against the (cell, codes) table; scoring is
    * [[graft.functions.PqAdc]] row-local; ranking is the bounded-heap
    * [[topKMerge]]. Ranking = approximate inner product (adot DESC,
    * id ASC). */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, id: String,
                vec: String, k: Int, cent: DataFrame, nProbe: Int,
                codebooks: DataFrame, dim: Int, m: Int,
                ksub: Int): DataFrame = {
    require(m >= 1 && dim % m == 0,
      s"need dim divisible by m, got dim=$dim m=$m")
    val dsub = dim / m
    val cellCodes = ivfPqIndex(corpus, id, vec, cent, codebooks, dim, m)
    val q = queries.select(col(id).as("q_id"), col(vec).as("q_vec"),
      norm(col(vec)).as("q_norm"))
    // nProbe best cells per query — same rule as ivfTopKWith
    val probes = q.crossJoin(broadcast(cent))
      .select(col("q_id"),
        cosine(col("q_vec"), col("cent_vec"), col("q_norm"), col("cent_norm"))
          .as("qcos"), col("cent_id"))
      .groupBy(col("q_id"))
      .agg(slice(array_sort(collect_list(
        struct((-col("qcos")).as("n"), col("cent_id")))), 1, nProbe).as("cells"))
      .select(col("q_id"), explode(col("cells.cent_id")).as("cell"))
    // per-query flattened ADC lookup table, identical to pqTopK's
    val dt = queries.select(col(id).as("q_id"),
        subVectors(col(vec), m, dsub).as(Seq("sub", "sv")))
      .join(broadcast(codebooks), "sub")
      .select(col("q_id"),
        (col("sub") * ksub + col("code_id")).as("slot"),
        graft.functions.VectorExprs.floatDot(col("sv"), col("code_vec")).as("ip"))
      .groupBy(col("q_id"))
      .agg(array_sort(collect_list(struct(col("slot"), col("ip")))).as("se"))
      .select(col("q_id"), transform(col("se"), e => e.getField("ip")).as("dt"))
    val scored = probes.join(dt, "q_id")
      .join(cellCodes, Seq("cell"))
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        graft.functions.VectorExprs.pqAdc(col("codes"), col("dt"), ksub).as("cos"))
    topKMerge(scored, k)
      .withColumnRenamed("cos", "adot")
  }

  // ------------------------------------------------- residual IVF-PQ

  /** Each corpus vector's coarse cell plus its RESIDUAL v − c[cell] on
    * the 2⁻¹² dyadic grid: `r_j = (⌊4096·v_j⌋ − ⌊4096·c_j⌋) / 4096` —
    * the quantization makes the residual EXACT in both engines (float
    * ·2¹² is exact in double, floor is exact, the difference is int64,
    * and /4096 of a < 2²⁴ integer is float-exact), the repo's dyadic
    * transport discipline applied to the subtraction FAISS's
    * IndexIVFPQ performs in float. Grid error ≤ 2⁻¹² per component —
    * noise against PQ distortion at any practical (m, ksub).
    * Output: `(c_id, cell, rvec)`. */
  def residualCorpus(corpus: DataFrame, id: String, vec: String,
                     cent: DataFrame): DataFrame = {
    val c = corpus.select(col(id).as("c_id"), col(vec).as("c_vec"),
      norm(col(vec)).as("c_norm"))
    assignCells(c, cent)
      .join(broadcast(cent.select(col("cent_id").as("cell"),
        col("cent_vec"))), Seq("cell"))
      .select(col("c_id"), col("cell"),
        zip_with(col("c_vec"), col("cent_vec"), (a, b) =>
          ((floor(a.cast("double") * lit(4096.0)) -
            floor(b.cast("double") * lit(4096.0))) / lit(4096.0))
            .cast("float")).as("rvec"))
  }

  /** PQ codebooks trained on RESIDUALS (FAISS IndexIVFPQ's default —
    * Jégou et al. 2011 §V.A): after the coarse quantizer removes the
    * cell mean, the codebooks spend their m·ksub budget on the
    * residual distribution instead of re-encoding coarse structure —
    * the recall-per-byte win that makes IVF-PQ competitive. Same
    * deterministic Lloyd's as [[trainPqCodebooks]], over the
    * [[residualCorpus]] grid vectors. */
  def trainPqCodebooksResidual(corpus: DataFrame, id: String,
                               vec: String, cent: DataFrame, dim: Int,
                               m: Int, ksub: Int, iters: Int): DataFrame =
    trainPqCodebooks(residualCorpus(corpus, id, vec, cent), "c_id",
      "rvec", dim, m, ksub, iters)

  /** The static index table of RESIDUAL IVF-PQ: `(cell, c_id, codes)`
    * with codes encoding the residual against residual-trained
    * codebooks. Build once, persist, serve. */
  def ivfPqResidualIndex(corpus: DataFrame, id: String, vec: String,
                         cent: DataFrame, codebooks: DataFrame,
                         dim: Int, m: Int): DataFrame = {
    val rc = residualCorpus(corpus, id, vec, cent)
    pqEncode(rc, "c_id", "rvec", codebooks, dim, m)
      .join(rc.select(col("c_id"), col("cell")), "c_id")
  }

  /** Residual IVF-PQ top-k — [[ivfPqTopK]] with residual encoding:
    * `⟨q, v⟩ ≈ ⟨q, c[cell]⟩ + ⟨q, r̂⟩`, so each probed (query, cell)
    * pair carries the exact query·centroid dot as an OFFSET and the
    * ADC table is built against the residual codebooks — the identical
    * m-array-read scoring shape plus one double add per candidate.
    * Queries need no residualization under the inner-product metric
    * (the offset is the whole correction). Same plan skeleton:
    * broadcast centroids + per-query tables, one cell equi-join, PqAdc
    * row-local, bounded-heap ranking (adot DESC, id ASC). */
  def ivfPqResidualTopK(queries: DataFrame, corpus: DataFrame,
                        id: String, vec: String, k: Int,
                        cent: DataFrame, nProbe: Int,
                        codebooks: DataFrame, dim: Int, m: Int,
                        ksub: Int): DataFrame = {
    require(m >= 1 && dim % m == 0,
      s"need dim divisible by m, got dim=$dim m=$m")
    val dsub = dim / m
    val cellCodes = ivfPqResidualIndex(corpus, id, vec, cent,
      codebooks, dim, m)
    val q = queries.select(col(id).as("q_id"), col(vec).as("q_vec"),
      norm(col(vec)).as("q_norm"))
    // nProbe best cells per query, each carrying its ⟨q, centroid⟩
    // offset (same cosine probe rule as ivfPqTopK)
    val probes = q.crossJoin(broadcast(cent))
      .select(col("q_id"),
        cosine(col("q_vec"), col("cent_vec"), col("q_norm"), col("cent_norm"))
          .as("qcos"), col("cent_id"),
        graft.functions.VectorExprs.floatDot(col("q_vec"), col("cent_vec"))
          .as("qdot"))
      .groupBy(col("q_id"))
      .agg(slice(array_sort(collect_list(
        struct((-col("qcos")).as("n"), col("cent_id"), col("qdot")))),
        1, nProbe).as("cells"))
      .select(col("q_id"), explode(col("cells")).as("pc"))
      .select(col("q_id"), col("pc.cent_id").as("cell"), col("pc.qdot"))
    // per-query ADC table against the RESIDUAL codebooks
    val dt = queries.select(col(id).as("q_id"),
        subVectors(col(vec), m, dsub).as(Seq("sub", "sv")))
      .join(broadcast(codebooks), "sub")
      .select(col("q_id"),
        (col("sub") * ksub + col("code_id")).as("slot"),
        graft.functions.VectorExprs.floatDot(col("sv"), col("code_vec")).as("ip"))
      .groupBy(col("q_id"))
      .agg(array_sort(collect_list(struct(col("slot"), col("ip")))).as("se"))
      .select(col("q_id"), transform(col("se"), e => e.getField("ip")).as("dt"))
    val scored = probes.join(dt, "q_id")
      .join(cellCodes, Seq("cell"))
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        (graft.functions.VectorExprs.pqAdc(col("codes"), col("dt"), ksub)
          + col("qdot")).as("cos"))
    topKMerge(scored, k)
      .withColumnRenamed("cos", "adot")
  }

  /** ANN near-dup pairs: bucket by hyperplane signature, exact cosine
    * verification within buckets only. Candidate volume ∝ Σ_bucket
    * |bucket|² with 2^numPlanes buckets — the 100 TB path (approximate:
    * recall < 1 by construction; raise numPlanes bands for recall). */
  def hyperplaneLshPairs(df: DataFrame, id: String, vec: String,
                         numPlanes: Int, threshold: Double): DataFrame = {
    val v = df.select(col(id), col(vec), norm(col(vec)).as("nrm"),
      hyperplaneBucket(col(vec), numPlanes).as("bucket"))
    val a = v.select(col(id).as("a_id"), col(vec).as("a_vec"),
      col("nrm").as("a_nrm"), col("bucket"))
    val b = v.select(col(id).as("b_id"), col(vec).as("b_vec"),
      col("nrm").as("b_nrm"), col("bucket").as("b_bucket"))
    a.join(b, col("bucket") === col("b_bucket") && col("a_id") < col("b_id"))
      .withColumn("cos", round(
        cosine(col("a_vec"), col("b_vec"), col("a_nrm"), col("b_nrm")), 6))
      .filter(col("cos") >= threshold)
      .select("a_id", "b_id", "cos")
  }

  /** Recall@k — the evaluation operator every approximate index needs
    * next to it: per query, the fraction of the EXACT top-k an
    * approximate result set recovered. The industry-standard quality
    * gauge for tuning nProbe / numPlanes / PQ bit budgets against the
    * brute-force ground truth ([[cosineTopK]]).
    *
    * Exact-side rows ground the denominator, so a query the approximate
    * index returned nothing for still reports (recall 0), and extra
    * approximate rows beyond the exact set never inflate the score.
    * Shape: one narrow-key equi-join + one groupBy on the (tiny) result
    * tables — evaluation never touches the corpus. Output:
    * `(qId, n_exact, n_hit, recall)`. */
  def topKRecall(approx: DataFrame, exact: DataFrame, qId: String,
                 nId: String): DataFrame =
    exact.select(col(qId), col(nId))
      .join(approx.select(col(qId), col(nId)).withColumn("__hit", lit(true)),
        Seq(qId, nId), "left")
      .groupBy(col(qId))
      .agg(count(lit(1)).as("n_exact"), count(col("__hit")).as("n_hit"))
      .select(col(qId), col("n_exact"), col("n_hit"),
        round(col("n_hit").cast("double") / col("n_exact"), 4).as("recall"))

  /** Rank agreement between two retrieval systems' top-k tables —
    * Kendall's tau over the SHARED items (the rank-correlation eval
    * beside [[topKRecall]]'s set overlap: recall says the systems
    * return the same items, tau says they ORDER them the same way —
    * two rankers can agree on membership and fully invert the order).
    * Inputs are [[topKMerge]]-shaped `(qId, rank, nId, …)` tables.
    * Per query: both sides' sizes, the shared-item count, exact
    * concordant/discordant pair counts over shared items (ranks are
    * unique within a ranking, so no tie terms exist), and
    * `tau = (C − D) / max(C + D, 1)` as ONE final division of
    * identical int64s (the q229 discipline — never integer-divide a
    * possibly-negative numerator, where Spark truncates and DuckDB
    * floors), rounded to 4. Queries with < 2 shared items report
    * C = D = 0, tau 0. A query present in only ONE system's table is
    * REPORTED (other side's size coalesced to 0, n_shared 0) rather
    * than dropped — the n_a/n_b columns exist precisely to audit that
    * asymmetry (r13 advice: the old inner join hid one-sided queries
    * entirely).
    *
    * Shape: result-table-bounded — two tiny groupBys, one (q, item)
    * equi-join, one per-query k²-bounded pair self-join; the corpus is
    * never touched. Output:
    * `(q_id, n_a, n_b, n_shared, concordant, discordant, tau)`. */
  def rankAgreement(a: DataFrame, b: DataFrame, qId: String,
                    nId: String): DataFrame = {
    val ra = a.select(col(qId).as("q_id"), col(nId).as("__i"),
      col("rank").as("__ra"))
    val rb = b.select(col(qId).as("q_id"), col(nId).as("__i"),
      col("rank").as("__rb"))
    val na = ra.groupBy(col("q_id")).agg(count(lit(1)).as("n_a"))
    val nb = rb.groupBy(col("q_id")).agg(count(lit(1)).as("n_b"))
    val shared = ra.join(rb, Seq("q_id", "__i"))
    val ns = shared.groupBy(col("q_id"))
      .agg(count(lit(1)).as("n_shared"))
    val x = shared.select(col("q_id"), col("__i").as("i1"),
      col("__ra").as("ra1"), col("__rb").as("rb1"))
    val y = shared.select(col("q_id"), col("__i").as("i2"),
      col("__ra").as("ra2"), col("__rb").as("rb2"))
    val pr = x.join(y, Seq("q_id"))
      .filter(col("i1") < col("i2"))
      .groupBy(col("q_id"))
      .agg(
        sum(when((col("ra1") - col("ra2")) * (col("rb1") - col("rb2"))
          > 0, 1L).otherwise(0L)).as("__c"),
        sum(when((col("ra1") - col("ra2")) * (col("rb1") - col("rb2"))
          < 0, 1L).otherwise(0L)).as("__d"))
    na.join(nb, Seq("q_id"), "full_outer")
      .join(ns, Seq("q_id"), "left")
      .join(pr, Seq("q_id"), "left")
      .select(col("q_id"), coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        coalesce(col("__c"), lit(0L)).as("concordant"),
        coalesce(col("__d"), lit(0L)).as("discordant"))
      .withColumn("tau",
        round((col("concordant") - col("discordant")).cast("double") /
          greatest(col("concordant") + col("discordant"), lit(1L)), 4))
  }

  /** Distributed Gram (second-moment) matrix over an embedding column —
    * the primitive behind covariance estimation, whitening, and PCA
    * diagnostics of an embedding corpus. Vectors are first quantized to
    * integers by `floor(v · 2^scaleBits)` — floor is tie-free and the
    * float→double product with a power of two is IEEE-exact, so the
    * quantization (unlike a half-even/half-away `round`) is reproducible
    * in ANY engine — and all accumulation is then exact int64 arithmetic:
    * the result is a pure function of the input regardless of partition
    * count or merge order (the property a float-sum Gram matrix cannot
    * have).
    *
    * Scale shape: the classic one-pass distributed covariance — each
    * partition accumulates its local d×d upper triangle in a flat array
    * (corpus scanned ONCE, no per-row shuffle), then emits d(d+1)/2
    * partial rows; the only shuffle is the (i, j)-keyed partial-sum
    * groupBy, bounded by d²·partitions. Output: `(i, j, s)` for i ≤ j,
    * 0-based. */
  def gramMatrix(df: DataFrame, vec: String, scaleBits: Int = 12): DataFrame = {
    require(scaleBits >= 0 && scaleBits <= 20, s"bad scaleBits: $scaleBits")
    import df.sparkSession.implicits._
    val scale = (1L << scaleBits).toDouble
    df.select(col(vec)).as[Seq[Float]].mapPartitions { it =>
      var acc: Array[Long] = null
      var d = 0
      it.foreach { v =>
        if (acc == null) { d = v.length; acc = new Array[Long](d * d) }
        require(v.length == d, s"ragged embedding: ${v.length} vs $d")
        val m = new Array[Long](d)
        var i = 0
        while (i < d) { m(i) = math.floor(v(i) * scale).toLong; i += 1 }
        var a = 0
        while (a < d) {
          var b = a
          while (b < d) { acc(a * d + b) += m(a) * m(b); b += 1 }
          a += 1
        }
      }
      if (acc == null) Iterator.empty
      else {
        val dd = d
        val fin = acc
        for (a <- (0 until dd).iterator; b <- (a until dd).iterator)
          yield (a, b, fin(a * dd + b))
      }
    }.toDF("i", "j", "s")
      .groupBy(col("i"), col("j")).agg(sum(col("s")).as("s"))
  }

  /** One-pass exact integer moments of a quantized embedding corpus:
    * count, per-dimension sums, and the full d×d second-moment grid.
    * Each partition folds its rows into a flat local accumulator and
    * emits ONE partial (≤ d² + d longs ≈ 33 KiB at d = 64) — the merge
    * is a driver-side sum of per-partition partials, the trained-artifact
    * collect shape (bounded by partitions·d², never by rows). */
  private def quantizedMoments(df: DataFrame, vec: String, scaleBits: Int)
      : (Long, Array[Long], Array[Long]) = {
    import df.sparkSession.implicits._
    val scale = (1L << scaleBits).toDouble
    val partials = df.select(col(vec)).as[Seq[Float]].mapPartitions { it =>
      var n = 0L
      var d = 0
      var s: Array[Long] = null
      var g: Array[Long] = null
      it.foreach { v =>
        if (s == null) { d = v.length; s = new Array[Long](d); g = new Array[Long](d * d) }
        require(v.length == d, s"ragged embedding: ${v.length} vs $d")
        n += 1
        val m = new Array[Long](d)
        var i = 0
        while (i < d) { m(i) = math.floor(v(i) * scale).toLong; s(i) += m(i); i += 1 }
        var a = 0
        while (a < d) {
          var b = a
          while (b < d) { g(a * d + b) += m(a) * m(b); b += 1 }
          a += 1
        }
      }
      if (s == null) Iterator.empty else Iterator.single((n, s, g))
    }.collect()
    require(partials.nonEmpty, "empty corpus")
    val d = partials.head._2.length
    val s = new Array[Long](d)
    val g = new Array[Long](d * d)
    var n = 0L
    partials.foreach { case (pn, ps, pg) =>
      n += pn
      var i = 0
      while (i < d) { s(i) += ps(i); i += 1 }
      i = 0
      while (i < d * d) { g(i) += pg(i); i += 1 }
    }
    (n, s, g)
  }

  /** Deterministic cyclic-Jacobi eigensolver for a symmetric d×d matrix
    * (upper triangle read). Fixed sweep order + strict JVM float
    * semantics ⇒ bit-identical eigenpairs for identical input on any
    * run — the property that lets a trained projection be inlined into
    * a cross-engine oracle. Returns (eigenvalues, eigenvectors as rows),
    * sorted by eigenvalue descending (index ascending on exact ties). */
  private[graft] def jacobiEigen(mat: Array[Array[Double]])
      : (Array[Double], Array[Array[Double]]) = {
    val d = mat.length
    val a = Array.tabulate(d, d)((i, j) => mat(i)(j))
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var frob = 0.0
    for (i <- 0 until d; j <- 0 until d) frob += a(i)(j) * a(i)(j)
    val tol = math.max(frob, Double.MinPositiveValue) * 1e-28
    var sweep = 0
    var off = Double.MaxValue
    while (sweep < 100 && off > tol) {
      off = 0.0
      for (p <- 0 until d; q <- (p + 1) until d) off += a(p)(q) * a(p)(q)
      if (off > tol) {
        for (p <- 0 until d; q <- (p + 1) until d) if (a(p)(q) != 0.0) {
          val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
          val t = math.signum(theta) match {
            case 0.0 => 1.0 / (theta + math.sqrt(theta * theta + 1.0))
            case sgn => sgn / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
          }
          val c = 1.0 / math.sqrt(t * t + 1.0)
          val s = t * c
          var i = 0
          while (i < d) {
            val aip = a(i)(p); val aiq = a(i)(q)
            a(i)(p) = c * aip - s * aiq
            a(i)(q) = s * aip + c * aiq
            i += 1
          }
          i = 0
          while (i < d) {
            val api = a(p)(i); val aqi = a(q)(i)
            a(p)(i) = c * api - s * aqi
            a(q)(i) = s * api + c * aqi
            val vip = v(i)(p); val viq = v(i)(q)
            v(i)(p) = c * vip - s * viq
            v(i)(q) = s * vip + c * viq
            i += 1
          }
        }
      }
      sweep += 1
    }
    val order = (0 until d).sortBy(i => (-a(i)(i), i))
    (order.map(i => a(i)(i)).toArray,
      order.map(i => Array.tabulate(d)(j => v(j)(i))).toArray)
  }

  /** Train the top-k PCA projection of an embedding corpus, returned as
    * a k×d matrix of int64 weights (`floor(eigvec · 2^scaleBits)`).
    * Moments are accumulated exactly (see [[quantizedMoments]] — one
    * corpus pass), the centered covariance is eigensolved driver-side
    * on the d×d grid (a trained-artifact computation, like k-means
    * centroids), and each component's sign is fixed so its
    * largest-magnitude entry is positive (first index wins ties) —
    * making the trained matrix a pure deterministic function of the
    * corpus, safe to inline into a generated oracle. */
  def trainPcaComponents(df: DataFrame, vec: String, k: Int,
                         scaleBits: Int = 12): Array[Array[Long]] = {
    val (n, s, g) = quantizedMoments(df, vec, scaleBits)
    val d = s.length
    require(k >= 1 && k <= d, s"bad k: $k (dim $d)")
    val nn = n.toDouble
    val cov = Array.tabulate(d, d) { (i, j) =>
      val (a, b) = if (i <= j) (i, j) else (j, i)
      g(a * d + b) / nn - (s(a) / nn) * (s(b) / nn)
    }
    val (_, vecs) = jacobiEigen(cov)
    val scale = (1L << scaleBits).toDouble
    vecs.take(k).map { ev =>
      var best = 0
      var i = 1
      while (i < d) { if (math.abs(ev(i)) > math.abs(ev(best))) best = i; i += 1 }
      val sgn = if (ev(best) < 0.0) -1.0 else 1.0
      ev.map(x => math.floor(x * sgn * scale).toLong)
    }
  }

  /** One trained PCA component as a fused CODEGEN'D column expression:
    * `Σ_j floor(v_j · 2^scaleBits) · w(j)` expanded to d literal terms
    * (the [[centroidDist2Expr]] pattern — `element_at`/`floor` are
    * whole-stage-codegen built-ins; weights are literals fused into the
    * scan, never a joined column). Exact int64 in batch and streaming
    * alike. */
  def pcaProjectExprs(vecCol: Column, weights: Array[Array[Long]],
                      scaleBits: Int = 12): Seq[Column] = {
    val scale = (1L << scaleBits).toDouble
    weights.toSeq.map { w =>
      w.zipWithIndex.map { case (wt, j) =>
        floor(element_at(vecCol, j + 1).cast("double") * scale) * lit(wt)
      }.reduce(_ + _)
    }
  }

  /** Project embeddings onto trained integer components ([[trainPcaComponents]]):
    * `proj(c) = Σ_j floor(v_j · 2^scaleBits) · w(c)(j)` — pure int64
    * arithmetic on both the (row-local, fused-literal) Spark side and
    * the oracle side, so the reduced representation is exact and
    * engine-independent ([[pcaProjectExprs]], codegen'd). Output: one
    * row per (id, component), `(id, c, proj)`. */
  def pcaProject(df: DataFrame, id: String, vec: String,
                 weights: Array[Array[Long]], scaleBits: Int = 12): DataFrame =
    df.select(col(id).cast("long").as(id),
      posexplode(array(pcaProjectExprs(col(vec), weights, scaleBits): _*))
        .as(Seq("c", "proj")))

  /** Train the corpus centroid in quantized integer space: per-dimension
    * `floorDiv(Σ floor(v_j·2^scaleBits), n)` — a pure integer function
    * of the corpus (floorDiv, never `/`: truncating division would
    * round negative means differently than the floor convention the
    * whole quantized stack uses). One codegen'd posexplode + groupBy
    * pass (shuffle bounded by d·partitions under partial aggregation);
    * the artifact is d longs, collected once. */
  def trainEmbeddingCentroid(df: DataFrame, vec: String,
                             scaleBits: Int = 12): Array[Long] = {
    val scale = (1L << scaleBits).toDouble
    val agg = df.select(posexplode(col(vec)).as(Seq("j", "x")))
      .select(col("j"), floor(col("x").cast("double") * scale).as("m"))
      .groupBy(col("j")).agg(sum(col("m")).as("s"), count(lit(1)).as("n"))
      .collect()
    require(agg.nonEmpty, "empty corpus")
    val mu = new Array[Long](agg.length)
    agg.foreach { r =>
      mu(r.getInt(0)) = Math.floorDiv(r.getLong(1), r.getLong(2))
    }
    mu
  }

  /** Variance spectrum of a PCA projection ([[pcaProject]] output):
    * per component, the exact integer moments `(n, Σp, Σp²)` — from
    * which `n·Σp² − (Σp)²  =  n²·variance` exactly, so "how much energy
    * the top-k components capture" (the explained-variance diagnostic
    * every PCA use consults) is a pure integer fact, hash-checkable
    * cross-engine. One partial-agg groupBy on the k-row key; the scan is
    * the projection table, never the corpus. Int64 bound: Σp² overflows
    * past ~10⁶ rows at embedding-scale magnitudes — ANSI makes that a
    * LOUD failure, and the production-scale mitigation is
    * `shiftright(proj, scaleBits)` before squaring (floor-shift, still
    * deterministic). Output: `(c, n, sp, spp)`. */
  def pcaSpectrum(proj: DataFrame): DataFrame =
    proj.groupBy(col("c"))
      .agg(count(lit(1)).as("n"), sum(col("proj")).as("sp"),
        sum(col("proj") * col("proj")).as("spp"))

  /** First-relevant rank — the integer backbone of MRR@k, the
    * rank-sensitive companion to [[labelAgreementAtK]] (agreement counts
    * how MANY top-k neighbors share the label; this reports how SOON
    * the first one appears — the number retrieval evals quote): per
    * query, the rank (1-based) of the highest-ranked top-k neighbor
    * sharing its label, 0 if none, plus the exact reciprocal rank in
    * basis points (`rr_bp = floor(10⁴/rank)`; mean(rr_bp)/10⁴ = MRR@k).
    * Pure integers ⇒ engine-exact wherever the top-k SET is (the q19
    * tie-break discipline).
    *
    * Shape: [[cosineTopK]]'s bounded top-k (its `rank` column IS the
    * tie-broken rank, computed on UNROUNDED scores — re-ranking on the
    * rounded output could disagree at near-ties), then the q111 join
    * discipline — the top-k side is BROADCAST against the corpus
    * (id, label) relation so the corpus streams unshuffled. */
  def firstHitRank(queries: DataFrame, corpus: DataFrame, id: String,
                   vec: String, label: String, k: Int): DataFrame = {
    val ranked = cosineTopK(queries, corpus, id, vec, k)
    val nLab = corpus.select(col(id).as("neighbor_id"),
      col(label).cast("int").as("n_label"))
    val qLab = queries.select(col(id).as("q_id"),
      col(label).cast("int").as("q_label"))
    nLab
      .join(broadcast(ranked), Seq("neighbor_id"))
      .join(broadcast(qLab), Seq("q_id"))
      .groupBy(col("q_id"), col("q_label"))
      .agg(coalesce(min(when(col("n_label") === col("q_label"),
          col("rank"))), lit(0)).cast("long").as("first_rank"))
      // exact reciprocal rank: floor(10⁴/rank) via the pmod floor form
      .withColumn("rr_bp",
        when(col("first_rank") === 0, lit(0L))
          .otherwise(((lit(10000L) - pmod(lit(10000L), col("first_rank"))) /
            col("first_rank")).cast("long")))
  }

  /** NDCG@k with binary label relevance — the rank-position-weighted
    * retrieval eval completing the stack (recall@k counts hits, MRR@k
    * scores the first, NDCG scores them ALL by position): per query,
    * `DCG = Σ_hit D(rank)` with the discount table
    * `D(i) = floor(2^discBits / log2(i+1))` — k driver-side integers
    * (StrictMath carries the logs, the LM-cost artifact discipline), so
    * DCG/IDCG are exact int64 and `ndcg` is their single-rounded ratio.
    * The IDEAL uses the corpus-wide relevant count (docs sharing the
    * query's label, minus the query itself, capped at k) — the honest
    * denominator: a query whose label has ≤ k members can still reach
    * 1.0, one with none scores 0.
    *
    * Shape: [[cosineTopK]]'s bounded ranking + the q111 broadcast label
    * joins + a |labels|-row corpus-count join; discounts and their
    * prefix sums ride as literal arrays (`element_at` by rank). Output:
    * `(q_id, q_label, dcg_q, idcg_q, ndcg)`. */
  def ndcgAtK(queries: DataFrame, corpus: DataFrame, id: String,
              vec: String, label: String, k: Int,
              discBits: Int = 20): DataFrame = {
    require(k >= 1 && discBits >= 1 && discBits <= 40,
      s"bad k=$k / discBits=$discBits")
    val disc = (1 to k).map(i => math.floor((1L << discBits).toDouble /
      (StrictMath.log(i + 1.0) / StrictMath.log(2.0))).toLong)
    val prefix = disc.scanLeft(0L)(_ + _).tail
    val ranked = cosineTopK(queries, corpus, id, vec, k)
    val nLab = corpus.select(col(id).as("neighbor_id"),
      col(label).cast("int").as("n_label"))
    val qLab = queries.select(col(id).as("q_id"),
      col(label).cast("int").as("q_label"))
    val labCounts = corpus.groupBy(col(label).cast("int").as("q_label"))
      .agg(count(lit(1)).as("__n_lab"))
    val dCol = element_at(array(disc.map(lit): _*), col("rank"))
    val dcg = nLab.join(broadcast(ranked), Seq("neighbor_id"))
      .join(broadcast(qLab), Seq("q_id"))
      .groupBy(col("q_id"), col("q_label"))
      .agg(sum(when(col("n_label") === col("q_label"), dCol)
        .otherwise(lit(0L))).as("dcg_q"))
    val idcgCol = when(col("__n_lab") - 1 >= 1,
      element_at(array(prefix.map(lit): _*),
        least(col("__n_lab") - 1, lit(k.toLong)).cast("int")))
      .otherwise(lit(0L))
    dcg.join(broadcast(labCounts), Seq("q_label"))
      .select(col("q_id"), col("q_label"), col("dcg_q"),
        idcgCol.as("idcg_q"))
      .withColumn("ndcg", when(col("idcg_q") > 0,
        round(col("dcg_q").cast("double") / col("idcg_q"), 6))
        .otherwise(lit(0.0)))
  }

  /** Contrastive triplet mining — the training-pair construction for
    * embedding-model fine-tuning: per anchor (query), the highest-
    * ranked exact top-k neighbor sharing its label (the POSITIVE) and
    * the highest-ranked one that doesn't (the HARD NEGATIVE — close in
    * embedding space yet differently labeled, exactly the pair
    * contrastive losses learn most from; cf. the in-batch sampler
    * [[graft.ops.Sampling.inBatchNegatives]], which is label-blind).
    * Ranks 0 when the top-k window holds no such neighbor — the caller
    * filters or widens k.
    *
    * Shape: [[cosineTopK]]'s bounded top-k joined by the q111
    * discipline (top-k side BROADCAST against the corpus (id, label)
    * relation), selection = one groupBy with two min-struct folds on
    * (rank, id) — joins on the emitted rank, never re-ranks rounded
    * scores (the r7 near-tie lesson). Output: `(q_id, q_label,
    * pos_rank, pos_id, neg_rank, neg_id)`, all exact integers. */
  def contrastiveTriplets(queries: DataFrame, corpus: DataFrame, id: String,
                          vec: String, label: String, k: Int): DataFrame = {
    val ranked = cosineTopK(queries, corpus, id, vec, k)
    val nLab = corpus.select(col(id).as("neighbor_id"),
      col(label).cast("int").as("n_label"))
    val qLab = queries.select(col(id).as("q_id"),
      col(label).cast("int").as("q_label"))
    nLab
      .join(broadcast(ranked), Seq("neighbor_id"))
      .join(broadcast(qLab), Seq("q_id"))
      .groupBy(col("q_id"), col("q_label"))
      .agg(
        min(when(col("n_label") === col("q_label"),
          struct(col("rank"), col("neighbor_id")))).as("__p"),
        min(when(col("n_label") =!= col("q_label"),
          struct(col("rank"), col("neighbor_id")))).as("__n"))
      .select(col("q_id"), col("q_label"),
        coalesce(col("__p.rank"), lit(0)).cast("long").as("pos_rank"),
        coalesce(col("__p.neighbor_id"), lit(0L)).cast("long").as("pos_id"),
        coalesce(col("__n.rank"), lit(0)).cast("long").as("neg_rank"),
        coalesce(col("__n.neighbor_id"), lit(0L)).cast("long").as("neg_id"))
  }

  /** kNN majority-vote classification — the semi-supervised labeling
    * pass a curation pipeline runs to EXTEND a small labeled seed set
    * over an unlabeled corpus (and, applied to already-labeled rows as
    * here, the leave-one-out noisy-label audit: a row whose neighbors
    * outvote its own label is a mislabeling candidate — the relabeling
    * counterpart of the eval-only q111/q119/q158 stack).
    *
    * Per query: exact top-k cosine neighbors ([[cosineTopK]] — its
    * `rank` is the tie-broken rank on UNROUNDED scores), one vote per
    * neighbor label; winner = most votes, ties broken by the class
    * holding the CLOSEST neighbor (min rank — joins on the emitted
    * rank, never re-ranks rounded scores), then smallest label. All
    * integers ⇒ engine-exact wherever the top-k set is.
    *
    * Shape: the q111 join discipline (top-k side BROADCAST against the
    * corpus (id, label) relation, corpus streams unshuffled), one
    * (query, label) vote groupBy (≤ |queries|·k rows), one min-struct
    * argmax fold per query. Output: `(q_id, q_label, pred_label,
    * votes, best_rank, agree)`. */
  def knnClassify(queries: DataFrame, corpus: DataFrame, id: String,
                  vec: String, label: String, k: Int): DataFrame = {
    val ranked = cosineTopK(queries, corpus, id, vec, k)
    val nLab = corpus.select(col(id).as("neighbor_id"),
      col(label).cast("int").as("n_label"))
    val qLab = queries.select(col(id).as("q_id"),
      col(label).cast("int").as("q_label"))
    val votes = nLab
      .join(broadcast(ranked), Seq("neighbor_id"))
      .groupBy(col("q_id"), col("n_label"))
      .agg(count(lit(1)).as("votes"), min(col("rank")).as("best_rank"))
    // deterministic argmax: min over (−votes, best_rank, label) — most
    // votes first, closest class on a vote tie, smallest label last
    votes
      .groupBy(col("q_id"))
      .agg(min(struct((-col("votes")).as("nv"), col("best_rank"),
        col("n_label"))).as("__w"))
      .join(broadcast(qLab), Seq("q_id"))
      .select(col("q_id"), col("q_label"),
        col("__w.n_label").cast("long").as("pred_label"),
        (-col("__w.nv")).cast("long").as("votes"),
        col("__w.best_rank").cast("long").as("best_rank"),
        (col("__w.n_label") === col("q_label")).as("agree"))
  }

  /** Mutual k-nearest-neighbor pair mining — the high-precision
    * candidate filter behind parallel-pair construction (LASER/CCMatrix
    * bitext mining, duplicate-entity resolution, anchor-positive pair
    * harvesting): emit `(a, b)` iff b is in a's exact top-k AND a is in
    * b's (mutuality is the classic precision filter — a hub vector that
    * merely sits near everything fails the reverse test). Rank-based
    * and integer-exact: the pair relation joins the emitted ranks of
    * ONE shared top-k table (never re-ranks rounded scores — the r7
    * lesson), so the output is engine-exact wherever the top-k sets
    * are. `margin_x1000 = floor(10⁶/(60+rank_ab)) + floor(10⁶/(60+
    * rank_ba))` ranks pairs by mutual prominence on the int64 grid (the
    * RRF arithmetic applied to the two directions).
    *
    * Shape: one [[cosineTopK]] over the set (the n·k ranking), then a
    * self-join of that |n|·k-row narrow table on (a, b) — never a
    * second corpus pass; `a < b` dedups the symmetric pair. Output:
    * `(a_id, b_id, rank_ab, rank_ba, margin_x1000)`. */
  def mutualKnnPairs(df: DataFrame, id: String, vec: String, k: Int,
                     maxBroadcastQueries: Long = 500000L): DataFrame = {
    // |queries| = |corpus| here — exactly the regime where the per-pair
    // corpus-norm recompute dominates; materialize (bounded by the same
    // broadcast guardrail that already caps this op's input)
    val ranked = Caches.track(
      cosineTopK(df, df, id, vec, k, maxBroadcastQueries,
        materializeCorpusNorms = true).persist())
    val fwd = ranked.select(col("q_id").as("a_id"),
      col("neighbor_id").as("b_id"), col("rank").as("rank_ab"))
    val bwd = ranked.select(col("neighbor_id").as("a_id"),
      col("q_id").as("b_id"), col("rank").as("rank_ba"))
    fwd.join(bwd, Seq("a_id", "b_id"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        col("rank_ab").cast("long").as("rank_ab"),
        col("rank_ba").cast("long").as("rank_ba"),
        (expr("1000000 div (60 + cast(rank_ab as bigint))") +
          expr("1000000 div (60 + cast(rank_ba as bigint))"))
          .as("margin_x1000"))
  }

  // ------------------------------------------------------ graph ANN

  /** Bounded-hop BEAM SEARCH over a directed neighbor graph — the
    * graph axis of the ANN taxonomy (what HNSW-class vector stores
    * serve from; this is the flat single-layer form over the
    * [[mutualKnnPairs]] graph, r15 verdict item 4). Deterministic and
    * fully relational:
    *
    *  - entry points: the min-id node of each of `entryBuckets` hash
    *    buckets over the live node set (deterministic, diverse, one
    *    tiny aggregate);
    *  - per hop: expand the frontier's out-edges (degree-bounded join),
    *    drop already-scored (q, node) pairs, score the novel candidates
    *    EXACTLY (cosine — so the scored set's top-k intersection with
    *    the true top-k is MONOTONE in the scored set, giving the
    *    hop-monotone recall the spec pins), fold into the scored set,
    *    and take the next frontier = top-`beamWidth` of everything
    *    scored, minus nodes already expanded;
    *  - `localCheckpoint` per hop truncates the loop lineage (the q211
    *    analysis-OOM discipline).
    *
    * Scale shape: nothing corpus-scale moves at query time — the
    * frontier is beam-bounded per query, expansion is Σ degree ≤
    * beam·2k rows/hop, scoring joins batch-bounded candidate ids
    * against the node-bucketed vector table, and the per-query window
    * partitions by q_id (query-bounded). The graph build is the sunk
    * index cost ([[saveKnnGraphIndex]]).
    *
    * `edges` is DIRECTED `(src, dst)` — pass both directions for an
    * undirected graph ([[knnGraphSearch]] does). Output: the
    * [[topKMerge]] shape `(q_id, rank, neighbor_id, cos)`. */
  def knnGraphBeamSearch(queries: DataFrame, edges: DataFrame,
                         vectors: DataFrame, id: String, vec: String,
                         k: Int, beamWidth: Int, hops: Int,
                         entryBuckets: Int = 4,
                         salt: String = "knng"): DataFrame = {
    require(k >= 1 && beamWidth >= 1 && hops >= 0 && entryBuckets >= 1,
      s"bad params: k=$k beamWidth=$beamWidth hops=$hops " +
        s"entryBuckets=$entryBuckets")
    val v = vectors.select(col(id).as("node"), col(vec).as("n_vec"),
      norm(col(vec)).as("n_norm"))
    val q = queries.select(col(id).as("q_id"), col(vec).as("q_vec"),
      norm(col(vec)).as("q_norm"))
    val entries = v.select(col("node"))
      .groupBy(pmod(Sampling.hash60(col("node"), salt),
        lit(entryBuckets)).as("__b"))
      .agg(min(col("node")).as("node"))
      .select(col("node"))
    def score(cand: DataFrame): DataFrame =
      cand.join(v, Seq("node"))
        .join(q, Seq("q_id"))
        .select(col("q_id"), col("node"),
          cosine(col("q_vec"), col("n_vec"), col("q_norm"), col("n_norm"))
            .as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("cos").desc, col("node").asc)
    // (candidate scoring joins are frontier-bounded — the node-vector
    // side stays an equi-join keyed by node, which at serving scale is
    // the bucket-pruned index read; no BNLJ, so no parallelism pin
    // needed here)
    //
    // the query's OWN node (in-corpus queries) is scored and may hold a
    // beam slot — excluding it from the WALK would disconnect the two
    // sides of its neighborhood (a chain query could never reach past
    // itself); it is filtered from RESULTS only, below.
    //
    // ONE state table per hop: (q_id, node, cos, __exp, __rn) where
    // __exp marks every node already expanded (= member of any prior
    // frontier) and __rn is the per-query beam rank, computed ONCE
    // inside the checkpointed plan (r16: the old shape derived the rank
    // twice per hop — once for the frontier, once for the __exp
    // update — and de-duplicated candidates with a distinct + an
    // anti-join, three extra exchanges per hop on a loop that is
    // job-count-bound). Candidate dedup and the scored-set fold are now
    // ONE (q_id, node) aggregate: re-reached nodes re-score to the
    // IDENTICAL (cos) row (deterministic scoring) and merge away via
    // max, __exp folds as max (true wins) — the scored set, the
    // expanded set and so the walk are unchanged row for row
    // (spec-pinned hop-monotone recall + ProbeQ255 operating point).
    // One eager localCheckpoint per hop (state must checkpoint or the
    // self-embedding union tree grows exponentially — q211 discipline).
    def rank(st: DataFrame): DataFrame =
      st.withColumn("__rn", row_number().over(w))
    var state = rank(score(q.select(col("q_id")).crossJoin(entries))
        .withColumn("__exp", lit(false)))
      .localCheckpoint(true)
    for (_ <- 1 to hops) {
      val frontier = state
        .filter(col("__rn") <= beamWidth && !col("__exp"))
        .select(col("q_id"), col("node"))
      val cand = frontier
        .join(edges.select(col("src").as("node"), col("dst")), Seq("node"))
        .select(col("q_id"), col("dst").as("node"))
      state = rank(state
          .select(col("q_id"), col("node"), col("cos"),
            (col("__exp") || col("__rn") <= beamWidth).as("__exp"))
          .unionByName(score(cand).withColumn("__exp", lit(false)))
          .groupBy(col("q_id"), col("node"))
          .agg(max(col("cos")).as("cos"), max(col("__exp")).as("__exp")))
        .localCheckpoint(true)
    }
    topKMerge(state.filter(col("q_id") =!= col("node"))
      .select(col("q_id"), col("node").as("c_id"), col("cos")), k)
  }

  /** In-query graph ANN: build the mutual-kNN graph, search it —
    * the q255 shape (the graph is the expensive half; serve from
    * [[saveKnnGraphIndex]] when it can be sunk). */
  def knnGraphSearch(queries: DataFrame, corpus: DataFrame, id: String,
                     vec: String, k: Int, knnK: Int, beamWidth: Int,
                     hops: Int, entryBuckets: Int = 4,
                     salt: String = "knng"): DataFrame = {
    val pairs = mutualKnnPairs(corpus, id, vec, knnK)
    // consumed once per hop by the expansion join, and its recompute
    // crosses the mutual-pair self-join's shuffle — the persist-pays
    // rule (r16: the un-persisted edge plan re-ran the fwd⋈bwd join
    // every hop; the serving path reads a TABLE instead, so the persist
    // belongs here, in the in-query builder, only)
    val edges = Caches.track(
      pairs.select(col("a_id").as("src"), col("b_id").as("dst"))
        .unionByName(pairs.select(col("b_id").as("src"),
          col("a_id").as("dst")))
        .persist())
    knnGraphBeamSearch(queries, edges, corpus, id, vec, k, beamWidth,
      hops, entryBuckets, salt)
  }

  private def knnGraphVecTable(table: String): String = table + "__vec"

  /** Persist the mutual-kNN graph as a MAINTAINED pair index: a
    * directed edge table `(src, dst, gen)` bucketed by `src` (the
    * expansion join prunes to the frontier's buckets) and a node
    * vector sibling `<table>__vec (src, vec, gen)` bucketed by `src`,
    * both under ONE tombstone sidecar and one generation stamp (the
    * maxsim pair discipline). A deleted node's vec row is hidden by
    * the sidecar, which also kills it as a CANDIDATE everywhere — the
    * scoring join on the live vector table is inner, so dangling
    * edges (dst deleted) are harmless garbage, never results; its
    * src-edges are hidden directly. Build params (k) persist in the
    * O(1) sidecar ([[graft.io.IndexMaintenance.writeParams]]). */
  def saveKnnGraphIndex(df: DataFrame, id: String, vec: String,
                        table: String, buckets: Int, k: Int): Unit = {
    val pairs = mutualKnnPairs(df, id, vec, k)
    val edges = pairs.select(col("a_id").as("src"), col("b_id").as("dst"))
      .unionByName(pairs.select(col("b_id").as("src"),
        col("a_id").as("dst")))
      .withColumn("gen", lit(0L))
    graft.io.Layout.writeBucketed(edges, table, "src", buckets)
    graft.io.Layout.writeBucketed(
      df.select(col(id).as("src"), col(vec).as("vec"))
        .withColumn("gen", lit(0L)),
      knnGraphVecTable(table), "src", buckets)
    graft.io.IndexMaintenance.writeParams(df.sparkSession, table,
      Map("k" -> k.toLong))
  }

  /** The live (edges, vectors) serve views of a maintained graph
    * index — both through the SHARED sidecar. */
  def loadKnnGraph(spark: org.apache.spark.sql.SparkSession,
                   table: String): (DataFrame, DataFrame) = {
    val tomb = graft.io.IndexMaintenance.tombstoneTable(table)
    (graft.io.IndexMaintenance.loadWith(spark, table, "src", tomb),
      graft.io.IndexMaintenance.loadWith(spark, knnGraphVecTable(table),
        "src", tomb))
  }

  /** Serve [[knnGraphBeamSearch]] from a maintained index. */
  def knnGraphSearchFromIndex(spark: org.apache.spark.sql.SparkSession,
                              table: String, queries: DataFrame,
                              id: String, vec: String, k: Int,
                              beamWidth: Int, hops: Int,
                              entryBuckets: Int = 4,
                              salt: String = "knng"): DataFrame = {
    val (edges, vecs) = loadKnnGraph(spark, table)
    knnGraphBeamSearch(queries, edges,
      vecs.select(col("src").as(id), col("vec").as(vec)), id, vec, k,
      beamWidth, hops, entryBuckets, salt)
  }

  /** Append NEW nodes HNSW-style — O(batch · live graph scoring):
    * each arriving node links to its exact top-k among the live nodes
    * plus its own batch, in BOTH directions; existing edges are never
    * re-evaluated (the standard incremental-graph approximation —
    * mutuality is a build-time property; appended edges only ADD
    * connectivity, so reachability never degrades). The k guard reads
    * the O(1) params sidecar. */
  def appendToKnnGraphIndex(df: DataFrame, id: String, vec: String,
                            table: String, buckets: Int): Unit = {
    val spark = df.sparkSession
    val k = graft.io.IndexMaintenance.readParams(spark, table)
      .flatMap(_.get("k"))
      .getOrElse(throw new IllegalArgumentException(
        s"graph index '$table' has no params sidecar — " +
          "rebuild with saveKnnGraphIndex")).toInt
    val gen = graft.io.IndexMaintenance.currentSeq(spark, table)
    val (_, liveV) = loadKnnGraph(spark, table)
    val batch = df.select(col(id).as("src"), col(vec).as("vec"))
    val target = liveV.select(col("src"), col("vec")).unionByName(batch)
    val nn = cosineTopK(
      batch.select(col("src").as("nid"), col("vec").as("nv")),
      target.select(col("src").as("nid"), col("vec").as("nv")),
      "nid", "nv", k)
    val edges = nn.select(col("q_id").as("src"),
        col("neighbor_id").as("dst"))
      .unionByName(nn.select(col("neighbor_id").as("src"),
        col("q_id").as("dst")))
      .dropDuplicates("src", "dst")
      .withColumn("gen", lit(gen))
    graft.io.Layout.appendBucketed(edges, table, "src", buckets)
    graft.io.Layout.appendBucketed(batch.withColumn("gen", lit(gen)),
      knnGraphVecTable(table), "src", buckets)
  }

  /** Tombstone nodes out of the graph (one sidecar row hides the vec
    * row — killing the node as a candidate and entry everywhere — and
    * its out-edges). */
  def deleteFromKnnGraphIndex(spark: org.apache.spark.sql.SparkSession,
                              table: String, ids: DataFrame,
                              idCol: String): Unit =
    graft.io.IndexMaintenance.delete(spark, table, "src",
      ids.select(col(idCol).as("src")))

  /** Compact both tables of the graph index behind the shared sidecar
    * (the [[graft.io.IndexMaintenance.compactPair]] crash contract).
    * Dangling edges (dst deleted) survive the rewrite by design — they
    * are unreachable as RESULTS (no live vec row) and bounded by the
    * build degree; the vec table is rewritten live-only. */
  def compactKnnGraphIndex(spark: org.apache.spark.sql.SparkSession,
                           table: String, buckets: Int): Unit =
    graft.io.IndexMaintenance.compactPair(spark, table,
      knnGraphVecTable(table), "src", "src", buckets, "src")

  /** Exact per-dimension variance KEYS of an embedding corpus:
    * `n·Σm² − (Σm)²  =  n²·var` over the floor-quantized grid
    * (`m = ⌊2ˢ·v⌋`), one posexplode partial-agg pass — the
    * [[pcaSpectrum]] integer-moment identity applied per RAW dim.
    * Returned as one long per dim (ordering key only; the n² factor is
    * shared, so ranking by it ranks by variance). Int64 bound:
    * n·Σm² ≤ n²·max(m²) — safe to ~10⁶ rows at 2¹²-grid magnitudes;
    * shiftright the moments first past that (the pcaSpectrum rule). */
  def trainDimVarianceKeys(df: DataFrame, vec: String,
                           scaleBits: Int = 12): Array[Long] = {
    require(scaleBits >= 1 && scaleBits <= 20, s"bad scaleBits: $scaleBits")
    val scale = (1L << scaleBits).toDouble
    val rows = df.select(posexplode(col(vec)).as(Seq("j", "x")))
      .select(col("j"), floor(col("x").cast("double") * scale).as("m"))
      .groupBy(col("j"))
      .agg(count(lit(1)).as("n"), sum(col("m")).as("s"),
        sum(col("m") * col("m")).as("ss"))
      .collect()
    require(rows.nonEmpty, "trainDimVarianceKeys: empty corpus")
    val out = new Array[Long](rows.length)
    rows.foreach { r =>
      out(r.getInt(0)) = r.getLong(1) * r.getLong(3) -
        r.getLong(2) * r.getLong(2)
    }
    out
  }

  /** OPQ-natural dimension allocation (the published OPQ baseline that
    * needs no rotation — Ge et al. 2013 §"natural order" vs balanced):
    * deal the dims, ranked by variance DESC (tie → lower dim), round-
    * robin across the `m` PQ subspaces, so every subspace carries an
    * equal share of the corpus energy. Contiguous-slice PQ trainers/
    * searchers then work UNCHANGED on the permuted vectors — subspace
    * `s` occupies positions [s·dsub, (s+1)·dsub). Matters exactly when
    * the signal concentrates in few dims (cluster indicators, PCA-
    * rotated inputs): un-permuted, whole subspaces are pure noise and
    * their codes carry nothing. Returns `perm` with
    * `permuted(newPos) = original(perm(newPos))`. */
  def varianceBalancedPerm(varKeys: Array[Long], m: Int): Array[Int] = {
    require(m >= 1 && varKeys.nonEmpty && varKeys.length % m == 0,
      s"need d divisible by m, got d=${varKeys.length} m=$m")
    val dsub = varKeys.length / m
    val ranked = varKeys.zipWithIndex
      .sortBy { case (v, j) => (-v, j) }.map(_._2)
    Array.tabulate(varKeys.length) { pos =>
      val s = pos / dsub
      val t = pos % dsub
      ranked(t * m + s)
    }
  }

  /** Row-local dimension permutation: `out(i) = vec(perm(i))` — a
    * literal-fused codegen'd array rebuild, lossless (floats move,
    * never recompute), cosine/dot invariant. */
  def permuteVec(vec: Column, perm: Array[Int]): Column =
    array(perm.toSeq.map(p => element_at(vec, p + 1)): _*)

  /** Train SQ8 scalar-quantization bounds: per-dimension (min, max) of
    * the floor-quantized corpus (`floor(v_j·2^scaleBits)`, the repo-wide
    * integer grid) — the trained artifact of the FAISS-style SQ8 index
    * form (each float dim → one byte against per-dim bounds; 4× smaller
    * than fp32 before PQ even enters). One codegen'd posexplode +
    * partial-agg min/max pass; artifact = 2·d longs, collected once.
    * Exact int64 ⇒ partition/order independent. */
  def trainSq8Bounds(df: DataFrame, vec: String, scaleBits: Int = 12)
      : (Array[Long], Array[Long]) = {
    val scale = (1L << scaleBits).toDouble
    val agg = df.select(posexplode(col(vec)).as(Seq("j", "x")))
      .select(col("j"), floor(col("x").cast("double") * scale).as("m"))
      .groupBy(col("j")).agg(min(col("m")).as("lo"), max(col("m")).as("hi"))
      .collect()
    require(agg.nonEmpty, "empty corpus")
    val lo = new Array[Long](agg.length)
    val hi = new Array[Long](agg.length)
    agg.foreach { r =>
      lo(r.getInt(0)) = r.getLong(1); hi(r.getInt(0)) = r.getLong(2)
    }
    (lo, hi)
  }

  /** Robust SQ8 bounds — per-dim DISCRETE QUANTILES of the quantized
    * corpus instead of [[trainSq8Bounds]]' min/max: one outlier
    * per dim otherwise stretches the trained range and burns most of
    * the 256 code points on empty space (the classic SQ failure; FAISS
    * ships the same idea as `QuantizerType.QT_8bit` with rangestat
    * quantiles). Values outside [lo_j, hi_j] CLAMP at encode time
    * ([[sq8Encode]]'s code clamp is already in place) — bounded error
    * on the tails buys resolution for the mass of the distribution.
    *
    * Same artifact shape as the min/max trainer (2·d longs) and the
    * same no-transport oracle property: quantiles are exact order
    * statistics of the integer grid, recomputable relationally in any
    * engine. Computed value-histogram-first (the
    * [[graft.ops.Curation.stratumQuantileBounds]] discipline): windows
    * run over the per-dim VALUE INVENTORY, never a raw-row sort.
    * `loQ`/`hiQ` should be dyadic rationals (1/64, 63/64) so the
    * `ceil(q·n)` rank is IEEE-exact cross-engine. */
  def trainSq8BoundsRobust(df: DataFrame, vec: String, loQ: Double,
                           hiQ: Double, scaleBits: Int = 12)
      : (Array[Long], Array[Long]) = {
    require(0.0 <= loQ && loQ < hiQ && hiQ <= 1.0,
      s"need 0 <= loQ < hiQ <= 1, got $loQ/$hiQ")
    val scale = (1L << scaleBits).toDouble
    val h = df.select(posexplode(col(vec)).as(Seq("j", "x")))
      .select(col("j"),
        floor(col("x").cast("double") * scale).cast("long").as("m"))
      .groupBy(col("j"), col("m")).agg(count(lit(1)).as("__c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("j")).orderBy(col("m"))
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(col("j"))
    val agg = h.withColumn("__cum", sum(col("__c")).over(w))
      .withColumn("__n", sum(col("__c")).over(wAll))
      .groupBy(col("j")).agg(
        min(when(col("__cum") >= ceil(lit(loQ) * col("__n")), col("m")))
          .as("lo"),
        min(when(col("__cum") >= ceil(lit(hiQ) * col("__n")), col("m")))
          .as("hi"))
      .collect()
    require(agg.nonEmpty, "empty corpus")
    val lo = new Array[Long](agg.length)
    val hi = new Array[Long](agg.length)
    agg.foreach { r =>
      lo(r.getInt(0)) = r.getLong(1); hi(r.getInt(0)) = r.getLong(2)
    }
    (lo, hi)
  }

  /** Exact floor division of two integer columns via the sanctioned
    * `(a − pmod(a, b)) / b` form: the subtraction makes the quotient
    * exactly divisible, so the double division is exact (`Column./` on
    * integers is DOUBLE division — never use it bare). `b` must be a
    * positive literal. */
  private def floorDivCol(a: Column, b: Long): Column =
    ((a - pmod(a, lit(b))) / lit(b)).cast("long")

  /** SQ8-encode a corpus against trained bounds ([[trainSq8Bounds]]) and
    * audit the quantization in one pass: per vector, `code_j =
    * clamp(255·(m_j − lo_j) DIV range_j, 0, 255)` (the byte FAISS's
    * ScalarQuantizer stores), reconstruction `r_j = lo_j +
    * code_j·range_j DIV 255`, and the per-vector audit `(code_checksum =
    * Σ (j+1)·code_j, err2 = Σ (m_j − r_j)²)` — the order-sensitive
    * checksum pins the exact byte sequence, err2 is the reconstruction
    * error an SQ8 deployment reports next to PQ's
    * ([[pqReconstructionError]]). All arithmetic is exact int64 on the
    * quantized grid (floor divisions via the pmod form, clamp only
    * reachable for out-of-corpus data), so the whole audit is
    * engine-exact and the oracle can recompute the bounds RELATIONALLY —
    * no artifact transport at all. Row-local fused literal expressions:
    * no join, no shuffle — the bounds ride the plan as literals, the
    * scan streams. Constant dims (range 0) code to 0 and reconstruct
    * exactly. */
  private def sq8MCol(vec: String, j: Int, scaleBits: Int): Column =
    floor(element_at(col(vec), j + 1).cast("double") *
      (1L << scaleBits).toDouble)

  private def sq8CodeCol(vec: String, j: Int, lo: Array[Long],
                         hi: Array[Long], scaleBits: Int): Column = {
    val range = hi(j) - lo(j)
    if (range == 0L) lit(0L)
    else least(greatest(
      floorDivCol((sq8MCol(vec, j, scaleBits) - lit(lo(j))) * 255, range),
      lit(0L)), lit(255L))
  }

  def sq8Encode(df: DataFrame, id: String, vec: String,
                lo: Array[Long], hi: Array[Long],
                scaleBits: Int = 12): DataFrame = {
    require(lo.length == hi.length && lo.nonEmpty, "bad bounds")
    require(lo.indices.forall(j => hi(j) >= lo(j)), "hi < lo")
    def code(j: Int): Column = sq8CodeCol(vec, j, lo, hi, scaleBits)
    def recon(j: Int): Column = {
      val range = hi(j) - lo(j)
      if (range == 0L) lit(lo(j))
      else lit(lo(j)) + floorDivCol(code(j) * lit(range), 255L)
    }
    val checksum = lo.indices.map(j => code(j) * lit(j + 1L))
      .reduceLeft(_ + _)
    val err2 = lo.indices.map { j =>
      val d = sq8MCol(vec, j, scaleBits).cast("long") - recon(j)
      d * d
    }.reduceLeft(_ + _)
    df.select(col(id).cast("long").as(id),
      checksum.as("code_checksum"), err2.as("err2"))
  }

  /** SQ8 code table — each corpus vector as one 0..255 int per dim
    * against the trained bounds: the 4×-compressed index form
    * [[sq8TopK]] scans (the FAISS ScalarQuantizer SQ8 layout, before PQ
    * enters). Row-local fused literal expressions, no shuffle. */
  def sq8Codes(df: DataFrame, id: String, vec: String,
               lo: Array[Long], hi: Array[Long],
               scaleBits: Int = 12): DataFrame = {
    require(lo.length == hi.length && lo.nonEmpty, "bad bounds")
    df.select(col(id).cast("long").as("c_id"),
      array(lo.indices.map(j =>
        sq8CodeCol(vec, j, lo, hi, scaleBits).cast("int")): _*).as("codes"))
  }

  /** The int64 ADC scores ride through [[topKMerge]] as doubles — a
    * score with |score| ≥ 2⁵³ would round there and silently break the
    * engine-exact ranking claim. Bound it at call time from the trained
    * bounds: |Σ mq_j·dq_j| ≤ Σ max(|lo_j|,|hi_j|)² (dequantized values
    * lie in [lo,hi] by construction; queries outside the trained bounds
    * violate the SQ contract anyway). Overflow-safe via BigInt. */
  private[graft] def sq8ExactnessGuard(lo: Array[Long],
                                       hi: Array[Long]): Unit = {
    val bound = lo.indices.map { j =>
      val m = BigInt(math.max(math.abs(lo(j)), math.abs(hi(j))))
      m * m
    }.sum
    require(bound < (BigInt(1) << 53),
      s"sq8 ADC score bound $bound >= 2^53: double-keyed topKMerge " +
        "would lose integer exactness — reduce scaleBits or dims, or " +
        "add a long-keyed top-k")
  }

  /** SQ8 ANN top-k by asymmetric integer dot ([[graft.functions.Sq8Dot]],
    * codegen'd): the corpus is scanned as CODES ONLY — dequantization
    * (`lo_j + code·range_j DIV 255`) is fused into the scoring loop, and
    * both sides stay on the int64 grid, so the ranking is ENGINE-EXACT
    * (quantization is the only approximation; there is no float-ADC
    * noise for an oracle to disagree about, unlike float SQ
    * implementations). Queries quantize to `floor(v·2^s)` longs and
    * broadcast; ranking is integer-score DESC then id ([[topKMerge]]).
    * Output: `(q_id, rank, neighbor_id, iscore)`.
    *
    * At 100 TB this is the SQFlat serving path: 1 byte per dim per
    * candidate against fp32's 4 — the variant that holds when PQ's
    * codebook error is too coarse but fp32 doesn't fit the page
    * cache. */
  def sq8TopK(queries: DataFrame, corpus: DataFrame, id: String,
              vec: String, k: Int, lo: Array[Long], hi: Array[Long],
              scaleBits: Int = 12,
              maxBroadcastQueries: Long = 500000L): DataFrame = {
    requireBounded("sq8TopK", "query", queries, maxBroadcastQueries,
      "maxBroadcastQueries",
      "bucket the queries (ivfTopK-style) or raise the limit explicitly")
    sq8ExactnessGuard(lo, hi)
    val range = lo.indices.map(j => hi(j) - lo(j)).toArray
    val scale = (1L << scaleBits).toDouble
    // persist the code table: under a BNLJ there is NO exchange between
    // the code projection and the per-pair scoring project, so Catalyst
    // collapses the 64-term encode INTO the join output and re-encodes
    // every vector once per QUERY (measured: 12.3 s vs 0.8 s at sf0.1).
    // In production the code table is the stored index anyway; q121's
    // cell join dodges this only because its shuffle materializes the
    // codes.
    val codes = graft.ops.Caches.track(
      sq8Codes(corpus, id, vec, lo, hi, scaleBits).persist())
    val q = queries.select(col(id).cast("long").as("q_id"),
      array(lo.indices.map(j =>
        floor(element_at(col(vec), j + 1).cast("double") * scale)
          .cast("long")): _*).as("mq"))
    val scored = codes.crossJoin(broadcast(q))
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        graft.functions.VectorExprs.sq8Dot(col("codes"), col("mq"), lo, range)
          .cast("double").as("cos"))
    topKMerge(scored, k)
      .select(col("q_id"), col("rank"), col("neighbor_id"),
        col("cos").cast("long").as("iscore"))
  }

  /** IVF-SQ8 top-k — the FAISS `IVFx,SQ8` index form: the trained
    * coarse quantizer prunes to `nProbe` cells per query
    * ([[ivfTopKWith]]'s probe discipline) and candidates score by the
    * all-int64 SQ8 ADC ([[sq8TopK]]'s engine-exact ranking). Cell
    * assignment happens at INDEX-BUILD time from full-precision vectors
    * (the FAISS convention — quantization error never moves a vector
    * across cells); the search-time scan touches only `(cell, codes)`
    * rows. The cell equi-join is the one corpus-scale join, bucketed by
    * construction; centroids and the quantized query table broadcast.
    * Output: `(q_id, rank, neighbor_id, iscore)`. */
  def ivfSq8TopK(queries: DataFrame, corpus: DataFrame, id: String,
                 vec: String, k: Int, cent: DataFrame, nProbe: Int,
                 lo: Array[Long], hi: Array[Long],
                 scaleBits: Int = 12): DataFrame =
    ivfSq8Search(ivfSq8Index(corpus, id, vec, cent, lo, hi, scaleBits),
      queries, id, vec, k, cent, nProbe, lo, hi, scaleBits)

  /** The IVF-SQ8 INDEX TABLE — `(cell, c_id, codes)`, one row per
    * corpus vector: cell from the trained coarse quantizer (assigned on
    * full-precision vectors, the FAISS convention), codes from the
    * trained SQ8 bounds. This is the artifact worth PERSISTING: build
    * once, then every search session reads it back and never touches
    * the raw vectors. */
  def ivfSq8Index(corpus: DataFrame, id: String, vec: String,
                  cent: DataFrame, lo: Array[Long], hi: Array[Long],
                  scaleBits: Int = 12): DataFrame = {
    val c = corpus.select(col(id).as("c_id"), col(vec).as("c_vec"),
      norm(col(vec)).as("c_norm"))
    val cells = assignCells(c, cent).select(col("c_id"), col("cell"))
    sq8Codes(corpus, id, vec, lo, hi, scaleBits)
      .join(cells, "c_id")
      .select(col("cell"), col("c_id"), col("codes"))
  }

  /** Persist the IVF-SQ8 index BUCKETED BY CELL
    * ([[graft.io.Layout.writeBucketed]]): a reloaded search's one
    * corpus-scale join — probes ⋈ index on `cell` — then plans with NO
    * exchange on the index side (the scan is already hash-partitioned
    * by cell), so query sessions pay zero index shuffle forever. The
    * scalar artifacts (centroids, lo/hi bounds) persist alongside via
    * [[graft.io.ArtifactStore]]; together they make search fully
    * restartable (SimilaritySpec pins reload ≡ rebuild). */
  def saveIvfSq8Index(corpus: DataFrame, id: String, vec: String,
                      cent: DataFrame, lo: Array[Long], hi: Array[Long],
                      table: String, buckets: Int,
                      scaleBits: Int = 12): Unit =
    graft.io.Layout.writeBucketed(
      ivfSq8Index(corpus, id, vec, cent, lo, hi, scaleBits)
        .withColumn("gen", lit(0L)),
      table, "cell", buckets)

  /** Incrementally grow a persisted IVF-SQ8 index: encode a NEW batch
    * with the index's EXISTING trained artifacts (centroids + bounds —
    * no retrain; cost ∝ the batch, the q147 inverted-index-merge
    * posture applied to the dense side) and append it to the bucketed
    * table, preserving the exchange-free search property
    * ([[graft.io.Layout.appendBucketed]]). Vectors outside the trained
    * SQ8 bounds clamp at encode ([[sq8Encode]]'s err2, run on the
    * arriving stream directly, says when drift warrants a retrain +
    * [[saveIvfSq8Index]] rebuild).
    * Search-after-append ≡ search over a full rebuild, bit for bit
    * (SimilaritySpec pins it). */
  def appendIvfSq8Index(batch: DataFrame, id: String, vec: String,
                        cent: DataFrame, lo: Array[Long], hi: Array[Long],
                        table: String, buckets: Int,
                        scaleBits: Int = 12): Unit =
    graft.io.Layout.appendBucketed(
      graft.io.IndexMaintenance.genStamp(
        ivfSq8Index(batch, id, vec, cent, lo, hi, scaleBits), table),
      table, "cell", buckets)

  /** The serving view of a maintained IVF-SQ8 table — live rows only
    * ([[graft.io.IndexMaintenance.load]]; cell-probe bucket pruning
    * intact below the broadcast tombstone anti join). */
  def loadIvfSq8Index(spark: org.apache.spark.sql.SparkSession,
                      table: String): DataFrame =
    graft.io.IndexMaintenance.load(spark, table, "c_id")

  /** Update vectors in place — the dense twin of
    * [[graft.ops.TextAnalysis.replaceInPostingsIndex]]: tombstone the
    * batch's ids (O(batch)), re-encode the batch with the index's
    * EXISTING trained artifacts and append it at the new generation.
    * Physical cleanup is [[graft.io.IndexMaintenance.compact]]. */
  def replaceInIvfSq8Index(batch: DataFrame, id: String, vec: String,
                           cent: DataFrame, lo: Array[Long],
                           hi: Array[Long], table: String, buckets: Int,
                           scaleBits: Int = 12): Unit = {
    graft.io.IndexMaintenance.delete(batch.sparkSession, table, "c_id",
      batch.select(col(id).as("c_id")))
    appendIvfSq8Index(batch, id, vec, cent, lo, hi, table, buckets,
      scaleBits)
  }

  /** Search an ALREADY-BUILT `(cell, c_id, codes)` index (fresh from
    * [[ivfSq8Index]] or reloaded from [[saveIvfSq8Index]]'s bucketed
    * table): probe selection and integer ADC scoring exactly as
    * [[ivfSq8TopK]] — same output, bit for bit. */
  def ivfSq8Search(index: DataFrame, queries: DataFrame, id: String,
                   vec: String, k: Int, cent: DataFrame, nProbe: Int,
                   lo: Array[Long], hi: Array[Long],
                   scaleBits: Int = 12): DataFrame = {
    sq8ExactnessGuard(lo, hi)
    val range = lo.indices.map(j => hi(j) - lo(j)).toArray
    val scale = (1L << scaleBits).toDouble
    val q = queries.select(col(id).as("q_id"), col(vec).as("q_vec"),
      norm(col(vec)).as("q_norm"))
    val probes = q.crossJoin(broadcast(cent))
      .select(col("q_id"),
        cosine(col("q_vec"), col("cent_vec"), col("q_norm"), col("cent_norm"))
          .as("qcos"), col("cent_id"))
      .groupBy(col("q_id"))
      .agg(slice(array_sort(collect_list(
        struct((-col("qcos")).as("n"), col("cent_id")))), 1, nProbe).as("cells"))
      .select(col("q_id"), explode(col("cells.cent_id")).as("cell"))
    val qm = queries.select(col(id).cast("long").as("q_id"),
      array(lo.indices.map(j =>
        floor(element_at(col(vec), j + 1).cast("double") * scale)
          .cast("long")): _*).as("mq"))
    val scored = probes.join(broadcast(qm), "q_id")
      .join(index, Seq("cell"))
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        graft.functions.VectorExprs.sq8Dot(col("codes"), col("mq"), lo, range)
          .cast("double").as("cos"))
    topKMerge(scored, k)
      .select(col("q_id"), col("rank"), col("neighbor_id"),
        col("cos").cast("long").as("iscore"))
  }

  /** Label agreement@k — the intrinsic embedding-quality eval next to
    * [[topKRecall]]'s index-quality eval: per query vector, how many of
    * its exact top-k cosine neighbors share its label (high agreement =
    * the embedding respects the labeling; collapsed or shuffled spaces
    * score at chance). Output is pure integers `(q_id, q_label,
    * n_same)` — the caller divides by k if a ratio is wanted — so the
    * report is engine-exact wherever the top-k SET is (the q19
    * tie-break discipline: cos DESC, then id).
    *
    * Shape: [[cosineTopK]]'s bounded-heap top-k, then two narrow-key
    * label equi-joins (id → label, never a vector column) and a
    * |queries|-key groupBy. The top-k result (|queries|·k rows by
    * construction) is BROADCAST against the corpus-label side — the
    * corpus's (id, label) table is the 100 TB-scale relation here and
    * must stream through the join unshuffled, not the other way
    * around. */
  def labelAgreementAtK(queries: DataFrame, corpus: DataFrame, id: String,
      vec: String, label: String, k: Int): DataFrame = {
    val nLab = corpus.select(col(id).as("neighbor_id"),
      col(label).cast("int").as("n_label"))
    val qLab = queries.select(col(id).as("q_id"),
      col(label).cast("int").as("q_label"))
    nLab
      .join(broadcast(cosineTopK(queries, corpus, id, vec, k)),
        Seq("neighbor_id"))
      .join(broadcast(qLab), Seq("q_id"))
      .groupBy(col("q_id"), col("q_label"))
      .agg(sum(when(col("n_label") === col("q_label"), 1).otherwise(0))
        .as("n_same"))
  }

  /** Per-class quantized centroids + the global centroid, for labeled
    * embeddings: ONE codegen'd posexplode partial-agg pass over
    * (label, j) — shuffle bounded by labels·d·partitions — then
    * `floorDiv` means driver-side (the [[trainEmbeddingCentroid]]
    * convention). The global centroid is floorDiv of the GLOBAL sums,
    * not a mix of the per-class means (floorDiv does not distribute).
    * Artifact: labels·d + d longs. Returns
    * (globalMu, per-label (label, n, mu)) sorted by label. */
  def trainClassCentroids(df: DataFrame, label: String, vec: String,
      scaleBits: Int = 12): (Array[Long], Seq[(Int, Long, Array[Long])]) = {
    val scale = (1L << scaleBits).toDouble
    val agg = df.select(col(label).cast("int").as("l"),
        posexplode(col(vec)).as(Seq("j", "x")))
      .select(col("l"), col("j"),
        floor(col("x").cast("double") * scale).as("m"))
      .groupBy(col("l"), col("j"))
      .agg(sum(col("m")).as("s"), count(lit(1)).as("n"))
      .collect()
    require(agg.nonEmpty, "empty corpus")
    val d = agg.map(_.getInt(1)).max + 1
    val byLabel = agg.groupBy(_.getInt(0)).toSeq.sortBy(_._1).map {
      case (l, rows) =>
        val s = new Array[Long](d)
        var n = 0L
        rows.foreach { r => s(r.getInt(1)) = r.getLong(2); n = r.getLong(3) }
        (l, n, s)
    }
    val gs = new Array[Long](d)
    var gn = 0L
    byLabel.foreach { case (_, n, s) =>
      gn += n
      var j = 0
      while (j < d) { gs(j) += s(j); j += 1 }
    }
    (gs.map(Math.floorDiv(_, gn)),
      byLabel.map { case (l, n, s) => (l, n, s.map(Math.floorDiv(_, n))) })
  }

  /** Class-separability scatter report (the Fisher/LDA diagnostic for
    * labeled embeddings): per class, exact integer WITHIN-class scatter
    * (Σ rows ‖m − μ_class‖²) and BETWEEN-class scatter
    * (n_class·‖μ_class − μ_global‖²) — separable classes show
    * between ≫ within. All int64 on the quantized grid, so the report
    * hash-matches across engines. Shape: one corpus scan emitting
    * (label, dist2) row-locally (centroid map rides the closure), a
    * partial-agg groupBy on the ≤|labels| key, and a broadcast join of
    * the |labels|-row between-term table. Output:
    * `(label, n, within, between)`. */
  def classScatterReport(df: DataFrame, label: String, vec: String,
      globalMu: Array[Long], classMu: Seq[(Int, Long, Array[Long])],
      scaleBits: Int = 12): DataFrame = {
    import df.sparkSession.implicits._
    val scale = (1L << scaleBits).toDouble
    val muMap = classMu.map { case (l, _, mu) => l -> mu }.toMap
    val bl = classMu.map { case (l, _, mu) =>
      var b = 0L
      var j = 0
      while (j < mu.length) {
        val dlt = mu(j) - globalMu(j)
        b += dlt * dlt
        j += 1
      }
      (l, b)
    }.toDF("label", "bl")
    df.select(col(label).cast("int"), col(vec)).as[(Int, Seq[Float])]
      .mapPartitions { it =>
        it.map { case (l, v) =>
          val mu = muMap.getOrElse(l,
            throw new IllegalArgumentException(s"untrained label: $l"))
          var acc = 0L
          var j = 0
          while (j < mu.length) {
            val dlt = math.floor(v(j) * scale).toLong - mu(j)
            acc += dlt * dlt
            j += 1
          }
          (l, acc)
        }
      }.toDF("label", "d2")
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"), sum(col("d2")).as("within"))
      .join(broadcast(bl), Seq("label"))
      .select(col("label"), col("n"), col("within"),
        (col("n") * col("bl")).as("between"))
  }

  /** Exact integer squared distance to a trained centroid as a fused
    * CODEGEN'D column expression: `Σ_j (floor(v_j·2^s) − μ_j)²` expanded
    * to d literal terms (`element_at` + `floor` are whole-stage-codegen
    * built-ins; an `aggregate` HOF would run interpreted, the CLAUDE.md
    * hot-path rule). Works identically over batch and streaming inputs
    * — the centroid is a literal fused into the scan, never a joined
    * column. */
  def centroidDist2Expr(vecCol: Column, mu: Array[Long],
                        scaleBits: Int = 12): Column = {
    val scale = (1L << scaleBits).toDouble
    mu.zipWithIndex.map { case (m, j) =>
      val t = floor(element_at(vecCol, j + 1).cast("double") * scale) - lit(m)
      t * t
    }.reduce(_ + _)
  }

  /** Squared distance of each embedding to a trained integer centroid
    * ([[trainEmbeddingCentroid]]): `Σ_j (floor(v_j·2^s) − μ_j)²` — exact
    * int64, row-local ([[centroidDist2Expr]], codegen'd). The
    * outlier-detection primitive for embedding-space data cleaning
    * (corrupt / out-of-distribution rows rank first under
    * `orderBy(dist2 desc)` + limit, a bounded TakeOrdered top-k).
    * Output: `(id, dist2)`. */
  def centroidDistances(df: DataFrame, id: String, vec: String,
                        mu: Array[Long], scaleBits: Int = 12): DataFrame =
    df.select(col(id).cast("long").as(id),
      centroidDist2Expr(col(vec), mu, scaleBits).as("dist2"))

  /** Per-dimension embedding drift between two snapshots — "did the
    * embedding distribution move" on the int64 grid: each snapshot
    * contributes exact first moments `(n, Σ floor(v_j·2^s))` per dim
    * (ONE posexplode partial-agg pass each, d-bounded output), and the
    * mean shift surfaces cross-multiplied as `dev_j = s_a·n_b − s_b·n_a`
    * (sign = direction; `dev_j / (n_a·n_b·2^s)` is the mean difference
    * in embedding units) — the [[graft.ops.Curation.histogramDrift]]
    * discipline applied per dimension. The new-encoder / corrupted-batch
    * alarm next to [[centroidDistances]]' per-row outliers. ANSI keeps
    * the documented `s·n < 2^63` bound loud; shard-and-average first
    * past ~10⁹ rows per snapshot. Output:
    * `(j, n_a, s_a, n_b, s_b, dev)`. */
  def embeddingDrift(a: DataFrame, b: DataFrame, vec: String,
                     scaleBits: Int = 12): DataFrame = {
    def moments(d: DataFrame, s: String, n: String) =
      embeddingMoments(d, vec, scaleBits)
        .select(col("j"), col("s").as(s), col("n").as(n))
    moments(a, "s_a", "n_a").join(moments(b, "s_b", "n_b"), Seq("j"),
        "full_outer")
      .select(col("j"), coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("s_a"), lit(0L)).as("s_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"),
        coalesce(col("s_b"), lit(0L)).as("s_b"))
      .withColumn("dev", col("s_a") * col("n_b") - col("s_b") * col("n_a"))
  }

  /** The per-dim exact first moments `(j, s = Σ floor(v_j·2^s), n)` one
    * snapshot contributes to [[embeddingDrift]] — exposed so a trained
    * REFERENCE snapshot's moments can persist and broadcast against a
    * live stream ([[graft.streaming.StatefulOps.streamingEmbeddingDrift]]). */
  def embeddingMoments(df: DataFrame, vec: String,
                       scaleBits: Int = 12): DataFrame = {
    val scale = (1L << scaleBits).toDouble
    df.select(posexplode(col(vec)).as(Seq("j", "x")))
      .select(col("j"),
        floor(col("x").cast("double") * scale).cast("long").as("m"))
      .groupBy(col("j")).agg(sum(col("m")).as("s"), count(lit(1)).as("n"))
  }

  // ------------------------------------------------ binary (1-bit) quantization

  /** 1-bit binary-quantization codes: bit `j` of the packed int64 code is
    * set iff `floor(v_j·2^s) ≥ 0` (equivalently `v_j ≥ 0` — the sign
    * pattern on the shared int64 grid, so the oracle needs no float
    * transport). 64 dims pack into ONE long — a 256× compression over
    * fp32 and the coarsest point on the SQ8 (8 bit, [[sq8Codes]]) / PQ
    * ([[pqEncode]]) spectrum: the BQ/RaBitQ-style first-stage filter.
    * Output `(c_id, bcode)`; bit 63 lands in the sign bit, which XOR /
    * `bit_count` treat bitwise — two's-complement signedness never
    * affects Hamming distances. */
  def binaryCodes(df: DataFrame, id: String, vec: String, dim: Int,
                  scaleBits: Int = 12): DataFrame = {
    require(dim >= 1 && dim <= 64, s"one int64 packs <= 64 bits: dim=$dim")
    val scale = (1L << scaleBits).toDouble
    // disjoint bit terms sum without overflow: any partial sum is a
    // subset of bits 0..62 (< 2^63) plus possibly the 1L<<63 = MinValue
    // term, always representable — ANSI-safe.
    val bits = (0 until dim).map { j =>
      when(floor(element_at(col(vec), j + 1).cast("double") * scale) >= 0,
        lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    df.select(col(id).cast("long").as("c_id"), bits.as("bcode"))
  }

  /** Binary-quantized ANN with exact re-rank — the standard two-stage
    * serving shape ([[binaryCodes]] filter → integer-exact refine) none
    * of the single-stage paths ([[sq8TopK]]/[[pqTopK]]) exercise:
    *
    *  1. FILTER: scan the corpus as 8-byte codes, rank by Hamming
    *     distance `bit_count(qcode XOR bcode)` (one codegen'd popcount
    *     per candidate — the cheapest possible first pass), keep the
    *     `candidates` best per query via [[topKMerge]] (distance ≤ 64,
    *     exact in the double key).
    *  2. REFINE: re-score ONLY the `|queries|·candidates` survivors with
    *     the exact int64 dot `Σ floor(vq_j·2^s)·floor(vc_j·2^s)` — a
    *     narrow-key join back to the raw vectors whose volume is
    *     candidate-bounded, never corpus-bounded — and emit the final
    *     (iscore DESC, id) top-k by a per-query window over the tiny
    *     candidate table (int64 end to end: no double rounding to
    *     re-rank, the q119 lesson).
    *
    * At 100 TB the stage-1 scan reads 1/256th of the fp32 bytes and the
    * expensive exact pass touches a fixed number of rows per query.
    * The code table persists ([[graft.ops.Caches.track]]) — under the
    * broadcast BNLJ Catalyst would otherwise collapse the 64-term code
    * projection into the per-pair scoring project (the q120 incident);
    * in production it is the stored index anyway.
    * Output: `(q_id, rank, neighbor_id, hd, iscore)`. */
  def bqTopK(queries: DataFrame, corpus: DataFrame, id: String,
             vec: String, k: Int, candidates: Int, dim: Int,
             scaleBits: Int = 12,
             maxBroadcastQueries: Long = 500000L): DataFrame = {
    require(candidates >= k, s"refine pool $candidates < k=$k")
    requireBounded("bqTopK", "query", queries, maxBroadcastQueries,
      "maxBroadcastQueries",
      "bucket the queries (ivfTopK-style) or raise the limit explicitly")
    val scale = (1L << scaleBits).toDouble
    val codes = graft.ops.Caches.track(
      binaryCodes(corpus, id, vec, dim, scaleBits).persist())
    val q = binaryCodes(queries, id, vec, dim, scaleBits)
      .select(col("c_id").as("q_id"), col("bcode").as("qcode"))
    val hscored = codes.crossJoin(broadcast(q))
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        (-bit_count(col("bcode").bitwiseXOR(col("qcode"))))
          .cast("double").as("cos"))
    val cand = topKMerge(hscored, candidates)
      .select(col("q_id"), col("neighbor_id").as("c_id"),
        (-col("cos")).cast("int").as("hd"))
    // refine: narrow-key join back to the raw vectors FIRST (the corpus
    // side is pruned to the candidate set before any explode — exploding
    // the corpus and then joining would cost |corpus|·d rows at scale),
    // then exact integer dot via a (q_id, j) broadcast equi-join.
    val qm = queries
      .select(col(id).cast("long").as("q_id"),
        posexplode(col(vec)).as(Seq("j", "__v")))
      .select(col("q_id"), col("j"),
        floor(col("__v").cast("double") * scale).cast("long").as("mq"))
    val cm = cand
      .join(corpus.select(col(id).cast("long").as("c_id"),
        col(vec).as("__cv")), "c_id")
      .select(col("q_id"), col("c_id"), col("hd"),
        posexplode(col("__cv")).as(Seq("j", "__v")))
      .select(col("q_id"), col("c_id"), col("hd"), col("j"),
        floor(col("__v").cast("double") * scale).cast("long").as("mc"))
      .join(broadcast(qm), Seq("q_id", "j"))
      .groupBy(col("q_id"), col("c_id"), col("hd"))
      .agg(sum(col("mq") * col("mc")).as("iscore"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id"))
      .orderBy(col("iscore").desc, col("c_id"))
    cm.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("c_id").as("neighbor_id"),
        col("hd"), col("iscore"))
  }

  // ------------------------------------------------ filter-then-refine
  // Composable coarse→fine serving (the generalization of q139's
  // hard-coded BQ→exact): a CandidateGen shrinks the corpus to a
  // per-query candidate pool, a PairScorer re-scores ONLY those pairs,
  // and [[refineTopK]] composes any (coarse, fine) point on the
  // recall/cost curve declaratively — BQ→SQ8, SQ8→exact,
  // IVF-SQ8→exact, … — with [[topKRecall]] reporting each
  // composition's recall against the exact ranking. Scale shape: every
  // fine stage is a NARROW pair-keyed join (|queries|·candidates rows
  // against the (id, vec/codes) projection — vectors never shuffle
  // with the pairs), so refine cost ∝ candidate pool, never corpus.

  /** (queries, corpus) → per-query candidate pairs `(q_id, c_id)`. */
  type CandidateGen = (DataFrame, DataFrame) => DataFrame

  /** (pairs, queries, corpus) → scored pairs `(q_id, c_id, cos)` —
    * `cos` double for [[topKMerge]]; integer scorers stay exact below
    * 2⁵³ ([[sq8ExactnessGuard]]'s argument). */
  type PairScorer = (DataFrame, DataFrame, DataFrame) => DataFrame

  /** Top-`candidates` binary-quantization (sign-bit Hamming) pool —
    * [[bqTopK]]'s coarse half as a composable stage. */
  def bqCandidates(id: String, vec: String, candidates: Int, dim: Int,
                   scaleBits: Int = 12,
                   maxBroadcastQueries: Long = 500000L): CandidateGen =
    (queries, corpus) => {
      require(candidates >= 1, s"bad candidate pool: $candidates")
      requireBounded("bqCandidates", "query", queries, maxBroadcastQueries,
        "maxBroadcastQueries",
        "bucket the queries or raise the limit explicitly")
      val codes = graft.ops.Caches.track(
        binaryCodes(corpus, id, vec, dim, scaleBits).persist())
      val q = binaryCodes(queries, id, vec, dim, scaleBits)
        .select(col("c_id").as("q_id"), col("bcode").as("qcode"))
      val hscored = codes.crossJoin(broadcast(q))
        .filter(col("q_id") =!= col("c_id"))
        .select(col("q_id"), col("c_id"),
          (-bit_count(col("bcode").bitwiseXOR(col("qcode"))))
            .cast("double").as("cos"))
      topKMerge(hscored, candidates)
        .select(col("q_id"), col("neighbor_id").as("c_id"))
    }

  /** Top-`candidates` full-scan SQ8 pool ([[sq8TopK]] as a stage). */
  def sq8Candidates(id: String, vec: String, candidates: Int,
                    lo: Array[Long], hi: Array[Long],
                    scaleBits: Int = 12): CandidateGen =
    (queries, corpus) =>
      sq8TopK(queries, corpus, id, vec, candidates, lo, hi, scaleBits)
        .select(col("q_id"), col("neighbor_id").as("c_id"))

  /** Top-`candidates` cell-pruned IVF-SQ8 pool ([[ivfSq8TopK]] as a
    * stage — the corpus-scale coarse generator). */
  def ivfSq8Candidates(id: String, vec: String, candidates: Int,
                       cent: DataFrame, nProbe: Int,
                       lo: Array[Long], hi: Array[Long],
                       scaleBits: Int = 12): CandidateGen =
    (queries, corpus) =>
      ivfSq8TopK(queries, corpus, id, vec, candidates, cent, nProbe, lo,
        hi, scaleBits)
        .select(col("q_id"), col("neighbor_id").as("c_id"))

  /** [[ivfSq8Candidates]] off a PERSISTED [[saveIvfSq8Index]] table —
    * the serving-side generator: the composition's corpus argument is
    * IGNORED (the maintained index IS the corpus — live rows via
    * [[loadIvfSq8Index]], bucket pruning intact), so [[refineTopK]]
    * and [[bitextMineTopKAnn]] nominate against a sunk artifact with
    * zero index-side shuffle. The caller passes the SAME trained
    * artifacts (centroids, bounds) the index was built with —
    * [[graft.io.ArtifactStore]] persists them alongside. */
  def ivfSq8CandidatesFromIndex(spark: org.apache.spark.sql.SparkSession,
                                table: String, id: String, vec: String,
                                candidates: Int, cent: DataFrame,
                                nProbe: Int, lo: Array[Long],
                                hi: Array[Long],
                                scaleBits: Int = 12): CandidateGen =
    (queries, _) =>
      ivfSq8Search(loadIvfSq8Index(spark, table), queries, id, vec,
        candidates, cent, nProbe, lo, hi, scaleBits)
        .select(col("q_id"), col("neighbor_id").as("c_id"))

  /** Exact float cosine over candidate pairs — the full-precision
    * refiner ending every composition that must agree with
    * [[cosineTopK]] on its survivors. */
  def exactCosineScorer(id: String, vec: String): PairScorer =
    (pairs, queries, corpus) => {
      val q = queries.select(col(id).cast("long").as("q_id"),
        col(vec).as("q_vec"), norm(col(vec)).as("q_norm"))
      val c = corpus.select(col(id).cast("long").as("c_id"),
        col(vec).as("c_vec"), norm(col(vec)).as("c_norm"))
      pairs.join(c, Seq("c_id")).join(broadcast(q), Seq("q_id"))
        .select(col("q_id"), col("c_id"),
          cosine(col("q_vec"), col("c_vec"), col("q_norm"), col("c_norm"))
            .as("cos"))
    }

  /** All-int64 SQ8 ADC over candidate pairs — the mid-fidelity refiner
    * (e.g. BQ→SQ8 when raw vectors are too hot to touch at serve
    * time). */
  def sq8PairScorer(id: String, vec: String, lo: Array[Long],
                    hi: Array[Long], scaleBits: Int = 12): PairScorer =
    (pairs, queries, corpus) => {
      sq8ExactnessGuard(lo, hi)
      val range = lo.indices.map(j => hi(j) - lo(j)).toArray
      val scale = (1L << scaleBits).toDouble
      val codes = sq8Codes(corpus, id, vec, lo, hi, scaleBits)
      val qm = queries.select(col(id).cast("long").as("q_id"),
        array(lo.indices.map(j =>
          floor(element_at(col(vec), j + 1).cast("double") * scale)
            .cast("long")): _*).as("mq"))
      pairs.join(codes, Seq("c_id")).join(broadcast(qm), Seq("q_id"))
        .select(col("q_id"), col("c_id"),
          graft.functions.VectorExprs.sq8Dot(col("codes"), col("mq"), lo,
            range).cast("double").as("cos"))
    }

  /** The composition: coarse candidate pool → fine re-score → exact
    * top-k ([[topKMerge]]'s cos DESC, id ASC discipline; rounding only
    * at the very end). Callers pick the recall/cost point by choosing
    * the stages and the pool size (`candidates ≥ k`, checked by the
    * generators' pool arguments); recall reports come from
    * [[topKRecall]] against the exact ranking. Output:
    * `(q_id, rank, neighbor_id, cos)`. */
  def refineTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                 coarse: CandidateGen, fine: PairScorer): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    topKMerge(fine(coarse(queries, corpus), queries, corpus), k)
  }

  // ------------------------------------------- multi-vector (maxsim)

  /** Late-interaction (ColBERT-style maxsim) retrieval — the remaining
    * standard retrieval family beside single-vector cosine and sparse
    * BM25: documents and queries are BAGS of token vectors, and
    * `score(q, d) = Σ_{query token} max_{doc token} dot` — each query
    * token independently finds its best-matching doc token, so a
    * multi-aspect query isn't forced through one pooled vector.
    *
    * Engine-exact on the int64 grid: each dot is the fused
    * quantize-and-dot [[graft.functions.VectorExprs.quantDot]]
    * (`Σ floor(2ˢ·a_i)·floor(2ˢ·b_i)` — float→double widening and the
    * power-of-two scale make both engines floor identical integers);
    * max and sum are exact. Rank: score DESC, doc ASC (q19 discipline).
    *
    * Shape: the query-token table is query-bounded and BROADCAST; doc
    * tokens stream through the nested-loop join once — |docTokens|·|q
    * tokens| fused-codegen dots, then ONE hash aggregate at
    * (q, q_tok, doc) granularity (map-side combine collapses doc
    * tokens) and one at (q, doc). This is the exact brute baseline, the
    * [[cosineTopK]] posture; at corpus scale compose an ANN prefilter
    * via [[refineTopK]]-style candidate generation and rescore
    * candidates only. Output: `(q_id, rank, doc_id, iscore, n_qtok)`. */
  def maxSimTopK(docTokens: DataFrame, id: String, vec: String,
                 queryTokens: DataFrame, qid: String, qtok: String,
                 k: Int, scaleBits: Int = 12): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(scaleBits >= 1 && scaleBits <= 20, s"bad scaleBits: $scaleBits")
    val d = docTokens.select(col(id).as("doc_id"), col(vec).as("__dv"))
    val q = queryTokens.select(col(qid).as("q_id"), col(qtok).as("__qt"),
      col(vec).as("__qv"))
    val tokBest = d.crossJoin(broadcast(q))
      .select(col("q_id"), col("__qt"), col("doc_id"),
        graft.functions.VectorExprs.quantDot(col("__dv"), col("__qv"),
          scaleBits).as("__dot"))
      .groupBy(col("q_id"), col("__qt"), col("doc_id"))
      .agg(max(col("__dot")).as("__best"))
    val scored = tokBest.groupBy(col("q_id"), col("doc_id"))
      .agg(sum(col("__best")).as("iscore"), count(lit(1)).as("n_qtok"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("iscore").desc, col("doc_id"))
    scored.withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("doc_id"), col("iscore"),
        col("n_qtok"))
  }

  /** Two-stage late-interaction retrieval — the production ColBERT
    * serving shape: a CHEAP single-vector pass ([[sumPooledDotTopK]] —
    * one pooled dot per (query, doc)) nominates `kCand` candidates per
    * query, and the exact maxsim chain re-scores ONLY those (token-pair
    * dots ∝ |candidate doc tokens|·|query tokens|, never corpus-wide).
    * The [[refineTopK]] filter-then-refine posture applied to the
    * multi-vector family; recall vs brute [[maxSimTopK]] is the
    * caller's kCand dial (the spec pins kCand = corpus ⇒ bit-equal).
    * Output: `(q_id, rank, doc_id, iscore, n_qtok)` — identical shape
    * and arithmetic to [[maxSimTopK]] on the candidate pool. */
  def maxSimRerank(docTokens: DataFrame, id: String, vec: String,
                   queryTokens: DataFrame, qid: String, qtok: String,
                   k: Int, kCand: Int, scaleBits: Int = 12): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(kCand >= k, s"kCand ($kCand) must be >= k ($k)")
    val cand = Caches.track(
      sumPooledDotTopK(docTokens, id, vec, queryTokens, qid, kCand,
          scaleBits)
        .select(col("q_id"), col("doc_id")).persist())
    val candDocs = cand.select(col("doc_id").as(id)).distinct()
    val d = docTokens.join(broadcast(candDocs), Seq(id))
      .select(col(id).as("doc_id"), col(vec).as("__dv"))
    val q = queryTokens.select(col(qid).as("q_id"), col(qtok).as("__qt"),
      col(vec).as("__qv"))
    val tokBest = d.crossJoin(broadcast(q))
      .join(broadcast(cand), Seq("q_id", "doc_id"))
      .select(col("q_id"), col("__qt"), col("doc_id"),
        graft.functions.VectorExprs.quantDot(col("__dv"), col("__qv"),
          scaleBits).as("__dot"))
      .groupBy(col("q_id"), col("__qt"), col("doc_id"))
      .agg(max(col("__dot")).as("__best"))
    val scored = tokBest.groupBy(col("q_id"), col("doc_id"))
      .agg(sum(col("__best")).as("iscore"), count(lit(1)).as("n_qtok"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("iscore").desc, col("doc_id"))
    scored.withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("doc_id"), col("iscore"),
        col("n_qtok"))
  }

  /** SQ8-served late-interaction retrieval (r10 verdict item 5) — the
    * storage-honest form of [[maxSimRerank]]: at corpus scale the doc
    * TOKEN BAG is the dominant index storage (tokens × dims × 4 bytes
    * fp32), so serving reads the docs' token vectors as SQ8 CODES — 1
    * byte per dim against trained bounds ([[trainSq8Bounds]]), the
    * [[sq8TopK]] layout lifted to the multi-vector family. Both stages
    * run from the code table alone; the float token vectors never need
    * to exist at serving time:
    *
    *  1. NOMINATION: per-doc pooled vectors summed from the DEQUANTIZED
    *     codes (`r_j = lo_j + code·range_j div 255`, exact int64),
    *     pivoted to one array per doc and persisted as part of the
    *     stored index artifact, one fused identity-dequant Sq8Dot BNLJ
    *     pass against the pooled query arrays, top `kCand` per query;
    *  2. RERANK: the candidates' token codes scored against the
    *     quantized query tokens by the fused asymmetric ADC
    *     ([[graft.functions.Sq8Dot]], codegen) — max per query token,
    *     sum per (query, doc), rank DESC then doc ASC.
    *
    * All-int64 like the rest of the SQ8 family, so the ranking is
    * engine-exact and the oracle recomputes bounds → codes → dequant →
    * dots RELATIONALLY (the q115/q120 transport-free artifact shape).
    * When every token value sits ON a trained bound, reconstruction is
    * exact and the output equals [[maxSimRerank]] bit for bit
    * (spec-pinned); in general the quantization error is the only
    * divergence — the SQ8 recall/storage tradeoff, chosen by using this
    * op at all. The code table is persisted — it IS the stored index,
    * and every consumer below it is a BNLJ (the q120 projection-collapse
    * lesson). Output: `(q_id, rank, doc_id, iscore, n_qtok)`. */
  def maxSimRerankSq8(docTokens: DataFrame, id: String, vec: String,
                      queryTokens: DataFrame, qid: String, qtok: String,
                      k: Int, kCand: Int, lo: Array[Long],
                      hi: Array[Long], scaleBits: Int = 12): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(kCand >= k, s"kCand ($kCand) must be >= k ($k)")
    sq8ExactnessGuard(lo, hi)
    val range = lo.indices.map(j => hi(j) - lo(j)).toArray
    val scale = (1L << scaleBits).toDouble
    val codes = Caches.track(
      sq8Codes(docTokens, id, vec, lo, hi, scaleBits)
        .withColumnRenamed("c_id", "doc_id").persist())
    // stage 1: pooled nomination from the codes alone, as a
    // TOKEN-LEVEL fused Sq8Dot BNLJ: per (query, doc) the pooled dot
    // Σ_dim (Σ_tokens r_dim)·mq_dim equals
    // Σ_tokens Σ_dim r_dim·mq_dim (finite integer sums commute), i.e.
    // the SUM over the doc's token codes of the fused ADC dot against
    // the query's POOLED array — so nomination needs no pooled doc
    // table at all in the in-query form: one BNLJ over the persisted
    // code rows, one narrow (q, doc) aggregate (map-side combined),
    // one window. r11 shipped this stage as the relational per-dim
    // join (dp ⋈ qp on dim → |docs|·d·|queries| rows streamed through
    // a hash aggregate — the d-factor blow-up of r11 verdict finding
    // 2); a first r12 cut materialized a pooled per-doc array inside
    // the query (explode+pivot, then d wide SUM columns) and BOTH
    // variants measured SLOWER at bench scale than they saved — the
    // extra aggregate/persist stages are pure fixed overhead on a
    // 2000-token fixture (BenchAB +1.0 s / +2.3 s). The token-level
    // form has the fewest stages AND streams d-times fewer rows than
    // the relational join at corpus scale. Serving deployments
    // precompute the pooled array ONCE as part of the stored artifact
    // ([[saveMaxSimSq8Index]]) and nominate |docs|-row BNLJ against it
    // ([[maxSimSearchSq8]]) — tokens-per-doc times less stage-1
    // arithmetic than even this form.
    val qp = maxSimPooledQueries(queryTokens, qid, vec, scale)
    val wc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("__pi").desc, col("doc_id"))
    val cand = Caches.track(codes.crossJoin(broadcast(qp))
      .select(col("q_id"), col("doc_id"),
        graft.functions.VectorExprs.sq8Dot(col("codes"), col("__mqArr"),
          lo, range).as("__td"))
      .groupBy(col("q_id"), col("doc_id"))
      .agg(sum(col("__td")).as("__pi"))
      .withColumn("__rn", row_number().over(wc))
      .filter(col("__rn") <= kCand)
      .select(col("q_id"), col("doc_id")).persist())
    maxSimSq8RerankStage(codes, cand, queryTokens, qid, qtok, vec, k,
      lo, range, scale)
  }

  /** The query token bags QUANTIZED per token (`__mqv` = floor(2ˢ·v)
    * per dim, as a long array) — the broadcast side stage 2 shares. */
  private def maxSimQuantQueries(queryTokens: DataFrame, qid: String,
                                 qtok: String, vec: String, dims: Int,
                                 scale: Double): DataFrame =
    queryTokens.select(col(qid).as("q_id"), col(qtok).as("__qt"),
      array((0 until dims).map(j =>
        floor(element_at(col(vec), j + 1).cast("double") * scale)
          .cast("long")): _*).as("__mqv"))

  /** The POOLED query arrays (`__mqArr` = per-dim Σ over the query's
    * tokens of floor(2ˢ·v), as a long array) — stage 1's broadcast
    * side. Query-bounded rows; the tiny (q, dim) pivot is the cheap
    * way to build it (wide d-column aggregates measured as pure
    * analysis overhead). */
  private def maxSimPooledQueries(queryTokens: DataFrame, qid: String,
                                  vec: String, scale: Double): DataFrame =
    queryTokens
      .select(col(qid).as("q_id"),
        posexplode(col(vec)).as(Seq("dim", "__v")))
      .groupBy(col("q_id"), col("dim"))
      .agg(sum(floor(col("__v").cast("double") * scale).cast("long"))
        .as("__mq"))
      .groupBy(col("q_id"))
      .agg(array_sort(collect_list(struct(col("dim"), col("__mq"))))
        .as("dm"))
      .select(col("q_id"),
        transform(col("dm"), e => e.getField("__mq")).as("__mqArr"))

  /** Stage 2 of the SQ8 maxsim family — the fused ADC rerank over the
    * candidates' token codes, shared by the in-query and from-index
    * forms. */
  private def maxSimSq8RerankStage(codes: DataFrame, cand: DataFrame,
                                   queryTokens: DataFrame, qid: String,
                                   qtok: String, vec: String, k: Int,
                                   lo: Array[Long], range: Array[Long],
                                   scale: Double): DataFrame = {
    val q = maxSimQuantQueries(queryTokens, qid, qtok, vec, lo.length,
      scale)
    val candDocs = cand.select(col("doc_id")).distinct()
    val tokBest = codes.join(broadcast(candDocs), Seq("doc_id"))
      .crossJoin(broadcast(q))
      .join(broadcast(cand), Seq("q_id", "doc_id"))
      .select(col("q_id"), col("__qt"), col("doc_id"),
        graft.functions.VectorExprs.sq8Dot(col("codes"), col("__mqv"),
          lo, range).as("__dot"))
      .groupBy(col("q_id"), col("__qt"), col("doc_id"))
      .agg(max(col("__dot")).as("__best"))
    val scored = tokBest.groupBy(col("q_id"), col("doc_id"))
      .agg(sum(col("__best")).as("iscore"), count(lit(1)).as("n_qtok"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("iscore").desc, col("doc_id"))
    scored.withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("doc_id"), col("iscore"),
        col("n_qtok"))
  }

  /** Persist the SQ8 late-interaction index — the storage-honest maxsim
    * serving artifact (r11 verdict finding 2's prescription, realized
    * as a SUNK build): two bucketed tables keyed by `doc_id` —
    * `<table>` holds one row per doc TOKEN `(doc_id, codes)` (1 byte of
    * information per dim, the rerank's operand) and `<table>__pooled`
    * holds ONE row per doc `(doc_id, pooled)` with the per-dim int64
    * sums of the dequantized token codes — the stage-1 nomination
    * operand, ~d·8 bytes per doc, negligible next to the token codes.
    * The trained `lo`/`hi` bounds are the caller's artifact (int64,
    * exactly as [[sq8TopK]]'s family stores them). Building `pooled` at
    * save time is what makes serving nomination |docs|-row: the
    * in-query form pays a per-token pass instead (see
    * [[maxSimRerankSq8]]'s stage-1 note). */
  def saveMaxSimSq8Index(docTokens: DataFrame, id: String, vec: String,
                         table: String, buckets: Int, lo: Array[Long],
                         hi: Array[Long], scaleBits: Int = 12): Unit = {
    sq8ExactnessGuard(lo, hi)
    val codes = sq8Codes(docTokens, id, vec, lo, hi, scaleBits)
      .withColumnRenamed("c_id", "doc_id")
      .withColumn("gen", lit(0L))
    graft.io.Layout.writeBucketed(codes, table, "doc_id", buckets)
    graft.io.Layout.writeBucketed(
      maxSimPooledFromCodes(codes, lo, hi).withColumn("gen", lit(0L)),
      table + "__pooled", "doc_id", buckets)
  }

  /** The `__pooled` nomination operand derived from token-code rows —
    * per doc the per-dim int64 sums of the dequantized codes. Shared by
    * the initial save and the append/replace batch paths so an
    * incrementally maintained pooled table is bit-identical to a
    * rebuilt one. */
  private def maxSimPooledFromCodes(codes: DataFrame, lo: Array[Long],
                                    hi: Array[Long]): DataFrame = {
    val range = lo.indices.map(j => hi(j) - lo(j)).toArray
    val loLit = typedLit(lo.toSeq)
    val rgLit = typedLit(range.toSeq)
    codes
      .select(col("doc_id"), posexplode(col("codes")).as(Seq("dim", "code")))
      .withColumn("__lo", element_at(loLit, col("dim") + 1))
      .withColumn("__rg", element_at(rgLit, col("dim") + 1))
      .withColumn("__r", expr("__lo + (code * __rg) div 255"))
      .groupBy(col("doc_id"), col("dim")).agg(sum(col("__r")).as("__m"))
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_list(struct(col("dim"), col("__m"))))
        .as("dm"))
      .select(col("doc_id"),
        transform(col("dm"), e => e.getField("__m")).as("pooled"))
  }

  /** Append NEW docs' token bags to a maintained [[saveMaxSimSq8Index]]
    * pair — BOTH tables gain the batch's rows under ONE generation
    * stamp (computed once, so a concurrent-looking delete can't split
    * the pair). O(batch). Updates to EXISTING docs must route through
    * [[replaceInMaxSimSq8Index]] — a bare append would leave two live
    * token bags for the doc. */
  def appendToMaxSimSq8Index(docTokens: DataFrame, id: String,
                             vec: String, table: String, buckets: Int,
                             lo: Array[Long], hi: Array[Long],
                             scaleBits: Int = 12): Unit = {
    sq8ExactnessGuard(lo, hi)
    val spark = docTokens.sparkSession
    val gen = graft.io.IndexMaintenance.currentSeq(spark, table)
    val codes = sq8Codes(docTokens, id, vec, lo, hi, scaleBits)
      .withColumnRenamed("c_id", "doc_id")
      .withColumn("gen", lit(gen))
    graft.io.Layout.appendBucketed(codes, table, "doc_id", buckets)
    graft.io.Layout.appendBucketed(
      maxSimPooledFromCodes(codes, lo, hi).withColumn("gen", lit(gen)),
      table + "__pooled", "doc_id", buckets)
  }

  /** Tombstone docs out of a maintained maxsim pair — the ONE shared
    * sidecar hides each doc from the token table AND the pooled table
    * atomically (r12 verdict finding 1: a surviving pooled row keeps
    * winning stage-1 nomination slots for a deleted doc, and stage 2
    * then scores it from stale codes). O(batch). */
  def deleteFromMaxSimSq8Index(spark: org.apache.spark.sql.SparkSession,
                               table: String, ids: DataFrame,
                               idCol: String): Unit =
    graft.io.IndexMaintenance.delete(spark, table, "doc_id",
      ids.select(col(idCol).as("doc_id")))

  /** Replace docs' token bags in a maintained maxsim pair: tombstone,
    * then append the new bags — the old rows (both tables) die behind
    * the new sequence, the new rows survive. ≡ rebuild (spec-pinned). */
  def replaceInMaxSimSq8Index(docTokens: DataFrame, id: String,
                              vec: String, table: String, buckets: Int,
                              lo: Array[Long], hi: Array[Long],
                              scaleBits: Int = 12): Unit = {
    deleteFromMaxSimSq8Index(docTokens.sparkSession, table,
      docTokens.select(col(id)).distinct(), id)
    appendToMaxSimSq8Index(docTokens, id, vec, table, buckets, lo, hi,
      scaleBits)
  }

  /** The serving views of a maintained maxsim pair: live token codes
    * and live pooled rows, both anti-joined against the ONE shared
    * tombstone sidecar. */
  def loadMaxSimSq8Index(spark: org.apache.spark.sql.SparkSession,
                         table: String): (DataFrame, DataFrame) = {
    val tomb = graft.io.IndexMaintenance.tombstoneTable(table)
    (graft.io.IndexMaintenance.loadWith(spark, table, "doc_id", tomb),
      graft.io.IndexMaintenance.loadWith(spark, table + "__pooled",
        "doc_id", tomb))
  }

  /** Compact a maintained maxsim pair: both tables' live rows rewrite
    * to gen 0 and swap behind [[graft.io.IndexMaintenance.compactPair]]'s
    * crash guard; the shared tombstones drop only after both swaps.
    * Serving through [[maxSimSearchSq8]] is identical before and after
    * (spec-pinned). */
  def compactMaxSimSq8Index(spark: org.apache.spark.sql.SparkSession,
                            table: String, buckets: Int): Unit =
    graft.io.IndexMaintenance.compactPair(spark, table,
      table + "__pooled", "doc_id", "doc_id", buckets, "doc_id")

  /** SQ8-served maxsim from a persisted [[saveMaxSimSq8Index]] — the
    * serving twin of [[maxSimRerankSq8]], bit-identical output over the
    * same corpus/bounds (spec-pinned): stage 1 nominates with ONE fused
    * identity-dequant Sq8Dot BNLJ over the PRECOMPUTED pooled arrays
    * (|docs| rows — tokens-per-doc times less arithmetic than the
    * in-query token-level pass; identity dequant `lo=0, range=255`
    * makes `lo + c·range div 255 = c` exactly, signs included, so the
    * pooled query ints ride the code side and the int64 pooled doc
    * sums the `mq` side); stage 2 is the shared fused ADC rerank. The
    * float token vectors never need to exist at serving time.
    *
    * Reads the LIVE views of the maintained pair
    * ([[loadMaxSimSq8Index]]), so deleted/replaced docs neither
    * nominate (no wasted `kCand` slot) nor rerank. `verifyConsistency`
    * (default on) runs ONE union-collect job checking the two live
    * views agree on doc count and max generation — the guard against
    * pointing single-table maintenance at the token table alone (a
    * stale pooled row = silent recall loss at serving); a long-lived
    * serving session that batches many queries between maintenance
    * events can verify once and pass false afterwards. */
  def maxSimSearchSq8(spark: org.apache.spark.sql.SparkSession,
                      table: String, queryTokens: DataFrame,
                      qid: String, qtok: String, vec: String, k: Int,
                      kCand: Int, lo: Array[Long], hi: Array[Long],
                      scaleBits: Int = 12,
                      verifyConsistency: Boolean = true): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(kCand >= k, s"kCand ($kCand) must be >= k ($k)")
    sq8ExactnessGuard(lo, hi)
    val range = lo.indices.map(j => hi(j) - lo(j)).toArray
    val scale = (1L << scaleBits).toDouble
    val dims = lo.length
    val (codes, pooled) = loadMaxSimSq8Index(spark, table)
    if (verifyConsistency) {
      // one job, two tiny aggregate subtrees under one collect (the
      // r12 union-collect discipline)
      val chk = codes.agg(countDistinct(col("doc_id")).as("n"),
          coalesce(max(col("gen")), lit(0L)).as("g"))
        .select(lit("codes").as("side"), col("n"), col("g"))
        .unionByName(pooled.agg(countDistinct(col("doc_id")).as("n"),
            coalesce(max(col("gen")), lit(0L)).as("g"))
          .select(lit("pooled").as("side"), col("n"), col("g")))
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2)))).toMap
      require(chk("codes") == chk("pooled"),
        s"maxSimSearchSq8: '$table' and '${table}__pooled' disagree — " +
          s"live (docs, maxGen) = ${chk("codes")} vs ${chk("pooled")}. " +
          "The pair must be maintained TOGETHER (appendTo/deleteFrom/" +
          "replaceIn/compactMaxSimSq8Index); single-table maintenance " +
          "leaves stale nomination rows that silently lose recall.")
    }
    // the pooled query ints must fit int32 — ANSI cast throws loudly
    val qp = maxSimPooledQueries(queryTokens, qid, vec, scale)
      .select(col("q_id"),
        transform(col("__mqArr"), e => e.cast("int")).as("__qc"))
    val zeros = Array.fill(dims)(0L)
    val ident = Array.fill(dims)(255L)
    val wc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("__pi").desc, col("doc_id"))
    val cand = Caches.track(pooled.crossJoin(broadcast(qp))
      .select(col("q_id"), col("doc_id"),
        graft.functions.VectorExprs.sq8Dot(col("__qc"), col("pooled"),
          zeros, ident).as("__pi"))
      .withColumn("__rn", row_number().over(wc))
      .filter(col("__rn") <= kCand)
      .select(col("q_id"), col("doc_id")).persist())
    maxSimSq8RerankStage(codes, cand, queryTokens, qid, qtok, vec, k,
      lo, range, scale)
  }

  /** The single-vector baseline maxsim is compared against: SUM-pool
    * each side's token bag on the QUANTIZED grid (per-dim Σ of
    * `floor(2ˢ·v)` — integer sums are aggregation-order-free, where a
    * float mean is not), score by the exact integer dot of the pooled
    * vectors, rank identically. Pooling and scoring stay relational —
    * `(id, dim, Σm)` tables joined on dim — so no float array is ever
    * rebuilt. Output: `(q_id, rank, doc_id, iscore)`.
    *
    * Shape: two explode+hash-agg passes (dims ride the narrow (id, dim)
    * key), one broadcast dim-join against the query side's pooled
    * table, one (q, doc) aggregate. */
  def sumPooledDotTopK(docTokens: DataFrame, id: String, vec: String,
                       queryTokens: DataFrame, qid: String, k: Int,
                       scaleBits: Int = 12): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(scaleBits >= 1 && scaleBits <= 20, s"bad scaleBits: $scaleBits")
    val scale = (1L << scaleBits).toDouble
    def pooled(df: DataFrame, keyCol: String, outKey: String): DataFrame =
      df.select(col(keyCol).as(outKey),
          posexplode(col(vec)).as(Seq("dim", "__v")))
        .groupBy(col(outKey), col("dim"))
        .agg(sum(floor(col("__v").cast("double") * scale).cast("long"))
          .as("__m"))
    val dp = pooled(docTokens, id, "doc_id")
    val qp = pooled(queryTokens, qid, "q_id")
      .withColumnRenamed("__m", "__mq")
    val scored = dp.join(broadcast(qp), Seq("dim"))
      .groupBy(col("q_id"), col("doc_id"))
      .agg(sum(col("__m") * col("__mq")).as("iscore"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("iscore").desc, col("doc_id"))
    scored.withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("doc_id"), col("iscore"))
  }
}
