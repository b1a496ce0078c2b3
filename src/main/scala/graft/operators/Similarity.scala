package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.sources.Tables.table

/** Similarity search over an embedding column (`array<float>`).
  *
  *  - ss01: brute-force cosine top-k — the exact baseline. The (small) query
  *    set is broadcast against the corpus scan: one pass, no shuffle of the
  *    corpus, top-k per query via partitioned window.
  *  - ss02: LSH-bucketed ANN — the 100 TB path. Deterministic random
  *    hyperplanes (seeded from xxhash64) give each vector a small bucket id;
  *    candidates come from an equi-join on bucket, so cost scales with
  *    Σ bucket² not |Q|·N.
  *
  * Dot products and norms are native codegen'd Catalyst expressions
  * (`SketchExprs.DotProduct`/`L2Norm`) — a single JVM loop per row; the
  * equivalent `zip_with`+`aggregate` HOF form pays an interpreted lambda
  * call per element. Values are bitwise identical (same left-fold order).
  */
object Similarity {

  /** Sequential-order dot product of two double-array columns — a native
    * codegen'd Catalyst expression ([[graft.functions.SketchExprs.DotProduct]]);
    * the HOF form (`aggregate(zip_with(...))`) computes the identical value
    * but pays an interpreted lambda call per element. */
  def dot(a: String, b: String): Column =
    graft.functions.SketchExprs.dotProduct(col(a), col(b))

  def l2norm(a: String): Column = graft.functions.SketchExprs.l2Norm(col(a))

  /** Embeddings with float→double cast (deterministic, engine-independent). */
  private def emb(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "embeddings").select(
      col("vec_id"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))

  /** Corpus size per dir, counted once per process (ss08's plane sizing).
    *
    * STALENESS ASSUMPTION: the memo is driver-side state keyed by dir and
    * never refreshed — correct for the immutable per-SF test dirs and for
    * the common batch pattern (one job, one snapshot), but a LONG-LIVED
    * session pointed at a GROWING dir would keep sizing planes for the old
    * count (plane count moves by 1 only when the corpus roughly doubles, so
    * drift is gradual, not wrong-result). Call [[refreshCorpusCounts]]
    * after appending to a corpus dir — alongside [[graft.Caches.releaseAll]]
    * in a session's between-jobs housekeeping. */
  private val embCounts = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** Drop the memoized corpus counts so the next plan build re-counts
    * (see the staleness note on `embCounts`). */
  def refreshCorpusCounts(): Unit = embCounts.clear()

  /** ss08's plane count for a corpus of `n` vectors: ceil(log2(n/8))
    * clamped to [8, 24], keeping the EXPECTED uniform bucket ≈ 8 as the
    * corpus grows (fixed planes make buckets n/2^planes — the sf0.5 soak
    * measured pair generation going superlinear for exactly that reason).
    * Exposed (with [[defaultNeardupBucketCap]]) so ScaleGuardSpec measures
    * the same candidate stage the ss08 query runs. */
  def neardupPlanes(n: Long): Int =
    math.min(24, math.max(8,
      64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, (n - 1) / 8)))).toInt

  /** ss08's per-(table, bucket) occupancy cap — 8× the expected uniform
    * bucket under [[neardupPlanes]] sizing. */
  val defaultNeardupBucketCap: Long = 64L

  /** n_planes sign bits from deterministic hyperplanes (native Catalyst
    * expression — the HOF form pays per-element interpreted lambdas).
    * `offset` selects an independent plane set, giving the multiple hash
    * tables a production LSH blocker uses to recover recall. */
  def lshBucket(vCol: String, nPlanes: Int, dims: Int, offset: Int = 0): Column =
    graft.functions.SketchExprs.hyperplaneLsh(col(vCol), nPlanes, offset)

  /** Fixed-point Lloyd k-means (see the ss14 scaladoc): integer features
    * floor(v·1e6)+1e6, argmin assignment computed MAP-SIDE against one
    * broadcast row holding all k centroids (array_min over struct(dist,
    * cell) — lexicographic struct ordering is the tie-break to the lower
    * cell), centroid update one (cell, dim) aggregation with integer-mean
    * `div`. Returns (vec_id, cluster, dist) for the final assignment. */
  /** ss14/ss16/ss17/ss18's shared integer feature grid:
    * floor(v·1e6)+1e6 per dimension. */
  private[graft] def intFeatures(e: DataFrame): DataFrame =
    e.select(col("vec_id"),
      expr("transform(v, x -> cast(floor(x * 1000000) as bigint) + 1000000)").as("f"))

  private val centDistExpr = // exact integer squared L2 between f and cc.c
    "long_sqdist(f, cc.c)"

  /** Map-side argmin assignment of every `feats` row to its nearest
    * centroid (ties to the lower cell): corpus × ONE broadcast row
    * holding all k (cell, c) centroids. Returns (vec_id, f, cell, dist). */
  private def assignToCells(feats: DataFrame, cents: DataFrame): DataFrame =
    feats.crossJoin(broadcast(
        cents.agg(sort_array(collect_list(struct(col("cell"), col("c")))).as("cs"))))
      .withColumn("m", expr(
        s"array_min(transform(cs, cc -> struct($centDistExpr AS dist, cc.cell AS cell)))"))
      .select(col("vec_id"), col("f"),
        col("m.cell").as("cell"), col("m.dist").as("dist"))

  /** The Lloyd training loop of [[kmeansFixedPoint]], exposed so ss18 can
    * build an IVF index on the TRAINED centroids: `iters` rounds of
    * assign + integer-mean update from the first-k seeds. Returns the
    * final (cell, c) frame (tracked-cached — its lineage holds a corpus
    * scan per round and every consumer re-reads it). */
  private[graft] def fixedPointCentroids(
      feats: DataFrame, k: Int, iters: Int): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    def update(assigned: DataFrame, prev: DataFrame): DataFrame = {
      val upd = assigned
        .select(col("cell"), posexplode(col("f")).as(Seq("dim", "fv")))
        .groupBy("cell", "dim")
        .agg(expr("sum(fv) div count(1)").as("cv"))
        .groupBy("cell")
        .agg(expr("transform(array_sort(collect_list(struct(dim, cv))), x -> x.cv)")
          .as("cnew"))
      // Each round's centroid frame is k rows but is consumed TWICE (the
      // next assign + the empty-cell join) and its lineage holds a full
      // corpus scan — uncached, plan size and scan count grow
      // exponentially in rounds. A lazy localCheckpoint bounds it like
      // the r12-r18 tracked cache did (one corpus scan per round, k
      // materialized rows) and additionally TRUNCATES the plan, so
      // downstream stages stop re-broadcasting every prior round's
      // lineage in their task binaries (r19; the NN-Descent loop
      // measured 67 → 47 stages from the same switch).
      prev.join(upd, Seq("cell"), "left")
        .select(col("cell"), coalesce(col("cnew"), col("c")).as("c"))
        .transform(graft.Ckpt.lazyCheckpoint(_, "lloyd.round"))
    }
    val init = feats.orderBy("vec_id").limit(k)
      .withColumn("cell", (row_number().over(W.orderBy("vec_id")) - 1).cast("int"))
      .select(col("cell"), col("f").as("c"))
    (1 to iters).foldLeft(init)((c, _) => update(assignToCells(feats, c), c))
  }

  private[graft] def kmeansFixedPoint(e: DataFrame, k: Int, iters: Int): DataFrame = {
    val feats = intFeatures(e)
    assignToCells(feats, fixedPointCentroids(feats, k, iters))
      .select(col("vec_id"), col("cell").as("cluster"), col("dist"))
  }

  /** ss18's trained-centroid IVF search (see the ss18 entry's scaladoc),
    * extracted over an arbitrary embeddings frame so Ss19IvfPqSpec can run
    * it and [[ivfPqAnn]] on the same slice and pin the lossless limit. */
  private[graft] def ivfTrainedAnn(e: DataFrame, k: Int = 8, nprobe: Int = 3,
      topk: Int = 10): DataFrame = {
    val feats = intFeatures(e)
    val cents = fixedPointCentroids(feats, k, iters = 2)
    val assigned = assignToCells(feats, cents)
      .select(col("vec_id"), col("f"), col("cell"))
    val wTop = Window.partitionBy("query_id").orderBy("dist", "vec_id")
    assigned.join(broadcast(probeCells(feats, cents, nprobe)), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("dist", expr(
        "long_sqdist(qf, f)"))
      .withColumn("rk", row_number().over(wTop))
      .filter(col("rk") <= topk)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("rk").cast("int").as("rk"), col("dist"))
      .orderBy("query_id", "rk")
  }

  /** The offline half of the trained-IVF serving path (st13): ss14's
    * Lloyd over an arbitrary corpus frame, returning (centroids,
    * cell-assigned corpus) — the static state a streaming ANN serving
    * join probes. Both frames carry tracked caches (see
    * [[fixedPointCentroids]]). */
  private[graft] def trainedIvfIndex(e: DataFrame, k: Int = 8): (DataFrame, DataFrame) = {
    val feats = intFeatures(e)
    val cents = fixedPointCentroids(feats, k, iters = 2)
    val assigned = graft.Caches.track(
      assignToCells(feats, cents).select(col("vec_id"), col("f"), col("cell")))
    (cents, assigned)
  }

  /** The query side shared by ss18 and ss19: each query (vec_id < 5) ranks
    * ALL k centroids by exact integer distance and keeps the `nprobe`
    * nearest (ties to the lower cell). Returns (query_id, qf, cell) — one
    * row per probed cell. The rank window runs over queries × k rows. */
  private def probeCells(feats: DataFrame, cents: DataFrame, nprobe: Int): DataFrame = {
    val wProbe = Window.partitionBy("query_id").orderBy("dist", "cell")
    feats.filter(col("vec_id") < 5)
      .crossJoin(broadcast(
        cents.agg(sort_array(collect_list(struct(col("cell"), col("c")))).as("cs"))))
      .select(col("vec_id").as("query_id"), col("f").as("qf"),
        explode(expr(
          s"transform(cs, cc -> struct($centDistExpr AS dist, cc.cell AS cell))"))
          .as("pc"))
      .select(col("query_id"), col("qf"),
        col("pc.dist").as("dist"), col("pc.cell").as("cell"))
      .withColumn("pr", row_number().over(wProbe))
      .filter(col("pr") <= nprobe)
      .select("query_id", "qf", "cell")
  }

  /** Trained IVF-PQ ANN (ss19) — FAISS's IVFADC index (Jégou et al.,
    * TPAMI 2011) composed from the family's own integer pieces, closing
    * the compression ladder: ss06 proved PQ geometry (float codebooks,
    * rows-only), ss13 composed IVF with training-free SQ8, ss18 trained
    * the coarse quantizer — ss19 is the production shape that serves
    * billion-vector corpora: trained cells AND trained in-cell codes.
    *
    * Train: ss14's fixed-point Lloyd gives the k coarse centroids; every
    * corpus vector's RESIDUAL vs its cell centroid is split into
    * mSub=8 subspaces × dsub=8 dims and per-subspace codebooks (kCodes=16
    * codewords — ss06's geometry) are trained by the SAME integer Lloyd
    * (seeds = the kCodes smallest vec_ids' residual sub-vectors, 2
    * rounds, integer-mean updates with empty codes keeping the prior,
    * ties to the lower code). Residuals re-shift by +2·10⁶ so every
    * Lloyd value stays NONNEGATIVE — f−c+2·10⁶ with f, c ∈ [0, 2·10⁶]
    * spans [0, 4·10⁶] — and nonnegativity is the only property the
    * argument needs: Spark's truncating `div` agrees with DuckDB's
    * floor `//` on nonnegative operands, ss14's shift argument applied
    * one level down (distances are shift-invariant).
    *
    * Search (asymmetric distance, the paper's ADC): queries probe the
    * nprobe nearest cells exactly as ss18, compute their residual vs EACH
    * probed centroid, and a (query × cell × subspace × codeword) distance
    * table — queries·nprobe·mSub·kCodes rows, KB-scale — is broadcast;
    * a candidate's approx distance is the sum of its mSub code lookups.
    * Because query and candidate residuals subtract the SAME probed-cell
    * centroid, the shift cancels: with n ≤ kCodes the codebooks converge
    * to the residuals themselves and ADC EQUALS the exact integer
    * distance — Ss19IvfPqSpec pins that lossless limit against ss18.
    *
    * All-integer end to end, so unlike ss06's float PQ the whole trained
    * composition is hash-exact; oracle = ss14's CTE chain + the
    * per-subspace Lloyd unrolled over (m, sd) + encode + ADC rank.
    *
    * Shape at 100 TB: training adds 3 residual-frame scans to ss14's (the
    * residual frame never shuffles — codebook assignment is map-side vs a
    * broadcast 128-row codebook, updates are a (m, code, sd)-sized agg);
    * the corpus is stored as mSub one-byte codes per vector (32× memory
    * cut — the lever that keeps the in-cell scan in RAM); search touches
    * nprobe/k of the corpus and scores each candidate with mSub integer
    * adds against the broadcast ADC table — no corpus shuffle anywhere. */
  private[graft] def ivfPqAnn(e: DataFrame, k: Int = 8, mSub: Int = 8,
      dsub: Int = 8, kCodes: Int = 16, nprobe: Int = 3, topk: Int = 10): DataFrame = {
    val feats = intFeatures(e)
    val cents = fixedPointCentroids(feats, k, iters = 2)
    // residual sub-vectors (vec_id, cell, m, rv[dsub]) — consumed by every
    // Lloyd round, the final encode, nothing else; tracked cache bounds
    // the per-round lineage exactly as in fixedPointCentroids
    val sub = graft.Caches.track(
      assignToCells(feats, cents).join(broadcast(cents), Seq("cell"))
        .select(col("vec_id"), col("cell"),
          expr("zip_with(f, c, (a, b) -> a - b + 2000000)").as("r"))
        .select(col("vec_id"), col("cell"), explode(expr(
          s"transform(sequence(0, ${mSub - 1}), " +
            s"m -> struct(m AS m, slice(r, m * $dsub + 1, $dsub) AS rv))")).as("s"))
        .select(col("vec_id"), col("cell"), col("s.m").as("m"), col("s.rv").as("rv")))
    val codeDistExpr = // exact integer squared L2 between rv and cc.c
      "long_sqdist(rv, cc.c)"
    // map-side argmin of every residual sub-vector against the broadcast
    // (m → codewords) pack: the per-subspace analogue of assignToCells
    def assignCodes(cb: DataFrame): DataFrame =
      sub.join(broadcast(cb.groupBy("m")
          .agg(sort_array(collect_list(struct(col("code"), col("c")))).as("cs"))),
          Seq("m"))
        .withColumn("a", expr(
          s"array_min(transform(cs, cc -> struct($codeDistExpr AS dist, cc.code AS code)))"))
        .select(col("vec_id"), col("cell"), col("m"), col("rv"),
          col("a.code").as("code"))
    def update(asg: DataFrame, prev: DataFrame): DataFrame = {
      val upd = asg
        .select(col("m"), col("code"), posexplode(col("rv")).as(Seq("sd", "rfv")))
        .groupBy("m", "code", "sd")
        .agg(expr("sum(rfv) div count(1)").as("cv"))
        .groupBy("m", "code")
        .agg(expr("transform(array_sort(collect_list(struct(sd, cv))), x -> x.cv)")
          .as("cnew"))
      prev.join(upd, Seq("m", "code"), "left")
        .select(col("m"), col("code"), coalesce(col("cnew"), col("c")).as("c"))
    }
    // The codebook is KB-scale (mSub·kCodes·dsub longs) — each round
    // COLLECTS it and re-plans from a local relation, the declared ss06
    // PQ-codebook precedent: left distributed, every Lloyd round deepens
    // the lineage (measured 47 jobs / ~16 s at sf0.1 vs ~5 s localized)
    // while the corpus-side work is identical either way. Values are
    // unchanged — the oracle stays hash-exact.
    def localize(cb: DataFrame): DataFrame = {
      val sess = cb.sparkSession
      import sess.implicits._
      cb.select("m", "code", "c").collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Long](2)))
        .toSeq.toDF("m", "code", "c")
    }
    val seeds = sub.select("vec_id").distinct().orderBy("vec_id").limit(kCodes)
      .withColumn("code",
        (row_number().over(Window.orderBy("vec_id")) - 1).cast("int"))
    val cb0 = localize(
      sub.join(broadcast(seeds), Seq("vec_id"))
        .select(col("m"), col("code"), col("rv").as("c")))
    val cb = (1 to 2).foldLeft(cb0)((c, _) => localize(update(assignCodes(c), c)))
    val codes = assignCodes(cb).select("vec_id", "cell", "m", "code")
    // per-(query, probed cell) residual sub-vectors, then the broadcast
    // ADC table: one row per (query, cell, m, code)
    val qsub = probeCells(feats, cents, nprobe)
      .join(broadcast(cents), Seq("cell"))
      .select(col("query_id"), col("cell"),
        expr("zip_with(qf, c, (a, b) -> a - b + 2000000)").as("qr"))
      .select(col("query_id"), col("cell"), explode(expr(
        s"transform(sequence(0, ${mSub - 1}), " +
          s"m -> struct(m AS m, slice(qr, m * $dsub + 1, $dsub) AS qrv))")).as("s"))
      .select(col("query_id"), col("cell"), col("s.m").as("m"), col("s.qrv").as("qrv"))
    val adc = qsub.join(broadcast(cb), Seq("m"))
      .select(col("query_id"), col("cell"), col("m"), col("code"),
        expr("long_sqdist(qrv, c)").as("qd"))
    val wTop = Window.partitionBy("query_id").orderBy("approx_dist", "vec_id")
    codes.join(broadcast(adc), Seq("cell", "m", "code"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy("query_id", "vec_id")
      .agg(sum("qd").as("approx_dist"))
      .withColumn("rk", row_number().over(wTop))
      .filter(col("rk") <= topk)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("rk").cast("int").as("rk"),
        col("approx_dist").cast("long").as("approx_dist"))
      .orderBy("query_id", "rk")
  }

  /** IVF RANGE search (ss20) — FAISS's `range_search` beside the top-k
    * family: ALL corpus vectors within integer squared-L2 `r` of each
    * query (vec_id < 5), the retrieval mode a dedup/curation pipeline
    * uses when the question is "everything closer than ε", not "the 10
    * closest" (qp05's in-cell prune is exactly an ε-ball; r defaults to
    * its ε² = 1.3e12). Unlike ss18/ss19 the ANSWER here is exact — the
    * index only decides which cells to SCAN, via the triangle
    * inequality: for x in cell c, d(q,x) ≥ (√d(q,c) − √rad_c)², so a
    * cell is skipped only when d(q,c) > r + rad_c + 2√(r·rad_c) with
    * rad_c the cell's max member distance (computed in the same
    * assignment pass). The √ lives ONLY in the prune bound: it is
    * evaluated in double with a +4 slack absorbing the worst float
    * error (r·rad_c ~ 2.6e26 exceeds 2^53, so the product's rounding
    * can shift the floor by ~1), which can only OVER-probe — never
    * skip a qualifying cell — and the emitted rows are filtered by the
    * exact integer d(q,x) ≤ r, so the OUTPUT is the brute-force truth
    * set no matter how loose the bound is. The oracle is therefore the
    * plain all-pairs range join: any pruning bug that drops a cell
    * breaks the hash. Hash-exact.
    *
    * Shape at 100 TB: cells + radii are k broadcast rows maintained by
    * the trainer; per query the bound eliminates cells map-side and the
    * scan touches only the survivors' partitions — the corpus never
    * shuffles, and on clustered data (the regime IVF exists for) the
    * probed fraction tracks the ball volume, not k. */
  /** ss21's body over an arbitrary (vec_id, embedding) frame: kG nearest
    * same-cell neighbors per corpus vector under ss14-trained cells (see
    * the ss21 entry's scaladoc for the full shape argument). Extracted so
    * SoakAnn can price the cell-local pair join's (n/k)² per-cell bound
    * on a large clustered corpus, hot-cell variant included. Unordered —
    * the declared query adds its own orderBy. */
  private[graft] def knnGraphEdges(e: DataFrame, k: Int = 8, kG: Int = 4): DataFrame = {
    val feats = intFeatures(e)
    val cents = fixedPointCentroids(feats, k, iters = 2)
    // The cell-local pair join is the family's (n/k)² bound (SOAK_r16:
    // 472 s / 100k vectors); pack_ints halves what every candidate pair
    // carries through the join and the rank's local sort (the r17 8 GB
    // soak OOM'd with the 8-byte long-array form on BOTH sides), and
    // packed_sqdist keeps distances value-identical to long_sqdist so
    // the declared hash is unchanged.
    val assigned = graft.Caches.track(
      assignToCells(feats, cents)
        .select(col("vec_id"), expr("pack_ints(f)").as("fp"), col("cell")))
    val b = assigned.select(col("cell"),
      col("vec_id").as("neighbor_id"), col("fp").as("fbp"))
    val w = Window.partitionBy("vec_id").orderBy("dist", "neighbor_id")
    assigned.join(b, Seq("cell"))
      .filter(col("vec_id") =!= col("neighbor_id"))
      .withColumn("dist", expr(
        "packed_sqdist(fp, fbp)"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= kG)
      .select(col("vec_id"), col("neighbor_id"),
        col("rk").cast("int").as("rk"), col("dist"))
  }

  /** ss22's body: ONE deterministic NN-Descent round (Dong et al., WWW
    * 2011) over the union of two seed graphs — ss21's cell-local kNN
    * edges and a kG-nearest graph within fixed id-buckets of width
    * `bucketW` (the derandomized stand-in for NN-Descent's random seed
    * graph; consecutive ids are unrelated to trained cells, so bucket
    * edges BRIDGE cells, which pure cell-local 2-hop paths never can).
    * The round is the paper's local join made deterministic: undirected
    * seed neighborhoods (reverse edges capped at 2·kG per vertex by
    * source id — ρ-sampling with the randomness removed), every ordered
    * pair of a shared vertex's neighbors becomes a candidate, and the
    * final graph is the exact-integer top-kG per vertex over candidates
    * ∪ seed edges. Seed ⊆ candidates makes the round MONOTONE: no
    * vertex's kth distance can get worse (spec-pinned pointwise).
    *
    * Shape at 100 TB: candidates are ≤ (4·kG)² rows per vertex — LINEAR
    * in n with a constant the reverse cap enforces even around hub
    * vectors — and every join is edges-to-edges; vectors, like pairs,
    * never shuffle as a quadratic set. One round costs ~n·(4kG)²
    * long_sqdist evals regardless of cell sizes, the complement to
    * ss21's (n/k)² cell bound that SOAK_r16 priced; production iterates
    * rounds to convergence (empirically O(log n), the paper's result) —
    * declared here as one round so the oracle can mirror it exactly. */
  private[graft] def nnDescentEdges(
      e: DataFrame, k: Int = 8, kG: Int = 4, bucketW: Int = 16): DataFrame = {
    val feats = intFeatures(e)
    val cellG = knnGraphEdges(e, k, kG).select("vec_id", "neighbor_id")
    // Tracked-cached: nnDescentRound references its graph ~6× (reverse,
    // union, both sides of the shared-vertex self-join); without the
    // cache each reference's lineage holds the QUADRATIC cell-local
    // pair join, and exchange reuse is an optimization, not a contract
    // — the 3kG-edges/vertex seed is tiny, the join it pins is not.
    // localCheckpoint rather than a columnar cache (r19 optimization):
    // the blocks pin the quadratic-lineage cut just as the tracked
    // cache did, and additionally TRUNCATE the logical plan, so the
    // round's ~10 downstream stages stop re-broadcasting the full
    // seed lineage in every task binary (the iterated family measured
    // 67 → 47 stages and ss24 17.4 → 10.5 s from the same switch).
    val seed = cellG.union(idBucketSeed(feats, kG, bucketW)).distinct()
      .transform(graft.Ckpt.lazyCheckpoint(_, "nnDescent.seed"))
    nnDescentRound(seed, packedFeatures(feats), kG)
  }

  /** pack_ints view of ss14's integer grid: (vec_id, fb binary). The
    * NN-Descent re-rank ships a vector on BOTH sides of every candidate
    * row (~(4kG)² rows per vertex), and 4-byte packing halves that
    * in-flight width vs the 8-byte long-array form — the family's one
    * memory wall at the 100k soak (r16 verdict #2). packed_sqdist keeps
    * the distances value-identical to long_sqdist on the unpacked grid,
    * so every declared hash is unchanged. */
  private def packedFeatures(feats: DataFrame): DataFrame =
    feats.select(col("vec_id"), expr("pack_ints(f)").as("fb"))

  /** NN-Descent's derandomized random-seed stand-in (shared by ss22/
    * ss23): kG nearest neighbors within fixed id-buckets of width
    * `bucketW`. Consecutive ids are unrelated to geometry, so bucket
    * edges BRIDGE trained cells — and the join is n·bucketW pairs,
    * LINEAR in the corpus, vs ss21's (n/k)² cell-local bound. */
  private[graft] def idBucketSeed(feats: DataFrame, kG: Int, bucketW: Int): DataFrame =
    bucketSeed(packedFeatures(feats)
      .withColumn("bk", expr(s"vec_id div $bucketW")), kG)

  /** ONE deterministic NN-Descent round over a directed kG-NN graph `g`
    * (Dong et al., WWW 2011, §2.2 made deterministic): reverse edges
    * capped at 2·kG per vertex by source id (ρ-sampling with the
    * randomness removed), undirected neighborhoods = seed ∪ capped
    * reverse, every ordered pair of a shared vertex's neighbors becomes
    * a candidate, and the output is the exact-integer top-kG per vertex
    * over candidates ∪ seed. Seed ⊆ candidates makes the round MONOTONE:
    * no vertex's k-th distance can get worse. Candidates are ≤ (4·kG)²
    * rows per vertex — linear in n with a constant the reverse cap
    * enforces even around hub vectors — and every join is edges-to-edges
    * or an equi-join against the packed feature frame `fbin`
    * ([[packedFeatures]]); vectors never shuffle as a quadratic set. */
  private[graft] def nnDescentRound(g: DataFrame, fbin: DataFrame, kG: Int): DataFrame = {
    val wRev = Window.partitionBy("vec_id").orderBy("neighbor_id")
    val rev = g.select(col("neighbor_id").as("vec_id"),
        col("vec_id").as("neighbor_id"))
      .withColumn("rn", row_number().over(wRev))
      .filter(col("rn") <= 2 * kG)
      .select("vec_id", "neighbor_id")
    val und = g.union(rev).distinct()
    // Attach the NEIGHBOR-side packed vector to the (small) undirected
    // edge set ONCE, so every candidate pair's distance is computed at
    // GENERATION time inside the shared-vertex self-join's projection —
    // the candidate set then crosses the wire exactly once, as thin
    // (vec_id, neighbor_id, dist) rows. The first cut of this round
    // joined the ~(4kG)²·n candidate rows back against fbin twice
    // instead: four full exchanges of the candidate set, two of them
    // vector-width — measured 4-5× this plan's wall at 10k vectors.
    // NOT cached, deliberately (r19 optimization note): undN is consumed
    // three times (both sides of the shared-vertex self-join + the
    // seed-distance branch), but the three subtrees are plan-identical
    // so ReusedExchange already dedups the exchange under the distinct;
    // a tracked cache was MEASURED WORSE at sf0.1 (ss24 wall 18.9 →
    // 33.9 s, stage CPU 171 → 210 s) — the InMemoryRelation store+scan
    // of the packed vectors costs more than the post-exchange recompute.
    val undN = und.join(
      fbin.select(col("vec_id").as("neighbor_id"), col("fb").as("fnb")),
      Seq("neighbor_id"))
    // UNORDERED pair generation (r19 optimization): the shared-vertex
    // self-join is symmetric — for every shared vertex it used to emit
    // BOTH orderings of each neighbor pair, so every packed_sqdist was
    // evaluated twice (stage profile at sf0.1: the round-1 candidate
    // stage alone burned 404 CPU-s and wrote 381 MB for ss24).
    // Generating each pair once under `a < b` and mirroring both
    // directions afterwards with a local explode halves the distance
    // evals; the mirrored set is exactly the old ordered pair set
    // because the old generator was symmetric (u,w and w,u always
    // co-occurred). NO distinct on the triples (r20): the rank below is
    // MULTIPLICITY-BLIND — dist is a pure function of the pair, so for a
    // fixed vec_id the order key (dist, neighbor_id) is unique per
    // DISTINCT neighbor and identical across copies, hence dense_rank
    // over the raw multiset equals row_number over the distinct set no
    // matter how many shared vertices re-emit a pair, and the
    // post-filter dropDuplicates removes the (fully identical) surviving
    // copies. The r19 distinct was the suite's single largest exchange
    // (~190 MB of candidate triples + a 25M-row hash aggregate on each
    // side); the partial WindowGroupLimit heap below the rank exchange
    // bounds what the window ships instead, so dropping the distinct
    // removes that exchange outright (§2.4).
    val pairsU = undN.select(col("vec_id"), col("neighbor_id").as("a"),
        col("fnb").as("fa"))
      .join(undN.select(col("vec_id"), col("neighbor_id").as("b"),
        col("fnb").as("fb2")), Seq("vec_id"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"), expr("packed_sqdist(fa, fb2)").as("dist"))
    val pairs = pairsU.select(explode(array(
        struct(col("a").as("vec_id"), col("b").as("neighbor_id"), col("dist")),
        struct(col("b").as("vec_id"), col("a").as("neighbor_id"), col("dist"))))
        .as("e"))
      .select(col("e.vec_id"), col("e.neighbor_id"), col("e.dist"))
    val undD = undN.join(fbin, Seq("vec_id"))
      .select(col("vec_id"), col("neighbor_id"),
        expr("packed_sqdist(fb, fnb)").as("dist"))
    val cand = pairs.union(undD)
    val w = Window.partitionBy("vec_id").orderBy("dist", "neighbor_id")
    cand.withColumn("rk", dense_rank().over(w))
      .filter(col("rk") <= kG)
      .dropDuplicates("vec_id", "neighbor_id")
      .select(col("vec_id"), col("neighbor_id"),
        col("rk").cast("int").as("rk"), col("dist"))
  }

  /** Exact global rank by `keys` WITHOUT a single-partition window:
    * range-partition on the keys (ordered, disjoint ranges), rank within
    * each partition, then offset each partition's local ranks by the
    * total row count of earlier partitions (one broadcast row per
    * partition). The output is independent of the sampled range bounds —
    * ANY order-respecting partitioning yields the same global rank over
    * a strict total order — so the result is deterministic and mirrors
    * `ROW_NUMBER() OVER (ORDER BY keys)` exactly. The single-partition
    * WindowExec Spark plans for an unpartitioned window is a non-plan at
    * corpus scale; this is its distributed equivalent (the inner offset
    * window runs over ≤ shuffle-partitions rows, bounded by config, not
    * by the corpus). Callers must make `keys` a strict total order (ties
    * broken by a unique id). */
  private[graft] def exactRank(df: DataFrame, rankCol: String, keys: Column*): DataFrame = {
    // Tracked-cached for CORRECTNESS, not speed: the offset branch and
    // the rank branch must observe the SAME range bounds — two separate
    // materializations of a range exchange may sample different bounds,
    // and offset(A) + localRank(B) is not a global rank. The cache pins
    // one materialization (and one shuffle); plan-identical exchange
    // reuse would usually dedup them anyway, but correctness must not
    // ride on an optimization.
    val withPid = graft.Caches.track(df.repartitionByRange(keys: _*)
      .withColumn("_pid", spark_partition_id()))
    val offs = withPid.groupBy("_pid").count()
      .withColumn("_off", sum("count").over(Window.orderBy("_pid")) - col("count"))
      .select(col("_pid"), col("_off"))
    val wIn = Window.partitionBy("_pid").orderBy(keys: _*)
    withPid.withColumn("_rin", row_number().over(wIn))
      .join(broadcast(offs), Seq("_pid"))
      .withColumn(rankCol, col("_off") + col("_rin"))
      .drop("_pid", "_rin", "_off")
  }

  /** [[exactRank]] PER GROUP `grp`, sharing one range exchange across
    * all groups: range-partition on (grp, keys) — so each group's rows
    * occupy contiguous, ordered partition ranges — rank within
    * (_pid, grp), and offset by the count of the SAME group in earlier
    * partitions (one broadcast row per (partition, group)). For a single
    * group this degenerates to [[exactRank]]; with G groups it replaces
    * G separate range exchanges + rank windows with one of each — the
    * ss23 seed fusion (each of the four projection systems pays the same
    * exchange once, not four times). Same determinism argument: the rank
    * is independent of the sampled range bounds, and the tracked cache
    * pins one materialization so the offset and rank branches observe
    * the same bounds. */
  private[graft] def exactRankWithin(
      df: DataFrame, rankCol: String, grp: String, keys: Column*): DataFrame = {
    val withPid = graft.Caches.track(
      df.repartitionByRange((col(grp) +: keys): _*)
        .withColumn("_pid", spark_partition_id()))
    val offs = withPid.groupBy("_pid", grp).count()
      .withColumn("_off",
        sum("count").over(Window.partitionBy(grp).orderBy("_pid")) - col("count"))
      .select(col("_pid"), col(grp), col("_off"))
    val wIn = Window.partitionBy("_pid", grp).orderBy(keys: _*)
    withPid.withColumn("_rin", row_number().over(wIn))
      .join(broadcast(offs), Seq("_pid", grp))
      .withColumn(rankCol, col("_off") + col("_rin"))
      .drop("_pid", "_rin", "_off")
  }

  /** ss23's four deterministic ±1 sign projections of the integer grid
    * (Walsh-pattern signs over the 64-dim layout: all-ones, alternating,
    * halves, quarters): each maps a vector to ONE exact integer, cheap
    * to rank by, and the four patterns are pairwise orthogonal so
    * vectors close in L2 stay close in EVERY projection while far
    * vectors separate in at least one — the geometry-aware, oracle-
    * mirrorable stand-in for NN-Descent's random seed projections. */
  private val projPatterns: Seq[String] = Seq(
    "acc + f[i]",
    "acc + IF(i % 2 = 0, f[i], -f[i])",
    "acc + IF(i < 32, f[i], -f[i])",
    "acc + IF((i div 16) % 2 = 0, f[i], -f[i])")

  /** Four MORE Walsh sign patterns (dim-index masks 8, 4, 2 and 48 —
    * sign = parity of popcount(i & mask), pairwise orthogonal to each
    * other and to [[projPatterns]]' masks 0/1/32/16) for the soak's
    * seed-DIVERSITY axis. SOAK_r18's 100k measurements: diversity alone
    * at narrow K buys little (8 systems at K=8: 0.66 vs 0.60), and K
    * alone flattens ~0.88, but the axes COMPOSE — 8 systems at K=16
    * crosses 0.91 with every stage still linear (each extra system adds
    * n·bucketW seed evals on the SAME fused exchange via the `sys`
    * discriminator). The declared queries stay at the oracle-mirrored
    * four. */
  private val projPatternsExt: Seq[String] = Seq(
    "acc + IF((i div 8) % 2 = 0, f[i], -f[i])",
    "acc + IF((i div 4) % 2 = 0, f[i], -f[i])",
    "acc + IF((i div 2) % 2 = 0, f[i], -f[i])",
    "acc + IF(((i div 16) + (i div 32)) % 2 = 0, f[i], -f[i])")

  /** kG nearest neighbors within the buckets of `fb` (vec_id, fb, bk;
    * pack_ints vectors) — the seed-graph pair join shared by the
    * id-bucket and projection-rank systems. Bucket size is FIXED
    * (bucketW members), so the join is n·bucketW pairs — linear in the
    * corpus by construction — and the packed vectors halve what the
    * bucket exchange ships. */
  private def bucketSeed(fb: DataFrame, kG: Int): DataFrame = {
    val wSeed = Window.partitionBy("vec_id").orderBy("dist", "neighbor_id")
    fb.join(
        fb.select(col("bk"), col("vec_id").as("neighbor_id"), col("fb").as("fnb")),
        Seq("bk"))
      .filter(col("vec_id") =!= col("neighbor_id"))
      .withColumn("dist", expr("packed_sqdist(fb, fnb)"))
      .withColumn("rk", row_number().over(wSeed))
      .filter(col("rk") <= kG)
      .select("vec_id", "neighbor_id")
  }

  /** ss23's body: ITERATED NN-Descent over a linear, geometry-aware seed
    * — the kNN-graph family's linear-END-TO-END scale twin (r16 verdict
    * #1). No [[knnGraphEdges]] call anywhere in this plan; every stage
    * is O(n):
    *
    *  - SEED: for each of the four [[projPatterns]] sign projections,
    *    rank the corpus by the projection value ([[exactRank]] — a
    *    distributed range sort, not a pair join), cut the rank order
    *    into fixed-width buckets of `bucketW`, and take each vector's
    *    `kWork` nearest within its bucket. Fixed bucket size makes the
    *    seed n·bucketW·4 distance evals; four overlapping systems make
    *    the union graph connected (the id-bucket seed alone is a
    *    disjoint union of per-bucket subgraphs — NN-Descent can never
    *    cross a component boundary, measured at recall 0.025 on the
    *    fixture) and geometry-aware (rank-adjacent under a projection ≈
    *    close along that axis), which is what lets TWO rounds converge
    *    where a blind seed needs O(log n).
    *  - ROUNDS: `rounds` deterministic [[nnDescentRound]]s at working
    *    width `kWork` — the paper runs its loop at a working K above the
    *    emitted k for exactly this reason (K=4 plateaus at 0.28 recall
    *    on the fixture; K=8 reaches 0.94). Each round ≤ (4·kWork)²
    *    candidates per vertex, reverse cap 2·kWork.
    *  - EMIT: the final round's rank filtered to `kOut` — identical to
    *    ranking the last candidate set to kOut, since both rank the same
    *    set by the same (dist, neighbor) order.
    *
    * Monotone round-over-round at fixed kWork (each round's candidates ⊇
    * its seed), recall 0.94 vs ss22's 0.41 on the fixture (SimilaritySpec
    * pins both), all-integer — hash-exact. SOAK_r17.md prices the 100k
    * wall against the 472 s quadratic seed SOAK_r16 measured. The
    * intermediate round graphs are lazily localCheckpoint'ed: each is
    * consumed 4× by the next round and its lineage holds every prior
    * round — the checkpoint both pins one materialization and TRUNCATES
    * the plan, so later rounds' task binaries stop carrying the whole
    * history (r19: the columnar tracked cache did the first job but not
    * the second; the switch measured 67 → 47 stages and halved stage
    * CPU at sf0.1 — ss24 17.4 → 10.5 s, ss23 12.2 → 6.7 s).
    *
    * The DEFAULTS are fixture-scale settings. SOAK_r18.md measures the
    * recall curve at 100k vectors: (8/16/2) reads 0.60 where the 2k
    * fixture reads 0.94, and the knobs that restore it are the WORKING
    * WIDTH and SEED DIVERSITY, not the round count — (16/32/3) reads
    * 0.88 at 242 s, 8 projection systems at K=16 cross 0.91 at 654 s,
    * both still linear everywhere, while extra rounds at K=8 plateau
    * (+4 pts/round) and K=24 without a third round is worse on both
    * axes. Production scales kWork/bucketW/systems with corpus density
    * (Dong et al. run K≈20 at million scale) and stops at 2-3 rounds.
    * That production profile — (kWork 16 / bucketW 32 / 2 rounds / 8
    * systems), recall 0.91 at 100k with every stage O(n) — is DECLARED
    * as `ss24_nn_descent_scale` with its own unrolled oracle (r18
    * verdict #3), so the scale-parameter rule is a hash-checked contract
    * rather than a scaladoc promise; SOAK_r19 re-pins the 100k recall. */
  private[graft] def nnDescentIterEdges(
      e: DataFrame, kWork: Int = 8, kOut: Int = 4, bucketW: Int = 16,
      rounds: Int = 2, systems: Int = 4): DataFrame = {
    require(systems >= 1 && systems <= projPatterns.size + projPatternsExt.size,
      s"systems=$systems outside the defined Walsh pattern family")
    val pats = (projPatterns ++ projPatternsExt).take(systems)
    val feats = intFeatures(e)
    val fbin = graft.Caches.track(packedFeatures(feats))
    // FUSED seed (r17 bench finding): the four projection systems ride
    // ONE range exchange, ONE rank window and ONE bucket pair join via a
    // `sys` discriminator column ([[exactRankWithin]]) instead of four
    // of each — the unfused form spent ~2/3 of ss23's sf0.1 wall on the
    // 4× replicated seed stages (~26 s in-suite, almost all fixed stage
    // overhead at 2k vectors). Per-system values are identical: rank,
    // buckets and the in-bucket kNN are all computed within `sys`, so
    // the unioned seed — and the per-system oracle CTEs — are unchanged.
    val pArr = array(pats.map(pat =>
      expr(s"aggregate(sequence(0, size(f) - 1), 0L, (acc, i) -> $pat)")): _*)
    // rank THIN (sys, vec_id, p) rows — the vectors don't ride the range
    // exchange; the bucket assignment joins them back by id
    val pr = feats.select(col("vec_id"), posexplode(pArr).as(Seq("sys", "p")))
    val fb = exactRankWithin(pr, "rnk", "sys", col("p"), col("vec_id"))
      .withColumn("bk", expr(s"(rnk - 1) div $bucketW"))
      .select(col("sys"), col("vec_id"), col("bk"))
      .join(fbin, Seq("vec_id"))
    val wSeed = Window.partitionBy("sys", "vec_id").orderBy("dist", "neighbor_id")
    val seed = fb.join(
        fb.select(col("sys"), col("bk"), col("vec_id").as("neighbor_id"),
          col("fb").as("fnb")),
        Seq("sys", "bk"))
      .filter(col("vec_id") =!= col("neighbor_id"))
      .withColumn("dist", expr("packed_sqdist(fb, fnb)"))
      .withColumn("rk", row_number().over(wSeed))
      .filter(col("rk") <= kWork)
      .select("vec_id", "neighbor_id").distinct()
    var g = seed
    var r = 1
    var out: DataFrame = null
    while (r <= rounds) {
      out = nnDescentRound(
        graft.Ckpt.lazyCheckpoint(g, "nnDescentIter.round"), fbin, kWork)
      g = out.select("vec_id", "neighbor_id")
      r += 1
    }
    out.filter(col("rk") <= kOut)
  }

  /** The persisted corpus kNN GRAPH probed by qp08 — ss23's
    * iterated-NN-Descent top-kOut edge set, written once per (dir,
    * embeddings content fingerprint) and read by every downstream graph
    * consumer. Production builds a corpus ANN graph as an ARTIFACT of
    * the corpus snapshot (NN-Descent's whole point is amortizing it),
    * exactly as the substring/banded-LSH families persist their indexes
    * ([[graft.operators.Dedup]]'s `ddWinIndexPath`/`dd11IndexPath` —
    * same fixture lifecycle: content-fingerprinted memo key, build
    * outside the CHM bin lock, pid-keyed tmpdir with stale sweep and
    * shutdown cleanup). The artifact is byte-identical to the recompute
    * form, so qp08's oracle deliberately re-derives the full chain. */
  private val knnGraphArtifacts =
    new java.util.concurrent.ConcurrentHashMap[String, () => String]()
  private[graft] def knnGraphArtifactPath(s: SparkSession, dir: String,
      kWork: Int = 8, kOut: Int = 4, bucketW: Int = 16,
      rounds: Int = 2, systems: Int = 4): String = {
    // the build PARAMETERS are part of the memo key (r17 advice; r18
    // advice added `systems` when the seed-diversity axis landed): two
    // callers requesting different graph shapes over one corpus snapshot
    // must get two artifacts, never silently share the first one built
    val key = dir + "|" + EtlQueries.contentFingerprint(s"$dir/embeddings.parquet") +
      s"|k$kWork-$kOut-w$bucketW-r$rounds-s$systems"
    knnGraphArtifacts.computeIfAbsent(key, { _ =>
      lazy val built: String = {
        EtlQueries.sweepStaleFixtures("graft_knngraph_")
        val f = new java.io.File(sys.props("java.io.tmpdir"),
          s"graft_knngraph_${ProcessHandle.current().pid()}_${EtlQueries.fixtureKey(key)}")
        val path = f.getAbsolutePath
        nnDescentIterEdges(emb(s, dir), kWork, kOut, bucketW, rounds, systems)
          .write.mode("overwrite").parquet(path)
        sys.addShutdownHook {
          def rm(x: java.io.File): Unit = {
            Option(x.listFiles()).foreach(_.foreach(rm))
            x.delete(): Unit
          }
          rm(f)
        }
        path
      }
      () => built
    })()
  }

  /** qp08's body: the per-vector dedup verdict over ss23's linear kNN
    * graph `edges` (vec_id, neighbor_id, rk, dist) — see the
    * `qp08_graph_dedup_manifest` entry for the full contract. The verdict
    * frame is driven by the CORPUS id set, not by the edge set (r17
    * advice): a vector with no graph edges is possible (a singleton rank
    * bucket under every projection), and deriving rows from nn1 alone
    * would silently skip it — it must still get a row, `keep` with null
    * evidence (no neighbor observed ⇒ no lower-id ε-neighbor observed).
    * `corpus` needs only a `vec_id` column; the one distinct + two
    * left joins on it stay linear and broadcast-friendly. */
  private[graft] def graphDedupManifest(
      edges: DataFrame, corpus: DataFrame,
      epsSq: Long = 1300000000000L): DataFrame = {
    val ids = corpus.select("vec_id").distinct()
    val nn1 = edges.filter(col("rk") === 1)
      .select(col("vec_id"), col("neighbor_id").as("nn_id"),
        col("dist").as("nn_dist"))
    val dropped = edges
      .filter(col("dist") <= epsSq && col("neighbor_id") < col("vec_id"))
      .select("vec_id").distinct().withColumn("is_drop", lit(true))
    ids.join(nn1, Seq("vec_id"), "left")
      .join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("nn_id"), col("nn_dist"),
        when(col("is_drop"), lit("drop")).otherwise(lit("keep")).as("verdict"))
      .orderBy("vec_id")
  }

  private[graft] def ivfRangeSearch(e: DataFrame, k: Int = 8,
      r: Long = 1300000000000L): DataFrame = {
    val feats = intFeatures(e)
    val cents = fixedPointCentroids(feats, k, iters = 2)
    // consumed twice: the per-cell radius agg + the candidate scan
    val assigned = graft.Caches.track(assignToCells(feats, cents))
    val cellRad = assigned.groupBy("cell").agg(max("dist").as("rad"))
    val probes = feats.filter(col("vec_id") < 5)
      .crossJoin(broadcast(
        cents.agg(sort_array(collect_list(struct(col("cell"), col("c")))).as("cs"))))
      .select(col("vec_id").as("query_id"), col("f").as("qf"),
        explode(expr(
          s"transform(cs, cc -> struct($centDistExpr AS d2c, cc.cell AS cell))"))
          .as("pc"))
      .select(col("query_id"), col("qf"),
        col("pc.d2c").as("d2c"), col("pc.cell").as("cell"))
      .join(broadcast(cellRad), Seq("cell"))
      .filter(col("d2c") <= lit(r) + col("rad") +
        (floor(sqrt(lit(r.toDouble) * col("rad").cast("double"))) * 2 + lit(4))
          .cast("long"))
      .select("query_id", "qf", "cell")
    assigned.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("dist", expr(
        "long_sqdist(qf, f)"))
      .filter(col("dist") <= r)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("dist"))
      .orderBy("query_id", "neighbor_id")
  }

  /** Deterministic Gonzalez farthest-point (k-center) seeding (see the
    * ss16 scaladoc): seed 1 is the smallest vec_id; each later seed is the
    * vector MAXIMIZING its min squared-L2 distance to the seeds chosen so
    * far (ties to the lower vec_id), on ss14's integer feature grid so
    * every distance, comparison, and the reported separation are exact
    * integers. Returns one row per seed: (seed_rank, vec_id, sep) where
    * sep is the min-distance at selection time (null for seed 1) — the
    * classic 2-approximation certificate for the k-center radius. */
  private[graft] def kcenterSeeds(e: DataFrame, k: Int): DataFrame = {
    val feats = e.select(col("vec_id"),
      expr("transform(v, x -> cast(floor(x * 1000000) as bigint) + 1000000)").as("f"))
    val distExpr = // exact integer squared L2 between f and sc.c
      "long_sqdist(f, sc.c)"
    val seed0 = feats.orderBy("vec_id").limit(1)
      .select(lit(1).as("seed_rank"), col("vec_id"),
        lit(null).cast("long").as("sep"), col("f").as("c"))
    val seeds = (2 to k).foldLeft(seed0) { (sds, r) =>
      // min distance to the chosen set, map-side vs ONE broadcast row of
      // all seeds; the argmax is a single global max over a struct whose
      // (md, -vec_id) prefix encodes "farthest, ties to lower id" —
      // partial maxes reduce each task to one row before the exchange
      val packed = sds.agg(collect_list(struct(col("c"))).as("cs"),
        collect_list(col("vec_id")).as("ids"))
      val next = feats.crossJoin(broadcast(packed))
        // chosen ids never re-enter the argmax — without this, a corpus
        // whose every remaining vector duplicates a seed (md 0 all round)
        // would re-pick seed 1 on the id tie-break and emit a duplicate
        .filter(!array_contains(col("ids"), col("vec_id")))
        .withColumn("md", expr(s"array_min(transform(cs, sc -> $distExpr))"))
        .agg(max(struct(col("md"), (-col("vec_id")).as("nv"), col("f"))).as("m"))
        .select(lit(r).as("seed_rank"), (-col("m.nv")).as("vec_id"),
          col("m.md").as("sep"), col("m.f").as("c"))
      // each round's seed frame is r rows consumed twice (the broadcast
      // pack + the union) with a corpus scan in its lineage — tracked
      // cache bounds the plan exactly as in kmeansFixedPoint
      graft.Ckpt.lazyCheckpoint(sds.unionByName(next), "kcenter.seeds")
    }
    seeds.select(col("seed_rank"), col("vec_id"), col("sep"))
  }

  /** k-means|| oversampling seeder (Bahmani et al., VLDB 2012) — the
    * SCALABLE softening of [[kcenterSeeds]]'s exact greedy (whose k-1
    * corpus scans are inherent): a CONSTANT number of passes, each
    * sampling ~`overs` new candidates in parallel, then a weighted
    * reduction of the tiny candidate set to the final k.
    *
    * Deterministic derandomization (ss14's integer license, extended to
    * sampling): the per-point "random" u is a 6-hex-nibble fold of
    * md5("ss17:round:vec_id") in [0, 16^6), and x is selected iff
    * u·φ < overs·d(x)·16^6 — the integer-exact form of the paper's
    * "with probability overs·d(x)/φ", so two runs (or two engines)
    * agree bit-for-bit. All products ride DECIMAL(38,0): u < 2^24 and
    * φ = Σ min-dists ≤ n·(64·(2·10^6)²) ≈ n·2.6e14, so u·φ stays inside
    * 38 digits for any corpus below ~10^16 vectors.
    *
    * Shape at 100 TB: per round ONE map-side corpus scan against the
    * broadcast candidate row (array_min over candidate structs), one
    * 1-row φ aggregate broadcast back, and a filter — no join, no
    * corpus shuffle; `rounds` scans total versus ss16's k-1. The
    * candidate set (1 + ~rounds·overs w.h.p. — O(k log n) by the
    * paper's Theorem 1) is KB-scale: its weighted reduction to k runs
    * on the collected candidates (the PQ-codebook precedent), picking
    * greedily by weighted squared-distance mass w(c)·d(c) — the mode of
    * the k-means++ sampling distribution at each step, ties to the
    * lower vec_id. Returns (seed_rank, vec_id, weight); rows-only-det
    * (the sampling has no SQL-expressible DuckDB mirror via conv()),
    * pinned by SimilaritySpec's JVM reference + the radius-vs-ss16
    * comparison. */
  private[graft] def kmeansParSeeds(
      e: DataFrame, k: Int, rounds: Int, overs: Int): DataFrame = {
    val spark = e.sparkSession
    val feats = e.select(col("vec_id"),
      expr("transform(v, x -> cast(floor(x * 1000000) as bigint) + 1000000)").as("f"))
    val distExpr = // exact integer squared L2 between f and sc.c
      "long_sqdist(f, sc.c)"
    val cand0 = feats.orderBy("vec_id").limit(1).select(col("vec_id"), col("f"))
    val cands = (1 to rounds).foldLeft(cand0) { (cs, r) =>
      val packed = cs.agg(collect_list(struct(col("f").as("c"))).as("cs"))
      val withMd = feats.crossJoin(broadcast(packed))
        .withColumn("md", expr(s"array_min(transform(cs, sc -> $distExpr))"))
      val phi = withMd.agg(sum(expr("cast(md as decimal(38,0))")).as("phi"))
      val picks = withMd.crossJoin(broadcast(phi))
        .filter(col("md") > 0) // candidates (d=0) never re-selected
        .withColumn("u", expr(
          s"cast(conv(substring(md5(concat('ss17:$r:', cast(vec_id as string))), 1, 6), 16, 10) as decimal(38,0))"))
        .filter(col("u") * col("phi") <
          expr(s"cast($overs as decimal(38,0)) * cast(md as decimal(38,0)) * cast(16777216 as decimal(38,0))"))
        .select(col("vec_id"), col("f"))
      // each round's candidate frame is consumed twice next round (the
      // broadcast pack + the union) with a corpus scan in its lineage —
      // tracked cache bounds the plan exactly as in kcenterSeeds
      graft.Ckpt.lazyCheckpoint(cs.unionByName(picks), "kmeanspar.cands")
    }
    // weights: every corpus vector votes for its nearest candidate
    // (ties to the lower candidate vec_id) — one map-side scan + one
    // candidate-sized aggregation
    val packedAll = cands.agg(sort_array(
      collect_list(struct(col("vec_id").as("cid"), col("f").as("c")))).as("cs"))
    val weights = feats.crossJoin(broadcast(packedAll))
      .withColumn("m", expr(
        s"array_min(transform(cs, sc -> struct($distExpr AS dist, sc.cid AS cid)))"))
      .groupBy(col("m.cid").as("vec_id"))
      .agg(count(lit(1)).as("weight"))
    val weighted = cands.join(weights, Seq("vec_id"), "left")
      .select(col("vec_id"), coalesce(col("weight"), lit(0L)).as("weight"), col("f"))
      .collect() // KB-scale candidate set — the PQ-codebook precedent
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2).toVector))
    // derandomized weighted k-means++ over the candidates: first pick =
    // heaviest (ties lower id); each later pick maximizes w(c)·dmin(c)
    def sqd(a: Vector[Long], b: Vector[Long]): BigInt =
      a.iterator.zip(b.iterator).map { case (x, y) =>
        val d = BigInt(x - y); d * d }.sum
    val first = weighted.maxBy { case (id, w, _) => (w, -id) }
    val chosen = scala.collection.mutable.ArrayBuffer(first)
    while (chosen.size < math.min(k, weighted.length)) {
      val next = weighted
        .filter(c => !chosen.exists(_._1 == c._1))
        .maxBy { case (id, w, f) =>
          (BigInt(w) * chosen.iterator.map(s => sqd(f, s._3)).min, -id)
        }
      chosen += next
    }
    import spark.implicits._
    chosen.zipWithIndex
      .map { case ((id, w, _), i) => (i + 1, id, w) }.toSeq
      .toDF("seed_rank", "vec_id", "weight")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact brute-force cosine top-k for a small query set (vec_id < 5).
    "ss01_cosine_topk" -> ((s, dir) => {
      val e = emb(s, dir).withColumn("nrm", l2norm("v"))
      val q = e.select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qnrm"))
        .filter(col("query_id") < 5)
      val joined = broadcast(q).join(e, col("vec_id") =!= col("query_id"))
        .withColumn("cos", dot("qv", "v") / (col("qnrm") * col("nrm")))
      val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id"))
      joined.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 10)
        .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rk"), col("cos"))
        .orderBy("query_id", "rk")
    }),

    // ANN via hyperplane LSH buckets: same queries, candidates restricted to
    // the query's bucket. Rows-only check (xxhash64-seeded planes have no
    // DuckDB mirror); ScalaTest asserts recall vs ss01 on sf0.001.
    "ss02_ann_lsh" -> ((s, dir) => lshTopK(s, dir, multiProbe = false)),

    // Embedding near-duplicate pairs: cosine above threshold, candidates
    // blocked by label (cheap demo of blocked pair generation; the LSH
    // bucket variant above is the unblocked-scale path).
    "ss03_embed_neardup" -> ((s, dir) => {
      val e = table(s, dir, "embeddings")
        .select(col("vec_id"), col("label"),
          expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
        .withColumn("nrm", l2norm("v"))
      val a = e.select(col("label"), col("vec_id").as("id_a"), col("v").as("v_a"), col("nrm").as("n_a"))
      val b = e.select(col("label"), col("vec_id").as("id_b"), col("v").as("v_b"), col("nrm").as("n_b"))
      a.join(b, Seq("label"))
        .filter(col("id_a") < col("id_b"))
        .withColumn("cos", dot("v_a", "v_b") / (col("n_a") * col("n_b")))
        .filter(col("cos") > 0.3)
        .select("id_a", "id_b", "cos")
        .orderBy("id_a", "id_b")
    }),

    // Multi-probe LSH ANN (Lv et al., VLDB'07): the INDEX stays one bucket
    // per corpus vector; recall comes from fanning the QUERY out to its own
    // bucket plus every bucket at Hamming distance 1 (sign flips of single
    // hyperplanes are where near neighbors fall). Candidate cost is
    // (planes+1) buckets per query — query-side only, so the corpus is
    // never re-indexed or duplicated the way multi-table LSH (ss08's
    // blocker) requires. Rows-only (xxhash64 planes); SimilaritySpec
    // asserts recall >= single-probe ss02 from the superset candidates.
    "ss09_multiprobe_lsh" -> ((s, dir) => lshTopK(s, dir, multiProbe = true)),

    // ss03's semantics with a scale-safe blocker: candidates are pairs that
    // collide in ANY of 2 independent 8-plane LSH tables, so the worst
    // block is ~n/256 of the corpus and shrinks as planes are added —
    // unlike the label block, whose size grows LINEARLY with the corpus
    // (ss03 stays as the oracle-checkable demo of blocked pair generation;
    // this is the shape you'd run at 100 TB). Rows-only (xxhash64-seeded
    // planes); SimilaritySpec asserts recall vs the exact all-pairs set.
    "ss08_lsh_neardup" -> ((s, dir) => {
      // Plane count scales with corpus size (ceil(log2(n/8)), floor 8,
      // cap 24): fixed planes make the expected bucket n/2^planes — the
      // sf0.5 soak measured pair generation going superlinear (3.5x wall
      // at 5x rows) exactly because 8 planes was sized for the sf0.1
      // corpus. The count() IS a Spark job (parquet row-group scan), so it
      // is memoized per (process, dir) — bench/verify re-invoke builders.
      val n: Long = embCounts.computeIfAbsent(dir, d => Long.box(emb(s, d).count()))
      // cap = 8x the expected uniform bucket: clustered corpora skew
      // occupancy, and a hot bucket is refused rather than joined k²
      lshBlockedPairs(s, dir, tables = 2, planes = neardupPlanes(n),
        bucketCap = defaultNeardupBucketCap)
        .withColumn("cos", dot("v_a", "v_b") / (col("n_a") * col("n_b")))
        .filter(col("cos") > 0.3)
        .select("id_a", "id_b", "cos")
        .distinct()
        .orderBy("id_a", "id_b")
    }),

    "ss04_label_centroids" -> centroidQuery,

    // Semantic dedup (the SemDeDup pipeline stage): cluster embeddings
    // into cells, list near-duplicate pairs WITHIN each cell, keep the
    // min-id representative of every near-dup pair — survivors are the
    // semantically-deduplicated corpus a training pipeline feeds forward.
    // Cells are ss05's deterministic decimal-summed centroids (broadcast;
    // assignment is a broadcast join + per-vector argmax, no corpus
    // shuffle), so the whole operator is oracle-checkable hash-exact.
    // Cell count here is the 10 label cells for oracle parity; at 100 TB
    // k scales with the corpus exactly like ss08's plane count (block
    // size n/k stays bounded), or the blocking swaps to ss08's LSH tables
    // — the survivors-by-anti-join shape is unchanged either way (ss11
    // below IS that swap, declared and overlap-tested).
    "ss10_semantic_dedup" -> ((s, dir) => {
      val e = emb(s, dir).withColumn("nrm", l2norm("v"))
      val cents = ivfCells(s, dir).withColumn("cnrm", l2norm("cv"))
      val wAssign = Window.partitionBy("vec_id").orderBy(col("ccos").desc, col("cell"))
      // NO cache, measured (r7 ProfileQ CLEAR=1): the three consumers do
      // re-run the assignment window above the reused exchange, but at
      // any scale the window input is corpus × 10 centroid rows of
      // fixed-width doubles and caching measured a wash (~1.1 s both
      // ways at sf0.1) — the dd05 rule says cache only when the re-run
      // stages are the expensive part, and here they are not.
      val cells = e.crossJoin(broadcast(cents))
        .withColumn("ccos", dot("v", "cv") / (col("nrm") * col("cnrm")))
        .withColumn("r", row_number().over(wAssign))
        .filter(col("r") === 1)
        .select(col("vec_id"), col("v"), col("nrm"), col("cell"))
      val a = cells.select(col("cell"), col("vec_id").as("id_a"), col("v").as("v_a"), col("nrm").as("n_a"))
      val b = cells.select(col("cell"), col("vec_id").as("id_b"), col("v").as("v_b"), col("nrm").as("n_b"))
      val dropped = a.join(b, Seq("cell"))
        .filter(col("id_a") < col("id_b"))
        .filter(dot("v_a", "v_b") / (col("n_a") * col("n_b")) > 0.3)
        .select(col("id_b").as("vec_id")).distinct()
      cells.join(dropped, Seq("vec_id"), "left_anti")
        .select("vec_id", "cell")
        .orderBy("vec_id")
    }),

    // ss10's 100 TB form, delivered as a declared query rather than an
    // in-code promise (the dd03→dd06 playbook): SAME SemDeDup semantics —
    // near-dup pairs above cosine 0.3, survivors = anti-join on the
    // dropped max-id side of every pair — but blocked by ss08's
    // multi-table LSH buckets instead of centroid cells. The blocker is
    // label-free and corpus-scaled (plane count grows with n, hot buckets
    // refused at the cap), so the worst block stays bounded where ss10's
    // k=10 cells each grow linearly with the corpus. Candidates differ
    // from ss10's only through blocking (both sides verify the EXACT
    // cosine), so survivor sets agree except where a blocker misses a
    // pair — SimilaritySpec pins the overlap on the gate corpus.
    // Rows-only-det (xxhash64-seeded planes have no DuckDB mirror).
    "ss11_lsh_semantic_dedup" -> ((s, dir) => {
      val n: Long = embCounts.computeIfAbsent(dir, d => Long.box(emb(s, d).count()))
      val dropped = lshBlockedPairs(s, dir, tables = 2, planes = neardupPlanes(n),
          bucketCap = defaultNeardupBucketCap)
        .filter(dot("v_a", "v_b") / (col("n_a") * col("n_b")) > 0.3)
        .select(col("id_b").as("vec_id")).distinct()
      emb(s, dir).select("vec_id")
        .join(dropped, Seq("vec_id"), "left_anti")
        .orderBy("vec_id")
    }),

    // IVF-Flat ANN — the other 100 TB scale path (ss02 is the LSH one).
    // Coarse quantizer: per-label centroids (computed distributedly, tiny,
    // broadcast). Every vector is assigned to its nearest cell (argmax
    // cosine over the broadcast centroid set — a broadcast join, no corpus
    // shuffle); each query probes its nprobe=3 nearest cells, so candidate
    // cost scales with nprobe/k of the corpus, not the corpus. Rows-only
    // check (ScalaTest asserts recall ~ probed fraction vs exact ss01 —
    // these embeddings are near-isotropic, so that IS the IVF tradeoff).
    "ss05_ivf_ann" -> ((s, dir) => {
      val nprobe = 3
      val e = emb(s, dir).withColumn("nrm", l2norm("v"))
      val cents = ivfCells(s, dir).withColumn("cnrm", l2norm("cv"))
      val wAssign = Window.partitionBy("vec_id").orderBy(col("ccos").desc, col("cell"))
      // cache: both the cell inventory and the probe list scan `assigned`;
      // uncached, the centroid broadcast join + window would run twice.
      // Tracked in graft.Caches: the cache must outlive this builder (the
      // action runs on the returned plan); a long-lived session releases it
      // via Caches.releaseAll() after the action.
      val assigned = graft.Caches.track(
        e.crossJoin(broadcast(cents))
          .withColumn("ccos", dot("v", "cv") / (col("nrm") * col("cnrm")))
          .withColumn("r", row_number().over(wAssign)))
      val cells = assigned.filter(col("r") === 1)
        .select(col("vec_id"), col("v"), col("nrm"), col("cell"))
      val q = assigned.filter(col("vec_id") < 5 && col("r") <= nprobe)
        .select(col("vec_id").as("query_id"), col("v").as("qv"),
          col("nrm").as("qnrm"), col("cell"))
      val wTop = Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id"))
      q.join(cells, Seq("cell"))
        .filter(col("vec_id") =!= col("query_id"))
        .withColumn("cos", dot("qv", "v") / (col("qnrm") * col("nrm")))
        .withColumn("rk", row_number().over(wTop))
        .filter(col("rk") <= 10)
        .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rk"), col("cos"))
        .orderBy("query_id", "rk")
    }),

    // IVF + SQ8 — the two pruning axes composed into the FAISS IVFScalar-
    // Quantizer shape, which is what an actual 100 TB ANN deployment runs:
    // IVF cells cut WHICH vectors a query touches (ss05's deterministic
    // broadcast-centroid assignment, nprobe cells per query), SQ8 cuts HOW
    // BIG each touched vector is (ss12's per-dim byte grid, 4x), so the
    // per-query scan cost drops multiplicatively while both index
    // structures stay broadcast-sized. Scoring is asymmetric L2 (raw query
    // vs dequantized midpoints) inside the probed cells only. Both parents
    // are hash-exact and so is the composition — cell assignment and grid
    // mirror into the same SQL the parents use.
    "ss13_ivf_sq8_ann" -> ((s, dir) => {
      val nprobe = 3
      val e = emb(s, dir).withColumn("nrm", l2norm("v"))
      val cents = ivfCells(s, dir).withColumn("cnrm", l2norm("cv"))
      val wAssign = Window.partitionBy("vec_id").orderBy(col("ccos").desc, col("cell"))
      // same cache rationale as ss05: cells and probe lists both scan it
      val assigned = graft.Caches.track(
        e.crossJoin(broadcast(cents))
          .withColumn("ccos", dot("v", "cv") / (col("nrm") * col("cnrm")))
          .withColumn("r", row_number().over(wAssign)))
      val cells = sq8Dequantized(s, dir,
        assigned.filter(col("r") === 1).select(col("vec_id"), col("v"), col("cell")))
        .select(col("vec_id"), col("rv"), col("cell"))
      val q = assigned.filter(col("vec_id") < 5 && col("r") <= nprobe)
        .select(col("vec_id").as("query_id"), col("v").as("qv"), col("cell"))
      val wTop = Window.partitionBy("query_id").orderBy(col("approx_dist"), col("vec_id"))
      q.join(cells, Seq("cell"))
        .filter(col("vec_id") =!= col("query_id"))
        .withColumn("approx_dist",
          graft.functions.SketchExprs.sqL2Dist(col("qv"), col("rv")))
        .withColumn("rk", row_number().over(wTop))
        .filter(col("rk") <= 10)
        .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rk"), col("approx_dist"))
        .orderBy("query_id", "rk")
    }),

    // Distributed K-MEANS corpus clustering (r13) — the curation primitive
    // behind SemDeDup's stage 1 (Abbas et al. 2023 cluster the corpus,
    // then near-dup WITHIN cells), cluster-balanced sampling, and IVF
    // centroid training (ss05/ss06 seed theirs from fixed vectors; this
    // is the trained form). Declared HASH-EXACT via FIXED-POINT Lloyd:
    // embeddings quantize ONCE to integer features f_i = floor(v_i·1e6)
    // + 1e6 (positive, so Spark's `div` and DuckDB's `//` agree — the
    // tx29 discipline), and every downstream value — squared-L2
    // distances, argmin assignment, integer-mean centroid updates — is
    // exact integer arithmetic. No float exists past the first
    // projection, so the iteration is bit-stable across engines, runs,
    // and partitionings (a float-mean k-means cannot promise any of
    // that: summation order changes the centroid, and decimal→double
    // casts round differently per engine). Two Lloyd rounds from
    // deterministic seeds (the k smallest vec_ids), ties to the lower
    // cell, empty cells keep their previous centroid. Shape at 100 TB:
    // per round ONE corpus scan computes the argmin map-side against
    // the k×64-long broadcast centroid row (array_min over a
    // struct(dist, cell) transform — no join, no corpus shuffle, no
    // per-vector window) plus one (cell, dim)-keyed aggregation whose
    // group count is k×dims (map-side partials reduce each task to 512
    // rows); centroid state stays broadcast-sized. The 1e-6 grid is the
    // SQ8 trade restated: curation-grade geometry at integer precision.
    "ss14_kmeans" -> ((s, dir) =>
      kmeansFixedPoint(emb(s, dir), k = 8, iters = 2).orderBy("vec_id")),

    // CLUSTER-BALANCED prototype sampling (r13) — the step after ss14 in
    // a curation pipeline (SemDeDup keeps per-cluster representatives;
    // cluster-balanced subsampling caps any one mode of the corpus): the
    // q vectors CLOSEST to their centroid per cluster, rank by (dist,
    // vec_id) — all-integer, so the sample is hash-exact by ss14's
    // license. The rank filter plans as WindowGroupLimit: each map task
    // keeps a q-row heap per cluster BEFORE the exchange, so the k-way
    // partitioned window never sees the corpus — the exchange carries
    // ≤ q rows per (task, cluster), which is what makes a k=8 partition
    // key safe at 100 TB (the tx09 shape, not the tx26 rank hazard).
    "ss15_cluster_sample" -> ((s, dir) => {
      val q = 16
      val w = Window.partitionBy("cluster").orderBy(col("dist"), col("vec_id"))
      kmeansFixedPoint(emb(s, dir), k = 8, iters = 2)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= q)
        .select("vec_id", "cluster", "dist", "rk")
        .orderBy("cluster", "rk")
    }),

    // FARTHEST-POINT k-center seeding (r13) — the initialization a
    // production clustering/IVF trainer runs instead of ss14's first-k
    // rule (Gonzalez 1985; kmeans++ is its randomized softening): seed 1
    // = smallest vec_id, then greedily the vector farthest (min squared
    // L2 to the chosen set, integer grid, ties to the lower vec_id) k-1
    // times. The reported separation at each pick is the classic k-center
    // 2-approximation certificate — seeds spread across the corpus's
    // modes instead of huddling in whatever slice the first k ids sample,
    // which is what makes the downstream Lloyd rounds converge in few
    // iterations. Shape at 100 TB: per pick ONE map-side corpus scan
    // against the broadcast seed row (array_min over the seed structs)
    // reduced by a global max whose partial aggregates leave one row per
    // task — no join, no corpus shuffle, no window; k-1 scans total. The
    // scan-per-pick is inherent to EXACT greedy k-center — the scalable
    // softening is k-means|| oversampling (Bahmani et al., VLDB 2012),
    // which trades picks for a constant number of passes but samples
    // probabilistically and so cannot be hash-exact; this is the
    // deterministic form, and at realistic k (≤ 256 for IVF coarse
    // quantizers trained on a SAMPLE, not the full corpus) the passes
    // stay bounded. All-integer end to end — hash-exact.
    "ss16_kcenter_seeds" -> ((s, dir) =>
      kcenterSeeds(emb(s, dir), k = 8).orderBy("seed_rank")),

    // k-means|| OVERSAMPLING seeding (r14) — the scalable softening
    // ss16's scaladoc names (Bahmani et al., VLDB 2012): a constant
    // number of passes (3), each independently sampling ~2k new
    // candidates with probability ∝ their min squared distance to the
    // candidates so far, then a weighted reduction of the tiny candidate
    // set to the final k. Sampling is DERANDOMIZED on ss14's integer
    // license (md5-nibble u, integer cross-multiplied acceptance test)
    // so the result is bit-deterministic — but conv()-based hex folding
    // has no DuckDB mirror, so the query is rows-only-det, pinned by a
    // JVM reference spec and the radius-vs-ss16 constant-factor spec.
    // Shape at 100 TB: 3 corpus scans + 1 weighting scan, each map-side
    // vs a broadcast candidate row — versus ss16's k-1 scans; this is
    // the form that survives k=256 coarse-quantizer training.
    "ss17_kmeanspar_seeds" -> ((s, dir) =>
      kmeansParSeeds(emb(s, dir), k = 8, rounds = 3, overs = 16)
        .orderBy("seed_rank")),

    // TRAINED-centroid IVF ANN (r14) — the real FAISS train→index→search
    // path closed over the family's own pieces: ss14's fixed-point Lloyd
    // (2 rounds from first-k seeds) trains the coarse quantizer, the
    // corpus is assigned cell-local by the SAME integer argmin the
    // trainer used, queries rank ALL k centroids by exact integer
    // distance and probe the nprobe=3 nearest cells, and the scan inside
    // the probed cells is exact integer squared-L2 top-10 (ties to the
    // lower vec_id). vs ss05 (label-mean centroids): the index needs no
    // labels and the cells track the corpus's actual modes. Everything
    // rides ss14's integer license end-to-end, so unlike float-cosine
    // IVF the whole composition is hash-exact — oracle = ss14's CTE
    // chain + probe rank + in-cell rank. Shape at 100 TB: training is
    // ss14's (one map-side scan + one k×dims agg per round), assignment
    // one map-side scan, the probe join is a BROADCAST of the
    // (queries × nprobe) rows against the cell-assigned corpus — the
    // corpus never shuffles; per-query scan cost is nprobe/k of the
    // corpus, cut further by SQ8 exactly as ss13 does to ss05.
    "ss18_ivf_trained_ann" -> ((s, dir) => ivfTrainedAnn(emb(s, dir))),

    // K-NN GRAPH construction (ss21, r14) — the batch product graph-based
    // curation consumes (SemDeDup neighbor lists, NN-Descent seeding,
    // duplicate clustering over edges): for EVERY corpus vector, its
    // kG=4 nearest same-cell neighbors by exact integer distance (ties
    // to the lower id), under ss14's trained cells as the blocking
    // structure. Unlike ss18's 5 external queries the corpus queries
    // ITSELF: the pair join is a cell-local equi-join with no broadcast
    // side, per-cell cost (n/k)² — bounded by scaling k with the corpus,
    // the qp05/SemDeDup argument (swap to ss08's LSH tables if cells
    // must stay small). Measured at 100k vectors (SOAK_r16.md): ~472 s
    // at fixed k=8 vs ~2 s at 2k — the quadratic is the family's scale
    // hazard and the k-scaling rule is mandatory; a ~4.5×-pair hot cell
    // left the wall FLAT (AQE skew-split + compute-proportional total).
    // DISPOSITION (r17): dd03-style demo beside its scale twin — ss23
    // is the declared linear-end-to-end path (projection-rank seed +
    // iterated NN-Descent, no cell pair join anywhere); ss21 stays as
    // the oracle-checkable exposition, correct at any scale where k∝n.
    // The per-vector rank plans as WindowGroupLimit —
    // each map task keeps a kG-row heap per vector BEFORE the exchange
    // (ss15's analysis), so the edge set, not the pair set, is what
    // shuffles. Vectors alone in their cell emit no edges (absent by
    // semantics). All-integer — hash-exact.
    "ss21_knn_graph" -> ((s, dir) => knnGraphEdges(emb(s, dir)).orderBy("vec_id", "rk")),

    // NN-DESCENT refinement (ss22, r16 — Dong et al., WWW 2011): one
    // deterministic round of the graph-improvement loop production runs
    // on top of ss21's blocked seed, motivated directly by SOAK_r16's
    // measurement — the cell-local graph is quadratic per cell AND blind
    // to true neighbors across cell boundaries; NN-Descent's local join
    // fixes the blindness at LINEAR cost (≤ (4kG)² candidates per
    // vertex, reverse edges capped at 2kG = the paper's ρ-sampling
    // derandomized; the cross-cell bridge comes from a fixed-width
    // id-bucket seed graph, the derandomized random-seed stand-in).
    // Monotone by construction (seed ⊆ candidates), all-integer,
    // hash-exact — the oracle unrolls seed graphs, the capped reverse,
    // the local join, and the exact re-rank as CTEs. See
    // [[nnDescentEdges]] for the full shape argument. DISPOSITION
    // (r17): the round is linear but the plan REBUILDS ss21's quadratic
    // seed — demo beside the scale twin ss23, which iterates the same
    // round machinery over a linear seed end to end.
    "ss22_nn_descent" -> ((s, dir) => nnDescentEdges(emb(s, dir)).orderBy("vec_id", "rk")),

    // ITERATED NN-DESCENT (ss23, r17 — Dong et al., WWW 2011, the
    // paper's actual loop): the kNN-graph family's linear-END-TO-END
    // declared path. ss21/ss22 remain the oracle-checkable exposition of
    // the cell-local seed + one refinement round, but SOAK_r16 measured
    // that seed at 472 s / 100k vectors ((n/k)² at fixed k) — at corpus
    // scale they are demos unless k scales with n (see their scaladocs);
    // THIS query is the shape you'd run at 100 TB: seed from four
    // projection-rank bucket graphs (distributed range sort + fixed
    // width-16 buckets — linear, connected, geometry-aware), then 2
    // deterministic NN-Descent rounds at working width 8, emitting each
    // vector's final top-4 — every stage O(n), no trained cells, no
    // quadratic pair join, no single-partition window anywhere in the
    // plan ([[nnDescentIterEdges]]; SOAK_r17.md prices the 100k wall
    // against the quadratic seed). Monotone per round, recall 0.94 vs
    // ss22's 0.41 on the fixture (SimilaritySpec), and the oracle
    // unrolls seed + both rounds as CTE blocks. All-integer —
    // hash-exact.
    "ss23_nn_descent_iter" ->
      ((s, dir) => nnDescentIterEdges(emb(s, dir)).orderBy("vec_id", "rk")),

    // PRODUCTION-PROFILE iterated NN-Descent (ss24, r19 — r18 verdict
    // #3): ss23's exact machinery at the parameters SOAK_r18 measured to
    // hold recall at 100k vectors — working width 16, seed buckets 32,
    // ALL EIGHT orthogonal Walsh projection systems, 2 rounds — where
    // the fixture-scale (8/16/4/2) read 0.60 at 100k vs 0.94 at 2k.
    // SOAK_r18's 100k row for this profile: recall 0.9100, every stage
    // still O(n) (seed n·32·8 distance evals on ONE fused range
    // exchange via the sys discriminator; each round ≤ (4·16)²
    // candidates/vertex under the 2·16 reverse cap). Declaring it makes
    // the scale profile an ORACLE-CHECKED property, not a soak footnote:
    // the oracle unrolls the eight projection seeds + both rounds at
    // k=16 via the same parameterized CTE builder ss23 uses. ss23 stays
    // declared beside it as the fixture profile (2k vectors saturate at
    // width 8; its oracle is 4× lighter). All-integer — hash-exact.
    "ss24_nn_descent_scale" ->
      ((s, dir) => nnDescentIterEdges(emb(s, dir), kWork = 16, kOut = 4,
        bucketW = 32, rounds = 2, systems = 8).orderBy("vec_id", "rk")),

    // IVF RANGE search (r14) — FAISS's range_search: everything within
    // ε², exactly; the index prunes cells via the triangle inequality
    // but the answer is the brute-force truth set (see [[ivfRangeSearch]]
    // — the oracle IS the all-pairs range join, so a pruning bug that
    // drops a cell breaks the hash). r = qp05's ε².
    "ss20_range_search" -> ((s, dir) => ivfRangeSearch(emb(s, dir))),

    // TRAINED IVF-PQ ANN (r14) — FAISS's IVFADC on the integer license;
    // see the [[ivfPqAnn]] scaladoc for the full train/encode/search
    // contract and the 100 TB shape. Hash-exact (unlike ss06's float PQ):
    // oracle = ss14's chain + the per-subspace residual Lloyd + ADC rank.
    "ss19_ivfpq_trained_ann" -> ((s, dir) => ivfPqAnn(emb(s, dir))),

    // EMBEDDING-CURATION manifest (qp05, r14) — the SemDeDup recipe
    // (Abbas et al. 2023) end to end as ONE declared query, the
    // embedding-side sibling of the qp01–qp04 document manifests:
    // ss14's fixed-point Lloyd trains k cluster centroids and assigns
    // every vector cell-local (the paper's k-means stage), then WITHIN
    // each trained cell every vector with a lower-id neighbor at integer
    // squared-L2 ≤ ε² is dropped (ss10's min-id-survivor rule under the
    // paper's cluster blocking — the pairwise scan never leaves a cell),
    // and the survivors are cluster-balance sampled to ss15's q=16
    // prototypes per cell by (dist-to-centroid, vec_id). Postcondition
    // (spec-pinned): no two sampled prototypes in one cell are within ε².
    // All-integer under ss14's license — hash-exact; oracle = ss14's CTE
    // chain + the in-cell pair prune + the per-cluster rank. Shape at
    // 100 TB: training + assignment are ss14's map-side scans; the prune
    // is an equi-join on cell whose per-cell cost is (n/k)² — bounded by
    // scaling k with the corpus exactly as the paper does (their k grows
    // to keep |cell| ~ constant; the blocking swaps to ss08's LSH tables
    // if cells must stay small, the ss10→ss11 move) — and the sample
    // rank plans as WindowGroupLimit (map-side q-row heaps, ss15's
    // analysis). ε² = 1.3e12 on the 1e-6 grid ≈ cos 0.35 on this
    // corpus's unit vectors — SemDeDup's ε is a corpus-tuned knob (the
    // paper prunes up to 50% of LAION); here it prunes the closest ~1%
    // of in-cell pairs so every stage is exercised non-vacuously.
    "qp05_curation_manifest" -> ((s, dir) => {
      val q = 16
      val epsSq = 1300000000000L
      val feats = intFeatures(emb(s, dir))
      val cents = fixedPointCentroids(feats, k = 8, iters = 2)
      // consumed three times (both prune sides + the survivor anti-join
      // left); uncached each consumer would re-run the Lloyd lineage
      val assigned = graft.Caches.track(assignToCells(feats, cents))
      val slim = assigned.select(col("cell"), col("vec_id"), col("f"))
      val a = slim.select(col("cell"), col("vec_id").as("id_a"), col("f").as("f_a"))
      val b = slim.select(col("cell"), col("vec_id").as("id_b"), col("f").as("f_b"))
      val dropped = a.join(b, Seq("cell"))
        .filter(col("id_a") < col("id_b"))
        .filter(expr(
          "long_sqdist(f_a, f_b)") <= epsSq)
        .select(col("id_b").as("vec_id")).distinct()
      val w = Window.partitionBy("cell").orderBy(col("dist"), col("vec_id"))
      assigned.join(dropped, Seq("vec_id"), "left_anti")
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= q)
        .select(col("vec_id"), col("cell").as("cluster"), col("dist"), col("rk"))
        .orderBy("cluster", "rk")
    }),

    // GRAPH-BASED semantic-dedup manifest (qp08, r17) — qp05's SemDeDup
    // recipe with its quadratic stage swapped for the family's linear
    // scale path: instead of the in-cell all-pairs ε-scan (per-cell cost
    // (n/k)², the SOAK_r16-measured hazard), the near-dup pair source is
    // ss23's iterated-NN-Descent top-4 graph — every stage O(n). A
    // vector is DROPPED iff one of its graph neighbors with a LOWER id
    // sits within ε² (ss10's min-id-survivor rule over edges), and the
    // manifest emits one verdict row per vector with its rank-1 neighbor
    // as evidence: (vec_id, nn_id, nn_dist, keep|drop). The verdict frame
    // is driven by the corpus id set (r17 advice, see
    // [[graphDedupManifest]]), so "one row per vector" holds even for a
    // vector the graph left edge-less — it keeps, with null evidence. The
    // graph
    // under-reports far pairs, so vs the exact scan this is the
    // APPROXIMATE production recipe — the spec measures drop recall
    // against the brute-force ε-pair truth set on the fixture; as a
    // declared query it is hash-exact because the oracle mirrors the
    // same graph chain. ε² = qp05's 1.3e12. Shape at 100 TB: ss23's
    // linear chain + an n·4-edge filter + one broadcast-sized anti-join
    // key set — nothing quadratic anywhere, the manifest you'd actually
    // run over a 100 TB embedding corpus.
    // The graph is a PERSISTED ARTIFACT of the corpus snapshot
    // ([[knnGraphArtifactPath]] — the dd11/ddWin fixture lifecycle):
    // production amortizes the NN-Descent build across every consumer,
    // and this query pays what a real manifest run pays — the edge-set
    // probe, not the build. Byte-identical to the recompute form; the
    // oracle deliberately re-derives the full chain.
    "qp08_graph_dedup_manifest" -> ((s, dir) =>
      graphDedupManifest(Tables.parquet(s, knnGraphArtifactPath(s, dir)), emb(s, dir))),

    // Product-quantization ANN (PQ + asymmetric distance): 64 dims → 8
    // subspaces × 16 centroids, trained with two deterministic Lloyd
    // iterations seeded from the first K vectors. Each corpus vector is then
    // 8 one-byte codes — a 32x memory cut, which is the lever that lets the
    // candidate scan live in RAM at 100 TB. Queries never decode: a tiny
    // (query × subspace × centroid) distance table is broadcast and approx
    // distance is a sum of 8 lookups. Rows-only check; ScalaTest asserts
    // recall vs exact ss01 (PQ approximates geometry, unlike cell pruning,
    // so recall holds even on isotropic data).
    "ss06_pq_ann" -> ((s, dir) => pqAnn(s, dir)),

    // Scalar quantization (SQ8) ANN — the OTHER standard vector
    // compression, sitting between brute force and PQ: each dimension is
    // independently mapped to one byte on a per-dim [min, max] grid (4x
    // memory cut vs float32, no codebook training at all), and queries
    // score the DEQUANTIZED corpus asymmetrically — raw query floats vs
    // reconstructed bin midpoints, the standard serving mode (FAISS
    // ScalarQuantizer). The per-dim stats are one distributed agg
    // collapsed to a single broadcast row; encode+decode is an index-order
    // transform (no shuffle), and the distance kernel is the codegen'd
    // sq_l2_dist left fold, which DuckDB's index-ordered list_sum mirrors
    // bit-for-bit — so unlike PQ (whose trained codebook is engine-local,
    // rows-only) SQ8 is fully hash-exact against the oracle. At 100 TB
    // the compressed scan composes with IVF cell pruning exactly like PQ.
    "ss12_sq8_ann" -> ((s, dir) => {
      val e = emb(s, dir)
      val recon = sq8Dequantized(s, dir, e).select(col("vec_id"), col("rv"))
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("v").as("qv"))
      val w = Window.partitionBy("query_id").orderBy(col("approx_dist"), col("vec_id"))
      broadcast(q).join(recon, col("vec_id") =!= col("query_id"))
        .withColumn("approx_dist",
          graft.functions.SketchExprs.sqL2Dist(col("qv"), col("rv")))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 10)
        .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rk"), col("approx_dist"))
        .orderBy("query_id", "rk")
    }),

    // Two-stage retrieve + re-rank: PQ/ADC proposes 50 candidates from the
    // compressed index, exact cosine re-ranks only those 50 — the
    // production ANN shape: full-precision vectors are touched for 50/N of
    // the corpus per query, yet the final ordering is exact over whatever
    // the candidate stage surfaced. Rows-only + recall test (>= ss06).
    "ss07_pq_rerank" -> ((s, dir) => {
      val cands = pqTopK(s, dir, 50).select(col("query_id"), col("neighbor_id"))
      val e = emb(s, dir).withColumn("nrm", l2norm("v"))
      // Filter the query side EXPLICITLY before broadcast: the restriction
      // to query ids < 5 otherwise lives only inside cands, and nothing
      // guarantees constraint inference pushes it through that aggregate —
      // without it the whole corpus lands in the broadcast hash relation.
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qnrm"))
      val c = e.select(col("vec_id").as("neighbor_id"), col("v"), col("nrm"))
      val wTop = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
      cands.join(broadcast(q), Seq("query_id"))
        .join(c, Seq("neighbor_id"))
        .withColumn("cos", dot("qv", "v") / (col("qnrm") * col("nrm")))
        .withColumn("rk", row_number().over(wTop))
        .filter(col("rk") <= 10)
        .select(col("query_id"), col("neighbor_id"), col("rk"), col("cos"))
        .orderBy("query_id", "rk")
    }))

  /** Shared ss02/ss09 shape: exact-cosine top-10 over LSH-bucketed
    * candidates. Single probe restricts each query to its home bucket;
    * multi-probe fans the QUERY out to every Hamming-distance-1 bucket as
    * well (sign flips of single hyperplanes are where near neighbors
    * fall) — recall from query-side probing, the corpus is never
    * re-indexed or duplicated the way multi-table LSH requires. */
  private def lshTopK(s: SparkSession, dir: String, multiProbe: Boolean): DataFrame = {
    val planes = 6
    val e = emb(s, dir)
      .withColumn("nrm", l2norm("v"))
      .withColumn("bucket", lshBucket("v", planes, 64))
    val probes =
      if (multiProbe) (0 until planes).map(b =>
        col("bucket").bitwiseXOR(lit(1 << b))) :+ col("bucket")
      else Seq(col("bucket"))
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qnrm"), explode(array(probes: _*)).as("bucket"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id"))
    q.join(e, Seq("bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", dot("qv", "v") / (col("qnrm") * col("nrm")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 10)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rk"), col("cos"))
      .orderBy("query_id", "rk")
  }

  /** ss08's candidate stage: vector pairs colliding in ANY of `tables`
    * independent `planes`-plane LSH tables (equi-join on (table, bucket) —
    * never a cartesian). `bucketCap` drops (table, bucket) groups larger
    * than the cap BEFORE the pair join (the dd04/dd06 hot-key guard):
    * real embeddings cluster, so bucket occupancy is skewed — near
    * neighbors collide, which is the point, but one dense cluster must not
    * own a k² slice of the join. Exposed so the spec can measure the
    * candidate-set contraction directly. */
  def lshBlockedPairs(s: SparkSession, dir: String,
      tables: Int = 2, planes: Int = 8,
      bucketCap: Long = Long.MaxValue): DataFrame = {
    val e = emb(s, dir).withColumn("nrm", l2norm("v"))
    val bandStructs = (0 until tables).map { t =>
      struct(lit(t).as("tbl"), lshBucket("v", planes, 64, t * planes).as("bucket"))
    }
    val banded = Layout.capHotKeys(
      e.select(col("vec_id"), col("v"), col("nrm"), explode(array(bandStructs: _*)).as("bb"))
        .select(col("vec_id"), col("v"), col("nrm"), col("bb.tbl"), col("bb.bucket")),
      Seq("tbl", "bucket"), bucketCap, tag = "lsh.buckets")
    val a = banded.select(col("tbl"), col("bucket"), col("vec_id").as("id_a"),
      col("v").as("v_a"), col("nrm").as("n_a"))
    val b = banded.select(col("tbl"), col("bucket"), col("vec_id").as("id_b"),
      col("v").as("v_b"), col("nrm").as("n_b"))
    a.join(b, Seq("tbl", "bucket"))
      .filter(col("id_a") < col("id_b"))
  }

  /** Multi-table LSH banded index of an embedding frame — the static
    * build side st07's streaming ingest probes: one row per (table,
    * bucket) per vector, with the vector and its norm carried so the
    * prober can verify exact cosine without a second lookup. At 100 TB
    * this is the persisted, bucketed form of ss08's blocker (the dd07/
    * dd08 banded-index note applies: build once, probe per batch). */
  def bandedIndex(e: DataFrame, tables: Int, planes: Int): DataFrame = {
    val bandStructs = (0 until tables).map { t =>
      struct(lit(t).as("tbl"), lshBucket("v", planes, 64, t * planes).as("bucket"))
    }
    e.withColumn("nrm", l2norm("v"))
      .select(col("vec_id").as("ex_id"), col("v").as("ev"), col("nrm").as("en"),
        explode(array(bandStructs: _*)).as("bb"))
      .select(col("bb.tbl").as("tbl"), col("bb.bucket").as("bucket"),
        col("ex_id"), col("ev"), col("en"))
  }

  /** Distinct candidate pairs the ss08 blocker generates — the number the
    * cosine verifier actually pays for (vs n(n-1)/2 all-pairs). */
  def lshCandidatePairCount(s: SparkSession, dir: String,
      tables: Int = 2, planes: Int = 8): Long =
    lshBlockedPairs(s, dir, tables, planes).select("id_a", "id_b").distinct().count()

  private val M = 8 // subspaces
  private val Ds = 8 // dims per subspace
  private val K = 16 // centroids per subspace

  /** Squared L2 via dot products: ||a-b||^2 = a.a - 2 a.b + b.b. */
  private def sqDist(a: String, b: String): Column =
    graft.functions.SketchExprs.dotProduct(col(a), col(a)) -
      lit(2.0) * graft.functions.SketchExprs.dotProduct(col(a), col(b)) +
      graft.functions.SketchExprs.dotProduct(col(b), col(b))

  /** Codebook training sample size. Lloyd iterations over ALL sub-vectors
    * would re-scan the corpus per iteration — at 100 TB the codebook (128
    * tiny centroids) carries nowhere near that much information, so train
    * on a deterministic prefix sample and encode everything with the result
    * (the standard PQ practice). 2048 vectors × 8 sub-vectors is ~100
    * points per centroid — plenty; recall is asserted in SimilaritySpec. */
  private val TrainN = 2048

  private def pqAnn(s: SparkSession, dir: String): DataFrame = pqTopK(s, dir, 10)

  /** One row per (vec_id, m): the m-th Ds-dim sub-vector of each embedding. */
  private def subVectors(s: SparkSession, dir: String): DataFrame = {
    val subExprs = (0 until M).map(m =>
      struct(lit(m).as("m"), expr(s"slice(v, ${m * Ds + 1}, $Ds)").as("sv")))
    emb(s, dir).select(col("vec_id"), explode(array(subExprs: _*)).as("x"))
      .select(col("vec_id"), col("x.m").as("m"), col("x.sv").as("sv"))
  }

  /** Trained PQ codebooks per corpus dir, memoized per process: M×K = 128
    * centroids of Ds = 8 doubles — broadcast-sized state whose training
    * (two multi-job Lloyd iterations) ss06 and ss07 would otherwise each
    * repeat per invocation, the two slowest entries in the r5 bench.
    * Production trains a codebook once and serves with it; the memo is that
    * lifecycle in-process.
    *
    * STALENESS ASSUMPTION: same contract as [[embCounts]] — keyed by dir,
    * never refreshed; correct for immutable snapshot dirs (the batch norm).
    * A corpus APPENDED to under a live session keeps encoding with the old
    * codebook — still a valid codebook (recall drifts only as the data
    * distribution does; PQ serving works this way in production), never a
    * wrong result. Call [[refreshCodebooks]] after appending, alongside
    * [[refreshCorpusCounts]] in between-jobs housekeeping. */
  private val pqCodebooks =
    new java.util.concurrent.ConcurrentHashMap[String, Array[(Int, Int, Array[Double])]]()

  /** Drop memoized PQ codebooks so the next PQ plan retrains (see the
    * staleness note on `pqCodebooks`). */
  def refreshCodebooks(): Unit = pqCodebooks.clear()

  /** ss05's coarse IVF centroids per corpus dir, memoized per process: one
    * tiny row per label (~10 cells × 64 doubles) — the IVF INDEX state. An
    * IVF deployment builds its coarse quantizer once and serves with it;
    * recomputing the full-corpus centroid aggregation on every query
    * invocation was paying a corpus scan for already-known broadcast state.
    * Same staleness contract as [[embCounts]]/[[pqCodebooks]]; refresh via
    * [[refreshIvfCentroids]]. Centroid components go through the
    * Decimal(28,6) sum (not avg): bitwise-reproducible regardless of
    * partial-agg order, which is what keeps ss05 DuckDB-oracle-checkable —
    * and makes the memoized values identical to a fresh recompute. */
  private val ivfCentroids =
    new java.util.concurrent.ConcurrentHashMap[String, Array[(Int, Array[Double])]]()

  /** Drop memoized IVF centroids so the next plan re-derives them (see the
    * staleness note on `ivfCentroids`). */
  def refreshIvfCentroids(): Unit = ivfCentroids.clear()

  /** The memoized IVF cell centroids as a (tiny, local) DataFrame. The
    * collect() materializes broadcast-sized index state, like
    * [[trainCodebook]]'s. */
  /** SQ8 dequantization: per-dim [min, max] grid over the corpus at `dir`
    * (one distributed agg collapsed to a single broadcast row), then each
    * input row's `v` column gains `rv` — the reconstructed bin-midpoint
    * vector a quantized index would serve. Encode (floor((x-mn)*255/
    * (mx-mn)), capped) and decode (mn + (code+0.5)*step) are one
    * index-order transform, exactly mirrorable in SQL (ss12/ss13's
    * oracles); a constant dimension degenerates to the exact value. */
  private def sq8Dequantized(s: SparkSession, dir: String, in: DataFrame): DataFrame = {
    val sa = emb(s, dir).select(posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy("dim").agg(min("x").as("mn"), max("x").as("mx"))
      .agg(
        expr("transform(array_sort(collect_list(struct(dim, mn))), s -> s.mn)").as("mns"),
        expr("transform(array_sort(collect_list(struct(dim, mx))), s -> s.mx)").as("mxs"))
    in.crossJoin(broadcast(sa))
      .withColumn("rv", expr(
        """transform(sequence(0, size(v) - 1), i ->
          |  CASE WHEN element_at(mxs, i + 1) = element_at(mns, i + 1)
          |       THEN element_at(mns, i + 1)
          |       ELSE element_at(mns, i + 1) +
          |         (CAST(least(255, CAST(floor((element_at(v, i + 1) - element_at(mns, i + 1))
          |            * 255.0D / (element_at(mxs, i + 1) - element_at(mns, i + 1))) AS INT))
          |            AS DOUBLE) + 0.5D)
          |         * (element_at(mxs, i + 1) - element_at(mns, i + 1)) / 255.0D
          |  END)""".stripMargin))
      .drop("mns", "mxs")
  }

  private def ivfCells(s: SparkSession, dir: String): DataFrame = {
    val rows = ivfCentroids.computeIfAbsent(dir, _ =>
      table(s, dir, "embeddings")
        .select(col("label"),
          posexplode(expr("transform(embedding, x -> CAST(x AS DOUBLE))")).as(Seq("dim", "x")))
        .groupBy("label", "dim")
        .agg((sum(col("x").cast(org.apache.spark.sql.types.DecimalType(28, 6)))
          .cast("double") / count(lit(1))).as("c"))
        .groupBy("label")
        .agg(array_sort(collect_list(struct(col("dim"), col("c")))).as("entries"))
        .select(col("label"), expr("transform(entries, e -> e.c)").as("cv"))
        .collect().map(r => (r.getInt(0), r.getSeq[Double](1).toArray)))
    import s.implicits._
    rows.toSeq.toDF("cell", "cv")
  }

  /** Two deterministic Lloyd iterations over a prefix sample, materialized
    * to the driver. The collect() is 128 rows × 8 doubles — the codebook is
    * driver/broadcast state by nature (every later stage broadcasts it);
    * materializing it is what makes it reusable across invocations. */
  private def trainCodebook(s: SparkSession, dir: String): Array[(Int, Int, Array[Double])] = {
    val sub = subVectors(s, dir)
    val train = sub.filter(col("vec_id") < TrainN)
    // codebook seeds: sub-vectors of the first K corpus vectors
    var codebook = sub.filter(col("vec_id") < K)
      .select(col("m"), col("vec_id").cast("int").as("code"), col("sv").as("center"))
    val wAssign = Window.partitionBy("vec_id", "m").orderBy(col("d"), col("code"))
    for (_ <- 1 to 2) {
      val assigned = train.join(broadcast(codebook), Seq("m"))
        .withColumn("d", sqDist("sv", "center"))
        .withColumn("r", row_number().over(wAssign))
        .filter(col("r") === 1)
        .select(col("vec_id"), col("m"), col("code"), col("sv"))
      codebook = assigned
        .select(col("m"), col("code"), posexplode(col("sv")).as(Seq("dim", "x")))
        .groupBy("m", "code", "dim").agg(avg("x").as("c"))
        .groupBy("m", "code")
        .agg(array_sort(collect_list(struct(col("dim"), col("c")))).as("entries"))
        .select(col("m"), col("code"), expr("transform(entries, e -> e.c)").as("center"))
    }
    codebook.select("m", "code", "center").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
  }

  /** The memoized codebook as a (tiny, local) DataFrame. */
  private def trainedCodebook(s: SparkSession, dir: String): DataFrame = {
    val rows = pqCodebooks.computeIfAbsent(dir, _ => trainCodebook(s, dir))
    import s.implicits._
    rows.toSeq.toDF("m", "code", "center")
  }

  private def pqTopK(s: SparkSession, dir: String, topK: Int): DataFrame = {
    val sub = subVectors(s, dir)
    val wAssign = Window.partitionBy("vec_id", "m").orderBy(col("d"), col("code"))
    val cb = broadcast(trainedCodebook(s, dir))
    // encode the corpus: 8 one-byte codes per vector
    val codes = sub.join(cb, Seq("m"))
      .withColumn("d", sqDist("sv", "center"))
      .withColumn("r", row_number().over(wAssign))
      .filter(col("r") === 1)
      .select(col("vec_id"), col("m"), col("code"))
    // per-query ADC table: distance from each query sub-vector to each center
    val dtable = sub.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("m"), col("sv"))
      .join(cb, Seq("m"))
      .select(col("query_id"), col("m"), col("code"), sqDist("sv", "center").as("qd"))
    // approx distance = sum of table lookups over the 8 codes
    val wTop = Window.partitionBy("query_id").orderBy(col("approx_dist"), col("vec_id"))
    codes.join(broadcast(dtable), Seq("m", "code"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy("query_id", "vec_id")
      .agg(sum("qd").as("approx_dist"))
      .withColumn("rk", row_number().over(wTop))
      .filter(col("rk") <= topK)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rk"), col("approx_dist"))
      .orderBy("query_id", "rk")
  }

  // --- Per-label centroids: partial+final aggregate over exploded dims.
  // (The typed Aggregator form lives in functions/VectorAgg.scala and is
  // equivalence-tested in VectorAggSpec; this built-in form is the
  // oracle-checkable one.)
  private def centroidQuery: (SparkSession, String) => DataFrame = (s, dir) => {
    table(s, dir, "embeddings")
      .select(col("label"),
        posexplode(expr("transform(embedding, x -> CAST(x AS DOUBLE))")).as(Seq("dim", "x")))
      .groupBy("label", "dim")
      .agg((sum(col("x").cast(org.apache.spark.sql.types.DecimalType(28, 6)))
        .cast("double") / count(lit(1))).as("centroid"),
        count(lit(1)).as("n"))
      .orderBy("label", "dim")
  }

  // The shared k-means CTE chain (two Lloyd rounds unrolled over the
  // flattened integer features) through the final assignment `fin` —
  // ss14 selects it directly, ss15 wraps it in the per-cluster rank.
  // Multiply-referenced CTEs (f ×6, c0/c1 ×2) are AS MATERIALIZED:
  // DuckDB inlines plain CTEs, re-executing the subtree once per
  // reference — harmless here, but the same disease un-ran the ss16
  // oracle in r13, so every reused CTE in a chain oracle is now
  // materialized by policy (enforced by OracleDisciplineSpec).
  /** The k-means chain parameterized over a corpus predicate (appended to
    * the embeddings scan), so st13's serving oracle can train on the even
    * half only; `kmeansOracleCtes` below is the full-corpus instance. */
  private[graft] def kmeansOracleChain(pred: String): String =
    s"""WITH f AS MATERIALIZED (
        |  SELECT vec_id, i AS dim,
        |    CAST(floor(CAST(embedding[i + 1] AS DOUBLE) * 1000000) AS BIGINT)
        |      + 1000000 AS fv
        |  FROM (SELECT vec_id, embedding, unnest(range(0, len(embedding))) AS i
        |        FROM embeddings$pred)),
        |seed AS (
        |  SELECT vec_id, CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cell
        |  FROM (SELECT DISTINCT vec_id FROM f ORDER BY vec_id LIMIT 8)),
        |c0 AS MATERIALIZED (SELECT seed.cell, f.dim, f.fv AS cv FROM seed JOIN f USING (vec_id)),
        |d1 AS (
        |  SELECT f.vec_id, c.cell, SUM((f.fv - c.cv) * (f.fv - c.cv)) AS dist
        |  FROM f JOIN c0 c USING (dim) GROUP BY 1, 2),
        |a1 AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT vec_id, cell,
        |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
        |    FROM d1) WHERE rn = 1),
        |u1 AS (
        |  SELECT a1.cell, f.dim, SUM(f.fv) // COUNT(*) AS cv
        |  FROM a1 JOIN f USING (vec_id) GROUP BY 1, 2),
        |c1 AS MATERIALIZED (
        |  SELECT c.cell, c.dim, CAST(COALESCE(u1.cv, c.cv) AS BIGINT) AS cv
        |  FROM c0 c LEFT JOIN u1 ON u1.cell = c.cell AND u1.dim = c.dim),
        |d2 AS (
        |  SELECT f.vec_id, c.cell, SUM((f.fv - c.cv) * (f.fv - c.cv)) AS dist
        |  FROM f JOIN c1 c USING (dim) GROUP BY 1, 2),
        |a2 AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT vec_id, cell,
        |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
        |    FROM d2) WHERE rn = 1),
        |u2 AS (
        |  SELECT a2.cell, f.dim, SUM(f.fv) // COUNT(*) AS cv
        |  FROM a2 JOIN f USING (vec_id) GROUP BY 1, 2),
        |c2 AS (
        |  SELECT c.cell, c.dim, CAST(COALESCE(u2.cv, c.cv) AS BIGINT) AS cv
        |  FROM c1 c LEFT JOIN u2 ON u2.cell = c.cell AND u2.dim = c.dim),
        |d3 AS (
        |  SELECT f.vec_id, c.cell, SUM((f.fv - c.cv) * (f.fv - c.cv)) AS dist
        |  FROM f JOIN c2 c USING (dim) GROUP BY 1, 2),
        |fin AS (
        |  SELECT vec_id, CAST(cell AS INT) AS cluster, CAST(dist AS BIGINT) AS dist
        |  FROM (
        |    SELECT vec_id, cell, dist,
        |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
        |    FROM d3) WHERE rn = 1)""".stripMargin

  private val kmeansOracleCtes = kmeansOracleChain("")

  /** One NN-Descent round as oracle CTEs (the ss22 oracle's rev/und/
    * cand/cd block, indexed and parameterized by working width `k`):
    * input graph CTE `gin` → distance CTE `cd{i}` plus, when `emitG`,
    * the ranked next-round graph `g{i}`. Window columns are qualified
    * against the source alias `sd` — the swapped output names collide
    * with the source names, and relying on DuckDB's binding order there
    * was an r16 advice hazard. */
  private def nnDescentOracleRound(
      i: Int, gin: String, k: Int, emitG: Boolean = true): String =
    s""",
        |rev$i AS (
        |  SELECT vec_id, neighbor_id FROM (
        |    SELECT sd.neighbor_id AS vec_id, sd.vec_id AS neighbor_id,
        |      ROW_NUMBER() OVER (PARTITION BY sd.neighbor_id ORDER BY sd.vec_id) AS rn
        |    FROM $gin sd) WHERE rn <= ${2 * k}),
        |und$i AS (SELECT vec_id, neighbor_id FROM $gin
        |          UNION SELECT vec_id, neighbor_id FROM rev$i),
        |cand$i AS (
        |  SELECT a.neighbor_id AS vec_id, b.neighbor_id AS neighbor_id
        |  FROM und$i a JOIN und$i b ON b.vec_id = a.vec_id
        |    AND a.neighbor_id <> b.neighbor_id
        |  UNION SELECT vec_id, neighbor_id FROM und$i),
        |cd$i AS (
        |  SELECT c.vec_id, c.neighbor_id,
        |    SUM((fa.fv - fb.fv) * (fa.fv - fb.fv)) AS dist
        |  FROM cand$i c
        |  JOIN f fa ON fa.vec_id = c.vec_id
        |  JOIN f fb ON fb.vec_id = c.neighbor_id AND fb.dim = fa.dim
        |  GROUP BY 1, 2)""".stripMargin +
      (if (!emitG) ""
       else s""",
        |g$i AS (
        |  SELECT vec_id, neighbor_id FROM (
        |    SELECT vec_id, neighbor_id,
        |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, neighbor_id) AS rk
        |    FROM cd$i) WHERE rk <= $k)""".stripMargin)

  /** One ss23/ss24 seed system as oracle CTEs: rank the corpus by
    * projection `pcol` (a `prj` column), cut into width-`bucketW`
    * buckets, kNN to `k` within the bucket — [[exactRank]] +
    * [[bucketSeed]] mirrored. */
  private def projSeedOracle(j: Int, pcol: String, k: Int,
      bucketW: Int = 16): String =
    s""",
        |bk$j AS (
        |  SELECT vec_id, (ROW_NUMBER() OVER (ORDER BY $pcol, vec_id) - 1) // $bucketW AS bk
        |  FROM prj),
        |sp$j AS (
        |  SELECT vec_id, neighbor_id FROM (
        |    SELECT pr.vec_id, pr.neighbor_id,
        |      ROW_NUMBER() OVER (PARTITION BY pr.vec_id ORDER BY pr.dist, pr.neighbor_id) AS rk
        |    FROM (
        |      SELECT a.vec_id, b.vec_id AS neighbor_id,
        |        SUM((fa.fv - fb.fv) * (fa.fv - fb.fv)) AS dist
        |      FROM bk$j a JOIN bk$j b ON b.bk = a.bk AND a.vec_id <> b.vec_id
        |      JOIN f fa ON fa.vec_id = a.vec_id
        |      JOIN f fb ON fb.vec_id = b.vec_id AND fb.dim = fa.dim
        |      GROUP BY 1, 2) pr) WHERE rk <= $k)""".stripMargin

  /** The eight Walsh sign patterns as DuckDB SUM expressions over the
    * flattened (vec_id, dim, fv) features — [[projPatterns]] (masks
    * 0/1/32/16) then [[projPatternsExt]] (masks 8/4/2/48), index-aligned
    * with the Spark side so `systems = n` means THE SAME first n
    * projections in both engines. */
  private val projSqlExprs: Seq[String] = Seq(
    "fv",
    "CASE WHEN dim % 2 = 0 THEN fv ELSE -fv END",
    "CASE WHEN dim < 32 THEN fv ELSE -fv END",
    "CASE WHEN (dim // 16) % 2 = 0 THEN fv ELSE -fv END",
    "CASE WHEN (dim // 8) % 2 = 0 THEN fv ELSE -fv END",
    "CASE WHEN (dim // 4) % 2 = 0 THEN fv ELSE -fv END",
    "CASE WHEN (dim // 2) % 2 = 0 THEN fv ELSE -fv END",
    "CASE WHEN ((dim // 16) + (dim // 32)) % 2 = 0 THEN fv ELSE -fv END")

  /** [[nnDescentIterEdges]]'s oracle chain at arbitrary parameters —
    * integer features, the first `systems` ±1 sign projections (prj),
    * each ranked / width-`bucketW`-bucketed / kNN'd to the working width
    * `k` ([[projSeedOracle]]), their union as the seed g0, then
    * [[nnDescentOracleRound]] unrolls each NN-Descent round at `k`,
    * ending at the final candidate set `cd$rounds`. The consumer ranks
    * that set to its emitted kOut (and qp08 additionally applies the
    * min-id ε-prune). */
  private def nnDescentIterCtesAt(
      k: Int, bucketW: Int, systems: Int, rounds: Int): String =
    s"""WITH f AS (
        |  SELECT vec_id, i AS dim,
        |    CAST(floor(CAST(embedding[i + 1] AS DOUBLE) * 1000000) AS BIGINT)
        |      + 1000000 AS fv
        |  FROM (SELECT vec_id, embedding, unnest(range(0, len(embedding))) AS i
        |        FROM embeddings)),
        |prj AS (
        |  SELECT vec_id,
        |    ${(0 until systems).map(j => s"SUM(${projSqlExprs(j)}) AS p$j")
             .mkString(",\n    ")}
        |  FROM f GROUP BY 1)""".stripMargin +
      (0 until systems).map(j => projSeedOracle(j, s"p$j", k, bucketW)).mkString +
      s""",
        |g0 AS (
        |  ${(0 until systems).map(j => s"SELECT vec_id, neighbor_id FROM sp$j")
             .mkString("\n  UNION ")})""".stripMargin +
      (1 to rounds).map(i =>
        nnDescentOracleRound(i, s"g${i - 1}", k, emitG = i < rounds)).mkString

  /** ss23's full oracle CTE chain — the declared fixture parameters
    * (working width 8, bucket width 16, 4 systems, 2 rounds); shared by
    * the ss23 oracle and qp08's manifest oracle. ss24 instantiates the
    * same builder at the production profile. */
  private lazy val nnDescentIterCtes: String = nnDescentIterCtesAt(8, 16, 4, 2)

  val oracle: Map[String, String] = Map(
    // Mirrors ss14 term-for-term with the two Lloyd rounds unrolled as
    // CTEs over the flattened (vec_id, dim, fv) integer features: seed
    // centroids = the 8 smallest vec_ids, assignment rank (dist, cell),
    // integer-mean update with empty cells keeping the prior centroid.
    // All-integer end to end — `//` here ≡ `div` there on the positive
    // shifted features; HUGEINT sums cast back to BIGINT.
    "ss14_kmeans" ->
      (kmeansOracleCtes + "\nSELECT vec_id, cluster, dist FROM fin ORDER BY vec_id"),
    // Mirrors ss18: ss14's trained-centroid chain, then per query
    // (vec_id < 5) rank ALL cells by the final-round distance d3 and
    // probe the 3 nearest, candidates = corpus rows fin assigned to a
    // probed cell, exact integer squared-L2 re-ranked to top-10. The
    // assembly pass MATERIALIZEs every multiply-referenced CTE.
    "ss18_ivf_trained_ann" ->
      (kmeansOracleCtes + """,
        |q AS (
        |  SELECT vec_id AS query_id, cell FROM (
        |    SELECT vec_id, cell,
        |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS pr
        |    FROM d3 WHERE vec_id < 5) WHERE pr <= 3),
        |cand AS (
        |  SELECT q.query_id, a.vec_id AS neighbor_id
        |  FROM q JOIN fin a ON a.cluster = q.cell
        |  WHERE a.vec_id <> q.query_id),
        |dd AS (
        |  SELECT c.query_id, c.neighbor_id,
        |    SUM((a.fv - b.fv) * (a.fv - b.fv)) AS dist
        |  FROM cand c
        |  JOIN f a ON a.vec_id = c.query_id
        |  JOIN f b ON b.vec_id = c.neighbor_id AND b.dim = a.dim
        |  GROUP BY 1, 2)
        |SELECT query_id, neighbor_id, CAST(rk AS INT) AS rk,
        |  CAST(dist AS BIGINT) AS dist
        |FROM (
        |  SELECT query_id, neighbor_id, dist,
        |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id) AS rk
        |  FROM dd)
        |WHERE rk <= 10
        |ORDER BY query_id, rk""".stripMargin),
    // Mirrors ss21: ss14's chain, the cell-local self-join over the
    // final assignment, exact integer pair distances, per-vector
    // (dist, neighbor) rank to 4 — the qp05 pair shape under a rank
    // instead of an ε-filter.
    "ss21_knn_graph" ->
      (kmeansOracleCtes + """,
        |pairs AS (
        |  SELECT a.vec_id, b.vec_id AS neighbor_id,
        |    SUM((fa.fv - fb.fv) * (fa.fv - fb.fv)) AS dist
        |  FROM fin a JOIN fin b ON a.cluster = b.cluster AND a.vec_id <> b.vec_id
        |  JOIN f fa ON fa.vec_id = a.vec_id
        |  JOIN f fb ON fb.vec_id = b.vec_id AND fb.dim = fa.dim
        |  GROUP BY 1, 2)
        |SELECT vec_id, neighbor_id, CAST(rk AS INT) AS rk,
        |  CAST(dist AS BIGINT) AS dist
        |FROM (
        |  SELECT vec_id, neighbor_id, dist,
        |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, neighbor_id) AS rk
        |  FROM pairs)
        |WHERE rk <= 4
        |ORDER BY vec_id, rk""".stripMargin),
    // Mirrors ss22 term-for-term on top of ss21's chain: the cell-local
    // seed (g0), the id-bucket seed (bg, vec_id // 16), their union, the
    // 2kG-capped reverse, the local join (ordered pairs of a shared
    // vertex's undirected neighbors), candidates ∪ seed, and the exact
    // integer re-rank to kG. Reused CTEs are MATERIALIZEd by the
    // assembly pass.
    "ss22_nn_descent" ->
      (kmeansOracleCtes + """,
        |cpairs AS (
        |  SELECT a.vec_id, b.vec_id AS neighbor_id,
        |    SUM((fa.fv - fb.fv) * (fa.fv - fb.fv)) AS dist
        |  FROM fin a JOIN fin b ON a.cluster = b.cluster AND a.vec_id <> b.vec_id
        |  JOIN f fa ON fa.vec_id = a.vec_id
        |  JOIN f fb ON fb.vec_id = b.vec_id AND fb.dim = fa.dim
        |  GROUP BY 1, 2),
        |g0 AS (
        |  SELECT vec_id, neighbor_id FROM (
        |    SELECT vec_id, neighbor_id,
        |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, neighbor_id) AS rk
        |    FROM cpairs) WHERE rk <= 4),
        |bpairs AS (
        |  SELECT a.vec_id, b.vec_id AS neighbor_id,
        |    SUM((a.fv - b.fv) * (a.fv - b.fv)) AS dist
        |  FROM f a JOIN f b ON b.dim = a.dim
        |    AND a.vec_id // 16 = b.vec_id // 16 AND a.vec_id <> b.vec_id
        |  GROUP BY 1, 2),
        |bg AS (
        |  SELECT vec_id, neighbor_id FROM (
        |    SELECT vec_id, neighbor_id,
        |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, neighbor_id) AS rk
        |    FROM bpairs) WHERE rk <= 4),
        |sd AS (SELECT vec_id, neighbor_id FROM g0
        |       UNION SELECT vec_id, neighbor_id FROM bg),
        |rev AS (
        |  SELECT vec_id, neighbor_id FROM (
        |    SELECT sd.neighbor_id AS vec_id, sd.vec_id AS neighbor_id,
        |      ROW_NUMBER() OVER (PARTITION BY sd.neighbor_id ORDER BY sd.vec_id) AS rn
        |    FROM sd) WHERE rn <= 8),
        |und AS (SELECT vec_id, neighbor_id FROM sd
        |        UNION SELECT vec_id, neighbor_id FROM rev),
        |cand AS (
        |  SELECT a.neighbor_id AS vec_id, b.neighbor_id AS neighbor_id
        |  FROM und a JOIN und b ON b.vec_id = a.vec_id
        |    AND a.neighbor_id <> b.neighbor_id
        |  UNION SELECT vec_id, neighbor_id FROM und),
        |cd AS (
        |  SELECT c.vec_id, c.neighbor_id,
        |    SUM((fa.fv - fb.fv) * (fa.fv - fb.fv)) AS dist
        |  FROM cand c
        |  JOIN f fa ON fa.vec_id = c.vec_id
        |  JOIN f fb ON fb.vec_id = c.neighbor_id AND fb.dim = fa.dim
        |  GROUP BY 1, 2)
        |SELECT vec_id, neighbor_id, CAST(rk AS INT) AS rk,
        |  CAST(dist AS BIGINT) AS dist
        |FROM (
        |  SELECT vec_id, neighbor_id, dist,
        |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, neighbor_id) AS rk
        |  FROM cd)
        |WHERE rk <= 4
        |ORDER BY vec_id, rk""".stripMargin),
    // Mirrors ss23 term-for-term with NO k-means chain anywhere: the
    // four ±1 sign projections (prj), each ranked / width-16-bucketed /
    // kNN'd to the working width 8 ([[projSeedOracle]]), their union as
    // the seed g0, then [[nnDescentOracleRound]] unrolls both NN-Descent
    // rounds at k=8 — the sd-qualified capped reverse, the undirected
    // union, the shared-vertex local join, candidates ∪ seed, the exact
    // integer re-rank — exactly as the ss22 oracle does for its one
    // round; the final select ranks the last candidate set to the
    // emitted 4. Reused CTEs are MATERIALIZEd by the assembly pass.
    "ss23_nn_descent_iter" ->
      (nnDescentIterCtes + """
        |SELECT vec_id, neighbor_id, CAST(rk AS INT) AS rk,
        |  CAST(dist AS BIGINT) AS dist
        |FROM (
        |  SELECT vec_id, neighbor_id, dist,
        |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, neighbor_id) AS rk
        |  FROM cd2)
        |WHERE rk <= 4
        |ORDER BY vec_id, rk""".stripMargin),
    // Mirrors ss24: the SAME parameterized CTE builder as ss23,
    // instantiated at the production profile — working width 16, bucket
    // width 32, all eight Walsh sign projections (p0–p7), both NN-Descent
    // rounds unrolled at k=16 — final select ranks cd2 to the emitted 4.
    "ss24_nn_descent_scale" ->
      (nnDescentIterCtesAt(16, 32, 8, 2) + """
        |SELECT vec_id, neighbor_id, CAST(rk AS INT) AS rk,
        |  CAST(dist AS BIGINT) AS dist
        |FROM (
        |  SELECT vec_id, neighbor_id, dist,
        |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, neighbor_id) AS rk
        |  FROM cd2)
        |WHERE rk <= 4
        |ORDER BY vec_id, rk""".stripMargin),
    // Mirrors qp08 on ss23's chain: the final candidate set cd2 ranked
    // to the emitted top-4 (exactly the ss23 select), then the min-id
    // ε-prune over those edges and the per-vector verdict row — the
    // rank-1 neighbor as evidence, 'drop' iff a lower-id top-4 neighbor
    // sits within ε². The verdict frame is driven by the corpus id set
    // (r17 advice): a graph-edge-less vector still gets a keep row with
    // null evidence, mirrored here by LEFT-joining nn1 from the distinct
    // embeddings ids. The shared `edges` CTE is referenced twice and is
    // MATERIALIZEd by the assembly pass.
    "qp08_graph_dedup_manifest" ->
      (nnDescentIterCtes + """,
        |edges AS (
        |  SELECT vec_id, neighbor_id, dist FROM (
        |    SELECT vec_id, neighbor_id, dist,
        |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, neighbor_id) AS rk
        |    FROM cd2) WHERE rk <= 4),
        |nn1 AS (
        |  SELECT vec_id, neighbor_id AS nn_id, CAST(dist AS BIGINT) AS nn_dist
        |  FROM (
        |    SELECT vec_id, neighbor_id, dist,
        |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, neighbor_id) AS rk
        |    FROM edges) WHERE rk = 1),
        |dropped AS (
        |  SELECT DISTINCT vec_id FROM edges
        |  WHERE dist <= 1300000000000 AND neighbor_id < vec_id),
        |ids AS (SELECT DISTINCT vec_id FROM embeddings)
        |SELECT i.vec_id, n.nn_id, n.nn_dist,
        |  CASE WHEN d.vec_id IS NOT NULL THEN 'drop' ELSE 'keep' END AS verdict
        |FROM ids i
        |LEFT JOIN nn1 n ON n.vec_id = i.vec_id
        |LEFT JOIN dropped d ON d.vec_id = i.vec_id
        |ORDER BY i.vec_id""".stripMargin),
    // ss20's oracle is DELIBERATELY index-free: the brute-force range
    // join over the integer features is the truth set the pruned scan
    // must reproduce exactly — completeness of the triangle-inequality
    // bound is what the hash checks.
    "ss20_range_search" ->
      """WITH f AS MATERIALIZED (
        |  SELECT vec_id, i AS dim,
        |    CAST(floor(CAST(embedding[i + 1] AS DOUBLE) * 1000000) AS BIGINT)
        |      + 1000000 AS fv
        |  FROM (SELECT vec_id, embedding, unnest(range(0, len(embedding))) AS i
        |        FROM embeddings))
        |SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |  CAST(SUM((a.fv - b.fv) * (a.fv - b.fv)) AS BIGINT) AS dist
        |FROM f a JOIN f b ON b.dim = a.dim AND b.vec_id <> a.vec_id
        |WHERE a.vec_id < 5
        |GROUP BY 1, 2
        |HAVING SUM((a.fv - b.fv) * (a.fv - b.fv)) <= 1300000000000
        |ORDER BY query_id, neighbor_id""".stripMargin,
    // Mirrors ss19 term-for-term: ss14's chain, then residual features
    // rf (fv − cell centroid + 2e6; `//`≡`div` on the nonnegative shift),
    // the per-subspace Lloyd unrolled over (m, sd) exactly as the kmeans
    // chain is over dim (seeds = the 16 smallest vec_ids, assignment rank
    // (d, code) per (vec_id, m), integer-mean update, empty codes keep the
    // prior), final encode `enc`, ss18's probe rank, per-(query, probed
    // cell) residuals, the ADC table, and the (approx_dist, neighbor) rank.
    // Reused CTEs are MATERIALIZEd by the assembly pass.
    "ss19_ivfpq_trained_ann" ->
      (kmeansOracleCtes + """,
        |rf AS (
        |  SELECT fin.vec_id, fin.cluster AS cell,
        |    f.dim // 8 AS m, f.dim % 8 AS sd,
        |    f.fv - c.cv + 2000000 AS rfv
        |  FROM fin JOIN f ON f.vec_id = fin.vec_id
        |  JOIN c2 c ON c.cell = fin.cluster AND c.dim = f.dim),
        |pseed AS (
        |  SELECT vec_id, CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS code
        |  FROM (SELECT DISTINCT vec_id FROM rf ORDER BY vec_id LIMIT 16)),
        |pb0 AS (
        |  SELECT r.m, s.code, r.sd, r.rfv AS cv
        |  FROM pseed s JOIN rf r USING (vec_id)),
        |pd1 AS (
        |  SELECT r.vec_id, r.m, b.code, SUM((r.rfv - b.cv) * (r.rfv - b.cv)) AS d
        |  FROM rf r JOIN pb0 b ON b.m = r.m AND b.sd = r.sd
        |  GROUP BY 1, 2, 3),
        |pa1 AS (
        |  SELECT vec_id, m, code FROM (
        |    SELECT vec_id, m, code,
        |      ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d, code) AS rn
        |    FROM pd1) WHERE rn = 1),
        |pu1 AS (
        |  SELECT a.m, a.code, r.sd, SUM(r.rfv) // COUNT(*) AS cv
        |  FROM pa1 a JOIN rf r ON r.vec_id = a.vec_id AND r.m = a.m
        |  GROUP BY 1, 2, 3),
        |pb1 AS (
        |  SELECT b.m, b.code, b.sd, CAST(COALESCE(u.cv, b.cv) AS BIGINT) AS cv
        |  FROM pb0 b LEFT JOIN pu1 u
        |    ON u.m = b.m AND u.code = b.code AND u.sd = b.sd),
        |pd2 AS (
        |  SELECT r.vec_id, r.m, b.code, SUM((r.rfv - b.cv) * (r.rfv - b.cv)) AS d
        |  FROM rf r JOIN pb1 b ON b.m = r.m AND b.sd = r.sd
        |  GROUP BY 1, 2, 3),
        |pa2 AS (
        |  SELECT vec_id, m, code FROM (
        |    SELECT vec_id, m, code,
        |      ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d, code) AS rn
        |    FROM pd2) WHERE rn = 1),
        |pu2 AS (
        |  SELECT a.m, a.code, r.sd, SUM(r.rfv) // COUNT(*) AS cv
        |  FROM pa2 a JOIN rf r ON r.vec_id = a.vec_id AND r.m = a.m
        |  GROUP BY 1, 2, 3),
        |pb2 AS (
        |  SELECT b.m, b.code, b.sd, CAST(COALESCE(u.cv, b.cv) AS BIGINT) AS cv
        |  FROM pb1 b LEFT JOIN pu2 u
        |    ON u.m = b.m AND u.code = b.code AND u.sd = b.sd),
        |pd3 AS (
        |  SELECT r.vec_id, r.m, b.code, SUM((r.rfv - b.cv) * (r.rfv - b.cv)) AS d
        |  FROM rf r JOIN pb2 b ON b.m = r.m AND b.sd = r.sd
        |  GROUP BY 1, 2, 3),
        |enc AS (
        |  SELECT vec_id, m, code FROM (
        |    SELECT vec_id, m, code,
        |      ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d, code) AS rn
        |    FROM pd3) WHERE rn = 1),
        |q AS (
        |  SELECT vec_id AS query_id, cell FROM (
        |    SELECT vec_id, cell,
        |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS pr
        |    FROM d3 WHERE vec_id < 5) WHERE pr <= 3),
        |qr AS (
        |  SELECT q.query_id, q.cell, f.dim // 8 AS m, f.dim % 8 AS sd,
        |    f.fv - c.cv + 2000000 AS rfv
        |  FROM q JOIN f ON f.vec_id = q.query_id
        |  JOIN c2 c ON c.cell = q.cell AND c.dim = f.dim),
        |adc AS (
        |  SELECT r.query_id, r.cell, b.m, b.code,
        |    SUM((r.rfv - b.cv) * (r.rfv - b.cv)) AS qd
        |  FROM qr r JOIN pb2 b ON b.m = r.m AND b.sd = r.sd
        |  GROUP BY 1, 2, 3, 4),
        |cand AS (
        |  SELECT a.query_id, e.vec_id AS neighbor_id, SUM(a.qd) AS approx_dist
        |  FROM adc a
        |  JOIN fin fi ON fi.cluster = a.cell AND fi.vec_id <> a.query_id
        |  JOIN enc e ON e.vec_id = fi.vec_id AND e.m = a.m AND e.code = a.code
        |  GROUP BY 1, 2)
        |SELECT query_id, neighbor_id, CAST(rk AS INT) AS rk,
        |  CAST(approx_dist AS BIGINT) AS approx_dist
        |FROM (
        |  SELECT query_id, neighbor_id, approx_dist,
        |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY approx_dist, neighbor_id) AS rk
        |  FROM cand)
        |WHERE rk <= 10
        |ORDER BY query_id, rk""".stripMargin),
    // Mirrors qp05: ss14's trained-centroid chain, then the in-cell
    // SemDeDup prune (drop b iff a lower-id same-cell a has integer
    // squared-L2 ≤ 1.3e12 to it), then ss15's per-cluster (dist, vec_id)
    // rank to 16. fin/f are multiply referenced — the assembly pass
    // MATERIALIZEs them.
    "qp05_curation_manifest" ->
      (kmeansOracleCtes + """,
        |pd AS (
        |  SELECT b.vec_id
        |  FROM fin a JOIN fin b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        |  JOIN f fa ON fa.vec_id = a.vec_id
        |  JOIN f fb ON fb.vec_id = b.vec_id AND fb.dim = fa.dim
        |  GROUP BY a.vec_id, b.vec_id
        |  HAVING SUM((fa.fv - fb.fv) * (fa.fv - fb.fv)) <= 1300000000000),
        |surv AS (
        |  SELECT * FROM fin
        |  WHERE vec_id NOT IN (SELECT DISTINCT vec_id FROM pd))
        |SELECT vec_id, cluster, dist, rk FROM (
        |  SELECT vec_id, cluster, dist,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY cluster ORDER BY dist, vec_id) AS INT) AS rk
        |  FROM surv) WHERE rk <= 16
        |ORDER BY cluster, rk""".stripMargin),
    // Mirrors ss16 term-for-term: the greedy farthest-point chain
    // unrolled as CTEs over the flattened integer features — per pick a
    // min-dist update (LEAST against the new seed's distance column) and
    // an ORDER BY md DESC, vec_id LIMIT 1 argmax. All-integer, so the
    // chain is engine-exact like ss14's.
    // EVERY chain CTE is AS MATERIALIZED: each mN/pN is referenced 2-3
    // times, and DuckDB's CTE inlining re-executes each reference, so the
    // plain form compounds ~3^6 re-runs of the f-self-join down the chain
    // (>20 min CPU at sf0.01 — this zeroed CORRECTNESS_r13). The
    // materialized form completes in ~2 s and is row-for-row identical.
    "ss16_kcenter_seeds" -> {
      val f =
        """WITH f AS MATERIALIZED (
          |  SELECT vec_id, i AS dim,
          |    CAST(floor(CAST(embedding[i + 1] AS DOUBLE) * 1000000) AS BIGINT)
          |      + 1000000 AS fv
          |  FROM (SELECT vec_id, embedding, unnest(range(0, len(embedding))) AS i
          |        FROM embeddings)),
          |s1 AS MATERIALIZED (SELECT min(vec_id) AS vec_id FROM f),
          |m1 AS MATERIALIZED (
          |  SELECT f.vec_id, SUM((f.fv - g.fv) * (f.fv - g.fv)) AS md
          |  FROM f JOIN f g ON f.dim = g.dim
          |    AND g.vec_id = (SELECT vec_id FROM s1)
          |  WHERE f.vec_id <> (SELECT vec_id FROM s1)
          |  GROUP BY 1)""".stripMargin
      val picks = (2 to 8).map { i =>
        val upd = if (i == 8) "" else s""",
          |m$i AS MATERIALIZED (
          |  SELECT m.vec_id, LEAST(m.md, d.md) AS md
          |  FROM m${i - 1} m JOIN (
          |    SELECT f.vec_id, SUM((f.fv - g.fv) * (f.fv - g.fv)) AS md
          |    FROM f JOIN f g ON f.dim = g.dim
          |      AND g.vec_id = (SELECT vec_id FROM p$i)
          |    GROUP BY 1) d USING (vec_id)
          |  WHERE m.vec_id <> (SELECT vec_id FROM p$i))""".stripMargin
        s""",
          |p$i AS MATERIALIZED (SELECT vec_id, md FROM m${i - 1}
          |  ORDER BY md DESC, vec_id LIMIT 1)""".stripMargin + upd
      }.mkString
      val out = (2 to 8).map(i =>
        s"UNION ALL SELECT CAST($i AS INT), vec_id, CAST(md AS BIGINT) FROM p$i")
        .mkString("\n")
      f + picks +
        s"""
          |SELECT CAST(1 AS INT) AS seed_rank, (SELECT vec_id FROM s1) AS vec_id,
          |  CAST(NULL AS BIGINT) AS sep
          |$out
          |ORDER BY seed_rank""".stripMargin
    },
    // Mirrors ss15: ss14's chain + the per-cluster (dist, vec_id) rank.
    "ss15_cluster_sample" ->
      (kmeansOracleCtes + """
        |SELECT vec_id, cluster, dist, rk FROM (
        |  SELECT vec_id, cluster, dist,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY cluster ORDER BY dist, vec_id) AS INT) AS rk
        |  FROM fin) WHERE rk <= 16
        |ORDER BY cluster, rk""".stripMargin),
    // Mirrors ss12 term-for-term: per-dim min/max grid, floor((x-mn)*255/
    // (mx-mn)) capped at 255, bin-midpoint reconstruction, index-ordered
    // squared-diff sum (list_sum ≡ the engine's sq_l2_dist left fold).
    "ss12_sq8_ann" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |st AS (
        |  SELECT i, MIN(v[i]) AS mn, MAX(v[i]) AS mx
        |  FROM e CROSS JOIN range(1, 65) t(i) GROUP BY i),
        |sa AS (
        |  SELECT array_agg(mn ORDER BY i) AS mns, array_agg(mx ORDER BY i) AS mxs
        |  FROM st),
        |r AS (
        |  SELECT vec_id, list_transform(range(1, 65), i ->
        |    CASE WHEN mxs[i] = mns[i] THEN mns[i]
        |         ELSE mns[i] + (CAST(least(255, CAST(floor((v[i] - mns[i]) * 255.0
        |             / (mxs[i] - mns[i])) AS INT)) AS DOUBLE) + 0.5)
        |           * (mxs[i] - mns[i]) / 255.0
        |    END) AS rv
        |  FROM e CROSS JOIN sa),
        |pairs AS (
        |  SELECT q.vec_id AS query_id, r.vec_id AS neighbor_id,
        |    list_sum(list_transform(range(1, 65), i ->
        |      (q.v[i] - r.rv[i]) * (q.v[i] - r.rv[i]))) AS approx_dist
        |  FROM e q JOIN r ON r.vec_id != q.vec_id WHERE q.vec_id < 5),
        |rk AS (
        |  SELECT query_id, neighbor_id, approx_dist,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY approx_dist, neighbor_id) AS rk
        |  FROM pairs)
        |SELECT query_id, neighbor_id, CAST(rk AS INT) AS rk, approx_dist
        |FROM rk WHERE rk <= 10 ORDER BY query_id, rk""".stripMargin,
    // ss13 = ss05's cell CTEs (decimal-summed centroids, cosine assign,
    // identical tie-breaks) + ss12's quantization CTEs (grid, midpoint
    // reconstruction), scored by index-ordered squared-diff sum within the
    // probed cells only.
    "ss13_ivf_sq8_ann" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |n AS (
        |  SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
        |  FROM e),
        |cd AS (
        |  SELECT label, i - 1 AS dim,
        |    CAST(SUM(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(28,6))) AS DOUBLE)
        |      / COUNT(*) AS c
        |  FROM embeddings, range(1, 65) t(i)
        |  GROUP BY 1, 2),
        |cents AS (
        |  SELECT label AS cell, list(c ORDER BY dim) AS cv FROM cd GROUP BY label),
        |cn AS (
        |  SELECT cell, cv, sqrt(list_sum(list_transform(cv, x -> x * x))) AS cnrm
        |  FROM cents),
        |assigned AS (
        |  SELECT n.vec_id, n.v, n.nrm, cn.cell,
        |    ROW_NUMBER() OVER (PARTITION BY n.vec_id
        |      ORDER BY list_sum(list_transform(range(1, 65), i -> n.v[i] * cn.cv[i]))
        |        / (n.nrm * cn.cnrm) DESC, cn.cell) AS r
        |  FROM n CROSS JOIN cn),
        |st AS (
        |  SELECT i, MIN(v[i]) AS mn, MAX(v[i]) AS mx
        |  FROM e CROSS JOIN range(1, 65) t(i) GROUP BY i),
        |sa AS (
        |  SELECT array_agg(mn ORDER BY i) AS mns, array_agg(mx ORDER BY i) AS mxs
        |  FROM st),
        |cells AS (
        |  SELECT a.vec_id, a.cell, list_transform(range(1, 65), i ->
        |    CASE WHEN mxs[i] = mns[i] THEN mns[i]
        |         ELSE mns[i] + (CAST(least(255, CAST(floor((a.v[i] - mns[i]) * 255.0
        |             / (mxs[i] - mns[i])) AS INT)) AS DOUBLE) + 0.5)
        |           * (mxs[i] - mns[i]) / 255.0
        |    END) AS rv
        |  FROM assigned a CROSS JOIN sa WHERE a.r = 1),
        |q AS (
        |  SELECT vec_id AS query_id, v AS qv, cell
        |  FROM assigned WHERE vec_id < 5 AND r <= 3),
        |pairs AS (
        |  SELECT q.query_id, c2.vec_id,
        |    list_sum(list_transform(range(1, 65), i ->
        |      (q.qv[i] - c2.rv[i]) * (q.qv[i] - c2.rv[i]))) AS approx_dist
        |  FROM q JOIN cells c2 ON q.cell = c2.cell AND c2.vec_id <> q.query_id)
        |SELECT query_id, vec_id AS neighbor_id, CAST(rk AS INT) AS rk, approx_dist
        |FROM (
        |  SELECT query_id, vec_id, approx_dist,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY approx_dist, vec_id) AS rk
        |  FROM pairs) WHERE rk <= 10 ORDER BY query_id, rk""".stripMargin,
    "ss04_label_centroids" ->
      """SELECT label, CAST(i - 1 AS INT) AS dim,
        |  CAST(SUM(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(28,6))) AS DOUBLE)
        |    / COUNT(*) AS centroid,
        |  COUNT(*) AS n
        |FROM embeddings, range(1, 65) t(i)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "ss01_cosine_topk" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |n AS (
        |  SELECT vec_id, v,
        |    sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
        |  FROM e),
        |pairs AS (
        |  SELECT q.vec_id AS query_id, e2.vec_id AS neighbor_id,
        |    list_sum(list_transform(range(1, 65), i -> q.v[i] * e2.v[i]))
        |      / (q.nrm * e2.nrm) AS cos
        |  FROM n q JOIN n e2 ON e2.vec_id <> q.vec_id
        |  WHERE q.vec_id < 5)
        |SELECT query_id, neighbor_id, rk, cos FROM (
        |  SELECT query_id, neighbor_id, cos,
        |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
        |  FROM pairs) WHERE rk <= 10 ORDER BY query_id, rk""".stripMargin,
    // Mirrors ss05 exactly: decimal-summed centroid components (order-
    // independent), sequential-fold dot products, identical tie-breaks.
    "ss05_ivf_ann" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |n AS (
        |  SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
        |  FROM e),
        |cd AS (
        |  SELECT label, i - 1 AS dim,
        |    CAST(SUM(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(28,6))) AS DOUBLE)
        |      / COUNT(*) AS c
        |  FROM embeddings, range(1, 65) t(i)
        |  GROUP BY 1, 2),
        |cents AS (
        |  SELECT label AS cell, list(c ORDER BY dim) AS cv FROM cd GROUP BY label),
        |cn AS (
        |  SELECT cell, cv, sqrt(list_sum(list_transform(cv, x -> x * x))) AS cnrm
        |  FROM cents),
        |assigned AS (
        |  SELECT n.vec_id, n.v, n.nrm, cn.cell,
        |    ROW_NUMBER() OVER (PARTITION BY n.vec_id
        |      ORDER BY list_sum(list_transform(range(1, 65), i -> n.v[i] * cn.cv[i]))
        |        / (n.nrm * cn.cnrm) DESC, cn.cell) AS r
        |  FROM n CROSS JOIN cn),
        |cells AS (SELECT vec_id, v, nrm, cell FROM assigned WHERE r = 1),
        |q AS (
        |  SELECT vec_id AS query_id, v AS qv, nrm AS qnrm, cell
        |  FROM assigned WHERE vec_id < 5 AND r <= 3),
        |pairs AS (
        |  SELECT q.query_id, c2.vec_id,
        |    list_sum(list_transform(range(1, 65), i -> q.qv[i] * c2.v[i]))
        |      / (q.qnrm * c2.nrm) AS cos
        |  FROM q JOIN cells c2 ON q.cell = c2.cell AND c2.vec_id <> q.query_id)
        |SELECT query_id, vec_id AS neighbor_id, rk, cos FROM (
        |  SELECT query_id, vec_id, cos,
        |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rk
        |  FROM pairs) WHERE rk <= 10 ORDER BY query_id, rk""".stripMargin,
    // same deterministic cell machinery as ss05's oracle (decimal-summed
    // centroids, identical tie-breaks), then min-id survivors per near-dup
    // pair via NOT EXISTS (the anti-join's null semantics)
    "ss10_semantic_dedup" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |n AS (
        |  SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
        |  FROM e),
        |cd AS (
        |  SELECT label, i - 1 AS dim,
        |    CAST(SUM(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(28,6))) AS DOUBLE)
        |      / COUNT(*) AS c
        |  FROM embeddings, range(1, 65) t(i)
        |  GROUP BY 1, 2),
        |cents AS (
        |  SELECT label AS cell, list(c ORDER BY dim) AS cv FROM cd GROUP BY label),
        |cn AS (
        |  SELECT cell, cv, sqrt(list_sum(list_transform(cv, x -> x * x))) AS cnrm
        |  FROM cents),
        |assigned AS (
        |  SELECT n.vec_id, n.v, n.nrm, cn.cell,
        |    ROW_NUMBER() OVER (PARTITION BY n.vec_id
        |      ORDER BY list_sum(list_transform(range(1, 65), i -> n.v[i] * cn.cv[i]))
        |        / (n.nrm * cn.cnrm) DESC, cn.cell) AS r
        |  FROM n CROSS JOIN cn),
        |cells AS (SELECT vec_id, v, nrm, cell FROM assigned WHERE r = 1),
        |dropped AS (
        |  SELECT DISTINCT b.vec_id
        |  FROM cells a JOIN cells b ON a.cell = b.cell AND a.vec_id < b.vec_id
        |  WHERE list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i]))
        |      / (a.nrm * b.nrm) > 0.3)
        |SELECT c.vec_id, c.cell FROM cells c
        |WHERE NOT EXISTS (SELECT 1 FROM dropped d WHERE d.vec_id = c.vec_id)
        |ORDER BY c.vec_id""".stripMargin,
    "ss03_embed_neardup" ->
      """WITH e AS (
        |  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |n AS (
        |  SELECT vec_id, label, v,
        |    sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
        |  FROM e)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm) AS cos
        |FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm) > 0.3
        |ORDER BY id_a, id_b""".stripMargin)
}
