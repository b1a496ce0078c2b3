package graft

import org.apache.spark.sql.DataFrame

/** Ownership registry for `.cache()` calls made inside query builders.
  *
  * Some builders cache a frame their own plan reuses (dd06's capped
  * postings, ss05's cell assignment). The cache must outlive the builder —
  * the action runs on the returned plan — so the builder cannot unpersist
  * it. In the driver mains this is handled process-wide
  * (`spark.catalog.clearCache()` between queries in Verify/Bench); a
  * LONG-LIVED session embedding this library should call [[releaseAll]]
  * after consuming each such query's result, or the cached frames
  * accumulate in executor storage memory for the life of the session.
  * Sibling housekeeping for long-lived sessions — all keyed by corpus dir
  * with the same immutable-snapshot staleness contract (call after
  * appending to a dir; never needed for per-SF snapshot dirs):
  * [[graft.operators.Similarity.refreshCorpusCounts]] (ss08's plane-sizing
  * count), [[graft.operators.Similarity.refreshCodebooks]] (ss06/ss07's
  * trained PQ codebook), [[graft.operators.Similarity.refreshIvfCentroids]]
  * (ss05's coarse quantizer),
  * [[graft.operators.TextAnalysis.refreshBigramVocabs]] (tx15/tx16's
  * subword vocab), and
  * [[graft.operators.Layout.resetRefusedCounters]] (the refusal-metric
  * registry, which otherwise grows by one Observation per capped-builder
  * invocation). The fingerprinted store [[graft.sources.Artifacts]]
  * (table schemas, dd08's Bloom sketch) needs no such call: it rebuilds an
  * artifact whenever its path's listing fingerprint changes.
  *
  * LOCALCHECKPOINT FRAMES (r19/r20): many builders now pin intermediates
  * with `localCheckpoint(eager = false)` instead of a tracked cache
  * (via [[Ckpt.lazyCheckpoint]]). Two contracts change vs a cache, both
  * deliberate and both the embedder's to manage:
  *
  *  - RELEASE: neither [[releaseAll]] nor `spark.catalog.clearCache()`
  *    drops localCheckpoint blocks — they are freed by the
  *    ContextCleaner when the RDD becomes unreachable (after the
  *    consuming DataFrame is dropped and a GC runs). A long-lived
  *    session embedding this library should drop query references
  *    promptly; the driver mains' per-query lifecycle (fresh plan per
  *    run + GC between timed regions) already bounds growth.
  *
  *  - FAULT TOLERANCE: a localCheckpoint is NOT recomputable on executor
  *    loss — unlike a cache, which re-derives from lineage. Every use in
  *    this library is a within-one-job round boundary, so the cluster
  *    deployment story is JOB RETRY, not lineage recovery: under dynamic
  *    allocation or executor failure the query fails and is rerun — the
  *    standard batch-with-retry posture. (qp03's CC loop set the
  *    precedent in r12; r19/r20 generalized it to the iterated
  *    similarity family and the tokenize/sketch pins.)
  */
object Caches {
  private val registry = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

  /** Cache `df` and register it for later release. Returns the cached df. */
  def track(df: DataFrame): DataFrame = register(df.cache())

  /** Register an already-cached df for later release (e.g. the surviving
    * frame of an iterative loop that caches and unpersists per round). */
  def register(df: DataFrame): DataFrame = {
    registry.add(df)
    df
  }

  /** Unpersist every builder-cached frame registered since the last call;
    * returns the released frames (so a caller/test can audit that their
    * storage level actually dropped to NONE). */
  def releaseAll(): Seq[DataFrame] = {
    val released = Seq.newBuilder[DataFrame]
    var df = registry.poll()
    while (df != null) {
      df.unpersist(blocking = false)
      released += df
      df = registry.poll()
    }
    released.result()
  }

  /** Number of currently-registered (not yet released) cached frames. */
  def pending: Int = registry.size()
}

/** The one door to `localCheckpoint(eager = false)` in query builders.
  *
  * A lazy localCheckpoint truncates the logical plan — which is usually
  * the point (it stops filter-pushdown re-differentiation and cuts
  * iterated-loop lineage) — but it also makes every plan AUDIT blind to
  * the subtree below it: PlanCensusSpec's cartesian/BNLJ census reads
  * the final physical plan and sees only `Scan ExistingRDD` (r19 ADVICE:
  * a future cross join introduced beneath a checkpoint would pass the
  * audit silently). Routing every lazy checkpoint through here closes
  * that hole: under `-Dgraft.census.capture=true` (set ONLY by the
  * census spec) each call also records the PRE-checkpoint frame, and the
  * spec audits those subtrees with the same rules as the visible plans.
  * In production the flag is absent and this is exactly
  * `df.localCheckpoint(eager = false)` — no registry write, no cost. */
object Ckpt {
  private val captured =
    new java.util.concurrent.ConcurrentLinkedQueue[(String, DataFrame)]()

  def lazyCheckpoint(df: DataFrame, tag: String): DataFrame = {
    if (sys.props.get("graft.census.capture").contains("true"))
      captured.add(tag -> df)
    df.localCheckpoint(eager = false)
  }

  /** Drain the frames captured since the last call (census spec only). */
  def drainCaptured(): Seq[(String, DataFrame)] = {
    val out = Seq.newBuilder[(String, DataFrame)]
    var e = captured.poll()
    while (e != null) { out += e; e = captured.poll() }
    out.result()
  }
}
