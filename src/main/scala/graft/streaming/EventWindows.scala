package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.sources.Tables

/** Event-time windowing. The same `window`/`session_window` expressions run
  * unchanged in Structured Streaming (`readStream` + `withWatermark`) — the
  * streaming entry points live in [[EventStreams]]; these batch forms are the
  * oracle-checkable semantics. The reference has no streaming at all
  * (SURVEY.md §2 Part B cat. S) — this is the engine extension surface. */
object EventWindows {

  private def dsum(c: org.apache.spark.sql.Column) =
    sum(c.cast(DecimalType(28, 6))).cast(DoubleType)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Tumbling 1-hour event-time windows per event type.
    "st01_tumbling_window" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .select(col("window.start").as("window_start"), col("event_type"),
          col("n"), col("sum_value"))
        .orderBy("window_start", "event_type")
    }),

    // Sliding windows: 1-hour length, 30-minute slide.
    "st02_sliding_window" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 hour", "30 minutes"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .select(col("window.start").as("window_start"), col("n"), col("sum_value"))
        .orderBy("window_start")
    }),

    // Session windows: 5-minute inactivity gap per user.
    "st03_session_window" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(col("user_id"), session_window(col("ts"), "5 minutes"))
        .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
        .select(col("user_id"),
          col("session_window.start").as("session_start"),
          col("session_window.end").as("session_end"),
          col("n_events"), col("sum_value"))
        .orderBy("user_id", "session_start")
    }),

    // At-least-once replay dedup, batch twin of the streaming
    // dropDuplicatesWithinWatermark path (StreamingSpec): re-deliver a
    // deterministic subset of events, dedup on event_id, aggregate.
    // Duplicate rows are byte-identical, so the keep-any semantics of
    // dropDuplicates stay deterministic.
    "st04_replay_dedup" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select("event_id", "event_type", "ts", "user_id", "value")
      val replayed = ev.unionByName(ev.filter(col("event_id") % 10 === 0))
      replayed.dropDuplicates("event_id")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"))
        .orderBy("event_type")
    }),

    // Batch twin of the streaming Bloom-prefiltered ingest dedup,
    // routed through the EXACT helper the stream runs
    // ([[Stateful.incrementalDedupBloom]]; StreamingSpec asserts
    // stream/batch parity on the same inputs) — so dd08's broadcast-
    // sketch transport and definite-new bypass are oracle-checked in
    // their streaming shape too, not just dd08's batch shape. One
    // deliberate normalization: the helper's within-batch tie-break is
    // ARRIVAL order (dropDuplicates — the right semantics on a stream,
    // nondeterministic in a batch), so the declared query pre-reduces
    // the batch to keep-first by doc_id before the helper. The surviving
    // FP SET is identical with or without the pre-reduction (the
    // anti-join and dedup operate on whole fingerprints — spec-pinned);
    // pinning the kept doc_id to the minimum makes the result
    // deterministic and lets st06 share dd07/dd08's oracle verbatim.
    "st06_bloom_ingest_dedup" -> ((s, dir) => {
      val d = Tables.table(s, dir, "documents")
        .select(col("doc_id"), col("text"),
          md5(lower(trim(col("text"))).cast("binary")).as("fp"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("fp").orderBy("doc_id")
      val batch = d.filter(col("doc_id") % 2 === 1)
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select("doc_id", "text")
      Stateful.incrementalDedupBloom(batch,
        d.filter(col("doc_id") % 2 === 0).select("fp"),
        graft.operators.Dedup.bloomSketch(s, dir))
        .orderBy("doc_id")
    }),

    // Batch twin of the streaming embedding near-dup ingest
    // ([[Stateful.ingestNeardupPairs]] — stateless LSH probe of the
    // static corpus's banded index, exact-cosine verify): arriving
    // vectors (odd vec_ids) against the existing corpus (even). The twin
    // distincts the helper's at-least-once multi-table emissions and
    // sorts — determinism lives here, the stream emits the same set.
    // Rows-only-deterministic, ss08's disposition exactly: the xxhash64
    // planes have no DuckDB mirror, and on this near-isotropic corpus
    // blocked recall at cos 0.3 is low by the MATH of 8-plane LSH (the
    // dd10-style recall-1 shared-oracle license is unavailable — there
    // are no planted high-cosine cross-parity pairs to catch). Precision
    // is 1 by construction (every emission is exact-verified) and the
    // StreamingSpec pins subset-of-truth, logged recall, and
    // stream-vs-batch parity.
    "st07_ann_ingest_neardup" -> ((s, dir) => {
      val e = Tables.table(s, dir, "embeddings")
        .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      val existing = graft.operators.Similarity
        .bandedIndex(e.filter(col("vec_id") % 2 === 0), tables = 2, planes = 8)
      Stateful.ingestNeardupPairs(
        e.filter(col("vec_id") % 2 === 1), existing,
        tables = 2, planes = 8, threshold = 0.3)
        .distinct()
        .orderBy("new_id", "ex_id")
    }),

    // Batch twin of the streaming substring-ingest cut
    // ([[Stateful.ingestSubstringCut]] — stream-static semi-join of each
    // arriving doc's window hashes against the persisted window index's
    // corpus (even-doc) slice, span merge as per-group arithmetic, no
    // batch-internal rule: micro-batch-boundary-invariant by design,
    // StreamingSpec asserts one-file-at-a-time == all-at-once == this
    // twin). Emits only docs with something to cut. Hash-exact: all
    // integers, the oracle mirrors the corpus-known restriction of
    // dd17's islands pass.
    "st08_substring_ingest" -> ((s, dir) => {
      val Dd = graft.operators.Dedup
      val corpusH = Tables.parquet(s, s"${Dd.ddWinIndexPath(s, dir)}/wins")
        .filter(col("par") === 0) // partition-directory prune, see dd17
        .select("h").distinct()
      Stateful.ingestSubstringCut(
        Tables.table(s, dir, "documents").filter(col("doc_id") % 2 === 1)
          .select("doc_id", "text"),
        corpusH, Dd.substringK)
        .orderBy("doc_id")
    }),

    // Batch twin of the streaming serving-side quality gate
    // ([[Stateful.ingestQualityGate]]): per-language cutoffs TRAINED on
    // the corpus slice (even doc_ids) with tx28's pass-1 histogram
    // machinery, arriving (odd) docs admitted iff strictly above their
    // language's cutoff — a stateless broadcast decision per doc, the
    // production shape of threshold serving. Hash-exact: the quality
    // doubles and integer histogram cutoffs are deterministic on both
    // engines (tx26/tx28's license).
    "st09_quality_gate_ingest" -> ((s, dir) => {
      val Tx = graft.operators.TextAnalysis
      val thr = Tx.qualityThresholds(Tx.qualityScored(
        Tables.table(s, dir, "documents").filter(col("doc_id") % 2 === 0)))
      Stateful.ingestQualityGate(
        Tables.table(s, dir, "documents").filter(col("doc_id") % 2 === 1)
          .select("doc_id", "lang", "text"),
        thr)
        .orderBy("doc_id")
    }),

    // Batch twin of the streaming DECONTAMINATION gate — tx30's serving
    // form, through the SAME helper st08 runs ([[Stateful
    // .ingestSubstringCut]]): each arriving training doc's 8-token
    // window hashes probe the FROZEN eval window set (the doc_id % 10
    // slice of the persisted window index — all even ids, so the read
    // directory-prunes to the par=0 half like st08's), matching
    // positions merge into maximal contaminated spans per doc, and the
    // emitted span report is what an ingest pipeline cuts before a doc
    // may enter the training corpus. Stateless stream-static probe —
    // micro-batch-boundary invariant, per-trigger spec — and the stream
    // side pays its own tokenize/md5 (the dd11/dd17 honesty contract).
    // Emits only docs with something to cut; row-for-row it is tx30
    // minus the ratio projection (the oracle restates tx30's), so the
    // serving path is provably the batch analysis query. Hash-exact.
    "st10_decontam_gate_ingest" -> ((s, dir) => {
      val Dd = graft.operators.Dedup
      val evalH = Tables.parquet(s, s"${Dd.ddWinIndexPath(s, dir)}/wins")
        .filter(col("par") === 0) // eval ids are % 10 == 0 -> all even
        .filter(col("doc_id") % 10 === 0)
        .select("h").distinct()
      Stateful.ingestSubstringCut(
        Tables.table(s, dir, "documents").filter(col("doc_id") % 10 =!= 0)
          .select("doc_id", "text"),
        evalH, Dd.substringK)
        .select(col("doc_id"), col("n_windows"),
          col("n_corpus_windows").as("n_contam_windows"),
          col("n_cut_spans"), col("n_cut_tokens"))
        .orderBy("doc_id")
    }),

    // Batch twin of the streaming contamination-ATTRIBUTION report —
    // tx32's serving form ([[Stateful.ingestAttribution]]): the fold
    // flipped relative to st10 — here the ARRIVING docs are a NEW eval
    // set being screened against the frozen training corpus (the
    // benchmark owner's ingest, where st10 is the trainer's). Arriving
    // eval docs pay their own tokenize/md5; the static side is the
    // train-slice (h, source, n_occ) aggregate of the persisted window
    // index. Stateless stream-static join + one streaming aggregation
    // (two counters per (doc, source) group) — micro-batch-boundary
    // invariant; per-trigger spec pins stream == batch twin == tx32
    // itself, so the serving path IS the analysis query. Hash-exact
    // (shares tx32's oracle verbatim).
    "st11_attribution_ingest" -> ((s, dir) => {
      val Dd = graft.operators.Dedup
      val trainAgg = Tables.parquet(s, s"${Dd.ddWinIndexPath(s, dir)}/wins")
        .filter(col("doc_id") % 10 =!= 0)
        .groupBy("h", "source")
        .agg(count(lit(1)).as("n_occ"))
      Stateful.ingestAttribution(
        Tables.table(s, dir, "documents").filter(col("doc_id") % 10 === 0)
          .select("doc_id", "text"),
        trainAgg, Dd.substringK)
        .orderBy("eval_doc_id", "source")
    }),

    // Batch twin of the streaming GOPHER gate ([[Stateful
    // .ingestGopherGate]]): arriving (odd) docs are admitted iff they
    // pass tx34's shape rules (stop floor 1) and tx33's repetition rules
    // — the latter in the row-wise HOF form, so the whole gate is
    // stateless selects/filters with NO trained state (the rules are
    // constants; st09 needs offline cutoffs, st10 a frozen index, this
    // needs nothing). Hash-exact: the oracle restates qp06's screen CTEs
    // restricted to the odd fold.
    "st12_gopher_gate_ingest" -> ((s, dir) =>
      Stateful.ingestGopherGate(
        Tables.table(s, dir, "documents").filter(col("doc_id") % 2 === 1)
          .select("doc_id", "text"))
        .orderBy("doc_id")),

    // Batch twin of the streaming media gate
    // ([[Stateful.ingestMediaGate]]): the frozen corpus is the EVEN
    // assets' checksum set, arriving ODD assets are admitted iff their
    // payload md5 is novel. Hash-exact — the oracle is a null-safe
    // NOT EXISTS over the same fold.
    "st14_media_gate_ingest" -> ((s, dir) => {
      val Mm = graft.multimodal.Multimodal
      val media = Mm.mediaFromDocuments(s, dir)
      val corpus = Mm.withMeta(media.filter(col("asset_id") % 2 === 0))
        .select(col("meta.checksum").as("checksum")).distinct()
      Stateful.ingestMediaGate(media.filter(col("asset_id") % 2 === 1), corpus)
        .orderBy("asset_id")
    }),

    // Batch twin of the streaming trained-IVF ANN serving
    // ([[Stateful.ingestAnnTopK]]): the index — ss14-trained centroids +
    // the cell-assigned EVEN half of the embeddings — is frozen offline,
    // each arriving ODD vector probes its nprobe=3 nearest cells
    // (row-wise sort of the broadcast centroid pack, rank-free) and its
    // exact-integer top-10 within them is kept by the bounded TopKAgg
    // UDAF (k pairs of state per query, never the probed cell). All
    // integers end to end, so unlike st07's float-cosine ingest this
    // serving path is hash-exact — the oracle trains the same chain on
    // the even slice and re-ranks with window functions the stream
    // cannot use. The two rank-ordered arrays stay arrays inside
    // [[Stateful.ingestAnnTopK]] (the streaming parity spec uses them);
    // the DECLARED boundary serializes them with array_join, per the
    // round-1 gate convention (e05/e06): the driver's pandas comparer
    // cannot sort array cells.
    "st13_ann_serving" -> ((s, dir) => {
      val Sim = graft.operators.Similarity
      val e = Tables.table(s, dir, "embeddings")
        .select(col("vec_id"),
          expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      val (cents, assigned) = Sim.trainedIvfIndex(e.filter(col("vec_id") % 2 === 0))
      Stateful.ingestAnnTopK(
        e.filter(col("vec_id") % 2 === 1), cents, assigned, nprobe = 3, k = 10)
        .select(col("query_id"),
          expr("array_join(transform(neighbor_ids, x -> cast(x as string)), '|')")
            .as("neighbor_ids"),
          expr("array_join(transform(dists, x -> cast(x as string)), '|')")
            .as("dists"))
        .orderBy("query_id")
    }),

    // Batch twin of the streaming EVAL-SUITE screen
    // ([[Stateful.ingestEvalScreen]]) — qp07's triage report through the
    // serving path, closing the family: st11 serves the substring half,
    // st13 the similarity half; this composes BOTH frozen index halves
    // (the (h → occ, sources) train aggregate and the banded LSH
    // postings + shingle sidecar) into the per-eval-doc
    // exact/near/clean verdict. Hash-exact on tx32 + tx31's licenses —
    // the oracle is qp07's verbatim (identical folds), so the gate
    // directly certifies stream-path ≡ batch-path on the marquee
    // deliverable.
    "st15_eval_screen_ingest" -> ((s, dir) => {
      val Dd = graft.operators.Dedup
      val Sk = graft.functions.SketchExprs
      val idx = Dd.ddWinIndexPath(s, dir)
      val trainAggH = Tables.parquet(s, s"$idx/wins")
        .filter(col("doc_id") % 10 =!= 0)
        .groupBy("h", "source").agg(count(lit(1)).as("n_occ"))
        .groupBy("h").agg(sum("n_occ").as("occ_h"),
          sort_array(collect_set("source")).as("srcs"))
      val tsigs = Dd.fuzzySigs(
        Tables.table(s, dir, "documents").filter(col("doc_id") % 10 =!= 0))
      val postings = tsigs
        .select(col("doc_id").as("train_id"),
          array((0 until 16).map(b =>
            Sk.longSliceHash(col("sig"), b * 4, 4)): _*).as("tbb"))
        .select(col("train_id"), col("tbb"),
          posexplode(col("tbb")).as(Seq("band", "bucket")))
      val sidecar = tsigs.select(col("doc_id").as("train_id"), col("sh").as("sh_t"))
      // (r19) spread the eval fold before its tokenize/minhash passes —
      // the per-row sketch work ran at the scan's one-split parallelism
      // (2.4 s single-task stage); done HERE so the streaming helper's
      // topology is untouched
      Stateful.ingestEvalScreen(
        Tables.table(s, dir, "documents").filter(col("doc_id") % 10 === 0)
          .repartition(s.sparkContext.defaultParallelism)
          .select("doc_id", "text"),
        trainAggH, postings, sidecar, Dd.substringK)
        .orderBy("eval_doc_id")
    }),

    // Batch twin of the stream-stream interval join
    // ([[Stateful.intervalJoin]]): each purchase joins the same user's
    // clicks within the preceding 10 minutes. Runs through the EXACT
    // helper the streaming form uses (withWatermark is a no-op in batch;
    // StreamingSpec asserts stream/batch parity on the same inputs), so
    // the oracle check here covers the declared streaming semantics too.
    // In streaming, the watermarks + time bound let the planner evict
    // buffered state once the watermark passes — state proportional to
    // the interval, not the stream.
    "st05_interval_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("l_key"), col("ts").as("l_ts"),
          col("event_id").as("click_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("r_key"), col("ts").as("r_ts"),
          col("event_id").as("purchase_id"))
      Stateful.intervalJoin(clicks, purchases,
        watermark = "30 minutes", windowMinutes = 10)
        .select(col("purchase_id"), col("click_id"),
          col("r_key").as("user_id"),
          (unix_timestamp(col("r_ts")) - unix_timestamp(col("l_ts"))).as("lag_sec"))
        .orderBy("purchase_id", "click_id")
    }))

  val oracle: Map[String, String] = Map(
    // st11 ≡ tx32 through the same (h, source) aggregate — the serving
    // report IS the batch analysis query, so it shares tx32's oracle
    // verbatim (the st06 ≡ dd07/dd08 precedent).
    "st11_attribution_ingest" ->
      graft.operators.TextAnalysis.oracle("tx32_contam_attribution"),
    // st15 ≡ qp07 over the same folds — the serving report IS the batch
    // analysis query, so it shares qp07's oracle verbatim (the st11/tx32
    // precedent, now on the composed deliverable).
    "st15_eval_screen_ingest" ->
      graft.operators.TextAnalysis.oracle("qp07_eval_screen"),
    // Mirrors st14: odd assets whose payload md5 exists nowhere in the
    // even (corpus) fold. NOT EXISTS rather than NOT IN — a null text
    // would null the whole NOT IN predicate; the anti-join form matches
    // Spark's left_anti null behavior (null checksums never match, so
    // they are admitted on both engines).
    "st14_media_gate_ingest" ->
      """SELECT doc_id AS asset_id,
        |  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
        |  md5(text) AS checksum
        |FROM documents d
        |WHERE doc_id % 2 = 1
        |  AND NOT EXISTS (SELECT 1 FROM documents c
        |                  WHERE c.doc_id % 2 = 0 AND md5(c.text) = md5(d.text))
        |ORDER BY asset_id""".stripMargin,
    // Mirrors st13: ss14's chain trained on the EVEN half (the frozen
    // index), odd-id query features, probe rank (dist, cell) to 3, exact
    // integer candidate distances within probed cells, top-10 per query
    // re-assembled as the engine's two rank-ordered arrays. The oracle
    // may use the rank windows the stream cannot.
    "st13_ann_serving" ->
      (graft.operators.Similarity.kmeansOracleChain(" WHERE vec_id % 2 = 0") + """,
        |qf AS (
        |  SELECT vec_id, i AS dim,
        |    CAST(floor(CAST(embedding[i + 1] AS DOUBLE) * 1000000) AS BIGINT)
        |      + 1000000 AS fv
        |  FROM (SELECT vec_id, embedding, unnest(range(0, len(embedding))) AS i
        |        FROM embeddings WHERE vec_id % 2 = 1)),
        |qd AS (
        |  SELECT q.vec_id AS query_id, c.cell,
        |    SUM((q.fv - c.cv) * (q.fv - c.cv)) AS dist
        |  FROM qf q JOIN c2 c ON c.dim = q.dim GROUP BY 1, 2),
        |pr AS (
        |  SELECT query_id, cell FROM (
        |    SELECT query_id, cell,
        |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dist, cell) AS pr
        |    FROM qd) WHERE pr <= 3),
        |cand AS (
        |  SELECT p.query_id, fin.vec_id AS neighbor_id,
        |    SUM((a.fv - b.fv) * (a.fv - b.fv)) AS dist
        |  FROM pr p
        |  JOIN fin ON fin.cluster = p.cell
        |  JOIN qf a ON a.vec_id = p.query_id
        |  JOIN f b ON b.vec_id = fin.vec_id AND b.dim = a.dim
        |  GROUP BY 1, 2),
        |tk AS (
        |  SELECT query_id, neighbor_id, CAST(dist AS BIGINT) AS dist,
        |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id) AS rk
        |  FROM cand)
        |SELECT query_id,
        |  array_to_string(list(neighbor_id ORDER BY rk), '|') AS neighbor_ids,
        |  array_to_string(list(dist ORDER BY rk), '|') AS dists
        |FROM tk WHERE rk <= 10
        |GROUP BY query_id
        |ORDER BY query_id""".stripMargin),
    // Mirrors st12 ≡ qp06's screen stages restricted to the odd fold:
    // tx34's shape rules at stop floor 1, tx33's repetition pipeline
    // over the survivors, admitted docs with their alpha-token counts.
    // (The engine runs the repetition rules row-wise — spec-pinned equal
    // to the aggregate form — so one SQL mirrors both.)
    "st12_gopher_gate_ingest" ->
      """WITH raw AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split_regex(text, '\s+'), w -> w != '') AS ws,
        |    string_split(text, chr(10)) AS ls
        |  FROM documents WHERE doc_id % 2 = 1),
        |qm AS (
        |  SELECT doc_id, text,
        |    len(ws) AS n_words,
        |    list_sum(list_transform(ws, w -> len(w))) AS sum_len,
        |    len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]'))) AS n_alpha,
        |    len(list_filter(list_distinct(list_transform(ws, w -> lower(w))),
        |      w -> w IN ('the','be','to','of','and','that','have','with'))) AS n_stop,
        |    (len(text) - len(replace(text, '#', '')))
        |      + (len(text) - len(replace(text, '...', ''))) // 3
        |      + (len(text) - len(replace(text, '…', ''))) AS n_sym,
        |    len(ls) AS n_lines,
        |    len(list_filter(ls, l -> l LIKE '•%' OR l LIKE '-%' OR l LIKE '*%')) AS n_bullet,
        |    len(list_filter(ls, l -> l LIKE '%...' OR l LIKE '%…')) AS n_endell
        |  FROM raw),
        |q AS (
        |  SELECT doc_id, text FROM qm
        |  WHERE n_words >= 50 AND n_words <= 100000
        |    AND CAST(sum_len AS DOUBLE) / n_words >= 3
        |    AND CAST(sum_len AS DOUBLE) / n_words <= 10
        |    AND CAST(n_sym AS DOUBLE) / n_words <= 0.1
        |    AND CAST(n_bullet AS DOUBLE) / n_lines <= 0.9
        |    AND CAST(n_endell AS DOUBLE) / n_lines <= 0.3
        |    AND CAST(n_alpha AS DOUBLE) / n_words >= 0.8
        |    AND n_stop >= 1),
        |t AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws,
        |    len(regexp_extract_all(lower(text), '[a-z]+')) AS nt
        |  FROM q),
        |g AS (
        |  SELECT doc_id, nt, n, i AS pos, array_to_string(ws[i+1:i+n], ' ') AS gr
        |  FROM (
        |    SELECT doc_id, ws, nt, n, unnest(range(0, nt - 1)) AS i
        |    FROM (SELECT doc_id, ws, nt, unnest([2, 3, 4, 5]) AS n
        |          FROM t WHERE nt >= 2))
        |  WHERE i + n <= nt),
        |cn AS (
        |  SELECT doc_id, n, gr, COUNT(*) AS cnt
        |  FROM g GROUP BY 1, 2, 3),
        |top AS (
        |  SELECT doc_id,
        |    MAX(CASE WHEN n = 2 THEN cnt END) AS c2,
        |    MAX(CASE WHEN n = 3 THEN cnt END) AS c3,
        |    MAX(CASE WHEN n = 4 THEN cnt END) AS c4
        |  FROM cn WHERE n <= 4 GROUP BY 1),
        |dpos AS (
        |  SELECT g.doc_id, g.pos
        |  FROM g JOIN cn ON cn.doc_id = g.doc_id AND cn.n = g.n AND cn.gr = g.gr
        |  WHERE g.n = 5 AND cn.cnt >= 2),
        |isl AS (
        |  SELECT doc_id, pos,
        |    CASE WHEN pos > COALESCE(MAX(pos) OVER (
        |        PARTITION BY doc_id ORDER BY pos
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -999) + 4
        |      THEN 1 ELSE 0 END AS brk
        |  FROM dpos),
        |cov AS (
        |  SELECT doc_id, SUM(mx - mn + 5) AS cov FROM (
        |    SELECT doc_id, MIN(pos) AS mn, MAX(pos) AS mx
        |    FROM (SELECT doc_id, pos,
        |            SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS gid
        |          FROM isl)
        |    GROUP BY doc_id, gid)
        |  GROUP BY 1)
        |SELECT t.doc_id, CAST(t.nt AS BIGINT) AS n_tokens
        |FROM t
        |LEFT JOIN top ON top.doc_id = t.doc_id
        |LEFT JOIN cov ON cov.doc_id = t.doc_id
        |WHERE CASE WHEN COALESCE(c2, 0) >= 2 THEN CAST(c2 * 2 AS DOUBLE) / t.nt ELSE 0.0 END <= 0.20
        |  AND CASE WHEN COALESCE(c3, 0) >= 2 THEN CAST(c3 * 3 AS DOUBLE) / t.nt ELSE 0.0 END <= 0.18
        |  AND CASE WHEN COALESCE(c4, 0) >= 2 THEN CAST(c4 * 4 AS DOUBLE) / t.nt ELSE 0.0 END <= 0.16
        |  AND CASE WHEN cov.cov IS NOT NULL THEN CAST(cov.cov AS DOUBLE) / t.nt ELSE 0.0 END <= 0.15
        |ORDER BY t.doc_id""".stripMargin,
    // Mirrors st10 ≡ tx30 minus the ratio projection (the serving path
    // IS the batch analysis query): eval (doc_id % 10 = 0) distinct
    // window hashes, train occurrences matching them, islands merge.
    "st10_decontam_gate_ingest" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, i AS pos, md5(array_to_string(ws[i:i+7], ' ')) AS h
        |  FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - 6)) AS i FROM t)),
        |eh AS (SELECT DISTINCT h FROM w WHERE doc_id % 10 = 0),
        |occ AS (
        |  SELECT w.doc_id, w.pos FROM w JOIN eh USING (h)
        |  WHERE w.doc_id % 10 != 0),
        |sp AS (
        |  SELECT doc_id, pos,
        |    SUM(CASE WHEN prev IS NULL OR pos > prev + 7 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
        |  FROM (SELECT doc_id, pos,
        |          LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        |        FROM occ)),
        |spans AS (SELECT doc_id, span_id, MIN(pos) AS s, MAX(pos) AS e,
        |            COUNT(*) AS nw
        |          FROM sp GROUP BY 1, 2),
        |agg AS (
        |  SELECT doc_id, CAST(COUNT(*) AS INT) AS n_cut_spans,
        |    CAST(SUM(e - s + 8) AS INT) AS n_cut_tokens,
        |    CAST(SUM(nw) AS INT) AS n_contam_windows
        |  FROM spans GROUP BY 1),
        |base AS (
        |  SELECT doc_id, CAST(greatest(len(ws) - 7, 0) AS INT) AS n_windows
        |  FROM t)
        |SELECT agg.doc_id, base.n_windows, n_contam_windows, n_cut_spans,
        |  n_cut_tokens
        |FROM agg JOIN base USING (doc_id)
        |ORDER BY agg.doc_id""".stripMargin,
    // Mirrors st08: corpus-known (even-doc) window occurrences of batch
    // (odd) docs, islands merge (dd17's machinery restricted to the
    // corpus-known branch), docs with zero such occurrences absent.
    "st08_substring_ingest" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, i AS pos, md5(array_to_string(ws[i:i+7], ' ')) AS h
        |  FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - 6)) AS i FROM t)),
        |ch AS (SELECT DISTINCT h FROM w WHERE doc_id % 2 = 0),
        |occ AS (
        |  SELECT w.doc_id, w.pos FROM w JOIN ch USING (h)
        |  WHERE w.doc_id % 2 = 1),
        |sp AS (
        |  SELECT doc_id, pos,
        |    SUM(CASE WHEN prev IS NULL OR pos > prev + 7 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
        |  FROM (SELECT doc_id, pos,
        |          LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        |        FROM occ)),
        |spans AS (SELECT doc_id, span_id, MIN(pos) AS s, MAX(pos) AS e
        |          FROM sp GROUP BY 1, 2),
        |agg AS (
        |  SELECT doc_id, CAST(COUNT(*) AS INT) AS n_cut_spans,
        |    CAST(SUM(e - s + 8) AS INT) AS n_cut_tokens FROM spans GROUP BY 1),
        |occn AS (
        |  SELECT doc_id, CAST(COUNT(*) AS INT) AS n_corpus_windows
        |  FROM occ GROUP BY 1)
        |SELECT occn.doc_id,
        |  CAST(len(t.ws) - 7 AS INT) AS n_windows,
        |  occn.n_corpus_windows, agg.n_cut_spans, agg.n_cut_tokens
        |FROM occn
        |JOIN t ON t.doc_id = occn.doc_id
        |JOIN agg ON agg.doc_id = occn.doc_id
        |ORDER BY occn.doc_id""".stripMargin,
    // Mirrors st09: tx28's pass-1 cutoff CTEs restricted to the corpus
    // (even) slice, arriving (odd) docs kept on strict quality > cutoff.
    "st09_quality_gate_ingest" ->
      """WITH q AS (
        |  SELECT doc_id, lang,
        |    (len(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in|is|on|for|with)\b'))
        |       / CAST(len(string_split(text, ' ')) AS DOUBLE)) * 2.0
        |    - (len(list_filter(string_split(text, ' '), w -> length(w) <= 2))
        |       / CAST(len(string_split(text, ' ')) AS DOUBLE)) AS quality
        |  FROM documents),
        |c AS (
        |  SELECT lang, quality, COUNT(*) AS cnt FROM q
        |  WHERE doc_id % 2 = 0 GROUP BY lang, quality),
        |t AS (
        |  SELECT lang, quality AS thr_q, cnt,
        |    SUM(cnt) OVER (PARTITION BY lang) AS n_lang,
        |    SUM(cnt) OVER (PARTITION BY lang ORDER BY quality DESC) AS cum
        |  FROM c),
        |thr AS (
        |  SELECT lang, thr_q FROM t
        |  WHERE cum >= (n_lang * 3 + 9) // 10
        |    AND cum - cnt < (n_lang * 3 + 9) // 10)
        |SELECT q.doc_id, q.lang, q.quality
        |FROM q JOIN thr ON q.lang = thr.lang AND q.quality > thr.thr_q
        |WHERE q.doc_id % 2 = 1
        |ORDER BY q.doc_id""".stripMargin,
    // st06 computes EXACTLY dd07/dd08's result (Bloom split is a pure
    // pre-filter; keep-first pinned by the pre-reduction) — the oracle
    // is SHARED verbatim, by reference.
    "st06_bloom_ingest_dedup" ->
      graft.operators.Dedup.oracle("dd07_incremental_dedup"),
    // st07 has NO oracle entry: rows-only-deterministic (xxhash64 LSH
    // planes, see the query comment); checked by check.py --rerun plus
    // the StreamingSpec precision/parity tests.
    "st05_interval_join" ->
      """SELECT p.event_id AS purchase_id, c.event_id AS click_id,
        |  p.user_id,
        |  date_diff('second', c.ts, p.ts) AS lag_sec
        |FROM events p JOIN events c
        |  ON c.user_id = p.user_id
        | AND p.event_type = 'purchase' AND c.event_type = 'click'
        | AND c.ts BETWEEN p.ts - INTERVAL 10 MINUTES AND p.ts
        |ORDER BY purchase_id, click_id""".stripMargin,
    "st04_replay_dedup" ->
      """SELECT event_type, COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "st01_tumbling_window" ->
      """SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "st02_sliding_window" ->
      """WITH b AS (
        |  SELECT time_bucket(INTERVAL '30 minutes', ts) AS bkt, value FROM events),
        |x AS (
        |  SELECT bkt AS window_start, value FROM b
        |  UNION ALL
        |  SELECT bkt - INTERVAL '30 minutes' AS window_start, value FROM b)
        |SELECT window_start, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
        |FROM x GROUP BY 1 ORDER BY 1""".stripMargin,
    "st03_session_window" ->
      """WITH marked AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w >= INTERVAL '5 minutes' THEN 1 ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |sess AS (
        |  SELECT user_id, ts, value,
        |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |                     ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM marked)
        |SELECT user_id, MIN(ts) AS session_start,
        |  MAX(ts) + INTERVAL '5 minutes' AS session_end,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
        |FROM sess GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin)
}
