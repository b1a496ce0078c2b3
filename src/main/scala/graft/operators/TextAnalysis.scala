package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{Artifacts, Tables}
import graft.sources.Tables.table

/** Text-analysis operators for a training-data pipeline: language ID
  * (stopword heuristic), quality scoring, token counting, document
  * fingerprinting. All pure columnar expressions (whole-stage codegen);
  * every rule is deterministic integer/regex arithmetic so the DuckDB
  * oracle reproduces it bit-for-bit. */
object TextAnalysis {

  // Keep regex syntax in the common Java/RE2 subset (no lookaround).
  // Two spellings of the same regex: Spark SQL string literals process
  // backslash escapes ('\b' -> backspace!), DuckDB's do not.
  private val EnStopSpark = "\\\\b(the|a|of|and|to|in|is|on|for|with)\\\\b"
  private val EnStop = "\\b(the|a|of|and|to|in|is|on|for|with)\\b"
  private val Punct = "[.,!?;:]"

  /** tx19's seeded deterministic shard + write position, appended to any
    * frame carrying `doc_id` (other columns ride through): h = md5 over
    * seed + doc_id (stable across runs AND cluster layouts, unlike any
    * rand()), shard = h's first `nibbles` hex chars, pos = rank within
    * the shard by (h, doc_id). Shared by tx19/tx37 and the qp01/qp02/
    * qp03/qp06 manifests.
    *
    * `nibbles` is the SHARD-WIDTH knob (r18 verdict #4): one nibble = 16
    * shards = 16 reducer tasks under the rank window — right for the
    * fixture and for oracle stability, but at 100 TB that is ~6 TB
    * through each reducer. Production runs 2–4 nibbles (256–65,536
    * shards); the rank SEMANTICS are nibble-count-independent — widening
    * the prefix only REFINES the shards (every w+1-nibble shard is a
    * subset of its w-nibble parent) and the within-shard order is the
    * same (h, doc_id) sort at every width, so two docs sharing the wider
    * shard keep their relative order from the narrower one
    * (TextAnalysisSpec pins both properties). */
  private[graft] def seededShardPos(df: DataFrame, nibbles: Int = 1): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val h = md5(concat(lit("s42:"), col("doc_id").cast("string")).cast("binary"))
    df.withColumn("h", h)
      .withColumn("shard", substring(col("h"), 1, nibbles))
      .withColumn("pos",
        row_number().over(W.partitionBy("shard").orderBy("h", "doc_id")))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Language ID: stopword-density heuristic over lowered text.
    "tx01_langid" -> ((s, dir) => {
      table(s, dir, "documents")
        .withColumn("words", size(split(col("text"), " ")))
        .withColumn("en_hits", size(expr(s"regexp_extract_all(lower(text), '$EnStopSpark', 0)")))
        .select(
          col("doc_id"),
          col("en_hits"),
          (col("en_hits") / col("words")).as("en_density"),
          when(col("en_hits") >= 3, "en").otherwise("und").as("lang_pred"))
        .orderBy("doc_id")
    }),

    // Quality scoring: length / punctuation / stopword / shortword ratios.
    "tx02_quality" -> ((s, dir) => {
      table(s, dir, "documents")
        .withColumn("n_len", length(col("text")))
        .withColumn("n_words", size(split(col("text"), " ")))
        .withColumn("n_punct", size(expr(s"regexp_extract_all(text, '$Punct', 0)")))
        .withColumn("n_stop", size(expr(s"regexp_extract_all(lower(text), '$EnStopSpark', 0)")))
        .withColumn("n_short", size(expr(
          "filter(split(text, ' '), w -> length(w) <= 2)")))
        .select(
          col("doc_id"), col("n_len"), col("n_words"),
          (col("n_len") / col("n_words")).as("avg_word_len"),
          (col("n_punct") / col("n_len")).as("punct_ratio"),
          (col("n_stop") / col("n_words")).as("stop_ratio"),
          (col("n_short") / col("n_words")).as("short_ratio"),
          // composite: high stopword share good, too-short words bad
          ((col("n_stop") / col("n_words")) * 2.0
            - (col("n_short") / col("n_words"))).as("quality"))
        .orderBy("doc_id")
    }),

    // Token counting: whitespace tokens + a BPE-ish lexical split.
    "tx03_token_count" -> ((s, dir) => {
      table(s, dir, "documents")
        .select(
          col("doc_id"),
          size(split(col("text"), "\\s+")).as("ws_tokens"),
          size(expr(
            "regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)")).as("lex_tokens"),
          (length(col("text")) / lit(4.0)).as("approx_llm_tokens")) // chars/4 rule of thumb
        .orderBy("doc_id")
    }),

    // PII-style redaction: regex masking of emails / phone-like numbers /
    // long digit runs (the text side of a training-data scrubbing pass).
    "tx05_redact" -> ((s, dir) => {
      // inputs have no real PII; synthesize some deterministically
      table(s, dir, "documents")
        .withColumn("dirty", concat(col("text"),
          lit(" contact me at user"), col("doc_id"), lit("@mail.example.com or +7 915 "),
          col("n_chars"), lit("-"), col("doc_id")))
        .select(
          col("doc_id"),
          regexp_replace(
            regexp_replace(col("dirty"),
              "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
            "\\+?[0-9][0-9 ()-]{6,}[0-9]", "<PHONE>").as("clean"),
          (col("dirty") =!= regexp_replace(col("dirty"),
            "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>")).as("had_email"))
        .orderBy("doc_id")
    }),

    // Fingerprinting: exact content hash + order-insensitive bag hash.
    "tx04_fingerprint" -> ((s, dir) => {
      table(s, dir, "documents")
        .select(
          col("doc_id"),
          md5(lower(trim(col("text"))).cast("binary")).as("content_fp"),
          md5(concat_ws(" ", array_sort(split(col("text"), " "))).cast("binary")).as("bag_fp"))
        .orderBy("doc_id")
    }),

    // The composed training-corpus preparation pass — the end-to-end shape
    // an LLM-data pipeline actually runs, as ONE declared query: language
    // gate (stopword density, tx01's rule) → length gate → quality gate
    // (tx02's composite) → exact dedup keep-first (dd01/e10's rule) →
    // training-ready docs with their token budget. One scan, all gates are
    // codegen'd predicates on it; the only exchange is the dedup window's
    // hash partition on the 16-byte fingerprint. At sf0.01: 500 → 298
    // (lang) → 296 (length) → 54 (quality) → 54 (this corpus has no exact
    // dups — the dedup stage is load-bearing on real corpora and covered
    // by synthetic tests).
    "tx07_corpus_prep" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val scored = table(s, dir, "documents")
        .withColumn("n_words", size(split(col("text"), " ")))
        .withColumn("en_hits", size(expr(s"regexp_extract_all(lower(text), '$EnStopSpark', 0)")))
        .withColumn("n_short", size(expr("filter(split(text, ' '), w -> length(w) <= 2)")))
        .withColumn("quality",
          (col("en_hits") * lit(2.0) / col("n_words"))
            - (col("n_short").cast("double") / col("n_words")))
        .withColumn("fp", md5(lower(trim(col("text"))).cast("binary")))
      val w = Window.partitionBy("fp").orderBy("doc_id")
      scored
        .filter(col("en_hits") >= 3)
        .filter(col("n_words") >= 20)
        .filter(col("quality") >= 0.15)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("n_words").as("tokens"), col("quality"), col("fp"))
        .orderBy("doc_id")
    }),

    // Content-defined chunking (rolling-hash fingerprints): per doc, the
    // chunk inventory plus corpus-level chunk-dedup stats — the rsync/LBFS
    // primitive that lets near-identical documents share storage/compute at
    // chunk granularity (shifted text still dedups, unlike fixed blocks).
    // Rows-only (the rolling hash is a JVM loop); SketchSpec asserts exact
    // tiling, determinism, and the edit-locality property.
    // Repetition signals (the Gopher/C4-style quality filters): the
    // within-document duplicate-trigram fraction and the single most
    // frequent word's share of the document. Both catch degenerate
    // machine-generated or boilerplate text that length/stopword gates
    // (tx02) miss. Two narrow per-doc aggregations + one join on doc_id —
    // embarrassingly parallel, no cross-document state at any scale.
    // Fractions are single divisions of exact integer counts, so the
    // doubles are bitwise engine-reproducible. Docs too short to have a
    // trigram (< 3 words) carry no repetition evidence and are absent, in
    // both engines, by the same construction.
    "tx11_repetition" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      val g = d
        .select(col("doc_id"),
          graft.functions.WordNgrams(col("text"), 3).as(Seq("pos", "ngram")))
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("int").as("n_grams"),
          countDistinct(col("ngram")).cast("int").as("n_distinct"))
      val w = d.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(max("c").cast("int").as("top_word"), sum("c").cast("int").as("n_words"))
      g.join(w, "doc_id")
        .select(col("doc_id"), col("n_grams"),
          ((col("n_grams") - col("n_distinct")).cast("double") / col("n_grams"))
            .as("dup_gram_frac"),
          (col("top_word").cast("double") / col("n_words")).as("top_word_frac"))
        .withColumn("flagged",
          col("dup_gram_frac") > 0.2 || col("top_word_frac") > 0.2)
        .orderBy("doc_id")
    }),

    // Eval-set decontamination — the screening step every LLM data
    // pipeline runs before training: flag corpus documents that share
    // >= minShared distinct word trigrams with any held-out eval document
    // (here: doc_id % 50 == 0 plays the eval set). Same inverted-index
    // shape as dd03: explode grams, equi-join on the gram, count shared
    // grams per (corpus, eval) pair — a pair only materializes if at
    // least one gram collides. The gram index is df-capped through
    // capHotKeys (cap 64, observable refusals) so a boilerplate trigram
    // shared by k documents can never own a k² slice of the join; the
    // oracle mirrors the cap exactly (dd06's playbook). Gram STRINGS here
    // keep the query oracle-checkable; the 100 TB form ships 8-byte
    // shingle hashes instead (dd03/dd06's SketchExprs path).
    "tx10_decontaminate" -> ((s, dir) => {
      val minShared = 3
      val cap = 64L
      val grams = table(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.WordNgrams(col("text"), 3).as(Seq("pos", "ngram")))
        .select("doc_id", "ngram").distinct()
      val kept = Layout.capHotKeys(grams, Seq("ngram"), cap, tag = "decontam.grams")
      val ev = kept.filter(col("doc_id") % 50 === 0)
        .select(col("doc_id").as("eval_id"), col("ngram"))
      val corpus = kept.filter(col("doc_id") % 50 =!= 0)
        .select(col("doc_id").as("corpus_id"), col("ngram"))
      corpus.join(ev, "ngram")
        .groupBy("corpus_id", "eval_id")
        .agg(count(lit(1)).cast("int").as("shared_grams")) // inputs distinct
        .filter(col("shared_grams") >= minShared)
        .orderBy("corpus_id", "eval_id")
    }),

    // tx10's 100 TB form — the hashed-gram decontamination twin (dd03→dd06
    // precedent: oracle demo + declared scale twin). Identical df-capped
    // inverted-index shape over the SAME gram stream as tx10, hashed:
    // SketchExprs.ngramHashes replays WordNgrams' exact tokenization
    // (split limit -1, NOTHING for <3-word docs — deliberately NOT
    // shingleHashes, whose tokenizer drops trailing empty tokens and
    // emits a whole-text shingle for short docs; a first cut used it and
    // the pair sets were equal only by luck of the gate corpus's shape)
    // and emits the distinct 8-byte XXH64s from one codegen'd JVM loop —
    // hashing the distinct grams ≡ distinct hashes of the grams, so the
    // (corpus_id, eval_id) pair set equals tx10's BY CONSTRUCTION unless
    // a 64-bit collision merges two distinct trigrams. Gram STRINGS never
    // leave the loop: the exploded index, the df-cap window, and the
    // corpus×eval join all key on a fixed 8 bytes instead of ~25 bytes of
    // text — at 100 TB, the difference between shuffling the corpus's
    // text and shuffling a fixed-width index. Same cap (64), same
    // threshold (>= 3). TextAnalysisSpec asserts exact pair-set equality
    // on the gate corpus (and held through 2.6M grams at 10x, SOAK_r07).
    // Rows-only (no xxhash64 in DuckDB).
    "tx12_decontaminate_hashed" -> ((s, dir) => {
      val minShared = 3
      val cap = 64L
      val grams = table(s, dir, "documents")
        .select(col("doc_id"),
          explode(graft.functions.SketchExprs.ngramHashes(col("text"), 3)).as("h"))
      val kept = Layout.capHotKeys(grams, Seq("h"), cap, tag = "decontam.hashes")
      val ev = kept.filter(col("doc_id") % 50 === 0)
        .select(col("doc_id").as("eval_id"), col("h"))
      val corpus = kept.filter(col("doc_id") % 50 =!= 0)
        .select(col("doc_id").as("corpus_id"), col("h"))
      corpus.join(ev, "h")
        .groupBy("corpus_id", "eval_id")
        .agg(count(lit(1)).cast("int").as("shared_grams")) // hashes distinct per doc
        .filter(col("shared_grams") >= minShared)
        .orderBy("corpus_id", "eval_id")
    }),

    // Training-mix balancing: cap every (lang, source) stratum's share of
    // the mix at K documents, preferring longer documents (deterministic
    // doc_id tiebreak) — the per-domain quota a 100 TB mixing job applies
    // so no single crawl source dominates the training set. One window
    // pass per stratum; Spark plans the rank filter as WindowGroupLimit,
    // so each partition keeps a K-row heap instead of fully sorting —
    // no global sort, no collect, shuffle only on the stratum key.
    "tx09_quota_mix" -> ((s, dir) => {
      val k = 20
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lang", "source")
        .orderBy(col("len").desc, col("doc_id"))
      table(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"),
          length(col("text")).as("len"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= k)
        .select("doc_id", "lang", "source", "len", "rk")
        .orderBy("lang", "source", "rk")
    }),

    // Deterministic content-hash train/val/test split — the assignment
    // must be a pure function of CONTENT (not row order, not partition
    // count, not a seed table) so it is reproducible across runs,
    // engines, and corpus growth, and so exact duplicates land in the
    // same fold (no train/test leakage through dups). First hex nibble
    // of the content fingerprint: 0-c train (~81%), d-e val (~12.5%),
    // f test (~6%). Embarrassingly parallel — no shuffle at all before
    // the gate's orderBy.
    // The WHOLE training-data pipeline as ONE declared query — the
    // manifest a trainer actually consumes, produced by one Catalyst plan
    // instead of five orchestrated jobs: tx07's quality gate + exact
    // keep-first (stage 1) → dd10's LSH-pruned exact-verified fuzzy dedup
    // on the gated survivors (stage 2; per-doc signatures don't depend on
    // the corpus, so the gate-scale recall-1 license transfers to the
    // subset) → tx10's df-capped trigram decontamination against the
    // held-out eval cut, dropping both the eval docs and every survivor
    // sharing ≥3 capped grams with one (stage 3) → tx13's content-hash
    // fold boundary, train fold only (stage 4) → tx19's seeded
    // deterministic shard + rank-within-shard (stage 5). Output:
    // (doc_id, shard, pos) — rerunning the pipeline yields byte-identical
    // shards, the reproducibility contract end to end. Composing in one
    // plan keeps every intermediate distributed — no orchestration layer
    // materializes anything between stages. (It does NOT dedupe the
    // source scans: the plan carries one columnar parquet read per stage
    // subtree — cheap here; a production run over 100 TB would persist
    // the gated set once, the dd07/dd08 staging note.) Hash-exact: the
    // oracle is the five stages' proven mirrors chained as CTEs.
    "qp01_training_manifest" -> ((s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      // (r19 optimization note) deliberately NOT pre-spread: a doc_id-
      // keyed repartition elides the gram distinct's exchange but that
      // exchange is the ReusedExchange point the gram consumers share
      // (measured 5.5 → 6.7 s, CPU 3×, without it), and an unkeyed
      // spread parallelizes the regex pass without moving the wall
      // (measured flat at 5.3-5.8 s) — qp01's cost sits in its many
      // small fuzzy-gate stages, not in the scan-side map work.
      val docs = table(s, dir, "documents")
      val scored = docs
        .withColumn("n_words", size(split(col("text"), " ")))
        .withColumn("en_hits", size(expr(s"regexp_extract_all(lower(text), '$EnStopSpark', 0)")))
        .withColumn("n_short", size(expr("filter(split(text, ' '), w -> length(w) <= 2)")))
        .withColumn("quality",
          (col("en_hits") * lit(2.0) / col("n_words"))
            - (col("n_short").cast("double") / col("n_words")))
        .withColumn("fp", md5(lower(trim(col("text"))).cast("binary")))
      val gated = scored
        .filter(col("en_hits") >= 3 && col("n_words") >= 20 && col("quality") >= 0.15)
        .withColumn("rn", row_number().over(W.partitionBy("fp").orderBy("doc_id")))
        .filter(col("rn") === 1)
        .select("doc_id", "text")
      val kept = Dedup.fuzzyDedupSurvivors(gated).select("doc_id")
      val grams = docs
        .select(col("doc_id"), graft.functions.WordNgrams(col("text"), 3).as(Seq("pos", "ngram")))
        .select("doc_id", "ngram").distinct()
      val keptGrams = Layout.capHotKeys(grams, Seq("ngram"), 64L, tag = "qp01.grams")
      val flagged = keptGrams.filter(col("doc_id") % 50 =!= 0)
        .select(col("doc_id").as("corpus_id"), col("ngram"))
        .join(keptGrams.filter(col("doc_id") % 50 === 0)
          .select(col("doc_id").as("eval_id"), col("ngram")), "ngram")
        .groupBy("corpus_id", "eval_id").agg(count(lit(1)).as("sg"))
        .filter(col("sg") >= 3)
        .select(col("corpus_id").as("doc_id")).distinct()
      val clean = kept.filter(col("doc_id") % 50 =!= 0)
        .join(flagged, Seq("doc_id"), "left_anti")
      val train = clean.join(docs.select("doc_id", "text"), Seq("doc_id"))
        .filter(!substring(md5(lower(trim(col("text"))).cast("binary")), 1, 1)
          .isin("d", "e", "f"))
        .select("doc_id")
      seededShardPos(train.select("doc_id"))
        .select("doc_id", "shard", "pos")
        .orderBy("doc_id")
    }),

    // The MULTILINGUAL training manifest — qp01's composition discipline
    // over the r12 operators, as ONE declared query/plan: dd15's
    // containment dedup first (dedup BEFORE sampling, so a doc and its
    // extended copy cannot double-fill a language budget), tx24's α=1/2
    // temperature budgets recomputed over the SURVIVOR language counts
    // (budgets must reflect what sampling actually draws from), tx13's
    // content-hash train fold (leakage-proof through any exact dups the
    // containment pass kept as canonical), tx19's seeded shard + rank.
    // Every stage is hash-exact, so unlike qp01 (whose dd10 stage is
    // licensed by a recall spec) the WHOLE chained-CTE oracle mirrors
    // bit-for-bit from first principles. Rerun ⇒ byte-identical shards.
    "qp02_multilingual_manifest" -> ((s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val kept = Dedup.queries("dd15_contained_docs")(s, dir)
        .filter(col("action") === "keep").select("doc_id")
      val d = table(s, dir, "documents").join(kept, "doc_id")
        .select(col("doc_id"), col("lang"),
          md5(lower(trim(col("text"))).cast("binary")).as("fp"))
      val budgets = d.groupBy("lang").agg(count(lit(1)).as("n_lang"))
        .withColumn("budget",
          least(col("n_lang"), (floor(sqrt(col("n_lang"))) * 4).cast("long")))
      val mixed = d
        .withColumn("rk", row_number().over(
          W.partitionBy("lang").orderBy(col("fp"), col("doc_id"))))
        .join(broadcast(budgets), "lang")
        .filter(col("rk") <= col("budget"))
      val train = mixed.filter(!substring(col("fp"), 1, 1).isin("d", "e", "f"))
      seededShardPos(train.select(col("doc_id"), col("lang")))
        .select("doc_id", "lang", "shard", "pos")
        .orderBy("doc_id")
    }),

    // The INCREMENTAL (nightly-ingest) manifest — qp01's composition
    // discipline over the r12 incremental family, as ONE declared query:
    // what tonight's batch (odd doc_ids) contributes to the training
    // corpus, with every corpus-side cost a persisted-index probe.
    // Stage 1: dd07's exact gate (fp anti-join vs the existing corpus +
    // keep-first within the batch). Stage 2: dd11's greedy fuzzy-ingest
    // rule applied to the exact survivors ([[graft.operators.Dedup
    // .incrementalFuzzyKeep]] — banded probe of the persisted LSH index,
    // exact verify, touched-subgraph CC; the gate-scale recall-1 license
    // transfers to the subset because per-doc signatures don't depend on
    // the corpus, qp01's argument). Stage 3: dd17's substring surgery on
    // the ACCEPTED docs only (a span duplicated solely against a
    // rejected batch doc is NOT cut — the rejected copy never lands), so
    // each accepted doc gets its post-cut token count, the number a
    // token-budgeted trainer actually ingests. Stage 4: tx13's
    // content-hash train fold (leakage-proof through dups). Stage 5:
    // tx19's seeded shard + rank. Output: (doc_id, shard, pos,
    // n_tokens_kept) — rerun ⇒ byte-identical, and appending the same
    // batch twice would contribute nothing (every doc is an exact dup of
    // its first ingest). Hash-exact under dd11's recall license: the
    // oracle chains the proven dd07/dd11/dd17/tx13/tx19 mirrors as CTEs.
    "qp03_incremental_manifest" -> ((s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val d = table(s, dir, "documents")
        .select(col("doc_id"), col("text"),
          md5(lower(trim(col("text"))).cast("binary")).as("fp"))
      val existing = d.filter(col("doc_id") % 2 === 0)
      val batch = d.filter(col("doc_id") % 2 === 1)
      val exact = batch.join(existing.select("fp"), Seq("fp"), "left_anti")
        .withColumn("rn", row_number().over(W.partitionBy("fp").orderBy("doc_id")))
        .filter(col("rn") === 1)
        .select("doc_id", "text")
      // The accepted-id set is consumed THREE times (window semi-join,
      // doc-sidecar semi-join, train-fold join); without materialization
      // each consumer re-runs the whole exact+fuzzy gate lineage (the CC
      // loop inside incrementalFuzzyKeep is already checkpoint-backed,
      // but the signature scan and probe joins above it are not) —
      // measured 3× the suite's dd11 cost at sf0.1. The frame is id-only
      // (batch-survivor-sized). LAZY checkpoint (r12 advice): eager ran
      // the whole exact+fuzzy gate as a side effect of merely BUILDING
      // this frame, so every plan-only inspection (bench action probe,
      // plan census) paid the full LSH+CC cost; with eager=false the
      // lineage still truncates at the first action and the three
      // consumers share the materialized blocks, but construction is
      // side-effect-free.
      val accepted =
        graft.Ckpt.lazyCheckpoint(
          Dedup.incrementalFuzzyKeep(s, dir, exact), "qp03.accepted")
      // one batchToks frame feeds both derivations (r20) — see its doc
      val btoks = Dedup.batchToks(s, dir)
      val ad = Dedup.batchDocs(btoks)
        .join(accepted, Seq("doc_id"), "left_semi")
      val stats = Dedup.incrementalSubstringStats(s, dir,
        Dedup.batchWindows(btoks).select("doc_id", "pos", "h")
          .join(accepted, Seq("doc_id"), "left_semi"),
        ad)
      val tokensKept = ad.join(stats.select("doc_id", "n_cut_tokens"), "doc_id")
        .select(col("doc_id"),
          (col("n_ws") - col("n_cut_tokens")).cast("int").as("n_tokens_kept"))
      val train = accepted.join(batch.select("doc_id", "fp"), "doc_id")
        .filter(!substring(col("fp"), 1, 1).isin("d", "e", "f"))
      seededShardPos(train.select("doc_id"))
        .join(tokensKept, "doc_id")
        .select("doc_id", "shard", "pos", "n_tokens_kept")
        .orderBy("doc_id")
    }),

    // The DECONTAMINATED manifest (r13) — qp01's composition with tx30's
    // SURGICAL decontamination in place of tx10's doc-drop: a doc that
    // merely QUOTES an eval passage keeps its clean remainder instead of
    // being thrown away (the Lee et al. 2021 argument applied across the
    // fold boundary), and the manifest carries each survivor's POST-CUT
    // token count — the number a token-budgeted trainer actually
    // ingests, qp03's convention. Stages: tx07-style quality gate +
    // exact keep-first → dd10's fuzzy dedup on the gated survivors
    // (recall-1 license transfers, qp01's argument) → tx30's span cut
    // vs the frozen eval slice (doc_id % 10 = 0) of the persisted
    // window index, survivors dropped ONLY when the clean remainder
    // falls under 20 tokens (a doc that is mostly eval text cannot ride
    // in on a 5-token stub; exact integer rule) → tx13's train fold →
    // tx19's seeded shard + rank. Output: (doc_id, shard, pos,
    // n_tokens_kept); rerun ⇒ byte-identical shards. Hash-exact under
    // dd10's recall license; every other stage mirrors from first
    // principles.
    "qp04_decontaminated_manifest" -> ((s, dir) => decontaminatedManifest(s, dir)),

    // The GOPHER-screened manifest (qp06, r14) — the heuristic pre-dedup
    // screen as production runs it, composed end-to-end as ONE declared
    // plan: tx34's document-shape rules FIRST (pure map-side — the
    // cheapest stage goes first, so everything downstream reads fewer
    // rows; stop-word floor at 1, the configurable-knob disposition in
    // [[gopherQuality]]'s scaladoc), tx33's repetition rules on the
    // survivors (the (doc, n, gram) aggregate now runs over the screened
    // subset only), exact keep-first dedup by content fingerprint (dups
    // cannot double-fill shards), tx13's content-hash train fold
    // (leakage-proof through the dups the keep-first pass kept as
    // canonical), tx19's seeded shard + rank. Every stage is hash-exact
    // — unlike qp01 there is no fuzzy stage, so the WHOLE chained-CTE
    // oracle mirrors bit-for-bit from first principles. Rerun ⇒
    // byte-identical shards. Shape at 100 TB: one map-side screen, one
    // (doc, n, gram) exchange over survivors, one fp window, one shard
    // exchange — strictly cheaper than qp01's chain.
    "qp06_gopher_manifest" -> ((s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      // repartition by doc_id BEFORE the map-side shape screen (r19
      // optimization): tx34's per-row rules and tx33's tokenize both
      // parallelize past the scan's split count (single-task on the
      // one-row-group fixtures), and the SAME exchange then serves
      // gopherRepetition's doc_id-keyed aggregates — see its scaladoc.
      // tx34's own declared query stays exchange-free; only this
      // composition pays the one up-front exchange.
      val shaped = gopherQuality(
          table(s, dir, "documents")
            .repartition(s.sparkContext.defaultParallelism, col("doc_id")),
          minStopWords = 1)
        .filter(col("keep")).select("doc_id", "text")
      val screened = gopherRepetition(shaped)
        .filter(col("keep")).select("doc_id")
      val first = shaped.join(screened, "doc_id")
        .select(col("doc_id"),
          md5(lower(trim(col("text"))).cast("binary")).as("fp"))
        .withColumn("rn",
          row_number().over(W.partitionBy("fp").orderBy("doc_id")))
        .filter(col("rn") === 1)
      val train = first.filter(!substring(col("fp"), 1, 1).isin("d", "e", "f"))
      seededShardPos(train.select("doc_id"))
        .select("doc_id", "shard", "pos")
        .orderBy("doc_id")
    }),

    // EVAL-SUITE screen report (qp07, r14) — the benchmark owner's QA
    // pipeline, the composition dual of qp04's trainer-side cut: ONE row
    // per eval doc (doc_id % 10 = 0) answering "can this benchmark score
    // be trusted against this training corpus?" — exact-substring leakage
    // (tx32's machinery collapsed to the doc grain: distinct leaked
    // windows, leaking sources, total train occurrences), fuzzy
    // near-duplication (tx31's cross-fold pairs aggregated to a count and
    // a max jaccard), and the triaged verdict production publishes with
    // an eval suite: 'exact' (verbatim 8-gram leak — the score is
    // invalid), 'near' (paraphrase-level overlap — flag for review),
    // 'clean'. Every eval doc appears, including clean ones — the roster
    // IS the deliverable. Hash-exact: the substring side is tx32's exact
    // integers, the fuzzy side tx31's licensed pairs with one int/int
    // IEEE division, max() over bit-stable doubles, verdict a CASE over
    // exact counts. Shape at 100 TB: tx32's aggregate-before-join
    // discipline (train side reduces to (h, source) counts before
    // meeting eval windows — never a pair expansion), dd10's banded LSH
    // under exact verify on the fuzzy side, then two LEFT joins on the
    // unique eval-doc key against the tiny eval roster.
    "qp07_eval_screen" -> ((s, dir) => {
      val K = Dedup.substringK
      val idx = Dedup.ddWinIndexPath(s, dir)
      val wins = Tables.parquet(s, s"$idx/wins").select("doc_id", "source", "h")
      val trainAgg = wins.filter(col("doc_id") % 10 =!= 0)
        .groupBy("h", "source").agg(count(lit(1)).as("n_occ"))
      val evalW = wins.filter(col("doc_id") % 10 === 0)
        .select(col("doc_id").as("eval_doc_id"), col("h")).distinct()
      val leak = evalW.join(trainAgg, "h")
        .groupBy("eval_doc_id")
        .agg(countDistinct("h").as("n_leaked_windows"),
          countDistinct("source").as("n_sources"),
          sum("n_occ").as("n_train_occurrences"))
      val fz = fuzzyCrossFoldPairs(s, dir)
        .groupBy(col("eval_id").as("eval_doc_id"))
        .agg(count(lit(1)).as("n_near_dup_train"),
          max("jaccard").as("max_jaccard"))
      Tables.parquet(s, s"$idx/docs")
        .filter(col("doc_id") % 10 === 0)
        .select(col("doc_id").as("eval_doc_id"),
          greatest(col("n_ws") - (K - 1), lit(0)).cast("int").as("n_windows"))
        .join(leak, Seq("eval_doc_id"), "left")
        .join(fz, Seq("eval_doc_id"), "left")
        .withColumn("n_leaked_windows", coalesce(col("n_leaked_windows"), lit(0L)))
        .withColumn("n_sources", coalesce(col("n_sources"), lit(0L)))
        .withColumn("n_train_occurrences",
          coalesce(col("n_train_occurrences"), lit(0L)))
        .withColumn("n_near_dup_train", coalesce(col("n_near_dup_train"), lit(0L)))
        .withColumn("verdict",
          when(col("n_leaked_windows") > 0, "exact")
            .when(col("n_near_dup_train") > 0, "near")
            .otherwise("clean"))
        .select("eval_doc_id", "n_windows", "n_leaked_windows", "n_sources",
          "n_train_occurrences", "n_near_dup_train", "max_jaccard", "verdict")
        .orderBy("eval_doc_id")
    }),

    // PROPORTIONAL quality gate — the pruning form production filters
    // actually use (keep the top q% by score, per language), beside
    // tx09's fixed-k quota: a fixed k misjudges corpora whose language
    // sizes differ by orders of magnitude, a proportion tracks them.
    // Keeps the top 30% per language by tx02's composite quality,
    // ceil'd in exact integer arithmetic ((3n+9) div 10) with doc_id
    // breaking score ties, so the kept SET is bit-deterministic
    // cross-engine (the score itself is int/int IEEE divisions — tx02's
    // hashed oracle already pins both engines compute it identically).
    // Shape at 100 TB: one rank exchange on lang — tx24's disposition:
    // a language partition is a skew hazard at extreme scale; the
    // production form that replaces the exact rank with a two-pass
    // quantile threshold is DECLARED as tx28 below (r13), the same
    // trade dd06 makes with its cap.
    "tx26_percentile_gate" -> ((s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      table(s, dir, "documents")
        .withColumn("n_words", size(split(col("text"), " ")))
        .withColumn("n_stop",
          size(expr(s"regexp_extract_all(lower(text), '$EnStopSpark', 0)")))
        .withColumn("n_short",
          size(expr("filter(split(text, ' '), w -> length(w) <= 2)")))
        .withColumn("quality",
          (col("n_stop") / col("n_words")) * 2.0
            - (col("n_short") / col("n_words")))
        .withColumn("q_rank", row_number().over(
          W.partitionBy("lang").orderBy(col("quality").desc, col("doc_id"))))
        .withColumn("n_lang", count(lit(1)).over(W.partitionBy("lang")))
        // exact INTEGER division on both engines (`div` here, `//` in the
        // oracle) — a double-path ceil would hit DuckDB's round-on-cast
        // vs Spark's truncate-on-cast
        .filter(expr("q_rank <= (n_lang * 3 + 9) div 10"))
        .select(col("doc_id"), col("lang"), col("quality"),
          col("q_rank"), col("n_lang").cast("long").as("n_lang"))
        .orderBy("doc_id")
    }),

    // Long-document CHUNKING into fixed-budget training sequences — the
    // step every pretraining pipeline runs between documents and
    // sequences: a doc longer than the budget becomes ⌈n/B⌉ chunks
    // (ceil in exact int arithmetic), each with its token offset and
    // length, the final partial chunk emitted with its true length so
    // both downstream policies (drop-tail, pack-tail) are derivable.
    // B = 64 tokens keeps gate corpora (10-100 words/doc) exercising
    // multi-chunk splitting. Embarrassingly parallel — pure per-row
    // arithmetic + explode, no exchange before the declared orderBy;
    // zero-token docs yield no chunks.
    "tx27_sequence_chunks" -> ((s, dir) => {
      val B = 64
      table(s, dir, "documents")
        .select(col("doc_id"),
          size(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("n_ws"))
        .filter(col("n_ws") > 0)
        .select(col("doc_id"), col("n_ws"),
          explode(expr(s"sequence(0, cast((n_ws + ${B - 1}) div $B AS INT) - 1)"))
            .as("chunk_idx"))
        .select(col("doc_id"), col("n_ws"), col("chunk_idx"),
          (col("chunk_idx") * B + 1).as("start_tok"),
          least(lit(B), col("n_ws") - col("chunk_idx") * B).cast("int").as("n_tok"))
        .orderBy("doc_id", "chunk_idx")
    }),

    // tx26's PRODUCTION form (r12 verdict #3): the same top-30%-per-lang
    // cut WITHOUT the full-corpus rank exchange on lang — at extreme
    // scale a language partition is a skew hazard (one dominant language
    // = one straggler partition holding most of the corpus). Two-pass
    // threshold, kept EXACT so it stays hashable (approx_percentile's
    // merge is partitioning-dependent and un-mirrorable): pass 1
    // aggregates per-(lang, quality) COUNTS — a distinct-values-sized
    // frame, not a corpus-sized one — and a window over that small frame
    // finds each language's exact cutoff value, rows-strictly-above
    // count, and quota k = (3n+9) div 10; pass 2 re-scans with a
    // BROADCAST of the one-row-per-lang threshold table and keeps
    // quality > cutoff map-side (no exchange at all), while the
    // residual rank that resolves the doc_id tie-break runs only over
    // rows EXACTLY AT the cutoff — per language, the ties at one double
    // value, a vanishingly small exchange. Same kept set as tx26 by
    // construction (spec-pinned); the cost moves from rank-exchanging
    // the corpus to one small agg + one broadcast + scans.
    "tx28_quantile_gate" -> ((s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val scored = qualityScored(table(s, dir, "documents"))
      val thr = qualityThresholds(scored)
      // Pass 2 is ONE scan (the r13 soak caught the first cut paying two —
      // separate above/tied branches re-ran the regex scoring per branch,
      // 3 scans total, and lost to tx26 outright at zipf0.5): keep
      // quality >= cutoff map-side (~the quota fraction survives), then
      // rank within (lang, quality) — for above-cutoff rows the rank is
      // irrelevant (first disjunct keeps them), for AT-cutoff rows it IS
      // the doc_id tie-break. The exchange carries only the kept
      // fraction, partitioned by (lang, quality) — strictly finer than
      // tx26's lang partitioning, so a dominant language still cannot
      // produce a straggler partition (ties at one double value bound it).
      scored.join(broadcast(thr), "lang")
        .filter(col("quality") >= col("thr_q"))
        .withColumn("tie_rnk", row_number().over(
          W.partitionBy("lang", "quality").orderBy("doc_id")))
        .filter(col("quality") > col("thr_q") ||
          col("tie_rnk") <= col("k") - col("c_above"))
        .select(col("doc_id"), col("lang"), col("quality"),
          col("n_lang").cast("long").as("n_lang"))
        .orderBy("doc_id")
    }),

    // CCNet-style PERPLEXITY BUCKETING (Wenzek et al. 2020: corpus split
    // into head/middle/tail by LM-score terciles, trainers then sample
    // per bucket) — declared with an EXACT-INTEGER commonness score so
    // the buckets are hash-exact, the tx18e/tx23e evidence discipline:
    // score = (Σ_tokens corpus_count(token)) * 1e6 div n_tokens, the
    // per-token mean corpus frequency in millionths (a monotone proxy
    // for unigram log-prob's ORDERING is not needed — the bucket rule is
    // defined ON this score, so there is no float anywhere). Tercile
    // boundary VALUES come from the tx28 two-pass machinery collapsed to
    // one global row: per-score counts (distinct-values-sized), running
    // sum in score-desc order, t1/t2 = the scores where the cumulative
    // first reaches ceil(n/3) / ceil(2n/3); assignment is then a
    // map-side CASE against the broadcast 1-row thresholds — docs AT a
    // boundary fall to the lower bucket (value-based binning like
    // CCNet's, deterministic without any residual rank). Zero-token docs
    // are excluded (no mean exists). Shape at 100 TB: one token-count
    // agg + one hash join on word + one doc agg + a tiny histogram
    // window + broadcast CASE — no corpus-wide rank; the 1e6 scale fits
    // long up to ~1e12-token corpora (past that, production widens to
    // DECIMAL(38,0) — same div semantics on both engines).
    "tx29_ppl_buckets" -> ((s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val tok = table(s, dir, "documents")
        .select(col("doc_id"),
          explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("w"))
      val cnt = tok.groupBy("w").agg(count(lit(1)).as("c"))
      val scores = tok.join(cnt, "w")
        .groupBy("doc_id")
        .agg(sum("c").as("sum_c"), count(lit(1)).as("n_tok"))
        .select(col("doc_id"),
          expr("(sum_c * 1000000) div n_tok").as("score"))
      val hist = scores.groupBy("score").agg(count(lit(1)).as("hcnt"))
        .withColumn("n", sum("hcnt").over(W.partitionBy()))
        .withColumn("cum", sum("hcnt").over(W.orderBy(col("score").desc)))
      val thr = hist.agg(
        max(when(col("cum") >= expr("(n + 2) div 3")
          && col("cum") - col("hcnt") < expr("(n + 2) div 3"), col("score"))).as("t1"),
        max(when(col("cum") >= expr("(2 * n + 2) div 3")
          && col("cum") - col("hcnt") < expr("(2 * n + 2) div 3"), col("score"))).as("t2"))
      // 1-row broadcast cross join — the tx18/tx20 corpus-totals pattern
      // (PlanCensusSpec allowlists these BNLJ sites explicitly)
      scores.crossJoin(broadcast(thr))
        .select(col("doc_id"), col("score"),
          when(col("score") > col("t1"), "head")
            .when(col("score") > col("t2"), "middle")
            .otherwise("tail").as("bucket"))
        .orderBy("doc_id")
    }),

    // Exact SUBSTRING decontamination (r13) — the Lee et al. 2021 /
    // GPT-3-style screening applied at the SPAN level: a training doc
    // that contains any K-token window appearing verbatim in a held-out
    // eval doc (doc_id % 10 == 0 — a 10% held-out slice; tx10/tx12 use
    // % 50, widened here so the gate corpus yields a non-trivial
    // contamination set to hash: 6 docs at sf0.01 vs 1 at % 50) is
    // contaminated, and the contaminated region — not the whole doc —
    // is what a surgical pipeline cuts. tx10 flags doc PAIRS on >= 3
    // shared trigrams; tx30 answers the finer operational question
    // "which spans do I remove so the train split provably contains no
    // eval K-gram", dd12's islands machinery pointed across the fold
    // boundary. Probes the SAME persisted window index as dd12-dd19
    // (built once per corpus snapshot): eval-side distinct hashes
    // semi-join the train-side occurrences on the 16-byte h — NO rank,
    // NO pair expansion (a hot eval window costs occurrence rows, never
    // eval_docs × train_docs pairs — the tx10 cap hazard never exists
    // here), then one per-doc window merges flagged positions into
    // maximal spans (starts < K apart overlap). Per-span counts ride
    // the same aggregation, so the whole query is one semi-join + one
    // per-doc window + one join to the doc sidecar. Shape at 100 TB:
    // one h-exchange over the train occurrences + a doc-partitioned
    // window — linear in corpus tokens, eval side is the tiny fraction.
    // Hash-exact: md5 windows, integer arithmetic, one int/int IEEE
    // division.
    "tx30_substring_decontam" -> ((s, dir) => {
      val K = Dedup.substringK
      val idx = Dedup.ddWinIndexPath(s, dir)
      val wins = Tables.parquet(s, s"$idx/wins")
        .select(col("doc_id"), col("pos"), col("h"))
      val evalH = wins.filter(col("doc_id") % 10 === 0).select("h").distinct()
      val occ = wins.filter(col("doc_id") % 10 =!= 0)
        .join(evalH, Seq("h"), "left_semi")
      contamSpanStats(occ, K)
        .join(Tables.parquet(s, s"$idx/docs")
          .select(col("doc_id"),
            greatest(col("n_ws") - (K - 1), lit(0)).cast("int").as("n_windows")),
          "doc_id")
        .select(col("doc_id"), col("n_windows"), col("n_contam_windows"),
          col("n_contam_spans"), col("n_cut_tokens"),
          (col("n_contam_windows") / col("n_windows")).as("contam_ratio"))
        .orderBy("doc_id")
    }),

    // FUZZY decontamination (r13) — the PaLM/GPT-4-style near-duplicate
    // screen between train and eval (eval = doc_id % 10 == 0, tx30's
    // slice): an eval doc whose shingle-set
    // jaccard with a training doc is >= 0.7 is contaminated even when
    // no K-gram matches verbatim (paraphrase, light edits). The dd10
    // machinery pointed across the fold boundary: MinHash signatures
    // over the WHOLE corpus in one scan, LSH banded candidate pairs
    // restricted to CROSS-fold pairs (one side eval, one side train),
    // exact-jaccard verification over the shingle-hash sidecars — LSH
    // is a candidate PRUNER under an exact verify, the banded equi-join
    // never goes all-pairs. Output is the contamination report a
    // pipeline acts on: (corpus_id, eval_id, jaccard). Hash-exact under
    // dd10's license: the gate-scale recall-1 spec is proven over ALL
    // pairs, so it transfers to the cross-fold subset; jaccard divides
    // two exact ints (distinct shingle hashes ≡ distinct shingles at
    // gate scale, the dd03 contract) so the double is bit-stable.
    "tx31_fuzzy_decontam" -> ((s, dir) =>
      fuzzyCrossFoldPairs(s, dir).orderBy("corpus_id", "eval_id")),

    // Contamination ATTRIBUTION (r14) — tx30 answers "which train spans
    // must be cut"; tx32 answers the question a benchmark owner asks
    // from the OTHER side of the fold: for each eval doc, WHICH training
    // sources contain its text, over how many distinct 8-grams, how many
    // times — the report that turns a contamination number into a
    // data-sourcing decision (drop the feed, not the doc). Probes the
    // same persisted window index. The structural guard is dd13's
    // aggregate-before-join discipline: the train side reduces to
    // (h, source) counts BEFORE meeting the eval side, so a corpus-hot
    // window fans out by ≤ |sources| per eval window — never by its
    // train occurrence count, and never an eval-doc × train-doc pair
    // expansion (the tx10 hazard, structurally absent like tx30's).
    // Shape at 100 TB: one h-exchange for the train aggregate, one for
    // the eval distinct, a sources-bounded join, one (eval_doc, source)
    // aggregate. All exact integers — hash-exact.
    "tx32_contam_attribution" -> ((s, dir) => {
      val idx = Dedup.ddWinIndexPath(s, dir)
      val wins = Tables.parquet(s, s"$idx/wins").select("doc_id", "source", "h")
      val trainAgg = wins.filter(col("doc_id") % 10 =!= 0)
        .groupBy("h", "source")
        .agg(count(lit(1)).as("n_occ"))
      val evalW = wins.filter(col("doc_id") % 10 === 0)
        .select(col("doc_id").as("eval_doc_id"), col("h")).distinct()
      evalW.join(trainAgg, "h")
        .groupBy("eval_doc_id", "source")
        .agg(countDistinct("h").as("n_shared_windows"),
          sum("n_occ").as("n_train_occurrences"))
        .orderBy("eval_doc_id", "source")
    }),

    // GOPHER repetition rules (tx33, r14) — the within-document
    // repetition filter of Rae et al. 2021 (Table A1), the screen every
    // production pretraining pipeline runs BEFORE the cross-document
    // dedup family: a doc whose own text loops (boilerplate, listing
    // spam, degenerate generation) is dropped on four signals — the
    // token fraction covered by the single most frequent {2,3,4}-gram
    // (counted only when it actually repeats, DataTrove's convention)
    // and the UNION token coverage of all 5-grams occurring twice or
    // more (dd12's islands math per doc: intervals [p, p+5) over sorted
    // duplicate positions, overlap never double-counted). Thresholds are
    // the paper's: top2 ≤ 0.20, top3 ≤ 0.18, top4 ≤ 0.16, dup5 ≤ 0.15.
    // Everything derives from exact integer counts; the fractions are
    // one int/int IEEE division each (the tx31 jaccard precedent), so
    // the report is hash-exact. Shape at 100 TB: one explode to ~4 rows
    // per token position, one (doc, n, gram) aggregate, two doc-keyed
    // reductions — per-doc state only, no cross-doc exchange at all
    // beyond the doc-keyed shuffles, no window over the corpus.
    // (r19) the doc_id repartition feeds gopherRepetition's doc-keyed
    // aggregates one deterministic text exchange up front — see its
    // scaladoc for why that REPLACES the exploded-gram exchange. The
    // partition count is EXPLICIT (defaultParallelism — total cores
    // here and on a cluster) because AQE coalesces this exchange by its
    // BYTES, which undercounts the work ~10-20×: each text byte fans
    // out to ~4 gram rows per token downstream, an explosion factor the
    // operator knows and the byte-based coalescer cannot.
    "tx33_gopher_repetition" -> ((s, dir) =>
      gopherRepetition(table(s, dir, "documents")
          .repartition(s.sparkContext.defaultParallelism, col("doc_id")))
        .orderBy("doc_id")),

    // GOPHER quality rules (tx34, r14) — the document-level heuristic
    // half of Rae et al. 2021 Table A1, tx33's companion (repetition
    // rules there, shape/symbol/stop-word rules here — together the
    // full pre-dedup screen): word count in [50, 100k], mean word
    // length in [3, 10], symbol-to-word ratio ('#' and ellipsis) <= 0.1,
    // <= 90% of lines bullet-led, <= 30% of lines ellipsis-ended,
    // >= 80% of words containing an alphabetic character, and >= 2
    // distinct stop words from the paper's 8-word list. Words are
    // whitespace-split (empties dropped) so multi-line text tokenizes
    // the same on both engines; every fraction divides two exact
    // integers once (tx31's precedent) so the report is hash-exact.
    // Shape at 100 TB: pure per-row expressions over one scan — no
    // exchange at all, the cheapest screen in the family, which is
    // exactly why production pipelines run it FIRST.
    "tx34_gopher_quality" -> ((s, dir) =>
      gopherQuality(table(s, dir, "documents"), minStopWords = 2)
        .drop("text").orderBy("doc_id")),

    // Per-document NOVELTY score (tx35, r14) — the memorization /
    // boilerplate signal at the doc grain dd16's per-source health
    // stats aggregate away: the fraction of a doc's K-token windows
    // whose hash occurs EXACTLY ONCE corpus-wide (the single occurrence
    // is the doc's own, so the window exists nowhere else). Near 1.0 is
    // novel prose; near 0.0 is template mass or a copy of corpus
    // content — the ranking signal a curation pass uses to pick what
    // dd12's surgery or dd14's policy cut should even look at. Probes
    // the same persisted window index: one h-aggregate for the global
    // occurrence counts, joined back to the windows (both sides already
    // partitioned by h), one doc-keyed reduction. Docs with fewer than
    // K tokens have no windows and are absent by semantics. Exact
    // integer counts + one int/int IEEE division — hash-exact.
    "tx35_novelty" -> ((s, dir) => {
      val idx = Dedup.ddWinIndexPath(s, dir)
      val wins = Tables.parquet(s, s"$idx/wins").select("doc_id", "h")
      val global = wins.groupBy("h").agg(count(lit(1)).as("n_occ"))
      wins.join(global, "h")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_windows"),
          sum(when(col("n_occ") === 1, 1L).otherwise(0L)).as("n_unique"))
        .withColumn("novelty", col("n_unique") / col("n_windows"))
        .orderBy("doc_id")
    }),

    "tx13_hash_split" -> ((s, dir) => {
      val nib = substring(md5(lower(trim(col("text"))).cast("binary")), 1, 1)
      table(s, dir, "documents")
        .select(col("doc_id"), nib.as("nibble"),
          when(nib.isin("d", "e"), "val")
            .when(nib === "f", "test")
            .otherwise("train").as("fold"))
        .orderBy("doc_id")
    }),

    // Deterministic global shuffle into training shards — the
    // reproducible data-order contract a trainer needs (rerunning the
    // pipeline must yield byte-identical shard files): every doc gets a
    // seeded pseudo-random key (md5 over seed + doc_id — stable across
    // runs AND cluster layouts, unlike any rand()), the key's first
    // nibble is the shard, and rank-within-shard is the write position.
    // Shape at 100 TB: ONE hash-partitioned exchange on the shard key,
    // then a per-shard sort — exactly the shuffle a sharded writer pays
    // anyway, never a global single-partition order. Changing the seed
    // literal reshuffles everything deterministically.
    "tx19_shuffle_shards" -> ((s, dir) =>
      seededShardPos(table(s, dir, "documents").select("doc_id"))
        .select("doc_id", "shard", "pos")
        .orderBy("doc_id")),

    // tx19 at PRODUCTION shard width (tx37, r19 — r18 verdict #4): the
    // same seeded shuffle cut on the hash's first TWO nibbles — 256
    // shards, so the rank window has 256 partitions instead of 16 (~6 TB
    // per reducer at 100 TB shrinks to ~400 GB; production picks 2–4
    // nibbles by corpus size). Declared with its own mirrored oracle so
    // the width knob is hash-checked, not just spec-asserted; see
    // [[seededShardPos]] for the width-independence contract.
    "tx37_shuffle_shards_wide" -> ((s, dir) =>
      seededShardPos(table(s, dir, "documents").select("doc_id"), nibbles = 2)
        .select("doc_id", "shard", "pos")
        .orderBy("doc_id")),

    // Token-budget sequence packing: assign contiguous (per-source,
    // doc_id-ordered) documents to fixed-budget training bins via an
    // exclusive running token sum — the packing map a trainer uses to
    // build ~2048-token sequences. Partitioned by source ON PURPOSE: a
    // global pack order would be a single-partition window (the 100 TB
    // anti-pattern); per-shard packing is what pipelines actually run,
    // and each shard's window is an independent partition of the
    // shuffle. Pure window arithmetic — bit-reproducible, oracle-exact.
    "tx14_pack_sequences" -> ((s, dir) => {
      val budget = 2048
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy("doc_id")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      table(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).as("tokens"))
        // offset/bin stay LONG: a 100 TB shard's cumulative token count
        // blows through 2^31 (an earlier cut cast both to int, which the
        // oracle mirrored — so the gate could never catch the overflow);
        // only per-doc tokens genuinely fits int.
        .withColumn("offset", coalesce(sum("tokens").over(w), lit(0)).cast("long"))
        .select(col("doc_id"), col("source"), col("tokens").cast("int").as("tokens"),
          floor(col("offset") / budget).as("bin"),
          (col("offset") % budget).as("bin_offset"))
        .orderBy("doc_id")
    }),

    // Real subword tokenization (vs tx03's chars/4 stand-in): greedy
    // longest-match against the corpus-derived bigram vocab — one round
    // of BPE, the minimal HONEST form of what a trainer's tokenizer does.
    // The count is a pure per-row codegen'd JVM loop (no shuffle before
    // the gate's orderBy); the vocab build is one distributed agg,
    // memoized per (process, dir) like the PQ codebook. Hash-exact: the
    // DuckDB oracle rebuilds the same vocab and replays the same scan via
    // a recursive CTE over DISTINCT words (token count is a function of
    // the word, so the recursion is vocabulary-sized, not corpus-sized —
    // the same trick a 100 TB job uses to tokenize hot words once).
    "tx15_subword_tokens" -> ((s, dir) => {
      val vocab = bigramVocab(s, dir)
      table(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.SubwordTokenizer.greedyTokenCount(col("text"), vocab)
            .cast("long").as("n_tokens"))
        .orderBy("doc_id")
    }),

    // Persisted TOKENIZER-ARTIFACT refresh (tx36, r14) — dd19's
    // refresh ≡ rebuild playbook applied to the tokenizer, on a STRONGER
    // license: tx15's vocab derives from bigram counts, and counts are
    // ADDITIVE sufficient statistics, so refreshing from (persisted
    // corpus-slice count sidecar + the batch's fresh counts) equals
    // rebuilding on the union BY ALGEBRA, not by fixture. The declared
    // query refreshes the vocab from the even-slice artifact + odd-batch
    // counts — the corpus slice's TEXT is never re-read for training —
    // and tokenizes the full corpus with it, sharing tx15's oracle
    // VERBATIM (the refreshed vocab IS the full-corpus vocab). The
    // production shape: the artifact versions with the corpus snapshot;
    // a nightly batch sums two vocabulary-sized sidecars and re-tops the
    // 1024 — tokenizer training cost is O(sidecar), not O(corpus).
    "tx36_refreshed_vocab_tokens" -> ((s, dir) => {
      val vocab = sidecarVocab(s, dir)
      table(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.SubwordTokenizer.greedyTokenCount(col("text"), vocab)
            .cast("long").as("n_tokens"))
        .orderBy("doc_id")
    }),

    // tx14's packing arithmetic on tx15's SUBWORD counts — what a
    // training job actually bins by. Same per-source window (global pack
    // order would be a single-partition sort), same LONG offset/bin
    // discipline (cumulative tokens overflow int32 at shard scale).
    "tx16_pack_subword" -> ((s, dir) => {
      val budget = 2048
      val vocab = bigramVocab(s, dir)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy("doc_id")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      table(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          graft.functions.SubwordTokenizer.greedyTokenCount(col("text"), vocab)
            .as("tokens"))
        .withColumn("offset", coalesce(sum("tokens").over(w), lit(0)).cast("long"))
        .select(col("doc_id"), col("source"), col("tokens").cast("int").as("tokens"),
          floor(col("offset") / budget).as("bin"),
          (col("offset") % budget).as("bin_offset"))
        .orderBy("doc_id")
    }),

    // tx15 with an ITERATED merge table — the depth step from one BPE
    // round to the real mechanism: each extra round re-tokenizes the
    // corpus's distinct words with the vocab so far (the same codegen'd
    // greedy scan tx15 ships), counts ADJACENT-TOKEN concatenations
    // weighted by word frequency, and admits the top-K new merges (ties
    // lexicographic) — so round 2 mints up-to-4-char tokens from bigram
    // pairs and round 3 up-to-8-char tokens, and the scan's longest-match
    // probe now steps variable lengths, consuming a whole merged token
    // where tx15's bigram scan could only ever step 2. Each round is one
    // distributed agg + a ≤K-string collect (broadcast-sized index state,
    // the PQ-codebook lifecycle); the corpus is never reshuffled. Hash-
    // exact: the oracle rebuilds every round and replays the same
    // length-descending probe per recursion step (generated SQL below).
    "tx17_subword_merged" -> ((s, dir) => {
      val vocab = mergedVocab(s, dir)
      table(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.SubwordTokenizer.greedyTokenCount(col("text"), vocab)
            .cast("long").as("n_tokens"))
        .orderBy("doc_id")
    }),

    // Unigram-LM document scoring — the CCNet/Gopher-style quality
    // filter: train word frequencies ON THE CORPUS (one wordcount-shaped
    // agg), then score every document by total and per-token log
    // probability; downstream keeps/buckets by `avg_logp` (a perplexity
    // proxy: boilerplate of common words scores high, lorem-ipsum noise
    // low). Shape at 100 TB: two shuffles on the token key (the count and
    // the score join — the frequency side is VOCABULARY-sized, Heaps-law
    // sublinear, but can exceed the broadcast budget at corpus scale, so
    // it stays a shuffle join and AQE may downgrade it to broadcast when
    // small) + one on doc_id; the 1-row corpus total IS broadcast.
    // Per-token log-probs are rounded to 6 dp THEN cast to DECIMAL(28,6)
    // so the distributed sum is exact (the ss04 playbook; a raw double sum
    // is order-dependent), and the final per-token mean divides AFTER the
    // exact sum. ROWS-ONLY-DET BY DESIGN (r9 lesson): that discipline made
    // the sum bit-stable against ONE DuckDB build, but `round(ln(x), 6)`
    // flips a 6 dp tie when another engine BUILD's libm differs in the
    // last ulp — CORRECTNESS_r09 failed the hash on exactly the four LM
    // queries while the judge's local DuckDB passed them bit-exactly. Any
    // irrational-function output is out of the hashed contract now
    // (OracleDisciplineSpec pins the rule): the scores here are covered by
    // the driver's rerun bit-determinism check plus TextAnalysisSpec's
    // hand-computed values, and the hashed oracle lives in tx18e's
    // exact-integer evidence twin (same joins, no ln).
    "tx18_unigram_logprob" -> ((s, dir) => {
      // NO repartition+cache here, deliberately (tx20/tx21 got them): the
      // scoring join's build side is a broadcast, so the probe consumer
      // needs no clustering and the explode is regexp-only — measured at
      // soak sf1.0 the cached form REGRESSED 2.9 -> 4.6 s (materializing
      // 2.4M rows costs more than re-running the cheap explode), the
      // house cache rule's pure-cost case.
      val toks = table(s, dir, "documents")
        .select(col("doc_id"),
          explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("w"))
      val freq = toks.groupBy("w").agg(count(lit(1)).as("cnt"))
      val tot = freq.agg(sum(col("cnt")).as("t"))
      val logp = freq.crossJoin(broadcast(tot))
        .select(col("w"), round(log(col("cnt") / col("t")), 6)
          .cast(org.apache.spark.sql.types.DecimalType(28, 6)).as("logp"))
      toks.join(logp, "w")
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("int").as("n_tokens"),
          sum(col("logp")).as("logprob"))
        // the mean stays a RAW IEEE quotient: both engines divide the
        // identical exact decimal by the identical count, so the doubles
        // are bit-equal — a final round() would NOT be (tx20 found it:
        // round-on-double is string-based in Spark and multiply-based in
        // DuckDB, and a quotient landing on an exact 6dp tie, e.g.
        // -85.347612/24, rounds differently)
        .withColumn("avg_logp",
          col("logprob").cast("double") / col("n_tokens"))
        .orderBy("doc_id")
    }),

    // tx18's HASHED evidence twin: the identical tokenize → train-frequency
    // → score-join pipeline, but every output column is exact integer
    // arithmetic (token count, summed corpus frequency of the doc's tokens,
    // hapax count), so the DuckDB oracle hashes bit-stably on ANY engine
    // build — no libm in sight. A doc whose frequency join went wrong in
    // any row changes sum_cnt, so this pins the same join tx18 scores over.
    "tx18e_unigram_evidence" -> ((s, dir) => {
      val toks = table(s, dir, "documents")
        .select(col("doc_id"),
          explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("w"))
      val freq = toks.groupBy("w").agg(count(lit(1)).as("cnt"))
      toks.join(freq, "w")
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("int").as("n_tokens"),
          sum(col("cnt")).cast("long").as("sum_cnt"),
          sum(when(col("cnt") === 1, 1).otherwise(0)).cast("int").as("n_hapax"))
        .orderBy("doc_id")
    }),

    // tx18's depth step: a bigram CONDITIONAL LM (P(w | prev) by MLE over
    // the corpus's own bigram events; first token backs off to the
    // unigram). Context-conditioning is what separates a perplexity
    // filter from a word-frequency filter: scrambled common words score
    // high under tx18 but low here. Training-on-self means every scored
    // bigram exists in the model, so MLE needs no smoothing and the
    // selection rule is EXACTLY the oracle's CASE. Shape at 100 TB:
    // distributed n-gram LM training + scoring — (w, prev) is derived
    // NARROWLY inside the token array before the explode (ws[i-1] via a
    // transform lambda), so tokenization never shuffles: the first draft's
    // window-lag form paid Exchange+Sort+Window over the full token
    // stream in three plan branches; this form's only exchanges are the
    // vocabulary-sized aggs (unigram, bigram, context), the token-keyed
    // score joins, and the final per-doc agg — the 1-row corpus total is
    // the only broadcast-nested-loop. Same 6dp-round-then-DECIMAL(28,6)
    // discipline as tx18 for the order-independent exact sum.
    "tx20_bigram_logprob" -> ((s, dir) => {
      val dt = org.apache.spark.sql.types.DecimalType(28, 6)
      // dd12's lesson applied to the token stream: repartition the narrow
      // (doc, tokens) rows BEFORE the explode (the local corpus is one
      // parquet row group — without this the 2.4M-tuple expansion at soak
      // sf1.0 runs on 1-2 cores). The exploded frame is NOT cached (r20,
      // replacing the r12 cache): the model aggs and the scoring join
      // launch as concurrent stages, and a cache dedups only after some
      // stage has filled it — the stage profile read the expansion 3-4×
      // per run THROUGH the cache. Instead (a) the tokenize sits below
      // the spread exchange, whose map stage the scheduler materializes
      // exactly once for all consumers, and (b) the three model frames
      // derive from ONE checkpointed (prev, w) aggregate — see tx21.
      val seq = table(s, dir, "documents")
        .select(col("doc_id"),
          expr("regexp_extract_all(lower(text), '[a-z]+', 0)").as("ws"))
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"), explode(expr(
          // element_at is 1-based, the lambda index 0-based: element_at(ws, i)
          // IS the previous token; i = 0 (the doc's first token) stays null
          "transform(ws, (x, i) -> struct(x AS w, CASE WHEN i > 0 THEN element_at(ws, i) END AS prev))"))
          .as("tp"))
        .select(col("doc_id"), col("tp.w").as("w"), col("tp.prev").as("prev"))
      val combined = seq.groupBy("prev", "w")
        .agg(count(lit(1)).as("cpw"))
        .transform(graft.Ckpt.lazyCheckpoint(_, "tx20.model"))
      val uni = combined.groupBy("w").agg(sum(col("cpw")).as("cnt"))
      val tot = uni.agg(sum(col("cnt")).as("t"))
      val big = combined.filter(col("prev").isNotNull)
        .select(col("prev"), col("w"), col("cpw").as("c2"))
      val ctx = big.groupBy("prev").agg(sum(col("c2")).as("c1"))
      val unip = uni.crossJoin(broadcast(tot))
        .select(col("w"), round(log(col("cnt") / col("t")), 6).cast(dt).as("logp0"))
      val bigp = big.join(ctx, "prev")
        .select(col("prev"), col("w"),
          round(log(col("c2") / col("c1")), 6).cast(dt).as("logp1"))
      seq.join(unip, "w")
        .join(bigp, Seq("prev", "w"), "left")
        .withColumn("tok_lp",
          when(col("prev").isNull, col("logp0")).otherwise(col("logp1")))
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("int").as("n_tokens"),
          sum(col("tok_lp")).as("logprob"))
        // raw IEEE quotient, NOT round(…, 6) — see tx18's note (an exact
        // 6dp tie like -85.347612/24 rounds differently per engine)
        .withColumn("avg_logp",
          col("logprob").cast("double") / col("n_tokens"))
        .orderBy("doc_id")
    }),

    // tx20's HASHED evidence twin (see tx18's rows-only-det note): the
    // same narrow in-array bigram derivation and the same three
    // vocabulary-sized aggs + score joins, summed as exact BIGINTs per doc
    // — sum_c2/sum_c1 change if any (prev, w) joined to the wrong bigram
    // or context row, so the hash pins the full tx20 join topology.
    "tx20e_bigram_evidence" -> ((s, dir) => {
      // spread below the tokenize + one checkpointed (prev, w) model
      // aggregate, tx20's r20 shape — see there
      val seq = table(s, dir, "documents")
        .select(col("doc_id"),
          expr("regexp_extract_all(lower(text), '[a-z]+', 0)").as("ws"))
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"), explode(expr(
          "transform(ws, (x, i) -> struct(x AS w, CASE WHEN i > 0 THEN element_at(ws, i) END AS prev))"))
          .as("tp"))
        .select(col("doc_id"), col("tp.w").as("w"), col("tp.prev").as("prev"))
      val combined = seq.groupBy("prev", "w")
        .agg(count(lit(1)).as("cpw"))
        .transform(graft.Ckpt.lazyCheckpoint(_, "tx20e.model"))
      val uni = combined.groupBy("w").agg(sum(col("cpw")).as("cnt"))
      val big = combined.filter(col("prev").isNotNull)
        .select(col("prev"), col("w"), col("cpw").as("c2"))
      val ctx = big.groupBy("prev").agg(sum(col("c2")).as("c1"))
      seq.join(uni, "w")
        .join(big, Seq("prev", "w"), "left")
        .join(ctx, Seq("prev"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("int").as("n_tokens"),
          sum(col("cnt")).cast("long").as("sum_cnt"),
          sum(coalesce(col("c2"), lit(0L))).cast("long").as("sum_c2"),
          sum(coalesce(col("c1"), lit(0L))).cast("long").as("sum_c1"))
        .orderBy("doc_id")
    }),

    // The case tx20 cannot exercise: scoring HELD-OUT text, where bigrams
    // and words unseen in training actually occur. Train the bigram LM on
    // tx13's train fold, score the val fold with stupid backoff (Brants
    // et al. 2007, "Large Language Models in Machine Translation"):
    //   S(w|prev) = c2/c1 if the bigram was seen, else 0.4 * S(w)
    //   S(w)      = cnt/T if the word was seen, else 0.4 / T
    // — unnormalized scores by design; at web scale backoff needs no
    // discounting arithmetic, which is exactly why it is the standard
    // distributed n-gram recipe. Fold assignment reuses tx13's
    // content-hash nibble so the train/eval boundary is leakage-proof
    // through exact dups. Same narrow (w, prev) derivation and exact
    // decimal sum as tx20; n_oov / n_backoff expose how much of each
    // doc's score came from backoff (the filter's confidence signal).
    "tx21_backoff_heldout" -> ((s, dir) => {
      val dt = org.apache.spark.sql.types.DecimalType(28, 6)
      val seq = table(s, dir, "documents")
        .select(col("doc_id"),
          substring(md5(lower(trim(col("text"))).cast("binary")), 1, 1).as("nib"),
          expr("regexp_extract_all(lower(text), '[a-z]+', 0)").as("ws"))
        .select(col("doc_id"), col("nib"), explode(expr(
          "transform(ws, (x, i) -> struct(x AS w, CASE WHEN i > 0 THEN element_at(ws, i) END AS prev))"))
          .as("tp"))
        .select(col("doc_id"), col("nib"), col("tp.w").as("w"), col("tp.prev").as("prev"))
      val train = seq.filter(!col("nib").isin("d", "e", "f"))
      val ev = seq.filter(col("nib").isin("d", "e"))
      // ONE (prev, w) aggregate — prev-null rows included — is the whole
      // model pass (r20): uni(w) = Σ_prev, big = the prev-not-null rows,
      // ctx = Σ_w of big, all derived from the k-row result instead of
      // three separate aggregates that each re-ran the tokenize+explode
      // at the scan's one-split parallelism (the stage profile read a
      // quadruplet of ~0.3-0.6 s single-task stages per run). The LAZY
      // checkpoint pins the k-row frame: its own (prev, w) exchange
      // already guarantees the heavy map side runs once, and the leaf
      // stops uni/big/ctx's pushed filters from re-differentiating the
      // subtrees (the model values are bit-identical — same counts,
      // summed instead of recounted).
      val combined = train.groupBy("prev", "w")
        .agg(count(lit(1)).as("cpw"))
        .transform(graft.Ckpt.lazyCheckpoint(_, "tx21.model"))
      val uni = combined.groupBy("w").agg(sum(col("cpw")).as("cnt"))
      val tot = uni.agg(sum(col("cnt")).as("t"))
      val big = combined.filter(col("prev").isNotNull)
        .select(col("prev"), col("w"), col("cpw").as("c2"))
      val ctx = big.groupBy("prev").agg(sum(col("c2")).as("c1"))
      val uniS = when(col("cnt").isNotNull, col("cnt") / col("t"))
        .otherwise(lit(0.4) / col("t"))
      ev.join(uni, Seq("w"), "left")
        .crossJoin(broadcast(tot))
        .join(big, Seq("prev", "w"), "left")
        .join(ctx, Seq("prev"), "left")
        .withColumn("tok_lp",
          when(col("prev").isNull, round(log(uniS), 6))
            .when(col("c2").isNotNull, round(log(col("c2") / col("c1")), 6))
            .otherwise(round(log(lit(0.4) * uniS), 6))
            .cast(dt))
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("int").as("n_tokens"),
          sum(when(col("cnt").isNull, 1).otherwise(0)).cast("int").as("n_oov"),
          sum(when(col("prev").isNotNull && col("c2").isNull, 1).otherwise(0))
            .cast("int").as("n_backoff"),
          sum(col("tok_lp")).as("logprob"))
        .withColumn("avg_logp",
          col("logprob").cast("double") / col("n_tokens"))
        .orderBy("doc_id")
    }),

    // tx21's HASHED evidence twin (see tx18's rows-only-det note): train
    // fold counts joined onto the eval fold exactly as tx21 does, but the
    // outputs are the exact integers the backoff CASE branches on —
    // n_oov/n_backoff are tx21's own confidence columns, sum_cnt/sum_c2
    // pin the left joins row-for-row. No ln, hash-stable on any build.
    "tx21e_backoff_evidence" -> ((s, dir) => {
      val seq = table(s, dir, "documents")
        .select(col("doc_id"),
          substring(md5(lower(trim(col("text"))).cast("binary")), 1, 1).as("nib"),
          expr("regexp_extract_all(lower(text), '[a-z]+', 0)").as("ws"))
        .select(col("doc_id"), col("nib"), explode(expr(
          "transform(ws, (x, i) -> struct(x AS w, CASE WHEN i > 0 THEN element_at(ws, i) END AS prev))"))
          .as("tp"))
        .select(col("doc_id"), col("nib"), col("tp.w").as("w"), col("tp.prev").as("prev"))
      val train = seq.filter(!col("nib").isin("d", "e", "f"))
      val ev = seq.filter(col("nib").isin("d", "e"))
      // one checkpointed (prev, w) model aggregate, tx21's r20 shape —
      // see there; uni/big derive from the k-row frame bit-identically
      val combined = train.groupBy("prev", "w")
        .agg(count(lit(1)).as("cpw"))
        .transform(graft.Ckpt.lazyCheckpoint(_, "tx21e.model"))
      val uni = combined.groupBy("w").agg(sum(col("cpw")).as("cnt"))
      val big = combined.filter(col("prev").isNotNull)
        .select(col("prev"), col("w"), col("cpw").as("c2"))
      ev.join(uni, Seq("w"), "left")
        .join(big, Seq("prev", "w"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("int").as("n_tokens"),
          sum(when(col("cnt").isNull, 1).otherwise(0)).cast("int").as("n_oov"),
          sum(when(col("prev").isNotNull && col("c2").isNull, 1).otherwise(0))
            .cast("int").as("n_backoff"),
          sum(coalesce(col("cnt"), lit(0L))).cast("long").as("sum_cnt"),
          sum(coalesce(col("c2"), lit(0L))).cast("long").as("sum_c2"))
        .orderBy("doc_id")
    }),

    // The CCNet/fastText quality-filter shape (Wenzek et al. 2020): train
    // a classifier to separate a CURATED target domain (here the corpus's
    // src0–src4 slice — standing in for "wikipedia-like") from the
    // background crawl, then keep crawl documents the classifier scores
    // target-like. The classifier is multinomial Naive Bayes with add-one
    // smoothing over the train-fold vocabulary — deterministic,
    // corpus-trained, no external model file, and exactly expressible in
    // SQL (unlike fastText's learned embeddings, same filter role). Train
    // on tx13's content-hash train fold, score the held-out val fold:
    //   llr(w) = ln((ct(w)+1)/(Tt+V)) - ln((cb(w)+1)/(Tb+V))
    // summed per doc (each ln rounded to 6dp -> DECIMAL(28,6) first —
    // tx18's order-independence discipline; the decimal SUBTRACTION is
    // exact). Totals (Tt, Tb, V) are ONE broadcast row; per-token state
    // joins on the word. n_unseen counts val tokens outside the train
    // vocab (the confidence signal); pred_curated is the filter's verdict.
    "tx22_nb_source_score" -> ((s, dir) => {
      val dt = org.apache.spark.sql.types.DecimalType(28, 6)
      // no repartition+cache, tx18's measured pure-cost reasoning (the
      // model build's aggregates and the broadcast-total scoring join
      // don't re-pay enough explode work to fund a 2.4M-row cache)
      val seq = table(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          substring(md5(lower(trim(col("text"))).cast("binary")), 1, 1).as("nib"),
          explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("w"))
      val isT = col("source").isin("src0", "src1", "src2", "src3", "src4")
      val cnts = seq.filter(!col("nib").isin("d", "e", "f"))
        .groupBy("w").agg(
          sum(when(isT, 1L).otherwise(0L)).as("ct"),
          sum(when(isT, 0L).otherwise(1L)).as("cb"))
      val tot = cnts.agg(sum("ct").as("tt"), sum("cb").as("tb"), count(lit(1)).as("v"))
      seq.filter(col("nib").isin("d", "e"))
        .join(cnts, Seq("w"), "left")
        .crossJoin(broadcast(tot))
        .withColumn("tok_llr",
          round(log((coalesce(col("ct"), lit(0L)) + 1) / (col("tt") + col("v"))), 6).cast(dt)
            - round(log((coalesce(col("cb"), lit(0L)) + 1) / (col("tb") + col("v"))), 6).cast(dt))
        .groupBy("doc_id", "source")
        .agg(count(lit(1)).cast("int").as("n_tokens"),
          sum(when(col("ct").isNull, 1).otherwise(0)).cast("int").as("n_unseen"),
          sum(col("tok_llr")).as("llr"))
        .withColumn("avg_llr", col("llr").cast("double") / col("n_tokens"))
        .withColumn("pred_curated", when(col("avg_llr") > 0, 1).otherwise(0).cast("int"))
        .orderBy("doc_id")
    }),

    // tx22's HASHED evidence twin (see tx18's rows-only-det note): the NB
    // train-fold class counts joined onto the val fold as tx22 does, with
    // exact-integer outputs — sum_ct/sum_cb are the per-doc sums of the
    // class counts the llr is computed FROM, so a wrong count row or a
    // wrong fold assignment flips the hash without any ln in the contract.
    "tx22e_nb_evidence" -> ((s, dir) => {
      val seq = table(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          substring(md5(lower(trim(col("text"))).cast("binary")), 1, 1).as("nib"),
          explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("w"))
      val isT = col("source").isin("src0", "src1", "src2", "src3", "src4")
      val cnts = seq.filter(!col("nib").isin("d", "e", "f"))
        .groupBy("w").agg(
          sum(when(isT, 1L).otherwise(0L)).as("ct"),
          sum(when(isT, 0L).otherwise(1L)).as("cb"))
      seq.filter(col("nib").isin("d", "e"))
        .join(cnts, Seq("w"), "left")
        .groupBy("doc_id", "source")
        .agg(count(lit(1)).cast("int").as("n_tokens"),
          sum(when(col("ct").isNull, 1).otherwise(0)).cast("int").as("n_unseen"),
          sum(coalesce(col("ct"), lit(0L))).cast("long").as("sum_ct"),
          sum(coalesce(col("cb"), lit(0L))).cast("long").as("sum_cb"))
        .orderBy("doc_id")
    }),

    // DSIR-style importance weighting (Xie et al. 2023, "Data Selection
    // for Language Models via Importance Resampling", arXiv:2302.03169):
    // represent every doc as a bag of HASHED bigram features (the paper's
    // hashed n-gram generative model — collisions are intentional, they
    // ARE the model), fit two smoothed unigram-over-buckets distributions
    // — target p (the curated slice, here lang='en') and raw q (the whole
    // corpus) — and weight each doc by its log importance ratio
    // Σ_b c_b(doc)·(log p_b − log q_b). Selection here is the
    // deterministic variant (weight > 0, i.e. the doc looks more
    // target-like than raw-like); the paper adds Gumbel noise to sample,
    // which a production run seeds the tx19 way. Shape at 100 TB: the
    // model is TWO 256-row aggregates (bucket-hashed, so state is fixed
    // regardless of vocabulary) broadcast to a single scoring pass —
    // exactly the vocabulary-sized-agg + broadcast-total topology of
    // tx18/tx20/tx22. ln lives in the per-bucket log ratio → this query
    // is rows-only-det BY DESIGN (the r11 oracle regime); the bucket
    // ratios are 6dp-rounded DECIMALs so the per-doc sum is
    // order-independent and reruns are bit-identical, and tx23e carries
    // the hashed exact-integer contract over the same join topology.
    "tx23_dsir_score" -> ((s, dir) => {
      val dt = org.apache.spark.sql.types.DecimalType(28, 6)
      val buckets = 256
      val feats = dsirFeatures(s, dir)
      val tgt = feats.filter(col("lang") === "en")
        .groupBy("b").agg(count(lit(1)).as("ct"))
      val raw = feats.groupBy("b").agg(count(lit(1)).as("cr"))
      val tT = tgt.agg(sum(col("ct")).as("t"))
      val tR = raw.agg(sum(col("cr")).as("r"))
      // add-1 smoothing over the fixed 256-bucket space; buckets the
      // target never saw still get a (negative) finite ratio
      val lam = raw.join(tgt, Seq("b"), "left")
        .crossJoin(broadcast(tT)).crossJoin(broadcast(tR))
        .select(col("b"),
          (round(log((coalesce(col("ct"), lit(0L)) + 1) / (col("t") + buckets)), 6).cast(dt)
            - round(log((col("cr") + 1) / (col("r") + buckets)), 6).cast(dt)).as("lam"))
      // scored per OCCURRENCE, not per (doc, bucket): Σ_occ λ_b ≡ Σ_b c_b·λ_b
      // and the decimal sum is order-independent either way, so the
      // (doc_id, b) pre-aggregate was a pure extra exchange over the full
      // feature stream (measured at soak sf1.0: 6.3 → ~4.8 s without it)
      feats.join(broadcast(lam), "b")
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("int").as("n_feats"),
          countDistinct(col("b")).cast("int").as("n_buckets"),
          sum(col("lam")).as("logw"))
        // raw IEEE quotient, not round(…, 6) — tx18's tie lesson
        .withColumn("avg_logw", col("logw").cast("double") / col("n_feats"))
        .withColumn("selected", (col("logw") > 0).cast("int"))
        .orderBy("doc_id")
    }),

    // tx23's HASHED evidence twin (the tx18e regime): the identical
    // hashed-bigram featurization and the identical target/raw bucket
    // aggregates, summed per doc as exact BIGINTs — sum_ct/sum_cr change
    // if any feature occurrence joined the wrong bucket row, so the hash
    // pins the full tx23 topology with no libm anywhere.
    "tx23e_dsir_evidence" -> ((s, dir) => {
      val feats = dsirFeatures(s, dir)
      val tgt = feats.filter(col("lang") === "en")
        .groupBy("b").agg(count(lit(1)).as("ct"))
      val raw = feats.groupBy("b").agg(count(lit(1)).as("cr"))
      feats.join(raw, "b").join(tgt, Seq("b"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("int").as("n_feats"),
          countDistinct(col("b")).cast("int").as("n_buckets"),
          sum(coalesce(col("ct"), lit(0L))).cast("long").as("sum_ct"),
          sum(col("cr")).cast("long").as("sum_cr"),
          sum(when(col("ct").isNull, 1).otherwise(0)).cast("int").as("n_unseen_tgt"))
        .orderBy("doc_id")
    }),

    // Temperature-based language mixing — the multilingual sampling rule
    // of Conneau & Lample 2019 / XLM-R (arXiv:1911.02116): sample
    // language l with probability ∝ n_l^α, α<1, so high-resource
    // languages stop drowning out the tail. α is pinned at 1/2 because
    // IEEE 754 requires sqrt to be CORRECTLY ROUNDED — unlike n^0.3 via
    // pow/exp (libm, build-fragile, the r9 lesson) a √n budget is
    // bit-identical on every conforming engine, so this query keeps a
    // hash-exact oracle. Budget per language: min(n_l, 4·⌊√n_l⌋) — the
    // 4 is the mix temperature's scale knob; en (the head) gets cut
    // hardest, tail languages keep most of their docs, the α=0.5
    // flattening. WHICH docs fill the budget is content-determined, not
    // row-order-determined: rank within language by (md5 fingerprint,
    // doc_id) — the tx13/tx19 determinism device — and keep rank ≤
    // budget. Shape at 100 TB: one language-count aggregate (broadcast,
    // ≤ #langs rows) + one rank-within-language exchange; since budget ≪
    // n_l, production swaps the full window for a per-language
    // distributed top-k (the q07 TakeOrdered shape) and never sorts a
    // whole language partition.
    "tx24_temperature_mix" -> ((s, dir) => {
      val scale = 4
      val d = table(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          md5(lower(trim(col("text"))).cast("binary")).as("fp"))
      val budgets = d.groupBy("lang").agg(count(lit(1)).as("n_lang"))
        .withColumn("budget",
          least(col("n_lang"), (floor(sqrt(col("n_lang"))) * scale).cast("long")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lang").orderBy(col("fp"), col("doc_id"))
      d.withColumn("rk", row_number().over(w))
        .join(broadcast(budgets), "lang")
        .filter(col("rk") <= col("budget"))
        .select(col("doc_id"), col("lang"), col("rk").cast("int").as("rk"),
          col("n_lang").cast("int").as("n_lang"),
          col("budget").cast("int").as("budget"))
        .orderBy("doc_id")
    }),

    // tx24's budget in the unit trainers actually meter: TOKENS, not
    // documents (a 100-word doc costs 10× a 10-word doc against a
    // training budget). Per-language token budget = 64·⌊√(token_count)⌋
    // (the same IEEE-exact √ flattening as tx24, scaled so gate corpora
    // keep a meaningful slice), filled in content-hash order by
    // CUMULATIVE token count: a doc enters while the budget is not yet
    // crossed — the first doc to cross it still enters (budgets are
    // soft-capped, the packing convention tx14 uses), everything after
    // is cut. One language-count aggregate + one rank/cumsum exchange,
    // the tx24 plan with a running SUM beside the row_number.
    "tx25_token_budget_mix" -> ((s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val d = table(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          md5(lower(trim(col("text"))).cast("binary")).as("fp"),
          size(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).cast("long").as("toks"))
      val budgets = d.groupBy("lang").agg(sum(col("toks")).as("tok_lang"))
        .withColumn("budget", (floor(sqrt(col("tok_lang"))) * 64).cast("long"))
      val wl = W.partitionBy("lang").orderBy(col("fp"), col("doc_id"))
      d.withColumn("cum", sum(col("toks")).over(
          wl.rowsBetween(W.unboundedPreceding, W.currentRow)))
        .join(broadcast(budgets), "lang")
        .filter(col("cum") - col("toks") < col("budget"))
        .select(col("doc_id"), col("lang"), col("toks"),
          col("cum").cast("long").as("cum_toks"),
          col("tok_lang").cast("long").as("tok_lang"),
          col("budget").cast("long").as("budget"))
        .orderBy("doc_id")
    }),

    "tx08_cdc_chunks" -> ((s, dir) => {
      import graft.functions.SketchExprs
      table(s, dir, "documents")
        .select(col("doc_id"), explode(SketchExprs.cdcChunks(col("text"), 6)).as("c"))
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("int").as("n_chunks"),
          countDistinct(col("c.hash")).cast("int").as("n_distinct"),
          sum(col("c.len")).cast("int").as("bytes_covered"))
        .orderBy("doc_id")
    }),

    // N-gram expansion through the custom Generator (UDTF) — one row per
    // word trigram with its position, no intermediate array per row.
    "tx06_ngram_generate" -> ((s, dir) => {
      table(s, dir, "documents")
        .filter(col("doc_id") % 10 === 0) // keep gate output modest
        .select(col("doc_id"),
          graft.functions.WordNgrams(col("text"), 3).as(Seq("pos", "ngram")))
        .orderBy("doc_id", "pos")
    }))

  /** tx23/tx23e's hashed-bigram featurization: one row per word-bigram
    * OCCURRENCE, bucketed to 256 cells by the first two hex chars of the
    * bigram's md5 (DuckDB mirrors the same md5/substring, which is what
    * keeps the tx23e twin hash-exact). Derived NARROWLY inside the token
    * array (tx20's lesson — tokenization never shuffles); the size ≥ 2
    * guard both drops featureless docs and dodges Spark's DESCENDING
    * sequence(2, 1) for one-token docs. The feature stream ends in a
    * bucket-keyed exchange rather than a cache (r20): the tracked cache
    * could not stop concurrent consumers from each re-running the md5
    * expansion — the target agg, raw agg and scoring probe launch as
    * concurrent stages inside one action, and an InMemoryRelation dedups
    * only AFTER some stage has filled it, so the tx23 stage profile read
    * FOUR ~8 CPU-s copies of the expansion per run. An Exchange is the
    * race-free once-only device (AQE's stage cache serves every consumer
    * from one map-stage materialization), and hashpartitioning(b) is
    * free clustering for the two bucket aggregates on top — they run
    * without a second exchange. md5 buckets are uniform, so no skew; the
    * partition count is the session's shuffle.partitions (scale-adaptive,
    * never a local constant). */
  private def dsirFeatures(s: SparkSession, dir: String): DataFrame =
    // the spread runs BEFORE the tokenize (r19 optimization): it used to
    // sit between the regexp pass and the md5 expansion, so the regexp
    // tokenize ran at the SCAN's parallelism — one task on a fixture
    // whose whole corpus is a single parquet split (3.0 s single-task
    // stage in the tx23 profile); on raw rows the same exchange costs
    // the same bytes and parallelizes both passes
    table(s, dir, "documents")
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("doc_id"), col("lang"),
        expr("regexp_extract_all(lower(text), '[a-z]+', 0)").as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(col("doc_id"), col("lang"), explode(expr(
        "transform(sequence(2, size(ws)), i -> " +
          "substring(md5(cast(concat(element_at(ws, i - 1), ' ', element_at(ws, i)) AS binary)), 1, 2))"))
        .as("b"))
      .repartition(col("b"))
      // LAZY checkpoint above the pin-exchange: without it the target
      // agg's lang = 'en' filter is pushed below BOTH exchanges, the
      // three consumers' subtrees stop being canonical-identical, and
      // each materializes its own copy of the expansion (measured: three
      // ~6 CPU-s map stages instead of one). The checkpoint leaf makes
      // every consumer read the one materialized frame; the en filter
      // runs above it (a cheap post-read filter on 2 columns).
      .transform(graft.Ckpt.lazyCheckpoint(_, "dsir.features"))

  val vocabSize = 1024

  /** Within-word character-bigram counts over a documents slice — the
    * tokenizer artifact's SUFFICIENT STATISTICS: counts are additive
    * across slices, so a refresh SUMS sidecars instead of re-reading
    * corpus text (tx36's license; tx17's iterated merges are NOT
    * count-additive past round one, which is why the lifecycle is
    * declared on the tx15 vocab). */
  private def bigramCounts(docs: DataFrame): DataFrame =
    docs.select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(w)-1), i -> substring(w, i, 2))")).as("g"))
      .groupBy("g").agg(count(lit(1)).as("c"))

  /** The persisted tokenizer artifact for `dir`'s corpus slice (even
    * doc_ids) — the dd12-family lifecycle applied to the tokenizer:
    * `counts/` holds the slice's COMPLETE bigram-count sidecar (the
    * additive sufficient statistics a refresh needs — vocabulary-sized,
    * bounded by charset², never corpus-sized). Built on demand, an
    * [[Artifacts.onDisk]] artifact of documents.parquet. */
  private[graft] def vocabArtifactPath(s: SparkSession, dir: String): String =
    Artifacts.onDisk(s, s"$dir/documents.parquet", "vocab-counts") { path =>
      bigramCounts(table(s, dir, "documents").filter(col("doc_id") % 2 === 0))
        .write.mode("overwrite").parquet(s"$path/counts")
    }

  /** tx36's refreshed vocabulary: the persisted corpus-slice count
    * sidecar summed with the batch's fresh counts, re-topped to
    * [[vocabSize]] under the same (count DESC, bigram ASC) tie-break.
    * Equal to [[bigramVocab]] over the union BY ALGEBRA (counts add);
    * TextAnalysisSpec asserts the sequence equality. */
  private[graft] def sidecarVocab(s: SparkSession, dir: String): Seq[String] = {
    val art = vocabArtifactPath(s, dir)
    Tables.parquet(s, s"$art/counts")
      .unionByName(bigramCounts(
        table(s, dir, "documents").filter(col("doc_id") % 2 === 1)))
      .groupBy("g").agg(sum("c").as("c"))
      .orderBy(col("c").desc, col("g").asc).limit(vocabSize)
      .select("g").collect().map(_.getString(0)).toSeq
  }

  /** tx15/tx16's bigram-merge vocabulary: the corpus's 1024 most frequent
    * within-word character bigrams, ties broken lexicographically (the
    * determinism the oracle replays). Built by ONE distributed aggregate
    * + TakeOrdered (the collect materializes ≤1024 two-char strings —
    * broadcast-sized index state, the PQ-codebook lifecycle), an
    * [[Artifacts]] entry of documents.parquet. */
  private[graft] def bigramVocab(s: SparkSession, dir: String): Seq[String] =
    Artifacts.getOrBuild(s, s"$dir/documents.parquet", "bigram-vocab") {
      table(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("w"))
        // length<2 words yield no bigram; the filter also dodges Spark's
        // DESCENDING sequence(1, len-1) for len<2 (sequence(1,0)=[1,0]!)
        .filter(length(col("w")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, length(w)-1), i -> substring(w, i, 2))")).as("g"))
        .groupBy("g").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("g").asc)
        .limit(vocabSize)
        .select("g").collect().map(_.getString(0)).toSeq
    }

  /** tx17's iterated-merge vocabulary: [[bigramVocab]]'s 1024 bigrams
    * plus `mergeRounds` further BPE rounds of `mergeTopK` merges each.
    * A round tokenizes the corpus's DISTINCT words (length ≥ 2) with the
    * vocab so far, explodes adjacent-token concatenations, weights by
    * word frequency, drops strings already in the vocab (anti-join
    * against the ≤2k-entry broadcast side), and admits the top-K by
    * (count DESC, string ASC) — fully deterministic, so the oracle can
    * rebuild it. Each round is one distributed agg + TakeOrdered + a
    * ≤K-string collect; an [[Artifacts]] entry like [[bigramVocab]]. */
  /** Extra merge rounds on top of the bigram round; round r mints tokens
    * up to 2^(r+1) chars, so 2 rounds prove the variable-length mechanism
    * with up-to-8-char entries. */
  val mergeRounds = 2
  val mergeTopK = 512

  private def mergedVocab(s: SparkSession, dir: String): Seq[String] =
    Artifacts.getOrBuild(s, s"$dir/documents.parquet", "merged-vocab") {
      val wf = table(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) >= 2)
        .groupBy("w").agg(count(lit(1)).as("c"))
      var vocab = bigramVocab(s, dir)
      for (_ <- 1 to mergeRounds) {
        val vdf = s.createDataset(vocab)(org.apache.spark.sql.Encoders.STRING).toDF("g")
        val add = wf
          .select(col("c"),
            graft.functions.SubwordTokenizer.greedyTokens(col("w"), vocab).as("t"))
          .filter(size(col("t")) >= 2)
          .select(col("c"), explode(expr(
            "transform(sequence(0, size(t)-2), i -> concat(t[i], t[i+1]))")).as("g"))
          .groupBy("g").agg(sum("c").as("mc"))
          .join(vdf, Seq("g"), "left_anti")
          .orderBy(col("mc").desc, col("g").asc)
          .limit(mergeTopK)
          .select("g").collect().map(_.getString(0)).toSeq
        vocab = vocab ++ add
      }
      vocab
    }

  /** One length-descending greedy probe as a SQL CASE: the longest vocab
    * entry (≤ `maxL`) matching at `pos` wins, 1 char on a miss — the
    * exact step [[graft.functions.SubwordTokenizer]]'s JVM scan takes. */
  private def probeCase(vcte: String, maxL: Int): String =
    (maxL to 2 by -1).map(l =>
      s"WHEN pos+${l - 1} <= len(w) AND substring(w, pos, $l) IN (SELECT g FROM $vcte) THEN $l")
      .mkString("CASE ", " ", " ELSE 1 END")

  /** One oracle merge round: tokenize distinct words with v<k-1> (probe
    * bounded by that vocab's max entry length), emit each step's
    * adjacent-pair concatenation, weight by word frequency, top-K new
    * strings → v<k>. */
  private def mergeRoundCte(k: Int, maxL: Int): String = {
    val step = probeCase(s"v${k - 1}", maxL)
    s"""r$k AS (
       |  SELECT w, 1 AS pos, '' AS prev, '' AS merged FROM dw2
       |  UNION ALL
       |  SELECT w, pos + $step AS pos,
       |    substring(w, pos, $step) AS prev,
       |    CASE WHEN prev <> '' THEN prev || substring(w, pos, $step) ELSE '' END AS merged
       |  FROM r$k WHERE pos <= len(w)),
       |p$k AS (
       |  SELECT merged AS g, SUM(c) AS mc
       |  FROM r$k JOIN wf USING (w)
       |  WHERE merged <> '' AND merged NOT IN (SELECT g FROM v${k - 1})
       |  GROUP BY merged),
       |v${k}a AS (SELECT g FROM p$k ORDER BY mc DESC, g LIMIT $mergeTopK),
       |v$k AS (SELECT g FROM v${k - 1} UNION ALL SELECT g FROM v${k}a)""".stripMargin
  }

  /** tx17's generated oracle: rebuild the bigram vocab, replay every
    * merge round, then tokenize with the final vocab — each stage the
    * exact SQL mirror of the engine's scan (`mergeRoundCte`/`probeCase`
    * document the correspondence). */
  private lazy val tx17Oracle: String = {
    val finalV = mergeRounds + 1
    val rounds = (2 to finalV).map(k => mergeRoundCte(k, maxL = 1 << (k - 1)))
      .mkString(",\n")
    val finalStep = probeCase(s"v$finalV", 1 << finalV)
    s"""WITH RECURSIVE
       |occ AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
       |big AS (
       |  SELECT substring(w, r, 2) AS g
       |  FROM (SELECT w, unnest(range(1, len(w))) AS r FROM occ)),
       |v1 AS (SELECT g FROM big GROUP BY g ORDER BY COUNT(*) DESC, g LIMIT $vocabSize),
       |wf AS (SELECT w, COUNT(*) AS c FROM occ WHERE len(w) >= 2 GROUP BY w),
       |dw2 AS (SELECT w FROM wf),
       |$rounds,
       |dw AS (SELECT DISTINCT w FROM occ WHERE len(w) >= 1),
       |rec AS (
       |  SELECT w, 1 AS pos, 0 AS toks FROM dw
       |  UNION ALL
       |  SELECT w, pos + $finalStep AS pos, toks + 1 AS toks
       |  FROM rec WHERE pos <= len(w)),
       |wtok AS (SELECT w, toks AS n FROM rec WHERE pos > len(w)),
       |counts AS (
       |  SELECT d.doc_id, CAST(COALESCE(SUM(t.n), 0) AS BIGINT) AS n_tokens
       |  FROM documents d
       |  LEFT JOIN occ o ON d.doc_id = o.doc_id
       |  LEFT JOIN wtok t ON o.w = t.w
       |  GROUP BY d.doc_id)
       |SELECT doc_id, n_tokens FROM counts ORDER BY doc_id""".stripMargin
  }

  /** The shared vocab-build + recursive-tokenize CTE prelude of the
    * tx15/tx16 oracles: DuckDB rebuilds the SAME vocab (same count, same
    * tie-break) and replays the greedy scan one cursor step per recursion
    * round, over DISTINCT words only. */
  private val subwordCtePrelude =
    """WITH RECURSIVE
      |occ AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
      |big AS (
      |  SELECT substring(w, r, 2) AS g
      |  FROM (SELECT w, unnest(range(1, len(w))) AS r FROM occ)),
      |vocab AS (SELECT g FROM big GROUP BY g ORDER BY COUNT(*) DESC, g LIMIT 1024),
      |dw AS (SELECT DISTINCT w FROM occ WHERE len(w) >= 1),
      |rec AS (
      |  SELECT w, 1 AS pos, 0 AS toks FROM dw
      |  UNION ALL
      |  SELECT w,
      |    CASE WHEN pos + 1 <= len(w) AND substring(w, pos, 2) IN (SELECT g FROM vocab)
      |         THEN pos + 2 ELSE pos + 1 END AS pos,
      |    toks + 1 AS toks
      |  FROM rec WHERE pos <= len(w)),
      |wtok AS (SELECT w, toks AS n FROM rec WHERE pos > len(w)),
      |counts AS (
      |  SELECT d.doc_id, d.source, CAST(COALESCE(SUM(t.n), 0) AS BIGINT) AS n_tokens
      |  FROM documents d
      |  LEFT JOIN occ o ON d.doc_id = o.doc_id
      |  LEFT JOIN wtok t ON o.w = t.w
      |  GROUP BY d.doc_id, d.source)""".stripMargin

  /** tx30/qp04's islands pass: merge flagged window positions (`occ`:
    * doc_id, pos — windows overlap iff starts are < K apart) into
    * maximal spans per doc, folding per-span window counts into one
    * aggregation — (doc_id, n_contam_spans, n_cut_tokens,
    * n_contam_windows). One doc-partitioned window, no other exchange. */
  /** tx31's cross-fold near-duplicate pairs (corpus_id, eval_id, jaccard):
    * dd10's LSH-banded candidates restricted to one-side-eval pairs under
    * the exact-jaccard >= 0.7 verify — see the tx31 entry's scaladoc for
    * the license. Shared by tx31 and qp07's per-eval-doc screen report. */
  private def fuzzyCrossFoldPairs(s: SparkSession, dir: String): DataFrame = {
    val Sk = graft.functions.SketchExprs
    val d = Dedup.fuzzySigs(table(s, dir, "documents"))
    Dedup.fuzzyCandidatePairs(d)
      .filter((col("id_a") % 10 === 0) =!= (col("id_b") % 10 === 0))
      .join(d.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(d.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("inter", Sk.sortedLongIntersectCount(col("sh_a"), col("sh_b")))
      .withColumn("jaccard",
        col("inter") / (size(col("sh_a")) + size(col("sh_b")) - col("inter")))
      .filter(col("jaccard") >= 0.7)
      .select(
        when(col("id_a") % 10 === 0, col("id_b")).otherwise(col("id_a")).as("corpus_id"),
        when(col("id_a") % 10 === 0, col("id_a")).otherwise(col("id_b")).as("eval_id"),
        col("jaccard"))
  }

  private def contamSpanStats(occ: DataFrame, K: Int): DataFrame = {
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    occ
      .withColumn("prev", lag("pos", 1).over(wDoc))
      .withColumn("ns", when(col("prev").isNull || col("pos") > col("prev") + (K - 1), 1)
        .otherwise(0))
      .withColumn("span_id", sum("ns").over(wDoc))
      .groupBy("doc_id", "span_id")
      .agg(min("pos").as("s"), max("pos").as("e"), count(lit(1)).as("nw"))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("int").as("n_contam_spans"),
        sum(col("e") - col("s") + K).cast("int").as("n_cut_tokens"),
        sum("nw").cast("int").as("n_contam_windows"))
  }

  /** qp04's full pipeline. Eval is doc_id % 10 == 0, the 10% held-out
    * slice every tx30-family query freezes. */
  private def decontaminatedManifest(s: SparkSession, dir: String): DataFrame = {
    val evalMod = 10
    val W = org.apache.spark.sql.expressions.Window
    val K = Dedup.substringK
    val docs = table(s, dir, "documents")
    val scored = docs
      .withColumn("n_words", size(split(col("text"), " ")))
      .withColumn("en_hits", size(expr(s"regexp_extract_all(lower(text), '$EnStopSpark', 0)")))
      .withColumn("n_short", size(expr("filter(split(text, ' '), w -> length(w) <= 2)")))
      .withColumn("quality",
        (col("en_hits") * lit(2.0) / col("n_words"))
          - (col("n_short").cast("double") / col("n_words")))
      .withColumn("fp", md5(lower(trim(col("text"))).cast("binary")))
    val gated = scored
      .filter(col("en_hits") >= 3 && col("n_words") >= 20 && col("quality") >= 0.15)
      .withColumn("rn", row_number().over(W.partitionBy("fp").orderBy("doc_id")))
      .filter(col("rn") === 1)
      .select("doc_id", "text")
    val surv = Dedup.fuzzyDedupSurvivors(gated).select("doc_id")
      .filter(col("doc_id") % evalMod =!= 0)
    val idx = Dedup.ddWinIndexPath(s, dir)
    val wins = Tables.parquet(s, s"$idx/wins")
      .select(col("doc_id"), col("pos"), col("h"))
    val evalH = wins.filter(col("doc_id") % evalMod === 0).select("h").distinct()
    val occ = wins.join(surv, Seq("doc_id"), "left_semi")
      .join(evalH, Seq("h"), "left_semi")
    val sized = surv
      .join(Tables.parquet(s, s"$idx/docs").select("doc_id", "n_ws"), "doc_id")
      .join(contamSpanStats(occ, K).select("doc_id", "n_cut_tokens"),
        Seq("doc_id"), "left")
      .na.fill(0, Seq("n_cut_tokens"))
      .withColumn("n_tokens_kept", (col("n_ws") - col("n_cut_tokens")).cast("int"))
      .filter(col("n_tokens_kept") >= 20)
      .select("doc_id", "n_tokens_kept")
    val train = sized.join(docs.select("doc_id", "text"), "doc_id")
      .filter(!substring(md5(lower(trim(col("text"))).cast("binary")), 1, 1)
        .isin("d", "e", "f"))
      .select("doc_id", "n_tokens_kept")
    val h = md5(concat(lit("s42:"), col("doc_id").cast("string")).cast("binary"))
    train.select(col("doc_id"), col("n_tokens_kept"), h.as("h"))
      .withColumn("shard", substring(col("h"), 1, 1))
      .withColumn("pos",
        row_number().over(W.partitionBy("shard").orderBy("h", "doc_id")))
      .select("doc_id", "shard", "pos", "n_tokens_kept")
      .orderBy("doc_id")
  }

  /** tx33's machinery over an arbitrary documents frame — the Rae 2021
    * Table A1 within-document repetition report (see the tx33 entry's
    * scaladoc for the full semantics and scale argument). No output
    * ordering; callers order or filter. */
  private[graft] def gopherRepetition(docs: DataFrame): DataFrame = {
    // CALLERS hash-repartition `docs` by doc_id before this (r19
    // optimization, guide §2.4/§2.5): every aggregate and join in this
    // report is keyed by doc_id, so one deterministic exchange of the
    // RAW TEXT up front (a) satisfies the (doc_id, n, gram) aggregate's
    // distribution — the 4-grams-per-token exploded mass, several times
    // the text bytes, never crosses the wire at all — and (b) spreads
    // the regexp/gram CPU across the cluster even when the scan has
    // fewer splits than cores (the sf fixtures are single-row-group
    // files, so the whole tokenize pass ran as ONE task: stage profile
    // read 2.3-3.0 s single-task stages under tx33/qp06). The
    // repartition lives at the call sites, not here, so a composing
    // pipeline that already established the doc_id partitioning (qp06)
    // does not pay a second exchange of the text.
    val toks = docs
      .select(col("doc_id"),
        expr("regexp_extract_all(lower(text), '[a-z]+', 0)").as("ws"))
      .withColumn("nt", size(col("ws")))
    val g = toks.filter(col("nt") >= 2)
      .select(col("doc_id"), col("nt"), explode(expr(
        """flatten(transform(array(2, 3, 4, 5), n ->
          |  transform(filter(sequence(0, nt - 2), i -> i + n <= nt), i ->
          |    struct(n AS n, i AS pos,
          |      array_join(slice(ws, i + 1, n), ' ') AS g))))""".stripMargin))
        .as("x"))
      .select(col("doc_id"), col("nt"), col("x.n").as("n"),
        col("x.pos").as("pos"), col("x.g").as("g"))
    // one (doc, n, gram) aggregate serves both consumers: counts for
    // the top-{2,3,4}-gram signals, duplicate 5-gram POSITIONS for the
    // islands union (collect_list skips the non-5-gram nulls)
    val cnts = g.groupBy("doc_id", "n", "g")
      .agg(count(lit(1)).as("cnt"),
        collect_list(when(col("n") === 5, col("pos"))).as("ps"))
    val top = cnts.filter(col("n") <= 4).groupBy("doc_id")
      .agg(max(when(col("n") === 2, col("cnt"))).as("c2"),
        max(when(col("n") === 3, col("cnt"))).as("c3"),
        max(when(col("n") === 4, col("cnt"))).as("c4"))
    val dup5 = cnts.filter(col("n") === 5 && col("cnt") >= 2)
      .groupBy("doc_id").agg(flatten(collect_list(col("ps"))).as("allp"))
      .select(col("doc_id"), expr(
        // union length of sorted [p, p+5) intervals: running (covered,
        // end) state — covered += max(p+5, end) - max(p, end)
        """aggregate(array_sort(allp),
          |  struct(cast(0 as bigint) AS c, cast(-1 as bigint) AS e),
          |  (acc, p) -> struct(
          |    acc.c + greatest(cast(p as bigint) + 5, acc.e)
          |          - greatest(cast(p as bigint), acc.e),
          |    greatest(cast(p as bigint) + 5, acc.e)),
          |  a -> a.c)""".stripMargin).as("cov"))
    def frac(c: org.apache.spark.sql.Column, n: Int) = when(col("nt") >= 2 && c >= 2,
      (c * lit(n)).cast("double") / col("nt")).otherwise(lit(0.0))
    toks.select(col("doc_id"), col("nt"))
      .join(top, Seq("doc_id"), "left")
      .join(dup5, Seq("doc_id"), "left")
      .select(col("doc_id"), col("nt").cast("long").as("n_tokens"),
        frac(col("c2"), 2).as("top2_frac"),
        frac(col("c3"), 3).as("top3_frac"),
        frac(col("c4"), 4).as("top4_frac"),
        when(col("cov").isNotNull,
          col("cov").cast("double") / col("nt")).otherwise(lit(0.0))
          .as("dup5_frac"))
      .withColumn("keep",
        col("top2_frac") <= 0.20 && col("top3_frac") <= 0.18 &&
        col("top4_frac") <= 0.16 && col("dup5_frac") <= 0.15)
  }

  /** [[gopherRepetition]]'s ROW-WISE twin — the same Rae 2021 Table A1
    * repetition report computed entirely with per-row higher-order
    * functions (sort the doc's own n-grams, run-length the max duplicate
    * count; collect duplicate 5-gram positions in the same pass, then
    * the dd12 islands fold), so there is NO aggregation and NO exchange:
    * the form a stateless streaming gate can run per arriving doc
    * (st12), where the batch form's (doc, n, gram) groupBy would be a
    * streaming aggregation. O(n log n) per doc vs the batch form's
    * shuffle — the batch form wins on a corpus (distributes the gram
    * mass), this one wins per document. A spec pins the two equal
    * row-for-row on the gate corpus and the hand-computed fixtures. */
  private[graft] def gopherRepetitionRowwise(docs: DataFrame): DataFrame = {
    // Every intermediate (token array, gram structs, duplicate
    // positions, run-length counts) is bound as a LAMBDA VARIABLE via
    // the transform-over-1-element-array idiom, never as a projection
    // column: chained-Project columns get re-inlined per reference by
    // the optimizer (CollapseProject cascades), which re-runs the
    // per-row sorts once per consumer — measured 40x on this query. A
    // lambda binding is evaluated exactly once by construction, and the
    // final struct leaves through an `inline` Generate, which Catalyst
    // never duplicates.
    //
    // max duplicate n-gram count: sort this doc's n-grams, run-length
    // scan for the longest run (grams are non-empty, '' can't collide);
    // scalar accumulator only, so the fold stays O(n) after the sort
    def topFrac(n: Int) = s"""element_at(transform(array(
      IF(nt >= 2, aggregate(
        array_sort(transform(filter(sequence(0, nt - 2), i -> i + $n <= nt),
          i -> array_join(slice(ws, i + 1, $n), ' '))),
        struct(CAST('' AS STRING) AS p, CAST(0 AS BIGINT) AS r, CAST(0 AS BIGINT) AS b),
        (acc, g) -> struct(g,
          IF(g = acc.p, acc.r + 1, CAST(1 AS BIGINT)),
          GREATEST(acc.b, IF(g = acc.p, acc.r + 1, CAST(1 AS BIGINT)))),
        a -> a.b), CAST(0 AS BIGINT))), c ->
      IF(nt >= 2 AND c >= 2, CAST(c * $n AS DOUBLE) / nt, CAST(0.0 AS DOUBLE))), 1)"""
    // duplicate-5-gram positions: a sorted (gram, pos) entry is a
    // duplicate iff it shares its gram with a NEIGHBOR — an index-range
    // filter over the sorted array, O(n) after the sort (an
    // accumulated-array fold here would copy the array per element,
    // O(n²) on a degenerate all-duplicate doc — the zipf shape); then
    // dd12's islands fold with scalar state over the sorted positions
    val dup5Frac = s"""element_at(transform(array(
      IF(nt >= 2, array_sort(transform(filter(sequence(0, nt - 2), i -> i + 5 <= nt),
        i -> struct(array_join(slice(ws, i + 1, 5), ' ') AS g, i AS pos))),
        CAST(array() AS ARRAY<STRUCT<g: STRING, pos: INT>>))), gs ->
      element_at(transform(array(
        CASE WHEN size(gs) = 0 THEN CAST(array() AS ARRAY<INT>)
        ELSE array_sort(transform(filter(sequence(1, size(gs)), k ->
          (k > 1 AND element_at(gs, k).g = element_at(gs, k - 1).g) OR
          (k < size(gs) AND element_at(gs, k).g = element_at(gs, k + 1).g)),
          k -> element_at(gs, k).pos)) END), ds ->
        CASE WHEN size(ds) = 0 THEN CAST(0.0 AS DOUBLE)
        ELSE CAST(aggregate(ds,
          struct(CAST(0 AS BIGINT) AS c, CAST(-1 AS BIGINT) AS e),
          (acc, p) -> struct(
            acc.c + greatest(CAST(p AS BIGINT) + 5, acc.e)
                  - greatest(CAST(p AS BIGINT), acc.e),
            greatest(CAST(p AS BIGINT) + 5, acc.e)),
          a -> a.c) AS DOUBLE) / nt END), 1)), 1)"""
    val metrics = s"""inline(array(element_at(transform(array(
        regexp_extract_all(lower(text), '[a-z]+', 0)), ws ->
      element_at(transform(array(size(ws)), nt ->
        struct(
          CAST(nt AS BIGINT) AS n_tokens,
          ${topFrac(2)} AS top2_frac,
          ${topFrac(3)} AS top3_frac,
          ${topFrac(4)} AS top4_frac,
          $dup5Frac AS dup5_frac)), 1)), 1)))"""
    docs
      .select(col("doc_id"), expr(metrics))
      .withColumn("keep",
        col("top2_frac") <= 0.20 && col("top3_frac") <= 0.18 &&
        col("top4_frac") <= 0.16 && col("dup5_frac") <= 0.15)
  }

  /** tx34's machinery — the Rae 2021 Table A1 document-shape quality
    * report (see the tx34 entry's scaladoc). Carries the input's `text`
    * column through so a composing pipeline (qp06) can screen and keep
    * working without a join back to the corpus; tx34 drops it.
    * `minStopWords` is the paper's 2; a corpus whose function-word
    * inventory barely overlaps the fixed 8-word list (this harness's
    * synthetic tables carry only "the") runs at 1 — production filter
    * stacks expose exactly this knob. Pure per-row expressions: no
    * exchange, no output ordering. */
  private[graft] def gopherQuality(docs: DataFrame, minStopWords: Int): DataFrame = {
    val stops = "'the','be','to','of','and','that','have','with'"
    val m = docs
      .select(col("doc_id"), col("text"),
        expr("filter(split(text, '\\\\s+'), w -> w != '')").as("ws"),
        split(col("text"), "\n").as("ls"))
      .select(col("doc_id"), col("text"),
        size(col("ws")).cast("long").as("n_words"),
        expr("aggregate(ws, 0L, (a, w) -> a + length(w))").as("sum_len"),
        expr("size(filter(ws, w -> w rlike '[A-Za-z]'))").cast("long")
          .as("n_alpha"),
        expr(s"size(filter(array_distinct(transform(ws, w -> lower(w))), w -> w IN ($stops)))")
          .cast("long").as("n_stop_words"),
        (expr("length(text) - length(replace(text, '#', ''))") +
          expr("(length(text) - length(replace(text, '...', ''))) div 3") +
          expr("length(text) - length(replace(text, '…', ''))"))
          .cast("long").as("n_sym"),
        size(col("ls")).cast("long").as("n_lines"),
        expr("size(filter(ls, l -> l LIKE '•%' OR l LIKE '-%' OR l LIKE '*%'))")
          .cast("long").as("n_bullet"),
        expr("size(filter(ls, l -> l LIKE '%...' OR l LIKE '%…'))")
          .cast("long").as("n_endell"))
    def safeFrac(num: org.apache.spark.sql.Column, den: org.apache.spark.sql.Column) =
      when(den === 0, lit(0.0)).otherwise(num.cast("double") / den)
    m.select(col("doc_id"), col("text"), col("n_words"),
        safeFrac(col("sum_len"), col("n_words")).as("mean_word_len"),
        safeFrac(col("n_sym"), col("n_words")).as("symbol_ratio"),
        safeFrac(col("n_bullet"), col("n_lines")).as("bullet_frac"),
        safeFrac(col("n_endell"), col("n_lines")).as("ellipsis_frac"),
        safeFrac(col("n_alpha"), col("n_words")).as("alpha_frac"),
        col("n_stop_words"))
      .withColumn("keep",
        col("n_words") >= 50 && col("n_words") <= 100000 &&
        col("mean_word_len") >= 3 && col("mean_word_len") <= 10 &&
        col("symbol_ratio") <= 0.1 &&
        col("bullet_frac") <= 0.9 && col("ellipsis_frac") <= 0.3 &&
        col("alpha_frac") >= 0.8 && col("n_stop_words") >= minStopWords)
  }

  /** tx02's composite quality over an arbitrary documents frame — pure
    * per-row arithmetic (stream-legal: [[graft.streaming.Stateful
    * .ingestQualityGate]] applies it per micro-batch). */
  private[graft] def qualityScored(docs: DataFrame): DataFrame =
    docs
      .withColumn("n_words", size(split(col("text"), " ")))
      .withColumn("n_stop",
        size(expr(s"regexp_extract_all(lower(text), '$EnStopSpark', 0)")))
      .withColumn("n_short",
        size(expr("filter(split(text, ' '), w -> length(w) <= 2)")))
      .withColumn("quality",
        (col("n_stop") / col("n_words")) * 2.0
          - (col("n_short") / col("n_words")))
      .select("doc_id", "lang", "quality")

  /** tx28's pass 1 — the OFFLINE-trained per-language cutoff table (one
    * row per lang: exact threshold value, strictly-above count, quota
    * k = (3n+9) div 10, n): per-(lang, quality) counts are a
    * distinct-values-sized aggregate and the running sum runs over that
    * small frame, never the corpus. The default RANGE frame includes
    * peers, but (lang, quality) rows are distinct post-groupBy, so the
    * running sum is exact on both engines. */
  private[graft] def qualityThresholds(scored: DataFrame): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    scored.groupBy("lang", "quality").agg(count(lit(1)).as("cnt"))
      .withColumn("n_lang", sum("cnt").over(W.partitionBy("lang")))
      .withColumn("cum", sum("cnt").over(
        W.partitionBy("lang").orderBy(col("quality").desc)))
      .withColumn("k", expr("(n_lang * 3 + 9) div 10"))
      .filter(col("cum") >= col("k") && col("cum") - col("cnt") < col("k"))
      .select(col("lang"), col("quality").as("thr_q"),
        (col("cum") - col("cnt")).as("c_above"), col("k"), col("n_lang"))
  }

  val oracle: Map[String, String] = Map(
    // tx18/tx20/tx21/tx22 carry NO oracle by design: their score columns
    // are round(ln(x), 6) and the 6 dp rounding of an irrational flips at
    // a tie when the oracle ENGINE BUILD's libm differs in the last ulp
    // (CORRECTNESS_r09: rows+schema green, hash red, judge-local DuckDB
    // bit-exact). The driver's rerun determinism check + TextAnalysisSpec
    // cover them; the tx*e evidence twins below are the hashed contract.
    // Mirrors tx18e: same tokenization and frequency join, exact integers.
    "tx18e_unigram_evidence" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
        |  FROM documents),
        |freq AS (SELECT w, COUNT(*) AS cnt FROM toks GROUP BY w)
        |SELECT doc_id, CAST(COUNT(*) AS INT) AS n_tokens,
        |  CAST(SUM(cnt) AS BIGINT) AS sum_cnt,
        |  CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS INT) AS n_hapax
        |FROM toks JOIN freq USING (w)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // Mirrors qp06 from first principles: tx34's shape screen at stop
    // floor 1 (survivors have n_words >= 50, so the fraction guards
    // collapse to plain divisions), tx33's repetition pipeline over the
    // survivors, keep-first dedup by content fp, the content-hash train
    // fold, tx19's seeded shard + rank. Reused CTEs get MATERIALIZED by
    // the assembly transform.
    "qp06_gopher_manifest" ->
      """WITH raw AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split_regex(text, '\s+'), w -> w != '') AS ws,
        |    string_split(text, chr(10)) AS ls
        |  FROM documents),
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
        |  GROUP BY 1),
        |rkeep AS (
        |  SELECT t.doc_id
        |  FROM t
        |  LEFT JOIN top ON top.doc_id = t.doc_id
        |  LEFT JOIN cov ON cov.doc_id = t.doc_id
        |  WHERE CASE WHEN COALESCE(c2, 0) >= 2 THEN CAST(c2 * 2 AS DOUBLE) / t.nt ELSE 0.0 END <= 0.20
        |    AND CASE WHEN COALESCE(c3, 0) >= 2 THEN CAST(c3 * 3 AS DOUBLE) / t.nt ELSE 0.0 END <= 0.18
        |    AND CASE WHEN COALESCE(c4, 0) >= 2 THEN CAST(c4 * 4 AS DOUBLE) / t.nt ELSE 0.0 END <= 0.16
        |    AND CASE WHEN cov.cov IS NOT NULL THEN CAST(cov.cov AS DOUBLE) / t.nt ELSE 0.0 END <= 0.15),
        |firsts AS (
        |  SELECT doc_id, fp FROM (
        |    SELECT doc_id, fp,
        |      ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        |    FROM (SELECT q.doc_id, md5(lower(trim(q.text))) AS fp
        |          FROM q JOIN rkeep ON rkeep.doc_id = q.doc_id))
        |  WHERE rn = 1),
        |keyed AS (
        |  SELECT doc_id, md5('s42:' || CAST(doc_id AS VARCHAR)) AS h
        |  FROM firsts WHERE substring(fp, 1, 1) NOT IN ('d', 'e', 'f'))
        |SELECT doc_id, substring(h, 1, 1) AS shard,
        |  CAST(ROW_NUMBER() OVER (
        |    PARTITION BY substring(h, 1, 1) ORDER BY h, doc_id) AS INT) AS pos
        |FROM keyed ORDER BY doc_id""".stripMargin,
    "tx17_subword_merged" -> tx17Oracle,
    // Mirrors tx20e: same positional-index bigram derivation, the same
    // vocabulary-sized aggs and join topology — exact BIGINTs, no ln.
    "tx20e_bigram_evidence" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws
        |  FROM documents),
        |toks AS (
        |  SELECT doc_id, ws[i] AS w, CASE WHEN i > 1 THEN ws[i-1] END AS prev
        |  FROM (SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS i FROM t)),
        |uni AS (SELECT w, COUNT(*) AS cnt FROM toks GROUP BY w),
        |big AS (
        |  SELECT prev, w, COUNT(*) AS c2 FROM toks
        |  WHERE prev IS NOT NULL GROUP BY prev, w),
        |ctx AS (SELECT prev, SUM(c2) AS c1 FROM big GROUP BY prev)
        |SELECT toks.doc_id, CAST(COUNT(*) AS INT) AS n_tokens,
        |  CAST(SUM(uni.cnt) AS BIGINT) AS sum_cnt,
        |  CAST(SUM(COALESCE(big.c2, 0)) AS BIGINT) AS sum_c2,
        |  CAST(SUM(COALESCE(ctx.c1, 0)) AS BIGINT) AS sum_c1
        |FROM toks
        |JOIN uni ON toks.w = uni.w
        |LEFT JOIN big ON toks.prev = big.prev AND toks.w = big.w
        |LEFT JOIN ctx ON toks.prev = ctx.prev
        |GROUP BY toks.doc_id ORDER BY toks.doc_id""".stripMargin,
    // Mirrors tx21e: tx13's md5-nibble fold boundary, train-fold counts
    // left-joined onto the val fold, exact integer outputs only.
    "tx21e_backoff_evidence" ->
      """WITH t AS (
        |  SELECT doc_id, substring(md5(lower(trim(text))), 1, 1) AS nib,
        |    regexp_extract_all(lower(text), '[a-z]+') AS ws
        |  FROM documents),
        |toks AS (
        |  SELECT doc_id, nib, ws[i] AS w, CASE WHEN i > 1 THEN ws[i-1] END AS prev
        |  FROM (SELECT doc_id, nib, ws, unnest(range(1, len(ws) + 1)) AS i FROM t)),
        |tr AS (SELECT * FROM toks WHERE nib NOT IN ('d', 'e', 'f')),
        |ev AS (SELECT * FROM toks WHERE nib IN ('d', 'e')),
        |uni AS (SELECT w, COUNT(*) AS cnt FROM tr GROUP BY w),
        |big AS (
        |  SELECT prev, w, COUNT(*) AS c2 FROM tr
        |  WHERE prev IS NOT NULL GROUP BY prev, w)
        |SELECT ev.doc_id, CAST(COUNT(*) AS INT) AS n_tokens,
        |  CAST(SUM(CASE WHEN uni.cnt IS NULL THEN 1 ELSE 0 END) AS INT) AS n_oov,
        |  CAST(SUM(CASE WHEN ev.prev IS NOT NULL AND big.c2 IS NULL
        |    THEN 1 ELSE 0 END) AS INT) AS n_backoff,
        |  CAST(SUM(COALESCE(uni.cnt, 0)) AS BIGINT) AS sum_cnt,
        |  CAST(SUM(COALESCE(big.c2, 0)) AS BIGINT) AS sum_c2
        |FROM ev
        |LEFT JOIN uni ON ev.w = uni.w
        |LEFT JOIN big ON ev.prev = big.prev AND ev.w = big.w
        |GROUP BY ev.doc_id ORDER BY ev.doc_id""".stripMargin,
    // Mirrors tx22e: tx13's fold boundary, NB class counts over the train
    // fold, exact per-doc sums of the class counts — no smoothing ln.
    "tx22e_nb_evidence" ->
      """WITH t AS (
        |  SELECT doc_id, source, substring(md5(lower(trim(text))), 1, 1) AS nib,
        |    regexp_extract_all(lower(text), '[a-z]+') AS ws
        |  FROM documents),
        |tok AS (SELECT doc_id, source, nib, unnest(ws) AS w FROM t),
        |cnts AS (
        |  SELECT w,
        |    SUM(CASE WHEN source IN ('src0','src1','src2','src3','src4')
        |        THEN 1 ELSE 0 END) AS ct,
        |    SUM(CASE WHEN source IN ('src0','src1','src2','src3','src4')
        |        THEN 0 ELSE 1 END) AS cb
        |  FROM tok WHERE nib NOT IN ('d', 'e', 'f') GROUP BY w)
        |SELECT ev.doc_id, ev.source, CAST(COUNT(*) AS INT) AS n_tokens,
        |  CAST(SUM(CASE WHEN cnts.w IS NULL THEN 1 ELSE 0 END) AS INT) AS n_unseen,
        |  CAST(SUM(COALESCE(ct, 0)) AS BIGINT) AS sum_ct,
        |  CAST(SUM(COALESCE(cb, 0)) AS BIGINT) AS sum_cb
        |FROM (SELECT * FROM tok WHERE nib IN ('d', 'e')) ev
        |LEFT JOIN cnts ON ev.w = cnts.w
        |GROUP BY ev.doc_id, ev.source ORDER BY ev.doc_id""".stripMargin,
    // tx23 itself is rows-only-det (ln in the bucket ratios); this twin
    // carries the hashed contract. unnest(range(2, len+1)) yields nothing
    // for one-token docs — the same eligibility bound as the Spark side's
    // size >= 2 filter.
    "tx23e_dsir_evidence" ->
      """WITH t AS (
        |  SELECT doc_id, lang, regexp_extract_all(lower(text), '[a-z]+') AS ws
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, lang, substring(md5(ws[i-1] || ' ' || ws[i]), 1, 2) AS b
        |  FROM (SELECT doc_id, lang, ws, unnest(range(2, len(ws) + 1)) AS i FROM t)),
        |tgt AS (SELECT b, COUNT(*) AS ct FROM f WHERE lang = 'en' GROUP BY b),
        |raw AS (SELECT b, COUNT(*) AS cr FROM f GROUP BY b)
        |SELECT f.doc_id, CAST(COUNT(*) AS INT) AS n_feats,
        |  CAST(COUNT(DISTINCT f.b) AS INT) AS n_buckets,
        |  CAST(SUM(COALESCE(tgt.ct, 0)) AS BIGINT) AS sum_ct,
        |  CAST(SUM(raw.cr) AS BIGINT) AS sum_cr,
        |  CAST(SUM(CASE WHEN tgt.ct IS NULL THEN 1 ELSE 0 END) AS INT) AS n_unseen_tgt
        |FROM f JOIN raw ON f.b = raw.b LEFT JOIN tgt ON f.b = tgt.b
        |GROUP BY f.doc_id ORDER BY f.doc_id""".stripMargin,
    // tx24's token-metered sibling: same √ budget trick over token
    // counts, cumulative-sum soft cap (the crossing doc still enters).
    "tx25_token_budget_mix" ->
      """WITH d AS (
        |  SELECT doc_id, lang, md5(lower(trim(text))) AS fp,
        |    CAST(len(regexp_extract_all(lower(text), '[a-z]+')) AS BIGINT) AS toks
        |  FROM documents),
        |b AS (
        |  SELECT lang, SUM(toks) AS tok_lang,
        |    CAST(FLOOR(SQRT(SUM(toks))) * 64 AS BIGINT) AS budget
        |  FROM d GROUP BY lang),
        |r AS (
        |  SELECT doc_id, lang, toks,
        |    SUM(toks) OVER (PARTITION BY lang ORDER BY fp, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM d)
        |SELECT r.doc_id, r.lang, CAST(r.toks AS BIGINT) AS toks,
        |  CAST(r.cum AS BIGINT) AS cum_toks,
        |  CAST(b.tok_lang AS BIGINT) AS tok_lang, b.budget
        |FROM r JOIN b ON r.lang = b.lang
        |WHERE r.cum - r.toks < b.budget ORDER BY r.doc_id""".stripMargin,
    // sqrt is IEEE-correctly-rounded (see OracleDisciplineSpec's scaladoc)
    // so the ⌊√n⌋·4 budget is hash-safe; ranking is by md5 hex string —
    // string comparison, identical in both engines.
    "tx24_temperature_mix" ->
      """WITH d AS (
        |  SELECT doc_id, lang, md5(lower(trim(text))) AS fp FROM documents),
        |b AS (
        |  SELECT lang, COUNT(*) AS n_lang,
        |    LEAST(COUNT(*), CAST(FLOOR(SQRT(COUNT(*))) * 4 AS BIGINT)) AS budget
        |  FROM d GROUP BY lang),
        |r AS (
        |  SELECT doc_id, lang,
        |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY fp, doc_id) AS rk
        |  FROM d)
        |SELECT r.doc_id, r.lang, CAST(r.rk AS INT) AS rk,
        |  CAST(b.n_lang AS INT) AS n_lang, CAST(b.budget AS INT) AS budget
        |FROM r JOIN b ON r.lang = b.lang WHERE r.rk <= b.budget
        |ORDER BY r.doc_id""".stripMargin,
    "tx19_shuffle_shards" ->
      """WITH h AS (
        |  SELECT doc_id, md5('s42:' || CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents)
        |SELECT doc_id, substring(h, 1, 1) AS shard,
        |  CAST(ROW_NUMBER() OVER (
        |    PARTITION BY substring(h, 1, 1) ORDER BY h, doc_id) AS INT) AS pos
        |FROM h ORDER BY doc_id""".stripMargin,
    // tx19's mirror at the 2-nibble production width (256 shards)
    "tx37_shuffle_shards_wide" ->
      """WITH h AS (
        |  SELECT doc_id, md5('s42:' || CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents)
        |SELECT doc_id, substring(h, 1, 2) AS shard,
        |  CAST(ROW_NUMBER() OVER (
        |    PARTITION BY substring(h, 1, 2) ORDER BY h, doc_id) AS INT) AS pos
        |FROM h ORDER BY doc_id""".stripMargin,
    "tx15_subword_tokens" ->
      s"""$subwordCtePrelude
         |SELECT doc_id, n_tokens FROM counts ORDER BY doc_id""".stripMargin,
    // tx36 shares tx15's oracle verbatim (the st06 ≡ dd07/dd08 and dd19
    // ≡ dd16 precedent): the refreshed vocab equals the full-corpus
    // vocab by count additivity, so the tokenization is tx15's.
    "tx36_refreshed_vocab_tokens" ->
      s"""$subwordCtePrelude
         |SELECT doc_id, n_tokens FROM counts ORDER BY doc_id""".stripMargin,
    "tx16_pack_subword" ->
      s"""$subwordCtePrelude,
         |o AS (
         |  SELECT doc_id, source, CAST(n_tokens AS INT) AS tokens,
         |    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
         |  FROM counts)
         |SELECT doc_id, source, tokens,
         |  CAST(off // 2048 AS BIGINT) AS bin, off % 2048 AS bin_offset
         |FROM o ORDER BY doc_id""".stripMargin,
    // qp01's five stages are the proven per-stage mirrors chained as CTEs:
    // tx07's gate, dd10's exact all-pairs closure (restricted to the gated
    // set — the LSH stage it prunes for carries the same recall-1
    // dd15's instr-containment CTE → survivor-count √-budgets → content
    // fold → seeded shard; every stage is the proven mirror of its
    // declared sibling (dd15 / tx24 / tx13 / tx19)
    "qp02_multilingual_manifest" ->
      """WITH t AS (
        |  SELECT doc_id, lang, md5(lower(trim(text))) AS fp,
        |    array_to_string(regexp_extract_all(lower(text), '[a-z]+'), ' ') AS ts,
        |    len(regexp_extract_all(lower(text), '[a-z]+')) AS n_ws
        |  FROM documents),
        |e AS (SELECT * FROM t WHERE n_ws >= 8),
        |dropped AS (
        |  SELECT DISTINCT a.doc_id FROM e a JOIN e b ON a.doc_id != b.doc_id
        |    AND (b.n_ws > a.n_ws OR (b.n_ws = a.n_ws AND b.doc_id < a.doc_id))
        |    AND instr(' ' || b.ts || ' ', ' ' || a.ts || ' ') > 0),
        |d AS (
        |  SELECT doc_id, lang, fp FROM t
        |  WHERE doc_id NOT IN (SELECT doc_id FROM dropped)),
        |b AS (
        |  SELECT lang, COUNT(*) AS n_lang,
        |    LEAST(COUNT(*), CAST(FLOOR(SQRT(COUNT(*))) * 4 AS BIGINT)) AS budget
        |  FROM d GROUP BY lang),
        |r AS (
        |  SELECT doc_id, lang, fp,
        |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY fp, doc_id) AS rk
        |  FROM d),
        |train AS (
        |  SELECT r.doc_id, r.lang FROM r JOIN b ON r.lang = b.lang
        |  WHERE r.rk <= b.budget AND substring(r.fp, 1, 1) NOT IN ('d', 'e', 'f')),
        |sh AS (
        |  SELECT doc_id, lang, md5('s42:' || CAST(doc_id AS VARCHAR)) AS h
        |  FROM train)
        |SELECT doc_id, lang, substring(h, 1, 1) AS shard,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY substring(h, 1, 1)
        |    ORDER BY h, doc_id) AS INT) AS pos
        |FROM sh ORDER BY doc_id""".stripMargin,
    // qp03: the proven dd07 (exact gate) / dd11 (batch-touching fuzzy
    // closure + greedy ingest rule, recall-1 licensed) / dd17
    // (corpus-canonical substring cut, here on the accepted set) / tx13
    // (fold nibble) / tx19 (seeded shard) mirrors chained as CTEs.
    "qp03_incremental_manifest" ->
      """WITH RECURSIVE dd AS (
        |  SELECT doc_id, text, md5(lower(trim(text))) AS fp FROM documents),
        |ex AS (
        |  SELECT doc_id, text FROM (
        |    SELECT b.doc_id, b.text,
        |      ROW_NUMBER() OVER (PARTITION BY b.fp ORDER BY b.doc_id) AS rn
        |    FROM dd b WHERE b.doc_id % 2 = 1 AND NOT EXISTS (
        |      SELECT 1 FROM dd e WHERE e.doc_id % 2 = 0 AND e.fp = b.fp))
        |  WHERE rn = 1),
        |shn AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    range(1, greatest(len(string_split(text, ' ')) - 2, 1) + 1),
        |    i -> array_to_string(string_split(text, ' ')[i:i+2], ' '))) AS sh
        |  FROM (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0
        |        UNION ALL SELECT doc_id, text FROM ex)),
        |fpairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM shn a JOIN shn b ON a.doc_id < b.doc_id
        |  WHERE (a.doc_id % 2 = 1 OR b.doc_id % 2 = 1)
        |    AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |    / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.7),
        |edges AS (
        |  SELECT id_a, id_b FROM fpairs UNION SELECT id_b, id_a FROM fpairs),
        |reach(id, r) AS (
        |  SELECT id_a, id_a FROM edges
        |  UNION
        |  SELECT e.id_a, rr.r FROM edges e JOIN reach rr ON e.id_b = rr.id),
        |labels AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id),
        |cstats AS (
        |  SELECT cluster_id,
        |    MAX(CASE WHEN id % 2 = 0 THEN 1 ELSE 0 END) AS has_existing,
        |    MIN(CASE WHEN id % 2 = 1 THEN id END) AS min_batch
        |  FROM labels GROUP BY cluster_id),
        |fdrops AS (
        |  SELECT id FROM labels JOIN cstats USING (cluster_id)
        |  WHERE id % 2 = 1 AND (has_existing = 1 OR id != min_batch)),
        |acc AS (SELECT doc_id FROM ex
        |        WHERE doc_id NOT IN (SELECT id FROM fdrops)),
        |t AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, i AS pos, md5(array_to_string(ws[i:i+7], ' ')) AS h
        |  FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - 6)) AS i FROM t)),
        |aw AS (SELECT w.* FROM w JOIN acc USING (doc_id)),
        |ch AS (SELECT DISTINCT h FROM w WHERE doc_id % 2 = 0),
        |incorp AS (SELECT aw.* FROM aw JOIN ch USING (h)),
        |bonly AS (SELECT * FROM aw
        |          WHERE NOT EXISTS (SELECT 1 FROM ch WHERE ch.h = aw.h)),
        |bdup AS (SELECT h FROM bonly GROUP BY h HAVING COUNT(DISTINCT doc_id) > 1),
        |bcut AS (
        |  SELECT doc_id, pos FROM (
        |    SELECT bonly.doc_id, bonly.pos,
        |      ROW_NUMBER() OVER (PARTITION BY bonly.h
        |        ORDER BY bonly.doc_id, bonly.pos) AS rn
        |    FROM bonly JOIN bdup USING (h)) WHERE rn > 1),
        |cut AS (SELECT doc_id, pos FROM incorp
        |        UNION ALL SELECT doc_id, pos FROM bcut),
        |sp AS (
        |  SELECT doc_id, pos,
        |    SUM(CASE WHEN prev IS NULL OR pos > prev + 7 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
        |  FROM (SELECT doc_id, pos,
        |          LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        |        FROM cut)),
        |spans AS (SELECT doc_id, span_id, MIN(pos) AS s, MAX(pos) AS e
        |          FROM sp GROUP BY 1, 2),
        |sstats AS (
        |  SELECT doc_id, SUM(e - s + 8) AS n_cut_tokens FROM spans GROUP BY 1),
        |toks AS (SELECT t.doc_id, len(ws) AS n_ws FROM t JOIN acc USING (doc_id)),
        |train AS (
        |  SELECT a.doc_id FROM acc a JOIN dd ON dd.doc_id = a.doc_id
        |  WHERE substring(dd.fp, 1, 1) NOT IN ('d', 'e', 'f')),
        |keyed AS (
        |  SELECT doc_id, md5('s42:' || CAST(doc_id AS VARCHAR)) AS h FROM train)
        |SELECT k.doc_id, substring(h, 1, 1) AS shard,
        |  CAST(ROW_NUMBER() OVER (
        |    PARTITION BY substring(h, 1, 1) ORDER BY h, k.doc_id) AS INT) AS pos,
        |  CAST(toks.n_ws - COALESCE(sstats.n_cut_tokens, 0) AS INT) AS n_tokens_kept
        |FROM keyed k
        |JOIN toks ON toks.doc_id = k.doc_id
        |LEFT JOIN sstats ON sstats.doc_id = k.doc_id
        |ORDER BY k.doc_id""".stripMargin,
    // license), tx10's df-capped trigram decontamination, tx13's nibble
    // fold, tx19's seeded shard/rank.
    "qp01_training_manifest" ->
      s"""WITH RECURSIVE scored AS (
         |  SELECT doc_id, text,
         |    len(string_split(text, ' ')) AS n_words,
         |    len(regexp_extract_all(lower(text), '$EnStop')) AS en_hits,
         |    len(list_filter(string_split(text, ' '), w -> length(w) <= 2)) AS n_short,
         |    md5(lower(trim(text))) AS fp
         |  FROM documents),
         |gated AS (
         |  SELECT doc_id, text FROM (
         |    SELECT doc_id, text,
         |      ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
         |    FROM scored
         |    WHERE en_hits >= 3 AND n_words >= 20
         |      AND (en_hits * 2.0 / n_words)
         |        - (CAST(n_short AS DOUBLE) / n_words) >= 0.15)
         |  WHERE rn = 1),
         |d AS (
         |  SELECT doc_id, list_distinct(list_transform(
         |    range(1, greatest(len(string_split(text, ' ')) - 2, 1) + 1),
         |    i -> array_to_string(string_split(text, ' ')[i:i+2], ' '))) AS sh
         |  FROM gated),
         |fpairs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM d a JOIN d b ON a.doc_id < b.doc_id
         |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |    / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.7),
         |edges AS (
         |  SELECT id_a, id_b FROM fpairs UNION SELECT id_b, id_a FROM fpairs),
         |reach(id, r) AS (
         |  SELECT id_a, id_a FROM edges
         |  UNION
         |  SELECT e.id_a, rr.r FROM edges e JOIN reach rr ON e.id_b = rr.id),
         |drops AS (SELECT id FROM reach GROUP BY id HAVING id != MIN(r)),
         |kept AS (
         |  SELECT doc_id FROM gated
         |  WHERE doc_id NOT IN (SELECT id FROM drops)),
         |g AS (
         |  SELECT DISTINCT doc_id,
         |    array_to_string(string_split(text, ' ')[i:i+2], ' ') AS ngram
         |  FROM (SELECT doc_id, text,
         |          unnest(range(1, greatest(len(string_split(text, ' ')) - 2, 0) + 1)) AS i
         |        FROM documents)),
         |kg AS (
         |  SELECT doc_id, ngram FROM g
         |  WHERE ngram IN (SELECT ngram FROM g GROUP BY ngram HAVING COUNT(*) <= 64)),
         |flagged AS (
         |  SELECT DISTINCT doc_id FROM (
         |    SELECT c.doc_id AS doc_id
         |    FROM kg c JOIN kg e ON c.ngram = e.ngram
         |    WHERE c.doc_id % 50 <> 0 AND e.doc_id % 50 = 0
         |    GROUP BY c.doc_id, e.doc_id HAVING COUNT(*) >= 3)),
         |clean AS (
         |  SELECT doc_id FROM kept
         |  WHERE doc_id % 50 <> 0
         |    AND doc_id NOT IN (SELECT doc_id FROM flagged)),
         |train AS (
         |  SELECT c.doc_id FROM clean c JOIN documents dd ON dd.doc_id = c.doc_id
         |  WHERE substring(md5(lower(trim(dd.text))), 1, 1) NOT IN ('d', 'e', 'f')),
         |keyed AS (
         |  SELECT doc_id, md5('s42:' || CAST(doc_id AS VARCHAR)) AS h FROM train)
         |SELECT doc_id, substring(h, 1, 1) AS shard,
         |  CAST(ROW_NUMBER() OVER (
         |    PARTITION BY substring(h, 1, 1) ORDER BY h, doc_id) AS INT) AS pos
         |FROM keyed ORDER BY doc_id""".stripMargin,
    // Mirrors qp04: qp01's gate + fuzzy-closure CTEs (same recall
    // license), tx30's survivor-restricted span cut, the >= 20-token
    // remainder rule, tx13's fold, tx19's shard/rank.
    "qp04_decontaminated_manifest" ->
      s"""WITH RECURSIVE scored AS (
         |  SELECT doc_id, text,
         |    len(string_split(text, ' ')) AS n_words,
         |    len(regexp_extract_all(lower(text), '$EnStop')) AS en_hits,
         |    len(list_filter(string_split(text, ' '), w -> length(w) <= 2)) AS n_short,
         |    md5(lower(trim(text))) AS fp
         |  FROM documents),
         |gated AS (
         |  SELECT doc_id, text FROM (
         |    SELECT doc_id, text,
         |      ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
         |    FROM scored
         |    WHERE en_hits >= 3 AND n_words >= 20
         |      AND (en_hits * 2.0 / n_words)
         |        - (CAST(n_short AS DOUBLE) / n_words) >= 0.15)
         |  WHERE rn = 1),
         |d AS (
         |  SELECT doc_id, list_distinct(list_transform(
         |    range(1, greatest(len(string_split(text, ' ')) - 2, 1) + 1),
         |    i -> array_to_string(string_split(text, ' ')[i:i+2], ' '))) AS sh
         |  FROM gated),
         |fpairs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM d a JOIN d b ON a.doc_id < b.doc_id
         |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |    / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.7),
         |edges AS (
         |  SELECT id_a, id_b FROM fpairs UNION SELECT id_b, id_a FROM fpairs),
         |reach(id, r) AS (
         |  SELECT id_a, id_a FROM edges
         |  UNION
         |  SELECT e.id_a, rr.r FROM edges e JOIN reach rr ON e.id_b = rr.id),
         |drops AS (SELECT id FROM reach GROUP BY id HAVING id != MIN(r)),
         |surv AS (
         |  SELECT doc_id FROM gated
         |  WHERE doc_id NOT IN (SELECT id FROM drops) AND doc_id % 10 <> 0),
         |t2 AS (
         |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws
         |  FROM documents),
         |w AS (
         |  SELECT doc_id, i AS pos, md5(array_to_string(ws[i:i+7], ' ')) AS h
         |  FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - 6)) AS i FROM t2)),
         |eh AS (SELECT DISTINCT h FROM w WHERE doc_id % 10 = 0),
         |occ AS (
         |  SELECT w.doc_id, w.pos FROM w JOIN eh USING (h)
         |  JOIN surv ON surv.doc_id = w.doc_id),
         |sp AS (
         |  SELECT doc_id, pos,
         |    SUM(CASE WHEN prev IS NULL OR pos > prev + 7 THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
         |  FROM (SELECT doc_id, pos,
         |          LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
         |        FROM occ)),
         |spans AS (SELECT doc_id, span_id, MIN(pos) AS s, MAX(pos) AS e
         |          FROM sp GROUP BY 1, 2),
         |cut AS (
         |  SELECT doc_id, SUM(e - s + 8) AS n_cut FROM spans GROUP BY 1),
         |sized AS (
         |  SELECT surv.doc_id,
         |    CAST(len(t2.ws) - COALESCE(cut.n_cut, 0) AS INT) AS n_tokens_kept
         |  FROM surv
         |  JOIN t2 ON t2.doc_id = surv.doc_id
         |  LEFT JOIN cut ON cut.doc_id = surv.doc_id
         |  WHERE len(t2.ws) - COALESCE(cut.n_cut, 0) >= 20),
         |train AS (
         |  SELECT z.doc_id, z.n_tokens_kept
         |  FROM sized z JOIN documents dd ON dd.doc_id = z.doc_id
         |  WHERE substring(md5(lower(trim(dd.text))), 1, 1) NOT IN ('d', 'e', 'f')),
         |keyed AS (
         |  SELECT doc_id, n_tokens_kept,
         |    md5('s42:' || CAST(doc_id AS VARCHAR)) AS h FROM train)
         |SELECT doc_id, substring(h, 1, 1) AS shard,
         |  CAST(ROW_NUMBER() OVER (
         |    PARTITION BY substring(h, 1, 1) ORDER BY h, doc_id) AS INT) AS pos,
         |  n_tokens_kept
         |FROM keyed ORDER BY doc_id""".stripMargin,
    "tx13_hash_split" ->
      """SELECT doc_id, substring(md5(lower(trim(text))), 1, 1) AS nibble,
        |  CASE WHEN substring(md5(lower(trim(text))), 1, 1) IN ('d', 'e') THEN 'val'
        |       WHEN substring(md5(lower(trim(text))), 1, 1) = 'f' THEN 'test'
        |       ELSE 'train' END AS fold
        |FROM documents ORDER BY doc_id""".stripMargin,
    "tx14_pack_sequences" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS INT) AS tokens
        |  FROM documents),
        |o AS (
        |  SELECT doc_id, source, tokens,
        |    CAST(COALESCE(SUM(tokens) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
        |  FROM t)
        |SELECT doc_id, source, tokens,
        |  CAST(off // 2048 AS BIGINT) AS bin, off % 2048 AS bin_offset
        |FROM o ORDER BY doc_id""".stripMargin,
    "tx11_repetition" ->
      """WITH g AS (
        |  SELECT doc_id, COUNT(*) AS n_grams, COUNT(DISTINCT ngram) AS n_distinct
        |  FROM (SELECT doc_id,
        |          array_to_string(string_split(text, ' ')[i:i+2], ' ') AS ngram
        |        FROM (SELECT doc_id, text,
        |                unnest(range(1, greatest(len(string_split(text, ' ')) - 2, 0) + 1)) AS i
        |              FROM documents))
        |  GROUP BY 1),
        |w AS (
        |  SELECT doc_id, MAX(c) AS top_word, SUM(c) AS n_words FROM (
        |    SELECT doc_id, w, COUNT(*) AS c
        |    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
        |    GROUP BY 1, 2)
        |  GROUP BY 1)
        |SELECT g.doc_id, CAST(n_grams AS INT) AS n_grams,
        |  CAST(n_grams - n_distinct AS DOUBLE) / n_grams AS dup_gram_frac,
        |  CAST(top_word AS DOUBLE) / n_words AS top_word_frac,
        |  (CAST(n_grams - n_distinct AS DOUBLE) / n_grams > 0.2
        |   OR CAST(top_word AS DOUBLE) / n_words > 0.2) AS flagged
        |FROM g JOIN w USING (doc_id) ORDER BY doc_id""".stripMargin,
    // mirrors the engine's df-capped gram index (df <= 64 over the
    // distinct (doc, gram) table) before the pair join
    "tx10_decontaminate" ->
      """WITH g AS (
        |  SELECT DISTINCT doc_id,
        |    array_to_string(string_split(text, ' ')[i:i+2], ' ') AS ngram
        |  FROM (SELECT doc_id, text,
        |          unnest(range(1, greatest(len(string_split(text, ' ')) - 2, 0) + 1)) AS i
        |        FROM documents)),
        |kept AS (
        |  SELECT doc_id, ngram FROM g
        |  WHERE ngram IN (SELECT ngram FROM g GROUP BY ngram HAVING COUNT(*) <= 64))
        |SELECT c.doc_id AS corpus_id, e.doc_id AS eval_id,
        |  CAST(COUNT(*) AS INT) AS shared_grams
        |FROM kept c JOIN kept e ON c.ngram = e.ngram
        |WHERE c.doc_id % 50 <> 0 AND e.doc_id % 50 = 0
        |GROUP BY 1, 2 HAVING COUNT(*) >= 3
        |ORDER BY 1, 2""".stripMargin,
    "tx09_quota_mix" ->
      """SELECT doc_id, lang, source, len, rk FROM (
        |  SELECT doc_id, lang, source, CAST(length(text) AS INT) AS len,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY lang, source
        |           ORDER BY length(text) DESC, doc_id) AS INT) AS rk
        |  FROM documents)
        |WHERE rk <= 20 ORDER BY lang, source, rk""".stripMargin,
    // tx08's rolling-hash CDC replayed in SQL (r4/r5 stretch, closed in
    // r6). Two properties make the sequential chunker expressible without
    // a per-byte recursion:
    //  1. mask arithmetic collapses: maskBits = 6 (mask 63) and polynomial
    //     base 257 ≡ 1 (mod 64), and Long wraparound (mod 2^64) preserves
    //     low bits — so `(h & 63) == 0` is exactly `sum of the window's
    //     bytes ≡ 0 (mod 64)`, a plain window SUM;
    //  2. MinLen == Win == 16: the cut predicate is only consulted once a
    //     chunk holds ≥ 16 bytes, at which point the rolling hash covers
    //     exactly the LAST 16 bytes regardless of where the chunk started —
    //     so candidate cut positions are a start-independent per-position
    //     property, precomputable in one pass, and the recursion only walks
    //     chunk to chunk (depth = chunks per doc ≤ ~36 at 577 B), not byte
    //     to byte: from `strt`, the next cut is the first candidate at
    //     len ≥ 16, else the MaxLen = 256 forced cut, else end-of-doc.
    // n_distinct counts distinct chunk TEXT where the engine counts
    // distinct XXH64 of the chunk bytes — equal absent a 64-bit collision
    // (none at gate scale; a collision would fail the gate loudly, not
    // silently). The corpus is pure ASCII (checked: octet_length == length
    // for every doc at every SF), so DuckDB's char positions are byte
    // offsets and ascii() is the byte value.
    "tx08_cdc_chunks" ->
      """WITH RECURSIVE
        |b AS (
        |  SELECT doc_id, i AS pos, ascii(substring(text, CAST(i AS INT), 1)) AS bv
        |  FROM (SELECT doc_id, text, unnest(range(1, length(text) + 1)) AS i FROM documents)
        |),
        |ws AS (
        |  SELECT doc_id, pos,
        |    SUM(bv) OVER (PARTITION BY doc_id ORDER BY pos
        |                  ROWS BETWEEN 15 PRECEDING AND CURRENT ROW) AS s16,
        |    COUNT(*) OVER (PARTITION BY doc_id ORDER BY pos
        |                   ROWS BETWEEN 15 PRECEDING AND CURRENT ROW) AS w
        |  FROM b
        |),
        |cand AS (SELECT doc_id, pos FROM ws WHERE w = 16 AND s16 % 64 = 0),
        |chunks AS (
        |  SELECT d.doc_id, CAST(1 AS BIGINT) AS strt,
        |         LEAST(COALESCE((SELECT MIN(c.pos) FROM cand c
        |                         WHERE c.doc_id = d.doc_id AND c.pos >= 16),
        |                        length(d.text)),
        |               CAST(256 AS BIGINT), length(d.text)) AS cut,
        |         length(d.text) AS n
        |  FROM documents d
        |  WHERE length(d.text) >= 1
        |  UNION ALL
        |  SELECT r.doc_id, r.cut + 1 AS strt,
        |         LEAST(COALESCE((SELECT MIN(c.pos) FROM cand c
        |                         WHERE c.doc_id = r.doc_id AND c.pos >= r.cut + 16),
        |                        r.n),
        |               r.cut + 256, r.n) AS cut,
        |         r.n
        |  FROM chunks r
        |  WHERE r.cut < r.n
        |)
        |SELECT ch.doc_id,
        |  CAST(COUNT(*) AS INT) AS n_chunks,
        |  CAST(COUNT(DISTINCT substring(d.text, CAST(ch.strt AS INT),
        |                                CAST(ch.cut - ch.strt + 1 AS INT))) AS INT) AS n_distinct,
        |  CAST(SUM(ch.cut - ch.strt + 1) AS INT) AS bytes_covered
        |FROM chunks ch JOIN documents d USING (doc_id)
        |GROUP BY ch.doc_id
        |ORDER BY ch.doc_id""".stripMargin,
    "tx07_corpus_prep" ->
      s"""WITH scored AS (
         |  SELECT doc_id,
         |    len(string_split(text, ' ')) AS n_words,
         |    len(regexp_extract_all(lower(text), '$EnStop')) AS en_hits,
         |    len(list_filter(string_split(text, ' '), w -> length(w) <= 2)) AS n_short,
         |    md5(lower(trim(text))) AS fp
         |  FROM documents),
         |gated AS (
         |  SELECT doc_id, n_words,
         |    (en_hits * 2.0 / n_words) - (CAST(n_short AS DOUBLE) / n_words) AS quality,
         |    fp
         |  FROM scored
         |  WHERE en_hits >= 3 AND n_words >= 20),
         |deduped AS (
         |  SELECT doc_id, n_words, quality, fp,
         |    ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
         |  FROM gated WHERE quality >= 0.15)
         |SELECT doc_id, n_words AS tokens, quality, fp
         |FROM deduped WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    "tx06_ngram_generate" ->
      """SELECT doc_id, CAST(i - 1 AS INT) AS pos,
        |  array_to_string(string_split(text, ' ')[i:i+2], ' ') AS ngram
        |FROM (SELECT doc_id, text,
        |        unnest(range(1, greatest(len(string_split(text, ' ')) - 2, 0) + 1)) AS i
        |      FROM documents WHERE doc_id % 10 = 0)
        |ORDER BY doc_id, pos""".stripMargin,
    "tx01_langid" ->
      s"""SELECT doc_id, en_hits,
         |  en_hits / words AS en_density,
         |  CASE WHEN en_hits >= 3 THEN 'en' ELSE 'und' END AS lang_pred
         |FROM (SELECT doc_id,
         |        len(string_split(text, ' ')) AS words,
         |        len(regexp_extract_all(lower(text), '$EnStop')) AS en_hits
         |      FROM documents) ORDER BY doc_id""".stripMargin,
    // Mirrors tx26: tx02's quality statistic, per-language rank with
    // doc_id tie-break, ceil(0.3 n) in integer division.
    "tx26_percentile_gate" ->
      s"""WITH q AS (
         |  SELECT doc_id, lang,
         |    (len(regexp_extract_all(lower(text), '$EnStop'))
         |       / CAST(len(string_split(text, ' ')) AS DOUBLE)) * 2.0
         |    - (len(list_filter(string_split(text, ' '), w -> length(w) <= 2))
         |       / CAST(len(string_split(text, ' ')) AS DOUBLE)) AS quality
         |  FROM documents),
         |r AS (
         |  SELECT doc_id, lang, quality,
         |    ROW_NUMBER() OVER (PARTITION BY lang
         |      ORDER BY quality DESC, doc_id) AS q_rank,
         |    COUNT(*) OVER (PARTITION BY lang) AS n_lang
         |  FROM q)
         |SELECT doc_id, lang, quality, CAST(q_rank AS INT) AS q_rank,
         |  CAST(n_lang AS BIGINT) AS n_lang
         |FROM r WHERE q_rank <= (n_lang * 3 + 9) // 10
         |ORDER BY doc_id""".stripMargin,
    // Mirrors tx28's two-pass threshold from first principles: the same
    // per-(lang, quality) counts / running-sum cutoff / strictly-above +
    // ranked-ties split. Running SUMs partition over the GROUPED frame,
    // where quality values are distinct within a lang, so the default
    // RANGE frame's peer inclusion is moot on both engines.
    "tx28_quantile_gate" ->
      s"""WITH q AS (
         |  SELECT doc_id, lang,
         |    (len(regexp_extract_all(lower(text), '$EnStop'))
         |       / CAST(len(string_split(text, ' ')) AS DOUBLE)) * 2.0
         |    - (len(list_filter(string_split(text, ' '), w -> length(w) <= 2))
         |       / CAST(len(string_split(text, ' ')) AS DOUBLE)) AS quality
         |  FROM documents),
         |c AS (SELECT lang, quality, COUNT(*) AS cnt FROM q GROUP BY lang, quality),
         |t AS (
         |  SELECT lang, quality AS thr_q, cnt,
         |    SUM(cnt) OVER (PARTITION BY lang) AS n_lang,
         |    SUM(cnt) OVER (PARTITION BY lang ORDER BY quality DESC) AS cum
         |  FROM c),
         |thr AS (
         |  SELECT lang, thr_q, cum - cnt AS c_above,
         |    (n_lang * 3 + 9) // 10 AS k, n_lang
         |  FROM t WHERE cum >= (n_lang * 3 + 9) // 10
         |    AND cum - cnt < (n_lang * 3 + 9) // 10),
         |tied AS (
         |  SELECT q.doc_id, q.lang, q.quality, thr.n_lang,
         |    ROW_NUMBER() OVER (PARTITION BY q.lang ORDER BY q.doc_id) AS tie_rnk,
         |    thr.k - thr.c_above AS n_fill
         |  FROM q JOIN thr ON q.lang = thr.lang AND q.quality = thr.thr_q)
         |SELECT doc_id, lang, quality, CAST(n_lang AS BIGINT) AS n_lang
         |FROM (
         |  SELECT q.doc_id, q.lang, q.quality, thr.n_lang
         |  FROM q JOIN thr ON q.lang = thr.lang AND q.quality > thr.thr_q
         |  UNION ALL
         |  SELECT doc_id, lang, quality, n_lang FROM tied WHERE tie_rnk <= n_fill)
         |ORDER BY doc_id""".stripMargin,
    // Mirrors tx29 from first principles: same integer commonness score,
    // same histogram running-sum tercile boundaries, same value-based
    // CASE (boundary docs fall to the lower bucket). All-integer — the
    // HUGEINT sums cast back to BIGINT to match Spark's long.
    "tx29_ppl_buckets" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
        |  FROM documents),
        |cnt AS (SELECT w, COUNT(*) AS c FROM tok GROUP BY w),
        |sc AS (
        |  SELECT t.doc_id,
        |    CAST((SUM(c.c) * 1000000) // COUNT(*) AS BIGINT) AS score
        |  FROM tok t JOIN cnt c ON t.w = c.w
        |  GROUP BY t.doc_id),
        |h AS (
        |  SELECT score, COUNT(*) AS hcnt,
        |    SUM(COUNT(*)) OVER () AS n,
        |    SUM(COUNT(*)) OVER (ORDER BY score DESC) AS cum
        |  FROM sc GROUP BY score),
        |thr AS (
        |  SELECT
        |    MAX(CASE WHEN cum >= (n + 2) // 3
        |      AND cum - hcnt < (n + 2) // 3 THEN score END) AS t1,
        |    MAX(CASE WHEN cum >= (2 * n + 2) // 3
        |      AND cum - hcnt < (2 * n + 2) // 3 THEN score END) AS t2
        |  FROM h)
        |SELECT sc.doc_id, sc.score,
        |  CASE WHEN sc.score > thr.t1 THEN 'head'
        |       WHEN sc.score > thr.t2 THEN 'middle'
        |       ELSE 'tail' END AS bucket
        |FROM sc, thr ORDER BY doc_id""".stripMargin,
    // Mirrors tx30 from first principles (dd12's window SQL pointed
    // across the fold boundary): eval (doc_id % 10 = 0) distinct window
    // hashes, train occurrences matching them, islands merge on starts
    // < 8 apart, per-span window counts summed in the same pass.
    "tx30_substring_decontam" ->
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
        |  SELECT doc_id, CAST(COUNT(*) AS INT) AS n_contam_spans,
        |    CAST(SUM(e - s + 8) AS INT) AS n_cut_tokens,
        |    CAST(SUM(nw) AS INT) AS n_contam_windows
        |  FROM spans GROUP BY 1),
        |base AS (
        |  SELECT doc_id, CAST(greatest(len(ws) - 7, 0) AS INT) AS n_windows
        |  FROM t)
        |SELECT agg.doc_id, base.n_windows, n_contam_windows, n_contam_spans,
        |  n_cut_tokens,
        |  CAST(n_contam_windows AS DOUBLE) / base.n_windows AS contam_ratio
        |FROM agg JOIN base USING (doc_id)
        |ORDER BY agg.doc_id""".stripMargin,
    // Mirrors tx31 as the exact all-CROSS-pairs truth (dd10's oracle
    // restricted to one-side-eval pairs), licensed by the gate-scale
    // recall-1 spec over all pairs; jaccard is an int/int IEEE division
    // on both engines. Stated in the dd06/tx10 inverted-index shape
    // (equi-join on the shingle string, shared count per pair) rather
    // than dd10's pairwise list_intersect — the SAME truth set (a
    // j >= 0.7 pair shares at least one shingle, so no pair is lost),
    // but the oracle itself then runs in minutes at sf0.1 instead of
    // hours (the all-pairs form is quadratic in DuckDB; this one is
    // bounded by the shingle-collision mass).
    "tx31_fuzzy_decontam" ->
      """WITH d AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, greatest(len(string_split(text, ' ')) - 2, 1) + 1),
        |    i -> array_to_string(string_split(text, ' ')[i:i+2], ' ')))) AS sh
        |  FROM documents),
        |n AS (SELECT doc_id, COUNT(*) AS n FROM d GROUP BY 1),
        |shared AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
        |  FROM d a JOIN d b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  WHERE (a.doc_id % 10 = 0) != (b.doc_id % 10 = 0)
        |  GROUP BY 1, 2),
        |p AS (
        |  SELECT id_a, id_b,
        |    CAST(inter AS DOUBLE) / (na.n + nb.n - inter) AS jaccard
        |  FROM shared
        |  JOIN n na ON na.doc_id = id_a
        |  JOIN n nb ON nb.doc_id = id_b)
        |SELECT
        |  CASE WHEN id_a % 10 = 0 THEN id_b ELSE id_a END AS corpus_id,
        |  CASE WHEN id_a % 10 = 0 THEN id_a ELSE id_b END AS eval_id,
        |  jaccard
        |FROM p WHERE jaccard >= 0.7
        |ORDER BY corpus_id, eval_id""".stripMargin,
    // Mirrors tx32 from first principles (tx30's window SQL with source
    // carried through): train (h, source) occurrence counts joined to
    // each eval doc's distinct window hashes, aggregated per
    // (eval doc, source). All exact integers.
    "tx32_contam_attribution" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    regexp_extract_all(lower(text), '[a-z]+') AS ws
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, source, i AS pos,
        |    md5(array_to_string(ws[i:i+7], ' ')) AS h
        |  FROM (SELECT doc_id, source, ws,
        |          unnest(range(1, len(ws) - 6)) AS i FROM t)),
        |ta AS (
        |  SELECT h, source, COUNT(*) AS n_occ
        |  FROM w WHERE doc_id % 10 != 0 GROUP BY 1, 2),
        |ew AS (
        |  SELECT DISTINCT doc_id AS eval_doc_id, h
        |  FROM w WHERE doc_id % 10 = 0)
        |SELECT eval_doc_id, source,
        |  CAST(COUNT(DISTINCT h) AS BIGINT) AS n_shared_windows,
        |  CAST(SUM(n_occ) AS BIGINT) AS n_train_occurrences
        |FROM ew JOIN ta USING (h)
        |GROUP BY 1, 2
        |ORDER BY eval_doc_id, source""".stripMargin,
    // Mirrors tx35 from first principles (tx30's window SQL): global
    // per-hash occurrence counts joined back to each doc's windows,
    // reduced per doc; the novelty ratio is the same CAST-double /
    // bigint IEEE division the engine computes.
    "tx35_novelty" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, md5(array_to_string(ws[i:i+7], ' ')) AS h
        |  FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - 6)) AS i FROM t)),
        |g AS (SELECT h, COUNT(*) AS n_occ FROM w GROUP BY 1)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_windows,
        |  CAST(SUM(CASE WHEN g.n_occ = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
        |  CAST(SUM(CASE WHEN g.n_occ = 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS novelty
        |FROM w JOIN g USING (h)
        |GROUP BY 1 ORDER BY doc_id""".stripMargin,
    // Mirrors qp07 from first principles: tx32's window SQL collapsed to
    // the eval-doc grain, tx31's inverted-index cross-fold jaccard
    // aggregated to (count, max), LEFT-joined onto the eval roster with
    // the verdict CASE over the coalesced counts. Reused CTEs are
    // MATERIALIZEd by the assembly pass.
    "qp07_eval_screen" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    regexp_extract_all(lower(text), '[a-z]+') AS ws
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, source, i AS pos,
        |    md5(array_to_string(ws[i:i+7], ' ')) AS h
        |  FROM (SELECT doc_id, source, ws,
        |          unnest(range(1, len(ws) - 6)) AS i FROM t)),
        |ta AS (
        |  SELECT h, source, COUNT(*) AS n_occ
        |  FROM w WHERE doc_id % 10 != 0 GROUP BY 1, 2),
        |ew AS (
        |  SELECT DISTINCT doc_id AS eval_doc_id, h
        |  FROM w WHERE doc_id % 10 = 0),
        |leak AS (
        |  SELECT eval_doc_id,
        |    CAST(COUNT(DISTINCT h) AS BIGINT) AS n_leaked_windows,
        |    CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
        |    CAST(SUM(n_occ) AS BIGINT) AS n_train_occurrences
        |  FROM ew JOIN ta USING (h) GROUP BY 1),
        |d AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, greatest(len(string_split(text, ' ')) - 2, 1) + 1),
        |    i -> array_to_string(string_split(text, ' ')[i:i+2], ' ')))) AS sh
        |  FROM documents),
        |n AS (SELECT doc_id, COUNT(*) AS n FROM d GROUP BY 1),
        |shared AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
        |  FROM d a JOIN d b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  WHERE (a.doc_id % 10 = 0) != (b.doc_id % 10 = 0)
        |  GROUP BY 1, 2),
        |p AS (
        |  SELECT CASE WHEN id_a % 10 = 0 THEN id_a ELSE id_b END AS eval_doc_id,
        |    CAST(inter AS DOUBLE) / (na.n + nb.n - inter) AS jaccard
        |  FROM shared
        |  JOIN n na ON na.doc_id = id_a
        |  JOIN n nb ON nb.doc_id = id_b),
        |fz AS (
        |  SELECT eval_doc_id, CAST(COUNT(*) AS BIGINT) AS n_near_dup_train,
        |    MAX(jaccard) AS max_jaccard
        |  FROM p WHERE jaccard >= 0.7 GROUP BY 1),
        |base AS (
        |  SELECT doc_id AS eval_doc_id,
        |    CAST(greatest(len(ws) - 7, 0) AS INT) AS n_windows
        |  FROM t WHERE doc_id % 10 = 0)
        |SELECT b.eval_doc_id, b.n_windows,
        |  COALESCE(l.n_leaked_windows, 0) AS n_leaked_windows,
        |  COALESCE(l.n_sources, 0) AS n_sources,
        |  COALESCE(l.n_train_occurrences, 0) AS n_train_occurrences,
        |  COALESCE(f.n_near_dup_train, 0) AS n_near_dup_train,
        |  f.max_jaccard AS max_jaccard,
        |  CASE WHEN COALESCE(l.n_leaked_windows, 0) > 0 THEN 'exact'
        |       WHEN COALESCE(f.n_near_dup_train, 0) > 0 THEN 'near'
        |       ELSE 'clean' END AS verdict
        |FROM base b
        |LEFT JOIN leak l USING (eval_doc_id)
        |LEFT JOIN fz f USING (eval_doc_id)
        |ORDER BY b.eval_doc_id""".stripMargin,
    // Mirrors tx33 from first principles: per (doc, n, gram) counts over
    // positions 0..nt-n, top-{2,3,4}-gram token fraction only when the
    // top gram repeats, duplicate-5-gram union coverage via the islands
    // window (a chain of [p, p+5) intervals each starting within 4 of
    // the running max is contiguous, so island coverage = max-min+5).
    // Fractions are the same int/int IEEE divisions the engine computes.
    "tx33_gopher_repetition" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws,
        |    len(regexp_extract_all(lower(text), '[a-z]+')) AS nt
        |  FROM documents),
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
        |SELECT t.doc_id, CAST(t.nt AS BIGINT) AS n_tokens,
        |  CASE WHEN COALESCE(c2, 0) >= 2 THEN CAST(c2 * 2 AS DOUBLE) / t.nt ELSE 0.0 END AS top2_frac,
        |  CASE WHEN COALESCE(c3, 0) >= 2 THEN CAST(c3 * 3 AS DOUBLE) / t.nt ELSE 0.0 END AS top3_frac,
        |  CASE WHEN COALESCE(c4, 0) >= 2 THEN CAST(c4 * 4 AS DOUBLE) / t.nt ELSE 0.0 END AS top4_frac,
        |  CASE WHEN cov.cov IS NOT NULL THEN CAST(cov.cov AS DOUBLE) / t.nt ELSE 0.0 END AS dup5_frac,
        |  (CASE WHEN COALESCE(c2, 0) >= 2 THEN CAST(c2 * 2 AS DOUBLE) / t.nt ELSE 0.0 END <= 0.20
        |   AND CASE WHEN COALESCE(c3, 0) >= 2 THEN CAST(c3 * 3 AS DOUBLE) / t.nt ELSE 0.0 END <= 0.18
        |   AND CASE WHEN COALESCE(c4, 0) >= 2 THEN CAST(c4 * 4 AS DOUBLE) / t.nt ELSE 0.0 END <= 0.16
        |   AND CASE WHEN cov.cov IS NOT NULL THEN CAST(cov.cov AS DOUBLE) / t.nt ELSE 0.0 END <= 0.15) AS keep
        |FROM t
        |LEFT JOIN top ON top.doc_id = t.doc_id
        |LEFT JOIN cov ON cov.doc_id = t.doc_id
        |ORDER BY t.doc_id""".stripMargin,
    // Mirrors tx34 from first principles: whitespace words (empties
    // dropped), newline lines, the same exact-integer counts and the
    // same one-shot int/int divisions per fraction.
    "tx34_gopher_quality" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), w -> w != '') AS ws,
        |    string_split(text, chr(10)) AS ls,
        |    text
        |  FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    len(ws) AS n_words,
        |    list_sum(list_transform(ws, w -> len(w))) AS sum_len,
        |    len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]'))) AS n_alpha,
        |    len(list_filter(list_distinct(list_transform(ws, w -> lower(w))),
        |      w -> w IN ('the','be','to','of','and','that','have','with'))) AS n_stop_words,
        |    (len(text) - len(replace(text, '#', '')))
        |      + (len(text) - len(replace(text, '...', ''))) // 3
        |      + (len(text) - len(replace(text, '…', ''))) AS n_sym,
        |    len(ls) AS n_lines,
        |    len(list_filter(ls, l -> l LIKE '•%' OR l LIKE '-%' OR l LIKE '*%')) AS n_bullet,
        |    len(list_filter(ls, l -> l LIKE '%...' OR l LIKE '%…')) AS n_endell
        |  FROM t),
        |f AS (
        |  SELECT doc_id,
        |    CAST(n_words AS BIGINT) AS n_words,
        |    CASE WHEN n_words = 0 THEN 0.0
        |      ELSE CAST(sum_len AS DOUBLE) / n_words END AS mean_word_len,
        |    CASE WHEN n_words = 0 THEN 0.0
        |      ELSE CAST(n_sym AS DOUBLE) / n_words END AS symbol_ratio,
        |    CASE WHEN n_lines = 0 THEN 0.0
        |      ELSE CAST(n_bullet AS DOUBLE) / n_lines END AS bullet_frac,
        |    CASE WHEN n_lines = 0 THEN 0.0
        |      ELSE CAST(n_endell AS DOUBLE) / n_lines END AS ellipsis_frac,
        |    CASE WHEN n_words = 0 THEN 0.0
        |      ELSE CAST(n_alpha AS DOUBLE) / n_words END AS alpha_frac,
        |    CAST(n_stop_words AS BIGINT) AS n_stop_words
        |  FROM m)
        |SELECT doc_id, n_words, mean_word_len, symbol_ratio, bullet_frac,
        |  ellipsis_frac, alpha_frac, n_stop_words,
        |  (n_words >= 50 AND n_words <= 100000
        |   AND mean_word_len >= 3 AND mean_word_len <= 10
        |   AND symbol_ratio <= 0.1
        |   AND bullet_frac <= 0.9 AND ellipsis_frac <= 0.3
        |   AND alpha_frac >= 0.8 AND n_stop_words >= 2) AS keep
        |FROM f
        |ORDER BY doc_id""".stripMargin,
    // Mirrors tx27: ceil(n/64) chunks per doc in integer division, final
    // partial chunk with its true token count, zero-token docs absent.
    "tx27_sequence_chunks" ->
      """WITH t AS (
        |  SELECT doc_id, len(regexp_extract_all(lower(text), '[a-z]+')) AS n_ws
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_ws, unnest(range(0, (n_ws + 63) // 64)) AS chunk_idx
        |  FROM t WHERE n_ws > 0)
        |SELECT doc_id, CAST(n_ws AS INT) AS n_ws,
        |  CAST(chunk_idx AS INT) AS chunk_idx,
        |  CAST(chunk_idx * 64 + 1 AS INT) AS start_tok,
        |  CAST(least(64, n_ws - chunk_idx * 64) AS INT) AS n_tok
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,
    "tx02_quality" ->
      s"""SELECT doc_id, n_len, n_words,
         |  n_len / n_words AS avg_word_len,
         |  n_punct / n_len AS punct_ratio,
         |  n_stop / n_words AS stop_ratio,
         |  n_short / n_words AS short_ratio,
         |  (n_stop / n_words) * 2.0 - (n_short / n_words) AS quality
         |FROM (SELECT doc_id,
         |        length(text) AS n_len,
         |        len(string_split(text, ' ')) AS n_words,
         |        len(regexp_extract_all(text, '$Punct')) AS n_punct,
         |        len(regexp_extract_all(lower(text), '$EnStop')) AS n_stop,
         |        len(list_filter(string_split(text, ' '), w -> length(w) <= 2)) AS n_short
         |      FROM documents) ORDER BY doc_id""".stripMargin,
    "tx03_token_count" ->
      """SELECT doc_id,
        |  len(string_split_regex(text, '\s+')) AS ws_tokens,
        |  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS lex_tokens,
        |  length(text) / 4.0 AS approx_llm_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "tx05_redact" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    text || ' contact me at user' || CAST(doc_id AS VARCHAR)
        |      || '@mail.example.com or +7 915 ' || CAST(n_chars AS VARCHAR)
        |      || '-' || CAST(doc_id AS VARCHAR) AS dirty
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(dirty, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\+?[0-9][0-9 ()-]{6,}[0-9]', '<PHONE>', 'g') AS clean,
        |  dirty <> regexp_replace(dirty, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS had_email
        |FROM d ORDER BY doc_id""".stripMargin,
    "tx04_fingerprint" ->
      """SELECT doc_id,
        |  md5(lower(trim(text))) AS content_fp,
        |  md5(array_to_string(list_sort(string_split(text, ' ')), ' ')) AS bag_fp
        |FROM documents ORDER BY doc_id""".stripMargin)
}
