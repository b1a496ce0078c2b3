package graft

import org.apache.spark.sql.functions._

/** tx12 (hashed-gram decontamination, the 100 TB form) must flag exactly
  * the pairs its oracle-checkable string twin tx10 flags: the 8-byte XXH64
  * gram key changes the shuffle payload, never the semantics, unless a
  * 64-bit collision merges two distinct trigrams (none at gate scale — a
  * collision would fail THIS test loudly, not silently). */
class TextAnalysisSpec extends SparkSpec {

  test("tx12's (corpus, eval, shared) set equals tx10's on the gate corpus") {
    def pairs(name: String) =
      graft.SparkEntry.queries(name)(spark, sf001)
        .select("corpus_id", "eval_id", "shared_grams")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val string = pairs("tx10_decontaminate")
    val hashed = pairs("tx12_decontaminate_hashed")
    assert(string.nonEmpty, "tx10 flagged nothing — the equality check would be vacuous")
    assert(hashed == string,
      s"hashed twin diverged: ${hashed.size} pairs vs tx10's ${string.size} " +
        s"(only_hashed=${(hashed -- string).take(5)}, only_string=${(string -- hashed).take(5)})")
  }

  test("tx18 unigram log-prob scores a hand-computable corpus exactly") {
    import spark.implicits._
    // corpus: "aa aa bb" + "bb cc" → counts aa=2 bb=2 cc=1, total 5.
    // logp(aa) = logp(bb) = round(ln(0.4), 6) = -0.916291
    // logp(cc) = round(ln(0.2), 6) = -1.609438
    val tmp = java.nio.file.Files.createTempDirectory("tx18").toString
    Seq((1L, "aa aa bb"), (2L, "bb cc")).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val rows = graft.SparkEntry.queries("tx18_unigram_logprob")(spark, tmp)
      .collect().map(r => (r.getLong(0), r.getInt(1),
        r.getDecimal(2).doubleValue(), r.getDouble(3))).toList
    assert(rows == List(
      // means are RAW IEEE quotients of the exact decimal sums (see the
      // tx18 builder note on why there is no final round)
      (1L, 3, -2.748873, -0.9162910000000001), // 2*ln(.4)+ln(.4), /3
      (2L, 2, -2.525729, -1.2628645))) // ln(.4)+ln(.2) = -2.525729, /2
  }

  test("tx18: common-word boilerplate outscores rare-word noise (the filter's point)") {
    // On the gate corpus the score must actually rank: a doc of corpus-
    // frequent words gets a higher (less negative) avg_logp than one of
    // corpus-rare words — the perplexity-proxy ordering CCNet keeps/drops by.
    val scored = graft.SparkEntry.queries("tx18_unigram_logprob")(spark, sf001)
    val docs = graft.sources.Tables.table(spark, sf001, "documents")
    val n = scored.count()
    assert(n > 0 && n == docs.filter(lower(col("text")).rlike("[a-z]")).count(),
      "every doc with an alpha token is scored, others dropped")
    val spread = scored.agg(max(col("avg_logp")) - min(col("avg_logp")))
      .head.getDouble(0)
    assert(spread > 0.1, s"scores must separate docs, spread=$spread")
  }

  test("tx20 bigram LM is order-sensitive where tx18 cannot be") {
    import spark.implicits._
    // corpus: four fluent docs "the cat sat" + one scrambled "cat the sat".
    // Identical word MULTISET per doc → tx18 (unigram) scores all five
    // docs the same; tx20's conditional P(w|prev) must rank the scrambled
    // doc strictly below — the property that makes a perplexity filter
    // more than a word-frequency filter.
    val tmp = java.nio.file.Files.createTempDirectory("tx20").toString
    (Seq.tabulate(4)(i => ((i + 1).toLong, "the cat sat")) :+ (5L, "cat the sat"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    def scores(name: String) =
      graft.SparkEntry.queries(name)(spark, tmp)
        .select("doc_id", "avg_logp").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val uni = scores("tx18_unigram_logprob")
    assert(uni(5L) == uni(1L), s"tx18 must be order-blind: ${uni(5L)} vs ${uni(1L)}")
    val big = scores("tx20_bigram_logprob")
    assert(big(1L) == big(4L), "identical docs score identically")
    assert(big(5L) < big(1L) - 0.5,
      s"scrambled doc must score clearly lower: ${big(5L)} vs ${big(1L)}")
    // hand-check: unigrams all 1/3; fluent bigrams P=4/5, scrambled P=1/5.
    // fluent sum  = round(ln(1/3),6) + 2*round(ln(4/5),6) = -1.544900
    // scrambled   = round(ln(1/3),6) + 2*round(ln(1/5),6) = -4.317488
    val sums = graft.SparkEntry.queries("tx20_bigram_logprob")(spark, tmp)
      .select("doc_id", "logprob").collect()
      .map(r => r.getLong(0) -> r.getDecimal(1).doubleValue()).toMap
    assert(sums(1L) == -1.544900 && sums(5L) == -4.317488,
      s"hand-computed MLE sums diverge: ${sums(1L)}, ${sums(5L)}")
  }

  test("tx21 held-out stupid-backoff scoring matches a JVM reference bit-for-bit") {
    import spark.implicits._
    import java.math.{BigDecimal => JBD, RoundingMode}
    // tx13's fold rule: first md5 nibble of lower(trim(text)).
    def nib(text: String): Char = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(text.toLowerCase.trim.getBytes("UTF-8"))
      f"${h(0) & 0xff}%02x".charAt(0)
    }
    val inTrain = (c: Char) => !"def".contains(c)
    val inVal = (c: Char) => c == 'd' || c == 'e'
    // The content hash decides the fold, so steer each text into the fold
    // we need by varying a repetition count (the text's WORDS — what the
    // LM sees — stay fixed).
    def steer(base: String, want: Char => Boolean): String =
      (1 to 4096).iterator.map(k => Seq.fill(k)(base).mkString(" "))
        .find(t => want(nib(t)))
        .getOrElse(fail(s"no repetition of '$base' lands in the wanted fold"))
    val texts = Seq(
      steer("the cat sat", inTrain),
      steer("the cat ate", inTrain),
      steer("the dog sat", inTrain),
      steer("the cat sat", inVal), // every word and bigram seen in train
      steer("the zebra sat", inVal), // OOV word => base-score + backoff path
      steer("dog ate the cat", inVal)) // seen words, some unseen bigrams
    val docs = texts.zipWithIndex.map { case (t, i) => ((i + 1).toLong, t) }
    val tmp = java.nio.file.Files.createTempDirectory("tx21").toString
    docs.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")

    // Reference scorer: plain Scala mirror of the declared semantics.
    // round() on a double is Spark's shortest-string HALF_UP — mirror it.
    def r6(x: Double) = new JBD(java.lang.Double.toString(x)).setScale(6, RoundingMode.HALF_UP)
    def toks(t: String) = "[a-z]+".r.findAllIn(t.toLowerCase).toList
    val train = docs.filter { case (_, t) => inTrain(nib(t)) }.flatMap(d => toks(d._2))
    val uni = train.groupBy(identity).map { case (w, ws) => w -> ws.size.toLong }
    val tot = train.size.toDouble
    val big = docs.filter { case (_, t) => inTrain(nib(t)) }
      .flatMap(d => toks(d._2).sliding(2).filter(_.size == 2).map(p => (p(0), p(1))))
      .groupBy(identity).map { case (bg, bs) => bg -> bs.size.toLong }
    val ctx = big.groupBy(_._1._1).map { case (p, m) => p -> m.values.sum }
    val expected = docs.filter { case (_, t) => inVal(nib(t)) }.map { case (id, t) =>
      val ws = toks(t)
      val scored = ws.zip(None :: ws.map(Some(_))).map { case (w, prev) =>
        val base = uni.get(w).map(_ / tot).getOrElse(0.4 / tot)
        val oov = !uni.contains(w)
        prev match {
          case None => (r6(math.log(base)), oov, false)
          case Some(p) if big.contains((p, w)) =>
            (r6(math.log(big((p, w)).toDouble / ctx(p))), oov, false)
          case Some(_) => (r6(math.log(0.4 * base)), oov, true)
        }
      }
      val lp = scored.map(_._1).reduce(_ add _)
      (id, (ws.size, scored.count(_._2), scored.count(_._3), lp,
        lp.doubleValue() / ws.size))
    }.toMap
    assert(expected.values.exists(_._2 > 0), "corpus must exercise the OOV path")
    assert(expected.values.exists(_._3 > 0), "corpus must exercise the bigram-backoff path")

    val got = graft.SparkEntry.queries("tx21_backoff_heldout")(spark, tmp)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getInt(3), r.getDecimal(4), r.getDouble(5))).toMap
    assert(got.keySet == expected.keySet,
      s"output must be exactly the val fold: got ${got.keySet}, want ${expected.keySet}")
    expected.foreach { case (id, (n, oov, back, lp, avg)) =>
      val (gn, goov, gback, glp, gavg) = got(id)
      assert(gn == n && goov == oov && gback == back,
        s"doc $id counts: got ($gn,$goov,$gback), want ($n,$oov,$back)")
      assert(glp.compareTo(lp) == 0, s"doc $id logprob: got $glp, want $lp")
      assert(gavg == avg, s"doc $id avg_logp: got $gavg, want $avg")
    }
  }

  test("tx22 NB source classifier separates curated-vocab from crawl-vocab held-out docs") {
    import spark.implicits._
    // tx13's fold rule again: first md5 nibble of lower(trim(text)).
    def nib(text: String): Char = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(text.toLowerCase.trim.getBytes("UTF-8"))
      f"${h(0) & 0xff}%02x".charAt(0)
    }
    val inTrain = (c: Char) => !"def".contains(c)
    val inVal = (c: Char) => c == 'd' || c == 'e'
    def steer(base: String, want: Char => Boolean): String =
      (1 to 4096).iterator.map(k => Seq.fill(k)(base).mkString(" "))
        .find(t => want(nib(t)))
        .getOrElse(fail(s"no repetition of '$base' lands in the wanted fold"))
    // Disjoint vocabularies: the curated slice (src0) writes botany, the
    // crawl (src7) writes machinery. Training docs steered OUT of the val
    // fold; the three scored docs steered INTO it.
    val curated = "fern moss lichen petal sepal stamen"
    val crawl = "gear piston valve crank shaft flange"
    val docs = Seq(
      (1L, steer(curated, inTrain), "src0"),
      (2L, steer(curated + " pollen", inTrain), "src0"),
      (3L, steer(crawl, inTrain), "src7"),
      (4L, steer(crawl + " rivet", inTrain), "src7"),
      // held-out: curated-sounding, crawl-sounding, and out-of-vocab text
      (5L, steer("petal stamen moss fern", inVal), "src9"),
      (6L, steer("piston crank gear valve", inVal), "src9"),
      (7L, steer("zanzibar quokka xylophone", inVal), "src9"))
    val tmp = java.nio.file.Files.createTempDirectory("tx22").toString
    docs.toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = graft.SparkEntry.queries("tx22_nb_source_score")(spark, tmp)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(2), r.getInt(3), r.getDouble(5), r.getInt(6)))).toMap
    assert(out.keySet == Set(5L, 6L, 7L),
      s"output must be exactly the val fold: ${out.keySet}")
    val (n5, u5, avg5, p5) = out(5L)
    val (n6, u6, avg6, p6) = out(6L)
    val (n7, u7, avg7, p7) = out(7L)
    assert(u5 == 0 && u6 == 0, "curated/crawl eval words are all in the train vocab")
    assert(u7 == n7, "every token of doc 7 is outside the train vocab")
    assert(avg5 > 0 && p5 == 1, s"curated-vocab doc must score target-like: $avg5")
    assert(avg6 < 0 && p6 == 0, s"crawl-vocab doc must score background-like: $avg6")
    // All-unseen text gets the uniform prior ratio ln(Tb+V) - ln(Tt+V),
    // identical per token — a near-zero score, NOT a confident verdict.
    assert(math.abs(avg7) < math.abs(avg5) && math.abs(avg7) < math.abs(avg6),
      s"OOV doc must sit nearer zero than either in-vocab doc: $avg7 vs $avg5 / $avg6")
  }

  test("qp01 manifest is consistent with every declared stage it composes") {
    val q = graft.SparkEntry.queries
    val manifest = q("qp01_training_manifest")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    val ids = manifest.map(_._1).toSet
    assert(ids.nonEmpty)
    // stage 1: every manifest doc survived tx07's gate
    val gate = q("tx07_corpus_prep")(spark, sf001).collect().map(_.getLong(0)).toSet
    assert(ids.subsetOf(gate), s"manifest docs outside the tx07 gate: ${ids -- gate}")
    // stage 3a: the eval cut is excluded wholesale
    assert(ids.forall(_ % 50 != 0), "manifest contains eval-cut docs")
    // stage 3b: no manifest doc is tx10-flagged as contaminated
    val flagged = q("tx10_decontaminate")(spark, sf001)
      .collect().map(_.getLong(0)).toSet
    assert((ids & flagged).isEmpty, s"contaminated docs in manifest: ${ids & flagged}")
    // stage 4: manifest ⊆ tx13's train fold
    val folds = q("tx13_hash_split")(spark, sf001)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(ids.forall(folds(_) == "train"), "manifest contains val/test-fold docs")
    // stage 5: shard/pos agree with tx19's keying restricted to the
    // manifest set — dense 1..n per shard, ordered by the seeded hash
    manifest.groupBy(_._2).foreach { case (shard, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1 to rows.size).toSeq,
        s"shard $shard positions not dense: ${rows.map(_._3).sorted.mkString(",")}")
    }
  }

  test("qp03 incremental manifest is consistent with the incremental family it composes") {
    val q = graft.SparkEntry.queries
    val manifest = q("qp03_incremental_manifest")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3)))
    val ids = manifest.map(_._1).toSet
    assert(ids.nonEmpty)
    assert(ids.forall(_ % 2 == 1), "manifest must hold batch (odd) docs only")
    // stages 1+2+4: on THIS fixture the manifest is exactly the
    // train-fold slice of dd07 ∩ dd11. That equality is a FIXTURE PIN,
    // not a theorem: it needs every exact-dup class to be
    // shingle-identical, so that an exact-dropped doc cannot change
    // fuzzy connectivity or component minima. The gate corpus's dups
    // are byte-identical copies, which satisfies it; in general dd07's
    // fp normalizes lower/trim while shingles split the RAW text, so a
    // case-variant exact-dup could carry a fuzzy edge its kept twin
    // lacks and qp03 (fuzzy on exact survivors — the declared contract,
    // mirrored exactly by its oracle) would legitimately diverge from
    // dd11-restricted.
    val dd07 = q("dd07_incremental_dedup")(spark, sf001)
      .collect().map(_.getLong(0)).toSet
    val dd11 = q("dd11_incremental_fuzzy")(spark, sf001)
      .collect().map(_.getLong(0)).toSet
    val folds = q("tx13_hash_split")(spark, sf001)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val expected = (dd07 & dd11).filter(folds(_) == "train")
    assert(ids == expected,
      s"manifest != train-fold(dd07 ∩ dd11): extra=${ids -- expected} missing=${expected -- ids}")
    // stage 3: n_tokens_kept is bounded by the doc's token count and
    // never BELOW dd17's full-batch figure — qp03 cuts on the accepted
    // set only, and removing (rejected) docs can only shrink the dup
    // relation, so cut tokens are monotonically ≤ dd17's
    val nws = graft.operators.Dedup.batchDocs(spark, sf001)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    val dd17cut = q("dd17_incremental_substring")(spark, sf001)
      .collect().map(r => r.getLong(0) -> r.getInt(4)).toMap
    manifest.foreach { case (id, _, _, kept) =>
      assert(kept <= nws(id), s"doc $id keeps more tokens than it has")
      assert(kept >= nws(id) - dd17cut(id),
        s"doc $id: accepted-set cut exceeds full-batch cut (non-monotone)")
    }
    // stage 5: dense 1..n positions per shard under the seeded key
    manifest.groupBy(_._2).foreach { case (shard, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1 to rows.size).toSeq,
        s"shard $shard positions not dense: ${rows.map(_._3).sorted.mkString(",")}")
    }
    graft.Caches.releaseAll() // qp03's substring stage tracks the flagged cache
  }

  test("tx26 keeps exactly ceil(0.3 n) docs per language, highest quality first") {
    val q = graft.SparkEntry.queries
    val kept = q("tx26_percentile_gate")(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getInt(3), r.getLong(4)))
    assert(kept.nonEmpty)
    val langTotals = graft.sources.Tables.table(spark, sf001, "documents")
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    kept.groupBy(_._2).foreach { case (lang, rows) =>
      val n = langTotals(lang)
      val want = (n * 3 + 9) / 10
      assert(rows.length == want, s"$lang: kept ${rows.length}, want ceil(0.3*$n)=$want")
      // ranks dense from 1, and quality non-increasing along the rank
      val byRank = rows.sortBy(_._4)
      assert(byRank.map(_._4).toSeq == (1 to rows.length).toSeq, s"$lang ranks not dense")
      assert(byRank.toSeq.sliding(2).forall {
        case Seq(a, b) => a._3 >= b._3
        case _ => true
      }, s"$lang quality not non-increasing along rank")
    }
  }

  test("tx28's two-pass threshold keeps EXACTLY tx26's set, and its plan ranks only tied rows") {
    val q = graft.SparkEntry.queries
    def rows(name: String) = q(name)(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    val rank = q("tx26_percentile_gate")(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    val threshold = rows("tx28_quantile_gate")
    assert(rank.nonEmpty)
    assert(threshold == rank,
      s"two-pass form diverged from the exact rank: only_tx28=" +
        s"${(threshold -- rank).take(5)}, only_tx26=${(rank -- threshold).take(5)}")
    // the point of tx28: NO full-corpus Window partitioned by lang alone —
    // the only lang-partitioned window in the plan must sit above a
    // threshold-tie filter (the residual rank), and the windows over the
    // grouped counts frame are post-aggregate (small input). A regression
    // that reintroduces a corpus-wide rank would pass the equality above
    // and fail here.
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Window => LW, Aggregate}
    val plan = q("tx28_quantile_gate")(spark, sf001).queryExecution.optimizedPlan
    val windows = plan.collect { case w: LW => w }
    assert(windows.nonEmpty)
    windows.foreach { w =>
      val guarded = w.child.collectFirst {
        case f: Filter if f.condition.sql.contains("thr_q") => f
        case a: Aggregate => a
      }
      assert(guarded.nonEmpty,
        s"window over raw corpus rows (no tie filter / aggregate below): ${w.simpleString(3)}")
    }
  }

  test("tx29 tercile buckets on a hand-computed corpus; boundary ties fall to the lower bucket") {
    val spark2 = spark
    import spark2.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("tx29").toString
    // counts: aa=4 bb=3 cc=1 dd=1 → scores (mean corpus-freq in 1e6ths):
    // d1 (aa aa) 4e6, d2/d5 (aa bb) 3.5e6, d3 (bb cc) 2e6, d4 (dd) 1e6.
    // n=5 → k1=(5+2)div3=2, k2=(10+2)div3=4; desc cum: 4e6→1,
    // 3.5e6(hcnt 2)→3, 2e6→4, 1e6→5 ⇒ t1=3.5e6, t2=2e6.
    // head = score>t1 = {d1}; middle = >t2 = {d2, d5} (the tie at t1
    // falls BELOW the boundary); tail = {d3 (at t2), d4}.
    Seq((1L, "aa aa"), (2L, "aa bb"), (3L, "bb cc"), (4L, "dd"), (5L, "aa bb"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = graft.SparkEntry.queries("tx29_ppl_buckets")(spark, tmp)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toList
    assert(out == List(
      (1L, 4000000L, "head"), (2L, 3500000L, "middle"), (3L, 2000000L, "tail"),
      (4L, 1000000L, "tail"), (5L, 3500000L, "middle")))
  }

  test("tx30 substring decontam: hand-computed spans, overlaps merge, eval docs never flagged") {
    val spark2 = spark
    import spark2.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("tx30").toString
    // eval doc 10 is 10 tokens -> three 8-token windows W1..W3.
    val ev = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    val w1 = "alpha bravo charlie delta echo foxtrot golf hotel" // W1
    val w3 = "charlie delta echo foxtrot golf hotel india juliet" // W3
    val junk8 = "jone jtwo jthree jfour jfive jsix jseven jeight"
    Seq(
      // train 1: W1 verbatim + 4 fresh tokens -> 12 tokens, 5 windows,
      // exactly one contaminated (pos 1): one span of 8 cut tokens.
      (1L, w1 + " zulu yankee xray whiskey"),
      // train 3: the WHOLE eval passage embedded -> contaminated windows
      // at pos 2,3,4 overlap into ONE span of 4-2+8 = 10 cut tokens.
      (3L, "zulu " + ev + " victor uniform"),
      // train 5: W1, 8 junk tokens, W3 -> two spans 8 tokens each
      // (starts 1 and 17, gap > K-1 so they do NOT merge).
      (5L, w1 + " " + junk8 + " " + w3),
      // train 7: clean -> absent from the output.
      (7L, "nothing here resembles the held out evaluation passage at all"),
      (10L, ev), // the eval doc
      (20L, ev)) // eval-eval duplication must NOT surface (both held out)
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = graft.SparkEntry.queries("tx30_substring_decontam")(spark, tmp)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4)))
      .toList
    assert(out == List(
      (1L, 5, 1, 1, 8),
      (3L, 6, 3, 1, 10),
      (5L, 17, 2, 2, 16)))
    assert(out.forall(_._1 % 10 != 0), "eval docs must never be flagged")
    graft.Caches.releaseAll()
  }

  test("tx32 attribution: per eval doc and source, hand-computed window/occurrence counts") {
    val spark2 = spark
    import spark2.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("tx32").toString
    // eval doc 10 is 10 tokens -> three 8-token windows W1@1, W2@2, W3@3.
    val ev = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    val w1 = "alpha bravo charlie delta echo foxtrot golf hotel" // W1
    val w3 = "charlie delta echo foxtrot golf hotel india juliet" // W3
    val junk8 = "jone jtwo jthree jfour jfive jsix jseven jeight"
    Seq(
      // feedA train 1: W1 verbatim -> shares {W1}, 1 occurrence
      (1L, w1 + " zulu yankee xray whiskey", "feedA"),
      // feedA train 3: whole eval passage embedded -> shares {W1,W2,W3},
      // 3 occurrences; feedA totals: 3 distinct windows, 4 occurrences
      (3L, "zulu " + ev + " victor uniform", "feedA"),
      // feedB train 5: W1 + junk + W3 -> shares {W1,W3}, 2 occurrences
      (5L, w1 + " " + junk8 + " " + w3, "feedB"),
      // feedB train 7: clean -> feedB attribution comes from train 5 only
      (7L, "nothing here resembles the held out evaluation passage at all", "feedB"),
      (10L, ev, "evalset"),
      // duplicate eval doc: gets the SAME attribution; the eval-eval
      // duplication itself must never count as a train occurrence
      (20L, ev, "evalset"))
      .toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = graft.SparkEntry.queries("tx32_contam_attribution")(spark, tmp)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toList
    assert(out == List(
      (10L, "feedA", 3L, 4L), (10L, "feedB", 2L, 2L),
      (20L, "feedA", 3L, 4L), (20L, "feedB", 2L, 2L)))
    graft.Caches.releaseAll()
  }

  test("tx36 tokenizer artifact: refresh from count sidecars equals full rebuild") {
    // The algebra claim, asserted directly: the vocab refreshed from the
    // persisted even-slice sidecar + fresh odd-batch counts must equal
    // the vocab trained on the whole corpus, ELEMENT ORDER INCLUDED
    // (count DESC, bigram ASC) — and therefore tx36's tokenization must
    // equal tx15's row for row.
    val Tx = graft.operators.TextAnalysis
    val refreshed = Tx.sidecarVocab(spark, sf001)
    val rebuilt = Tx.bigramVocab(spark, sf001)
    assert(refreshed == rebuilt,
      "refreshed vocab diverged from the full rebuild (count additivity broken)")
    val t36 = graft.SparkEntry.queries("tx36_refreshed_vocab_tokens")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val t15 = graft.SparkEntry.queries("tx15_subword_tokens")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(t36 == t15, "tx36 tokenization diverged from tx15")
  }

  test("tx35 novelty: hand-computed unique-window fractions, short docs absent") {
    val spark2 = spark
    import spark2.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("tx35").toString
    val ev = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    Seq(
      // doc 1 = ev: 3 windows, all re-occurring inside doc 2 -> 0.0
      (1L, ev),
      // doc 2 embeds ev: 12 tokens -> 5 windows; the 2 boundary windows
      // are unique, the 3 interior ones are doc 1's -> 2/5
      (2L, "zulu " + ev + " victor"),
      // doc 3: 9 fresh tokens -> 2 windows, both unique -> 1.0
      (3L, "mike november oscar papa quebec romeo sierra tango uniform"),
      // doc 4: below the window size -> absent by semantics
      (4L, "one two three"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = graft.SparkEntry.queries("tx35_novelty")(spark, tmp)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toList
    assert(out == List((1L, 3L, 0L, 0.0), (2L, 5L, 2L, 0.4), (3L, 2L, 2L, 1.0)))
    graft.Caches.releaseAll()
  }

  test("qp07 eval screen: hand-computed triage — exact beats near beats clean") {
    val spark2 = spark
    import spark2.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("qp07").toString
    val ev = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    val w1 = "alpha bravo charlie delta echo foxtrot golf hotel"
    val w3 = "charlie delta echo foxtrot golf hotel india juliet"
    val junk8 = "jone jtwo jthree jfour jfive jsix jseven jeight"
    val short7 = "november oscar papa quebec romeo sierra tango"
    Seq(
      // tx32's two-source leak scenario: eval 10/20 share windows
      // {W1,W2,W3} with feedA (4 occurrences) and {W1,W3} with feedB (2)
      (1L, w1 + " zulu yankee xray whiskey", "feedA"),
      (3L, "zulu " + ev + " victor uniform", "feedA"),
      (5L, w1 + " " + junk8 + " " + w3, "feedB"),
      (7L, "nothing here resembles the held out evaluation passage at all", "feedB"),
      // train 9 is 7 tokens — BELOW the 8-token window size, so eval 30
      // (its verbatim copy) has ZERO exact-leaked windows but jaccard 1.0:
      // the 'near' verdict is reachable only through the fuzzy side
      (9L, short7, "feedB"),
      (10L, ev, "evalset"),
      (20L, ev, "evalset"), // eval-eval dup: same report, never a train hit
      (30L, short7, "evalset"),
      (40L, "whiskey xray yankee zulu", "evalset")) // clean
      .toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = graft.SparkEntry.queries("qp07_eval_screen")(spark, tmp)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5),
        if (r.isNullAt(6)) null else r.getDouble(6), r.getString(7)))
      .toList
    // eval 10/20 ALSO near-dup train 3 (ev embedded in 13 tokens: 8 shared
    // 3-gram shingles of 11 -> jaccard 8/11 ≈ 0.727), surfaced by the
    // LSH-banded candidates under dd10's license; 'exact' outranks it.
    assert(out == List(
      (10L, 3, 3L, 2L, 6L, 1L, 8.0 / 11, "exact"),
      (20L, 3, 3L, 2L, 6L, 1L, 8.0 / 11, "exact"),
      (30L, 0, 0L, 0L, 0L, 1L, 1.0, "near"),
      (40L, 0, 0L, 0L, 0L, 0L, null, "clean")))
    graft.Caches.releaseAll()
  }

  test("tx33 gopher repetition: hand-computed top-gram and dup-5-gram coverage fractions") {
    val spark2 = spark
    import spark2.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("tx33").toString
    Seq(
      // "a b" x3 -> top2 0.6; "a b a"/"b a b" x2 -> top3 0.6;
      // "a b a b" x2 -> top4 0.8; no repeated 5-gram -> dup5 0
      (1L, "a b a b a b c d e f"),
      // "x y z w v" at pos 0 and 5: adjacent [0,5)+[5,10) -> 10/15 covered
      (2L, "x y z w v x y z w v q r s t u"),
      // no repetition at all: every fraction 0, keep
      (3L, "p q r s t"),
      // single token: below every n, all fractions 0 by convention
      (4L, "m"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = graft.SparkEntry.queries("tx33_gopher_repetition")(spark, tmp)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getBoolean(6)))
      .toList
    assert(out == List(
      (1L, 10L, 0.6, 0.6, 0.8, 0.0, false),
      (2L, 15L, 4.0 / 15, 6.0 / 15, 8.0 / 15, 10.0 / 15, false),
      (3L, 5L, 0.0, 0.0, 0.0, 0.0, true),
      (4L, 1L, 0.0, 0.0, 0.0, 0.0, true)))
  }

  test("tx33 gopher repetition: overlapping duplicate 5-grams never double-count coverage") {
    val spark2 = spark
    import spark2.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("tx33b").toString
    // "a b c d e a b" tokens then repeated: "a b c d e a b a b c d e a b"
    // 14 tokens; 5-gram "a b c d e" at pos 0, 7; "b c d e a" at 1, 8;
    // "c d e a b" at 2, 9 -> duplicate starts {0,1,2,7,8,9}: islands
    // [0,7) and [7,14) -> full 14/14 coverage, NOT 6x5/14.
    Seq((1L, "a b c d e a b a b c d e a b"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = graft.SparkEntry.queries("tx33_gopher_repetition")(spark, tmp)
      .select("dup5_frac").collect().map(_.getDouble(0)).toList
    assert(out == List(1.0), s"expected full coverage 1.0, got $out")
  }

  test("gopher repetition row-wise HOF twin equals the aggregate form row-for-row") {
    // st12's serving form: the same report with NO aggregation (sorted
    // per-row run-length + islands fold). Pinned on the gate corpus AND
    // the tx33 hand fixtures (incl. the overlapping-duplicate case).
    val Tx = graft.operators.TextAnalysis
    val spark2 = spark
    import spark2.implicits._
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getBoolean(6))).toSet
    val corpus = sources.Tables.table(spark, sf001, "documents")
    assert(rows(Tx.gopherRepetitionRowwise(corpus)) ==
      rows(Tx.gopherRepetition(corpus)), "diverged on the gate corpus")
    val hand = Seq(
      (1L, "a b a b a b c d e f"),
      (2L, "x y z w v x y z w v q r s t u"),
      (3L, "p q r s t"),
      (4L, "m"),
      (5L, "a b c d e a b a b c d e a b"))
      .toDF("doc_id", "text")
    assert(rows(Tx.gopherRepetitionRowwise(hand)) == rows(Tx.gopherRepetition(hand)),
      "diverged on the hand fixtures")
  }

  test("tx34 gopher quality: every Table A1 rule exercised on hand-computed docs") {
    val spark2 = spark
    import spark2.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("tx34").toString
    Seq(
      // 60 words (the/data/and/table + 56x"word"), mean 239/60, 2 stops -> keep
      (1L, "the data and table " + Seq.fill(56)("word").mkString(" ")),
      // 3 words: fails word count AND mean 8/3 < 3
      (2L, "the and of"),
      // bullets + ellipsis lines + '#' symbol + non-alpha words:
      // 12 words sum 45; '...'x2 + '#'x1 -> ratio 0.25; 3/4 bullet lines
      // (passes <= 0.9), 2/4 ellipsis-ended (fails <= 0.3); alpha 9/12
      (3L, "• the list...\n- and more...\n* items here\nplain line #tag"),
      // single bullet-led line: bullet_frac 1.0 fails the 90% rule
      (4L, "- the and item list"),
      // 60 identical words, zero stop words: fails ONLY the stop rule
      (5L, Seq.fill(60)("word").mkString(" ")),
      // 50 words, mean 582/50 = 11.64 > 10: fails ONLY mean word length
      (6L, "the and " + Seq.fill(48)("abcdefghijkl").mkString(" ")),
      // unicode ellipsis: 3 '…' chars over 5 words ('…' alone is a
      // non-alpha word), the single line ends with one
      (7L, "word… test… the and …"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = graft.SparkEntry.queries("tx34_gopher_quality")(spark, tmp)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6),
        r.getLong(7), r.getBoolean(8))).toList
    assert(out == List(
      (1L, 60L, 239.0 / 60, 0.0, 0.0, 0.0, 1.0, 2L, true),
      (2L, 3L, 8.0 / 3, 0.0, 0.0, 0.0, 1.0, 3L, false),
      (3L, 12L, 45.0 / 12, 3.0 / 12, 3.0 / 4, 2.0 / 4, 9.0 / 12, 2L, false),
      (4L, 5L, 3.0, 0.0, 1.0, 0.0, 4.0 / 5, 2L, false),
      (5L, 60L, 4.0, 0.0, 0.0, 0.0, 1.0, 0L, false),
      (6L, 50L, 582.0 / 50, 0.0, 0.0, 0.0, 1.0, 2L, false),
      (7L, 5L, 17.0 / 5, 3.0 / 5, 0.0, 1.0, 4.0 / 5, 2L, false)), s"got $out")
  }

  test("tx31 fuzzy decontam: cross-fold near-dups reported with exact jaccard, within-fold pairs excluded") {
    val spark2 = spark
    import spark2.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("tx31").toString
    // 12 distinct words -> 10 distinct 3-shingles.
    val a = "one two three four five six seven eight nine ten eleven twelve"
    val u = "utterly unrelated content discussing spark physical plans and columnar execution engines here"
    Seq(
      (1L, a + " extra"), // 11 shingles, 10 shared with eval -> j = 10/11
      (2L, a),            // exact copy -> j = 1
      (3L, u),            // unrelated train
      (4L, u),            // train-train exact pair: must NOT surface
      (10L, a))           // the eval doc
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = graft.SparkEntry.queries("tx31_fuzzy_decontam")(spark, tmp)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toList
    assert(out == List((1L, 10L, 10.0 / 11.0), (2L, 10L, 1.0)))
    graft.Caches.releaseAll()
  }

  test("qp04 surgical decontam manifest: quoting doc keeps its clean remainder, mostly-eval doc drops") {
    val spark2 = spark
    import spark2.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("qp04").toString
    // Hand-computed corpus (gate arithmetic + nibble folds verified
    // offline): eval docs 10/20 hold passages E (12 tokens, windows
    // W1..W5) and F (13 tokens, windows W1..W6); both fail the quality
    // gate (n_words < 20) and are held out by % 10 anyway.
    val e = "the quick brown fox jumps over the lazy dog near the river"
    val f = "a tale of two cities and the best of times for all people"
    Seq(
      // doc 1 QUOTES E then continues clean: 33 tokens, gate passes
      // (en_hits 15, quality 0.667), contaminated windows 1..5 merge to
      // ONE span of 12 cut tokens (exactly E), remainder 21 >= 20 ->
      // SURVIVES with n_tokens_kept = 21. tx10-style doc-drop would
      // have thrown the whole doc away.
      (1L, e + " a story of a man and a woman walking to the market in the morning with a basket of fresh fruit"),
      // doc 3 is E + F + 3 clean tokens: gate passes (quality 0.536)
      // but spans [1,5] and [13,18] cut 25 of 28 tokens -> remainder 3
      // < 20 -> DROPPED (a doc that is mostly eval text cannot ride in
      // on a stub).
      (3L, e + " " + f + " plus something extra"),
      // doc 7 is clean: 20 tokens, gate passes, kept whole (20).
      (7L, "a long and clean story about the sea with many fine words to read on a calm morning here now"),
      (10L, e), (20L, f))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = graft.SparkEntry.queries("qp04_decontaminated_manifest")(spark, tmp)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3)))
      .toList
    // shards: md5("s42:1") starts '8', md5("s42:7") starts '6' -> each
    // doc is alone in its shard, pos 1. Fold nibbles (5, 3) are train.
    assert(out == List((1L, "8", 1, 21), (7L, "6", 1, 20)), s"got $out")
    graft.Caches.releaseAll()
  }

  test("tx27 chunking arithmetic: ceil(n/64) chunks, true-length tail, zero-token docs absent") {
    val spark2 = spark
    import spark2.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("tx27").toString
    def words(n: Int) = Seq.tabulate(n)(i => s"w$i").mkString(" ")
    Seq((1L, words(1)), (2L, words(64)), (3L, words(65)), (4L, words(130)),
      (5L, "123 456")) // digits only: zero [a-z]+ tokens
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = graft.SparkEntry.queries("tx27_sequence_chunks")(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getInt(2), r.getInt(3), r.getInt(4)))
    val byDoc = out.groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    assert(!byDoc.contains(5L), "zero-token doc must yield no chunks")
    assert(byDoc(1L).map(t => (t._2, t._3, t._4)).toSeq == Seq((0, 1, 1)))
    assert(byDoc(2L).map(t => (t._2, t._3, t._4)).toSeq == Seq((0, 1, 64)))
    assert(byDoc(3L).map(t => (t._2, t._3, t._4)).toSeq == Seq((0, 1, 64), (1, 65, 1)))
    assert(byDoc(4L).map(t => (t._2, t._3, t._4)).toSeq ==
      Seq((0, 1, 64), (1, 65, 64), (2, 129, 2)))
  }

  test("tx19 shard shuffle: dense 1..n positions per shard, all docs covered, order differs from doc_id order") {
    val out = graft.SparkEntry.queries("tx19_shuffle_shards")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    val docs = graft.sources.Tables.table(spark, sf001, "documents").count()
    assert(out.length == docs, "every doc gets a shard slot")
    out.groupBy(_._2).foreach { case (shard, rows) =>
      val ps = rows.map(_._3).sorted.toList
      assert(ps == (1 to rows.length).toList, s"shard $shard positions not dense: ${ps.take(5)}")
    }
    // the whole point: within-shard order is NOT doc_id order (a shuffle)
    val someShard = out.groupBy(_._2).values.maxBy(_.length)
    val byPos = someShard.sortBy(_._3).map(_._1).toList
    assert(byPos != byPos.sorted, "within-shard order must be shuffled, not doc_id order")
  }

  test("tx37/tx19: shard rank logic is nibble-count-independent (r18 verdict #4)") {
    // the width knob must only REFINE the shards and keep the within-
    // shard order — the contract that licenses widening the prefix at
    // 100 TB (16 → 256/4096 reducers) without changing what any trainer
    // reads. Two properties over the declared 1- and 2-nibble outputs:
    // (a) every 2-nibble shard key extends the doc's 1-nibble key;
    // (b) any two docs sharing a 2-nibble shard keep the relative order
    //     they have in the containing 1-nibble shard (same (h, doc_id)
    //     sort at every width).
    def grab(name: String) =
      graft.SparkEntry.queries(name)(spark, sf001)
        .collect().map(r => r.getLong(0) -> (r.getString(1), r.getInt(2))).toMap
    val narrow = grab("tx19_shuffle_shards")
    val wide = grab("tx37_shuffle_shards_wide")
    assert(narrow.keySet == wide.keySet, "same docs at both widths")
    wide.foreach { case (doc, (s2, _)) =>
      assert(s2.startsWith(narrow(doc)._1), s"doc $doc: shard $s2 !⊇ ${narrow(doc)._1}")
    }
    assert(wide.values.map(_._1).toSet.size > 16, "2 nibbles must actually refine")
    wide.groupBy(_._2._1).values.filter(_.size >= 2).foreach { docs =>
      val byWide = docs.toSeq.sortBy(_._2._2).map(_._1)
      val byNarrow = docs.toSeq.sortBy { case (d, _) => narrow(d)._2 }.map(_._1)
      assert(byWide == byNarrow,
        s"within-shard relative order changed with the width: $byWide vs $byNarrow")
    }
  }

  test("ngramHashes matches WordNgrams' tokenization on adversarial texts") {
    // the corpus shapes where shingleHashes diverges from WordNgrams —
    // trailing spaces (empty tokens kept by split limit -1) and <n-word
    // docs (WordNgrams emits nothing; wordShingles emits a whole-text
    // shingle) — must give tx12's gram source the SAME per-doc distinct
    // gram count tx10 sees, or the twins' equality is corpus luck
    import org.apache.spark.sql.functions._
    val spark2 = spark
    import spark2.implicits._
    val texts = Seq("a w2 w3 w4 w5 ", "one two", "", "x", "a a a a",
      "w1  w2 w3", "tail space  ", "exact three words")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val viaStrings = df.select(col("doc_id"),
        graft.functions.WordNgrams(col("text"), 3).as(Seq("pos", "ngram")))
      .select("doc_id", "ngram").distinct()
      .groupBy("doc_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaHashes = df.select(col("doc_id"),
        explode(graft.functions.SketchExprs.ngramHashes(col("text"), 3)).as("h"))
      .groupBy("doc_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    texts.indices.foreach { i =>
      assert(viaHashes.getOrElse(i.toLong, 0L) == viaStrings.getOrElse(i.toLong, 0L),
        s"doc $i '${texts(i)}': hashed gram count ${viaHashes.get(i.toLong)} != " +
          s"string gram count ${viaStrings.get(i.toLong)}")
    }
  }

  test("tx12 is deterministic across invocations (rows-only contract)") {
    def run() = graft.SparkEntry.queries("tx12_decontaminate_hashed")(spark, sf001)
      .collect().map(_.toSeq).toSeq
    assert(run() == run())
  }

  test("tx13 split is content-pure: exact duplicates always share a fold") {
    // the property that prevents train/test leakage through duplicated
    // documents — the fold is a function of normalized content, nothing
    // else. The sf0.001/sf0.01 corpora happen to have no exact dups, so
    // build one that does: every doc duplicated under a different doc_id
    // (and with case/whitespace noise, which normalization must erase).
    import org.apache.spark.sql.functions._
    val docs = graft.sources.Tables.table(spark, sf001, "documents")
    val dup = docs.select((col("doc_id") + 1000000L).as("doc_id"),
      concat(upper(col("text")), lit("  ")).as("text"),
      col("lang"), col("source"), col("n_chars"))
    // upper() changes content_fp only if md5 input differs after lower+trim
    // — it must NOT: lower(trim(x)) normalizes both copies identically
    val tmp = java.nio.file.Files.createTempDirectory("tx13").toString
    docs.unionByName(dup).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val folds = graft.SparkEntry.queries("tx13_hash_split")(spark, tmp)
      .join(spark.read.parquet(s"$tmp/documents.parquet").select("doc_id", "text"), "doc_id")
      .groupBy(lower(trim(col("text"))).as("norm"))
      .agg(countDistinct("fold").as("n_folds"), count(lit(1)).as("n"))
    assert(folds.filter(col("n") > 1).count() > 0)
    assert(folds.filter(col("n_folds") > 1).count() == 0,
      "a duplicated document landed in two folds (leakage)")
    // all three folds are populated
    assert(graft.SparkEntry.queries("tx13_hash_split")(spark, tmp)
      .select("fold").distinct().count() == 3)
  }

  test("tx14 packing invariants: offsets are cumulative and bounded per shard") {
    // bin/bin_offset are LONG (cumulative shard tokens overflow int32 at
    // 100 TB; the advisory-fix round widened them)
    val rows = graft.SparkEntry.queries("tx14_pack_sequences")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (_, _, tokens, bin, off) =>
      assert(off >= 0 && off < 2048 && bin >= 0 && tokens > 0)
    }
    // per shard: each doc's exclusive offset equals the previous docs' token sum
    rows.groupBy(_._2).foreach { case (src, rs) =>
      var cum = 0L
      rs.sortBy(_._1).foreach { case (id, _, tokens, bin, off) =>
        assert(bin * 2048 + off == cum,
          s"doc $id in $src: bin/offset (${bin}, $off) != cumulative $cum")
        cum += tokens
      }
    }
  }

  test("tx15 greedy longest-match tokenization semantics (handpicked vocab)") {
    import graft.functions.SubwordTokenizer
    import spark.implicits._
    val df = Seq((1L, "aab ba"), (2L, ""), (3L, "xyz")).toDF("id", "t")
    def run(vocab: Seq[String]) = df
      .select(col("id"), SubwordTokenizer.greedyTokenCount(col("t"), vocab).as("n"),
        SubwordTokenizer.greedyTokens(col("t"), vocab).as("toks"))
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getSeq[String](2))).toMap
    // vocab {ab}: "aab" -> a|ab (greedy takes the bigram when the cursor
    // reaches it), "ba" -> b|a (no match at cursor 0 consumes 1 char)
    val withAb = run(Seq("ab"))
    assert(withAb(1L) == ((4, Seq("a", "ab", "b", "a"))))
    assert(withAb(2L) == ((0, Seq())))
    assert(withAb(3L) == ((3, Seq("x", "y", "z"))))
    // vocab {aa, ab}: matching is leftmost-greedy, so "aab" takes aa at
    // cursor 0 and never sees ab
    assert(run(Seq("aa", "ab"))(1L) == ((4, Seq("aa", "b", "b", "a"))))
    // empty vocab degenerates to character count per word
    assert(run(Seq.empty)(1L)._1 == 5)
  }

  test("tx15 subword counts never exceed character counts") {
    val r1 = graft.SparkEntry.queries("tx15_subword_tokens")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // counts are subword counts: strictly more tokens than words whenever
    // any word exceeds 2 chars, never more than character count
    val chars = spark.read.parquet(s"$sf001/documents.parquet")
      .select(col("doc_id"), length(col("text")).cast("long").as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    r1.foreach { case (id, n) => assert(n <= chars(id), s"doc $id: $n tokens > ${chars(id)} chars") }
  }

  test("tx16 packs tx15's subword counts with tx14's window invariants") {
    val tx15 = graft.SparkEntry.queries("tx15_subword_tokens")(spark, sf001)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rows = graft.SparkEntry.queries("tx16_pack_subword")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (id, _, tokens, bin, off) =>
      assert(tokens.toLong == tx15(id), s"doc $id: tx16 tokens $tokens != tx15 ${tx15(id)}")
      assert(off >= 0 && off < 2048 && bin >= 0)
    }
    rows.groupBy(_._2).foreach { case (src, rs) =>
      var cum = 0L
      rs.sortBy(_._1).foreach { case (id, _, tokens, bin, off) =>
        assert(bin * 2048 + off == cum,
          s"doc $id in $src: bin/offset (${bin}, $off) != cumulative $cum")
        cum += tokens
      }
    }
  }

  // tx23: DSIR importance weights must separate a planted target-vocab doc
  // from a planted background-vocab doc. Disjoint bigram vocabularies put
  // their hashed buckets fully on one side of the log ratio, so only the
  // SIGN is asserted, which survives any bucket-collision layout. Counts
  // are amplified (10 docs a side, repeated bigrams) because the +1/(T+256)
  // smoothing dominates a handful of observations: with ct ≈ cr the ratio
  // collapses to ln((R+256)/(T+256)) − ln((ct+2)/(ct+1)), which only goes
  // positive once ct clears the totals gap — the scale regime the paper's
  // hashed model assumes, recreated here in miniature.
  test("tx23 DSIR weight is positive for target-vocab text, negative for background-vocab text") {
    import spark.implicits._
    val curated = "fern moss fern moss fern moss fern moss"
    val crawl = "gear piston gear piston gear piston gear piston"
    val docs =
      (1L to 10L).map(i => (i, curated, "en")) ++
        (11L to 20L).map(i => (i, crawl, "xx")) ++ Seq(
          // probes: lang says crawl, text says curated — and vice versa
          (100L, "fern moss fern moss", "xx"),
          (101L, "gear piston gear piston", "en"))
    val tmp = java.nio.file.Files.createTempDirectory("tx23").toString
    docs.toDF("doc_id", "text", "lang")
      .withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = graft.SparkEntry.queries("tx23_dsir_score")(spark, tmp)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(4), r.getInt(5)))).toMap
    val (avg100, sel100) = out(100L)
    val (avg101, sel101) = out(101L)
    assert(avg100 > 0 && sel100 == 1,
      s"curated-vocab probe must look target-like: $avg100")
    assert(avg101 < 0 && sel101 == 0,
      s"crawl-vocab probe must look background-like: $avg101")
    // the twin shares the featurization bit-for-bit: n_feats/n_buckets match
    val twin = graft.SparkEntry.queries("tx23e_dsir_evidence")(spark, tmp)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2)))).toMap
    val score = graft.SparkEntry.queries("tx23_dsir_score")(spark, tmp)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2)))).toMap
    assert(twin == score,
      s"tx23e and tx23 disagree on (n_feats, n_buckets): $twin vs $score")
  }

  // qp02 against an independent JVM composition: dd15's keep set (the
  // declared query) fed through pure-Scala replicas of the budget,
  // fold, and shard stages — the whole manifest must match tuple-set
  // exact, pinning stage order and the survivor-count budget semantics.
  test("qp02 multilingual manifest matches a JVM reference composition") {
    import org.apache.spark.sql.functions.col
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val docs = graft.sources.Tables.table(spark, sf001, "documents")
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val keep = graft.SparkEntry.queries("dd15_contained_docs")(spark, sf001)
      .filter(col("action") === "keep")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val surv = docs.filter(d => keep(d._1))
      .map { case (id, lang, text) => (id, lang, md5hex(text.toLowerCase.trim)) }
    val sel = surv.toSeq.groupBy(_._2).toSeq.flatMap { case (_, xs) =>
      val budget = math.min(xs.size.toLong,
        math.floor(math.sqrt(xs.size.toDouble)).toLong * 4).toInt
      xs.sortBy(x => (x._3, x._1)).take(budget)
    }
    val train = sel.filter(x => !"def".contains(x._3.head))
    val expect = train
      .map { case (id, lang, _) => (id, lang, md5hex(s"s42:$id")) }
      .groupBy(_._3.head).flatMap { case (_, xs) =>
        xs.toSeq.sortBy(x => (x._3, x._1)).zipWithIndex.map {
          case ((id, lang, h), i) => (id, lang, h.head.toString, i + 1) }
      }.toSet
    val got = graft.SparkEntry.queries("qp02_multilingual_manifest")(spark, sf001)
      .collect().map(r =>
        (r.getLong(0), r.getString(1), r.getString(2), r.getInt(3))).toSet
    assert(got == expect,
      s"engine-only: ${(got diff expect).take(5)}; reference-only: ${(expect diff got).take(5)}")
  }

  // tx25: the token-metered budget must be a prefix of the content-hash
  // order per language, stop at the first budget crossing (soft cap),
  // and meter TOKENS — a language's selected token mass must sit within
  // one doc of its ⌊√(total tokens)⌋·64 budget.
  test("tx25 token budgets are prefixes that stop at the first crossing") {
    val out = graft.SparkEntry.queries("tx25_token_budget_mix")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(out.nonEmpty)
    out.groupBy(_._2).foreach { case (lang, xs) =>
      val budget = xs.head._6
      val tokLang = xs.head._5
      assert(budget == math.floor(math.sqrt(tokLang.toDouble)).toLong * 64,
        s"$lang budget formula: $budget vs tok_lang $tokLang")
      val maxCum = xs.map(_._4).max
      val lastToks = xs.maxBy(_._4)._3
      // every selected doc STARTED under budget; the final doc may cross
      assert(xs.forall(x => x._4 - x._3 < budget), s"$lang: non-prefix selection")
      assert(maxCum >= math.min(budget, tokLang) || maxCum + 0 == tokLang,
        s"$lang: budget left unfilled: cum $maxCum of budget $budget (corpus $tokLang)")
      assert(maxCum - lastToks < budget, s"$lang: a doc entered after the crossing")
    }
  }

  // tx24: the α=0.5 temperature budget must flatten the language mix —
  // every language's budget is exact integer arithmetic the test replays,
  // and the head language must retain a strictly SMALLER fraction of its
  // docs than the tail language (the entire point of temperature < 1).
  test("tx24 budgets are min(n, 4·⌊√n⌋), ranks fill them exactly, and the mix flattens") {
    val d = graft.sources.Tables.table(spark, sf001, "documents")
    val langCounts = d.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val out = graft.SparkEntry.queries("tx24_temperature_mix")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3), r.getInt(4)))
    val byLang = out.groupBy(_._2)
    langCounts.foreach { case (lang, n) =>
      val want = math.min(n, math.floor(math.sqrt(n.toDouble)).toLong * 4)
      val got = byLang.get(lang).map(_.size.toLong).getOrElse(0L)
      assert(got == want, s"$lang: selected $got docs, budget says $want (n=$n)")
      byLang(lang).foreach { case (_, _, rk, nl, b) =>
        assert(nl == n && b == want && rk >= 1 && rk <= b,
          s"$lang row carries (rk=$rk, n_lang=$nl, budget=$b), want n=$n budget=$want")
      }
    }
    val head = langCounts.maxBy(_._2)
    val tail = langCounts.minBy(_._2)
    assert(head._2 > tail._2, "fixture sanity: languages are not uniform")
    val headFrac = byLang(head._1).size.toDouble / head._2
    val tailFrac = byLang(tail._1).size.toDouble / tail._2
    assert(headFrac < tailFrac,
      s"temperature must flatten: head ${head._1} keeps $headFrac, tail ${tail._1} keeps $tailFrac")
  }
}
