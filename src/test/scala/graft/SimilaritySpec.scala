package graft

import graft.operators.Similarity

/** ss05 IVF-Flat ANN: structural properties + recall against the exact
  * brute-force baseline (ss01) on sf0.001. */
class SimilaritySpec extends SparkSpec {

  private def topk(name: String): Map[Long, Seq[Long]] =
    Similarity.queries(name)(spark, sf001)
      .select("query_id", "neighbor_id", "rk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .groupBy(_._1).view
      .mapValues(_.sortBy(_._3).map(_._2).toSeq).toMap

  test("native dot/l2norm are bitwise equal to the HOF fold") {
    import org.apache.spark.sql.functions._
    val e = graft.sources.Tables.table(spark, sf001, "embeddings")
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .withColumn("w", expr("reverse(v)"))
    val cmp = e.select(
      (Similarity.dot("v", "w") <=>
        expr("aggregate(zip_with(v, w, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"))
        .as("dot_eq"),
      (Similarity.l2norm("v") <=>
        expr("sqrt(aggregate(transform(v, x -> x * x), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v))"))
        .as("nrm_eq"))
    assert(cmp.filter(!col("dot_eq") || !col("nrm_eq")).count() == 0)
  }

  test("ivf ann returns at most 10 ranked neighbors per query") {
    val got = topk("ss05_ivf_ann")
    assert(got.nonEmpty)
    got.values.foreach(ns => assert(ns.size <= 10 && ns.distinct.size == ns.size))
  }

  test("pq ann recall@10 beats cell pruning (distances approximate geometry)") {
    val exact = topk("ss01_cosine_topk")
    val pq = topk("ss06_pq_ann")
    val recalls = exact.map { case (q, ex) =>
      val got = pq.getOrElse(q, Seq.empty).toSet
      ex.count(got).toDouble / ex.size
    }
    val mean = recalls.sum / recalls.size
    info(f"pq mean recall@10 = $mean%.2f over ${recalls.size} queries")
    // Caveat: ss01 ranks by cosine, PQ by (unnormalized) L2 — they agree
    // only up to norm variation, so expect correlation, not equality.
    assert(mean >= 0.2, f"pq recall@10 $mean%.2f below 0.2")
    pq.values.foreach(ns => assert(ns.size <= 10 && ns.distinct.size == ns.size))
  }

  test("pq + exact re-rank recall@10 is at least the raw pq recall") {
    val exact = topk("ss01_cosine_topk")
    def recall(m: Map[Long, Seq[Long]]): Double = {
      val rs = exact.map { case (q, ex) =>
        ex.count(m.getOrElse(q, Seq.empty).toSet).toDouble / ex.size
      }
      rs.sum / rs.size
    }
    val pq = recall(topk("ss06_pq_ann"))
    val rr = recall(topk("ss07_pq_rerank"))
    info(f"recall@10: raw pq $pq%.2f, re-ranked $rr%.2f")
    assert(rr >= pq, f"re-ranking lowered recall: $rr%.2f < $pq%.2f")
  }

  test("sq8 ann recall@10 vs exact L2 is near-perfect (8-bit grid, 64 dims)") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    // exact L2 top-10 with the same tie-break, computed inline
    val e = graft.sources.Tables.table(spark, sf001, "embeddings")
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val w = Window.partitionBy("query_id").orderBy(col("d"), col("vec_id"))
    val exact = broadcast(q).join(e, col("vec_id") =!= col("query_id"))
      .withColumn("d", graft.functions.SketchExprs.sqL2Dist(col("qv"), col("v")))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 10)
      .select("query_id", "vec_id", "rk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._2).toSet).toMap
    val sq = topk("ss12_sq8_ann")
    val recalls = exact.map { case (qid, ex) =>
      ex.count(sq.getOrElse(qid, Seq.empty).toSet).toDouble / ex.size }
    val mean = recalls.sum / recalls.size
    info(f"sq8 mean recall@10 = $mean%.2f over ${recalls.size} queries")
    // same metric, same tie-break; the only error source is the half-bin
    // quantization noise — recall should be essentially exact.
    assert(mean >= 0.9, f"sq8 recall@10 $mean%.2f below 0.9")
  }

  test("sq8 survives a constant dimension (degenerate grid falls back to the exact value)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val vecs = Seq(
      (0L, Array(1.0f, 5.0f, 0.25f)), (1L, Array(2.0f, 5.0f, 0.5f)),
      (2L, Array(3.0f, 5.0f, 0.75f)), (3L, Array(4.0f, 5.0f, 1.0f)))
    val tmp = java.nio.file.Files.createTempDirectory("ss12").toString
    vecs.toDF("vec_id", "embedding").withColumn("label", lit(0))
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val rows = Similarity.queries("ss12_sq8_ann")(spark, tmp)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (q, n, d) =>
      assert(!d.isNaN && !d.isInfinite, s"query $q neighbor $n: non-finite distance $d") }
    // dim 2 contributes zero error, so vec 0's nearest must be vec 1
    val near0 = rows.filter(_._1 == 0L).minBy(_._3)._2
    assert(near0 == 1L, s"expected vec 1 nearest to vec 0, got $near0")
  }

  test("ivf+sq8 keeps most of brute-force sq8's neighbors (cell pruning is the only loss)") {
    val sq = topk("ss12_sq8_ann")
    val ivfsq = topk("ss13_ivf_sq8_ann")
    ivfsq.values.foreach(ns => assert(ns.size <= 10 && ns.distinct.size == ns.size))
    val recalls = sq.map { case (q, ex) =>
      ex.toSet.count(ivfsq.getOrElse(q, Seq.empty).toSet).toDouble / ex.size }
    val mean = recalls.sum / recalls.size
    info(f"ivf+sq8 recall@10 vs brute sq8 = $mean%.2f")
    // both score identical (quantized L2) distances, so every divergence is
    // a neighbor outside the 3 probed cells — the documented IVF tradeoff
    // (~0.48 on this corpus: label cells only loosely track L2 geometry,
    // the same cell-recall profile the PQ spec pins at >= 0.2 vs ss01)
    assert(mean >= 0.35, f"ivf+sq8 recall $mean%.2f below 0.35")
  }

  test("lsh-blocked near-dup (ss08): exact subset of all-pairs, bounded candidates") {
    import org.apache.spark.sql.functions._
    val e = graft.sources.Tables.table(spark, sf001, "embeddings")
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .withColumn("nrm", Similarity.l2norm("v"))
    val a = e.select(col("vec_id").as("id_a"), col("v").as("v_a"), col("nrm").as("n_a"))
    val b = e.select(col("vec_id").as("id_b"), col("v").as("v_b"), col("nrm").as("n_b"))
    val exact = a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("cos", Similarity.dot("v_a", "v_b") / (col("n_a") * col("n_b")))
      .filter(col("cos") > 0.3)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = Similarity.queries("ss08_lsh_neardup")(spark, sf001)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // Every emitted pair is verified by exact cosine, so precision is 1 by
    // construction — assert it anyway (guards the blocking join's columns).
    assert(got.subsetOf(exact), s"ss08 emitted non-near-dup pairs: ${got -- exact}")
    val recall = if (exact.isEmpty) 1.0 else got.size.toDouble / exact.size
    info(f"ss08 recall = $recall%.3f (${got.size}/${exact.size} pairs)")
    // These embeddings are near-isotropic: surviving pairs sit just above
    // cos 0.3 (~72°), where 8-plane collision probability is ~1.6% per
    // table — so blocked recall is LOW here by the math of LSH, not by a
    // bug. Assert the blocker finds a nonzero slice and that candidate
    // generation actually contracted the search space.
    assert(got.nonEmpty, "LSH blocking found no pairs at all")
    val n = e.count()
    val candidates = Similarity.lshCandidatePairCount(spark, sf001)
    info(s"ss08 candidate pairs: $candidates of ${n * (n - 1) / 2} all-pairs")
    assert(candidates < n * (n - 1) / 2 / 10,
      s"candidate set $candidates is not <10% of all-pairs")
  }

  test("ss11 lsh-blocked semantic dedup: survivors track ss10 and never over-drop") {
    import org.apache.spark.sql.functions._
    // Exact SemDeDup drop set: max-id side of EVERY cos>0.3 pair, no
    // blocking at all. Both ss10 (cells) and ss11 (LSH buckets) verify
    // exact cosine on their candidates, so each drop set is a SUBSET of
    // this — a blocker can miss a pair (under-drop), never invent one.
    val e = graft.sources.Tables.table(spark, sf001, "embeddings")
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .withColumn("nrm", Similarity.l2norm("v"))
    val a = e.select(col("vec_id").as("id_a"), col("v").as("v_a"), col("nrm").as("n_a"))
    val b = e.select(col("vec_id").as("id_b"), col("v").as("v_b"), col("nrm").as("n_b"))
    val exactDropped = a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .filter(Similarity.dot("v_a", "v_b") / (col("n_a") * col("n_b")) > 0.3)
      .select("id_b").collect().map(_.getLong(0)).toSet
    val all = e.select("vec_id").collect().map(_.getLong(0)).toSet
    val exactSurvivors = all -- exactDropped

    val ss10 = Similarity.queries("ss10_semantic_dedup")(spark, sf001)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val ss11 = Similarity.queries("ss11_lsh_semantic_dedup")(spark, sf001)
      .select("vec_id").collect().map(_.getLong(0)).toSet

    // never over-drop: every exact survivor survives both variants
    assert(exactSurvivors.subsetOf(ss10), s"ss10 over-dropped ${exactSurvivors -- ss10}")
    assert(exactSurvivors.subsetOf(ss11), s"ss11 over-dropped ${exactSurvivors -- ss11}")
    assert(ss11.subsetOf(all) && ss10.subsetOf(all))
    // Overlap on THIS corpus is bounded by LSH math, not by correctness:
    // the synthetic embeddings are near-isotropic, so its cos>0.3 pairs
    // sit at ~72° where an 8-plane table collides ~1.6% of the time (the
    // same math behind ss08's low recall). Observed 0.66; the floor is a
    // regression guard, not a target — the planted-dup test below is the
    // deterministic agreement check.
    val overlap = (ss10 intersect ss11).size.toDouble / (ss10 union ss11).size
    info(f"ss10/ss11 survivor overlap = $overlap%.3f " +
      s"(ss10 drops ${all.size - ss10.size}, ss11 drops ${all.size - ss11.size}, " +
      s"exact drops ${exactDropped.size})")
    assert(overlap >= 0.5, f"survivor sets diverged: overlap $overlap%.3f")
    // Containment of ss10's survivors in ss11's is the agreement metric
    // that holds up at scale (SOAK_r09: 0.907 / 0.965 / 0.976 at sf0.1 /
    // 0.5 / 1.0, RISING as ss11 tracks the corpus while ss10's fixed
    // cells saturate — Jaccard overlap necessarily falls on the same
    // data). Pinned here (r9 verdict optional #6) so a blocking change
    // that silently degrades ss10⊂ss11 fails a test, not a soak read.
    // An empty ss10 would make the ratio NaN and fail with a confusing
    // message — guard it explicitly (it would mean every vector was
    // dropped, a far louder bug than containment drift). The 0.9 floor is
    // justified by SOAK-scale measurement (0.907 at sf0.1, rising with
    // sf); at THIS gate scale the statistic is noisier (observed 0.958,
    // ~0.06 of margin over hundreds of survivors) — treat a failure here
    // as "rerun the soak before concluding regression", not proof alone.
    assert(ss10.nonEmpty, "ss10 dropped every vector — containment undefined")
    val containment = (ss10 intersect ss11).size.toDouble / ss10.size
    info(f"ss10 within ss11 containment = $containment%.3f")
    assert(containment >= 0.9, f"ss10 within ss11 containment regressed: $containment%.3f")
  }

  test("ss11 and ss10 both drop planted exact duplicates (deterministic agreement)") {
    import org.apache.spark.sql.functions._
    // Identical vectors land in the SAME bucket of EVERY LSH table (sign
    // pattern is a function of the vector) and the same centroid cell, so
    // for exact duplicates both blockers are exhaustive — no probability
    // in the way: every planted max-id copy MUST be dropped by both.
    val tmp = java.nio.file.Files.createTempDirectory("ss11dup").toString
    val orig = graft.sources.Tables.table(spark, sf001, "embeddings")
    val planted = orig.orderBy("vec_id").limit(20)
      .withColumn("vec_id", col("vec_id") + lit(10000L))
    orig.unionByName(planted)
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val expectDropped = planted.select("vec_id").collect().map(_.getLong(0)).toSet
    val ss11 = Similarity.queries("ss11_lsh_semantic_dedup")(spark, tmp)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val ss10 = Similarity.queries("ss10_semantic_dedup")(spark, tmp)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(expectDropped.intersect(ss11).isEmpty,
      s"ss11 kept planted duplicates: ${expectDropped.intersect(ss11)}")
    assert(expectDropped.intersect(ss10).isEmpty,
      s"ss10 kept planted duplicates: ${expectDropped.intersect(ss10)}")
  }

  test("multi-probe lsh recall@10 is at least single-probe recall") {
    val exact = topk("ss01_cosine_topk")
    def recall(m: Map[Long, Seq[Long]]): Double = {
      val rs = exact.map { case (q, ex) =>
        ex.count(m.getOrElse(q, Seq.empty).toSet).toDouble / ex.size
      }
      rs.sum / rs.size
    }
    val single = recall(topk("ss02_ann_lsh"))
    val multi = recall(topk("ss09_multiprobe_lsh"))
    info(f"recall@10: single-probe $single%.2f, multi-probe $multi%.2f")
    // same metric over a candidate superset can only match or improve;
    // strict improvement is data-dependent (saturated home buckets would
    // legitimately tie), so it's reported, not asserted
    assert(multi >= single, f"multi-probe lowered recall: $multi%.2f < $single%.2f")
  }

  test("lsh blocking recall grows with table count (the recall knob works)") {
    import org.apache.spark.sql.functions._
    def pairs(tables: Int): Set[(Long, Long)] =
      Similarity.lshBlockedPairs(spark, sf001, tables = tables, planes = 8)
        .withColumn("cos", Similarity.dot("v_a", "v_b") / (col("n_a") * col("n_b")))
        .filter(col("cos") > 0.3)
        .select("id_a", "id_b").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val t1 = pairs(1)
    val t2 = pairs(2)
    val t4 = pairs(4)
    info(s"pairs found: 1 table ${t1.size}, 2 tables ${t2.size}, 4 tables ${t4.size}")
    // more tables can only add candidate collisions, never remove them
    assert(t1.subsetOf(t2) && t2.subsetOf(t4))
    assert(t4.size > t1.size, "4 tables found nothing beyond 1 table")
  }

  test("ss14 fixed-point k-means: hand-computed clusters, distance ties fall to the lower cell, empty cells keep their centroid") {
    val spark2 = spark
    import spark2.implicits._
    // Two obvious groups in 2-D plus a duplicate of the first seed:
    // seeds are vec_ids 1, 2, 3 (cells 0, 1, 2), v3 == v1. Hand trace:
    //  round 1: v1/v3 tie between cells 0 and 2 (both dist 0) -> the
    //    tie rule sends both to the LOWER cell 0 (with v4), cell 2 goes
    //    EMPTY and must keep its seed centroid; update moves c0 to the
    //    integer mean (1003333, 1003333).
    //  round 2: cell 2's kept centroid still sits exactly on the
    //    duplicate pair, so v1/v3 switch to cell 2 (dist 0 beats
    //    2*3333^2) while v4 stays on cell 0; update leaves c2 at the
    //    pair, c0 at f(v4).
    //  final assignment: {1,3}->2 at dist 0, {4}->0 at dist 0,
    //    {2,5,6}->1. Exercises the tie-break, the empty-cell keep rule,
    //    and a genuine centroid migration in one scenario.
    val e = Seq(
      (1L, Seq(0.0, 0.0)), (2L, Seq(0.4, 0.4)), (3L, Seq(0.0, 0.0)),
      (4L, Seq(0.01, 0.01)), (5L, Seq(0.41, 0.39)), (6L, Seq(0.39, 0.41)))
      .toDF("vec_id", "v")
    val out = Similarity.kmeansFixedPoint(e, k = 3, iters = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toList
    graft.Caches.releaseAll()
    val byVec = out.map(t => t._1 -> t._2).toMap
    assert(byVec == Map(1L -> 2, 3L -> 2, 4L -> 0, 2L -> 1, 5L -> 1, 6L -> 1))
    assert(out.find(_._1 == 1L).get._3 == 0L)
    assert(out.find(_._1 == 4L).get._3 == 0L)
    // v5 to the cell-1 centroid (1400000, 1400000): 10000 off per dim
    assert(out.find(_._1 == 5L).get._3 == 2L * 10000L * 10000L)
    // every vector assigned exactly once, clusters within 0..k-1
    assert(out.map(_._1).distinct.length == 6)
    assert(out.forall(t => t._2 >= 0 && t._2 <= 2))
  }

  test("ss16 farthest-point seeding: hand-computed picks, ties to the lower vec_id, duplicate never re-picked") {
    val spark2 = spark
    import spark2.implicits._
    // 1-D line with a duplicate: ids 1..5 at 0.0, 0.0, 0.1, 0.5, 0.4.
    // Integer grid: 1000000, 1000000, 1100000, 1500000, 1400000. Trace:
    //  seed 1 = vec 1 (smallest id), sep null.
    //  pick 2: min-dists (0, 0, 1e10, 25e10, 16e10) -> vec 4, sep 25e10.
    //  pick 3: min-dists to {1,4}: v2 0, v3 1e10, v5 min(16e10, 1e10)=1e10
    //    -> TIE between 3 and 5 at 1e10 -> lower id, vec 3.
    //  pick 4: v5 min(16e10, 1e10, 9e10)=1e10 -> vec 5, sep 1e10.
    //  pick 5: only v2 (dup of seed 1) left at md 0 -> vec 2, sep 0.
    val e = Seq((1L, Seq(0.0)), (2L, Seq(0.0)), (3L, Seq(0.1)),
        (4L, Seq(0.5)), (5L, Seq(0.4)))
      .toDF("vec_id", "v")
    val out = Similarity.kcenterSeeds(e, k = 5)
      .collect().map(r => (r.getInt(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toList.sortBy(_._1)
    graft.Caches.releaseAll()
    val e10 = 100000L * 100000L
    assert(out == List((1, 1L, -1L), (2, 4L, 25 * e10), (3, 3L, e10),
      (4, 5L, e10), (5, 2L, 0L)))
  }

  test("ss16 separations are non-increasing (greedy max-min invariant)") {
    val seps = Similarity.queries("ss16_kcenter_seeds")(spark, sf001)
      .collect().flatMap(r => if (r.isNullAt(2)) None else Some(r.getLong(2))).toList
    graft.Caches.releaseAll()
    assert(seps.size == 7)
    assert(seps.zip(seps.tail).forall { case (a, b) => a >= b },
      s"separations increased along the greedy chain: $seps")
  }

  /** Integer feature grid + exact squared L2, mirroring ss14/ss16/ss17's
    * in-engine arithmetic for the JVM reference checks below. */
  private def intFeats(): Map[Long, Vector[Long]] = {
    val e = graft.sources.Tables.table(spark, sf001, "embeddings")
      .selectExpr("vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS v")
      .collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Double](1).map(x => math.floor(x * 1e6).toLong + 1000000L).toVector)
    e.toMap
  }
  private def sqd(a: Vector[Long], b: Vector[Long]): BigInt =
    a.iterator.zip(b.iterator).map { case (x, y) => val d = BigInt(x - y); d * d }.sum

  test("ss17 k-means|| seeding equals an independent JVM reference, bit-for-bit") {
    // Plain-Scala re-derivation of the whole pipeline — md5-nibble
    // acceptance test, candidate accumulation, nearest-candidate
    // weighting, derandomized weighted k-means++ reduction — over the
    // same sf0.001 corpus. Sampling queries have no DuckDB oracle, so
    // THIS is their engine-independent correctness witness (the tx18-22
    // score-query pattern).
    val feats = intFeats()
    val ids = feats.keys.toVector.sorted
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    var cands = Vector(ids.min)
    for (r <- 1 to 3) {
      val cf = cands.map(feats)
      val md = ids.map(id => id -> cf.iterator.map(c => sqd(feats(id), c)).min).toMap
      val phi = md.values.sum
      val picks = ids.filter { id =>
        val u = BigInt(java.lang.Long.parseLong(
          md5hex(s"ss17:$r:$id").substring(0, 6), 16))
        md(id) > 0 && u * phi < BigInt(16) * md(id) * BigInt(16777216)
      }
      cands = cands ++ picks
    }
    val weight = ids.groupBy { id =>
      cands.map(c => (sqd(feats(id), feats(c)), c)).min._2
    }.map { case (c, xs) => c -> xs.size.toLong }.withDefaultValue(0L)
    val first = cands.maxBy(c => (weight(c), -c))
    val chosen = scala.collection.mutable.ArrayBuffer(first)
    while (chosen.size < math.min(8, cands.size)) {
      chosen += cands.filterNot(chosen.contains)
        .maxBy(c => (BigInt(weight(c)) * chosen.iterator.map(s => sqd(feats(c), feats(s))).min, -c))
    }
    val expect = chosen.zipWithIndex.map { case (c, i) => (i + 1, c, weight(c)) }.toList
    val got = Similarity.queries("ss17_kmeanspar_seeds")(spark, sf001)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toList
    graft.Caches.releaseAll()
    assert(got == expect, s"engine $got != JVM reference $expect")
    info(s"candidates sampled: ${cands.size} (k=8, 3 rounds x ~16 oversample)")
  }

  test("ss17 seeds' k-center radius is within a constant factor of ss16's (the quality contract)") {
    // The scalable sampler may not beat exact greedy on the max-min
    // metric it doesn't optimize, but it must land in the same regime —
    // the paper's whole point is constant-factor quality at a constant
    // number of passes. Radius = max over the corpus of min squared
    // distance to the seed set, exact integers.
    val feats = intFeats()
    def radius(seeds: Seq[Long]): BigInt =
      feats.valuesIterator.map(f => seeds.iterator.map(s => sqd(f, feats(s))).min).max
    val g16 = Similarity.queries("ss16_kcenter_seeds")(spark, sf001)
      .collect().map(_.getLong(1)).toSeq
    val g17 = Similarity.queries("ss17_kmeanspar_seeds")(spark, sf001)
      .collect().map(_.getLong(1)).toSeq
    graft.Caches.releaseAll()
    val (r16, r17) = (radius(g16), radius(g17))
    info(s"squared radii: ss16=$r16 ss17=$r17 ratio=${r17.toDouble / r16.toDouble}")
    // squared-distance radii: a factor F on the radius is F^2 here.
    // Gonzalez is a 2-approximation of optimal; allow ss17 3x the
    // ss16 RADIUS (9x squared) — generous headroom over the measured
    // ratio while still excluding degenerate seeding (first-k seeds on
    // clustered data blow far past this).
    assert(r17 <= r16 * 9, s"ss17 squared radius $r17 > 9x ss16's $r16")
  }

  test("ss18 trained-IVF: exact distances, and recall vs the integer-L2 brute force") {
    // The DuckDB oracle pins ss18 hash-exact end to end; this spec is the
    // in-repo witness that (a) every reported dist IS the exact integer
    // squared L2 (recomputed in plain Scala), and (b) probing 3 of 8
    // TRAINED cells recovers most of the true top-10 — the index must
    // approximate the exact answer, not merely rank its own candidates.
    val feats = intFeats()
    val rows = Similarity.queries("ss18_ivf_trained_ann")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    graft.Caches.releaseAll()
    assert(rows.nonEmpty)
    rows.foreach { case (q, n, _, d) =>
      assert(BigInt(d) == sqd(feats(q), feats(n)),
        s"ss18 dist for ($q,$n) is not the exact integer L2")
    }
    val got = rows.groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._2).toSeq).toMap
    val ids = feats.keys.toVector
    val recalls = got.map { case (q, ns) =>
      val exact = ids.filter(_ != q)
        .sortBy(i => (sqd(feats(q), feats(i)), i)).take(10)
      exact.count(ns.toSet).toDouble / exact.size
    }
    val mean = recalls.sum / recalls.size
    info(f"ss18 mean recall@10 = $mean%.2f over ${recalls.size} queries")
    assert(mean >= 0.4, f"ss18 recall@10 $mean%.2f below 0.4 at nprobe 3/8")
    got.values.foreach(ns => assert(ns.size <= 10 && ns.distinct.size == ns.size))
  }

  test("ss19 IVF-PQ: lossless limit — with n <= kCodes the PQ index reproduces ss18 exactly") {
    // With n <= 16 vectors every residual sub-vector becomes (or ties
    // into an identical copy of) its own codeword after the Lloyd
    // rounds, so ADC(q, n) = Σ_m d(q_res_m, n_res_m) = the exact integer
    // squared L2 (query and candidate residuals subtract the SAME
    // probed-cell centroid, so the +2e6 shift and the centroid cancel).
    // The trained-PQ search must therefore equal the exact trained-IVF
    // search row for row — the crispest whole-pipeline witness the
    // quantizer admits, complementing the DuckDB oracle's hash check.
    val slice = graft.sources.Tables.table(spark, sf001, "embeddings")
      .selectExpr("vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS v")
      .filter("vec_id < 12")
    val exact = Similarity.ivfTrainedAnn(slice)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    graft.Caches.releaseAll()
    val pq = Similarity.ivfPqAnn(slice)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    graft.Caches.releaseAll()
    assert(exact.nonEmpty)
    assert(pq.toSeq == exact.toSeq,
      "IVF-PQ at n <= kCodes must equal trained-IVF exactly (lossless limit)")
  }

  test("ss19 IVF-PQ: approx distances bounded sane, recall vs the integer-L2 brute force") {
    // PQ distances are approximations — the spec pins that (a) the
    // reported approx_dist is nonnegative, (b) every (query, neighbor)
    // pair lies in a probed cell (structural: the join guarantees it,
    // the rank caps at 10 per query), and (c) probing 3 of 8 trained
    // cells THROUGH the 32x-compressed codes still recovers a useful
    // fraction of the true top-10 — the paper's whole claim is that
    // residual PQ approximates geometry, not just its own ranking.
    val feats = intFeats()
    val rows = Similarity.queries("ss19_ivfpq_trained_ann")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    graft.Caches.releaseAll()
    assert(rows.nonEmpty)
    rows.foreach { case (q, n, _, d) => assert(d >= 0 && q != n) }
    val got = rows.groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._2).toSeq).toMap
    val ids = feats.keys.toVector
    val recalls = got.map { case (q, ns) =>
      val exact = ids.filter(_ != q)
        .sortBy(i => (sqd(feats(q), feats(i)), i)).take(10)
      exact.count(ns.toSet).toDouble / exact.size
    }
    val mean = recalls.sum / recalls.size
    info(f"ss19 mean recall@10 = $mean%.2f over ${recalls.size} queries")
    assert(mean >= 0.3, f"ss19 recall@10 $mean%.2f below 0.3 at nprobe 3/8 + PQ")
    got.values.foreach(ns => assert(ns.size <= 10 && ns.distinct.size == ns.size))
  }

  test("ss20 range search: equals brute force exactly on the gate corpus") {
    // The DuckDB oracle is the brute-force range join; this is the
    // in-repo witness. On THIS corpus (isotropic synthetic vectors,
    // every pairwise distance in a narrow band) the triangle-inequality
    // bound legitimately admits every cell — the pruning claim is
    // exercised on the clustered fixture in the next test, the regime
    // IVF indexes exist for.
    val r = 1300000000000L
    val feats = intFeats()
    val rows = Similarity.queries("ss20_range_search")(spark, sf001)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
    graft.Caches.releaseAll()
    val brute = (for {
      q <- feats.keys.filter(_ < 5)
      n <- feats.keys if n != q
      d = sqd(feats(q), feats(n)) if d <= r
    } yield (q, n, d.toLong)).toSet
    assert(rows == brute, "pruned range search diverged from brute force")
    assert(rows.nonEmpty)
    info(s"range hits: ${rows.size} pairs")
  }

  test("ss20 range search: the prune bound eliminates cells on clustered data, completely") {
    val spark2 = spark
    import spark2.implicits._
    // Two well-separated blobs at ±0.9 across all 64 dims with
    // deterministic per-vector jitter; blob distance ~2.1e14 dwarfs the
    // radius, so every query must prune the far blob's cells — while
    // remaining row-for-row equal to brute force.
    def vec(id: Long): Vector[Double] = {
      val base = if (id % 2 == 0) 0.9 else -0.9
      Vector.tabulate(64)(d => base + 0.001 * ((id * 31 + d) % 7))
    }
    val ids = (0L until 24L).toVector
    val e = ids.map(i => (i, vec(i))).toDF("vec_id", "v")
    val r = 1000000000L // covers within-blob jitter neighbors only
    val rows = Similarity.ivfRangeSearch(e, k = 8, r = r)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
    graft.Caches.releaseAll()
    val feats = ids.map(i => i ->
      vec(i).map(x => math.floor(x * 1e6).toLong + 1000000L)).toMap
    val brute = (for {
      q <- ids.filter(_ < 5); n <- ids if n != q
      d = sqd(feats(q), feats(n)) if d <= r
    } yield (q, n, d.toLong)).toSet
    assert(rows == brute, "clustered-fixture range search diverged from brute force")
    assert(rows.nonEmpty)
    // re-derive the bound over the SAME trained cells: every cell
    // holding a true hit is admitted, and cross-blob cells are pruned
    val intF = Similarity.intFeatures(e)
    val cents = Similarity.fixedPointCentroids(intF, k = 8, iters = 2)
      .collect().map(x => x.getInt(0) -> x.getSeq[Long](1).toVector).toMap
    val assign = Similarity.kmeansFixedPoint(e, k = 8, iters = 2)
      .collect().map(x => (x.getLong(0), x.getInt(1), x.getLong(2)))
    graft.Caches.releaseAll()
    val rad = assign.groupBy(_._2).view.mapValues(_.map(_._3).max).toMap
    val cellOf = assign.map(a => a._1 -> a._2).toMap
    val admitted = (for {
      q <- ids.filter(_ < 5); c <- cents.keys
      d2c = sqd(feats(q), cents(c))
      bound = BigInt(r) + rad(c) +
        (2 * math.floor(math.sqrt(r.toDouble * rad(c).toDouble)).toLong + 4)
      if d2c <= bound
    } yield (q, c)).toSet
    rows.foreach { case (q, n, _) =>
      assert(admitted((q, cellOf(n))), s"hit ($q,$n) in a pruned cell")
    }
    info(s"fixture: ${rows.size} hits; bound admits ${admitted.size} of ${5 * cents.size} probe slots")
    assert(admitted.size < 5 * cents.size,
      "the bound admitted every (query, cell) pair on clustered data")
  }

  test("ss21 knn graph: edges are exact in-cell distances; rank plans as WindowGroupLimit") {
    val feats = intFeats()
    val df = Similarity.queries("ss21_knn_graph")(spark, sf001)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      "per-vector rank must plan as WindowGroupLimit (map-side kG-row heaps)")
    val rows = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    graft.Caches.releaseAll()
    assert(rows.nonEmpty)
    rows.foreach { case (v, n, _, d) =>
      assert(v != n && BigInt(d) == sqd(feats(v), feats(n)),
        s"edge ($v,$n) distance is not the exact integer L2")
    }
    // every vector emits at most kG edges, ranked ascending
    rows.groupBy(_._1).foreach { case (_, es) =>
      val byRank = es.sortBy(_._3).map(e => (e._4, e._2)).toSeq
      assert(byRank.size <= 4)
      assert(byRank == byRank.sorted, "rank order must follow (dist, neighbor)")
    }
  }

  test("ss22 nn-descent: pointwise no-worse than ss21, recall vs brute force, WindowGroupLimit") {
    val feats = intFeats()
    val df = Similarity.queries("ss22_nn_descent")(spark, sf001)
    assert(df.queryExecution.executedPlan.toString.contains("WindowGroupLimit"),
      "the final per-vertex rank must plan as WindowGroupLimit")
    val nd = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    val cellG = Similarity.queries("ss21_knn_graph")(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    graft.Caches.releaseAll()
    assert(nd.nonEmpty)
    // edges carry exact integer distances; no self-edges; ≤ kG per vertex
    nd.foreach { case (v, n, _, d) =>
      assert(v != n && BigInt(d) == sqd(feats(v), feats(n)),
        s"edge ($v,$n) distance is not the exact integer L2")
    }
    nd.groupBy(_._1).foreach { case (_, es) => assert(es.length <= 4) }
    // MONOTONE pointwise: for every vertex and rank r present in BOTH
    // graphs, the refined r-th distance is <= ss21's (seed ⊆ candidates,
    // so the refinement can only improve or tie a vertex's list)
    val byV21 = cellG.groupBy(_._1).map { case (v, es) =>
      v -> es.sortBy(_._3).map(_._4).toVector }
    val byV22 = nd.groupBy(_._1).map { case (v, es) =>
      v -> es.sortBy(_._3).map(_._4).toVector }
    byV21.foreach { case (v, d21) =>
      val d22 = byV22.getOrElse(v, Vector.empty)
      assert(d22.length >= d21.length,
        s"vertex $v lost edges in refinement ($d21 -> $d22)")
      d21.zip(d22).zipWithIndex.foreach { case ((a, b), i) =>
        assert(b <= a, s"vertex $v rank ${i + 1} got worse: $a -> $b")
      }
    }
    // recall@4 vs the brute-force true top-4 must not drop — and on this
    // fixture the bucket-bridged round should genuinely help, because the
    // cell seed alone cannot see cross-cell neighbors
    def recall(edges: Map[Long, Vector[Long]],
        truth: Map[Long, Set[Long]]): Double = {
      val hits = truth.toSeq.map { case (v, t) =>
        edges.getOrElse(v, Vector.empty).count(t).toDouble / t.size }
      hits.sum / hits.size
    }
    val truth = feats.map { case (v, fv) =>
      v -> feats.toSeq.filter(_._1 != v)
        .map { case (n, fn) => (sqd(fv, fn), n) }.sorted.take(4)
        .map(_._2).toSet
    }
    val n21 = cellG.groupBy(_._1).map { case (v, es) => v -> es.map(_._2).toVector }
    val n22 = nd.groupBy(_._1).map { case (v, es) => v -> es.map(_._2).toVector }
    val (r21, r22) = (recall(n21, truth), recall(n22, truth))
    info(f"recall@4 vs brute force: ss21 $r21%.4f -> ss22 $r22%.4f")
    assert(r22 >= r21, s"refinement dropped recall: $r21 -> $r22")
    assert(r22 > r21,
      "one bucket-bridged round should strictly improve recall on the " +
        "sf0.001 fixture (cells hide true cross-cell neighbors)")
  }

  test("exactRankWithin equals the single-partition ROW_NUMBER per group, no unpartitioned window in its plan") {
    import org.apache.spark.sql.functions.{col, expr, row_number}
    import org.apache.spark.sql.expressions.Window
    // adversarial grouping: duplicate keys within and across groups,
    // empty-ish groups, values that collide across group boundaries —
    // rank must be computed strictly WITHIN sys and match the
    // single-partition window's answer exactly
    val df = spark.range(997).select(
      (col("id") % 5).cast("int").as("sys"),
      col("id").as("vec_id"),
      (col("id") * 37 % 101).as("p"))
    val got = Similarity
      .exactRankWithin(df, "rnk", "sys", col("p"), col("vec_id"))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(3)).toMap
    graft.Caches.releaseAll()
    val want = df.withColumn("rnk",
        row_number().over(Window.partitionBy("sys").orderBy("p", "vec_id")))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getInt(3).toLong).toMap
    assert(got.size == want.size)
    want.foreach { case (k, v) =>
      assert(got(k) == v, s"rank mismatch at $k: got ${got(k)}, want $v")
    }
    // and the distributed form must not plan the single-partition
    // WindowExec the naive unpartitioned ROW_NUMBER would (its window
    // runs within (_pid, sys); the offset window runs over <=
    // shuffle-partitions rows)
    val plan = Similarity.exactRankWithin(df, "rnk", "sys", col("p"), col("vec_id"))
      .queryExecution.executedPlan.toString
    graft.Caches.releaseAll()
    assert(!plan.contains("SinglePartition"),
      "exactRankWithin must not move the ranked data to a single partition")
  }

  test("ss23 iterated nn-descent: linear plan, monotone rounds, recall beats ss22") {
    import org.apache.spark.sql.functions.{col, expr}
    val feats = intFeats()
    val df = Similarity.queries("ss23_nn_descent_iter")(spark, sf001)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      "the per-vertex ranks must plan as WindowGroupLimit (map-side kG-row heaps)")
    // the linear-end-to-end claim, structurally: no trained-cell argmin
    // anywhere in the plan — ss21's centroid machinery would show up as
    // the broadcast-nested-loop centroid pack (r16 verdict #1: the scale
    // twin must not call knnGraphEdges)
    assert(!plan.contains("BroadcastNestedLoop"),
      "ss23's plan must not contain the trained-cell centroid cross join")
    val it2 = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    graft.Caches.releaseAll()
    val e = graft.sources.Tables.table(spark, sf001, "embeddings")
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    val it1 = Similarity.nnDescentIterEdges(e, rounds = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    graft.Caches.releaseAll()
    val nd22 = Similarity.queries("ss22_nn_descent")(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    graft.Caches.releaseAll()
    assert(it2.nonEmpty)
    it2.foreach { case (v, n, _, d) =>
      assert(v != n && BigInt(d) == sqd(feats(v), feats(n)),
        s"edge ($v,$n) distance is not the exact integer L2")
    }
    it2.groupBy(_._1).foreach { case (_, es) => assert(es.length <= 4) }
    // MONOTONE round-over-round: round 2's r-th distance per vertex is
    // <= round 1's (each round's candidates include its seed)
    val byV1 = it1.groupBy(_._1).map { case (v, es) =>
      v -> es.sortBy(_._3).map(_._4).toVector }
    val byV2 = it2.groupBy(_._1).map { case (v, es) =>
      v -> es.sortBy(_._3).map(_._4).toVector }
    byV1.foreach { case (v, d1) =>
      val d2 = byV2.getOrElse(v, Vector.empty)
      assert(d2.length >= d1.length, s"vertex $v lost edges in round 2")
      d1.zip(d2).zipWithIndex.foreach { case ((a, b), i) =>
        assert(b <= a, s"vertex $v rank ${i + 1} got worse in round 2: $a -> $b")
      }
    }
    // recall@4 vs brute force: the bucket-only seed knows nothing of
    // geometry, so two rounds must climb past ss22's cell+bucket-seeded
    // single round for the linear twin to be the better declared path
    val truth = feats.map { case (v, fv) =>
      v -> feats.toSeq.filter(_._1 != v)
        .map { case (n, fn) => (sqd(fv, fn), n) }.sorted.take(4)
        .map(_._2).toSet
    }
    def recall(edges: Map[Long, Vector[Long]]): Double = {
      val hits = truth.toSeq.map { case (v, t) =>
        edges.getOrElse(v, Vector.empty).count(t).toDouble / t.size }
      hits.sum / hits.size
    }
    val n22 = nd22.groupBy(_._1).map { case (v, es) => v -> es.map(_._2).toVector }
    val n23 = it2.groupBy(_._1).map { case (v, es) => v -> es.map(_._2).toVector }
    val (r22, r23) = (recall(n22), recall(n23))
    info(f"recall@4 vs brute force: ss22 $r22%.4f -> ss23 $r23%.4f")
    assert(r23 >= r22,
      s"the linear twin must match or beat ss22's recall: $r22 -> $r23")
  }

  test("qp08 graph-dedup manifest: one verdict per vector, drops certified, planted duplicates dropped") {
    import org.apache.spark.sql.functions.col
    val feats = intFeats()
    val eps = BigInt(1300000000000L)
    val m = Similarity.queries("qp08_graph_dedup_manifest")(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    graft.Caches.releaseAll()
    // one verdict row per corpus vector, evidence is an exact integer
    // distance to a real, distinct vector
    assert(m.length == feats.size && m.map(_._1).distinct.length == feats.size)
    m.foreach { case (v, n, d, verdict) =>
      assert(v != n && BigInt(d) == sqd(feats(v), feats(n)),
        s"evidence edge ($v,$n) distance is not the exact integer L2")
      assert(verdict == "keep" || verdict == "drop")
    }
    // precision 1 by construction (graph distances are exact): every
    // drop verdict is certified by a TRUE lower-id ε-neighbor
    m.filter(_._4 == "drop").foreach { case (v, _, _, _) =>
      assert(feats.exists { case (n, fn) => n < v && sqd(feats(v), fn) <= eps },
        s"dropped $v has no true lower-id ε-neighbor in the corpus")
    }
    // recall on the easiest true pairs — planted EXACT duplicates:
    // append copies of ~1/17 of the corpus under fresh higher ids. Each
    // copy's nearest neighbor is its original at distance 0 and every
    // projection ranks the pair adjacently (identical projection values,
    // vec_id tie-break), so the seed or a shared-neighbor round must
    // surface the edge and the manifest must drop (nearly) every copy.
    val base = graft.sources.Tables.table(spark, sf001, "embeddings")
      .selectExpr("vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS v")
    val maxId = feats.keys.max
    val dups = base.filter(col("vec_id") % 17 === 3)
      .select((col("vec_id") + maxId + 1).as("vec_id"), col("v"))
    val copies = dups.collect().map(_.getLong(0)).toSet
    val pm = Similarity
      .graphDedupManifest(Similarity.nnDescentIterEdges(base.union(dups)),
        base.union(dups))
      .collect()
      .map(r => (r.getLong(0), r.getString(3)))
    graft.Caches.releaseAll()
    val droppedCopies = pm.count { case (v, verd) => copies(v) && verd == "drop" }
    info(s"planted ${copies.size} exact duplicates, dropped $droppedCopies")
    assert(copies.nonEmpty)
    assert(droppedCopies * 10 >= copies.size * 9,
      s"graph dedup missed too many planted duplicates: $droppedCopies/${copies.size}")
  }

  test("ss23 seed-diversity knob: 8 Walsh systems yield exact edges; out-of-family counts rejected") {
    import org.apache.spark.sql.functions.{col, expr}
    // the soak's `systems` axis (SOAK_r18): the extended Walsh family
    // rides the same fused exchange and must keep every emitted edge an
    // exact integer distance; the family is defined for 1..8 only
    val feats = intFeats()
    val e = graft.sources.Tables.table(spark, sf001, "embeddings")
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    val m = Similarity.nnDescentIterEdges(e, systems = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    graft.Caches.releaseAll()
    assert(m.nonEmpty)
    m.foreach { case (v, n, _, d) =>
      assert(v != n && BigInt(d) == sqd(feats(v), feats(n)),
        s"edge ($v,$n) distance is not the exact integer L2")
    }
    m.groupBy(_._1).foreach { case (_, es) => assert(es.length <= 4) }
    intercept[IllegalArgumentException] {
      Similarity.nnDescentIterEdges(e, systems = 9)
    }
    intercept[IllegalArgumentException] {
      Similarity.nnDescentIterEdges(e, systems = 0)
    }
  }

  test("ss24 production profile: linear plan, exact edges, fixture recall >= ss23's") {
    // the DECLARED scale profile (r18 verdict #3): kWork 16 / bucketW 32 /
    // 8 systems / 2 rounds — SOAK_r18 measured 0.91 at 100k where the
    // fixture profile read 0.60; on the saturated 2k-vector fixture the
    // wider profile must at least not LOSE recall, its edges stay exact
    // integers, and the plan keeps ss23's linear shape (no trained-cell
    // centroid cross join, map-side WindowGroupLimit heaps)
    val feats = intFeats()
    val df = Similarity.queries("ss24_nn_descent_scale")(spark, sf001)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      "per-vertex ranks must plan as WindowGroupLimit")
    assert(!plan.contains("BroadcastNestedLoop"),
      "ss24's plan must not contain the trained-cell centroid cross join")
    val e24 = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    graft.Caches.releaseAll()
    val e23 = Similarity.queries("ss23_nn_descent_iter")(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    graft.Caches.releaseAll()
    assert(e24.nonEmpty)
    e24.foreach { case (v, n, _, d) =>
      assert(v != n && BigInt(d) == sqd(feats(v), feats(n)),
        s"edge ($v,$n) distance is not the exact integer L2")
    }
    e24.groupBy(_._1).foreach { case (_, es) => assert(es.length <= 4) }
    val truth = feats.map { case (v, fv) =>
      v -> feats.toSeq.filter(_._1 != v)
        .map { case (n, fn) => (sqd(fv, fn), n) }.sorted.take(4)
        .map(_._2).toSet
    }
    def recall(edges: Map[Long, Vector[Long]]): Double = {
      val hits = truth.toSeq.map { case (v, t) =>
        edges.getOrElse(v, Vector.empty).count(t).toDouble / t.size }
      hits.sum / hits.size
    }
    val r23 = recall(e23.groupBy(_._1).map { case (v, es) => v -> es.map(_._2).toVector })
    val r24 = recall(e24.groupBy(_._1).map { case (v, es) => v -> es.map(_._2).toVector })
    info(f"fixture recall@4: ss23 $r23%.4f -> ss24 $r24%.4f")
    assert(r24 >= r23,
      s"the production profile must not lose recall on the fixture: $r23 -> $r24")
  }

  test("qp08 manifest: an edge-less corpus vector still gets a keep row with null evidence (r17 advice)") {
    import spark.implicits._
    // handcrafted graph: vectors 1 and 2 share an edge within ε, vector 3
    // is isolated (possible in production: a singleton rank bucket under
    // every projection leaves a vector with no seed edges and, bucket
    // membership being symmetric, no reverse edges) — the verdict frame
    // is driven by the CORPUS id set, so the isolated vector must appear,
    // keep, with null nn evidence, never silently vanish
    val edges = Seq((1L, 2L, 1, 100L), (2L, 1L, 1, 100L))
      .toDF("vec_id", "neighbor_id", "rk", "dist")
    val corpus = Seq(1L, 2L, 3L).toDF("vec_id")
    val m = Similarity.graphDedupManifest(edges, corpus, epsSq = 1000L)
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        r.getString(3)))
    assert(m.map(_._1).toSeq == Seq(1L, 2L, 3L), "one row per corpus vector")
    assert(m(0) == ((1L, Some(2L), Some(100L), "keep")),
      "min-id survivor keeps (no lower-id neighbor)")
    assert(m(1) == ((2L, Some(1L), Some(100L), "drop")),
      "lower-id ε-neighbor certifies the drop")
    assert(m(2) == ((3L, None, None, "keep")),
      "the isolated vector keeps with null evidence")
  }

  test("qp08 kNN-graph artifact is row-for-row equal to the recompute form (r17 verdict #4)") {
    import org.apache.spark.sql.functions.{col, expr}
    // The scaladoc claims the persisted artifact is byte-identical to the
    // recompute and qp08's oracle re-derives the chain — so drift WOULD
    // hash-mismatch at the driver gate, but only there. This is the
    // unit-level contract (like dd19's refresh ≡ rebuild): the artifact
    // the memo serves equals nnDescentIterEdges at the same parameters.
    val cols = Seq("vec_id", "neighbor_id", "rk", "dist")
    val art = spark.read
      .parquet(Similarity.knnGraphArtifactPath(spark, sf001))
      .select(cols.map(col): _*)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
      .sorted.toSeq
    graft.Caches.releaseAll()
    val e = graft.sources.Tables.table(spark, sf001, "embeddings")
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    val rec = Similarity.nnDescentIterEdges(e)
      .select(cols.map(col): _*)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
      .sorted.toSeq
    graft.Caches.releaseAll()
    assert(art.nonEmpty && art == rec,
      s"artifact (${art.size} edges) != recompute (${rec.size} edges)")
  }

  test("qp05 curation: in-cell prototypes pairwise separated by eps², planted duplicates never sampled") {
    import org.apache.spark.sql.functions._
    // The DuckDB oracle pins qp05 hash-exact; this spec is the in-repo
    // witness of the SemDeDup POSTCONDITION the manifest promises: since
    // a vector is dropped when ANY lower-id same-cell vector sits within
    // eps², any two SURVIVORS of one cell — in particular any two sampled
    // prototypes — must be more than eps² apart.
    val epsSq = BigInt("1300000000000")
    val feats = intFeats()
    val rows = Similarity.queries("qp05_curation_manifest")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3)))
    graft.Caches.releaseAll()
    assert(rows.nonEmpty)
    rows.groupBy(_._2).foreach { case (c, rs) =>
      assert(rs.map(_._4).sorted.toSeq == (1 to rs.size),
        s"cluster $c ranks not contiguous from 1")
      for (pair <- rs.map(_._1).combinations(2)) {
        val Seq(x, y) = pair.toSeq
        assert(sqd(feats(x), feats(y)) > epsSq,
          s"cluster $c prototypes $x,$y within eps² — SemDeDup postcondition violated")
      }
    }
    // Planted exact duplicates: an identical vector lands in the same
    // trained cell at distance 0 ≤ eps², so the max-id copy is pruned
    // before sampling — it must never appear in the manifest.
    val tmp = java.nio.file.Files.createTempDirectory("qp05dup").toString
    val orig = graft.sources.Tables.table(spark, sf001, "embeddings")
    val planted = orig.orderBy("vec_id").limit(20)
      .withColumn("vec_id", col("vec_id") + lit(10000L))
    orig.unionByName(planted).write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val out2 = Similarity.queries("qp05_curation_manifest")(spark, tmp)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    graft.Caches.releaseAll()
    assert(out2.nonEmpty && out2.forall(_ < 10000L),
      s"planted duplicate sampled: ${out2.filter(_ >= 10000L)}")
  }

  test("ivf ann recall@10 tracks the probed corpus fraction") {
    val exact = topk("ss01_cosine_topk")
    val ivf = topk("ss05_ivf_ann")
    val recalls = exact.map { case (q, ex) =>
      val got = ivf.getOrElse(q, Seq.empty).toSet
      ex.count(got).toDouble / ex.size
    }
    val mean = recalls.sum / recalls.size
    info(f"mean recall@10 = $mean%.2f over ${recalls.size} queries")
    // The testdata embeddings are near-isotropic (exact top-10 neighbors are
    // mostly cross-label, max cosine ~0.35), so IVF recall is governed by
    // the probed fraction: nprobe=3 of 10 cells => ~30% of the corpus
    // scanned => recall ~0.3. Assert it's in that regime, i.e. the cell
    // routing isn't broken (far below) and candidates dedupe correctly.
    assert(mean >= 0.15, f"recall@10 $mean%.2f far below probed fraction 0.3")
  }
}
