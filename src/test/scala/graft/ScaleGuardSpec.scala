package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity}

/** The sf0.5 soak (SOAK_r06.md), automated: a synthetic 2× scale step with
  * an adversarial hot key, asserting candidate-count growth stays ~linear
  * for the NON-DEMO dedup/similarity paths (dd01/dd05/dd06/ss08). The r4
  * soak caught dd05's uncapped edge index going superlinear by hand; this
  * spec makes the next uncapped path fail in CI instead.
  *
  * The doc corpora are built so the guard is load-bearing: every doc shares
  * a long common tail (one shingle group of size n — far above every cap),
  * and each {2k, 2k+1} pair shares a unique head (groups of size 2). With
  * the caps in place candidates are exactly the n/2 true pairs → growth is
  * exactly 2× at 2× rows; with a cap reverted the hot tail joins k² and
  * growth jumps to ~4×, failing the assertions below. */
class ScaleGuardSpec extends SparkSpec {

  private def writeDocs(n: Int): String = {
    val dir = new java.io.File(sys.props("java.io.tmpdir"), s"graft_scaleguard_docs_$n")
    org.apache.commons.io.FileUtils.deleteQuietly(dir)
    // 12-word common tail (10 shingles of df = n); 5-word pair-unique head
    // (df-2 shingles). Cross-pair jaccard over UNCAPPED sets ≈ 10/20 = 0.5,
    // well above dd05's 0.05 threshold — so a reverted cap yields ~n²/2
    // edges, not a quietly-filtered linear count.
    val tail = "common alpha common beta common gamma common delta common epsilon common zeta"
    val rows = (0 until n).map { i =>
      (i.toLong, "en", "src0", s"pair${i / 2} u${i / 2}a u${i / 2}b u${i / 2}c u${i / 2}d $tail")
    }
    import spark.implicits._
    rows.toDF("doc_id", "lang", "source", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"${dir.getAbsolutePath}/documents.parquet")
    dir.getAbsolutePath
  }

  private def writeEmbeddings(n: Int): String = {
    val dir = new java.io.File(sys.props("java.io.tmpdir"), s"graft_scaleguard_emb_$n")
    org.apache.commons.io.FileUtils.deleteQuietly(dir)
    // Corpus grows by ADDING 8-vector clusters (the realistic growth mode):
    // per-cluster geometry is constant, so true near-dup pairs scale with
    // the number of clusters, i.e. linearly.
    val rnd = new scala.util.Random(42)
    val dim = 64
    val rows = (0 until n / 8).flatMap { c =>
      val center = Array.fill(dim)(rnd.nextGaussian().toFloat)
      (0 until 8).map { m =>
        (c.toLong * 8 + m, center.map(x => x + 0.05f * rnd.nextGaussian().toFloat).toSeq)
      }
    }
    import spark.implicits._
    rows.toDF("vec_id", "embedding")
      .coalesce(1).write.mode("overwrite").parquet(s"${dir.getAbsolutePath}/embeddings.parquet")
    dir.getAbsolutePath
  }

  private def cleanup(): Unit = {
    spark.catalog.clearCache()
    Caches.releaseAll()
  }

  test("dd05 edge stage stays linear under a 2x scale step (cap guardrail)") {
    val (d1, d2) = (writeDocs(400), writeDocs(800))
    try {
      val e1 = Dedup.jaccardClusterEdges(spark, d1).count(); cleanup()
      val e2 = Dedup.jaccardClusterEdges(spark, d2).count(); cleanup()
      assert(e1 == 200L, s"expected exactly the n/2 true pair edges, got $e1")
      assert(e2 <= 2.3 * e1, s"dd05 edges grew superlinearly: $e1 -> $e2 at 2x rows")
      // Prove the guard is load-bearing: on this corpus an UNCAPPED index
      // explodes (hot tail joins k²), so reverting the cap cannot pass.
      val uncapped = Dedup.jaccardClusterEdges(spark, d1, cap = Long.MaxValue).count(); cleanup()
      assert(uncapped > 10 * e1,
        s"expected the uncapped edge index to explode on the hot-tail corpus, got $uncapped")
    } finally cleanup()
  }

  test("dd06 candidate stage stays linear under a 2x scale step") {
    val (d1, d2) = (writeDocs(400), writeDocs(800))
    val c1 = Dedup.cappedCandidatePairs(spark, d1, 2L).count()
    val c2 = Dedup.cappedCandidatePairs(spark, d2, 2L).count()
    assert(c1 == 200L, s"expected exactly the n/2 true pairs, got $c1")
    assert(c2 <= 2.3 * c1, s"dd06 candidates grew superlinearly: $c1 -> $c2 at 2x rows")
  }

  test("dd01 exact-dedup output stays linear under a 2x scale step") {
    val (d1, d2) = (writeDocs(400), writeDocs(800))
    val s1 = Dedup.queries("dd01_exact_dedup")(spark, d1).count()
    val s2 = Dedup.queries("dd01_exact_dedup")(spark, d2).count()
    assert(s1 == 200L) // one survivor per identical pair
    assert(s2 <= 2.3 * s1, s"dd01 survivors grew superlinearly: $s1 -> $s2")
  }

  test("ss08 candidate stage stays ~linear under a 2x scale step (plane scaling + bucket cap)") {
    // 4096 -> 8192 crosses a plane-count step (9 -> 10), which is the
    // mechanism that keeps expected bucket occupancy constant as the
    // corpus grows — the soak's superlinear finding was exactly a fixed
    // plane count at growing n.
    val (n1, n2) = (4096, 8192)
    assert(Similarity.neardupPlanes(n2.toLong) == Similarity.neardupPlanes(n1.toLong) + 1)
    val (d1, d2) = (writeEmbeddings(n1), writeEmbeddings(n2))
    try {
      def candidates(dir: String, n: Int): Long =
        Similarity.lshBlockedPairs(spark, dir,
            tables = 2, planes = Similarity.neardupPlanes(n.toLong),
            bucketCap = Similarity.defaultNeardupBucketCap)
          .select("id_a", "id_b").distinct().count()
      val c1 = candidates(d1, n1)
      val c2 = candidates(d2, n2)
      assert(c1 > 0, "LSH blocker found no candidates — clusters should collide")
      assert(c2 <= 3.0 * c1, s"ss08 candidates grew superlinearly: $c1 -> $c2 at 2x rows")
    } finally cleanup()
  }
}
