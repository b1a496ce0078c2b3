package graft

import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{SketchExprs, Uuid5Util}

/** The custom expressions exposed as SQL functions through
  * `spark.sql.extensions=graft.GraftExtensions`. */
class FunctionRegistrySpec extends SparkSpec {

  test("custom expressions are callable from SQL") {
    val r = spark.sql("""
      SELECT uuid5('42_1') AS u,
             dot_product(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS dp,
             l2_norm(array(3.0D, 4.0D)) AS nrm,
             simhash64('hello world') AS sh,
             sig_agreement(array(1L, 2L), array(1L, 3L)) AS agree,
             size(word_shingles('a b c d', 3)) AS nsh,
             size(minhash_sig(word_shingles('a b c d'), 16)) AS k,
             long_sqdist(array(1L, 5L, -2L), array(4L, 1L, 0L)) AS lsd,
             long_sqdist(array(1000000L, 2000000L), array(0L, 0L)) AS lsdBig,
             py_list_literal("['a', 'b']") AS pl,
             prefix_each('https:', array('//x/1.jpg', NULL)) AS pe
    """).collect()(0)
    assert(r.getSeq[String](r.fieldIndex("pl")) == Seq("a", "b"))
    assert(r.getSeq[String](r.fieldIndex("pe")) == Seq("https:x/1.jpg", null))
    assert(r.getAs[String]("u") == Uuid5Util.v5("42_1"))
    assert(r.getAs[Double]("dp") == 11.0)
    assert(r.getAs[Double]("nrm") == 5.0)
    assert(r.getAs[Long]("sh") ==
      SketchExprs.evalSimhash64(UTF8String.fromString("hello world")))
    assert(r.getAs[Double]("agree") == 0.5)
    assert(r.getAs[Int]("nsh") == 2)
    assert(r.getAs[Int]("k") == 16)
    // 9 + 16 + 4, and the HOF twin it replaced in the hot paths agrees
    assert(r.getAs[Long]("lsd") == 29L)
    assert(r.getAs[Long]("lsdBig") == 1000000L * 1000000 + 2000000L * 2000000)
    val hof = spark.sql(
      """SELECT aggregate(zip_with(array(1L, 5L, -2L), array(4L, 1L, 0L),
        |  (a, b) -> (a - b) * (a - b)), cast(0 as bigint),
        |  (acc, x) -> acc + x) AS d""".stripMargin).collect()(0)
    assert(hof.getAs[Long]("d") == 29L)
  }

  test("pack_ints/packed_sqdist: value-identical to long_sqdist, loud on overflow") {
    // the packed path must be a pure row-width optimization — every
    // distance the NN-Descent re-ranks compute through it has to equal
    // the long-array form bit for bit, negatives and grid extremes
    // included (ss14's grid spans [0, ~2e6]; negatives appear in tests)
    val r = spark.sql("""
      SELECT packed_sqdist(pack_ints(array(1L, 5L, -2L)),
                           pack_ints(array(4L, 1L, 0L))) AS d,
             packed_sqdist(pack_ints(array(2000000L, 0L)),
                           pack_ints(array(0L, 2000000L))) AS dGrid,
             long_sqdist(array(2000000L, 0L), array(0L, 2000000L)) AS dRef,
             length(pack_ints(array(1L, 2L, 3L))) AS nbytes
    """).collect()(0)
    assert(r.getAs[Long]("d") == 29L)
    assert(r.getAs[Long]("dGrid") == r.getAs[Long]("dRef"))
    assert(r.getAs[Int]("nbytes") == 12, "4 bytes per element")
    // an element outside int32 must throw, not wrap — silent truncation
    // would corrupt every downstream distance
    val e = intercept[Exception] {
      spark.sql("SELECT packed_sqdist(pack_ints(array(3000000000L)), pack_ints(array(0L)))")
        .collect()
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).toSeq
    assert(msgs.exists(_.contains("out of int32 range")), msgs.mkString(" | "))
  }

  test("non-literal size argument is rejected with a clear error") {
    val e = intercept[Exception] {
      spark.sql("SELECT minhash_sig(word_shingles('a b'), CAST(rand() * 4 AS INT))").collect()
    }
    assert(e.getMessage.contains("literal integer"))
  }
}
