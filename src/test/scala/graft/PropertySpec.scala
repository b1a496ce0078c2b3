package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Properties}

import graft.functions.EtlFunctions._

/** Property checks (SURVEY.md §5.2): coercions are total (never throw),
  * structural invariants of union/dedup/filter hold for arbitrary inputs.
  * Runs on the shared local session via ScalaCheck's sbt integration. */
object EtlProperties extends Properties("graft.etl") {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val anyStrings: Gen[List[String]] =
    Gen.listOfN(20, Gen.oneOf(
      Gen.alphaNumStr, Gen.numStr,
      Gen.oneOf("", " ", "3.5", "-1e3", "NaN", "2024-01-01", "['a','b']", "[", "null"),
      Gen.asciiPrintableStr))

  property("numCoerce and tsNormalize never throw on arbitrary strings") =
    Prop.forAllNoShrink(anyStrings) { xs =>
      val df = xs.toDF("x")
        .select(numCoerce($"x").as("n"), tsNormalize($"x").as("t"),
          flooredLong($"x").as("f"), safeListParse($"x").as("l"))
      df.collect().length == xs.length // totality: every row produced
    }

  // The list helpers' former forms over the built-ins `from_json`,
  // `transform` and `filter`: the reference the kernels must equal.
  private def refListParse(c: Column): Column =
    coalesce(from_json(regexp_replace(c, "'", "\""), ArrayType(StringType)),
      array().cast(ArrayType(StringType)))
  private def refPrefixEach(base: String, c: Column): Column =
    transform(coalesce(c, array().cast(ArrayType(StringType))),
      x => concat(lit(base), regexp_replace(x, "^/+", "")))
  private def refCompactStr(cols: Column*): Column =
    filter(array(cols: _*), x => x.isNotNull && trim(x) =!= "")
  private def refCompactNum(cols: Column*): Column =
    filter(array(cols: _*), x => x.isNotNull && !isnan(x))

  /** `rows` as a local relation (the optimizer evaluates a projection of it
    * interpreted) and as an RDD scan (whole-stage code-generated). */
  private def bothPaths(schema: StructType, rows: Seq[Row]): Seq[DataFrame] = Seq(
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema),
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema))

  /** Each (kernel, reference) pair gives equal values of equal type. */
  private def agree(df: DataFrame, pairs: Seq[(Column, Column)]): Boolean = {
    val out = df.select(pairs.zipWithIndex.flatMap { case ((k, r), i) =>
      Seq(k.as(s"k$i"), r.as(s"r$i")) }: _*)
    val types = pairs.indices.forall(i =>
      out.schema(s"k$i").dataType == out.schema(s"r$i").dataType)
    types && out.collect().forall(row =>
      pairs.indices.forall(i => bits(row.get(2 * i)) == bits(row.get(2 * i + 1))))
  }

  /** A value compared bit for bit: NaN equals NaN, -0.0 differs from 0.0. */
  private def bits(v: Any): Any = v match {
    case s: scala.collection.Seq[_] => s.map(bits).toList
    case d: Double => java.lang.Double.doubleToLongBits(d)
    case x => x
  }

  // Python-list-literal-like strings: quotes of both kinds inside elements,
  // escapes, nested and truncated brackets, numbers in and out of the
  // kernel's plain-number form, null, non-ASCII and whitespace.
  private val listElement: Gen[String] = Gen.oneOf(
    Gen.alphaNumStr.map(s => s"'$s'"),
    Gen.asciiPrintableStr.map(s => s"'${s.take(6)}'"),
    Gen.oneOf("'a\"b'", "'it''s'", "\"dq\"", "'a\\b'", "'a\\nb'", "'\\u0041'",
      "'Арбатская'", "'日本'", "' sp ace '", "'/p/1.jpg'", "''", "'\t'", "'\u0001'",
      "'a\nb'", "'é'"),
    Gen.oneOf("350.0", "870.5", "-0", "-0.0", "0", "007", "1e3", "1E-2", "1.10", "3",
      "-12", "1.", ".5", "-", "NaN", "Infinity", "null", "None", "true", "1.0E7",
      "123456789.5", "0.1", "100.0", "12345678901234567890", "999999999999999999",
      "-9223372036854775809", "+5", "0x1F"),
    Gen.chooseNum(-1e7, 1e7).map(d => f"$d%.1f"),
    Gen.chooseNum(Long.MinValue, Long.MaxValue).map(_.toString),
    Gen.oneOf("[]", "['x', ['y']]", "[['a']]", "{}", "{'a': 1}", "[1, [2]]"))

  private val listLiteral: Gen[String] = Gen.frequency(
    8 -> (for {
      elems <- Gen.choose(0, 5).flatMap(Gen.listOfN(_, listElement))
      seps <- Gen.listOfN(math.max(elems.size - 1, 0), Gen.frequency(
        8 -> ", ", 3 -> ",", 1 -> " , ", 1 -> ",\n", 1 -> "", 1 -> ",,", 1 -> " ", 1 -> ";"))
      open <- Gen.frequency(8 -> "[", 1 -> " [", 1 -> "[ ", 1 -> "", 1 -> "[[", 1 -> "\t[",
        1 -> "\u00a0[", 1 -> "x[")
      close <- Gen.frequency(8 -> "]", 1 -> "] ", 1 -> "", 1 -> "]]", 1 -> "] x",
        1 -> " ]", 1 -> ",]", 1 -> "]\n")
    } yield open + elems.zipAll(seps, "", "").map { case (e, s) => e + s }.mkString + close),
    1 -> Gen.oneOf("", " ", "null", "None", "nope", "[", "]", "['a'", "'a']",
      "[\"a\", 'b']", "['a\", \"b']", "[\"\"]", "[''']"),
    1 -> Gen.asciiPrintableStr)

  property("safeListParse equals its from_json form on list-literal-like strings") =
    Prop.forAllNoShrink(Gen.listOfN(24, Gen.option(listLiteral))) { xs =>
      val rows = xs.map(x => Row(x.orNull))
      bothPaths(StructType(Seq(StructField("x", StringType))), rows).forall { df =>
        agree(df, Seq(
          safeListParse($"x") -> refListParse($"x"),
          safeListParse($"x").try_cast(ArrayType(DoubleType)) ->
            refListParse($"x").try_cast(ArrayType(DoubleType))))
      }
    }

  property("flat lists of plain strings and numbers take the kernel, not from_json") =
    Prop.forAllNoShrink(Gen.choose(0, 6).flatMap(Gen.listOfN(_, Gen.oneOf(
      Gen.alphaNumStr.map(s => s"'$s'"), Gen.const("'Арбатская'"),
      Gen.const("'/p/1_2.jpg'"), Gen.chooseNum(0.0, 1e4).map(d => f"$d%.1f"),
      Gen.chooseNum(-1000L, 1000L).map(_.toString))))) { xs =>
      val parsed = graft.functions.ListKernels.flatList(
        org.apache.spark.unsafe.types.UTF8String.fromString(xs.mkString("[", ", ", "]")))
      parsed != null && parsed.numElements() == xs.length
    }

  private val urlPath: Gen[String] = Gen.oneOf(
    Gen.alphaNumStr, Gen.const(""), Gen.const("/"), Gen.const("//a/b.jpg"), Gen.const("///"),
    Gen.const("/p/1.jpg"), Gen.const(" /x"), Gen.const("/фото.jpg"), Gen.const("a//b"),
    Gen.asciiPrintableStr.map(_.take(8)))

  property("prefixEach equals its transform form, null arrays and elements included") =
    Prop.forAllNoShrink(Gen.listOfN(16, Gen.option(Gen.choose(0, 4).flatMap(
        Gen.listOfN(_, Gen.option(urlPath)))))) { xs =>
      val rows = xs.map(x => Row(x.map(_.map(_.orNull)).orNull))
      bothPaths(StructType(Seq(StructField("a", ArrayType(StringType)))), rows).forall { df =>
        agree(df, Seq(
          prefixEach("https://img/", $"a") -> refPrefixEach("https://img/", $"a"),
          prefixEach("https:", $"a") -> refPrefixEach("https:", $"a"),
          prefixEach("p/", slice(split(try_element_at($"a", lit(1)), "/"), 1, 3)) ->
            refPrefixEach("p/", slice(split(try_element_at($"a", lit(1)), "/"), 1, 3))))
      }
    }

  property("arrayCompactStr/Num equal their filter forms, types included") =
    Prop.forAllNoShrink(Gen.listOfN(16, for {
      s <- Gen.listOfN(3, Gen.option(Gen.oneOf(Gen.alphaStr,
        Gen.oneOf("", " ", "\t", " x ", "Арбат", "1.5", "NaN"))))
      d <- Gen.listOfN(3, Gen.option(Gen.oneOf(Gen.chooseNum(-1e3, 1e3),
        Gen.oneOf(Double.NaN, 0.0, -0.0, Double.PositiveInfinity))))
    } yield s ++ d)) { xs =>
      val schema = StructType(Seq("s1", "s2", "s3").map(StructField(_, StringType)) ++
        Seq("d1", "d2", "d3").map(StructField(_, DoubleType)))
      val rows = xs.map(x => Row(x.map(_.orNull): _*))
      bothPaths(schema, rows).forall { df =>
        agree(df, Seq(
          arrayCompactStr($"s1", $"s2", $"s3") -> refCompactStr($"s1", $"s2", $"s3"),
          arrayCompactStr($"s1") -> refCompactStr($"s1"),
          arrayCompactStr($"s1", lit(null).cast(StringType), lit("")) ->
            refCompactStr($"s1", lit(null).cast(StringType), lit("")),
          arrayCompactStr(lit("a"), lit(" ")) -> refCompactStr(lit("a"), lit(" ")),
          arrayCompactNum($"d1", $"d2", $"d3") -> refCompactNum($"d1", $"d2", $"d3"),
          arrayCompactNum(numCoerce($"s1"), numCoerce($"s2")) ->
            refCompactNum(numCoerce($"s1"), numCoerce($"s2"))))
      }
    }

  property("union of N frames preserves total row count") =
    Prop.forAllNoShrink(Gen.listOfN(4, Gen.chooseNum(0, 30))) { sizes =>
      val frames = sizes.map(n => (0 until n).map(i => (i.toLong, s"v$i")).toDF("k", "v"))
      frames.reduce(_.unionByName(_)).count() == sizes.sum
    }

  property("keep-first dedup output is <= input and has distinct keys") =
    Prop.forAllNoShrink(Gen.listOfN(40, Gen.chooseNum(0, 8))) { keys =>
      val df = keys.zipWithIndex.map { case (k, i) => (k.toLong, i) }.toDF("url", "ord")
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("url").orderBy("ord")
      val out = df.withColumn("rn", row_number().over(w)).filter($"rn" === 1)
      val n = out.count()
      n <= keys.length && n == keys.distinct.length
    }

  property("required-field filter output has no nulls in the required column") =
    Prop.forAllNoShrink(Gen.listOfN(30, Gen.option(Gen.alphaNumStr))) { xs =>
      val df = xs.map(o => Tuple1(o.orNull)).toDF("req")
      df.filter($"req".isNotNull).filter($"req".isNull).count() == 0L
    }

  private val vecs: Gen[(List[Double], List[Double])] = for {
    n <- Gen.chooseNum(1, 16)
    a <- Gen.listOfN(n, Gen.chooseNum(-100.0, 100.0))
    b <- Gen.listOfN(n, Gen.chooseNum(-100.0, 100.0))
  } yield (a, b)

  property("dot product is symmetric and l2 norm is non-negative") =
    Prop.forAllNoShrink(vecs) { case (a, b) =>
      import graft.functions.SketchExprs
      val df = Seq((a, b)).toDF("a", "b")
      val r = df.select(
        SketchExprs.dotProduct($"a", $"b").as("ab"),
        SketchExprs.dotProduct($"b", $"a").as("ba"),
        SketchExprs.l2Norm($"a").as("na")).collect()(0)
      // per-element multiplication commutes, so symmetry holds BITWISE
      java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)) && r.getDouble(2) >= 0.0
    }

  // Random (key, time) streams: duplicate keys, duplicate timestamps, keys
  // present on only one side — the degenerate shapes a merge-join as-of
  // implementation can get wrong at the boundaries.
  private val asofInputs = for {
    nl <- Gen.chooseNum(0, 25)
    nr <- Gen.chooseNum(0, 25)
    lks <- Gen.listOfN(nl, Gen.chooseNum(0L, 5L))
    lts <- Gen.listOfN(nl, Gen.chooseNum(0L, 40L))
    rks <- Gen.listOfN(nr, Gen.chooseNum(0L, 5L))
    rts <- Gen.listOfN(nr, Gen.chooseNum(0L, 40L))
  } yield (lks.zip(lts), rks.zip(rts))

  property("AsOfJoinExec equals a reference scan for arbitrary key/time streams") =
    Prop.forAllNoShrink(asofInputs) { case (ls, rs) =>
      val left = ls.zipWithIndex
        .map { case ((k, t), i) => (i.toLong, k, new java.sql.Timestamp(t * 1000)) }
        .toDF("lid", "k", "lt")
      val right = rs.map { case (k, t) => (k, new java.sql.Timestamp(t * 1000)) }
        .toDF("k", "rt")
      val got = graft.plans.AsOfJoinPlan
        .asofExec(left, right, Seq("k"), "lt", "rt", Seq("rt"))
        .select("lid", "rt").collect()
        .map(r => r.getLong(0) -> Option(r.getTimestamp(1)).map(_.getTime)).toMap
      // reference: independent per-left-row scan over the raw inputs
      val expected = ls.zipWithIndex.map { case ((k, t), i) =>
        val times = rs.collect { case (rk, rt) if rk == k && rt <= t => rt }
        i.toLong -> (if (times.isEmpty) None else Some(times.max * 1000))
      }.toMap
      got == expected
    }

  property("greedy tokenizer: count == tokens.length and tokens rebuild the words") =
    Prop.forAllNoShrink(for {
      words <- Gen.listOfN(8, Gen.identifier.suchThat(_.nonEmpty)).map(_.take(8))
      vocab <- Gen.listOfN(12, for {
        a <- Gen.alphaLowerChar; b <- Gen.alphaLowerChar
      } yield s"$a$b")
    } yield (words, vocab.distinct)) { case (words, vocab) =>
      import graft.functions.SubwordTokenizer
      val text = words.mkString(" ")
      val row = Seq(Tuple1(text)).toDF("t")
        .select(SubwordTokenizer.greedyTokenCount($"t", vocab).as("n"),
          SubwordTokenizer.greedyTokens($"t", vocab).as("toks"))
        .collect()(0)
      val n = row.getInt(0)
      val toks = row.getSeq[String](1)
      // the count IS the token list's length; tokenization is a
      // partition of each word (concatenating tokens rebuilds the text
      // minus spaces); every token is 1-2 chars and every 2-char token
      // is a vocab entry
      n == toks.length &&
        toks.mkString == words.mkString &&
        toks.forall(t => t.length == 1 || (t.length == 2 && vocab.contains(t)))
    }

  property("greedy tokenizer, MULTI-LENGTH vocab: longest match wins, scan equals a reference fold") =
    Prop.forAllNoShrink(for {
      words <- Gen.listOfN(8, Gen.identifier.suchThat(_.nonEmpty)).map(_.take(8))
      // variable-length entries (2..8 chars) drawn from a 3-letter
      // alphabet so words actually hit them, plus entries sliced from the
      // words themselves so longest-vs-prefix contention is guaranteed
      // (an "ab" prefix of an "abc" entry at the same position)
      rand <- Gen.listOfN(10, for {
        l <- Gen.chooseNum(2, 8)
        cs <- Gen.listOfN(l, Gen.oneOf('a', 'b', 'c'))
      } yield cs.mkString)
    } yield (words, rand)) { case (words, rand) =>
      import graft.functions.SubwordTokenizer
      val sliced = words.filter(_.length >= 3)
        .flatMap(w => Seq(w.take(2), w.take(3), w.substring(1, math.min(4, w.length))))
      val vocab = (rand ++ sliced).distinct.filter(_.length >= 2)
      val text = words.mkString(" ")
      val row = Seq(Tuple1(text)).toDF("t")
        .select(SubwordTokenizer.greedyTokenCount($"t", vocab).as("n"),
          SubwordTokenizer.greedyTokens($"t", vocab).as("toks"))
        .collect()(0)
      val n = row.getInt(0)
      val toks = row.getSeq[String](1)
      // independent reference scan: at each position take the longest
      // vocab entry that fits, else 1 char
      val vset = vocab.toSet
      def ref(w: String): List[String] = {
        def step(p: Int): List[String] =
          if (p >= w.length) Nil
          else {
            val l = (math.min(8, w.length - p) to 2 by -1)
              .find(k => vset.contains(w.substring(p, p + k))).getOrElse(1)
            w.substring(p, p + l) :: step(p + l)
          }
        step(0)
      }
      val expected = words.flatMap(ref)
      n == toks.length &&
        toks == expected &&
        toks.mkString == words.mkString &&
        toks.forall(t => t.length == 1 || vset.contains(t))
    }

  property("word n-gram generator emits max(0, words - n + 1) rows") =
    Prop.forAllNoShrink(for {
      words <- Gen.listOfN(6, Gen.identifier.suchThat(_.nonEmpty)).map(_.take(6))
      n <- Gen.chooseNum(1, 4)
    } yield (words, n)) { case (words, n) =>
      val text = words.mkString(" ")
      val rows = Seq(Tuple1(text)).toDF("text")
        .select(graft.functions.WordNgrams($"text", n).as(Seq("pos", "ngram")))
        .collect()
      rows.length == math.max(0, words.length - n + 1) &&
        rows.zipWithIndex.forall { case (r, i) => r.getInt(0) == i }
    }

  // SetUnionAgg.DistinctCount (st15's streaming COUNT(DISTINCT) stand-in):
  // the buffer is canonical (sorted distinct), so ANY partitioning of the
  // input multiset into partial buffers, merged in ANY order, must land on
  // the same buffer and final count — the property the streaming answer's
  // hash-exactness rides on. Null and empty inputs route through the
  // `when(kind === 'leak', srcs)` path by design and must contribute
  // nothing.
  private val setUnionInputs: Gen[List[Seq[String]]] =
    Gen.listOfN(24, Gen.oneOf(
      Gen.const(null: Seq[String]),
      Gen.const(Seq.empty[String]),
      Gen.listOfN(3, Gen.oneOf("cc", "wiki", "books", "code", "news", "cc")).map(_.toSeq)))

  property("SetUnionAgg: any partition/permutation merges to the same canonical buffer") =
    Prop.forAllNoShrink(for {
      xs <- setUnionInputs
      shuffled <- Gen.const(new scala.util.Random(xs.hashCode).shuffle(xs))
      cut1 <- Gen.chooseNum(0, xs.length)
      cut2 <- Gen.chooseNum(0, xs.length)
    } yield (xs, shuffled, cut1, cut2)) { case (xs, shuffled, cut1, cut2) =>
      val agg = new graft.functions.SetUnionAgg.DistinctCount
      def fold(part: List[Seq[String]]) = part.foldLeft(agg.zero)(agg.reduce)
      def run(order: List[Seq[String]], cut: Int) = {
        val (l, r) = order.splitAt(cut)
        agg.merge(fold(l), fold(r))
      }
      val a = run(xs, cut1)
      val b = run(shuffled, cut2)
      val c = agg.merge(run(shuffled, cut2), run(xs, cut1)) // merge is idempotent-union
      val expected = xs.filter(_ != null).flatten.distinct.sorted
      a.vals == expected && b.vals == expected && c.vals == expected &&
        agg.finish(a) == expected.length.toLong &&
        a.vals == a.vals.distinct.sorted // canonical: sorted distinct
    }
}
