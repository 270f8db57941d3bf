package graft

import graft.functions.ScalarFunctions._
import graft.operators.ProductMerge
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalacheck.Gen

/** Property-based tests (SURVEY.md §5.2): totality and invariants of the
  * cleaning functions on adversarial strings, and the merge fold's
  * algebraic properties. Properties are evaluated in batches through Spark
  * (one DataFrame per property, not one job per case). */
class PropertiesSpec extends SparkSuite {
  import spark.implicits._

  private val weird: Gen[String] = Gen.oneOf(
    Gen.alphaNumStr,
    Gen.asciiPrintableStr,
    Gen.listOf(Gen.oneOf('0', '9', ',', '.', ' ', 'D', 'H', '€', 'é', '!', '\t'))
      .map(_.mkString),
    Gen.const(""), Gen.const("NULL"), Gen.const("  "))

  private def sample(n: Int): Seq[String] =
    Gen.listOfN(n, weird).sample.getOrElse(Seq.fill(n)("x"))

  test("property: BrandMapLookup is bit-identical to the WHEN-chain + py-title formulation") {
    // the native expression replaced a 22-deep CASE (codegen blowup);
    // this pins equality on adversarial strings including unicode,
    // multi-word/punctuated fallbacks, and sentinel-adjacent values.
    // The fallback is Python str.title() (every reference fallback is
    // `brand_str.title()`): title-case after any non-cased char, here as
    // an independent per-char UDF formulation
    val pyTitle = udf((s: String) => {
      val sb = new StringBuilder
      var prevCased = false
      for (ch <- s) {
        sb.append(if (prevCased) ch else Character.toTitleCase(ch))
        prevCased = Character.isUpperCase(ch) || Character.isLowerCase(ch) ||
          Character.isTitleCase(ch)
      }
      sb.toString
    })
    val chainy: org.apache.spark.sql.Column = {
      val c = col("v")
      val lc = lower(trim(c))
      val mapped = BrandMap.foldRight(pyTitle(lower(trim(c))): org.apache.spark.sql.Column) {
        case ((key, canon), fb) => when(lc.contains(key), lit(canon)).otherwise(fb)
      }
      when(!isPresent(c), lit("Unknown")).otherwise(mapped)
    }
    val extra = Seq("HONOR x", "moto G", "weird brand two words", "éclair brand",
      " spaced  words ", "galaxy\ttab", "LG", "lg", "my.jumia.ma", "l8star",
      "a-b c_d", "3com phones", null)
    val inputs = (sample(400) ++ extra).map(Option(_))
    val out = inputs.toDF("v")
      .select(normalizeBrand(col("v")).as("native"), chainy.as("chain"))
      .collect()
    out.zip(inputs).foreach { case (r, in) =>
      assert(r.get(0) == r.get(1), s"normalizeBrand(${in}) native=${r.get(0)} chain=${r.get(1)}")
    }
  }

  test("property: termCounts tf sums to the token count, terms distinct") {
    import graft.functions.TextFunctions
    val inputs = (sample(400) ++ Seq("a a a", "é ü ñ", "ONE one OnE", null)).map(Option(_))
    val out = inputs.toDF("v")
      .select(TextFunctions.tokenCount(col("v")).as("n"),
        graft.functions.NativeTextColumns.termCounts(col("v")).as("tc"))
      .collect()
    out.zip(inputs).foreach { case (r, in) =>
      if (in.isDefined) {
        val tcs = r.getSeq[Row](1)
        assert(tcs.map(_.getLong(1)).sum == r.getInt(0).toLong,
          s"tf sum != token count for $in")
        val terms = tcs.map(_.getString(0))
        assert(terms.distinct.length == terms.length, s"duplicate terms for $in")
      }
    }
  }

  test("property: price parsers are total, non-negative, finite") {
    val inputs = sample(500)
    val out = inputs.map(Option(_)).toDF("v")
      .select(cleanPrice(col("v")).as("p1"), extractPriceFixed(col("v")).as("p2"))
      .collect()
    out.foreach { r =>
      assert(!r.isNullAt(0) && r.getDouble(0) >= 0.0 && !r.getDouble(0).isNaN)
      assert(!r.isNullAt(1) && r.getDouble(1) >= 0.0 && !r.getDouble(1).isNaN)
    }
  }

  test("property: product ids are always lowercase slug charset, never null") {
    val inputs = sample(300).grouped(3).filter(_.size == 3).toSeq
    val out = inputs.map { case Seq(b, m, t) => (Option(b), Option(m), Option(t)) }
      .toDF("b", "m", "t")
      .select(productId(col("b"), col("m"), col("t")).as("id"))
      .collect()
    out.foreach { r =>
      assert(!r.isNullAt(0))
      assert(r.getString(0).matches("[a-z0-9_]*"), s"bad id '${r.getString(0)}'")
    }
  }

  test("property: brand normalization and condition mapping are total") {
    val out = sample(400).map(Option(_)).toDF("v")
      .select(normalizeBrand(col("v")).as("b"), determineCondition(col("v")).as("c"))
      .collect()
    val conditions = Set("new", "used", "good", "fair", "poor", "like new", "refurbished")
    out.foreach { r =>
      assert(!r.isNullAt(0) && r.getString(0).nonEmpty)
      assert(conditions.contains(r.getString(1)))
    }
  }

  test("property: merging a dataset with itself adds no products (idempotence)") {
    val rows = (1 to 30).map { i =>
      Row(s"p_$i", "B", "M", s"name $i", "Smartphone", Map("k" -> s"$i"),
        Seq(Row("Avito", i.toDouble, null, "MAD", "new", null, null, null,
          null, null, s"u$i", null, s"t$i")),
        Seq("Avito"), "t0", "t0")
    }
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3),
      graft.schema.Schemas.productStruct)
    val once = ProductMerge.merge(df)
    val selfUnion = ProductMerge.merge(df.unionByName(df))
    assert(once.count() == selfUnion.count())
    // per-product (source,url) dedup collapses the duplicated offers
    val offersCounts = selfUnion.select(size(col("offers")).as("n")).collect()
    offersCounts.foreach(r => assert(r.getInt(0) == 1))
  }

  test("property: merge output is independent of input partitioning") {
    val rows = (1 to 40).map { i =>
      Row(s"p_${i % 10}", "B", "M", s"name $i", "Smartphone", Map("k" -> s"$i"),
        Seq(Row(if (i % 2 == 0) "Avito" else "Jumia", i.toDouble, null, "MAD",
          "new", null, null, null, null, null, s"u$i", null, s"t$i")),
        Seq(if (i % 2 == 0) "Avito" else "Jumia"), "t0", "t0")
    }
    def mergedWith(parts: Int): Seq[(String, String, Seq[Double])] =
      ProductMerge.merge(spark.createDataFrame(
          spark.sparkContext.parallelize(rows, parts),
          graft.schema.Schemas.productStruct))
        .collect()
        .map { r =>
          (r.getAs[String]("product_id"), r.getAs[String]("product_name"),
            r.getSeq[Row](r.fieldIndex("offers")).map(_.getDouble(1)))
        }
        .sortBy(_._1).toSeq
    assert(mergedWith(1) == mergedWith(7))
  }

  test("property: prefix-filtered jaccard equals the counting formulation " +
      "on random corpora at random thresholds") {
    // a small vocabulary forces real overlap structure (shared grams,
    // capped stop-grams, ties); larger alphabets only produce disjoint sets
    val vocab = Vector("a", "b", "c", "d", "e", "f")
    val docGen = Gen.chooseNum(1, 12).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(vocab)).map(_.mkString(" ")))
    val texts = Gen.listOfN(60, docGen).sample.get
    val corpus = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text").withColumn("blk", lit("all"))
    // 0.79998 / 0.80002 (and 0.49998 / 0.50002) straddle a 4-decimal
    // boundary: j = 4/5 (1/2) is kept at the first and dropped at the second
    for (t <- Seq(0.15, 0.5, 0.85, 0.49998, 0.50002, 0.79998, 0.80002)) {
      val counting = graft.operators.Dedup
        .ngramJaccardPairs(corpus, "text", "doc_id", "blk", 2, t, maxDf = 20)
        .collect().map(_.toSeq).toSet
      val prefixed = graft.operators.Dedup
        .prefixJaccardPairs(corpus, "text", "doc_id", "blk", 2, t, maxDf = 20)
        .collect().map(_.toSeq).toSet
      assert(prefixed == counting, s"prefix filter diverged at t=$t on corpus " +
        texts.mkString("Seq(\"", "\", \"", "\")"))
    }
  }

  test("property: repetitionStats matches a direct reimplementation on adversarial strings") {
    def expected(s: String): (Int, Int, Int, Int) = {
      val toks = s.toLowerCase.map(c =>
          if (c.isLetterOrDigit && c < 128) c else ' ')
        .mkString.split(" +").filter(_.nonEmpty).toSeq
      val bgs = if (toks.length <= 2) Seq(toks.mkString(" "))
        else toks.sliding(2).map(_.mkString(" ")).toSeq
      val top = bgs.groupBy(identity).values.map(_.size).max
      (toks.length, toks.length - toks.distinct.length, top, bgs.length)
    }
    val inputs = (sample(300) ++ Seq("a a a", "x", "", "  ", "a\tb a\tb")).distinct
    val got = inputs.toDF("v")
      .select(col("v"), graft.functions.TextStats.repetitionStats(col("v")).as("st"))
      .select(col("v"), col("st.n_tok"), col("st.dup_tok"),
        col("st.top_bigram"), col("st.n_bigrams"))
      .collect()
    got.foreach { r =>
      val in = r.getString(0)
      val exp = expected(in)
      val act = (r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4))
      assert(act == exp, s"repetitionStats(${in.take(40)}) = $act, expected $exp")
    }
  }

  test("property: incremental near-dedup agrees with the symmetric join restricted cross-side") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .where(length(graft.functions.TextFunctions.normalizeText(col("text"))) > 0)
    val hist = d.where(col("doc_id") % 2 === 0)
    val inc = d.where(col("doc_id") % 2 === 1)
    val incremental = graft.operators.Dedup.incrementalNearDup(hist, inc,
        "text", "doc_id", bands = 4, rowsPerBand = 2, threshold = 0.2, shingleN = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // symmetric pairs over the union, keep cross-parity, best per new id
    val sym = graft.operators.Dedup.minhashNearDup(d, "text", "doc_id",
        bands = 4, rowsPerBand = 2, threshold = 0.2, shingleN = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val cross = sym.flatMap { case (a, b, j) =>
      if (a % 2 == 1 && b % 2 == 0) Some((a, b, j))
      else if (b % 2 == 1 && a % 2 == 0) Some((b, a, j))
      else None
    }
    val best = cross.groupBy(_._1).map { case (_, ms) =>
      ms.minBy(m => (-m._3, m._2))
    }.toSet
    // caps don't bind at this scale, so the two formulations must agree
    assert(incremental == best)
    assert(incremental.nonEmpty)
  }

  test("property: per-key cap selects the same rows under any input partitioning") {
    val rows = (1L to 200L).map(i => (i, s"k${i % 3}"))
    def capped(parts: Int): Seq[(Long, String, Int)] =
      graft.operators.Sampling.capPerKey(
          spark.createDataFrame(rows).toDF("id", "key").repartition(parts),
          "key", "id", 7)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
        .sortBy(_._1).toSeq
    assert(capped(1) == capped(13))
  }
}
