package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Pins the two-phase tokenBudgetSelect (bucket histogram → driver
  * cutoff → boundary-bucket window) to an INDEPENDENT reference: the
  * prefix computed in plain Scala from collected rows (sort by
  * quality desc nulls-last, id asc; cumulative token filter). The
  * reference deliberately avoids Spark's window machinery so the spec
  * can't share a bug with either spelling — and the suite never runs
  * a global single-partition window. */
class CurationSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** (id, text with exactly `toks` tokens, quality or null). */
  private def corpus(rows: Seq[(Long, Int, Option[Double])]) = {
    import spark.implicits._
    rows.map { case (id, toks, q) =>
      (id, Seq.fill(toks)("w").mkString(" "), q)
    }.toDF("doc_id", "text", "q")
  }

  /** The definition, computed off-Spark: maximal (quality desc, id)
    * prefix whose token sum stays within budget. */
  private def reference(
      rows: Seq[(Long, Int, Option[Double])], budget: Long): Set[Long] = {
    val sorted = rows.sortBy { case (id, _, q) =>
      (q.isEmpty, q.map(-_).getOrElse(0.0), id)
    }
    var cum = 0L
    val kept = Seq.newBuilder[Long]
    sorted.foreach { case (id, toks, _) =>
      cum += toks
      if (cum <= budget) kept += id
    }
    kept.result().toSet
  }

  private def run(
      rows: Seq[(Long, Int, Option[Double])], budget: Long,
      numBuckets: Int,
      range: Option[(Double, Double)] = None): Set[Long] =
    Curation.tokenBudgetSelect(
      corpus(rows), "doc_id", "text", budget, col("q"),
      numBuckets = numBuckets, qualityRange = range)
      .select("doc_id").collect().map(_.getLong(0)).toSet

  test("two-phase == reference on a random tie-heavy corpus, all bucket counts") {
    val rnd = new scala.util.Random(7)
    // qualities rounded to one decimal => heavy tie buckets; ~10% null
    val rows = (0L until 400L).map { id =>
      val q = if (rnd.nextInt(10) == 0) None
        else Some(math.floor(rnd.nextDouble() * 10.0) / 10.0)
      (id, rnd.nextInt(40), q)
    }
    val totalToks = rows.map(_._2.toLong).sum
    for (budget <- Seq(0L, 17L, totalToks / 10, totalToks / 2, totalToks, totalToks + 1);
         buckets <- Seq(1, 7, 256)) {
      assert(run(rows, budget, buckets) == reference(rows, budget),
        s"budget=$budget buckets=$buckets")
    }
    // caller-supplied range (skips the min/max scan) — including a
    // deliberately NARROW range: out-of-range values clamp into the
    // end buckets, bucketing stays monotone, result unchanged
    for (range <- Seq(Some((0.0, 1.0)), Some((0.3, 0.6)))) {
      val budget = totalToks / 3
      assert(run(rows, budget, 64, range) == reference(rows, budget),
        s"range=$range")
    }
  }

  test("all qualities equal: id-order prefix, exact boundary") {
    val rows = (0L until 50L).map(id => (id, 10, Some(0.5)))
    // budget lands exactly between docs: ids 0..19 fit 200 tokens
    assert(run(rows, 200L, 16) == (0L until 20L).toSet)
    // mid-doc budget keeps only the full docs before it
    assert(run(rows, 205L, 16) == (0L until 20L).toSet)
  }

  test("all qualities null: id-order prefix through the sentinel bucket") {
    val rows = (0L until 30L).map(id => (id, 5, None: Option[Double]))
    assert(run(rows, 26L, 8) == (0L until 5L).toSet)
  }

  test("empty input and zero-token docs") {
    assert(run(Seq.empty, 100L, 8) == Set.empty[Long])
    // zero-token docs ride along for free wherever the prefix reaches
    val rows = Seq((0L, 0, Some(0.9)), (1L, 10, Some(0.5)), (2L, 0, Some(0.1)))
    assert(run(rows, 10L, 8) == Set(0L, 1L, 2L))
    assert(run(rows, 9L, 8) == Set(0L))
  }

  test("null text counts 0 tokens — consistent wherever the cutoff lands") {
    import spark.implicits._
    val docs = Seq(
      (0L, Some("three tokens here"), 0.9),
      (1L, None: Option[String], 0.7), // null text, mid-order
      (2L, Some("two tokens"), 0.5)
    ).toDF("doc_id", "text", "q")
    def kept(budget: Long) = Curation.tokenBudgetSelect(
      docs, "doc_id", "text", budget, col("q"), numBuckets = 4)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept(5L) == Set(0L, 1L, 2L)) // 3 + 0 + 2 tokens
    assert(kept(4L) == Set(0L, 1L))     // null doc rides free
    assert(kept(2L) == Set.empty[Long]) // first doc already overflows
  }

  // ----- capPerGroup -----

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** The definition: per-group md5(salt|id) hash-order prefix of
    * length cap. */
  private def capRef(
      rows: Seq[(Long, String)], cap: Int): Set[Long] =
    rows.groupBy(_._2).values.flatMap { grp =>
      grp.sortBy { case (id, _) => (md5hex(s"graft|$id"), id) }
        .take(cap).map(_._1)
    }.toSet

  test("capPerGroup == naive per-group window reference; skewed groups") {
    import spark.implicits._
    // one giant group (200), one exactly-at-cap (5), one tiny (2)
    val rows = (0 until 200).map(i => (i.toLong, "big")) ++
      (300 until 305).map(i => (i.toLong, "atcap")) ++
      (400 until 402).map(i => (i.toLong, "tiny"))
    val df = rows.toDF("doc_id", "source")
    for (parts <- Seq(1, 8)) {
      val kept = Curation.capPerGroup(
        df.repartition(parts), "doc_id", "source", cap = 5)
        .select("doc_id").as[Long].collect().toSet
      assert(kept == capRef(rows, 5), s"parts=$parts")
    }
    // group sizes after the cap
    val counts = Curation.capPerGroup(df, "doc_id", "source", 5)
      .groupBy("source").count().as[(String, Long)].collect().toMap
    assert(counts == Map("big" -> 5L, "atcap" -> 5L, "tiny" -> 2L))
  }

  test("filterAttrition: first-fail attribution, conservation, null predicates") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // v=1 fails s1; v=2 fails s1 AND s2 (charged to s1 only);
    // v=3 fails s2; v=4 passes; v=null makes s1's predicate NULL
    // (must not fire) and then fails s2
    val df = Seq[java.lang.Long](1L, 2L, 2L, 3L, 4L, null)
      .toDF("v").repartition(7)
    val got = Curation.filterAttrition(df, Seq(
      "s1" -> (col("v") <= 2),
      "s2" -> (col("v").isNull || col("v") === 3)))
      .as[(Long, String, Long, Long, Double)].collect()
      .sortBy(_._1).toSeq
    assert(got == Seq(
      (0L, "input", 0L, 6L, 0.0),
      (1L, "s1", 3L, 3L, 0.5),
      (2L, "s2", 2L, 1L, 2.0 / 6.0)))
    // conservation: eliminated sum + final remaining == input
    assert(got.map(_._3).sum + got.last._4 == 6L)
    // a predicate evaluating to NULL falls through, not fires:
    // the null row must NOT be charged to s1
    val s1Only = Curation.filterAttrition(df, Seq("s1" -> (col("v") <= 2)))
      .as[(Long, String, Long, Long, Double)].collect().sortBy(_._1)
    assert(s1Only.last == (1L, "s1", 3L, 3L, 0.5))
    // guards: empty stages, duplicate names, reserved 'input'
    intercept[IllegalArgumentException] {
      Curation.filterAttrition(df, Seq.empty)
    }
    intercept[IllegalArgumentException] {
      Curation.filterAttrition(df, Seq("a" -> lit(true), "a" -> lit(false)))
    }
    intercept[IllegalArgumentException] {
      Curation.filterAttrition(df, Seq("input" -> lit(true)))
    }
  }

  test("filterAttrition == sequential filter chain on random data") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rows = (0 until 2000).map(i => (i.toLong, i % 17, i % 5))
    val df = rows.toDF("id", "a", "b").repartition(13)
    val stages = Seq(
      "p1" -> (col("a") > 12),
      "p2" -> (col("b") === 2),
      "p3" -> (col("a") % 2 === 0))
    val got = Curation.filterAttrition(df, stages)
      .as[(Long, String, Long, Long, Double)].collect().sortBy(_._1).toSeq
    // reference: actually run the sequential filter chain
    var rem = rows
    val expected = scala.collection.mutable.ArrayBuffer(
      (0L, "input", 0L, rows.size.toLong, 0.0))
    val preds: Seq[((Long, Int, Int)) => Boolean] = Seq(
      r => r._2 > 12, r => r._3 == 2, r => r._2 % 2 == 0)
    stages.zip(preds).zipWithIndex.foreach { case (((name, _), p), i) =>
      val (out, in) = rem.partition(p)
      rem = in
      expected += ((i + 1L, name, out.size.toLong, in.size.toLong,
        out.size.toDouble / rows.size))
    }
    assert(got == expected.toSeq)
  }

  test("capPerGroup edges: cap 0, cap >= all, reserved columns") {
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("doc_id", "source")
    assert(Curation.capPerGroup(df, "doc_id", "source", 0).count() == 0L)
    assert(Curation.capPerGroup(df, "doc_id", "source", 99).count() == 3L)
    val clash = df.withColumn("_rk", org.apache.spark.sql.functions.lit(1))
    val e = intercept[IllegalArgumentException] {
      Curation.capPerGroup(clash, "doc_id", "source", 1)
    }
    assert(e.getMessage.contains("reserved"))
  }

  test("topPCoverage: nucleus takes the first prefix crossing p; ties by item") {
    import spark.implicits._
    // lang L: masses s1=50, s2=30, s3=15, s4=5 (total 100)
    // p=80: thr=80; cum_before: s1=0, s2=50, s3=80 (NOT < 80), s4=95
    // -> nucleus = {s1, s2}; the boundary item s3 is excluded exactly
    val rows = Seq(("L", "s1", 50L), ("L", "s2", 30L), ("L", "s3", 15L),
      ("L", "s4", 5L), ("M", "t1", 7L), ("M", "t2", 7L))
    val df = rows.toDF("lang", "source", "toks")
    val got = Curation.topPCoverage(df, "lang", "source", "toks", 80)
      .orderBy("lang", "source")
      .as[(String, String, Long, Long, Boolean)].collect().toSeq
    assert(got.filter(_._1 == "L").map(r => r._2 -> r._5).toMap ==
      Map("s1" -> true, "s2" -> true, "s3" -> false, "s4" -> false))
    // M: tie at 7 — cum order is (t1, t2) by item asc; thr =
    // ceil(80*14/100) = 12; cum_before(t1)=0 in, cum_before(t2)=7 in
    assert(got.filter(_._1 == "M").forall(_._5))
    // p=100 keeps every item
    val all = Curation.topPCoverage(df, "lang", "source", "toks", 100)
    assert(all.filter(col("in_nucleus")).count() == 6L)
    // masses aggregate per (group, item) before the cumsum
    val split = (rows ++ rows).toDF("lang", "source", "toks")
    val agg = Curation.topPCoverage(split, "lang", "source", "toks", 80)
      .filter(col("lang") === "L").orderBy("source")
      .as[(String, String, Long, Long, Boolean)].collect().toSeq
    assert(agg.map(_._3) == Seq(100L, 60L, 30L, 10L))
    assert(agg.map(_._5) == Seq(true, true, false, false))
    intercept[IllegalArgumentException] {
      Curation.topPCoverage(df, "lang", "source", "toks", 0)
    }
    val e2 = intercept[IllegalArgumentException] {
      Curation.topPCoverage(
        Seq(("L", "s", 1.0)).toDF("lang", "source", "toks"),
        "lang", "source", "toks", 50)
    }
    assert(e2.getMessage.contains("integral"))
  }

  test("filterOverlap: hand masks, zero cells, null-as-unfired") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq(
      (1L, 10L, true), // a only (bit0: x < 20)
      (2L, 30L, true), // neither numeric flag; b fires
      (3L, 10L, false), // a only
      (4L, 50L, false) // none
    ).toDF("id", "x", "b")
    val out = Curation.filterOverlap(df, Seq(
      "small" -> (col("x") < 20L),
      "flagged" -> (col("b") === true)))
      .collect()
      .map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out.size == 4) // full 2^2 grid
    assert(out(0L) == (("", 1L, 0.25))) // id 4
    assert(out(1L) == (("small", 1L, 0.25))) // id 3
    assert(out(2L) == (("flagged", 1L, 0.25))) // id 2
    assert(out(3L) == (("small,flagged", 1L, 0.25))) // id 1
    // null flag values count as not fired
    val withNull = Seq((1L, Some(true)), (2L, Option.empty[Boolean]))
      .toDF("id", "b")
    val n = Curation.filterOverlap(withNull,
      Seq("f" -> col("b")))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(n == Map(0L -> 1L, 1L -> 1L))
    intercept[IllegalArgumentException] {
      Curation.filterOverlap(df, Seq.empty)
    }
    intercept[IllegalArgumentException] {
      Curation.filterOverlap(df,
        Seq("a" -> lit(true), "a" -> lit(false)))
    }
  }

  test("reliabilityTable: hand cells, 1.0 in the top cell, exact " +
      "boundary binning, zero cells materialize, loud range") {
    import spark.implicits._
    val df = Seq(
      (0.05, false), (0.05, true), // bin 0
      (0.10, false),               // exactly 0.1 -> bin 1, not 0
      (0.95, true), (1.00, true))  // bin 9 (1.0 clamps to top)
      .toDF("score", "y")
    val out = Curation.reliabilityTable(df, "score", col("y"),
      bins = 10)
      .orderBy("bin")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(3), r.getLong(4),
          if (r.isNullAt(5)) None else Some(r.getDouble(5)),
          if (r.isNullAt(6)) None else Some(r.getDouble(6)),
          if (r.isNullAt(7)) None else Some(r.getDouble(7)))).toMap
    assert(out.size == 10) // full grid, zero cells included
    assert(out(0L) == ((2L, 1L, Some(0.5), Some(0.05), Some(0.45))))
    assert(out(1L) == ((1L, 0L, Some(0.0), Some(0.1), Some(-0.1))))
    assert(out(9L) == ((2L, 2L, Some(1.0), Some(0.975), Some(0.025))))
    assert(out(5L) == ((0L, 0L, None, None, None)))
    // null score or label rows drop; out-of-range fails loudly
    val withNull = df.union(
      spark.sql("SELECT CAST(NULL AS DOUBLE) AS score, true AS y"))
    assert(Curation.reliabilityTable(withNull, "score", col("y"))
      .agg(org.apache.spark.sql.functions.sum("n")).head().getLong(0)
      == 5L)
    val e = intercept[IllegalArgumentException] {
      Curation.reliabilityTable(
        Seq((1.5, true)).toDF("score", "y"), "score", col("y"))
    }
    assert(e.getMessage.contains("outside"))
    intercept[IllegalArgumentException] {
      Curation.reliabilityTable(df, "score", col("y"), bins = 1)
    }
  }

  test("gopherGate: each rule kills exactly its target doc; " +
      "signals exact; empty doc defines ratios as 0") {
    import spark.implicits._
    def doc(ws: Seq[String]) = ws.mkString(" ")
    val clean = Seq("the", "of") ++ (1 to 33).map(i => f"word$i%02d")
    val spam = Seq("the", "of") ++ Seq.fill(20)(Seq("spam", "ham")).flatten
    val nums = Seq("the", "be") ++ (1000 until 1030).map(_.toString)
    val noStop = (1 to 30).map(i => f"token$i%02d")
    val longW = Seq("the", "be") ++ (1 to 30).map(i => f"abcdefghij$i%02d")
    val docs = Seq(
      1L -> doc(clean), // passes all
      2L -> doc(clean.take(10)), // too short
      3L -> doc(spam), // repeated phrase: dup2 + top2
      4L -> doc(nums), // numeric: alpha
      5L -> doc(noStop), // no required stopwords
      6L -> doc(longW), // mean word length over band
      7L -> "").toDF("doc_id", "text")
    val out = Curation.gopherGate(docs, "doc_id", "text",
        minWords = 30L, maxWords = 100000L,
        minMeanWordLen = 3.0, maxMeanWordLen = 10.0,
        minAlphaFrac = 0.8, minStopHits = 2,
        maxDup2Frac = 0.2, maxTop2Frac = 0.2)
      .collect().map(r => r.getLong(0) -> r).toMap
    def rules(id: Long): Seq[Boolean] =
      (7 to 12).map(i => out(id).getBoolean(i))
    assert(out(1L).getBoolean(13) && rules(1L).forall(identity))
    assert(rules(2L) == Seq(false, true, true, true, true, true))
    // spam doc: 42 words, 41 grams, 4 distinct, top gram 20x
    assert(out(3L).getLong(1) == 42L)
    assert(out(3L).getDouble(5) == 1.0 - 4.0 / 41.0)
    assert(out(3L).getDouble(6) == 20.0 / 41.0)
    assert(rules(3L) == Seq(true, true, true, true, false, false))
    assert(out(4L).getDouble(3) == 2.0 / 32.0)
    assert(rules(4L) == Seq(true, true, false, true, true, true))
    assert(out(5L).getLong(4) == 0L)
    assert(rules(5L) == Seq(true, true, true, false, true, true))
    assert(out(6L).getDouble(2) > 10.0)
    assert(rules(6L) == Seq(true, false, true, true, true, true))
    val empty = out(7L)
    assert(empty.getLong(1) == 0L && empty.getDouble(2) == 0.0 &&
      empty.getDouble(3) == 0.0 && empty.getDouble(5) == 0.0 &&
      empty.getDouble(6) == 0.0 && !empty.getBoolean(13))
    assert((2L to 7L).forall(id => !out(id).getBoolean(13)))
    intercept[IllegalArgumentException] {
      Curation.gopherGate(docs, "doc_id", "text",
        minWords = 10L, maxWords = 5L)
    }
  }

  test("tokenBudgetSelect reads its input once and caches nothing") {
    import spark.implicits._
    val rows = (0L until 200L).map(id => (id, (id % 17).toInt, Some((id % 7) / 7.0)))
    val budget = 300L // well inside the corpus: the boundary-bucket cut runs
    spark.catalog.clearCache()
    for (range <- Seq(None, Some((0.0, 1.0)))) {
      val calls = spark.sparkContext.longAccumulator("quality evaluations")
      val counted = udf { (q: java.lang.Double) => calls.add(1L); q }
      val kept = Curation.tokenBudgetSelect(
        corpus(rows), "doc_id", "text", budget, counted(col("q")),
        numBuckets = 8, qualityRange = range)
        .select("doc_id").as[Long].collect().toSet
      assert(kept == reference(rows, budget))
      assert(calls.value == rows.size.toLong,
        s"quality evaluated ${calls.value} times for ${rows.size} rows (range $range)")
    }
    assert(spark.sharedState.cacheManager.isEmpty,
      "tokenBudgetSelect registered a CacheManager entry")
  }
}
