package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Dataset-assembly operators: the last mile of a training-data
  * pipeline, where a cleaned corpus is cut to a token budget. */
object Curation {

  /** Quality-first token-budget selection: order documents by
    * (quality DESC, id ASC — a total order), keep the maximal prefix
    * whose cumulative token count stays within `budget`.
    *
    * TWO-PHASE PLAN (the 100 TB spelling — a naive global cumulative
    * window moves the whole corpus to ONE partition; this never
    * sorts more than one bucket):
    *
    *   1. Bucket the quality range into `numBuckets` equal-width
    *      slices (bucketing is monotone: higher quality ⇒ lower
    *      bucket id; EQUAL quality ⇒ SAME bucket, so no tie group is
    *      ever split across the boundary). One aggregate pass yields
    *      the per-bucket token totals — ≤ numBuckets+2 rows to the
    *      driver.
    *   2. The driver prefix-sums the totals in bucket order and
    *      finds the BOUNDARY bucket — the first whose cumulative
    *      total exceeds the budget. Everything before it fits
    *      entirely; everything after it is entirely out.
    *   3. One parallel filter keeps the earlier buckets verbatim;
    *      the exact cumulative window runs over the boundary bucket
    *      ONLY (expected corpus/numBuckets rows) with the budget
    *      reduced by the tokens already consumed.
    *
    * The scored input is materialized ONCE (a local checkpoint), so
    * the caller's lineage and `quality` run once per row however many
    * of the phases read it (CurationSpec counts the evaluations).
    *
    * Null qualities sort after everything (the `quality.desc` window
    * order is desc_nulls_last) and get the sentinel bucket past the
    * end. Semantics are identical to the one-window spelling —
    * CurationSpec pins equality against an independently computed
    * reference on random corpora including tie-heavy ones — and the
    * DuckDB oracle (q69) recomputes the same prefix with its own
    * global window. */
  def tokenBudgetSelect(
      df: DataFrame,
      idCol: String,
      textCol: String,
      budget: Long,
      quality: Column,
      numBuckets: Int = 256,
      qualityRange: Option[(Double, Double)] = None): DataFrame = {
    require(numBuckets > 0, "numBuckets must be positive")
    // null text counts 0 tokens and rides free — WITHOUT the coalesce
    // a NULL count would poison the histogram and the cumulative sum
    // differently (kept in a pre-boundary bucket, dropped by the
    // NULL-valued cum filter in the boundary bucket), making survival
    // depend on where the cutoff lands.
    // The range aggregate, the histogram and the cut are separate
    // actions; materialized once here, they read these blocks instead
    // of each re-running the caller's lineage and quality expression.
    // localCheckpoint registers nothing with the CacheManager, and its
    // blocks go when the returned frame does.
    val toks = df
      .withColumn("_toks",
        coalesce(TextFunctions.tokenCount(col(textCol)), lit(0L)))
      .withColumn("_q", quality.cast("double"))
      .localCheckpoint(eager = true)
    // phase 1: quality range. When the caller KNOWS the score's range
    // (bounded scores like qualityScore's [0,1] usually do), pass it
    // and this scan is skipped — out-of-range values clamp into the
    // end buckets, which keeps bucketing monotone, just lopsided.
    // Otherwise one tiny aggregate finds it (min/max ignore nulls;
    // all-null quality degenerates to the sentinel bucket).
    val (qmin, qmax) = qualityRange match {
      case Some((lo, hi)) =>
        require(lo <= hi, s"qualityRange lo $lo > hi $hi")
        (lo, hi)
      case None =>
        val mm = toks.agg(min(col("_q")), max(col("_q"))).head()
        if (mm.isNullAt(0)) (0.0, 0.0)
        else (mm.getDouble(0), mm.getDouble(1))
    }
    val width = (qmax - qmin) / numBuckets
    val nullBkt = numBuckets.toLong // sentinel: after every real bucket
    val bkt =
      when(col("_q").isNull, lit(nullBkt))
        .otherwise(
          if (width == 0.0) lit(0L) // all qualities equal
          else greatest(lit(0L), least(
            floor((lit(qmax) - col("_q")) / lit(width)).cast("long"),
            lit(numBuckets - 1L))))
    val bucketed = toks.withColumn("_bkt", bkt)
    val hist = bucketed.groupBy("_bkt")
      .agg(sum(col("_toks")).as("_btoks"))
      .collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) 0L else r.getLong(1)))
      .sortBy(_._1)
    // phase 2: driver-side prefix scan for the boundary bucket
    var consumed = 0L
    var boundary = -1L
    var boundaryOffset = 0L
    val it = hist.iterator
    while (boundary < 0 && it.hasNext) {
      val (b, t) = it.next()
      if (consumed + t > budget) { boundary = b; boundaryOffset = consumed }
      else consumed += t
    }
    val out =
      if (boundary < 0) bucketed // the whole corpus fits
      else {
        // phase 3, ONE scan: drop the buckets past the boundary, run
        // the per-bucket cumulative window (each bucket is its own
        // partition — parallel and bounded, never the global
        // single-partition window), and keep pre-boundary buckets
        // unconditionally + the boundary bucket's in-budget prefix.
        // The window sum over the pre-boundary buckets is redundant
        // work, but it is cheaper than a second scan re-evaluating
        // the caller's quality expression for a separate
        // "whole buckets" branch.
        val w = Window.partitionBy("_bkt")
          .orderBy(col("_q").desc, col(idCol))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        bucketed.filter(col("_bkt") <= boundary)
          .withColumn("_cum", sum(col("_toks")).over(w))
          .filter(col("_bkt") < boundary ||
            col("_cum") <= budget - boundaryOffset)
          .drop("_cum")
      }
    out.drop("_toks", "_q", "_bkt")
  }

  /** Per-group quality-quantile selection (the FineWeb-style cut):
    * within each group keep the best `frac` of rows by `scoreCol`,
    * ties broken by id so the kept set is a total-order prefix —
    * deterministic under retries and bitwise reproducible by any
    * engine with window rank (the q75 oracle). Rank-based (count
    * thresholds, ceil(frac·n) kept per group), NOT percent_rank —
    * identical semantics, but integer math end to end.
    *
    * One shuffle on the group key; the window is a per-group sort.
    * Unlike the global cumulative window [[tokenBudgetSelect]]
    * replaced, this window already partitions by the group key — the
    * sorts are parallel and bounded by group size at any corpus
    * scale, so per-group score histograms + a driver threshold would
    * be an optimization here, not a survival requirement. */
  def topQuantilePerGroup(
      df: DataFrame,
      idCol: String,
      groupCol: String,
      scoreCol: Column,
      frac: Double): DataFrame = {
    require(frac > 0.0 && frac <= 1.0, "frac must be in (0, 1]")
    val w = Window.partitionBy(groupCol)
      .orderBy(scoreCol.desc, col(idCol))
    val wc = Window.partitionBy(groupCol)
    df.withColumn("_rk", row_number().over(w))
      .withColumn("_n", count(lit(1)).over(wc))
      .filter(col("_rk") <= ceil(lit(frac) * col("_n")).cast("long"))
      .drop("_rk", "_n")
  }

  /** Per-group row capping — the Common-Crawl-style DOMAIN CAP: no
    * source/domain/template may contribute more than `cap` rows,
    * selection deterministic in md5(salt|id) hash order so retries
    * and engines agree on the kept set.
    *
    * Built for UNBOUNDED group cardinality (domains number in the
    * millions at crawl scale), so unlike [[Sampling.epochMixture]]'s
    * driver prefix scan there is NO driver state: rows bucket by
    * their md5's first byte (256 order-consistent prefix ranges of
    * the hash order), per-(group, bucket) counts aggregate
    * distributedly, and each bucket learns its group-prefix offset
    * from a window over AT MOST 256 rows per group. Rows whose whole
    * bucket starts at or past the cap are dropped BEFORE the
    * per-(group, bucket) rank window, so only ~cap rows per group
    * ever reach a sort — a 10-million-row domain costs what a
    * cap-row domain costs, plus one count pass. Bitwise the naive
    * per-group global window by prefix-sum decomposition. */
  def capPerGroup(
      df: DataFrame,
      idCol: String,
      groupCol: String,
      cap: Int,
      salt: String = "graft"): DataFrame = {
    require(cap >= 0, s"cap must be non-negative, got $cap")
    Seq("_h", "_bkt", "_off", "_rk").foreach { r =>
      require(!df.columns.contains(r),
        s"column name $r is reserved by capPerGroup")
    }
    if (cap == 0) return df.filter(lit(false))
    val base = df
      .withColumn("_h",
        md5(concat_ws("|", lit(salt), col(idCol).cast("string"))))
      .withColumn("_bkt",
        conv(substring(col("_h"), 1, 2), 16, 10).cast("long"))
    val cells = base.groupBy(col(groupCol), col("_bkt"))
      .agg(count(lit(1)).as("_c"))
    val wOff = Window.partitionBy(groupCol).orderBy("_bkt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = cells
      .withColumn("_off", coalesce(sum(col("_c")).over(wOff), lit(0L)))
      .drop("_c")
    val wIn = Window.partitionBy(col(groupCol), col("_bkt"))
      .orderBy(col("_h"), col(idCol))
    base.join(offs, Seq(groupCol, "_bkt"))
      .filter(col("_off") < cap) // whole-bucket prune before any sort
      .withColumn("_rk", row_number().over(wIn).cast("long") + col("_off"))
      .filter(col("_rk") <= cap)
      .drop("_h", "_bkt", "_off", "_rk")
  }

  /** Staged-filter attrition report: every quality pipeline is an
    * ordered chain of drop rules, and the number its operator reads
    * first is not the final yield but WHERE the corpus went — how
    * many documents each rule removed, charged to the FIRST rule
    * that fired (later rules never see a dropped document, exactly
    * like the sequential `filter` chain it models). Returns one row
    * per stage in pipeline order plus a leading `input` row:
    * `(stage_idx, stage, eliminated, remaining, pct_of_input)` —
    * `remaining` after that stage, `pct_of_input` the eliminated
    * share of the ORIGINAL corpus (one IEEE division, bitwise
    * cross-engine).
    *
    * A predicate that evaluates to NULL does not fire (CASE/`when`
    * three-valued logic — both engines agree), falling through to
    * the next stage.
    *
    * Scale shape: the report is ONE aggregation pass — the first-fail
    * stage is a `when` cascade folded into a single partial-agg
    * `sum(case)` per stage, so the corpus is read once, shuffles one
    * row per partition, and never materializes any intermediate
    * filtered corpus. The per-stage arithmetic (cumulative
    * remaining) happens on the single result row as plain column
    * expressions — no window, no driver loop. Reference analog: the
    * ref's map phase can drop records but reports only a global
    * counter (`Imagine_MapReduce/Mapper.h:268-270` is the whole
    * per-record surface); per-rule attribution
    * is what this adds. */
  def filterAttrition(
      df: DataFrame,
      stages: Seq[(String, Column)]): DataFrame = {
    require(stages.nonEmpty, "at least one stage required")
    require(stages.map(_._1).distinct.size == stages.size,
      s"stage names must be unique, got ${stages.map(_._1)}")
    require(!stages.exists(_._1 == "input"),
      "stage name 'input' is reserved for the report's leading row")
    val n = stages.size
    // first-fail index: lowest i whose predicate is TRUE, n if none
    val ff = stages.tail.zipWithIndex
      .foldLeft(when(stages.head._2, 0)) { case (acc, ((_, p), i)) =>
        acc.when(p, i + 1)
      }.otherwise(n)
    val aggs = count(lit(1)).cast("long").as("_total") +:
      stages.indices.map(i =>
        sum(when(col("_ff") === i, 1L).otherwise(0L)).as(s"_c$i"))
    val counts = df.select(ff.as("_ff")).agg(aggs.head, aggs.tail: _*)
    val report = array(
      struct(lit(0L).as("stage_idx"), lit("input").as("stage"),
        lit(0L).as("eliminated"), col("_total").as("remaining"),
        lit(0.0).as("pct_of_input")) +:
      stages.zipWithIndex.map { case ((name, _), i) =>
        val elim = col(s"_c$i")
        val cum = (0 to i).map(j => col(s"_c$j")).reduce(_ + _)
        struct(lit(i + 1L).as("stage_idx"), lit(name).as("stage"),
          elim.as("eliminated"), (col("_total") - cum).as("remaining"),
          (elim.cast("double") / col("_total")).as("pct_of_input"))
      }: _*)
    counts.select(explode(report).as("_r")).select(col("_r.*"))
  }

  /** Filter-overlap planning report — BEFORE committing to a quality
    * policy, how much does each filter remove and how do the filters
    * overlap? Each row of the output is one cell of the filters'
    * Venn diagram: `mask` has bit i set iff flag i fired, `filters`
    * names the firing set, and the counts say what a pipeline
    * keeping only mask-0 docs would retain. Materializes the FULL
    * 2^k grid (zero cells included — "no document trips exactly
    * {A,C}" is signal), so k is LOUDLY bounded.
    *
    * Null flag values count as not-fired (audit posture — spell
    * "null trips the filter" explicitly in the flag expression).
    * Shape: one conditional-aggregation pass over the corpus, one
    * 2^k-sized grid join; nothing driver-side but the grid size.
    *
    * Output: (mask, filters, n_docs, share at 6 decimals),
    * 2^k rows. */
  def filterOverlap(
      df: DataFrame,
      flags: Seq[(String, Column)]): DataFrame = {
    require(flags.nonEmpty && flags.size <= 12,
      s"flags must number 1..12 (the grid is 2^k rows), got " +
        s"${flags.size}")
    require(flags.map(_._1).distinct.size == flags.size,
      "flag names must be distinct")
    val spark = df.sparkSession
    val mask = flags.zipWithIndex.map { case ((_, c), i) =>
      when(coalesce(c, lit(false)), lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
    val counts = df.select(mask.as("mask"))
      .groupBy("mask").agg(count(lit(1)).as("n_docs"))
    val total = counts.agg(sum("n_docs").as("_total"))
    val grid = spark.range(1L << flags.size)
      .select(col("id").as("mask"))
    val label = concat_ws(",", flags.zipWithIndex.map {
      case (nc, i) => when(
        col("mask").bitwiseAND(lit(1L << i)) =!= 0L, lit(nc._1))
    }: _*)
    grid
      .join(counts, Seq("mask"), "left")
      .withColumn("n_docs", coalesce(col("n_docs"), lit(0L)))
      .crossJoin(broadcast(total))
      .select(col("mask"), label.as("filters"), col("n_docs"),
        round(col("n_docs").cast("double") /
          col("_total").cast("double"), 6).as("share"))
  }

  /** Top-p (nucleus) coverage — within each group, the smallest
    * prefix of items (by weight, descending) whose mass reaches
    * p% of the group's total: "which sources do we actually need to
    * cover 90% of this language's tokens". The mixture-design twin
    * of the mixture/weighted samplers: this reports WHERE the mass
    * is; sampling then enforces the chosen mixture.
    *
    * Selection rule (exact integer arithmetic, no doubles anywhere):
    * items order by (mass desc, item asc) within their group — total
    * and deterministic — and an item is IN the nucleus iff the mass
    * BEFORE it is < ceil(p·total/100): the first item crossing the
    * threshold is included, nothing after it is, and p = 100 keeps
    * every positive-mass item.
    *
    * Scale shape: one (group, item) partial-agg shuffle for masses,
    * a group-partitioned cumsum window over the ITEMS frame (already
    * aggregated — items-sized, not rows-sized), and a groups-sized
    * broadcast join for totals. `weightCol` must be integral
    * (enforced): double mass would make the cumsum order-dependent.
    *
    * Output: (group, item, mass, cum_mass, in_nucleus), one row per
    * (group, item). */
  def topPCoverage(
      df: DataFrame,
      groupCol: String,
      itemCol: String,
      weightCol: String,
      pPct: Int): DataFrame = {
    require(1 <= pPct && pPct <= 100, s"pPct must be in [1,100], got $pPct")
    val wt = df.schema(weightCol).dataType
    require(Seq("long", "integer", "short", "byte").contains(wt.typeName),
      s"weightCol $weightCol must be integral for an exact cumsum, " +
        s"got ${wt.typeName}")
    Seq("mass", "cum_mass", "in_nucleus", "_total", "_thr").foreach { r =>
      require(!df.columns.contains(r),
        s"input column name $r is reserved by topPCoverage")
    }
    val masses = df
      .groupBy(col(groupCol), col(itemCol))
      .agg(sum(col(weightCol).cast("long")).as("mass"))
    val totals = masses.groupBy(col(groupCol))
      .agg(sum(col("mass")).as("_total"))
      .withColumn("_thr", expr(s"($pPct * _total + 99) div 100"))
    val wcum = Window.partitionBy(col(groupCol))
      .orderBy(col("mass").desc, col(itemCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    masses
      .withColumn("cum_mass", sum(col("mass")).over(wcum))
      .join(broadcast(totals), Seq(groupCol))
      .withColumn("in_nucleus", col("cum_mass") - col("mass") < col("_thr"))
      .select(col(groupCol), col(itemCol), col("mass"),
        col("cum_mass"), col("in_nucleus"))
  }

  /** Reliability (calibration) table for a [0,1] score against a
    * binary outcome — the "does the quality score actually predict
    * anything" diagram: bin the score into `bins` equal-width cells
    * and report, per cell, the population, the outcome rate, the
    * mean score, and the calibration gap (outcome − mean score).
    * Emitted as CELLS, not a summed ECE number (the chiSquaredCells
    * discipline — the cells are the diagnosis; a reader can fold
    * their own Σ n_b/N·|gap| in one line).
    *
    * Exact spelling: scores go through the 6-decimal integer face
    * (score6 = score·1e6 as BIGINT — exact binning, no float-edge
    * ambiguity at cell boundaries); bin = min(score6·bins div 1e6,
    * bins−1), so 1.0 lands in the top cell instead of a phantom
    * bins-th. Counts and score sums are exact integers; rate / mean
    * / gap are one IEEE chain each, emitted at 6 decimals. The FULL
    * bin grid materializes (zero cells included — an EMPTY score
    * band is calibration signal, per the filterOverlap discipline).
    * Scores outside [0,1] fail loudly; null score or label rows are
    * dropped.
    *
    * Output: (bin, lo, hi, n, n_pos, pos_rate, mean_score, gap),
    * one row per bin, rate/mean/gap null for empty bins. */
  def reliabilityTable(
      df: DataFrame,
      scoreCol: String,
      labelCol: Column,
      bins: Int = 10): DataFrame = {
    require(bins >= 2 && bins <= 1000,
      s"bins must be in [2, 1000], got $bins")
    val spark = df.sparkSession
    val dec6 = org.apache.spark.sql.types.DecimalType(18, 6)
    val base = df
      .filter(col(scoreCol).isNotNull)
      .select((col(scoreCol).cast(dec6) * 1000000L).cast("long")
        .as("_s6"), labelCol.cast("boolean").as("_y"))
      .filter(col("_y").isNotNull)
    val bad = base.filter(col("_s6") < 0L || col("_s6") > 1000000L)
      .limit(1).collect()
    require(bad.isEmpty,
      s"reliabilityTable: score outside [0,1]: " +
        s"${if (bad.nonEmpty) bad.head.getLong(0) / 1e6 else ""}")
    val counts = base
      .withColumn("_bin", least(
        expr(s"(_s6 * $bins) div 1000000"), lit(bins - 1L)))
      .groupBy("_bin")
      .agg(count(lit(1)).as("n"),
        sum(when(col("_y"), 1L).otherwise(0L)).as("n_pos"),
        sum(col("_s6")).as("_ssum"))
    val grid = spark.range(bins).select(col("id").as("_bin"))
    grid.join(counts, Seq("_bin"), "left")
      .na.fill(0L, Seq("n", "n_pos"))
      .select(col("_bin").as("bin"),
        round(col("_bin").cast("double") / bins, 6).as("lo"),
        round((col("_bin") + 1L).cast("double") / bins, 6).as("hi"),
        col("n"), col("n_pos"),
        round(when(col("n") > 0L,
          col("n_pos").cast("double") / col("n").cast("double")), 6)
          .as("pos_rate"),
        round(when(col("n") > 0L, col("_ssum").cast("double")
          / (col("n").cast("double") * 1000000.0)), 6)
          .as("mean_score"),
        round(when(col("n") > 0L,
          col("n_pos").cast("double") / col("n").cast("double")
            - col("_ssum").cast("double")
              / (col("n").cast("double") * 1000000.0)), 6).as("gap"))
  }

  /** The Gopher "required stopwords" inventory (Rae et al. 2021,
    * "Scaling Language Models: ... Gopher", §A1.1.2): a document of
    * real prose should contain at least `minStopHits` of these. A
    * DISTINCT-match count — repeating "the" 50 times buys one hit. */
  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher-style multi-rule quality gate — the MassiveText document
    * filter (Rae et al. 2021 §A1.1.2) re-expressed as ONE codegen'd
    * projection: every signal is a pure column expression over the
    * whitespace token array, so the 100 TB pass is a single scan with
    * no shuffle, no UDF, and no per-rule subquery. The C4-style line
    * rules (bullet/ellipsis lines) are omitted deliberately: they
    * need line structure this corpus' single-line documents don't
    * have, and [[graft.functions.TextFunctions.qualityScore]] already
    * covers the punctuation axis.
    *
    * Signals (all exact integer ratios cast to double, so any SQL
    * engine reproduces them bitwise):
    *   - `word_count`        whitespace tokens
    *   - `mean_word_len`     chars per token
    *   - `alpha_frac`        tokens containing [A-Za-z]
    *   - `stop_hits`         distinct [[GopherStopwords]] present
    *   - `dup2_frac`         1 − distinct/total word 2-grams (the
    *                         Gopher duplicate-n-gram fraction)
    *   - `top2_frac`         share of 2-gram slots taken by the single
    *                         most frequent 2-gram (the "top n-gram
    *                         character fraction" rule, token-weighted).
    *                         Computed as the longest equal-run of the
    *                         SORTED gram array — an O(grams) fold, no
    *                         explode, no per-doc group-by.
    *
    * Per-rule booleans (`r_*`) and the conjunction `passed` ride
    * along so downstream attrition reports (cf. [[filterAttrition]])
    * can attribute every kill to a rule. Empty docs fail the
    * word-count rule and define the ratio signals as 0. */
  def gopherGate(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minWords: Long = 50L,
      maxWords: Long = 100000L,
      minMeanWordLen: Double = 3.0,
      maxMeanWordLen: Double = 10.0,
      minAlphaFrac: Double = 0.8,
      minStopHits: Int = 2,
      maxDup2Frac: Double = 0.2,
      maxTop2Frac: Double = 0.2): DataFrame = {
    require(minWords >= 0 && maxWords >= minWords,
      s"need 0 <= minWords <= maxWords, got [$minWords, $maxWords]")
    val c = col(textCol)
    val w = TextFunctions.words(c)
    val grams2 = TextFunctions.wordNgramsAll(c, 2)
    val alphaFrac = when(size(w) === 0, lit(0.0)).otherwise(
      size(filter(w, x => x.rlike("[A-Za-z]"))).cast("double") / size(w))
    val stopHits = size(array_intersect(
      array_distinct(w), array(GopherStopwords.map(lit): _*)))
    val dup2 = when(size(grams2) === 0, lit(0.0)).otherwise(
      lit(1.0) - size(array_distinct(grams2)).cast("double") /
        size(grams2))
    // longest run in the sorted gram array == max multiplicity; the
    // fold carries (previous gram, current run, best run)
    val maxRun = aggregate(
      array_sort(grams2),
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("mx")),
      (acc, x) => {
        val run = when(x === acc.getField("prev"),
          acc.getField("run") + 1L).otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("mx"), run).as("mx"))
      },
      acc => acc.getField("mx"))
    val top2 = when(size(grams2) === 0, lit(0.0)).otherwise(
      maxRun.cast("double") / size(grams2))
    df.select(
        col(idCol),
        size(w).cast("long").as("word_count"),
        TextFunctions.meanWordLen(c).as("mean_word_len"),
        alphaFrac.as("alpha_frac"),
        stopHits.cast("long").as("stop_hits"),
        dup2.as("dup2_frac"),
        top2.as("top2_frac"))
      .withColumn("r_words",
        col("word_count").between(minWords, maxWords))
      .withColumn("r_word_len",
        col("mean_word_len").between(minMeanWordLen, maxMeanWordLen))
      .withColumn("r_alpha", col("alpha_frac") >= minAlphaFrac)
      .withColumn("r_stop", col("stop_hits") >= minStopHits)
      .withColumn("r_dup2", col("dup2_frac") <= maxDup2Frac)
      .withColumn("r_top2", col("top2_frac") <= maxTop2Frac)
      .withColumn("passed",
        col("r_words") && col("r_word_len") && col("r_alpha") &&
          col("r_stop") && col("r_dup2") && col("r_top2"))
  }
}
