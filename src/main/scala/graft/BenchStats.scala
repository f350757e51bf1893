package graft

/** The Bench measurement statistics, factored out of the harness so
  * the defense itself is spec-pinned: a measurement discipline that
  * exists to adjudicate "regression vs contamination" should not be
  * the one untested code path in the repo.
  *
  * Semantics (shared with Bench's header doc):
  *   - `median`: standard even/odd sample median.
  *   - `robustMedian`: symmetric trimmed median — with >= 7 samples
  *     the top/bottom 2 drop, with >= 5 the top/bottom 1 — so up to
  *     2 contaminated runs of 7 (or 1 of 5) cannot move the
  *     reported value at all.
  *   - `unstable`: a spread is escalation-worthy only when it is
  *     both RELATIVELY wide (max > 1.5× min) and ABSOLUTELY material
  *     (max − min > 0.3 s); either alone is scheduler noise.
  *   - `divergent`: the prior-artifact cross-check — the current
  *     robust median must exceed 3× the committed prior AND sit
  *     > 0.3 s above it. One-sided by design: running FASTER than
  *     the prior is progress, never a reason to burn re-runs.
  *   - `RunLog`: a run that throws is never a sample; its query is
  *     quoted only under `failed`, with the message.
  */
object BenchStats {

  def median(ts: Seq[Double]): Double = {
    val s = ts.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  def robustMedian(ts: Seq[Double]): Double = {
    val s = ts.sorted
    val trim = if (s.length >= 7) 2 else if (s.length >= 5) 1 else 0
    median(s.slice(trim, s.length - trim))
  }

  def unstable(ts: Seq[Double]): Boolean = {
    val mn = ts.min; val mx = ts.max
    mx > 1.5 * mn && mx - mn > 0.3
  }

  def divergent(ts: Seq[Double], prior: Option[Double]): Boolean =
    prior.exists { p =>
      val m = robustMedian(ts)
      p > 0 && m > 3 * p && m - p > 0.3
    }

  /** Sample selection under budget shedding: measured samples win;
    * the quarantined pass-1 warmup sample is quoted only when it is
    * all a query has (a shed run still reports a full-suite line
    * instead of dropping the query — the r8 rc=124 lesson). */
  def effective(warm: Option[Double], measured: Seq[Double]): Seq[Double] =
    if (measured.nonEmpty) measured else warm.toSeq

  /** Divergence-aware sample selection for the QUOTED median (the r9
    * lesson: the driver's capture survived its wall budget, but the
    * pass-2 tail shed left 74 queries with a single measured sample
    * each, and lone 75–96 s contention spikes owned medians that
    * measure 2–3 s on an idle box — q227 quoted 75.4 s against a
    * 3.2 s warmup and a 1.7 s committed prior).
    *
    * Rule: when a query's ONLY measured sample diverges (>3× AND
    * >0.3 s absolute — the [[divergent]] thresholds) from BOTH its
    * own quarantined warmup and the committed clean prior, the
    * quoted samples become min(measured, warmup) — load only ever
    * ADDS, so the minimum is the best clean estimate either sample
    * can give. The warmup check is the load-bearing one: it ran the
    * same code in the same process minutes earlier, and warmup
    * samples systematically OVERestimate measured ones (codegen +
    * JIT), so a lone measured sample 3× above its own warmup cannot
    * be a code regression; when no prior exists (first capture at an
    * sf, or the prior was partial/shed) the warmup divergence alone
    * decides. When a prior EXISTS and corroborates the slow reading
    * (the sample does NOT diverge from it), the reading is believed
    * — that is what a real regression looks like.
    *
    * Scope (generalized r10, after review): the filter applies PER
    * SAMPLE at any count — each measured sample is judged against
    * the warmup+prior rule individually, spikey samples drop, and
    * the surviving samples own the median. The original
    * exactly-one-sample scope left the n=2 case defenseless: with
    * samples [75.4, 2.5] the trimmed median is their MEAN (trim
    * needs >= 5), so a spike still owned half the quote whenever the
    * wall budget cut escalation off — the exact contended-box case
    * the rescue targets. Dropping a sample 3x above its own
    * same-process warmup is sound at any n by the same argument as
    * n=1 (a code regression inflates the warmup identically, so
    * divergence from the warmup can only be contention); if EVERY
    * sample spiked, min(samples, warmup) is the sanest quote
    * available (for n=1 that is the original min(measured, warmup)).
    * The rescue changes only what is QUOTED — the harness's
    * escalation and divergence bookkeeping must keep seeing the raw
    * samples, so a rescued query still escalates and still lands in
    * `prior_divergent`/`rescued` in the artifact. */
  def selected(
      warm: Option[Double],
      measured: Seq[Double],
      prior: Option[Double]): Seq[Double] =
    warm match {
      case Some(w) if measured.nonEmpty =>
        val kept = measured.filterNot(m => rescueWorthy(m, w, prior))
        if (kept.nonEmpty) kept
        else Seq(math.min(measured.min, w))
      case _ => effective(warm, measured)
    }

  /** True when [[selected]] would drop this measured sample as a
    * contention spike (factored out so Bench can list the rescued
    * queries in the artifact). */
  def rescueWorthy(m: Double, warm: Double, prior: Option[Double]): Boolean = {
    def div(ref: Double) = ref > 0 && m > 3 * ref && m - ref > 0.3
    div(warm) && prior.forall(div)
  }

  /** True when [[selected]] quoted the RESCUE FALLBACK — every
    * measured sample dropped, quote = min(measured.min, warmup).
    * This is the predicate that must gate prior-voiding: only a
    * fallback quote is warmup-quality. The first r10 spelling
    * flagged a query when ANY sample was rescue-worthy, which voided
    * queries whose quote came from surviving CLEAN samples — on a
    * mildly contended box (one spike per query across many queries)
    * that silently disabled the next round's 3× cross-check for the
    * whole set, the exact failure the prior hygiene exists to
    * prevent. */
  def quoteRescued(
      warm: Option[Double],
      measured: Seq[Double],
      prior: Option[Double]): Boolean =
    warm.exists(w => measured.nonEmpty &&
      measured.forall(m => rescueWorthy(m, w, prior)))

  /** True when [[selected]] dropped SOME measured samples but quoted
    * a median from the surviving clean ones — measured-quality, so a
    * valid prior, but the filtering should still be visible in the
    * artifact (`sample_filtered`). Disjoint from [[quoteRescued]] by
    * construction. */
  def partiallyFiltered(
      warm: Option[Double],
      measured: Seq[Double],
      prior: Option[Double]): Boolean =
    warm.exists { w =>
      val dropped = measured.count(m => rescueWorthy(m, w, prior))
      dropped > 0 && dropped < measured.size
    }

  /** One timed run: Right(seconds) when `run` completes, Left(the
    * error) when it throws. A failed run is never a sample — its time
    * to the exception would read as a fast run. */
  def timeOnce(run: => Unit): Either[String, Double] = {
    val t0 = System.nanoTime()
    try { run; Right((System.nanoTime() - t0) / 1e9) }
    catch { case e: Throwable => Left(s"${e.getClass.getName}: ${e.getMessage}") }
  }

  /** Every run of a bench, per query: the quarantined pass-1 warmup,
    * the measured samples and the first failure. A query with a
    * failed run is out of [[quotable]] — the artifact's `queries`,
    * `runs` and total — and listed only under `failed`. */
  final class RunLog(names: Seq[String]) {
    val warm = scala.collection.mutable.LinkedHashMap[String, Double]()
    val acc = scala.collection.mutable.LinkedHashMap[String, Vector[Double]](
      names.map(_ -> Vector.empty[Double]): _*)
    val failed = scala.collection.mutable.LinkedHashMap[String, String]()

    /** Times `run` and files the outcome: a sample (warmup or
      * measured) on success, the message on the first failure. */
    def record(name: String, warmup: Boolean)(run: => Unit): Unit =
      timeOnce(run) match {
        case Right(t) => if (warmup) warm(name) = t else acc(name) = acc(name) :+ t
        case Left(msg) => if (!failed.contains(name)) failed(name) = msg
      }

    /** Queries the artifact quotes: a sample and no failed run. */
    def quotable: Seq[String] =
      names.filter(n => !failed.contains(n) && effective(warm.get(n), acc(n)).nonEmpty)

    /** `failed` as a JSON object of query → message. */
    def failedJson: String = {
      import scala.jdk.CollectionConverters._
      new com.fasterxml.jackson.databind.ObjectMapper()
        .writeValueAsString(failed.asJava)
    }
  }
}
