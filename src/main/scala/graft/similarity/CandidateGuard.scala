package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** In-plan candidate-volume guard for inverted-index pair generators
  * ([[StringSim.similarPairs]], `Dedup.jaccardJoin`,
  * `Dedup.nearDupMatches`, `Dedup.dedupNearAgainstStore`).
  *
  * Why it exists (SCALE_SWEEP.md Finding 1, measured): a RELATIVE
  * document-frequency cap is a skew guard, not a volume bound. A gram
  * occurring in a constant FRACTION of the corpus (shared prefix,
  * template tag) stays under `relDfCap · N` forever while its df²
  * candidate volume grows quadratically — 15k shared-prefix customer
  * names ran 112 s at the default cap (Σdf² ~ 1e8 join rows), where
  * the absolute `dfCap = 64` plan took 4.9 s, flat through 150k
  * names. Guidance in scaladoc does not stop that job from being
  * submitted; this guard does.
  *
  * How: the capped plans already materialize the per-gram document
  * frequency table, and the candidate join produces EXACTLY
  * Σ_{g : df_g <= cap} df_g² rows — so the volume is computable
  * up-front by one bounded single-row aggregate over that (already
  * small: one row per distinct gram) frame, the same
  * one-bounded-probe-job contract as the tiny-vocabulary gates in
  * `Dedup`. For the prefix-filtered joins ([[StringSim.similarPairs]],
  * `Dedup.jaccardJoin`, `Dedup.nearDupMatches`) the probe is an UPPER
  * bound: they keep a subset of the cap-join's rows. If the requested cap's volume fits the budget, the plan
  * is untouched. Otherwise the cap auto-degrades to the LARGEST
  * ladder cap whose measured volume fits (caps only affect candidate
  * GENERATION — surviving pairs are always re-scored on full
  * sets/weights, so tightening never mis-scores a pair, it can only
  * lose pairs whose every shared gram is above the tightened cap).
  * If even the tightest ladder cap exceeds the budget, the guard
  * fails loudly with the measured estimates instead of submitting a
  * quadratic job — that corpus shape wants similarity-pruned banded
  * minhash (`Dedup.minhashPairs`; batch-vs-store:
  * `Dedup.minhashMatchesAgainstStore`), not a gram index.
  */
object CandidateGuard {

  /** One guard decision that MOVED a knob (fit-within-budget calls
    * record nothing — they are the common case and would be noise).
    * `degradedCap = Some(c)` means the plan was auto-degraded to the
    * absolute cap `c` (whose measured volume is `degradedVolume`);
    * `degradedCap = None` means no ladder rung fit and the call threw.
    * This is the PROGRAMMATIC signal the stderr warning cannot give a
    * pipeline: after building a plan, `lastEvent`/`drainEvents` tell
    * the caller whether recall semantics shifted and by how much.
    */
  final case class GuardEvent(opName: String, requestedVolume: Double,
                              budget: Long, degradedCap: Option[Long],
                              degradedVolume: Option[Double])

  // bounded lock-free ring of recent knob-moving decisions; 128 is
  // plenty (one entry per DEGRADED plan construction, not per task)
  private val EventCap = 128
  private val events = new java.util.concurrent.ConcurrentLinkedDeque[GuardEvent]()

  private def record(e: GuardEvent): Unit = {
    events.addLast(e)
    while (events.size > EventCap) events.pollFirst()
  }

  /** Most recent knob-moving decision, if any. */
  def lastEvent: Option[GuardEvent] = Option(events.peekLast())

  /** Remove and return all recorded decisions, oldest first. */
  def drainEvents(): Seq[GuardEvent] = {
    val b = Seq.newBuilder[GuardEvent]
    var e = events.pollFirst()
    while (e != null) { b += e; e = events.pollFirst() }
    b.result()
  }

  /** Drop all recorded decisions. */
  def clearEvents(): Unit = events.clear()

  /** Default candidate-row budget. Calibrated against SCALE_SWEEP
    * Finding 1 on 32 local cores: ~1e8 candidate join rows measured
    * 112 s; 2e7 keeps the candidate stage in the low seconds while
    * leaving realistic sub-cap volumes (the sf0.1 bench corpus, the
    * 4.9 s cap-64 run) untouched.
    */
  val DefaultBudget: Long = 20000000L

  /** Degrade ladder, largest first — the guard picks the first rung
    * whose measured volume fits the budget (largest cap = best
    * recall). 16 is the floor: below that a gram index prunes more
    * than it finds and minhash banding is strictly better.
    */
  val Ladder: Seq[Long] = Seq(4096L, 1024L, 256L, 64L, 16L)

  /** The inverted-index plans' cap test: `df_ ≤` min(`dfCap`,
    * `relDfCap`·`_n`), tightened by [[resolve]] when the candidate
    * volume over the grams under the cap — Σ df_², or Σ `volume` —
    * blows `budget`; the guard probes `dfTbl`, one row per gram
    * carrying `df_` and `_n`. Uncapped calls (both caps at their no-op
    * values) get `true` without evaluating `dfTbl` or running a probe.
    */
  def capFilter(dfTbl: => DataFrame, dfCap: Long, relDfCap: Double,
                budget: Long, opName: String, volume: Option[Column],
                strict: Boolean): Column =
    if (dfCap == Long.MaxValue && relDfCap.isNaN) lit(true)
    else {
      val effCap =
        if (relDfCap.isNaN) lit(dfCap)
        else least(lit(dfCap), floor(lit(relDfCap) * col("_n")))
      col("df_") <= resolve(dfTbl, col("df_"), effCap, budget, opName, volume, strict)
        .map(c => least(effCap, lit(c))).getOrElse(effCap)
    }

  /** Resolve the effective absolute cap for a capped inverted-index
    * plan.
    *
    * @param dfTbl  one row per distinct gram/token (already
    *               aggregated — cheap to scan)
    * @param dfCol  its document-frequency column
    * @param effCap the per-row effective REQUESTED cap (may reference
    *               dfTbl columns, e.g. `least(dfCap, relDfCap·N)`)
    * @param budget max candidate join rows to allow in-plan
    * @param opName operator name for the warning / failure message
    * @param volume per-gram candidate rows contributed when that gram
    *               survives the cap. Defaults to df² (self-join); a
    *               BIPARTITE index (batch × store) passes
    *               `Some(batchDf · storeDf)` while capping on the
    *               store df alone
    * @param strict opt-in: refuse to auto-degrade — when the requested
    *               cap's volume blows the budget, throw with the
    *               measured estimate instead of silently trading
    *               recall. For pipelines where reduced recall is worse
    *               than a failed job (e.g. a legal-hold dedup pass).
    * @return None = requested caps fit, leave the plan untouched;
    *         Some(c) = tighten to `least(effCap, c)`; either way a
    *         knob-moving decision is recorded in [[lastEvent]]
    * @throws IllegalStateException when no ladder rung fits (or, in
    *         strict mode, whenever the requested cap does not fit) —
    *         message carries the measured volumes and the minhash
    *         pointer
    */
  def resolve(dfTbl: DataFrame, dfCol: Column, effCap: Column,
              budget: Long = DefaultBudget,
              opName: String = "pair generator",
              volume: Option[Column] = None,
              strict: Boolean = false): Option[Long] = {
    require(budget > 0, s"candidateBudget must be positive, got $budget")
    // Long.MaxValue = guard explicitly disabled (correctness gates pin
    // fixed cap semantics this way) — skip the probe job entirely, no
    // volume can exceed it
    if (budget == Long.MaxValue) return None
    // the index's unit, for the messages: `Dedup`'s joins index word
    // tokens, `StringSim`'s character grams
    val unit = if (opName.startsWith("Dedup.")) "word" else "gram"
    val d = dfCol.cast("double")
    val volTerm = volume.map(_.cast("double")).getOrElse(d * d)
    def vol(cap: Column) = sum(when(dfCol <= cap, volTerm))
    // ONE single-row job: requested-cap volume + every ladder rung's
    val row = dfTbl.agg(
      vol(effCap).as("v_req"),
      Ladder.map(c => vol(least(effCap, lit(c))).as(s"v_$c")): _*).head()
    def v(i: Int): Double = if (row.isNullAt(i)) 0.0 else row.getDouble(i)
    val req = v(0)
    if (req <= budget.toDouble) None
    else if (strict) {
      record(GuardEvent(opName, req, budget, None, None))
      throw new IllegalStateException(
        f"[graft] $opName (strict): candidate volume ~${req}%.3g rows exceeds " +
          f"the $budget%d budget and guardStrict=true forbids auto-degrade. " +
          "Raise candidateBudget, loosen the caps yourself, or use banded " +
          "minhash (Dedup.minhashPairs; batch-vs-store: " +
          "Dedup.minhashMatchesAgainstStore).")
    }
    else Ladder.zipWithIndex
      .collectFirst { case (c, i) if v(i + 1) <= budget.toDouble => (c, v(i + 1)) }
      .map { case (c, est) =>
        // Loud but non-fatal: the degraded plan is semantically valid
        // (exact scores, documented recall trade) — the caller just
        // needs to know the knob moved and why. The stderr line is for
        // humans; the recorded GuardEvent is the programmatic signal.
        record(GuardEvent(opName, req, budget, Some(c), Some(est)))
        System.err.println(
          f"[graft] $opName: requested df cap -> ~${req}%.3g candidate rows " +
            f"(budget $budget%d); auto-degrading to absolute dfCap=$c%d " +
            f"(~${est}%.3g rows). Recall now requires a shared $unit with " +
            f"df <= $c%d; raise candidateBudget to override.")
        c
      }
      .orElse {
        record(GuardEvent(opName, req, budget, None, None))
        throw new IllegalStateException(
          f"[graft] $opName: candidate volume ~${req}%.3g rows exceeds the " +
            f"$budget%d budget and even dfCap=${Ladder.last}%d measures " +
            f"~${v(Ladder.size)}%.3g — a $unit index cannot bound this corpus " +
            s"(near-duplicates share only high-df ${unit}s). Use banded " +
            s"minhash, which prunes by similarity instead of $unit rarity " +
            "(Dedup.minhashPairs; batch-vs-store: " +
            "Dedup.minhashMatchesAgainstStore), or raise candidateBudget " +
            "explicitly.")
      }
  }
}
