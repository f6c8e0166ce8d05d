package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** String-similarity duplicate detector (reference: home.py:265-270,
  * backed by the `string_grouper` library = tf-idf over character
  * 3-grams + cosine ≥ min_similarity).
  *
  * Spark-first shape (filter, then verify): fold each string into one
  * tf-idf weight vector, self-join only the rare-gram PREFIXES of the
  * vectors on the gram (shuffle keyed by gram, linear + output-sized),
  * and score each distinct candidate pair against its two vectors.
  */
object StringSim {

  /** Slack under `minSimilarity` for the prefix bound: the HALF_UP
    * `round(cos, 4)` admits raw cosines down to minSimilarity − 5e-5,
    * and the prefix and dot sums round in double arithmetic. */
  private val Margin = 1e-4

  private def gramsExpr(c: Column, n: Int): Column = {
    val s = regexp_replace(lower(c), "\\s+", " ")
    transform(sequence(lit(1), greatest(length(s) - (n - 1), lit(1))),
      i => s.substr(i, lit(n)))
  }

  /** tf-idf cosine similarity pairs ≥ `minSimilarity` over char
    * 3-grams. Emits (id_a < id_b, similarity). idf = ln(N/df);
    * tf = gram count within the string.
    *
    * Scale shape: each string's grams are ordered by the global
    * order (df, gram), rarest first, and a gram is in the string's
    * PREFIX while the squared norm from it to the end is
    * ≥ t²·‖w‖², t = max(minSimilarity − 1e-4, 0). Candidates are the
    * pairs sharing a gram that is in BOTH prefixes and has df ≤ the
    * cap; every candidate is then scored on the full weights, so an
    * emitted (pair, similarity) equals the exact all-grams
    * computation. The prefix loses no pair the cap keeps:
    *   1. a pair sharing no gram in x's prefix has cos ≤ ‖x_suffix‖/‖x‖ < t;
    *   2. so its rarest shared gram lies in both prefixes;
    *   3. and that gram has the smallest df of all shared grams, so it
    *      passes the cap whenever any shared gram does.
    * Candidates are therefore a subset of the cap-join's, which keeps
    * [[CandidateGuard]]'s Σ_{df ≤ cap} df² probe a valid upper bound.
    *
    * Cap semantics: the cap is min(`dfCap`, `relDfCap`·N) — without
    * one every common gram ("the", "ing") joins all its strings
    * pairwise, the classic stop-gram n² blowup. The cap can only lose
    * pairs whose every shared gram is a stop-gram — pairs idf-weighting
    * pushes toward similarity 0 anyway. Pass `relDfCap = Double.NaN`
    * (and leave `dfCap` at its default) for exact recall. Both caps
    * resolve inside the plan (broadcast-scalar N); the only driver
    * action on the capped path is the guard's bounded single-row
    * volume probe.
    *
    * MEASURED AT SCALE (SCALE_SWEEP.md, r8): the relative default is
    * a skew guard, not a volume bound — mid-frequency grams from
    * shared prefixes/templates (df « 0.5·N but in the thousands)
    * contribute Σdf² cap-join rows, measured at 112 s for 15k
    * TPC-H-style names where the absolute `dfCap = 64` plan took
    * 4.9 s (flat to 150k names). The engine therefore GUARDS the
    * capped plan: when Σ_{df ≤ cap} df² exceeds `candidateBudget`
    * the cap auto-degrades to the largest absolute cap that fits
    * (warning on stderr; scores stay exact — recall then requires a
    * shared sub-cap gram), failing loudly when no cap can bound the
    * corpus. Every knob-moving decision is ALSO recorded
    * ([[CandidateGuard.lastEvent]] / `drainEvents`), and
    * `guardStrict = true` turns would-degrade into a loud failure.
    * Sequential key-like strings whose near-identical pairs share
    * only common grams lose recall under ANY gram cap — THAT shape
    * wants banded minhash (`Dedup.minhashPairs`) instead.
    */
  def similarPairs(df: DataFrame, strCol: String, idCol: String,
                   minSimilarity: Double, n: Int = 3,
                   dfCap: Long = Long.MaxValue,
                   relDfCap: Double = 0.5,
                   candidateBudget: Long = 2000000L,
                   guardStrict: Boolean = false): DataFrame = {
    // candidateBudget default is LOWER than CandidateGuard.DefaultBudget:
    // measured (32 local cores, when every candidate re-joined both
    // sides' gram lists) 5.4e6 candidates ↔ 28.7 s but 3e5 ↔ 6.9 s.
    val base = df.select(col(idCol).as("id"), col(strCol).as("s"))
      .filter(col("s").isNotNull)

    // N rides along as a broadcast 1-row cross join instead of a
    // driver-side count() (ids are distinct in `base`)
    val nDocs = base.agg(count(lit(1)).cast("double").as("_n"))

    // (id, gram, tf, df_, _n) — persisted: the working set for the
    // per-id vectors and the guard's probe (one source scan total).
    // df_ is a window count rather than a join back to a per-gram
    // table: a cached plan pins its hashed broadcasts until the cache is
    // cleared, one memory page each (+16 MB heap after GC at -Xmx2g).
    val grams = graft.CacheScope.persist(base
      .select(col("id"), explode(gramsExpr(col("s"), n)).as("gram"))
      .groupBy("id", "gram").agg(count(lit(1)).as("tf"))
      .withColumn("df_", count(lit(1)).over(Window.partitionBy("gram")))
      .crossJoin(broadcast(nDocs)))

    val capOk = CandidateGuard.capFilter(grams.select("gram", "df_", "_n").distinct(),
      dfCap, relDfCap, candidateBudget, "StringSim.similarPairs", None, guardStrict)

    // ONE per-id aggregation: entries in (df_, gram) order; the map is
    // built from gram-sorted entries so every sum has a fixed order
    val tt = lit(math.pow(math.max(minSimilarity - Margin, 0.0), 2)) // t²
    val vecs = graft.CacheScope.persist(grams
      .groupBy("id").agg(array_sort(collect_list(struct(col("df_"), col("gram"),
        (col("tf") * log(col("_n") / col("df_"))).as("w"), capOk.as("ok")))).as("e"))
      .withColumn("m", map_from_entries(array_sort(
        transform(col("e"), x => struct(x("gram"), x("w"))))))
      .withColumn("nn", aggregate(map_values(col("m")), lit(0.0), (s, w) => s + w * w))
      // suffix entries: those whose squared norm to the end is < t²·‖w‖²
      .withColumn("sfx", aggregate(reverse(col("e")), struct(lit(0.0).as("s"), lit(0).as("k")),
        (acc, x) => {
          val s = acc("s") + x("w") * x("w")
          struct(s.as("s"), (acc("k") + when(s < tt * col("nn"), 1).otherwise(0)).as("k"))
        }, acc => acc("k")))
      .select(col("id"), col("m"), sqrt(col("nn")).as("norm"),
        transform(filter(slice(col("e"), lit(1), size(col("e")) - col("sfx")), x => x("ok")),
          x => x("gram")).as("prefix")))

    val pre = vecs.select(col("id"), explode(col("prefix")).as("gram"))
    def side(s: String) = vecs.select(col("id").as(s"id_$s"), col("m").as(s"m_$s"),
      col("norm").as(s"norm_$s"))
    pre.select(col("gram"), col("id").as("id_a"))
      .join(pre.select(col("gram"), col("id").as("id_b")), "gram")
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
      .join(side("a"), "id_a")
      .join(side("b"), "id_b")
      .select(col("id_a"), col("id_b"),
        // zero-norm guard (a string whose every gram has idf 0):
        // null similarity instead of an ANSI divide-by-zero error
        round(when(col("norm_a") * col("norm_b") > 0,
          aggregate(map_entries(col("m_a")), lit(0.0),
            (s, x) => s + x("value") * coalesce(col("m_b")(x("key")), lit(0.0))) /
            (col("norm_a") * col("norm_b"))), 4).as("similarity"))
      .filter(col("similarity") >= minSimilarity)
  }
}
