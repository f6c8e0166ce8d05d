package graft

import org.apache.spark.sql.functions._
import graft.similarity.{CandidateGuard, StringSim}
import graft.dedup.Dedup

/** Pins the in-plan candidate-volume guard (SCALE_SWEEP Finding 1):
  * when the requested df cap lets Σ_{df≤cap} df² exceed the budget,
  * the cap auto-degrades to the largest ladder rung that fits; when
  * no rung fits the guard fails loudly instead of submitting a
  * quadratic job. Scores of surviving pairs stay exact either way.
  */
class CandidateGuardSpec extends SparkSpec {
  import spark.implicits._

  private def dfTbl(dfs: Seq[Long]) =
    dfs.zipWithIndex.map { case (d, i) => (s"g$i", d) }.toDF("gram", "df_")

  test("guard: under-budget volume leaves the requested cap untouched") {
    // 10 grams × df 3 → Σdf² = 90 ≤ 100
    val t = dfTbl(Seq.fill(10)(3L))
    assert(CandidateGuard.resolve(t, col("df_"), lit(1000L), budget = 100L).isEmpty)
  }

  test("guard: degrades to the LARGEST ladder rung that fits") {
    // one shared-prefix gram df=500 (vol 250k) + 50 rare grams df=4
    // (vol 800). Requested cap 1000 → 250,800 > budget 10k.
    // Rungs 4096/1024/256 hmm — 500 ≤ 4096/1024 keeps the big gram,
    // still over; 256 drops it → 800 fits. Expect Some(256).
    val t = dfTbl(500L +: Seq.fill(50)(4L))
    assert(CandidateGuard.resolve(t, col("df_"), lit(1000L), budget = 10000L)
      .contains(256L))
  }

  test("guard: honors a per-row (relative) requested cap column") {
    // effCap already excludes the df=500 gram → requested volume fits
    val t = dfTbl(500L +: Seq.fill(50)(4L))
    assert(CandidateGuard.resolve(t, col("df_"), lit(100L), budget = 10000L).isEmpty)
  }

  test("guard: Long.MaxValue budget disables the guard without running a probe") {
    // a frame whose evaluation would throw proves no job ran
    val poisoned = spark.range(1).selectExpr(
      "id AS gram", "CAST(raise_error('probe must not run') AS LONG) AS df_")
    assert(CandidateGuard.resolve(poisoned, col("df_"), lit(10L),
      budget = Long.MaxValue).isEmpty)
  }

  test("guard: degrade records a programmatic GuardEvent; fitting calls record nothing") {
    CandidateGuard.clearEvents()
    // under budget → no event
    assert(CandidateGuard.resolve(dfTbl(Seq.fill(10)(3L)), col("df_"),
      lit(1000L), budget = 100L).isEmpty)
    assert(CandidateGuard.lastEvent.isEmpty)
    // degrade → event carries op name, measured volumes, chosen rung
    val t = dfTbl(500L +: Seq.fill(50)(4L))
    assert(CandidateGuard.resolve(t, col("df_"), lit(1000L), budget = 10000L,
      opName = "spec-op").contains(256L))
    val e = CandidateGuard.lastEvent.get
    assert(e.opName == "spec-op")
    assert(e.budget == 10000L)
    assert(e.requestedVolume == 250800.0)
    assert(e.degradedCap.contains(256L))
    assert(e.degradedVolume.contains(800.0))
    // drain empties the buffer
    assert(CandidateGuard.drainEvents().nonEmpty)
    assert(CandidateGuard.lastEvent.isEmpty)
  }

  test("guard: strict mode throws instead of degrading (and records the refusal)") {
    CandidateGuard.clearEvents()
    val t = dfTbl(500L +: Seq.fill(50)(4L)) // same corpus that degrades to 256 above
    val e = intercept[IllegalStateException] {
      CandidateGuard.resolve(t, col("df_"), lit(1000L), budget = 10000L,
        opName = "strict-op", strict = true)
    }
    assert(e.getMessage.contains("strict"))
    val ev = CandidateGuard.lastEvent.get
    assert(ev.opName == "strict-op" && ev.degradedCap.isEmpty)
    CandidateGuard.clearEvents()
  }

  test("jaccardJoin: guardStrict=true surfaces the would-degrade as a failure") {
    // the same corpus shape as the degrade test below, but strict
    val docs = (0 until 120).map { i =>
      val rare = if (i <= 1) "alpha beta gamma" else s"tail$i taily$i tailz$i"
      (i.toLong, s"stopA stopB stopC $rare")
    }.toDF("id", "text")
    val e = intercept[IllegalStateException] {
      Dedup.jaccardJoin(docs, "text", "id", 0.4,
        relDfCap = 1.0, allPairsMaxDocs = 10L, candidateBudget = 2000L,
        guardStrict = true).collect()
    }
    assert(e.getMessage.contains("guardStrict"))
  }

  test("guard: fails loudly when even the tightest rung exceeds budget") {
    // 5 grams × df 2 → every rung's volume = 20 > budget 10
    val t = dfTbl(Seq.fill(5)(2L))
    val e = intercept[IllegalStateException] {
      CandidateGuard.resolve(t, col("df_"), lit(1000L), budget = 10L)
    }
    assert(e.getMessage.contains("minhash"), "failure must point at the banded-minhash alternative")
  }

  test("guard: bipartite volume term (batchDf · storeDf) drives the decision") {
    // store df small (4) but batch df huge (10k) → product volume
    // 40k/gram blows a 10k budget even though df² = 16 would not
    val t = Seq(("g0", 4L, 10000L)).toDF("gram", "df_", "bdf_")
    val e = intercept[IllegalStateException] {
      CandidateGuard.resolve(t, col("df_"), lit(1000L), budget = 10000L,
        volume = Some(col("bdf_") * col("df_")))
    }
    assert(e.getMessage.contains("budget"))
  }

  test("similarPairs: shared-prefix corpus auto-degrades under default-shaped caps and stays exact") {
    // Finding-1 shape in miniature: every name shares a 6-char prefix
    // (prefix grams df = N), each also has a distinct numeric tail;
    // two names additionally share a rare tail → the real pair.
    val n = 400
    val rows = (0 until n).map(i => (i.toLong, f"PREFIX#$i%04d")) :+
      (n.toLong, f"PREFIX#${n - 1}%04dX") // near-dup of the last name
    val df = rows.toDF("id", "s")
    // budget 20k: prefix grams (df≈400 → vol 160k each) blow it at
    // the requested relative cap (0.5·401 = 200 already drops them —
    // so push relDfCap to 1.0 to force the degrade decision); the
    // mid-frequency digit grams ("#00".. df≈100 → 10k each) blow it
    // again at rung 256, so the guard must land on 64
    val out = StringSim.similarPairs(df, "s", "id", 0.5,
      relDfCap = 1.0, candidateBudget = 20000L)
      .collect()
    // the engineered pair shares its rare tail grams → survives any
    // rung ≥ its tail-gram df (=2), and its score must equal the
    // exact (uncapped) computation bit-for-bit
    val exact = StringSim.similarPairs(df, "s", "id", 0.5,
      dfCap = Long.MaxValue, relDfCap = Double.NaN)
      .filter(col("id_a") === (n - 1) && col("id_b") === n)
      .collect()
    assert(exact.length == 1)
    val got = out.filter(r => r.getLong(0) == n - 1 && r.getLong(1) == n)
    assert(got.length == 1, "degraded plan must keep the rare-gram pair")
    assert(got.head.getDouble(2) == exact.head.getDouble(2),
      "degraded plan must score surviving pairs exactly")
  }

  test("jaccardJoin: tiny budget degrades without mis-scoring surviving pairs") {
    // >64 distinct tokens (defeats the bitmap path): 120 docs share
    // 3 stop-tokens; docs 0/1 also share rare tokens
    val docs = (0 until 120).map { i =>
      val rare = if (i <= 1) "alpha beta gamma" else s"tail$i taily$i tailz$i"
      (i.toLong, s"stopA stopB stopC $rare")
    }.toDF("id", "text")
    val out = Dedup.jaccardJoin(docs, "text", "id", 0.4,
      relDfCap = 1.0, allPairsMaxDocs = 10L, candidateBudget = 2000L)
      .collect()
    assert(out.length == 1 && out.head.getLong(0) == 0L && out.head.getLong(1) == 1L)
    // 6-token sets sharing 3 stop + 3 rare → jaccard = 6/6... no:
    // intersection {stopA,stopB,stopC,alpha,beta,gamma} = 6 of 6 → 1.0
    assert(out.head.getDouble(2) == 1.0)
  }

  test("guard messages name Dedup's word unit and StringSim's gram unit") {
    val t = dfTbl(500L +: Seq.fill(50)(4L)) // degrades to 256 at budget 10k
    def degradeLine(op: String): String = {
      val buf = new java.io.ByteArrayOutputStream()
      val err = System.err
      System.setErr(new java.io.PrintStream(buf, true, "UTF-8"))
      try CandidateGuard.resolve(t, col("df_"), lit(1000L), budget = 10000L, opName = op)
      finally System.setErr(err)
      buf.toString("UTF-8").linesIterator.find(_.contains(s"[graft] $op:")).getOrElse("")
    }
    assert(degradeLine("Dedup.jaccardJoin").contains("requires a shared word with df <= 256"))
    assert(degradeLine("StringSim.similarPairs").contains("requires a shared gram with df <= 256"))
    val e = intercept[IllegalStateException] {
      CandidateGuard.resolve(dfTbl(Seq.fill(5)(2L)), col("df_"), lit(1000L),
        budget = 10L, opName = "Dedup.nearDupMatches")
    }
    assert(e.getMessage.contains("a word index cannot bound this corpus"), e.getMessage)
    assert(!e.getMessage.contains("gram"), e.getMessage)
    CandidateGuard.clearEvents()
  }
}
