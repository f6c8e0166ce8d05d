package graft

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import graft.ann.Ann

class MarginMiningSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 8
  private def vec(seed: Long): Array[Float] =
    Array.tabulate(dim)(j => (((seed * 131 + j * 17) % 23).toFloat - 11) / 11f)

  private def cosMicro(a: Array[Float], b: Array[Float]): Long = {
    val d = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
    val na = math.sqrt(a.map(x => x.toDouble * x).sum)
    val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
    math.round(d / (na * nb) * 1e6)
  }

  test("margins equal the integer reference on a random corpus; threshold filters") {
    val srcV = (1L to 12L).map(i => i -> vec(i)).toMap
    val tgtV = (101L to 118L).map(i => i -> vec(i * 7 + 3)).toMap
    val k = 3
    val src = srcV.toSeq.toDF("id", "v")
    val tgt = tgtV.toSeq.toDF("id", "v")
    // integer reference: top-k by (cos desc, id asc), sums as longs,
    // margin = (2*k*cos*1e6) div (S+T)
    def topk(q: Array[Float], corpus: Map[Long, Array[Float]]) =
      corpus.toSeq.map { case (i, v) => (cosMicro(q, v), i) }
        .sortBy { case (s, i) => (-s, i) }.take(k)
    val sSum = srcV.map { case (i, v) => i -> topk(v, tgtV).map(_._1).sum }
    val tSum = tgtV.map { case (i, v) => i -> topk(v, srcV).map(_._1).sum }
    val wantAll = for {
      (si, sv) <- srcV.toSeq; (cm, ti) <- topk(sv, tgtV)
    } yield (si, ti, cm, (2L * k * cm * 1000000L) / (sSum(si) + tSum(ti)))
    val wantBest = wantAll.groupBy(_._1).map { case (si, rows) =>
      rows.maxBy(r => (r._4, -r._2))
    }.toSeq
    for (thr <- Seq(Long.MinValue, 1000000L)) {
      val got = Ann.marginMining(src, "id", "v", tgt, "id", "v", k, thr)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).sortBy(_._1).toSeq
      val want = wantBest.filter(_._4 >= thr).sortBy(_._1)
      assert(got == want, s"thr=$thr")
    }
  }

  test("hubness: margin prefers the dedicated pair over a raw-cosine hub") {
    // hub 900 is fairly close to BOTH sources; each source also has a
    // dedicated target that is its true match. The hub's backward
    // neighborhood sum T is high (it is everyone's neighbor), which
    // deflates its margin below the dedicated targets'.
    val src = Seq(1L -> Array(1f, 0.1f, 0f), 2L -> Array(0.1f, 1f, 0f))
      .toDF("id", "v")
    val tgt = Seq(
      900L -> Array(0.75f, 0.75f, 0f), // hub: close to both
      11L -> Array(1f, 0f, 0.25f),     // dedicated to src 1
      22L -> Array(0f, 1f, 0.25f))     // dedicated to src 2
      .toDF("id", "v")
    val got = Ann.marginMining(src, "id", "v", tgt, "id", "v",
      k = 2, thresholdMicro = Long.MinValue)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 11L, 2L -> 22L))
  }

  test("deterministic across partitionings (pure integer pipeline)") {
    val src = (1L to 40L).map(i => (i, vec(i))).toDF("id", "v")
    val tgt = (200L to 260L).map(i => (i, vec(i * 3 + 1))).toDF("id", "v")
    def run(p: Int) = Ann.marginMining(src.repartition(p), "id", "v",
      tgt.repartition(p), "id", "v", 4, 900000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
      .sortBy(_._1).toSeq
    assert(run(1) == run(6))
  }

  test("blocked == exact under a single cell (vacuous blocking)") {
    val src = (1L to 30L).map(i => (i, vec(i))).toDF("id", "v")
    val tgt = (200L to 250L).map(i => (i, vec(i * 3 + 1))).toDF("id", "v")
    val oneCell = Array(Array.fill(dim)(1.0))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).sortBy(_._1).toSeq
    val exact = rows(Ann.marginMining(src, "id", "v", tgt, "id", "v",
      4, 900000L))
    val blocked = rows(Ann.marginMiningBlocked(src, "id", "v", tgt, "id", "v",
      oneCell, 4, 900000L))
    assert(exact.nonEmpty && blocked == exact)
  }

  test("blocked: salt-invariant — S=5 results bit-equal S=1 (r14 parallelism knob)") {
    val src = (1L to 30L).map(i => (i, vec(i))).toDF("id", "v")
    val tgt = (200L to 250L).map(i => (i, vec(i * 3 + 1))).toDF("id", "v")
    val cents = Array.tabulate(3)(c => Array.tabulate(dim)(j =>
      (((c * 37 + j * 5) % 11) - 5).toDouble))
    def rows(s: Int) = Ann.marginMiningBlocked(src, "id", "v", tgt, "id", "v",
      cents, 3, 0L, saltBuckets = s)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).sortBy(_._1).toSeq
    val base = rows(1)
    assert(base.nonEmpty && rows(5) == base)
  }

  test("blocked: pair frame shuffles on the cell key, never broadcasts a corpus side") {
    val src = (1L to 40L).map(i => (i, vec(i))).toDF("id", "v")
    val tgt = (200L to 260L).map(i => (i, vec(i * 3 + 1))).toDF("id", "v")
    val cents = Array.tabulate(4)(c => Array.tabulate(dim)(j =>
      (((c * 37 + j * 5) % 11) - 5).toDouble))
    // the pair frame is a CacheScope pin: its join runs while the
    // frame is built (an eager localCheckpoint action), and the
    // returned plan reads only its rows, so both plans are checked
    val ran = new java.util.concurrent.LinkedBlockingQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = ran.put(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val plan = try {
      val out = Ann.marginMiningBlocked(src, "id", "v", tgt, "id", "v", cents, 3, 0L)
      // listener events arrive in order: everything before the marker
      // action ran while the frame was built
      val marker = spark.range(1)
      marker.collect()
      val eager = Iterator.continually(ran.take()).takeWhile(_ ne marker.queryExecution)
        .map(_.executedPlan.toString).toSeq
      assert(eager.nonEmpty, "the pair frame's join did not run while the frame was built")
      (eager :+ out.queryExecution.executedPlan.toString).mkString("\n")
    } finally spark.listenerManager.unregister(listener)
    // the production contract: a cell-keyed shuffle join (both sides
    // exchanged on _cell), NOT batchTopK's query-side broadcast — the
    // whole point of the blocked path is that neither corpus rides a
    // broadcast
    assert(plan.contains("hashpartitioning(_cell"),
      s"expected an explicit cell-key exchange:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"corpus side must not broadcast:\n$plan")
  }

  test("blocked: within-cell math is exact, candidates sub-quadratic, recall reported") {
    val srcV = (1L to 60L).map(i => i -> vec(i)).toMap
    val tgtV = (200L to 280L).map(i => i -> vec(i * 3 + 1)).toMap
    val src = srcV.toSeq.toDF("id", "v")
    val tgt = tgtV.toSeq.toDF("id", "v")
    val cents = Array.tabulate(4)(c => Array.tabulate(dim)(j =>
      (((c * 37 + j * 5) % 11) - 5).toDouble))
    // reference cell assignment: argmax cosine, later index wins ties
    def cell(v: Array[Float]): Int = {
      val sims = cents.map { cv =>
        val d = v.zip(cv).map { case (x, y) => x * y }.sum
        val nv = math.sqrt(v.map(x => x.toDouble * x).sum)
        val nc = math.sqrt(cv.map(x => x * x).sum)
        d / (nv * nc)
      }
      sims.zipWithIndex.maxBy { case (s, i) => (s, i) }._2
    }
    val k = 3
    // integer reference of the BLOCKED formulation
    def topkIn(q: Array[Float], pool: Map[Long, Array[Float]]) =
      pool.toSeq.map { case (i, v) => (cosMicro(q, v), i) }
        .sortBy { case (s, i) => (-s, i) }.take(k)
    val srcCell = srcV.map { case (i, v) => i -> cell(v) }
    val tgtCell = tgtV.map { case (i, v) => i -> cell(v) }
    def tgtPool(c: Int) = tgtV.filter { case (i, _) => tgtCell(i) == c }
    def srcPool(c: Int) = srcV.filter { case (i, _) => srcCell(i) == c }
    val sSum = srcV.collect { case (i, v) if tgtPool(srcCell(i)).nonEmpty =>
      i -> topkIn(v, tgtPool(srcCell(i))).map(_._1).sum }
    val tSum = tgtV.collect { case (i, v) if srcPool(tgtCell(i)).nonEmpty =>
      i -> topkIn(v, srcPool(tgtCell(i))).map(_._1).sum }
    val wantAll = for {
      (si, sv) <- srcV.toSeq if tgtPool(srcCell(si)).nonEmpty
      (cm, ti) <- topkIn(sv, tgtPool(srcCell(si)))
    } yield (si, ti, cm, (2L * k * cm * 1000000L) / (sSum(si) + tSum(ti)))
    val want = wantAll.groupBy(_._1).map { case (_, rows) =>
      rows.maxBy(r => (r._4, -r._2))
    }.toSeq.filter(_._4 >= 900000L).sortBy(_._1)
    val got = Ann.marginMiningBlocked(src, "id", "v", tgt, "id", "v",
      cents, k, 900000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).sortBy(_._1).toSeq
    assert(got == want)
    // candidate volume is sub-quadratic: Σ|src_c|·|tgt_c| < |src|·|tgt|
    // (this corpus spreads over >1 cell)
    val candidates = cents.indices.map(c =>
      srcPool(c).size.toLong * tgtPool(c).size).sum
    assert(candidates < srcV.size.toLong * tgtV.size,
      s"blocking degenerated: $candidates candidates")
    // recall vs exact mining: report-and-bound (cell boundaries make
    // it approximate by contract; on this fixture most best-margin
    // pairs stay within a cell)
    val exact = Ann.marginMining(src, "id", "v", tgt, "id", "v", k, 900000L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    val gotPairs = got.map(r => r._1 -> r._2).toSet
    val recall = if (exact.isEmpty) 1.0
      else gotPairs.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall $recall collapsed (exact=${exact.size})")
  }
}
