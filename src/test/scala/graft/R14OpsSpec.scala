package graft

import org.apache.spark.sql.functions._
import graft.ann.{Ann, Pq, Quantize}
import graft.dedup.Dedup

/** r14 second wave: D99 IVF-PQ serving, D100 binary sign
  * quantization + Hamming pre-rank, C33 near-store index upsert.
  */
class R14OpsSpec extends SparkSpec {
  import spark.implicits._

  // 4-dim toy corpus with distinct, hand-controllable geometry
  private def toyEmb = Seq(
    (0L, Array(1.0f, 0.1f, 0.0f, 0.0f)),
    (1L, Array(0.9f, 0.2f, 0.1f, 0.0f)),
    (2L, Array(-1.0f, 0.0f, 0.2f, 0.1f)),
    (3L, Array(0.0f, 1.0f, -0.3f, 0.2f)),
    (4L, Array(0.1f, 0.9f, 0.1f, -0.1f)),
    (5L, Array(-0.2f, -0.9f, 0.4f, 0.3f)),
    (6L, Array(0.5f, 0.5f, 0.5f, 0.5f)),
    (7L, Array(-0.5f, 0.4f, -0.6f, 0.7f))).toDF("vec_id", "embedding")

  // ---------------- D99: IVF-PQ ----------------

  test("D99: vacuous dial (1 coarse cell, rerank = N) equals the exact L2 scan") {
    val emb = toyEmb
    val coarse = Array(Array(0.0, 0.0, 0.0, 0.0))
    val cb = Pq.codebooksBySample(emb, "embedding", "vec_id", m = 2, k = 4, dim = 4)
    val got = Pq.ivfPqTopK(emb, "embedding", "vec_id", coarse, cb,
      Array(1.0, 0.1, 0.0, 0.0), k = 8, nprobe = 1, rerank = 8)
      .select("vec_id", "l2").collect().map(r => (r.getLong(0), r.getDouble(1)))
    // exact squared L2, same rounding, same (l2 asc, id asc) order
    val q = Array(1.0, 0.1, 0.0, 0.0)
    val exact = emb.collect().map { r =>
      val v = r.getSeq[Float](1).map(_.toDouble).toArray
      val qq = q.map(x => x * x).sum
      val qv = q.zip(v).map { case (a, b) => a * b }.sum
      val vv = v.map(x => x * x).sum
      (r.getLong(0), BigDecimal(qq - 2 * qv + vv)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.sortBy { case (id, d) => (d, id) }
    assert(got.toSeq == exact.toSeq)
  }

  test("D99: probeCells ranks by dot(c,c)-2*dot(q,c), ties to the earlier index") {
    val c = Array(Array(1.0, 0.0), Array(0.0, 1.0), Array(1.0, 0.0))
    // query (1,0): cells 0 and 2 tie at -1; cell 1 scores 1
    assert(Pq.probeCells(c, Array(1.0, 0.0), 2).toSeq == Seq(0, 2))
    assert(Pq.probeCells(c, Array(1.0, 0.0), 5).toSeq == Seq(0, 2, 1))
  }

  test("D99: cell-partitioned index is read with partition pruning; " +
       "indexed serving equals the in-memory path") {
    val emb = toyEmb
    val coarse = Array(Array(1.0, 0.0, 0.0, 0.0), Array(-1.0, 0.0, 0.0, 0.0),
      Array(0.0, 1.0, 0.0, 0.0))
    val cb = Pq.codebooksBySample(emb, "embedding", "vec_id", m = 2, k = 4, dim = 4)
    val dir = java.nio.file.Files.createTempDirectory("ivfpq").toString
    Pq.ivfPqIndex(emb, "embedding", "vec_id", coarse, cb)
      .write.mode("overwrite").partitionBy("cell").parquet(dir)
    val stored = spark.read.parquet(dir)
    val q = Array(0.9, 0.2, 0.0, 0.0)
    val cells = Pq.probeCells(coarse, q, 2)
    val pruned = stored.filter(col("cell")
      .isin(cells.map(Integer.valueOf).toIndexedSeq: _*))
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell"),
      s"expected cell partition pruning in plan:\n$plan")
    val viaStore = Pq.ivfPqTopKIndexed(stored, emb, "embedding", "vec_id",
      coarse, cb, q, k = 3, nprobe = 2, rerank = 5).collect().toSeq
    val viaMem = Pq.ivfPqTopK(emb, "embedding", "vec_id", coarse, cb,
      q, k = 3, nprobe = 2, rerank = 5).collect().toSeq
    assert(viaStore == viaMem)
  }

  test("D99: a neighbor outside the probed cells is missed (the IVF recall contract)") {
    val emb = toyEmb
    // cells: +x and +y; query sits in +x, its true 2nd neighbor id 3 lives in +y
    val coarse = Array(Array(1.0, 0.0, 0.0, 0.0), Array(0.0, 1.0, 0.0, 0.0))
    val cb = Pq.codebooksBySample(emb, "embedding", "vec_id", m = 2, k = 4, dim = 4)
    val got = Pq.ivfPqTopK(emb, "embedding", "vec_id", coarse, cb,
      Array(1.0, 0.1, 0.0, 0.0), k = 8, nprobe = 1, rerank = 8)
      .select("vec_id").as[Long].collect().toSet
    val cellsOf = Pq.ivfPqIndex(emb, "embedding", "vec_id", coarse, cb)
      .select("vec_id", "cell").as[(Long, Int)].collect().toMap
    assert(got.forall(id => cellsOf(id) == 0), "nprobe=1 must only return cell-0 rows")
    assert(got.size < 8)
  }

  test("D101: batch IVF-PQ equals the single-query indexed path per query") {
    val emb = toyEmb
    val coarse = Array(Array(1.0, 0.0, 0.0, 0.0), Array(-1.0, 0.0, 0.0, 0.0),
      Array(0.0, 1.0, 0.0, 0.0))
    val cb = Pq.codebooksBySample(emb, "embedding", "vec_id", m = 2, k = 4, dim = 4)
    val index = Pq.ivfPqIndex(emb, "embedding", "vec_id", coarse, cb)
    val qids = Seq(0L, 3L, 7L)
    val queries = emb.filter(col("vec_id").isin(qids: _*))
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val batch = Pq.ivfPqBatchTopK(index, emb, "embedding", "vec_id",
      coarse, cb, queries, "qid", "qv", k = 3, nprobe = 2, rerank = 5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(4)))
      .groupBy(_._1)
    val vecOf = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    qids.foreach { qid =>
      val single = Pq.ivfPqTopKIndexed(index, emb, "embedding", "vec_id",
        coarse, cb, vecOf(qid), k = 3, nprobe = 2, rerank = 5)
        .select("vec_id").as[Long].collect().toSeq
      val got = batch(qid).sortBy(_._2).map(_._3).toSeq
      assert(got == single, s"qid $qid: batch $got vs single $single")
    }
  }

  test("D101: the batch plan has no Window and broadcasts the query side") {
    val emb = toyEmb
    val coarse = Array(Array(0.0, 0.0, 0.0, 0.0))
    val cb = Pq.codebooksBySample(emb, "embedding", "vec_id", m = 2, k = 4, dim = 4)
    val index = Pq.ivfPqIndex(emb, "embedding", "vec_id", coarse, cb)
    val queries = emb.limit(2)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val plan = Pq.ivfPqBatchTopK(index, emb, "embedding", "vec_id",
      coarse, cb, queries, "qid", "qv", k = 2, nprobe = 1, rerank = 4)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"expected no Window in:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"expected a broadcast query side in:\n$plan")
  }

  // ---------------- D100: binary sign codes ----------------

  test("D100: signCodes hand-check — 32 dims per word, strictly-positive bits") {
    val df = Seq(
      (1L, Array.tabulate(4)(i => Array(1.0f, -0.5f, 0.25f, 0.0f)(i))),
      (2L, null.asInstanceOf[Array[Float]])).toDF("id", "v")
    val got = df.select(col("id"), Quantize.signCodes(col("v"), 4).as("c"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(got(1L).get.asInstanceOf[scala.collection.Seq[Long]].toSeq == Seq(5L))
    assert(got(2L).isEmpty, "null vector must give null codes")
  }

  test("D100: a 33rd positive dim lands on word 1 bit 0; local packer agrees") {
    val v = Array.fill(33)(-1.0f); v(0) = 1f; v(32) = 2f
    val df = Seq((1L, v)).toDF("id", "v")
    val got = df.select(Quantize.signCodes(col("v"), 33)).collect()(0)
      .getSeq[Long](0).toSeq
    assert(got == Seq(1L, 1L))
    assert(Quantize.signCodesLocal(v.map(_.toDouble)).toSeq == got)
  }

  test("D100: hammingDist counts differing sign bits exactly") {
    val df = Seq((Array(0x5L, 0x1L), Array(0x6L, 0x1L))).toDF("a", "b")
    // 0x5 xor 0x6 = 0x3 -> 2 bits; word 2 equal
    assert(df.select(Quantize.hammingDist(col("a"), col("b"))).collect()(0)
      .getLong(0) == 2L)
  }

  test("D100: binaryTopK with rerank = N equals the exact cosine scan; self at hamming 0") {
    val emb = toyEmb
    val q = Array(1.0, 0.1, 0.0, 0.0) // = vector 0
    val got = Quantize.binaryTopK(emb, "embedding", "vec_id", q, k = 8, rerank = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val exact = Ann.cosineTopK(emb, "embedding", "vec_id", q, 8)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.map(r => (r._1, r._3)).toSeq == exact.toSeq)
    assert(got.head._1 == 0L && got.head._2 == 0L,
      "the query's own vector must be found at Hamming distance 0")
  }

  test("D100: a tight shortlist can miss a true neighbor (the rerank contract)") {
    // corpus where Hamming misranks: vec 1 shares signs with q on all
    // dims, vec 2 differs in sign on dim 2 yet has the higher cosine
    val emb = Seq(
      (1L, Array(0.1f, 0.1f, 1.0f, 0.1f)),
      (2L, Array(1.0f, 1.0f, -0.01f, 1.0f)),
      (3L, Array(-1.0f, -1.0f, -1.0f, -1.0f))).toDF("vec_id", "embedding")
    val q = Array(1.0, 1.0, 0.5, 1.0)
    val tight = Quantize.binaryTopK(emb, "embedding", "vec_id", q, k = 1, rerank = 1)
      .select("vec_id").as[Long].collect().toSeq
    val wide = Quantize.binaryTopK(emb, "embedding", "vec_id", q, k = 1, rerank = 3)
      .select("vec_id").as[Long].collect().toSeq
    assert(tight == Seq(1L), "rerank=1 keeps only the Hamming-nearest")
    assert(wide == Seq(2L), "a wider shortlist lets exact cosine win")
  }

  // ---------------- D103: Hilbert curve (HilbertIndexN at n = 2) ----------------

  test("D103: bijective with unit-step adjacency over the full 8x8 grid; Morton jumps") {
    val pts = for (a <- 0 until 8; b <- 0 until 8) yield (a.toLong, b.toLong)
    val df = pts.toDF("x", "y")
    val got = df.select(col("x"), col("y"),
        graft.sources.HilbertIndexN(Seq(col("x"), col("y")), 3).as("h"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.map(_._3).toSet == (0L until 64L).toSet, "must be a bijection onto 0..63")
    val byH = got.map(t => t._3 -> ((t._1, t._2))).toMap
    (0L until 63L).foreach { h =>
      val (x1, y1) = byH(h); val (x2, y2) = byH(h + 1)
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1,
        s"Hilbert step $h -> ${h + 1} must be a grid neighbor")
    }
    val byZ = df.select(col("x"), col("y"),
        graft.sources.Zorder.interleave(col("x"), col("y"), 3).as("z"))
      .collect().map(r => r.getLong(2) -> ((r.getLong(0), r.getLong(1)))).toMap
    val zJumps = (0L until 63L).count { h =>
      val (x1, y1) = byZ(h); val (x2, y2) = byZ(h + 1)
      math.abs(x1 - x2) + math.abs(y1 - y2) != 1
    }
    assert(zJumps > 0, "the Morton curve must jump where Hilbert does not")
  }

  test("D103: starts at the origin; nulls propagate; high input bits are masked") {
    val df = Seq((Some(0L), Some(0L)), (None, Some(1L)), (Some(9L), Some(0L)))
      .toDF("x", "y")
    val got = df.select(graft.sources.HilbertIndexN(Seq(col("x"), col("y")), 3).as("h"))
      .collect().map(r => Option(r.get(0)))
    assert(got(0).contains(0L), "curve starts at (0,0)")
    assert(got(1).isEmpty, "null coordinate -> null index")
    // 9 & 7 = 1: same as (1, 0)
    val ref = Seq((1L, 0L)).toDF("x", "y")
      .select(graft.sources.HilbertIndexN(Seq(col("x"), col("y")), 3)).collect()(0).getLong(0)
    assert(got(2).contains(ref))
  }

  // ---------------- D102: count-min sketch ----------------

  test("D102: exact on a small key set; merge of slice sketches is byte-identical to whole") {
    import graft.functions.{CountMinAgg, CountMinMergeAgg, CountMinEstimate}
    val df = (1L to 300L).map(i => (i, s"k${i % 7}")).toDF("id", "k")
    val whole = df.agg(CountMinAgg(col("k"), 5, 1024, 42).as("sk"))
    val merged = df.groupBy(pmod(col("id"), lit(3)).as("_s"))
      .agg(CountMinAgg(col("k"), 5, 1024, 42).as("sk"))
      .agg(CountMinMergeAgg(col("sk"), 5, 1024, 42).as("sk"))
    val wb = whole.collect()(0).getAs[Array[Byte]](0)
    val mb = merged.collect()(0).getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(wb, mb), "merge must equal the whole-corpus build")
    val keys = (0 until 7).map(i => s"k$i").toDF("k")
    val est = keys.crossJoin(broadcast(whole))
      .select(col("k"), CountMinEstimate(col("sk"), col("k")).as("e"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = df.groupBy("k").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, n) =>
      assert(est(k) == n, s"$k: est ${est(k)} != exact $n at width 1024") }
  }

  test("D102: never undercounts, even when a tiny width forces collisions; nulls skipped") {
    import graft.functions.{CountMinAgg, CountMinEstimate}
    val rows = (1L to 200L).map(i => (i, s"key_${i % 23}")) :+ (0L, null.asInstanceOf[String])
    val df = rows.toDF("id", "k")
    val sk = df.agg(CountMinAgg(col("k"), 2, 4, 7).as("sk"))
    val keys = (0 until 23).map(i => s"key_$i").toDF("k")
    val est = keys.crossJoin(broadcast(sk))
      .select(col("k"), CountMinEstimate(col("sk"), col("k")).as("e"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = df.filter(col("k").isNotNull).groupBy("k").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, n) =>
      assert(est(k) >= n, s"$k: CMS must never undercount (${est(k)} < $n)") }
    assert(exact.exists { case (k, n) => est(k) > n },
      "width 4 over 23 keys must witness at least one collision overcount")
    val total = est.values.sum
    assert(total >= 200L, "null contributed nothing, collisions only inflate")
  }

  // ---------------- C34: mojibake repair ----------------

  test("C34: cp1252/latin-1/double mojibake repaired; clean text and nulls untouched") {
    val df = Seq(
      (1L, "donâ€™t"), (2L, "cafÃ©"), (3L, "ÃƒÂ©"),
      (4L, "hello world"), (5L, "café"), (6L, "日本語"),
      (7L, null.asInstanceOf[String])).toDF("id", "s")
    val got = df.select(col("id"),
        graft.functions.FixMojibake(col("s")).as("f"))
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(got(1L).contains("don’t"), s"cp1252 path: ${got(1L)}")
    assert(got(2L).contains("café"), s"latin-1 path: ${got(2L)}")
    assert(got(3L).contains("é"), s"double-encoded path: ${got(3L)}")
    assert(got(4L).contains("hello world"))
    assert(got(5L).contains("café"), "genuine accented text must NOT be rewritten")
    assert(got(6L).contains("日本語"), "multi-byte text must NOT be rewritten")
    assert(got(7L).isEmpty, "null in, null out")
  }

  test("C34: idempotent, and detection flags exactly the damaged rows") {
    val df = Seq((1L, "donâ€™t"), (2L, "plain"), (3L, "café"))
      .toDF("id", "s")
    val once = df.select(col("id"),
      graft.functions.FixMojibake(col("s")).as("f"))
    val twice = once.select(col("id"),
        graft.functions.FixMojibake(col("f")).as("f2"), col("f"))
      .collect()
    twice.foreach(r => assert(r.getString(1) == r.getString(2), "must be idempotent"))
    val flagged = df
      .filter(graft.functions.FixMojibake(col("s")) =!= col("s"))
      .select("id").as[Long].collect().toSet
    assert(flagged == Set(1L))
  }

  // ---------------- C33: near-index upsert ----------------

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  private def canon(idx: org.apache.spark.sql.DataFrame) =
    idx.select(col("sid"), sort_array(col("ids")).as("ids"),
        sort_array(col("ws")).as("ws"), col("bks"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toSeq,
        r.getSeq[String](2).toSeq, r.getSeq[Any](3).toSeq)).toSet

  test("C33: mergeNearIndexes(index(a), index(b)) equals index(a ++ b)") {
    val a = docs(1L -> "alpha beta gamma", 2L -> "delta epsilon zeta",
      3L -> "alpha beta gamma")
    val b = docs(4L -> "alpha beta gamma", 5L -> "eta theta iota")
    val merged = Dedup.mergeNearIndexes(
      Dedup.minhashIndex(a, "text", "doc_id", bands = 8, rowsPerBand = 2),
      Dedup.minhashIndex(b, "text", "doc_id", bands = 8, rowsPerBand = 2))
    val full = Dedup.minhashIndex(a.unionByName(b), "text", "doc_id",
      bands = 8, rowsPerBand = 2)
    assert(canon(merged) == canon(full))
  }

  test("C33: re-ingesting the same (id, text) is idempotent") {
    val a = docs(1L -> "alpha beta", 2L -> "gamma delta")
    val ia = Dedup.minhashIndex(a, "text", "doc_id", bands = 4, rowsPerBand = 2)
    val merged = Dedup.mergeNearIndexes(ia, ia)
    assert(canon(merged) == canon(ia))
  }

  test("C33: matches through the merged index equal matches through the full rebuild") {
    val store1 = docs(1L -> "the quick brown fox jumps", 2L -> "pack my box with jugs")
    val store2 = docs(3L -> "the quick brown fox leaps", 4L -> "wholly unrelated words here")
    val batch = docs(10L -> "the quick brown fox jumps", 11L -> "nothing matches this text")
    def idx(df: org.apache.spark.sql.DataFrame) =
      Dedup.minhashIndex(df, "text", "doc_id", bands = 16, rowsPerBand = 2)
    val viaMerge = Dedup.minhashMatchesIndexed(idx(batch),
      Dedup.mergeNearIndexes(idx(store1), idx(store2)), 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val viaFull = Dedup.minhashMatchesIndexed(idx(batch),
      idx(store1.unionByName(store2)), 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaMerge == viaFull && viaMerge.nonEmpty)
  }

  test("C33: merging an empty increment is the identity (modulo member-id order)") {
    val a = docs(1L -> "alpha beta", 2L -> "gamma delta")
    val empty = docs().filter(lit(false))
    val ia = Dedup.minhashIndex(a, "text", "doc_id", bands = 4, rowsPerBand = 2)
    val ie = Dedup.minhashIndex(empty, "text", "doc_id", bands = 4, rowsPerBand = 2)
    assert(canon(Dedup.mergeNearIndexes(ia, ie)) == canon(ia))
  }
}
