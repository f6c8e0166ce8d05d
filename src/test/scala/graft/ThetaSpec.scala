package graft

import org.apache.spark.sql.functions._
import graft.dedup.Sketch

/** D83 theta set algebra: exact-regime correctness vs brute force,
  * mergeability (the property the 100 TB story rides on), set-op
  * composition, estimation-regime published bounds, validation, and
  * that sketches written by DataSketches directly still merge.
  */
class ThetaSpec extends SparkSpec {
  import spark.implicits._

  test("thetaSourceAlgebra exact regime: every cell equals brute-force set arithmetic") {
    // engineered overlaps: A = 40 contents, B shares 15 of them,
    // C is disjoint; plus in-source duplicates (distinct semantics)
    val rows =
      (0 until 40).map(i => ("A", s"doc $i")) ++
      (0 until 15).map(i => ("B", s"doc $i")) ++
      (100 until 125).map(i => ("B", s"doc $i")) ++
      (200 until 230).map(i => ("C", s"doc $i")) ++
      Seq(("A", "doc 0"), ("B", "doc 100"), ("C", "doc  200")) // dups (norm collapses ws)
    val df = rows.toDF("source", "text")
    val r = Sketch.thetaSourceAlgebra(df, "text", "source", lgK = 12)
      .collect().map(x => (x.getString(0), x.getString(1)) ->
        (x.getLong(2), x.getLong(3), x.getLong(4), x.getLong(5), x.getLong(6), x.getLong(7))).toMap
    assert(r(("A", "B")) == ((40L, 40L, 65L, 15L, 25L, 25L)))
    assert(r(("A", "C")) == ((40L, 30L, 70L, 0L, 40L, 30L)))
    assert(r(("B", "C")) == ((40L, 30L, 70L, 0L, 40L, 30L)))
    assert(r(("__all__", "__all__"))._3 == 95L) // 40+25+30 distinct overall
  }

  test("theta sketches are mergeable: union of per-slice sketches == whole-corpus sketch") {
    val docs = (0 until 300).map(i => (i % 7, s"content ${i % 120}")).toDF("slice", "text")
    val perSlice = docs.groupBy(col("slice"))
      .agg(theta_sketch_agg(col("text"), 12).as("sk"))
    val merged = perSlice.agg(theta_sketch_estimate(theta_union_agg(col("sk"), 12)))
      .head().getLong(0)
    val whole = docs.agg(theta_sketch_estimate(theta_sketch_agg(col("text"), 12)))
      .head().getLong(0)
    assert(merged == 120L && whole == 120L)
  }

  test("theta_union then theta_intersection composes on the result sketch") {
    // (A ∪ B) ∩ C where A={0..49}, B={30..79}, C={60..99} → {60..79} = 20
    def sk(lo: Int, hi: Int) = (lo until hi).map(i => s"x$i").toDF("t")
      .agg(theta_sketch_agg(col("t"), 12).as("sk"))
    val joined = sk(0, 50).select(col("sk").as("a"))
      .crossJoin(sk(30, 80).select(col("sk").as("b")))
      .crossJoin(sk(60, 100).select(col("sk").as("c")))
    val got = joined.select(theta_sketch_estimate(
      theta_intersection(theta_union(col("a"), col("b"), 26), col("c"))))
      .head().getLong(0)
    assert(got == 20L)
  }

  test("estimation regime: exact count within the sketch's published 2-sigma bounds") {
    // 50k distinct at lgK=8 (256 nominal) — deep estimation territory.
    // The gate never grades this regime; the published bound claims
    // hold instead (same scheme as D69's purge-regime spec).
    val n = 50000
    val bytes = (0 until n).map(i => s"item $i").toDF("t")
      .agg(theta_sketch_agg(col("t"), 8).as("sk"))
      .head().getAs[Array[Byte]](0)
    val s = org.apache.datasketches.theta.Sketches.heapifySketch(
      org.apache.datasketches.memory.Memory.wrap(bytes))
    assert(s.getLowerBound(2) <= n && n <= s.getUpperBound(2),
      s"exact $n outside [${s.getLowerBound(2)}, ${s.getUpperBound(2)}]")
    assert(math.abs(s.getEstimate - n) / n < 0.25, "estimate grossly off")
  }

  test("thetaSourceAlgebra(lgK = 2) throws before any job") {
    val df = Seq(("A", "doc")).toDF("source", "text")
    // theta_sketch_agg itself plans lgK 2 and fails only inside a task
    df.agg(theta_sketch_agg(col("text"), 2)).queryExecution.executedPlan
    // the operator builds its frames lazily, so only a driver-side
    // check can throw from the call itself
    val e = intercept[IllegalArgumentException] {
      Sketch.thetaSourceAlgebra(df, "text", "source", lgK = 2)
    }
    assert(e.getMessage.contains("lgK out of range"))
  }

  test("a DataSketches UpdateSketch of strings merges with theta_sketch_agg exactly") {
    // the compact bytes of UpdateSketch.update(String) are the format
    // snapshot sketches were persisted in; Spark hashes the same UTF-8
    // bytes, so overlapping strings must collapse in the union
    val direct = org.apache.datasketches.theta.UpdateSketch.builder()
      .setNominalEntries(4096).build()
    (0 until 300).foreach(i => direct.update(s"doc $i"))
    val old = Seq(direct.compact().toByteArray).toDF("sk")
    val fresh = (200 until 500).map(i => s"doc $i").toDF("t")
      .agg(theta_sketch_agg(col("t"), 12).as("sk"))
    val got = old.unionByName(fresh)
      .agg(theta_sketch_estimate(theta_union_agg(col("sk"), 26)))
      .head().getLong(0)
    assert(got == 500L)
  }
}
