package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-sweep corpus generator (r8): replicated sf0.1 tables with
  * deterministic per-replica perturbations, written MULTI-FILE so
  * scans parallelize (the single-row-group artifact of the driver's
  * sf0.1 parquet is documented in SURVEY §5).
  *
  * Why not just concatenate the source 10×: the driver's synthetic
  * documents draw from a 31-word vocabulary, which makes every doc
  * broadly similar to every other (random-pair jaccard ≈ 0.73) — at
  * that shape EVERY near-dup plan, on any engine, degenerates toward
  * all-pairs, and the ≤64-word bitmap fast path (correctly) claims
  * the corpus at any scale. Real corpora are the opposite: huge
  * vocabulary, similarity concentrated in duplicate clusters. The
  * generator restores that shape deterministically:
  *
  *   - documents: every token is suffixed with the base doc id
  *     (`spark` → `spark_17`), giving each of the 5k base docs its
  *     own disjoint 31-word vocabulary; replica r of a doc appends
  *     one rep-tag token `rq<r>`, so the 10 replicas of a doc form a
  *     near-dup cluster with pairwise jaccard ≈ 0.93 while
  *     cross-cluster jaccard is exactly 0. Docs with doc_id%7==0
  *     always tag `rq0` — their replicas are byte-identical (the
  *     exact-dup fraction a web crawl has).
  *   - embeddings: replica r scales ONE coordinate ((vec_id+r)%64)
  *     by 1.02 — cosine to the base stays ≈ 0.9998 (≥ the 0.99
  *     near-dup threshold), cross-cluster cosine stays random.
  *   - customer: replica r appends ` v<r>` to c_name (near-dup name
  *     clusters for the tf-idf string-sim sweep).
  *
  * Replica ids offset by r*1,000,000 so id arithmetic (mod-slicing
  * into batch/store) spreads clusters across slices.
  */
object GenCorpus {

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "bigdata"
    val spark = graft.Session.local()

    val docs = spark.read.parquet(s"$src/documents.parquet")
    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    val cust = spark.read.parquet(s"$src/customer.parquet")

    // NOTE the two-step selects: Spark's lateral-column-alias
    // resolution makes `col("doc_id")` inside a later expression of
    // the SAME select resolve to the freshly-aliased replica id, not
    // the child column — the base-id rename keeps the perturbation
    // expressions unambiguous (first sweep run silently produced
    // per-replica vocabularies and zero near-dup clusters).
    def docRep(r: Int): DataFrame = {
      val suffixed = array_join(
        transform(split(trim(col("text")), " +"),
          t => concat(t, lit("_"), col("base_id").cast("string"))), " ")
      val repTag = when(pmod(col("base_id"), lit(7)) === 0, lit("rq0"))
        .otherwise(lit(s"rq$r"))
      docs.select(col("doc_id").as("base_id"), col("text"), col("lang"), col("source"))
        .select(
          (col("base_id") + r * 1000000L).as("doc_id"),
          concat(suffixed, lit(" "), repTag).as("text"),
          col("lang"), col("source"))
        .withColumn("n_chars", length(col("text")))
    }

    def embRep(r: Int): DataFrame =
      emb.select(col("vec_id").as("base_id"), col("embedding"), col("label"))
        .select(
          (col("base_id") + r * 1000000L).as("vec_id"),
          transform(col("embedding"), (x, i) =>
            when(i === pmod(col("base_id") + r, lit(64)).cast("int"),
              (x * lit(1.02)).cast("float")).otherwise(x)).as("embedding"),
          col("label"))

    def custRep(r: Int): DataFrame =
      cust.select(
        (col("c_custkey") + r * 1000000L).as("c_custkey"),
        concat(col("c_name"), lit(s" v$r")).as("c_name"),
        col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))

    // x50 exists to push the near-dup EDGE count past the components'
    // default 500k union-find gate (C(50,2)·4286 non-exact clusters
    // ≈ 5M+ edges), so the distributed pointer-jumping path engages
    // with NO forced gates
    val sizes = Seq((1, "x1", 4), (3, "x3", 8), (10, "x10", 24), (50, "x50", 48))
    val wanted = if (args.length > 2) args(2).split(",").toSet else Set.empty[String]
    for ((reps, name, files) <- sizes
         if wanted.isEmpty || wanted.contains(name)) {
      (0 until reps).map(docRep).reduce(_ union _)
        .repartition(files)
        .write.mode("overwrite").parquet(s"$out/$name/documents.parquet")
      (0 until reps).map(embRep).reduce(_ union _)
        .repartition(math.max(files / 2, 2))
        .write.mode("overwrite").parquet(s"$out/$name/embeddings.parquet")
      (0 until reps).map(custRep).reduce(_ union _)
        .repartition(math.max(files / 2, 2))
        .write.mode("overwrite").parquet(s"$out/$name/customer.parquet")
      println(s"wrote $out/$name (reps=$reps, files=$files)")
    }
    spark.stop()
  }
}
