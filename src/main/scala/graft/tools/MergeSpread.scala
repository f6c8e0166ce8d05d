package graft.tools

import org.apache.spark.sql.functions._
import graft.sources.SnapshotLog

/** mergeInto rewrite-economics measurement (r16, the r15 verdict's
  * item-1 "Done" clause: rewritten-file count ∝ batch key spread,
  * measured at x10): build a range-compacted snapshot table from the
  * corpus's documents, then merge SAME-SIZED CDC batches whose keys
  * span increasing fractions of the id range, recording for each the
  * manifest-predicted touched files, the files actually dropped and
  * written by the commit, and the wall time. On a clustered table
  * the touched count must track the key spread (±1 boundary file),
  * NOT the batch row count — the fact that makes per-minute
  * streaming merge affordable at 100 TB.
  *
  * Usage: runMain graft.tools.MergeSpread [corpusDir] [targetRows]
  * Prints one JSON line per spread.
  */
object MergeSpread {

  def main(args: Array[String]): Unit = {
    val dir = if (args.length > 0) args(0) else "/root/repo/bigdata/x10"
    val targetRows = if (args.length > 1) args(1).toLong else 2000L
    val spark = graft.Session.local()
    import spark.implicits._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
      .withColumn("version", lit(1L))
    // REAL ids, sorted — the corpus's ids are sparse, so synthetic
    // arithmetic keys would mostly miss; a measurement tool may
    // collect them (50k longs at x10)
    val ids = docs.select("doc_id").orderBy("doc_id").as[Long].collect()
    val batchRows = 500
    for (spreadPct <- Seq(1, 5, 20, 50, 100)) {
      val table = java.nio.file.Files
        .createTempDirectory(s"graft_mspread_$spreadPct").toString + "/t"
      SnapshotLog.write(docs.repartition(16), table)
      SnapshotLog.compactInPlace(spark, table, targetRows,
        sortCols = Seq("doc_id"), statsCols = Seq("doc_id"))
      val before = SnapshotLog.snapshot(spark, table)
      // batchRows existing keys spread EVENLY over the first
      // spreadPct% of the id-sorted corpus
      val window = ids.take(math.max(1, ids.length * spreadPct / 100))
      val step = math.max(1, window.length / batchRows)
      val keys = window.indices.by(step).take(batchRows)
        .map(i => java.lang.Long.valueOf(window(i)))
      val batch = docs
        .filter(col("doc_id").isin(keys: _*))
        .withColumn("text", concat(col("text"), lit(" [m]")))
        .withColumn("version", lit(2L))
        .withColumn("op", lit("U"))
      val predicted = SnapshotLog.batchTouchedFiles(before, batch, "doc_id")
      val t0 = System.nanoTime()
      SnapshotLog.mergeInto(spark, table, batch,
        Seq("doc_id"), Seq("version"), Some("op"))
      val sec = (System.nanoTime() - t0) / 1e9
      val after = SnapshotLog.snapshot(spark, table)
      val dropped = before.files.count(f => !after.files.contains(f))
      val written = after.files.count(f => !before.files.contains(f))
      println(f"""{"spread_pct":$spreadPct,"batch_keys":${keys.size},""" +
        f""""files_total":${before.files.size},"touched_predicted":${predicted.size},""" +
        f""""files_dropped":$dropped,"files_written":$written,"merge_sec":$sec%.2f}""")
    }
    spark.stop()
  }
}
