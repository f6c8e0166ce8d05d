package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.{CacheScope, Tables}
import graft.dedup.Dedup

/** Dev probe (r17): stage-marginal timing of the c33/e2e_maintain
  * index-upsert path — where do ~7 s go at sf0.1?
  * Usage: runMain graft.tools.IdxProbe <sfDir>
  */
object IdxProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Session.local()
    Tables.all.foreach(n => Tables.load(spark, dir, n).count())
    def time[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"PROBE $name ${(System.nanoTime() - t0) / 1e9}%.3f"); r
    }
    (1 to 2).foreach { round =>
      println(s"== round $round ==")
      val docs = Tables.load(spark, dir, "documents")
      def idx(df: DataFrame) = Dedup.minhashIndex(df, "text", "doc_id")
      // stage 1: the three index builds, materialized alone
      val i0 = idx(docs.filter(col("doc_id") % 3 === 0))
      val i1 = idx(docs.filter(col("doc_id") % 3 === 1))
      val ib = idx(docs.filter(col("doc_id") % 3 === 2))
      time("idx0_count")(i0.count())
      time("idx1_count")(i1.count())
      time("idxb_count")(ib.count())
      // stage 2: merge (guard + regroup) over the already-cached sides
      val merged = Dedup.mergeNearIndexes(i0, i1)
      time("merge_count")(merged.count())
      // stage 3: the banded match against the merged store
      val hits = Dedup.minhashMatchesIndexed(ib, merged, 0.9)
      time("match_count")(hits.count())
      CacheScope.clear()
      // end-to-end, fresh caches (what the gate pays)
      time("full_gate") {
        val m2 = Dedup.mergeNearIndexes(
          idx(docs.filter(col("doc_id") % 3 === 0)),
          idx(docs.filter(col("doc_id") % 3 === 1)))
        Dedup.minhashMatchesIndexed(idx(docs.filter(col("doc_id") % 3 === 2)),
          m2, 0.9).orderBy("batch_id", "store_id").count()
      }
      CacheScope.clear()
    }
    spark.stop()
  }
}

/** Sub-stage probe of minhashMatchesIndexed at sf0.1. */
object MatchProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Session.local()
    Tables.all.foreach(n => Tables.load(spark, dir, n).count())
    def time[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"PROBE $name ${(System.nanoTime() - t0) / 1e9}%.3f"); r
    }
    val docs = Tables.load(spark, dir, "documents")
    def idx(df: DataFrame) = Dedup.minhashIndex(df, "text", "doc_id")
    val i0 = idx(docs.filter(col("doc_id") % 3 === 0))
    val i1 = idx(docs.filter(col("doc_id") % 3 === 1))
    val ib0 = idx(docs.filter(col("doc_id") % 3 === 2))
    val merged0 = Dedup.mergeNearIndexes(i0, i1)
    val batchIndex = CacheScope.persist(ib0)
    val storeIndex = CacheScope.persist(merged0)
    time("warm_batch")(batchIndex.count())
    time("warm_store")(storeIndex.count())
    println("store_rows=" + storeIndex.count() + " batch_rows=" + batchIndex.count())
    val bb = batchIndex.select(explode(col("bks")).as("bk"), col("sid").as("bsid"))
    val sb = storeIndex.select(explode(col("bks")).as("bk"), col("sid").as("ssid"))
    val joined = bb.join(sb, "bk").select("bsid", "ssid")
    time("band_join_rows")(println("  rows=" + joined.count()))
    val cands = CacheScope.persist(joined.distinct())
    time("cand_distinct")(println("  cands=" + cands.count()))
    val attached = cands
      .join(batchIndex.select(col("sid").as("bsid"), col("ws").as("ws_b"),
        col("ids").as("ids_b")), "bsid")
      .join(storeIndex.select(col("sid").as("ssid"), col("ws").as("ws_s"),
        col("ids").as("ids_s")), "ssid")
    val scored = attached.select(col("ids_b"), col("ids_s"),
      round(Dedup.jaccard(col("ws_b"), col("ws_s")), 4).as("jaccard"))
      .filter(col("jaccard") >= 0.9)
    time("attach_score")(println("  hits=" + scored.count()))
    spark.stop()
  }
}

/** d34b-shape sub-stage probe (batch = 2/3, store = 1/3). */
object MatchProbe2 {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Session.local()
    Tables.all.foreach(n => Tables.load(spark, dir, n).count())
    def time[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"PROBE $name ${(System.nanoTime() - t0) / 1e9}%.3f"); r
    }
    val docs = Tables.load(spark, dir, "documents")
    def idx(df: DataFrame) = Dedup.minhashIndex(df, "text", "doc_id")
    val batchIndex = CacheScope.persist(idx(docs.filter(col("doc_id") % 3 =!= 0)))
    val storeIndex = CacheScope.persist(idx(docs.filter(col("doc_id") % 3 === 0)))
    time("warm_batch")(batchIndex.count())
    time("warm_store")(storeIndex.count())
    println("store_rows=" + storeIndex.count() + " batch_rows=" + batchIndex.count())
    val bb = batchIndex.select(explode(col("bks")).as("bk"), col("sid").as("bsid"))
    val sb = storeIndex.select(explode(col("bks")).as("bk"), col("sid").as("ssid"))
    val joined = bb.join(sb, "bk").select("bsid", "ssid")
    time("band_join_rows")(println("  rows=" + joined.count()))
    val cands = CacheScope.persist(joined.distinct())
    time("cand_distinct")(println("  cands=" + cands.count()))
    val attached = cands
      .join(batchIndex.select(col("sid").as("bsid"), col("ws").as("ws_b"),
        col("ids").as("ids_b")), "bsid")
      .join(storeIndex.select(col("sid").as("ssid"), col("ws").as("ws_s"),
        col("ids").as("ids_s")), "ssid")
    val scored = attached.select(col("ids_b"), col("ids_s"),
      round(Dedup.jaccard(col("ws_b"), col("ws_s")), 4).as("jaccard"))
      .filter(col("jaccard") >= 0.9)
    time("attach_score")(println("  hits=" + scored.count()))
    // full gate for reference
    CacheScope.clear()
    time("full_d34b_gate")(
      Dedup.dedupNearAgainstStoreBanded(docs.filter(col("doc_id") % 3 =!= 0),
        docs.filter(col("doc_id") % 3 === 0), "text", "doc_id", 0.9)
        .select("doc_id").orderBy("doc_id").count())
    spark.stop()
  }
}

/** Bench-style 3-runs-then-clear timing (cache reuse across runs). */
object BenchStyle {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val names = args.drop(1).toSeq
    val spark = graft.Session.local()
    Tables.all.foreach(n => Tables.load(spark, dir, n).count())
    names.foreach { n =>
      (1 to 3).foreach { i =>
        val t0 = System.nanoTime()
        graft.SparkEntry.queries(n)(spark, dir).count()
        println(f"TIME $n run$i ${(System.nanoTime() - t0) / 1e9}%.3f")
      }
      CacheScope.clear()
    }
    spark.stop()
  }
}

/** Measure size-bound prune rate on the c33 candidate set. */
object SizeBound {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Session.local()
    val docs = Tables.load(spark, dir, "documents")
    docs.select(size(Dedup.wordSet(col("text"))).as("sz"))
      .agg(min(col("sz")), expr("percentile(sz, array(0.05,0.25,0.5,0.75,0.95))"), max(col("sz")))
      .show(false)
    def idx(df: DataFrame) = Dedup.minhashIndex(df, "text", "doc_id")
    val batchIndex = CacheScope.persist(idx(docs.filter(col("doc_id") % 3 === 2)))
    val storeIndex = CacheScope.persist(
      Dedup.mergeNearIndexes(idx(docs.filter(col("doc_id") % 3 === 0)),
        idx(docs.filter(col("doc_id") % 3 === 1))))
    val bb = batchIndex.select(explode(col("bks")).as("bk"), col("sid").as("bsid"))
    val sb = storeIndex.select(explode(col("bks")).as("bk"), col("sid").as("ssid"))
    val cands = bb.join(sb, "bk").select("bsid", "ssid").distinct()
    val szB = batchIndex.select(col("sid").as("bsid"), size(col("ws")).as("sz_b"))
    val szS = storeIndex.select(col("sid").as("ssid"), size(col("ws")).as("sz_s"))
    val withSz = cands.join(broadcast(szB), "bsid").join(broadcast(szS), "ssid")
    val kept = withSz.filter(
      least(col("sz_b"), col("sz_s")) * lit(1000000L) >=
        lit(math.floor(0.9 * 1e6).toLong) * greatest(col("sz_b"), col("sz_s")))
    println("cands=" + withSz.count() + " kept_after_size_bound=" + kept.count())
    spark.stop()
  }
}

/** Streaming micro-batch duration breakdown for an s5-shaped replay. */
object StreamProbe {
  def main(args: Array[String]): Unit = {
    val dir0 = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Session.local()
    Tables.all.foreach(n => Tables.load(spark, dir0, n).count())
    (1 to 2).foreach { round =>
      val t0 = System.nanoTime()
      val ev0 = Tables.load(spark, dir0, "events")
      val ev = ev0.withColumn("tsw", Tables.asTimestamp(ev0, "ts"))
        .filter(col("tsw").isNotNull)
      // replicate replayArrivals but keep the query handle
      import java.nio.file.{Files, Paths}
      val dir = "/tmp/graft_gate/sprobe_arrivals"
      val root = Paths.get(dir)
      def deleteRec(p: java.nio.file.Path): Unit = if (Files.exists(p)) {
        Files.walk(p).sorted(java.util.Comparator.reverseOrder())
          .forEach(f => Files.delete(f))
      }
      deleteRec(root); Files.createDirectories(root)
      val mm = ev.agg(min(unix_micros(col("tsw"))).as("mn"),
        max(unix_micros(col("tsw"))).as("mx")).head()
      val (mn, mx) = (mm.getLong(0), mm.getLong(1))
      val span = mx - mn + 1
      val nBatches = 3
      val slices = (0 until nBatches).map { k =>
        val lo = mn + span * k / nBatches
        val hi = if (k == nBatches - 1) mx + 1 else mn + span * (k + 1) / nBatches
        ev.filter(unix_micros(col("tsw")) >= lo && unix_micros(col("tsw")) < hi)
      } :+ ev.limit(1).withColumn("tsw", timestamp_micros(lit(mx + 86400000000L)))
      val tw = System.nanoTime()
      val tmp = Files.createTempDirectory("sprobe_tmp")
      slices.zipWithIndex.foreach { case (s0, k) =>
        s0.coalesce(1).write.mode("overwrite").parquet(s"$tmp/b$k")
      }
      val base = System.currentTimeMillis() - 3600000L
      (0 until slices.size).foreach { k =>
        val part = new java.io.File(s"$tmp/b$k").listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        val dest = root.resolve(f"batch_$k%04d.parquet")
        Files.move(part.toPath, dest)
        dest.toFile.setLastModified(base + k * 60000L)
      }
      println(f"PROBE arrival_writes ${(System.nanoTime() - tw) / 1e9}%.3f")
      val ss = spark.newSession()
      ss.conf.set("spark.sql.shuffle.partitions", "4")
      val stream = ss.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1").parquet(dir)
      val ckpt = Files.createTempDirectory("sprobe_ckpt")
      val out = graft.streaming.StreamingDQ.windowedFrequentItems(
        stream, "tsw", "event_type", windowDur = "6 hours")
      val q = out.writeStream
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
        .format("memory").queryName(s"sprobe_$round")
        .option("checkpointLocation", ckpt.toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      println(f"PROBE stream_total ${(System.nanoTime() - t0) / 1e9}%.3f")
      q.recentProgress.foreach { p =>
        println(s"  batch=${p.batchId} rows=${p.numInputRows} " +
          s"durationMs=${p.durationMs}")
      }
      deleteRec(ckpt)
    }
    spark.stop()
  }
}
