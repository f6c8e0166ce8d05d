package graftbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types._

import graft.corrector.Corrector
import graft.dedup.{Components, Dedup}
import graft.pipeline.Pipeline
import graft.quality.Rule
import graft.sources.{SnapshotLog, Sources}
import graft.streaming.StreamingDQ
import graft.text.TextAnalysis

/** The training-data build, kept as a lake table that a stream feeds.
  *
  * Set-up writes the corpus as a [[SnapshotLog]] table and its content
  * fingerprints as the dedup store. One pass is one closed-loop cycle:
  *
  *  1. ingest: an increment file (fresh documents, re-deliveries, and
  *     replays of documents already in the corpus) runs through
  *     `StreamingDQ.streamingDedupAgainstStore` with `Rule.anyViolation`
  *     flags into a `foreachBatch` sink that `mergeInto`s the table;
  *  1. `readChanges` of that commit;
  *  1. curate the latest snapshot: quality filter → normalize → exact
  *     dedup → minhash near-dup pairs → keep-best per component →
  *     decontaminate → split/pack → sharded JSONL export;
  *  1. restore: `deleteRange` drops the increment again, then `vacuum`.
  *
  * Every cycle therefore curates the same documents. The vocabulary has
  * far more than 64 words, so `minhashPairs` takes its LSH branch.
  * Exact- and near-dup clusters, low-quality documents and contaminated
  * copies of a held-out benchmark slice are planted, and the expected
  * keep set is derived from that structure.
  */
final class CurateCorpus(spark: SparkSession, seed: Long, nproc: Int, corrupt: Boolean)
    extends Workload {
  import CurateCorpus._

  private val files = math.max(8, nproc * 2)
  private var root: File = _
  private var plan: Plan = _
  private var fp = ""
  private var cycle = 0
  private val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
  private var extras = Map.empty[String, Double]
  private var seen = Map.empty[String, Long]

  /** Bytes of the table files created since the last call. */
  private def tableWrites(): Long = {
    val now = Files.listing(new File(table))
    val added = now.iterator.filterNot(e => seen.contains(e._1)).map(_._2).sum
    seen = now
    added
  }

  spark.streams.addListener(new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.synchronized { progress += e.progress; () }
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  })

  def fingerprint: String = fp
  private def table = new File(root, "table").getAbsolutePath

  def setup(dir: File): Unit = {
    val p = generate(seed)
    plan = if (corrupt) p.copy(expectedKeep = p.expectedKeep - p.expectedKeep.head) else p
    Files.delete(dir)
    if (root != null && root != dir) Files.delete(root)
    root = dir
    cycle = 0
    def frame(rows: Seq[(Long, String, String)]) =
      spark.createDataFrame(java.util.Arrays.asList(rows.map(t => Row(t._1, t._2, t._3)): _*), DocSchema)
    val corpus = frame(p.docs).repartition(files)
    SnapshotLog.write(corpus, table, statsCols = Seq("id"))
    Gen.writeParquet(frame(p.bench), new File(dir, "benchmark"), 1)
    Dedup.fingerprints(spark.read.parquet(SnapshotLog.snapshot(spark, table).files: _*), "text")
      .write.parquet(new File(dir, "store").getAbsolutePath)
    seen = Files.listing(new File(table))
    fp = Gen.sha(p.docs.iterator.take(100).map(_._2) ++ Iterator(p.docs.size.toString))
  }

  def pass(out: File, checks: Checks): PassOut = {
    cycle += 1
    val digest = mutable.ArrayBuffer.empty[String]
    val evFile = writeIncrement(new File(root, s"stream/events-$cycle"))
    val evBytes = Files.size(evFile)

    // 1. streaming ingest into the table
    val emitted = mutable.ArrayBuffer.empty[Long]
    var flagged = 0L
    val sink = (batch: DataFrame, _: Long) => {
      val b = batch.persist()
      if (!b.isEmpty) {
        val got = b.select("id", "flag").collect()
        emitted ++= got.map(_.getLong(0))
        flagged += got.count(_.getBoolean(1))
        SnapshotLog.mergeInto(spark, table, b.select("id", "text", "source", "ver"),
          Seq("id"), Seq("ver"), statsCols = Seq("id"))
      }
      b.unpersist(); ()
    }
    val before = SnapshotLog.latestVersion(spark, table).get
    Trace.span("streaming.dedup_flag") {
      val store = spark.read.parquet(new File(root, "store").getAbsolutePath)
      val stream = spark.readStream.schema(EventSchema).json(evFile.getParentFile.getAbsolutePath)
      StreamingDQ.streamingDedupAgainstStore(stream, "text", "ts", store, "fingerprint")
        .withColumn("flag", Rule.anyViolation(col("text"), Seq(Rule.NoDigits)))
        .writeStream
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", new File(root, s"stream/ckpt-$cycle").getAbsolutePath)
        .foreachBatch(sink)
        .start()
        .awaitTermination()
      Trace.put("streaming.dedup_flag", "rows_out", emitted.size.toDouble)
    }
    checks("stream emitted set", emitted.size == plan.fresh.size && emitted.toSet == plan.fresh.map(_._1).toSet,
      s"${emitted.size} emitted vs ${plan.fresh.size} fresh")
    checks("stream flags", flagged == plan.fresh.count(_._2.exists(_.isDigit)))
    val v = SnapshotLog.latestVersion(spark, table).get
    checks("one commit per ingest", v == before + 1, s"v$before -> v$v")
    var written = tableWrites()
    val changes = Trace.span("sources.read_changes") {
      val c = SnapshotLog.readChanges(spark, table, v - 1, v).count()
      Trace.put("sources.read_changes", "rows_out", c.toDouble)
      c
    }
    checks("change feed rows", changes == plan.fresh.size, s"$changes != ${plan.fresh.size}")

    // 2. curate the latest snapshot
    val docs = SnapshotLog.read(spark, table).select("id", "text", "source")
    val kept0 = Trace.span("text.quality_filter") {
      val rep = Trace.force(TextAnalysis.qualityFilterReport(docs, "text", "id"))
      val reasons = rep.groupBy("reason").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      checks("quality reasons", reasons == plan.reasons, s"$reasons != ${plan.reasons}")
      digest ++= reasons.toSeq.sorted.map(_.toString)
      docs.join(rep.filter(col("reason") === "keep").select("id"), "id")
    }
    val normalized = Trace.span("corrector.normalize") {
      Trace.force(Corrector.strip(Corrector.collapseSpaces(kept0, "text"), "text"))
    }
    val exact = Trace.span("dedup.exact") {
      Trace.force(graft.CacheScope.persist(Dedup.exactDedup(normalized, "text", "id")))
    }
    val pairs = Trace.span("dedup.minhash_pairs") {
      val p = graft.CacheScope.persist(Dedup.minhashPairs(exact, "text", "id", Threshold))
      Trace.put("dedup.minhash_pairs", "rows_out", p.count().toDouble)
      p
    }
    val best = Trace.span("dedup.components") {
      val b = Trace.force(Components.dedupByPairsBest(exact, "id", pairs, "id_a", "id_b",
        TextAnalysis.wordCount(col("text"))))
      Trace.put("dedup.components", "rows_out", b.count().toDouble)
      b
    }
    val clean = Trace.span("dedup.decontam") {
      val bench = spark.read.parquet(new File(root, "benchmark").getAbsolutePath)
      val bad = Dedup.contaminatedIds(best, "text", "id", bench, "text", 8)
      graft.CacheScope.persist(best.join(bad, Seq("id"), "left_anti"))
    }
    val keepIds = clean.select("id").collect().map(_.getLong(0)).toSet
    checks("curated keep set", keepIds == plan.expectedKeep,
      s"${keepIds.size} kept vs ${plan.expectedKeep.size} expected, " +
        s"${(keepIds -- plan.expectedKeep).size} extra, ${(plan.expectedKeep -- keepIds).size} missing")

    val packed = Trace.span("pipeline.split_pack") {
      val withTok = clean.withColumn("tokens", TextAnalysis.wordCount(col("text")))
      Trace.force(Pipeline.packSequences(Pipeline.withSplit(withTok, "id"), col("id"), col("tokens"),
        ContextLen, buckets = 16))
    }
    val shardDir = new File(out, "shards")
    Trace.span("sources.export_jsonl") {
      Sources.exportJsonlShards(packed, shardDir.getAbsolutePath, RowsPerShard,
        Seq(col("source")), col("id"))
      Trace.put("sources.export_jsonl", "written_mb", Files.size(shardDir) / 1048576.0)
    }

    // 3. restore the table to the corpus
    Trace.span("sources.delete") {
      SnapshotLog.deleteRange(spark, table, "id", IncrementBase, Long.MaxValue)
    }
    written += tableWrites()
    Trace.span("sources.vacuum")(SnapshotLog.vacuum(spark, table, keepVersions = 2))
    Files.delete(new File(root, "stream"))
    extras = lakeExtras()

    PassOut(plan.docs.size + plan.incrementLines, evBytes + plan.corpusBytes,
      written + Files.size(out), Gen.sha(digest.iterator))
  }

  /** Checks the exported shards and the restored table. */
  override def verify(out: File, checks: Checks): String = {
    val rows = SnapshotLog.read(spark, table).count()
    checks("table restored", rows == plan.docs.size, s"$rows != ${plan.docs.size}")
    val back = spark.read.schema(ShardSchema).json(new File(out, "shards").getAbsolutePath)
    val census = back.groupBy("shard").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getAs[Any](0).toString.toLong -> r.getLong(1)).toMap
    val n = plan.expectedKeep.size.toLong
    val shards = (n + RowsPerShard - 1) / RowsPerShard
    checks("shard census", census.size == shards && census.values.sum == n &&
      census.forall { case (s, c) => c == (if (s < shards - 1) RowsPerShard else n - RowsPerShard * (shards - 1)) },
      s"$census for $n rows")
    val exported = back.select("id").collect().map(_.getLong(0)).toSet
    checks("exported ids", exported == plan.expectedKeep)
    Gen.digest(back.select("id", "shard", "global_rank", "pack_id", "split"))
  }

  private def lakeExtras(): Map[String, Double] = {
    val live = SnapshotLog.snapshot(spark, table).files
    val liveBytes = live.map(f => new File(new java.net.URI(f).getPath).length).sum
    val ps = progress.synchronized { val p = progress.toList; progress.clear(); p }
      .filter(_.numInputRows > 0)
    def dur(k: String) = Runner.median(ps.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)))
    val state = ps.flatMap(_.stateOperators.headOption)
    Map(
      "sources.files_live" -> live.size.toDouble,
      "sources.log_versions" -> SnapshotLog.versions(spark, table).size.toDouble,
      "sources.space_amp" -> Files.size(new File(table)).toDouble / math.max(1L, liveBytes),
      "streaming.trigger_ms_p50" -> dur("triggerExecution"),
      "streaming.add_batch_ms_p50" -> dur("addBatch"),
      "streaming.latest_offset_ms_p50" -> dur("latestOffset"),
      "streaming.query_planning_ms_p50" -> dur("queryPlanning"),
      "streaming.wal_commit_ms_p50" -> dur("walCommit"),
      "streaming.commit_offsets_ms_p50" -> dur("commitOffsets"),
      "streaming.batches" -> ps.size.toDouble,
      "streaming.rows_per_batch_p50" -> Runner.median(ps.map(_.numInputRows.toDouble)),
      "streaming.state_rows" -> state.map(_.numRowsTotal.toDouble).maxOption.getOrElse(0.0),
      "streaming.state_mb" -> state.map(_.memoryUsedBytes / 1048576.0).maxOption.getOrElse(0.0))
  }

  override def passExtras(): Map[String, Double] = extras

  /** Writes the increment as one JSON-lines file, atomically (rename). */
  private def writeIncrement(dir: File): File = {
    dir.mkdirs()
    val t0 = 1700000000000L + cycle * 600000L
    val tmp = new File(dir, ".events.json.tmp")
    val w = new java.io.PrintWriter(tmp, "UTF-8")
    try plan.increment.zipWithIndex.foreach { case ((id, text, src), i) =>
      w.println(s"""{"id":$id,"text":"$text","source":"$src","ver":$cycle,""" +
        s""""ts":"${java.time.Instant.ofEpochMilli(t0 + i * 10L)}"}""")
    } finally w.close()
    val f = new File(dir, "events.json")
    tmp.renameTo(f)
    f
  }
}

object CurateCorpus {
  val BaseDocs = 2000
  val FreshDocs = 300
  val IncrementBase = 1000000L
  val Threshold = 0.8
  val ContextLen = 2048
  val RowsPerShard = 1000L

  val DocSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false), StructField("text", StringType),
    StructField("source", StringType)))
  val ShardSchema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("global_rank", LongType),
    StructField("pack_id", StringType), StructField("split", StringType),
    StructField("shard", LongType)))
  val EventSchema: StructType = DocSchema.add(StructField("ver", LongType))
    .add(StructField("ts", TimestampType))

  /** The generated inputs and their known answers. `increment` is the
    * event file's lines; `fresh` the documents the stream must emit.
    */
  final case class Plan(docs: Seq[(Long, String, String)], bench: Seq[(Long, String, String)],
                        increment: Seq[(Long, String, String)], fresh: Seq[(Long, String)],
                        reasons: Map[String, Long], expectedKeep: Set[Long], corpusBytes: Long) {
    def incrementLines: Long = increment.size.toLong
  }

  private def toks(t: String): Array[String] = t.trim.split(" +").filter(_.nonEmpty)

  def jaccard(a: String, b: String): Double = {
    val x = a.split(" +").toSet
    val y = b.split(" +").toSet
    (x & y).size.toDouble / (x | y).size
  }

  /** The quality filter's first failing reason, from its documented
    * rules (token count bounds, top-word share, distinct ratio).
    */
  def reason(t: String): String = {
    val ts = toks(t)
    val n = ts.length
    def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    if (n < 20) "too_short"
    else if (n > 90) "too_long"
    else if (r4(ts.groupBy(identity).values.map(_.length).max.toDouble / n) > 0.15) "repetitive"
    else if (r4(ts.distinct.length.toDouble / n) < 0.40) "low_diversity"
    else "keep"
  }

  def generate(seed: Long): Plan = {
    val r = new java.util.SplittableRandom(seed * 104729L + 3L)
    val vocab = Gen.distinctWords(r, 20000, 1, 3)
    def pick(): String = vocab((vocab.length * math.pow(r.nextDouble(), 1.4)).toInt)
    // a clean document: no word above 10 % of it, distinct ratio >= 0.7
    def cleanDoc(minLen: Int = 30, maxLen: Int = 80): Array[String] = {
      var d: Array[String] = null
      while (d == null || d.groupBy(identity).values.exists(_.length * 10 > d.length) ||
             d.distinct.length * 10 < d.length * 7)
        d = Array.fill(minLen + r.nextInt(maxLen - minLen + 1))(pick())
      d
    }
    def src(): String = {
      val u = r.nextDouble()
      if (u < 0.55) "web" else if (u < 0.80) "books" else if (u < 0.93) "news" else "forum"
    }
    val bench = (1 to 60).map(i => (i.toLong, cleanDoc(30, 40).mkString(" "), "bench"))

    val docs = mutable.ArrayBuffer.empty[(Long, String, String)]
    val edges = mutable.ArrayBuffer.empty[(Long, Long)]
    val contaminated = mutable.Set.empty[Long]
    def add(text: String, source: String): Long = {
      val id = docs.size + 1L
      docs += ((id, text, source)); id
    }
    val base = (1 to BaseDocs).map(_ => add(cleanDoc().mkString(" "), src()))
    // exact duplicates, some differing only in internal spacing
    Gen.sample(r, BaseDocs, BaseDocs / 25).foreach { i =>
      val (_, t, s) = docs(base(i).toInt - 1)
      (1 to 1 + r.nextInt(2)).foreach { _ =>
        add(if (r.nextBoolean()) t else t.replaceFirst(" ", "   "), s)
      }
    }
    def nearDup(t: String): String = {
      var v = t
      while (v == t || jaccard(v, t) < 0.86) {
        val w = toks(t)
        v = if (r.nextBoolean()) { w(r.nextInt(w.length)) = pick(); w(r.nextInt(w.length)) = pick(); w.mkString(" ") }
            else w.dropRight(2 + r.nextInt(2)).mkString(" ")
      }
      v
    }
    // near duplicates: two substituted words, or the tail cut off
    Gen.sample(r, BaseDocs, BaseDocs / 16).foreach { i =>
      val (oid, t, s) = docs(base(i).toInt - 1)
      (1 to 1 + r.nextInt(2)).foreach(_ => edges += ((oid, add(nearDup(t), s))))
    }
    // low-quality documents
    (1 to BaseDocs / 30).foreach(_ => add(Array.fill(5 + r.nextInt(12))(pick()).mkString(" "), src()))
    (1 to BaseDocs / 60).foreach(_ => add(Array.fill(100 + r.nextInt(40))(pick()).mkString(" "), src()))
    (1 to BaseDocs / 40).foreach { _ =>
      val d = cleanDoc(40, 60); val w = pick()
      (0 until d.length / 4).foreach(k => d(k * 4) = w)
      add(d.mkString(" "), src())
    }
    // contaminated documents: a 12-word span of a benchmark item inside
    def contaminate(): String = {
      val b = toks(bench(r.nextInt(bench.size))._2)
      val at = r.nextInt(b.length - 12)
      val d = cleanDoc(30, 60)
      val pos = r.nextInt(d.length - 12)
      (d.take(pos) ++ b.slice(at, at + 12) ++ d.drop(pos)).mkString(" ")
    }
    (1 to BaseDocs / 75).foreach(_ => contaminated += add(contaminate(), src()))
    val corpusSize = docs.size

    // the increment: fresh documents (some near-dups of the corpus, some
    // contaminated, a few with digits that the flag rule catches),
    // re-deliveries of them, and replays of corpus documents
    // (texts are kept distinct from every corpus text: an equal text
    // is a replay, which the store drops)
    val texts = mutable.Set.empty[String] ++= docs.map(_._2)
    val fresh = (1 to FreshDocs).map { i =>
      val id = IncrementBase + i
      var text: String = null
      var near = -1L
      var cont = false
      while (text == null || texts(text)) {
        val u = r.nextDouble()
        near = -1L
        cont = u >= 0.1 && u < 0.13
        text =
          if (u < 0.1) { near = base(r.nextInt(BaseDocs)); nearDup(docs(near.toInt - 1)._2) }
          else if (cont) contaminate()
          else if (u < 0.18) cleanDoc().mkString(" ") + " " + r.nextInt(1000)
          else cleanDoc().mkString(" ")
      }
      texts += text
      if (near > 0) edges += ((near, id))
      if (cont) contaminated += id
      (id, text, src())
    }
    val redelivered = Gen.sample(r, FreshDocs, FreshDocs / 10).map(fresh(_))
    val replays = Gen.sample(r, corpusSize, FreshDocs / 10).map(docs(_))
    val increment = (fresh ++ redelivered ++ replays).toSeq
    val all = docs ++ fresh

    // expected answers, from the planted structure
    val reasons = all.groupBy(d => reason(d._2)).map { case (k, v) => k -> v.size.toLong }
    val q = all.filter(d => reason(d._2) == "keep")
    val norm = q.map(d => (d._1, toks(d._2).mkString(" ")))
    val afterExact = norm.groupBy(_._2).values.map(_.minBy(_._1)).toSeq
    val alive = afterExact.map(_._1).toSet
    val parent = mutable.Map.empty[Long, Long]
    def find(x: Long): Long = { val p = parent.getOrElse(x, x); if (p == x) x else { val f = find(p); parent(x) = f; f } }
    edges.filter(e => alive(e._1) && alive(e._2)).foreach { case (a, b) => parent(find(a)) = find(b) }
    val keep = afterExact.groupBy(d => find(d._1)).values
      .map(_.maxBy(d => (toks(d._2).length, -d._1))._1).toSet -- contaminated

    Plan(docs.toSeq, bench, increment, fresh.map(f => (f._1, f._2)), reasons, keep,
      docs.iterator.map(_._2.length + 16L).sum)
  }
}
