package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.hadoop.fs.Path
import graft.sources.SnapshotLog
import org.apache.spark.sql.functions._

/** C35/C30c (r15): the single-table snapshot log and live in-place
  * compaction — reader isolation (old-or-new, never mixed), append
  * economics, optimistic-concurrency commit, vacuum.
  */
class SnapshotLogSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(p: String): String =
    Files.createTempDirectory(p).toString + "/t"

  test("write → read round-trip; versions ascend; latest wins") {
    val dir = tmp("graft_log_rt")
    assert(SnapshotLog.versions(spark, dir).isEmpty)
    val v0 = SnapshotLog.write((1L to 20L).toDF("id").repartition(4), dir)
    assert(v0 == 0L)
    val v1 = SnapshotLog.write((21L to 25L).toDF("id").repartition(2), dir)
    assert(v1 == 1L)
    assert(SnapshotLog.versions(spark, dir) == Seq(0L, 1L))
    assert(SnapshotLog.read(spark, dir).as[Long].collect().sorted.toSeq == (21L to 25L))
    assert(SnapshotLog.read(spark, dir, 0L).as[Long].collect().sorted.toSeq == (1L to 20L))
  }

  test("append commits previous files plus new — old files never rewritten") {
    val dir = tmp("graft_log_app")
    SnapshotLog.write((1L to 10L).toDF("id").repartition(2), dir)
    val before = SnapshotLog.snapshot(spark, dir)
    val mtimes = before.files.map(p =>
      new java.io.File(new java.net.URI(p).getPath).lastModified()).toSet
    Thread.sleep(20)
    SnapshotLog.append((11L to 15L).toDF("id").repartition(1), dir)
    val after = SnapshotLog.snapshot(spark, dir)
    assert(before.files.toSet.subsetOf(after.files.toSet))
    assert(SnapshotLog.read(spark, dir).as[Long].collect().sorted.toSeq == (1L to 15L))
    // untouched bytes: the original files' mtimes did not change
    assert(before.files.map(p =>
      new java.io.File(new java.net.URI(p).getPath).lastModified()).toSet == mtimes)
  }

  test("in-place compaction: old reader keeps its complete file set (never mixed)") {
    val dir = tmp("graft_log_cmp")
    SnapshotLog.write((1L to 100L).toDF("id").repartition(10), dir)
    val oldSnap = SnapshotLog.snapshot(spark, dir) // reader opened BEFORE the commit
    assert(oldSnap.files.size == 10)
    val v = SnapshotLog.compactInPlace(spark, dir, targetRows = 50L, sortCols = Seq("id"))
    val newSnap = SnapshotLog.snapshot(spark, dir, v)
    assert(newSnap.files.size == 2)
    // disjoint file sets: the rewrite touched nothing the old reader holds
    assert(oldSnap.files.toSet.intersect(newSnap.files.toSet).isEmpty)
    // the pinned old reader still reads its full set, bit-for-bit
    val oldRead = spark.read.parquet(oldSnap.files: _*).as[Long].collect().sorted.toSeq
    assert(oldRead == (1L to 100L))
    // the new reader sees identical content through the compacted files
    assert(SnapshotLog.read(spark, dir).as[Long].collect().sorted.toSeq == (1L to 100L))
    // range compaction: each output file is a disjoint id range
    val spans = spark.read.parquet(newSnap.files: _*)
      .withColumn("f", input_file_name())
      .groupBy("f").agg(min("id").as("lo"), max("id").as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(spans.sliding(2).forall(w => w.length < 2 || w(0)._2 < w(1)._1))
  }

  test("racing committers: the version-file create is exclusive — no silent overwrite") {
    val dir = tmp("graft_log_race")
    SnapshotLog.write((1L to 4L).toDF("id"), dir)
    // two committers that both resolved latest=0 race on creating v1;
    // the protocol's primitive is create(overwrite=false) on the SAME
    // path — the loser must throw, never clobber the winner's list
    val f = new org.apache.hadoop.fs.Path(dir, "_graft_log/" + f"v${1L}%020d.json")
    val hfs = f.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = hfs.create(f, false)
    out.write("""{"format":"graft-log-v1","version":1,"files":[]}""".getBytes)
    out.close()
    val e = intercept[Exception] { hfs.create(f, false) }
    assert(e.getClass.getSimpleName.toLowerCase.contains("exists") ||
      Option(e.getMessage).exists(_.toLowerCase.contains("exist")), e.toString)
    // a committer arriving AFTER the winner re-lists and lands on v2 —
    // the winner's commit is never overwritten
    SnapshotLog.write((5L to 8L).toDF("id"), dir)
    assert(SnapshotLog.versions(spark, dir) == Seq(0L, 1L, 2L))
    assert(SnapshotLog.snapshot(spark, dir, 1L).files.isEmpty)
    assert(SnapshotLog.read(spark, dir).as[Long].collect().sorted.toSeq == (5L to 8L))
  }

  test("data skipping: stats in the manifest prune files, results stay exact") {
    val dir = tmp("graft_log_skip")
    SnapshotLog.write((1L to 1000L).toDF("id").repartition(4), dir)
    SnapshotLog.compactInPlace(spark, dir, targetRows = 100L,
      sortCols = Seq("id"), statsCols = Seq("id"))
    val sn = SnapshotLog.snapshot(spark, dir)
    assert(sn.files.size == 10 && sn.stats.size == 10)
    // range-compacted files are disjoint id ranges -> a 150-wide query
    // overlaps at most 3 of the 10 files
    val kept = SnapshotLog.prunedFiles(sn, "id", 301L, 450L)
    assert(kept.size <= 3 && kept.nonEmpty, s"kept ${kept.size}")
    val got = SnapshotLog.readPruned(spark, dir, "id", 301L, 450L)
      .as[Long].collect().sorted.toSeq
    assert(got == (301L to 450L))
    // an out-of-range query opens zero files and returns empty, schema intact
    val none = SnapshotLog.readPruned(spark, dir, "id", 5000L, 6000L)
    assert(SnapshotLog.prunedFiles(sn, "id", 5000L, 6000L).isEmpty)
    assert(none.count() == 0 && none.columns.toSeq == Seq("id"))
  }

  test("data skipping: append carries old stats forward; statless files never pruned") {
    val dir = tmp("graft_log_skip2")
    SnapshotLog.write((1L to 100L).toDF("id").repartition(2), dir,
      statsCols = Seq("id"))
    SnapshotLog.append((101L to 200L).toDF("id").repartition(2), dir) // NO stats
    val sn = SnapshotLog.snapshot(spark, dir)
    assert(sn.files.size == 4)
    // the two statless files are always kept, plus overlapping stat'd ones
    val kept = SnapshotLog.prunedFiles(sn, "id", 150L, 160L)
    assert(kept.size >= 2 && kept.size < 4 || sn.stats.isEmpty == false)
    assert(SnapshotLog.readPruned(spark, dir, "id", 150L, 160L)
      .as[Long].collect().sorted.toSeq == (150L to 160L))
    // stats survive a further stat'd append
    SnapshotLog.append((201L to 250L).toDF("id").repartition(1), dir,
      statsCols = Seq("id"))
    val sn2 = SnapshotLog.snapshot(spark, dir)
    assert(sn2.stats.nonEmpty)
    assert(SnapshotLog.readPruned(spark, dir, "id", 1L, 250L).count() == 250)
  }

  test("Hilbert clustering x manifest stats: BOTH dims prune; linear sort prunes only its own") {
    // 32x32 grid of points; compact under (a) Hilbert order on (x,y)
    // and (b) linear sort on x alone, stats on both dims each time.
    // A small 2-D box query must skip most files under Hilbert on
    // EITHER dim's stats; the linear layout covers the full y range
    // in every file, so y-stats prune nothing there.
    val pts = (for (x <- 0L until 32L; y <- 0L until 32L) yield (x, y))
      .toDF("x", "y")
    def build(sorted: org.apache.spark.sql.DataFrame): (String, SnapshotLog.Snapshot) = {
      val dir = tmp("graft_log_hil")
      SnapshotLog.write(sorted.coalesce(1), dir)
      SnapshotLog.compactInPlace(spark, dir, targetRows = 64L,
        sortCols = Seq("ord"), statsCols = Seq("x", "y"))
      (dir, SnapshotLog.snapshot(spark, dir))
    }
    val hil = graft.sources.Hilbert.withHilbertValue(pts, "x", "y", bits = 5)
      .withColumnRenamed("h_value", "ord")
    val lin = pts.withColumn("ord", col("x") * 32 + col("y"))
    val (hd, hSnap) = build(hil)
    val (_, lSnap) = build(lin)
    assert(hSnap.files.size == 16 && lSnap.files.size == 16)
    // box query [8,11] x [8,11]: Hilbert files are tight rectangles —
    // intersecting BOTH dims' stats keeps only a corner of the files
    def kept2d(sn: SnapshotLog.Snapshot): Int =
      SnapshotLog.prunedFiles(sn, "x", 8L, 11L)
        .intersect(SnapshotLog.prunedFiles(sn, "y", 8L, 11L)).size
    assert(kept2d(hSnap) <= 4, s"hilbert kept ${kept2d(hSnap)} of 16")
    // the linear layout spans all of y in every file: y-stats keep everything
    assert(lSnap.files.forall(f =>
      lSnap.stats(f)("y") == (0L, 31L)), "linear files span full y")
    assert(kept2d(hSnap) < kept2d(lSnap))
    // and skipping stays exact: the pruned 2-D read returns the box
    val got = SnapshotLog.readPruned(spark, hd, "x", 8L, 11L)
      .filter(col("y").between(8L, 11L))
      .select("x", "y").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == (for (x <- 8L to 11L; y <- 8L to 11L) yield (x, y)).toSet)
  }

  test("deleteRange: untouched files carry over byte-identically; only overlaps rewrite") {
    val dir = tmp("graft_log_del")
    SnapshotLog.write((1L to 1000L).toDF("id").repartition(4), dir)
    SnapshotLog.compactInPlace(spark, dir, targetRows = 100L,
      sortCols = Seq("id"), statsCols = Seq("id"))
    val before = SnapshotLog.snapshot(spark, dir)
    assert(before.files.size == 10)
    val touched = SnapshotLog.prunedFiles(before, "id", 250L, 349L)
    assert(touched.size <= 3 && touched.nonEmpty)
    val v = SnapshotLog.deleteRange(spark, dir, "id", 250L, 349L)
    val after = SnapshotLog.snapshot(spark, dir, v)
    // every non-overlapping file carried over as-is (same path, no rewrite)
    val untouched = before.files.filterNot(touched.toSet)
    assert(untouched.forall(after.files.contains))
    // the touched files are gone from the new version
    assert(after.files.toSet.intersect(touched.toSet).isEmpty)
    // rows exact
    assert(SnapshotLog.read(spark, dir).as[Long].collect().sorted.toSeq ==
      ((1L to 249L) ++ (350L to 1000L)))
    // carried stats still prune: a query inside the deleted range opens
    // only the REWRITTEN files (the carried files' stats exclude it)
    val kept = SnapshotLog.prunedFiles(after, "id", 260L, 270L)
    assert(kept.forall(f => !untouched.contains(f)), s"kept $kept")
    assert(SnapshotLog.readPruned(spark, dir, "id", 260L, 270L).count() == 0)
    // a delete that overlaps nothing commits nothing
    assert(SnapshotLog.deleteRange(spark, dir, "id", 5000L, 6000L) == v)
    assert(SnapshotLog.versions(spark, dir).last == v)
    // a pinned pre-delete reader still reads everything (C30c isolation)
    assert(spark.read.parquet(before.files: _*).count() == 1000)
  }

  test("updateRange: matching rows rewritten in place, untouched files carried, stats refreshed") {
    val dir = tmp("graft_log_upd")
    SnapshotLog.write((1L to 400L).map(i => (i, s"v$i")).toDF("id", "payload"), dir)
    SnapshotLog.compactInPlace(spark, dir, targetRows = 100L,
      sortCols = Seq("id"), statsCols = Seq("id"))
    val before = SnapshotLog.snapshot(spark, dir)
    assert(before.files.size == 4)
    val touched = SnapshotLog.prunedFiles(before, "id", 150L, 180L).toSet
    assert(touched.size <= 2)
    SnapshotLog.updateRange(spark, dir, "id", 150L, 180L,
      Map("payload" -> concat(col("payload"), lit("!"))))
    val after = SnapshotLog.snapshot(spark, dir)
    assert(before.files.filterNot(touched).forall(after.files.contains))
    val out = SnapshotLog.read(spark, dir)
      .select("id", "payload").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(out.size == 400)
    (1L to 400L).foreach { i =>
      val want = if (i >= 150 && i <= 180) s"v$i!" else s"v$i"
      assert(out(i) == want, s"id $i: ${out(i)}")
    }
    // no-overlap update commits nothing; unknown column refused
    val v = SnapshotLog.versions(spark, dir).last
    assert(SnapshotLog.updateRange(spark, dir, "id", 9000L, 9999L,
      Map("payload" -> lit("x"))) == v)
    intercept[IllegalArgumentException] {
      SnapshotLog.updateRange(spark, dir, "id", 1L, 2L, Map("nope" -> lit("x")))
    }
  }

  test("schema evolution: appended column null-fills old files, zero footer scans") {
    val dir = tmp("graft_log_evo")
    SnapshotLog.write((1L to 10L).toDF("id"), dir)
    // append a batch that carries a NEW column
    SnapshotLog.append((11L to 15L).map(i => (i, s"tag$i")).toDF("id", "tag"), dir)
    val out = SnapshotLog.read(spark, dir)
    assert(out.columns.toSeq == Seq("id", "tag"))
    assert(out.count() == 15)
    assert(out.filter(col("tag").isNull).count() == 10) // old files null-fill
    assert(out.filter(col("tag") === "tag12").count() == 1)
    // time travel still reads v0 under ITS schema
    assert(SnapshotLog.read(spark, dir, 0L).columns.toSeq == Seq("id"))
    // compaction rewrites under the evolved schema; nulls survive
    SnapshotLog.compactInPlace(spark, dir, targetRows = 100L)
    val compacted = SnapshotLog.read(spark, dir)
    assert(compacted.columns.toSeq == Seq("id", "tag"))
    assert(compacted.filter(col("tag").isNull).count() == 10)
  }

  test("streaming CDC writer: re-delivered batches are no-ops, even from a fresh writer") {
    import graft.streaming.StreamingDQ.SnapshotCdcStreamWriter
    val dir = tmp("graft_log_cdc")
    val w = new SnapshotCdcStreamWriter(dir, Seq("id"), Seq("version"), "op")
    val b0 = Seq((1L, "a", "U", 1L), (2L, "b", "U", 1L))
      .toDF("id", "payload", "op", "version")
    val b1 = Seq((2L, "b2", "U", 2L), (1L, "a", "D", 2L), (3L, "c", "U", 1L))
      .toDF("id", "payload", "op", "version")
    w.writeBatch(b0, 0L)
    w.writeBatch(b1, 1L)
    assert(SnapshotLog.versions(spark, dir) == Seq(0L, 1L))
    val fin = SnapshotLog.read(spark, dir)
      .select("id", "payload", "version").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1)
    assert(fin.toSeq == Seq((2L, "b2", 2L), (3L, "c", 1L))) // 1 deleted, 2 revised
    // same-writer re-delivery: no new version
    w.writeBatch(b1, 1L)
    assert(SnapshotLog.versions(spark, dir) == Seq(0L, 1L))
    // RESTART-SAFE: a brand-new writer (fresh process) reads the last
    // committed batchId from the manifest, not memory — still a no-op
    val w2 = new SnapshotCdcStreamWriter(dir, Seq("id"), Seq("version"), "op")
    w2.writeBatch(b1, 1L)
    assert(SnapshotLog.versions(spark, dir) == Seq(0L, 1L))
    // and a genuinely new batch through the new writer commits
    w2.writeBatch(Seq((4L, "d", "U", 1L)).toDF("id", "payload", "op", "version"), 2L)
    assert(SnapshotLog.versions(spark, dir) == Seq(0L, 1L, 2L))
    assert(SnapshotLog.read(spark, dir).count() == 3)
    assert(SnapshotLog.snapshot(spark, dir).meta("batchId") == "2")
  }

  test("vacuum reclaims dropped versions' files, keeps the survivors readable") {
    val dir = tmp("graft_log_vac")
    SnapshotLog.write((1L to 50L).toDF("id").repartition(5), dir)
    val old = SnapshotLog.snapshot(spark, dir)
    SnapshotLog.compactInPlace(spark, dir, targetRows = 50L)
    SnapshotLog.vacuum(spark, dir, keepVersions = 1)
    assert(SnapshotLog.versions(spark, dir).size == 1)
    // old files gone, new snapshot intact
    assert(!old.files.forall(p => new java.io.File(new java.net.URI(p).getPath).exists()))
    assert(SnapshotLog.read(spark, dir).as[Long].collect().sorted.toSeq == (1L to 50L))
  }

  test("readChanges refuses a data column named like a change-feed column") {
    val dir = tmp("graft_cdf_reserved")
    SnapshotLog.write((1L to 10L).map(i => (i, i % 2)).toDF("id", "_cdf_side")
      .repartition(2), dir, statsCols = Seq("id"))
    // a rewrite step: both added and removed files, the diff path
    // that keys its +1/-1 side marker on `_cdf_side`
    SnapshotLog.updateRange(spark, dir, "id", 3L, 4L, Map("_cdf_side" -> lit(7L)))
    val e = intercept[IllegalArgumentException](SnapshotLog.readChanges(spark, dir, 0L))
    assert(e.getMessage.contains("'_cdf_side'"))
  }

  /** The version files of `dir` in commit order, with the names that
    * differ run to run — `data-<uuid>` subdirs (numbered by first
    * appearance), part-file uuids and commit times — replaced.
    */
  private def normalizedManifests(dir: String): Seq[String] = {
    val logDir = Paths.get(dir, "_graft_log")
    val docs = SnapshotLog.versions(spark, dir).map(v =>
      new String(Files.readAllBytes(logDir.resolve(f"v$v%020d.json")), UTF_8))
    val subdirs = "data-[0-9a-f]{32}".r.findAllIn(docs.mkString).toSeq.distinct
    docs.map { d =>
      subdirs.zipWithIndex.foldLeft(d) { case (acc, (s, i)) => acc.replace(s, s"data-$i") }
        .replaceAll("[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}", "U")
        .replaceAll("\"commitTimeMs\" : \"[0-9]+\"", "\"commitTimeMs\" : \"T\"")
    }
  }

  test("mergeInto keeps the table's column order; new batch columns follow in batch order") {
    val dir = tmp("graft_log_merge_order")
    SnapshotLog.write(Seq((1L, "a", 1L), (2L, "b", 1L)).toDF("id", "s", "version"), dir,
      statsCols = Seq("id"))
    // a pure insert (no file can hold key 9), batch columns in another order
    SnapshotLog.mergeInto(spark, dir, Seq((9L, 2L, "z")).toDF("id", "version", "s"),
      Seq("id"), Seq("version"))
    assert(SnapshotLog.read(spark, dir).columns.toSeq == Seq("id", "s", "version"))
    // an update of key 1 that also adds two columns
    SnapshotLog.mergeInto(spark, dir,
      Seq((7, 1L, "a2", 3L, "x")).toDF("n", "id", "s", "version", "m"), Seq("id"), Seq("version"))
    val out = SnapshotLog.read(spark, dir)
    assert(out.columns.toSeq == Seq("id", "s", "version", "n", "m"))
    assert(out.orderBy("id").collect().map(_.toSeq).toSeq == Seq(
      Seq(1L, "a2", 3L, 7, "x"), Seq(2L, "b", 1L, null, null), Seq(9L, "z", 2L, null, null)))
  }

  test("manifest format: a hand-written version file reads back; commits write pinned JSON") {
    // today's layout, written by hand
    val hand = tmp("graft_log_fmt_hand")
    Files.createDirectories(Paths.get(hand, "_graft_log"))
    Files.write(Paths.get(hand, "_graft_log", f"v${3L}%020d.json"),
      """{
        |  "format" : "graft-log-v1",
        |  "version" : 3,
        |  "files" : [ "data-a/part-0.parquet", "data-b/_p=x/part-1.parquet" ],
        |  "stats" : {
        |    "data-a/part-0.parquet" : {
        |      "id" : [ -4, 9000000000 ],
        |      "n" : [ 0, 1 ]
        |    }
        |  },
        |  "strStats" : {
        |    "data-a/part-0.parquet" : {
        |      "s" : [ "a", "q" ]
        |    },
        |    "data-b/_p=x/part-1.parquet" : {
        |      "s" : [ "", "zz" ]
        |    }
        |  },
        |  "meta" : {
        |    "batchId" : "7",
        |    "commitTimeMs" : "1700000000000",
        |    "schemaDdl" : "id BIGINT,n INT,s STRING"
        |  }
        |}""".stripMargin.getBytes(UTF_8))
    val base = new Path(hand).getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(new Path(hand))
    def abs(rel: String) = new Path(base, rel).toString
    val (f0, f1) = (abs("data-a/part-0.parquet"), abs("data-b/_p=x/part-1.parquet"))
    assert(SnapshotLog.snapshot(spark, hand) == SnapshotLog.Snapshot(3L, Seq(f0, f1),
      Map(f0 -> Map("id" -> ((-4L, 9000000000L)), "n" -> ((0L, 1L)))),
      Map("batchId" -> "7", "commitTimeMs" -> "1700000000000",
        "schemaDdl" -> "id BIGINT,n INT,s STRING"),
      Map(f0 -> Map("s" -> (("a", "q"))), f1 -> Map("s" -> (("", "zz"))))))

    // write (Long + String stats) → deleteRange → mergeInto → compactInPlace
    val dir = tmp("graft_log_fmt")
    SnapshotLog.write((1L to 6L).map(i => (i, s"s$i", 1L)).toDF("id", "s", "version")
      .coalesce(1), dir, statsCols = Seq("id", "s"), meta = Map("batchId" -> "0"))
    SnapshotLog.deleteRange(spark, dir, "id", 2L, 3L)
    SnapshotLog.mergeInto(spark, dir, Seq((9L, "s9", 2L, "U")).toDF("id", "s", "version", "op"),
      Seq("id"), Seq("version"), Some("op"), meta = Map("batchId" -> "1"))
    SnapshotLog.compactInPlace(spark, dir, targetRows = 100L, sortCols = Seq("id"),
      statsCols = Seq("id"))
    // the files array, stats and strStats in file order, columns and
    // meta keys by name; compactInPlace keeps only its own statsCols
    val pinned = Seq(
      """{
        |  "format" : "graft-log-v1",
        |  "version" : 0,
        |  "files" : [ "data-0/part-00000-U-c000.snappy.parquet" ],
        |  "stats" : {
        |    "data-0/part-00000-U-c000.snappy.parquet" : {
        |      "id" : [ 1, 6 ]
        |    }
        |  },
        |  "strStats" : {
        |    "data-0/part-00000-U-c000.snappy.parquet" : {
        |      "s" : [ "s1", "s6" ]
        |    }
        |  },
        |  "meta" : {
        |    "batchId" : "0",
        |    "commitTimeMs" : "T",
        |    "schemaDdl" : "id BIGINT NOT NULL,s STRING,version BIGINT NOT NULL"
        |  }
        |}""".stripMargin,
      """{
        |  "format" : "graft-log-v1",
        |  "version" : 1,
        |  "files" : [ "data-1/part-00000-U-c000.snappy.parquet" ],
        |  "stats" : {
        |    "data-1/part-00000-U-c000.snappy.parquet" : {
        |      "id" : [ 1, 6 ]
        |    }
        |  },
        |  "strStats" : {
        |    "data-1/part-00000-U-c000.snappy.parquet" : {
        |      "s" : [ "s1", "s6" ]
        |    }
        |  },
        |  "meta" : {
        |    "batchId" : "0",
        |    "commitTimeMs" : "T",
        |    "schemaDdl" : "id BIGINT NOT NULL,s STRING,version BIGINT NOT NULL"
        |  }
        |}""".stripMargin,
      """{
        |  "format" : "graft-log-v1",
        |  "version" : 2,
        |  "files" : [ "data-1/part-00000-U-c000.snappy.parquet", "data-2/part-00000-U-c000.snappy.parquet" ],
        |  "stats" : {
        |    "data-1/part-00000-U-c000.snappy.parquet" : {
        |      "id" : [ 1, 6 ]
        |    },
        |    "data-2/part-00000-U-c000.snappy.parquet" : {
        |      "id" : [ 9, 9 ]
        |    }
        |  },
        |  "strStats" : {
        |    "data-1/part-00000-U-c000.snappy.parquet" : {
        |      "s" : [ "s1", "s6" ]
        |    },
        |    "data-2/part-00000-U-c000.snappy.parquet" : {
        |      "s" : [ "s9", "s9" ]
        |    }
        |  },
        |  "meta" : {
        |    "batchId" : "1",
        |    "commitTimeMs" : "T",
        |    "schemaDdl" : "id BIGINT NOT NULL,s STRING,version BIGINT"
        |  }
        |}""".stripMargin,
      """{
        |  "format" : "graft-log-v1",
        |  "version" : 3,
        |  "files" : [ "data-3/part-00000-U-c000.snappy.parquet" ],
        |  "stats" : {
        |    "data-3/part-00000-U-c000.snappy.parquet" : {
        |      "id" : [ 1, 9 ]
        |    }
        |  },
        |  "meta" : {
        |    "batchId" : "1",
        |    "commitTimeMs" : "T",
        |    "schemaDdl" : "id BIGINT NOT NULL,s STRING,version BIGINT"
        |  }
        |}""".stripMargin)
    val got = normalizedManifests(dir)
    assert(got.size == pinned.size)
    got.zip(pinned).zipWithIndex.foreach { case ((g, p), v) =>
      assert(g == p, s"v$v differs:\n$g")
    }
  }
}
