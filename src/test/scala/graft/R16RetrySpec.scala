package graft

import java.nio.file.{Files, Paths}
import graft.sources.SnapshotLog
import org.apache.spark.sql.functions._

/** r16: OPTIMISTIC-COMMIT RETRY (C35h) — a lost exclusive-create race
  * rebases against the new latest instead of surfacing a raw
  * FileAlreadyExistsException: appends always rebase (blind-append
  * row of the conflict matrix), the pruned ops (deleteRange /
  * updateRange / mergeInto) rebase when the racer's files don't
  * overlap what they read or prune on, and conflict LOUDLY
  * (ConcurrentModificationException) when they do. Races are made
  * deterministic with the commit-window test hook
  * ([[SnapshotLog.raceTestHook]]), which lands a competing commit
  * between plan and create.
  */
class R16RetrySpec extends SparkSpec {
  import spark.implicits._

  private def tmp(p: String): String =
    Files.createTempDirectory(p).toString + "/t"

  /** Install a hook that fires `body` exactly once (the competing
    * committer's own commits re-enter the hook — the flag stops the
    * recursion), run `op`, always restore the hook.
    */
  private def withRaceOnce[A](body: => Unit)(op: => A): A = {
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    SnapshotLog.raceTestHook = () => if (fired.compareAndSet(false, true)) body
    try op finally SnapshotLog.raceTestHook = () => ()
  }

  private def ids(r: Range) = r.map(i => (i.toLong, s"t$i")).toDF("id", "text")

  test("two appends race: loser rebases, both land, nothing lost") {
    val dir = tmp("graft_race_app")
    SnapshotLog.write(ids(1 to 10), dir, statsCols = Seq("id"))
    val v = withRaceOnce {
      SnapshotLog.append(ids(100 to 104), dir, statsCols = Seq("id"))
    } {
      SnapshotLog.append(ids(200 to 206), dir, statsCols = Seq("id"))
    }
    assert(v == 2L) // hook's append took v1; ours rebased onto it as v2
    assert(SnapshotLog.versions(spark, dir) == Seq(0L, 1L, 2L))
    val got = SnapshotLog.read(spark, dir).select("id").as[Long].collect().sorted
    assert(got.toSeq == ((1L to 10L) ++ (100L to 104L) ++ (200L to 206L)))
    // both appends' stats present in the final manifest
    val sn = SnapshotLog.snapshot(spark, dir)
    assert(sn.files.forall(f => sn.stats.get(f).exists(_.contains("id"))))
  }

  test("replace race: REPLACE depends on nothing — takes the next slot") {
    val dir = tmp("graft_race_wr")
    SnapshotLog.write(ids(1 to 5), dir)
    val v = withRaceOnce {
      SnapshotLog.append(ids(50 to 55), dir)
    } {
      SnapshotLog.write(ids(500 to 503), dir)
    }
    assert(v == 2L)
    assert(SnapshotLog.read(spark, dir).select("id").as[Long].collect().sorted
      .toSeq == (500L to 503L))
  }

  /** The pruned DML flavors over one keyed table: `run(dir, lo, hi)`
    * acts on ids in [lo, hi] (the Str flavors through the zero-padded
    * `key`, whose order is the ids' order); `deletes` says whether the
    * matching rows go or get `text = "upd"`.
    */
  private final case class RangeOp(name: String, deletes: Boolean,
                                    run: (String, Long, Long) => Long)
  private def key(i: Long) = f"k$i%05d"
  private val upd = Map("text" -> lit("upd"))
  private val rangeOps = Seq(
    RangeOp("deleteRange", deletes = true,
      (d, lo, hi) => SnapshotLog.deleteRange(spark, d, "id", lo, hi)),
    RangeOp("updateRange", deletes = false,
      (d, lo, hi) => SnapshotLog.updateRange(spark, d, "id", lo, hi, upd)),
    RangeOp("deleteRangeStr", deletes = true,
      (d, lo, hi) => SnapshotLog.deleteRangeStr(spark, d, "key", key(lo), key(hi))),
    RangeOp("updateRangeStr", deletes = false,
      (d, lo, hi) => SnapshotLog.updateRangeStr(spark, d, "key", key(lo), key(hi), upd)))
  private val keyStats = Seq("id", "key")
  private def keyed(r: Range) =
    r.map(i => (i.toLong, s"t$i", key(i.toLong))).toDF("id", "text", "key")

  test("deleteRange rebases over a non-overlapping concurrent append") {
    for (op <- rangeOps) withClue(op.name) {
      val dir = tmp("graft_race_del_ok")
      SnapshotLog.write(keyed(1 to 100).repartition(4), dir)
      SnapshotLog.compactInPlace(spark, dir, 25L, Seq("id"), keyStats)
      val appended = keyed(200 to 210)
      val v = withRaceOnce {
        SnapshotLog.append(appended, dir, statsCols = keyStats)
      } {
        op.run(dir, 1L, 20L)
      }
      val sn = SnapshotLog.snapshot(spark, dir)
      assert(sn.version == v)
      // rebase carried the racer's file AND applied the operation
      val cur = SnapshotLog.read(spark, dir)
      if (op.deletes) {
        assert(cur.count() == 80 + 11)
        assert(cur.filter(col("id") <= 20L).count() == 0)
      } else {
        assert(cur.count() == 100 + 11)
        assert(cur.filter(col("id") <= 20L && col("text") === "upd").count() == 20)
        assert(cur.filter(col("text") === "upd").count() == 20)
      }
      assert(cur.filter(col("id") >= 200L).count() == 11)
    }
  }

  test("deleteRange conflicts when the racer's files overlap the range (or are statless)") {
    for (op <- rangeOps) withClue(op.name) {
      val dir = tmp("graft_race_del_no")
      SnapshotLog.write(keyed(1 to 100).repartition(4), dir)
      SnapshotLog.compactInPlace(spark, dir, 25L, Seq("id"), keyStats)
      intercept[java.util.ConcurrentModificationException] {
        withRaceOnce {
          SnapshotLog.append(keyed(5 to 8), dir, statsCols = keyStats) // inside [1,20]
        } {
          op.run(dir, 1L, 20L)
        }
      }
      // statless appended file = could contain anything -> also conflicts
      intercept[java.util.ConcurrentModificationException] {
        withRaceOnce {
          SnapshotLog.append(keyed(900 to 905), dir) // no stats
        } {
          op.run(dir, 30L, 40L)
        }
      }
    }
  }

  test("mergeInto rebases over a non-overlapping append, conflicts on key overlap") {
    val dir = tmp("graft_race_mi")
    val base = (1L to 100L).map(i => (i, s"t$i", 1L)).toDF("id", "text", "version")
    SnapshotLog.write(base.repartition(4), dir)
    SnapshotLog.compactInPlace(spark, dir, 25L, Seq("id"), Seq("id"))
    val batch = Seq((30L, "rev", 2L, "U"), (31L, "rev", 2L, "U"))
      .toDF("id", "text", "version", "op")
    val appendedFar = (300L to 305L).map(i => (i, s"n$i", 1L)).toDF("id", "text", "version")
    val v = withRaceOnce {
      SnapshotLog.append(appendedFar, dir, statsCols = Seq("id"))
    } {
      SnapshotLog.mergeInto(spark, dir, batch, Seq("id"), Seq("version"), Some("op"))
    }
    assert(SnapshotLog.snapshot(spark, dir).version == v)
    val cur = SnapshotLog.read(spark, dir)
    assert(cur.count() == 106)
    assert(cur.filter(col("id") === 30L).select("text").head().getString(0) == "rev")
    assert(cur.filter(col("id") === 300L).count() == 1)
    // overlap case: racer lands a file containing a batch key
    intercept[java.util.ConcurrentModificationException] {
      withRaceOnce {
        SnapshotLog.append(Seq((31L, "racer", 1L)).toDF("id", "text", "version"),
          dir, statsCols = Seq("id"))
      } {
        SnapshotLog.mergeInto(spark, dir,
          Seq((31L, "rev2", 3L, "U")).toDF("id", "text", "version", "op"),
          Seq("id"), Seq("version"), Some("op"))
      }
    }
  }

  test("compactInPlace conflicts on concurrent data change, rebases over metadata-only") {
    val dir = tmp("graft_race_cmp")
    SnapshotLog.write(ids(1 to 60).repartition(3), dir)
    intercept[java.util.ConcurrentModificationException] {
      withRaceOnce {
        SnapshotLog.append(ids(61 to 65), dir)
      } {
        SnapshotLog.compactInPlace(spark, dir, 30L, Seq("id"))
      }
    }
    // metadata-only racer (empty-batch mergeInto): same files, rebase fine
    val v = withRaceOnce {
      SnapshotLog.mergeInto(spark, dir,
        spark.emptyDataset[(Long, String, Long, String)]
          .toDF("id", "text", "version", "op"),
        Seq("id"), Seq("version"), Some("op"), meta = Map("batchId" -> "3"))
    } {
      SnapshotLog.compactInPlace(spark, dir, 30L, Seq("id"), Seq("id"))
    }
    val sn = SnapshotLog.snapshot(spark, dir)
    assert(sn.version == v)
    assert(sn.meta.get("batchId").contains("3")) // racer's meta carried
    assert(SnapshotLog.read(spark, dir).count() == 65)
  }

  test("compactPartitionInPlace races: same partition conflicts, different partitions both land") {
    def laidOut(name: String): String = {
      val dir = tmp(name)
      SnapshotLog.writePartitionedBy(
        (1 to 40).map(i => (i.toLong, s"t$i", if (i % 2 == 0) "a" else "b"))
          .toDF("id", "text", "part").repartition(4),
        dir, "part", statsCols = Seq("id"))
      dir
    }
    def inPart(p: String)(f: String) = SnapshotLog.filePartition(f).contains(p)
    val same = laidOut("graft_race_part_same")
    intercept[java.util.ConcurrentModificationException] {
      withRaceOnce {
        SnapshotLog.compactPartitionInPlace(spark, same, "part", "a", 1000L)
      } {
        SnapshotLog.compactPartitionInPlace(spark, same, "part", "a", 1000L)
      }
    }
    assert(SnapshotLog.versions(spark, same) == Seq(0L, 1L)) // only the racer landed

    val dir = laidOut("graft_race_part_diff")
    val before = SnapshotLog.snapshot(spark, dir)
    assert(before.files.count(inPart("a")) > 1 && before.files.count(inPart("b")) > 1)
    val v = withRaceOnce {
      SnapshotLog.compactPartitionInPlace(spark, dir, "part", "b", 1000L)
    } {
      SnapshotLog.compactPartitionInPlace(spark, dir, "part", "a", 1000L)
    }
    assert(v == 2L)
    val racer = SnapshotLog.snapshot(spark, dir, 1L)
    val after = SnapshotLog.snapshot(spark, dir)
    // the racer's partition-b files carry path-identically, stats and all
    val racerB = racer.files.filter(inPart("b"))
    assert(racerB.size == 1 && after.files.filter(inPart("b")) == racerB)
    assert(after.stats(racerB.head) == racer.stats(racerB.head))
    // ours rewrote partition a into one new file
    val afterA = after.files.filter(inPart("a"))
    assert(afterA.size == 1 && !racer.files.contains(afterA.head))
    assert(SnapshotLog.read(spark, dir).select("id").as[Long].collect().sorted
      .toSeq == (1L to 40L))
  }

  test("a contention storm exhausts the bounded retry loudly") {
    val dir = tmp("graft_race_storm")
    SnapshotLog.write(ids(1 to 5), dir)
    val logDir = Paths.get(new java.net.URI(
      SnapshotLog.snapshot(spark, dir).files.head)).getParent.getParent
      .resolve("_graft_log")
    // a hook that ALWAYS steals the next slot with a hand-written
    // (valid, empty) version file — no committer can ever win
    SnapshotLog.raceTestHook = () => {
      val next = Files.list(logDir).iterator()
      var mx = -1L
      while (next.hasNext) {
        val n = next.next().getFileName.toString
        if (n.startsWith("v") && n.endsWith(".json"))
          mx = math.max(mx, n.stripPrefix("v").stripSuffix(".json").toLong)
      }
      Files.write(logDir.resolve(f"v${mx + 1}%020d.json"),
        "{\"format\":\"graft-log-v1\",\"files\":[]}".getBytes)
      ()
    }
    try {
      val e = intercept[java.io.IOException] {
        SnapshotLog.append(ids(10 to 12), dir)
      }
      assert(e.getMessage.contains("lost the commit race"))
    } finally SnapshotLog.raceTestHook = () => ()
  }
}
