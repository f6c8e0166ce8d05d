package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Keeps session construction, driver thread pools, partition-id
  * positions and the ≤64-word bitmap encoding in one place each: under
  * `src/main/scala` only `Session.scala` builds a SparkSession, only
  * `Par.scala` creates a thread pool, only `operators/Rank.scala`
  * reads partition ids and only `dedup/Dedup.scala` encodes token
  * bitmaps, once. No `CacheScope.persist` call drops the pin it
  * returns, no file builds Theta or KLL sketches itself, and
  * `SnapshotLog` parses its committed schema and maps absolute paths
  * to manifest names in one place each. The 2-D Hilbert index is the
  * n-D one, `Profiler` unpivots in one place and the DQ score is
  * written once.
  */
class SourceHygieneSpec extends AnyFunSuite {

  /** `file:line: pattern` for every line of `src/main/scala` that uses
    * a pattern outside the file (path suffix) it belongs to.
    */
  private def strayUses(home: Map[String, String]): Seq[String] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"not found: ${root.toAbsolutePath}")
    val walk = Files.walk(root)
    val files = try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toVector
                finally walk.close()
    assert(files.nonEmpty)
    for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex.toSeq
      (pattern, file) <- home
      if line.contains(pattern) && !f.endsWith(file)
    } yield s"$f:${i + 1}: $pattern"
  }

  test("only Session.scala builds a SparkSession; only Par.scala creates a thread pool") {
    val hits = strayUses(
      Map("SparkSession.builder" -> "Session.scala", "Executors.new" -> "Par.scala"))
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }

  test("only operators/Rank.scala turns partition ids into positions") {
    // one range-partition + pin + offsets primitive: a second copy
    // would re-learn the pinning rule on its own
    val hits = strayUses(Map("spark_partition_id" -> "operators/Rank.scala"))
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }

  test("no CacheScope.persist call discards the pin it returns") {
    // a pin is a NEW frame: the input is not cached, so a statement
    // that drops the returned frame pins rows nothing reads and leaves
    // every later read of the input to re-derive its plan
    val root = Paths.get("src/main/scala")
    val walk = Files.walk(root)
    val files = try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toVector
                finally walk.close()
    val call = "CacheScope.persist("
    // the text before the call binds or passes its value
    val uses = Seq("(", ",", "=>", "else", "return", "yield")
    val dropped = for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex.toSeq
      code = line.trim
      if !code.startsWith("//") && !code.startsWith("*") && code.contains(call)
      before = line.substring(0, line.indexOf(call)).stripSuffix("graft.").trim
      if !before.contains("=") && !uses.exists(before.endsWith)
    } yield s"$f:${i + 1}: $code"
    assert(dropped.isEmpty, dropped.mkString("\n", "\n", ""))
  }

  test("no src/main file uses DataSketches theta or KLL directly") {
    // Spark's theta_* and kll_* functions build, merge and read these
    // sketches; graft's own copy of them is gone
    val nowhere = "<no file>"
    val hits = strayUses(Map(
      "org.apache.datasketches.theta" -> nowhere,
      "org.apache.datasketches.kll" -> nowhere))
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }

  test("the ≤64-word bitmap encoding is written once, in dedup/Dedup.scala") {
    // one encode+popcount helper serves every Jaccard join: a second
    // copy would re-learn the no-join encoding (a persisted broadcast
    // dict join pins its hashed relation until CacheScope.clear)
    val pattern = "bit_or(shiftleft(1L, tid))"
    val hits = strayUses(Map(pattern -> "dedup/Dedup.scala"))
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
    val home = Files.readAllLines(Paths.get("src/main/scala/graft/dedup/Dedup.scala"))
      .asScala.count(_.contains(pattern))
    assert(home == 1, s"$pattern appears $home times in Dedup.scala")
  }

  test("SnapshotLog parses the committed schema and relativizes paths once each") {
    // one committed-schema reader and one table-relative name mapping
    // serve every operation: a second copy is how the rewrite paths
    // drifted apart before
    val lines = Files.readAllLines(Paths.get("src/main/scala/graft/sources/SnapshotLog.scala"))
      .asScala
    for (pattern <- Seq("StructType.fromDDL", "def toRel")) {
      val n = lines.count(_.contains(pattern))
      assert(n <= 1, s"$pattern appears $n times in SnapshotLog.scala")
    }
  }

  test("one Hilbert index, one profile unpivot, one DQ score formula") {
    def lines(f: String) = Files.readAllLines(Paths.get("src/main/scala/graft", f)).asScala
    // the 2-D index is HilbertIndexN at n = 2
    val hits = strayUses(Map("HilbertIndex2" -> "<no file>"))
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
    // every multi-column profile goes through Profiler's one unpivot
    val unpivots = lines("profile/Profiler.scala").count(_.contains("explode(col(\"_c\"))"))
    assert(unpivots <= 1, s"explode(col(\"_c\")) appears $unpivots times in Profiler.scala")
    // the DQ score is Detector.dqScore; StreamingDQ calls it
    val scores = Seq("quality/Detector.scala", "streaming/StreamingDQ.scala")
      .map(f => lines(f).count(_.contains("* 100.0 /"))).sum
    assert(scores == 1, s"the DQ score's `* 100.0 /` appears $scores times")
  }
}
