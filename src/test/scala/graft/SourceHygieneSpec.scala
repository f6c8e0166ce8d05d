package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Keeps session construction, driver thread pools, partition-id
  * positions and the ≤64-word bitmap encoding in one place each: under
  * `src/main/scala` only `Session.scala` builds a SparkSession, only
  * `Par.scala` creates a thread pool, only `operators/Rank.scala`
  * reads partition ids and only `dedup/Dedup.scala` encodes token
  * bitmaps, once.
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
}
