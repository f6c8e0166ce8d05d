package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Keeps session construction and driver thread pools in one place
  * each: under `src/main/scala` only `Session.scala` builds a
  * SparkSession and only `Par.scala` creates a thread pool.
  */
class SourceHygieneSpec extends AnyFunSuite {

  test("only Session.scala builds a SparkSession; only Par.scala creates a thread pool") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"not found: ${root.toAbsolutePath}")
    val walk = Files.walk(root)
    val files = try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toVector
                finally walk.close()
    val home = Map("SparkSession.builder" -> "Session.scala", "Executors.new" -> "Par.scala")
    val hits = for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      (pattern, file) <- home
      if line.contains(pattern) && f.getFileName.toString != file
    } yield s"$f:${i + 1}: $pattern"
    assert(files.nonEmpty)
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }
}
