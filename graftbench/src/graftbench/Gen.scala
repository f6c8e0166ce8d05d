package graftbench

import java.io.File
import java.security.MessageDigest

import org.apache.spark.sql.DataFrame

/** Seeded input generation shared by the workloads. Everything here is
  * a pure function of the seed, so the same seed gives the same files.
  */
object Gen {
  /** Consonant-vowel syllables: names and words built from them have no
    * shared synthetic prefix (no `Customer#000…`), so string-similarity
    * work sees a realistic gram distribution.
    */
  val syllables: Array[String] = for {
    c <- Array("b", "c", "d", "f", "g", "h", "k", "l", "m", "n", "p", "r", "s", "t", "v", "y", "z",
      "ch", "sh", "br", "tr", "kr")
    v <- Array("a", "e", "i", "o", "u")
  } yield c + v

  private val codas = Array("", "", "", "n", "r", "l", "s", "k", "m", "t")

  def word(r: java.util.SplittableRandom, minSyl: Int, maxSyl: Int): String = {
    val n = minSyl + r.nextInt(maxSyl - minSyl + 1)
    val b = new StringBuilder
    var i = 0
    while (i < n) {
      b ++= syllables(r.nextInt(syllables.length))
      b ++= codas(r.nextInt(codas.length))
      i += 1
    }
    b.toString
  }

  def cap(s: String): String = s.substring(0, 1).toUpperCase + s.substring(1)

  /** `n` distinct words of `minSyl`..`maxSyl` syllables. */
  def distinctWords(r: java.util.SplittableRandom, n: Int, minSyl: Int, maxSyl: Int): Array[String] = {
    val seen = new java.util.LinkedHashSet[String]
    while (seen.size < n) seen.add(word(r, minSyl, maxSyl))
    seen.toArray(new Array[String](0))
  }

  /** Picks `k` distinct indices from [0, n). */
  def sample(r: java.util.SplittableRandom, n: Int, k: Int): Array[Int] = {
    val seen = new java.util.LinkedHashSet[Integer]
    while (seen.size < k) seen.add(r.nextInt(n))
    seen.toArray(new Array[Integer](0)).map(_.intValue)
  }

  /** Writes `df` as `files` parquet files (at least one per core, so no
    * scan is pinned to one task). Returns the bytes written.
    */
  def writeParquet(df: DataFrame, dir: File, files: Int): Long = {
    df.repartition(files).write.mode("overwrite").parquet(dir.getAbsolutePath)
    Files.size(dir)
  }

  def sha(parts: Iterator[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    parts.foreach { p => md.update(p.getBytes("UTF-8")); md.update(0.toByte) }
    md.digest().take(12).map(b => f"$b%02x").mkString
  }

  /** Order-independent digest of a frame's rows (driver-side). */
  def digest(df: DataFrame): String =
    sha(df.collect().map(_.mkString("\u0001")).sorted.iterator)
}
