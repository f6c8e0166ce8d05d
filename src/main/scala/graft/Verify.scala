package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // optional 3rd arg: comma-separated query subset (e.g. the heavy
    // dedup family against a bigdata/xN corpus that has only the
    // documents/embeddings/customer tables)
    val only = if (args.length > 2) args(2).split(",").toSet else Set.empty[String]
    val spark = Session.local()
    new java.io.File(outDir).mkdirs()
    // A query that throws must still APPEAR in the correctness
    // artifact (r10: five schema-broken queries logged to stderr and
    // silently vanished from the driver's denominator). Two signals:
    // a one-row __graft_error marker parquet under the query's own
    // output path — any downstream compare fails LOUDLY on it instead
    // of skipping the query — and an errors.json sidecar with the
    // full message per failed query.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries.filter(q => only.isEmpty || only(q._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}"
        System.err.println(s"[verify] $name failed: $msg")
        errors(name) = msg
        try {
          import spark.implicits._
          Seq(msg.take(500)).toDF("__graft_error")
            .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        } catch { case e2: Throwable =>
          System.err.println(s"[verify] $name: marker write also failed: ${e2.getMessage}")
        }
      }
      CacheScope.clear() // unpin per-query persisted intermediates
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // sidecar: per-query failure messages (empty object = clean run),
    // so a broken query is visible in the artifact tree itself
    Files.writeString(Paths.get(s"$outDir/errors.json"),
      errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} queries FAILED: ${errors.keys.mkString(", ")}")
    spark.stop()
  }
}
