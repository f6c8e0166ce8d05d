package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Input sources (reference: home.py:55-62 reads one CSV/XLSX into
  * pandas). Spark-side the same surface is the distributed readers:
  * CSV/JSONL/Parquet here, XLSX via the JDK-native [[Xlsx]]
  * reader/writer (no external package needed — per-file parallel
  * reads, driver-streamed export).
  */
object Sources {

  /** CSV with header + schema inference (matches the reference's
    * pd.read_csv defaults). At scale prefer an explicit schema:
    * inference scans the file once more.
    */
  def readCsv(spark: SparkSession, path: String,
              header: Boolean = true, inferSchema: Boolean = true,
              delimiter: String = ","): DataFrame =
    spark.read
      .option("header", header.toString)
      .option("inferSchema", inferSchema.toString)
      .option("delimiter", delimiter)
      .csv(path)

  /** JSON-lines (one object per line — the splittable JSON layout). */
  def readJsonLines(spark: SparkSession, path: String): DataFrame =
    spark.read.json(path)

  /** ORC — the other columnar lake format Spark ships natively
    * (predicate pushdown, column pruning, and splittable stripes,
    * same as parquet; pick whichever the lake standardized on).
    */
  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  /** Write `df` as a bucketed parquet table registered in the session
    * catalog (external, at `path`). Two tables bucketed on the same
    * key with the same bucket count join WITHOUT a shuffle: the scan
    * itself satisfies the join's required hash distribution, so the
    * exchange of both sides — the dominant cost of a large join —
    * disappears from the plan. This is the pre-partitioning story for
    * repeatedly-joined 100 TB facts; `sortCols` additionally orders
    * within buckets so sort-merge joins skip their sorts.
    */
  def writeBucketed(df: DataFrame, table: String, path: String,
                    bucketCol: String, buckets: Int,
                    sortCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite").format("parquet")
      .option("path", path)
      .bucketBy(buckets, bucketCol)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(table)
  }

  /** C30: small-file compaction — rewrite a parquet directory into
    * `ceil(rows / targetRows)` right-sized files. The table-
    * maintenance half of the sink family: streaming ingests, hourly
    * batch appends, and over-parallel writers all accrete thousands
    * of kilobyte files, and at 100 TB that is the classic small-file
    * problem — a task per file (scheduler overhead dominates),
    * metadata pressure, and per-file reader setup swamping the scan.
    * Compaction restores ~split-sized files; with `sortCols` the
    * rewrite additionally RE-CLUSTERS (range-partition + sort-within,
    * the D77 discipline) so every output file is a disjoint key range
    * and min/max row-group stats prune point/range reads again.
    *
    * Shape: one count (the only driver-visible scalar), one
    * round-robin `repartition(nOut)` (never an empty output file:
    * any input partition with ≥ nOut rows covers every output) or —
    * with `sortCols` — one `repartitionByRange` + in-partition sort;
    * the write goes through Spark's own staged commit protocol, so a
    * failed rewrite never corrupts `outDir`. Returns nOut.
    *
    * Deliberately writes to a NEW directory rather than in-place:
    * swap-on-success (the C28/C29 rename discipline) is the caller's
    * one-line `mv`, and in-place compaction of a live table is a
    * transaction-log concern (Delta/Iceberg territory), not a plain
    * parquet layout rewrite.
    */
  def compactParquetByRows(spark: SparkSession, inDir: String, outDir: String,
                           targetRows: Long,
                           sortCols: Seq[String] = Nil): Int = {
    require(targetRows >= 1, s"targetRows must be >= 1, got $targetRows")
    val df = spark.read.parquet(inDir)
    val n = df.count()
    val nOut = math.max(1L, (n + targetRows - 1) / targetRows).toInt
    val shaped =
      if (sortCols.nonEmpty)
        df.repartitionByRange(nOut, sortCols.map(col): _*)
          .sortWithinPartitions(sortCols.map(col): _*)
      else df.repartition(nOut)
    shaped.write.mode("overwrite").parquet(outDir)
    nOut
  }

  /** [[compactParquetByRows]] with a BYTE target: input size from one
    * recursive driver-side listing (bounded by file count — exactly
    * the metadata a compactor exists to shrink), output count =
    * `ceil(inputBytes / targetBytes)`. Output files land near the
    * target only to the extent rows are similar-sized; a re-encoded
    * parquet can also compress differently than the input — this is
    * the standard industry heuristic (Delta OPTIMIZE does the same),
    * not a guarantee, and the row variant is the deterministic one.
    */
  def compactParquetByBytes(spark: SparkSession, inDir: String, outDir: String,
                            targetBytes: Long,
                            sortCols: Seq[String] = Nil): Int = {
    require(targetBytes >= 1, s"targetBytes must be >= 1, got $targetBytes")
    val path = new org.apache.hadoop.fs.Path(inDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    var total = 0L
    val it = fs.listFiles(path, true)
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) total += f.getLen
    }
    val nOut = math.max(1L, (total + targetBytes - 1) / targetBytes).toInt
    val df = spark.read.parquet(inDir)
    val shaped =
      if (sortCols.nonEmpty)
        df.repartitionByRange(nOut, sortCols.map(col): _*)
          .sortWithinPartitions(sortCols.map(col): _*)
      else df.repartition(nOut)
    shaped.write.mode("overwrite").parquet(outDir)
    nOut
  }

  /** C30b (r14, r13 verdict #8): compaction for HIVE-PARTITIONED
    * layouts — the shape real tables (C17) actually have. Rewrites
    * `inDir` (partitioned by `partitionCols`) into `outDir` with the
    * SAME partition directories and exactly `ceil(rows_p /
    * targetRows)` files in each — per-partition targets, not one
    * global count: a compactor that repartitions the whole table
    * flat would smear every hive partition across every output file.
    * `partitionFilter` (a predicate on partition columns) makes the
    * rewrite PARTITION-PRUNED — only the matching partitions are
    * read (the filter reaches the scan as a partition filter — no
    * data files of other partitions are opened) and only they appear
    * in `outDir`; maintenance jobs compact yesterday's partition
    * without touching the other 10 years.
    *
    * Shape for 100 TB: per-hive-partition dense rank = the D96
    * running row count ([[graft.operators.Rank.runningSums]] grouped
    * by partition key — (optionally) range-partition on
    * (partitionCols ++ sortCols), pin, count per (spark partition,
    * hive partition), a metadata-sized frame, then offset + local
    * count), slot = rank div targetRows. Every hive partition spreads
    * over ceil(n_p/target) TASKS (never one task per hive partition — a
    * 500 GB date partition stays parallel), and `maxRecordsPerFile =
    * targetRows` keeps the per-directory file count ceil-EXACT even when hash
    * placement co-locates two slots of one partition in a task (the
    * dense ranks guarantee exactly one sub-target remainder chunk
    * per partition, so Σceil over task chunks = ceil over the
    * partition). With `sortCols` the per-partition rank follows the
    * range order, so each output file is a disjoint key range within
    * its partition (min/max stats prune again); without, ranks use
    * the pinned arbitrary order (same determinism contract as the
    * flat [[compactParquetByRows]]'s round-robin).
    */
  def compactParquetPartitionedByRows(spark: SparkSession, inDir: String,
                                      outDir: String, targetRows: Long,
                                      partitionCols: Seq[String],
                                      sortCols: Seq[String] = Nil,
                                      partitionFilter: Column = null): Unit = {
    require(targetRows >= 1, s"targetRows must be >= 1, got $targetRows")
    require(partitionCols.nonEmpty,
      "compactParquetPartitionedByRows: partitionCols must be non-empty " +
        "(use compactParquetByRows for a flat layout)")
    val raw = spark.read.parquet(inDir)
    val pruned =
      if (partitionFilter != null) raw.filter(partitionFilter) else raw
    val key = partitionCols.map(col)
    graft.operators.Rank.runningSums(pruned, partitionCols,
        sortCols.map(col(_).asc), Seq("_n" -> lit(1L)))
      .withColumn("_slot", expr(s"(_n - 1) div ${targetRows}L"))
      .drop("_n", "_n_total")
      .repartition((key :+ col("_slot")): _*)
      .sortWithinPartitions(
        (partitionCols ++ Seq("_slot") ++ sortCols).map(col): _*)
      .drop("_slot")
      .write.mode("overwrite")
      .option("maxRecordsPerFile", targetRows)
      .partitionBy(partitionCols: _*)
      .parquet(outDir)
  }

  /** C31: deterministic sharded JSONL export — the lingua-franca
    * training-data exchange layout (a directory of `shard=N` JSONL
    * shards of a FIXED row count in a PINNED order, plus a manifest):
    * rows take their shard from the D96 distributed global rank
    * (`shard = global_rank div rowsPerShard` — no RNG, no
    * partitioning dependence), so two exports of the same data are
    * row-for-row identical and a resumable downloader/dataloader can
    * address any slice by shard id. `global_rank` rides inside each
    * record as the schedule position. One `repartition(shard)`
    * co-locates each shard into exactly one written file. JSONL's
    * escaping makes the round trip byte-faithful for any text
    * (newlines, unicode); null content serializes as an absent field
    * and reads back null (JSON-source semantics, documented).
    */
  def exportJsonlShards(df: DataFrame, dir: String, rowsPerShard: Long,
                        sortCols: Seq[Column], idCol: Column): Unit = {
    require(rowsPerShard >= 1, s"rowsPerShard must be >= 1, got $rowsPerShard")
    graft.operators.Rank.globalRank(df, sortCols, idCol)
      .withColumn("shard", expr(s"global_rank div ${rowsPerShard}L"))
      .repartition(col("shard"))
      // pin the LINE order inside each shard file: repartition alone
      // leaves shuffle-fetch order, which varies run to run — the
      // row-for-row-identical re-export contract needs the sort
      .sortWithinPartitions(col("shard"), col("global_rank"))
      .write.mode("overwrite").partitionBy("shard").json(dir)
  }

  /** Manifest over a read-back shard directory: per shard — rows,
    * id range, file count, and a portable md5-head XOR content
    * checksum (order-independent, engine-reproducible: the d3/d16
    * nibble-fold idiom) — the sidecar that lets a consumer verify a
    * transferred shard without re-reading the corpus it came from.
    */
  def shardManifest(shards: DataFrame, idCol: Column,
                    contentCol: Column): DataFrame =
    shards
      .withColumn("_h", graft.dedup.Dedup.portableTokenHash60(
        concat_ws("|", idCol, coalesce(contentCol, lit("")))))
      .withColumn("_f", input_file_name())
      .groupBy(col("shard").cast("long").as("shard"))
      .agg(count(lit(1)).as("rows"),
        min(idCol).as("min_id"), max(idCol).as("max_id"),
        countDistinct(col("_f")).as("n_files"),
        expr("bit_xor(_h)").as("content_xor"))

  /** Write `df` hive-partitioned by `partitionCols` (the standard
    * lake layout: one directory level per partition value). Reads
    * that filter on a partition column prune whole directories at
    * plan time (`PartitionFilters` on the scan) — on a date-
    * partitioned 100 TB table, a one-day query lists one directory
    * instead of scanning three years.
    */
  def writePartitioned(df: DataFrame, path: String,
                       partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)

  /** Parse an embedded-JSON string column against a DDL schema
    * (native `from_json` — codegen'd, no UDF), e.g.
    * `jsonField(col("props"), "k INT", "k")`.
    */
  /** C24: conform an incoming batch to a TARGET schema — the
    * schema-drift defense made first-class (the r10→r11 lesson: a
    * physical-type flip in one column silently killed five queries
    * until ingestion became type-adaptive). Per target field:
    * present-and-same-type passes through; present-but-castable casts
    * (when `allowCast`); missing arrives as a typed null. Extra
    * columns drop (when `dropExtras`) — otherwise, and for any
    * un-castable type, this FAILS AT PLAN TIME with the column name,
    * never mid-job on executor 412. Output column order = target
    * order. Name matching is exact (case-sensitive); normalize
    * upstream if a source is case-sloppy.
    */
  def conformSchema(df: DataFrame, target: org.apache.spark.sql.types.StructType,
                    allowCast: Boolean = true,
                    dropExtras: Boolean = true): DataFrame = {
    val present = df.schema.map(f => f.name -> f.dataType).toMap
    val extras = df.columns.filterNot(target.fieldNames.contains)
    if (!dropExtras && extras.nonEmpty)
      throw new IllegalArgumentException(
        s"conformSchema: unexpected columns ${extras.mkString(", ")} " +
          "(dropExtras=false)")
    val cols = target.fields.map { f =>
      present.get(f.name) match {
        case Some(dt) if dt == f.dataType => col(f.name)
        case Some(dt) if allowCast &&
            org.apache.spark.sql.catalyst.expressions.Cast.canCast(dt, f.dataType) =>
          col(f.name).cast(f.dataType).as(f.name)
        case Some(dt) => throw new IllegalArgumentException(
          s"conformSchema: column ${f.name} has type $dt, cannot conform to " +
            s"${f.dataType}" + (if (allowCast) "" else " (allowCast=false)"))
        case None => lit(null).cast(f.dataType).as(f.name)
      }
    }
    df.select(cols.toIndexedSeq: _*)
  }

  /** The audit companion of [[conformSchema]]: one row per affected
    * column — (column, action ∈ pass|cast|add_null|drop, from_type,
    * to_type). Pure schema arithmetic (no data scan); log it with
    * every ingest so drift is visible the batch it happens.
    */
  def conformReport(df: DataFrame, target: org.apache.spark.sql.types.StructType): DataFrame = {
    val present = df.schema.map(f => f.name -> f.dataType).toMap
    val spark = df.sparkSession
    import spark.implicits._
    val rows = target.fields.toSeq.map { f =>
      present.get(f.name) match {
        case Some(dt) if dt == f.dataType =>
          (f.name, "pass", dt.simpleString, f.dataType.simpleString)
        case Some(dt) => (f.name, "cast", dt.simpleString, f.dataType.simpleString)
        case None => (f.name, "add_null", "", f.dataType.simpleString)
      }
    } ++ df.columns.filterNot(target.fieldNames.contains).toSeq.map { c =>
      (c, "drop", present(c).simpleString, "")
    }
    rows.toDF("column", "action", "from_type", "to_type")
  }

  def jsonField(c: Column, ddl: String, field: String): Column =
    from_json(c, org.apache.spark.sql.types.StructType.fromDDL(ddl)).getField(field)
}
