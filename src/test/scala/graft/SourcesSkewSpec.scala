package graft

import org.apache.spark.sql.functions._
import graft.sources.{Sources, Xlsx}
import graft.operators.Skew
import graft.corrector.Corrector
import graft.profile.Profiler

class SourcesSkewSpec extends SparkSpec {
  import spark.implicits._

  test("csv and jsonl sources round-trip") {
    val dir = java.nio.file.Files.createTempDirectory("graft-src").toString
    val df = Seq((1, "a"), (2, "b")).toDF("id", "s")
    df.write.option("header", "true").csv(s"$dir/c")
    df.write.json(s"$dir/j")
    val c = Sources.readCsv(spark, s"$dir/c")
    assert(c.count() == 2 && c.schema("id").dataType.typeName == "integer")
    assert(Sources.readJsonLines(spark, s"$dir/j").count() == 2)
  }

  test("orc round-trips and pushes filters into the scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft-orc").toString
    val df = (1 to 100).map(i => (i.toLong, s"row$i")).toDF("id", "s")
    Sources.writeOrc(df, s"$dir/o")
    val back = Sources.readOrc(spark, s"$dir/o")
    assert(back.count() == 100)
    assert(back.orderBy("id").collect()(0).getString(1) == "row1")
    val plan = back.filter(col("id") > 90).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [") && plan.contains("GreaterThan(id,90)"),
      s"expected ORC pushdown:\n$plan")
  }

  test("xlsx round-trips through the native writer/reader (numbers, strings, nulls, escaping)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-xlsx").toString
    val df = Seq(
      (1L, Some("plain"), Some(1.5)),
      (2L, Some("esc <&> \"q\" tr"), None),
      (3L, None: Option[String], Some(-0.25))).toDF("id", "name", "score")
    Xlsx.writeXlsx(df, s"$dir/out.xlsx")
    val back = Xlsx.readXlsx(spark, s"$dir/out.xlsx")
    assert(back.columns.toSeq == Seq("id", "name", "score"))
    val rows = back.collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .sortBy(_._1)
    assert(rows(0) == ("1", "plain", "1.5"))
    assert(rows(1) == ("2", "esc <&> \"q\" tr", null))
    assert(rows(2) == ("3", null, "-0.25"))
  }

  test("partitioned xlsx export: one workbook per partition, executors write, reader reassembles") {
    val dir = java.nio.file.Files.createTempDirectory("graft-xlsxp").toString + "/multi"
    val df = (1 to 100).map(i => (i.toLong, s"row$i")).toDF("id", "name").repartition(3)
    Xlsx.writeXlsxPartitioned(df, dir)
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".xlsx"))
    assert(files.length == 3, "one workbook per non-empty partition")
    val back = Xlsx.readXlsx(spark, dir)
    assert(back.count() == 100)
    assert(back.collect().map(_.getString(0).toLong).sorted.toSeq == (1L to 100L))
    // per-sheet cap is enforced, not silently truncated
    intercept[org.apache.spark.SparkException] {
      Xlsx.writeXlsxPartitioned(df.repartition(1), dir + "2", maxRowsPerFile = 10)
    }
    // re-export with FEWER partitions must not leave stale part files
    // for readXlsx to silently merge in
    Xlsx.writeXlsxPartitioned(df.limit(10).repartition(1), dir)
    val after = new java.io.File(dir).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".xlsx"))
    assert(after.length == 1, s"stale parts survived: ${after.map(_.getName).mkString(",")}")
    assert(Xlsx.readXlsx(spark, dir).count() == 10)
    // no temp files left behind
    assert(!new java.io.File(dir).listFiles().exists(_.getName.contains(".tmp-")))
    // a FAILED re-export must leave the previous export fully intact
    // (commit-style staging: stale parts are only dropped after the
    // job succeeds) — and the surviving staging dir must stay hidden
    // from the reader
    intercept[org.apache.spark.SparkException] {
      Xlsx.writeXlsxPartitioned(df.repartition(1), dir, maxRowsPerFile = 10)
    }
    assert(Xlsx.readXlsx(spark, dir).count() == 10, "failed re-export clobbered the old data")
  }

  test("xlsx reader handles shared strings and sparse cells (openpyxl-style part layout)") {
    // hand-crafted workbook using the sharedStrings part + a gap cell,
    // the layout pandas/openpyxl emit (our writer uses inline strings,
    // so this path needs its own fixture)
    val dir = java.nio.file.Files.createTempDirectory("graft-xlsx2").toString
    val f = new java.io.FileOutputStream(s"$dir/ss.xlsx")
    val z = new java.util.zip.ZipOutputStream(f)
    def entry(n: String, c: String): Unit = {
      z.putNextEntry(new java.util.zip.ZipEntry(n)); z.write(c.getBytes("UTF-8")); z.closeEntry()
    }
    entry("[Content_Types].xml",
      """<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types"><Default Extension="xml" ContentType="application/xml"/></Types>""")
    entry("xl/sharedStrings.xml",
      """<?xml version="1.0"?><sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><si><t>col_a</t></si><si><t>col_b</t></si><si><r><t>two-</t></r><r><t>runs</t></r></si></sst>""")
    entry("xl/worksheets/sheet1.xml",
      """<?xml version="1.0"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>
        |<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c><c r="C1" t="inlineStr"><is><t>col_c</t></is></c></row>
        |<row r="2"><c r="A2" t="s"><v>2</v></c><c r="C2"><v>9.5</v></c></row>
        |</sheetData></worksheet>""".stripMargin)
    z.finish(); f.close()
    val back = Xlsx.readXlsx(spark, s"$dir/ss.xlsx")
    assert(back.columns.toSeq == Seq("col_a", "col_b", "col_c"))
    val r = back.collect()(0)
    assert(r.getString(0) == "two-runs") // concatenated <r> runs
    assert(r.getString(1) == null)       // sparse B2 gap
    assert(r.getString(2) == "9.5")      // untyped numeric cell
  }

  test("xlsx reader: out-of-grid cell refs fail loud; malformed shared index yields null") {
    val dir = java.nio.file.Files.createTempDirectory("graft-xlsx3").toString
    def workbook(name: String, sheetXml: String): String = {
      val f = new java.io.FileOutputStream(s"$dir/$name")
      val z = new java.util.zip.ZipOutputStream(f)
      def entry(n: String, c: String): Unit = {
        z.putNextEntry(new java.util.zip.ZipEntry(n)); z.write(c.getBytes("UTF-8")); z.closeEntry()
      }
      entry("xl/sharedStrings.xml",
        """<?xml version="1.0"?><sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><si><t>hello</t></si></sst>""")
      entry("xl/worksheets/sheet1.xml",
        s"""<?xml version="1.0"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>$sheetXml</sheetData></worksheet>""")
      z.finish(); f.close()
      s"$dir/$name"
    }
    // a crafted "ZZZZZZ1" ref would pad ~3e8 null cells without the
    // grid bound — must fail loud naming the ref, not OOM the task
    val bomb = workbook("bomb.xlsx",
      """<row r="1"><c r="A1"><v>x</v></c><c r="ZZZZZZ1"><v>y</v></c></row>""")
    val e = intercept[Exception] {
      Xlsx.readXlsx(spark, bomb, header = false).collect()
    }
    assert(e.getMessage.contains("ZZZZZZ1") ||
      Option(e.getCause).exists(_.getMessage.contains("ZZZZZZ1")))
    // malformed shared-string index: null cell, workbook still parses
    val junkIdx = workbook("junk.xlsx",
      """<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>zz</v></c></row>""")
    val rows = Xlsx.readXlsx(spark, junkIdx, header = false).collect()
    assert(rows.length == 1 && rows(0).getString(0) == "hello" && rows(0).getString(1) == null)
  }

  test("jsonField parses embedded JSON without a UDF") {
    val r = Seq("""{"k": 42}""", """{"k": 7}""", "not json").toDF("props")
      .select(Sources.jsonField(col("props"), "k INT", "k").as("k"))
      .collect().map(r => Option(r.get(0)))
    assert(r.toSeq == Seq(Some(42), Some(7), None))
  }

  test("asofJoin: latest preceding state per key, inclusive bound, null before first update") {
    val left = Seq((1L, 10L, "e1"), (1L, 25L, "e2"), (2L, 5L, "e3"))
      .toDF("k", "ts", "ev")
    val right = Seq((1L, 10L, "v10"), (1L, 20L, "v20"), (2L, 50L, "v50"))
      .toDF("k", "ts", "state")
    val got = graft.operators.AsOf.asofJoin(left, right, "k", "ts", Seq("state"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        Option(r.getString(3)))).toSet
    assert(got == Set(
      (1L, 10L, "e1", Some("v10")),  // equal ts => inclusive match
      (1L, 25L, "e2", Some("v20")),  // latest preceding, not first
      (2L, 5L, "e3", None)))         // no update yet => null state
  }

  test("saltedCount/saltedSum equal the unsalted aggregation") {
    val df = (1 to 1000).map(i => (if (i % 10 == 0) "hot" else s"k${i % 7}", i.toDouble))
      .toDF("k", "v")
    val plainC = df.groupBy("k").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val saltedC = Skew.saltedCount(df, "k", 8).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(saltedC == plainC)
    val plainS = df.groupBy("k").agg(sum("v")).collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val saltedS = Skew.saltedSum(df, "k", "v", 8).collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(saltedS.keySet == plainS.keySet)
    saltedS.foreach { case (k, v) => assert(math.abs(v - plainS(k)) < 1e-6) }
  }

  test("saltedJoin equals the plain join and spreads the hot key") {
    val left = ((1 to 900).map(_ => "hot") ++ Seq("a", "b", "c")).map(k => k -> 1)
      .toDF("k", "v").repartition(4)
    val right = Seq("hot" -> 10, "a" -> 20, "b" -> 30, "z" -> 40).toDF("k", "w")
    val plain = left.join(right, "k")
    val salted = Skew.saltedJoin(left, right, "k", 8)
    assert(salted.count() == plain.count())
    val agg = salted.groupBy("k").sum("w").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val aggP = plain.groupBy("k").sum("w").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(agg == aggP)
  }

  test("salt spreads IDENTICAL rows of a hot key across buckets") {
    // the archetypal hot key: many byte-identical rows — a content
    // hash would give them all one salt and re-create the hotspot
    val hot = spark.range(1000).select(lit("hot").as("k")).repartition(4)
    val salts = hot.withColumn("_salt", Skew.salt(8))
      .groupBy("_salt").count().collect()
    assert(salts.length > 1, s"identical rows landed on ${salts.length} salt bucket(s)")
    assert(salts.map(_.getLong(1)).max < 1000)
  }

  test("partitioned layout prunes partitions at plan time") {
    val dir = java.nio.file.Files.createTempDirectory("graft-part").toString
    val df = (1 to 300).map(i => (i, if (i % 3 == 0) "c" else if (i % 3 == 1) "a" else "b"))
      .toDF("id", "k")
    Sources.writePartitioned(df, s"$dir/t", Seq("k"))
    val filtered = spark.read.parquet(s"$dir/t").filter(col("k") === "a")
    assert(filtered.count() == 100)
    val scan = filtered.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [isnotnull(k"),
      s"expected partition pruning in scan, got:\n$scan")
    // the data filter must NOT appear as a post-scan filter: pruning
    // handled it entirely
    assert(!scan.contains("PushedFilters: [IsNotNull(k"), "k should be partition-pruned, not row-filtered")
  }

  test("bucketed tables on the same key join WITHOUT a shuffle exchange") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bkt").toString
    val a = (1 to 1000).map(i => (i.toLong, s"a$i")).toDF("k", "va")
    val b = (1 to 1000).map(i => (i.toLong, s"b$i")).toDF("k", "vb")
    Sources.writeBucketed(a, "bkt_a", s"$dir/a", "k", 8)
    Sources.writeBucketed(b, "bkt_b", s"$dir/b", "k", 8)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = spark.table("bkt_a").join(spark.table("bkt_b"), "k")
      assert(j.count() == 1000)
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"expected shuffle-free co-located join, got:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("withRowIndex assigns a deterministic 0-based index by sort order") {
    val df = Seq("c", "a", "b").toDF("s")
    val idx = Corrector.withRowIndex(df, Seq("s")).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(idx == Map("a" -> 0, "b" -> 1, "c" -> 2))
  }

  test("withRowIndex over 9 range partitions with ties equals a global row_number") {
    // the index is a distributed rank (no single-task window, no row
    // cap): spread 600 rows with heavy ties in (g, s) over 9 range
    // partitions and compare against one unpartitioned row_number
    val keys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.adaptive.coalescePartitions.enabled")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.shuffle.partitions", "9")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try {
      val df = spark.range(600).toDF("k")
        .withColumn("g", (col("k") * 7919 % 5).cast("int"))
        .withColumn("s", (col("k") * 31 % 11).cast("string"))
      val got = Corrector.withRowIndex(df, Seq("g", "s")).collect()
      val idx = got.map(_.getAs[Int]("row_index"))
      assert(idx.sorted.toSeq == (0 until 600))
      assert(got.map(_.getAs[Long]("k")).toSet.size == 600)
      // tied rows may take either tied slot; the key at every index
      // must be the reference's
      val want = df.withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy("g", "s")) - 1)
        .collect().map(r => r.getAs[Int]("rn") -> (r.getAs[Int]("g"), r.getAs[String]("s")))
        .sortBy(_._1).toSeq
      val have = got.map(r => r.getAs[Int]("row_index") -> (r.getAs[Int]("g"), r.getAs[String]("s")))
        .sortBy(_._1).toSeq
      assert(have == want)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("approx numeric stats agree with exact on a small column") {
    val df = (1 to 1000).map(_.toDouble).toDF("v")
    val exact = Profiler.numericStats(df, Seq("v")).collect()(0)
    val approx = Profiler.numericStatsApprox(df, Seq("v")).collect()(0)
    assert(approx.getAs[Long]("cnt") == exact.getAs[Long]("cnt"))
    assert(math.abs(approx.getAs[Double]("median") - exact.getAs[Double]("median")) <= 1.0)
    assert(approx.getAs[Double]("min") == exact.getAs[Double]("min"))
  }
}
