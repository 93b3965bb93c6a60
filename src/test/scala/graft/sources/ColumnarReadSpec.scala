package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture
import graft.schema.MSchema

/** Vectorized scan path of the graftdocs source: the plan goes columnar,
  * and the ColumnarBatch decode is value-identical to the row path over
  * the full declared-type matrix (nested structs, arrays of structs,
  * decimal128, binary/objectId, timestamps incl. NTZ, date32, code) —
  * the Spark twin of the reference's columnar-builder equivalence
  * (process_bson_stream builders, lib.pyx:436-870).
  */
class ColumnarReadSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  import spark.implicits._

  private val fullSchema = StructType(Seq(
    StructField("i", IntegerType),
    StructField("l", LongType),
    StructField("d", DoubleType),
    StructField("s", StringType),
    StructField("b", BooleanType),
    MSchema.timestampField("ts"),
    StructField("dt", DateType,
      metadata = new MetadataBuilder()
        .putString(MSchema.BsonTypeKey, "date32").build()),
    StructField("dec", DecimalType(38, 10),
      metadata = new MetadataBuilder()
        .putString(MSchema.BsonTypeKey, "decimal128").build()),
    MSchema.objectIdField("oid"),
    MSchema.binaryField("bin", 0),
    StructField("arr", ArrayType(LongType)),
    StructField("nested", StructType(Seq(
      StructField("x", DoubleType),
      StructField("inner", StructType(Seq(StructField("y", StringType)))),
      StructField("tags", ArrayType(StringType))))),
    StructField("structs", ArrayType(StructType(Seq(
      StructField("k", LongType), StructField("v", StringType)))))))

  private def writeFixture(): String = {
    val docs = Seq(
      """{"i": 1, "l": {"$numberLong": "9007199254740993"}, "d": 1.5, "s": "a b", "b": true,
         "ts": {"$date": 1700000000123}, "dt": {"$date": 1700003600000},
         "dec": {"$numberDecimal": "12345.6789012345"},
         "oid": {"$oid": "5f0e3a2b1c9d440000abcdef"},
         "bin": {"$binary": {"base64": "AQIDBA==", "subType": "00"}},
         "arr": [1, 2, null, 4],
         "nested": {"x": 2.25, "inner": {"y": "deep"}, "tags": ["t1", "t2"]},
         "structs": [{"k": 1, "v": "one"}, {"k": 2, "v": null}]}""",
      // missing-field null catch-up: most fields absent
      """{"i": 2, "arr": [], "nested": {"x": null, "inner": null, "tags": null}}""",
      // cross-acceptance: bool→int, int→double, double-truncate→long
      """{"i": true, "l": 3.9, "d": 7, "s": "plain", "b": false,
         "ts": {"$date": "2023-11-14T22:13:20.123Z"}, "dt": {"$date": -86400001},
         "dec": 42.5, "arr": [9], "structs": []}""",
      // NaN → null on numeric targets
      """{"i": NaN, "l": NaN, "d": NaN}"""
    ).map(_.replaceAll("\n\\s*", " "))
    val dir = java.nio.file.Files.createTempDirectory("graft_columnar")
    java.nio.file.Files.write(dir.resolve("docs.jsonl"),
      docs.mkString("", "\n", "\n").getBytes("UTF-8"))
    dir.toString
  }

  private def read(path: String, columnar: Boolean) =
    spark.read.format("graftdocs").schema(fullSchema)
      .option("columnar", columnar).option("allowInvalid", true).load(path)

  test("plan reads columnar batches by default; row path behind the option") {
    val path = writeFixture()
    val colPlan = read(path, columnar = true).queryExecution.executedPlan.toString
    assert(colPlan.contains("ColumnarToRow"), s"not columnar:\n$colPlan")
    val rowPlan = read(path, columnar = false).queryExecution.executedPlan.toString
    assert(!rowPlan.contains("ColumnarToRow"), s"row path lost:\n$rowPlan")
  }

  test("columnar decode ≡ row decode over the full type matrix") {
    val path = writeFixture()
    val colRows = read(path, columnar = true).orderBy("i").collect().toSeq
    val rowRows = read(path, columnar = false).orderBy("i").collect().toSeq
    assert(colRows.length == 4)
    // Row.equals on binary columns compares array identity — compare a
    // canonical rendering instead (json covers every nested field)
    val canon = (r: Seq[org.apache.spark.sql.Row]) =>
      r.map(_.json)
    assert(canon(colRows) == canon(rowRows))
  }

  test("decode-time filter skip works on the columnar path") {
    val path = writeFixture()
    GraftScanMetrics.emitted.reset(); GraftScanMetrics.skipped.reset()
    val got = read(path, columnar = true).where($"i" === 2).collect()
    assert(got.length == 1)
    assert(GraftScanMetrics.skipped.sum() > 0)
  }

  test("direct BSON decode engages under pushed filters, with skips") {
    // round-6 gap: any pushed filter used to force the JsonNode-tree
    // path, surrendering the 2.3× direct decode exactly on the filtered
    // scans real workloads run. Now the direct reader evaluates pushed
    // filters against the decoded vectors and compacts survivors.
    val dir = java.nio.file.Files.createTempDirectory("graft_direct_filter")
    val n = 5000
    spark.range(n).selectExpr("id", "cast(id % 7 as double) as d",
        "concat('row', id) as s",
        "timestamp_millis(1700000000000 + id * 1000) as ts",
        "named_struct('x', cast(id as double), 'tags', array(concat('t', id % 3))) as nested",
        "array(id, id + 1) as arr")
      .repartition(1)
      .write.format("graftdocs").option("format", "bson")
      .mode("overwrite").save(dir.toString)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("d", DoubleType),
      StructField("s", StringType), MSchema.timestampField("ts"),
      StructField("nested", StructType(Seq(
        StructField("x", DoubleType),
        StructField("tags", ArrayType(StringType))))),
      StructField("arr", ArrayType(LongType))))
    def rd(columnar: Boolean) = spark.read.format("graftdocs").schema(schema)
      .option("columnar", columnar).load(dir.toString)
      .where($"d" === 3.0 && $"id" >= 100)

    GraftScanMetrics.emitted.reset(); GraftScanMetrics.skipped.reset()
    GraftScanMetrics.direct.reset()
    // no orderBy here: a range sort samples the source in a second scan
    // pass, which would double every counter — sort driver-side instead
    val colRows = rd(columnar = true).collect().toSeq.sortBy(_.getLong(0))
    assert(GraftScanMetrics.direct.sum() == n,
      s"direct path did not engage: direct=${GraftScanMetrics.direct.sum()}")
    assert(GraftScanMetrics.skipped.sum() > 0, "no decode-time skips counted")
    assert(GraftScanMetrics.emitted.sum() == colRows.length.toLong)
    // value parity with the row path under the same filter
    val rowRows = rd(columnar = false).collect().toSeq.sortBy(_.getLong(0))
    assert(colRows.nonEmpty && colRows.map(_.json) == rowRows.map(_.json))
    // and with the no-filter direct read filtered post-hoc
    val all = spark.read.format("graftdocs").schema(schema).load(dir.toString)
      .collect().toSeq.filter(r => r.getDouble(1) == 3.0 && r.getLong(0) >= 100)
      .sortBy(_.getLong(0))
    assert(colRows.map(_.json) == all.map(_.json))
  }

  test("strict-mode type errors still raise on the columnar path") {
    val dir = java.nio.file.Files.createTempDirectory("graft_columnar_strict")
    java.nio.file.Files.write(dir.resolve("bad.jsonl"),
      """{"i": "not-an-int"}""".getBytes("UTF-8"))
    val e = intercept[org.apache.spark.SparkException] {
      spark.read.format("graftdocs")
        .schema(StructType(Seq(StructField("i", IntegerType))))
        .load(dir.toString).collect()
    }
    assert(e.getMessage.contains("unexpected type") ||
      Option(e.getCause).exists(_.getMessage.contains("unexpected type")))
  }

  test("limit pushdown stops decode after n rows per partition") {
    val dir = java.nio.file.Files.createTempDirectory("graft_limit")
    val sb = new StringBuilder
    (1 to 20000).foreach(i => sb.append(s"""{"i": $i}\n"""))
    java.nio.file.Files.write(dir.resolve("big.jsonl"), sb.toString.getBytes("UTF-8"))
    val schema = StructType(Seq(StructField("i", LongType)))
    for (columnar <- Seq(true, false)) {
      GraftScanMetrics.emitted.reset()
      val q = spark.read.format("graftdocs").schema(schema)
        .option("columnar", columnar).load(dir.toString).limit(5)
      assert(q.queryExecution.executedPlan.toString.contains("PushedLimit: 5"))
      assert(q.collect().length == 5)
      // one partition here: the decoder must have stopped at the limit,
      // not decoded all 20000 documents
      assert(GraftScanMetrics.emitted.sum() <= 5L,
        s"columnar=$columnar decoded ${GraftScanMetrics.emitted.sum()} rows")
    }
  }

  test("count(*) pushdown never decodes a document") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cnt")
    val sb = new StringBuilder
    (1 to 12345).foreach(i => sb.append(s"""{"i": $i, "s": "row$i"}\n"""))
    sb.append("\n") // blank line: excluded from the row set, and from the count
    java.nio.file.Files.write(dir.resolve("a.jsonl"), sb.toString.getBytes("UTF-8"))
    val schema = StructType(Seq(StructField("i", LongType), StructField("s", StringType)))
    val df = spark.read.format("graftdocs").schema(schema).load(dir.toString)
    GraftScanMetrics.emitted.reset()
    val q = df.groupBy().count()
    assert(q.queryExecution.executedPlan.toString.contains("PushedAggregation"),
      q.queryExecution.executedPlan.toString)
    assert(q.head.getLong(0) == 12345)
    assert(GraftScanMetrics.emitted.sum() == 0, "count decoded documents")
    // bson format: length-prefix hops
    val bdir = java.nio.file.Files.createTempDirectory("graft_cnt_b")
    spark.range(777).selectExpr("id").write.format("graftdocs")
      .option("format", "bson").mode("overwrite").save(bdir.toString)
    val bs = StructType(Seq(StructField("id", LongType)))
    val bq = spark.read.format("graftdocs").schema(bs).load(bdir.toString).groupBy().count()
    assert(bq.queryExecution.executedPlan.toString.contains("PushedAggregation"))
    assert(bq.head.getLong(0) == 777)
    // a filtered count must NOT push (filters stay post-scan here)
    val fq = df.where($"i" > 100).groupBy().count()
    assert(!fq.queryExecution.executedPlan.toString.contains("PushedAggregation"))
    assert(fq.head.getLong(0) == 12245)
  }

  test("count(*) pushdown is exact across byte-split boundaries") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cnt_split")
    val sb = new StringBuilder
    (1 to 5000).foreach(i => sb.append(s"""{"i": $i}\n"""))
    java.nio.file.Files.write(dir.resolve("a.jsonl"), sb.toString.getBytes("UTF-8"))
    val schema = StructType(Seq(StructField("i", LongType)))
    // tiny splits: every boundary lands mid-line somewhere
    for (split <- Seq(997L, 4096L, 64L * 1024)) {
      val q = spark.read.format("graftdocs").schema(schema)
        .option("maxSplitBytes", split).load(dir.toString).groupBy().count()
      assert(q.queryExecution.executedPlan.toString.contains("PushedAggregation"))
      assert(q.head.getLong(0) == 5000, s"split=$split")
    }
  }

  test("inferMaxDocs bounds the inference sample per file") {
    val dir = java.nio.file.Files.createTempDirectory("graft_infer")
    val sb = new StringBuilder
    // field "late" appears only after the first 100 docs
    (1 to 100).foreach(i => sb.append(s"""{"i": $i}\n"""))
    (1 to 50).foreach(i => sb.append(s"""{"i": $i, "late": "x$i"}\n"""))
    java.nio.file.Files.write(dir.resolve("a.jsonl"), sb.toString.getBytes("UTF-8"))
    val full = spark.read.format("graftdocs").load(dir.toString).schema
    assert(full.fieldNames.contains("late"))
    val sampled = spark.read.format("graftdocs")
      .option("inferMaxDocs", 100).load(dir.toString).schema
    assert(!sampled.fieldNames.contains("late")) // documented trade
    assert(sampled.fieldNames.contains("i"))
  }

  test("multi-batch reads (capacity rollover) keep every row") {
    val dir = java.nio.file.Files.createTempDirectory("graft_columnar_big")
    val sb = new StringBuilder
    (1 to 10000).foreach(i => sb.append(s"""{"i": $i, "s": "row$i"}\n"""))
    java.nio.file.Files.write(dir.resolve("big.jsonl"), sb.toString.getBytes("UTF-8"))
    val schema = StructType(Seq(StructField("i", LongType), StructField("s", StringType)))
    val df = spark.read.format("graftdocs").schema(schema).load(dir.toString)
    assert(df.count() == 10000)
    assert(df.agg(sum("i")).head.getLong(0) == 10000L * 10001 / 2)
  }

  private def resetScanMetrics(): Unit = {
    GraftScanMetrics.emitted.reset(); GraftScanMetrics.skipped.reset()
    GraftScanMetrics.passedThrough.reset(); GraftScanMetrics.compacted.reset()
  }

  test("filtered direct scans pass mostly-surviving batches through and " +
    "compact selective ones; emitted/skipped stay exact") {
    val schema = StructType(Seq(StructField("id", LongType), StructField("s", StringType)))
    for (format <- Seq("bson", "jsonl")) {
      val dir = java.nio.file.Files.createTempDirectory("graft_pass").toString
      spark.range(10000).selectExpr("id", "concat('s', id) as s").coalesce(1)
        .write.format("graftdocs").option("format", format)
        .mode("overwrite").save(dir)
      def scan(cond: org.apache.spark.sql.Column): Seq[Long] = {
        resetScanMetrics()
        spark.read.format("graftdocs").schema(schema).load(dir).where(cond)
          .collect().toSeq.map(_.getLong(0)).sorted
      }
      // ~99% survive: every batch leaves the reader as decoded
      assert(scan($"id" >= 100) == (100L until 10000L), format)
      assert(GraftScanMetrics.emitted.sum() == 9900 &&
        GraftScanMetrics.skipped.sum() == 100, format)
      assert(GraftScanMetrics.passedThrough.sum() > 0 &&
        GraftScanMetrics.compacted.sum() == 0, format)
      // ~1% survive: the batch holding the survivors compacts
      assert(scan($"id" < 100) == (0L until 100L), format)
      assert(GraftScanMetrics.emitted.sum() == 100 &&
        GraftScanMetrics.skipped.sum() == 9900, format)
      assert(GraftScanMetrics.compacted.sum() > 0 &&
        GraftScanMetrics.passedThrough.sum() == 0, format)
    }
  }

  test("hive-partitioned direct scan alternating passed-through and " +
    "compacted batches fills the partition column into both") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pass_part")
    val part = dir.resolve("p=7")
    java.nio.file.Files.createDirectories(part)
    // batch-sized runs: all survive, ~1% survive, all survive
    val n = 3 * 4096
    def v(i: Int): Int = if (i / 4096 == 1 && i % 100 != 0) 0 else 1
    java.nio.file.Files.write(part.resolve("part-0.jsonl"),
      (0 until n).map(i => s"""{"i": $i, "v": ${v(i)}}""")
        .mkString("", "\n", "\n").getBytes("UTF-8"))
    val schema = StructType(Seq(StructField("i", LongType),
      StructField("v", IntegerType), StructField("p", IntegerType)))
    def rows(columnar: Boolean) = spark.read.format("graftdocs").schema(schema)
      .option("columnar", columnar).load(dir.toString).where($"v" === 1)
      .collect().toSeq.map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).sortBy(_._1)
    resetScanMetrics()
    val direct = rows(columnar = true)
    assert(GraftScanMetrics.passedThrough.sum() == 2 &&
      GraftScanMetrics.compacted.sum() == 1)
    val expected = (0 until n).filter(v(_) == 1).map(i => (i.toLong, 1, 7))
    assert(direct == expected)
    assert(rows(columnar = false) == expected)
  }

  /** Non-empty lines of `bytes` split plainly on '\n': the row set every
    * split layout must reproduce. */
  private def plainLines(bytes: Array[Byte]): Seq[String] =
    new String(bytes, "UTF-8").split("\n", -1).toSeq.filter(_.nonEmpty)

  private def lineIds(lines: Seq[String]): Seq[Long] =
    lines.map(l => "\"i\": (\\d+)".r.findFirstMatchIn(l).get.group(1).toLong).sorted

  /** Direct rows, row-path rows (when asked) and the pushed count(*) of
    * `dir` read with `split`-byte splits, against the plain split. */
  private def assertFramed(dir: String, expected: Seq[Long], split: Long,
                           rowPath: Boolean): Unit = {
    val schema = StructType(Seq(StructField("i", LongType), StructField("s", StringType)))
    def df(columnar: Boolean) = spark.read.format("graftdocs").schema(schema)
      .option("columnar", columnar).option("maxSplitBytes", split).load(dir)
    assert(df(columnar = true).collect().map(_.getLong(0)).toSeq.sorted == expected,
      s"direct rows, split=$split")
    if (rowPath) assert(df(columnar = false).collect().map(_.getLong(0)).toSeq.sorted ==
      expected, s"row-path rows, split=$split")
    val cnt = df(columnar = true).groupBy().count()
    assert(cnt.queryExecution.executedPlan.toString.contains("PushedAggregation"))
    assert(cnt.head.getLong(0) == expected.length, s"count, split=$split")
  }

  test("JSONL framer: every split offset of a small file, empty lines, " +
    "an unterminated last line") {
    val text = "\n{\"i\": 1, \"s\": \"a\"}\n\n{\"i\": 2, \"s\": \"héllo\"}\n\n\n" +
      "{\"i\": 3}\n{\"i\": 4, \"s\": \"名前\"}\n\n{\"i\": 5}"
    val bytes = text.getBytes("UTF-8")
    val dir = java.nio.file.Files.createTempDirectory("graft_frame_small")
    val file = dir.resolve("a.jsonl")
    java.nio.file.Files.write(file, bytes)
    val expected = plainLines(bytes)
    assert(lineIds(expected) == Seq(1L, 2L, 3L, 4L, 5L))
    // the framer itself: any two-split cut owns every line exactly once
    val lfs = org.apache.hadoop.fs.FileSystem.getLocal(
      new org.apache.hadoop.conf.Configuration())
    def owned(start: Long, end: Long): Seq[String] = {
      val lines = new JsonlRawLines(
        lfs.open(new org.apache.hadoop.fs.Path(file.toString)), start, end)
      try Iterator.continually(lines.nextNonEmpty()).takeWhile(_ >= 0)
        .map(len => new String(lines.buffer, lines.offset, len, "UTF-8")).toList
      finally lines.close()
    }
    for (cut <- 0 to bytes.length)
      assert(owned(0, cut) ++ owned(cut, bytes.length) == expected, s"cut=$cut")
    // the scan: direct rows and the pushed count at every split size
    for (split <- 1 to bytes.length)
      assertFramed(dir.toString, lineIds(expected), split.toLong,
        rowPath = split % 7 == 1)
  }

  test("JSONL framer: a line straddling the 64 KiB read and a line longer " +
    "than it") {
    val sb = new StringBuilder
    var i = 0
    def line(pad: Int): Unit = {
      i += 1
      sb.append(s"""{"i": $i, "s": "${"x" * pad}"}""").append('\n')
      if (i % 17 == 0) sb.append('\n') // empty lines between
    }
    (1 to 90).foreach(_ => line(997))
    line(150000) // > the 64 KiB read
    (1 to 60).foreach(_ => line(1011))
    sb.append(s"""{"i": ${i + 1}, "s": "last"}""") // unterminated
    val bytes = sb.toString.getBytes("UTF-8")
    val starts = bytes.indices.filter(k => k == 0 || bytes(k - 1) == '\n')
    assert(!starts.contains(1 << 16), "the 64 KiB boundary must fall mid-line")
    val dir = java.nio.file.Files.createTempDirectory("graft_frame_big")
    java.nio.file.Files.write(dir.resolve("a.jsonl"), bytes)
    val expected = lineIds(plainLines(bytes))
    assert(expected.length == 152)
    for (split <- Seq(bytes.length.toLong, 1L << 16, (1L << 16) - 1, (1L << 16) + 1,
                      100000L, 4099L))
      assertFramed(dir.toString, expected, split, rowPath = true)
  }
}
