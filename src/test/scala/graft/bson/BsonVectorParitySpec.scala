package graft.bson

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture
import graft.schema.MSchema

/** The direct BSON→vector decode path must agree cell-for-cell with the
  * tree path (BsonBinary → DocDecoder) — the coercion matrix, strict
  * errors, missing-field null catch-up, nested recursion, wire-level
  * pruning. Fixtures are written with one schema (natural types) and
  * read with another (declared types) to force every cross-acceptance
  * cell through both paths.
  */
class BsonVectorParitySpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  /** Write rows under writeSchema as .bson, read under readSchema via
    * both columnar (direct) and row (tree) paths, compare canonical. */
  private def bothPaths(rows: Seq[Row], writeSchema: StructType,
                        readSchema: StructType, allowInvalid: Boolean = false)
      : (Seq[String], Seq[String]) = {
    val dir = java.nio.file.Files.createTempDirectory("graft_bvd")
    val out = new java.io.ByteArrayOutputStream()
    rows.foreach(r => out.write(BsonBinary.encodeRow(r, writeSchema)))
    java.nio.file.Files.write(dir.resolve("docs.bson"), out.toByteArray)
    def read(columnar: Boolean) =
      spark.read.format("graftdocs").schema(readSchema)
        .option("columnar", columnar).option("allowInvalid", allowInvalid)
        .load(dir.toString).collect().toSeq.map(_.json)
    (read(true), read(false))
  }

  test("cross-acceptance matrix: direct ≡ tree") {
    // natural write types, coercing read types
    val w = StructType(Seq(
      StructField("a", BooleanType),   // bool → int
      StructField("b", DoubleType),    // double → long (truncate, NaN null)
      StructField("c", IntegerType),   // int32 → double
      StructField("d", LongType),      // int64 → double
      StructField("e", IntegerType),   // int32 → long
      StructField("f", DoubleType)))   // double → int (truncate)
    val r = StructType(Seq(
      StructField("a", IntegerType), StructField("b", LongType),
      StructField("c", DoubleType), StructField("d", DoubleType),
      StructField("e", LongType), StructField("f", IntegerType)))
    val rows = Seq(
      Row(true, 3.9, 7, 123456789012345L, -5, -2.7),
      Row(false, -0.5, 0, -1L, Int.MaxValue, 2.0e9),
      Row(null, Double.NaN, null, 0L, null, Double.NaN))
    val (direct, tree) = bothPaths(rows, w, r)
    assert(direct == tree)
  }

  test("full type surface: strings/bool/dates/decimal/oid/binary/nested") {
    val schema = StructType(Seq(
      StructField("s", StringType),
      StructField("b", BooleanType),
      MSchema.timestampField("ts"),
      StructField("dt", DateType),
      StructField("dec", DecimalType(38, 10)),
      MSchema.objectIdField("oid"),
      MSchema.binaryField("bin", 0),
      StructField("arr", ArrayType(LongType)),
      StructField("nested", StructType(Seq(
        StructField("x", DoubleType),
        StructField("tags", ArrayType(StringType)),
        StructField("inner", StructType(Seq(StructField("y", StringType))))))),
      StructField("structs", ArrayType(StructType(Seq(
        StructField("k", LongType), StructField("v", StringType)))))))
    val rows = Seq(
      Row("héllo 🎉", true, java.time.LocalDateTime.parse("2023-11-14T22:13:20.123"),
        java.sql.Date.valueOf("2021-06-15"),
        new java.math.BigDecimal("12345.6789012345"),
        Array.tabulate[Byte](12)(_.toByte), Array[Byte](1, 2, 3, 4),
        Seq(1L, null, 3L),
        Row(2.25, Seq("t1", "t2"), Row("deep")),
        Seq(Row(1L, "one"), Row(2L, null))),
      Row(null, null, null, null, null, null, null, Seq.empty[Long],
        Row(null, null, null), null),
      // whole row of missing fields exercised via nulls above; this row
      // checks empty containers
      Row("", false, null, null, new java.math.BigDecimal("0"),
        null, Array.empty[Byte], null, null, Seq.empty[Row]))
    val (direct, tree) = bothPaths(rows, schema, schema)
    assert(direct == tree)
  }

  test("pruned read skips undeclared fields at the byte level") {
    val w = StructType(Seq(
      StructField("keep", LongType), StructField("drop1", StringType),
      StructField("drop2", ArrayType(DoubleType)),
      StructField("drop3", StructType(Seq(StructField("z", StringType))))))
    val rows = (1 to 500).map(i => Row(i.toLong, "x" * 50,
      Seq(1.0, 2.0, 3.0), Row("deep")))
    val r = StructType(Seq(StructField("keep", LongType)))
    val (direct, tree) = bothPaths(rows, w, r)
    assert(direct == tree && direct.length == 500)
  }

  test("strict-mode mismatch raises the same error both ways") {
    val w = StructType(Seq(StructField("v", StringType)))
    val r = StructType(Seq(StructField("v", IntegerType)))
    val rows = Seq(Row("not-an-int"))
    def msg(columnar: Boolean): String = {
      val dir = java.nio.file.Files.createTempDirectory("graft_bvd_strict")
      val out = new java.io.ByteArrayOutputStream()
      rows.foreach(x => out.write(BsonBinary.encodeRow(x, w)))
      java.nio.file.Files.write(dir.resolve("d.bson"), out.toByteArray)
      val e = intercept[org.apache.spark.SparkException] {
        spark.read.format("graftdocs").schema(r)
          .option("columnar", columnar).load(dir.toString).collect()
      }
      Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
        .collectFirst { case g: GraftTypeError => g.getMessage }
        .getOrElse(fail(s"no GraftTypeError in $e"))
    }
    assert(msg(true) == msg(false))
    // permissive mode nulls instead, identically
    val (direct, tree) = bothPaths(rows, w, r, allowInvalid = true)
    assert(direct == tree && direct.length == 1)
  }

  test("permissive coercion failures null identically (matrix sweep)") {
    val w = StructType(Seq(
      StructField("a", StringType),   // string where int declared
      StructField("b", LongType),     // long where bool declared
      StructField("c", DoubleType),   // double where string declared
      StructField("d", BooleanType))) // bool where timestamp declared
    val r = StructType(Seq(
      StructField("a", IntegerType), StructField("b", BooleanType),
      StructField("c", StringType), MSchema.timestampField("d")))
    val rows = Seq(Row("nope", 5L, 1.5, true), Row(null, null, null, null))
    val (direct, tree) = bothPaths(rows, w, r, allowInvalid = true)
    assert(direct == tree)
  }

  test("fuzz: random schemas × random rows decode identically both ways") {
    import org.scalacheck.Gen
    def sample[A](g: Gen[A]): A =
      Iterator.continually(g.sample).flatten.next()

    val scalarTypes: Seq[DataType] = Seq(LongType, IntegerType, DoubleType,
      StringType, BooleanType, DateType, DecimalType(18, 4))
    def typeGen(depth: Int): Gen[DataType] =
      if (depth == 0) Gen.oneOf(scalarTypes)
      else Gen.frequency(
        5 -> Gen.oneOf(scalarTypes),
        1 -> Gen.listOfN(2, fieldGen(depth - 1)).map(fs =>
          StructType(fs.zipWithIndex.map { case (f, i) => f.copy(name = s"f$i") })),
        1 -> typeGen(depth - 1).map(t => ArrayType(t)))
    def fieldGen(depth: Int): Gen[StructField] =
      typeGen(depth).map(t => StructField("x", t))

    val strGen = Gen.oneOf("", "a", "héllo", "with space", "🎉", "x" * 40)
    def valueGen(dt: DataType): Gen[Any] = dt match {
      case LongType => Gen.chooseNum(Long.MinValue / 2, Long.MaxValue / 2)
      case IntegerType => Gen.chooseNum(Int.MinValue, Int.MaxValue)
      case DoubleType => Gen.oneOf(Gen.chooseNum(-1e12, 1e12), Gen.oneOf(
        0.0, -0.0, Double.NaN, 1.5e-8))
      case StringType => strGen
      case BooleanType => Gen.oneOf(true, false)
      case DateType => Gen.chooseNum(-30000, 30000)
        .map(d => java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(d)))
      case _: DecimalType => Gen.chooseNum(-999999999999L, 999999999999L)
        .map(v => new java.math.BigDecimal(java.math.BigInteger.valueOf(v), 4))
      case st: StructType => Gen.sequence[Seq[Any], Any](
        st.fields.toSeq.map(f => nullableGen(f.dataType))).map(Row.fromSeq)
      case ArrayType(et, _) =>
        Gen.chooseNum(0, 4).flatMap(n =>
          Gen.sequence[Seq[Any], Any](Seq.fill(n)(nullableGen(et))))
      case other => throw new IllegalArgumentException(other.toString)
    }
    def nullableGen(dt: DataType): Gen[Any] =
      Gen.frequency(6 -> valueGen(dt), 1 -> Gen.const(null))

    for (round <- 1 to 25) {
      val nCols = sample(Gen.chooseNum(1, 6))
      val schema = StructType((0 until nCols).map(i =>
        sample(fieldGen(2)) match { case f => f.copy(name = s"c$i") }))
      val rows = (1 to 20).map(_ =>
        Row.fromSeq(schema.fields.toSeq.map(f => sample(nullableGen(f.dataType)))))
      val (direct, tree) = bothPaths(rows, schema, schema)
      assert(direct == tree, s"round $round schema ${schema.simpleString}")
    }
  }

  test("absurd datetime on a date32 target: raw overflow raise, not truncation") {
    // a day count beyond int range raises the tree appender's RAW
    // ArithmeticException (toIntExact) in BOTH modes; a silent .toInt
    // truncation would decode garbage instead
    val w = StructType(Seq(MSchema.timestampField("d")))
    val r = StructType(Seq(StructField("d", DateType,
      metadata = new MetadataBuilder()
        .putString(MSchema.BsonTypeKey, "date32").build())))
    def rootCause(ms: Long, columnar: Boolean): String = {
      val dir = java.nio.file.Files.createTempDirectory("graft_bvd_date")
      val out = new java.io.ByteArrayOutputStream()
      out.write(BsonBinary.encodeRow(Row(new java.sql.Timestamp(ms)), w))
      java.nio.file.Files.write(dir.resolve("d.bson"), out.toByteArray)
      val e = intercept[org.apache.spark.SparkException] {
        spark.read.format("graftdocs").schema(r)
          .option("columnar", columnar).option("allowInvalid", true)
          .load(dir.toString).collect()
      }
      Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
        .collectFirst { case a: ArithmeticException => a.getMessage }
        .getOrElse(fail(s"no ArithmeticException in $e"))
    }
    for (ms <- Seq(4000000000000000000L, -4000000000000000000L))
      assert(rootCause(ms, columnar = true) == rootCause(ms, columnar = false))
    // sane values still decode identically
    val (direct, tree) = bothPaths(
      Seq(Row(java.sql.Timestamp.valueOf("2021-06-15 00:00:00"))), w, r)
    assert(direct == tree && direct.length == 1)
  }

  test("decimal128 raw-BID passthrough parity on the direct path") {
    val w = StructType(Seq(StructField("v", DecimalType(18, 4))))
    val r = StructType(Seq(MSchema.decimalRawField("v")))
    val rows = Seq(Row(new java.math.BigDecimal("12345.6789")), Row(null))
    val (direct, tree) = bothPaths(rows, w, r)
    assert(direct == tree)
  }

  test("byte-level name matching: field orders, undeclared, duplicate, " +
    "non-ASCII and prefix names, nested levels, decimal128 bit forms") {
    // Documents are hand-encoded so every one can permute its fields at
    // every level, interleave undeclared names, and repeat a name. The
    // direct path keeps a repeated name's FIRST value; the tree path
    // reads the same document with the repeats removed.
    val rnd = new scala.util.Random(20261018L)
    sealed trait V
    final case class Leaf(v: Any) extends V // null, Long, String, Double, BigDecimal
    final case class Bid(high: Long, low: Long) extends V
    final case class Doc(fields: Seq[(String, V, Boolean)]) extends V // (name, value, repeat)
    final case class Arr(elems: Seq[V]) extends V

    def cstr(o: java.io.ByteArrayOutputStream, n: String): Unit = {
      o.write(n.getBytes("UTF-8")); o.write(0)
    }
    def le(o: java.io.ByteArrayOutputStream, x: Long, bytes: Int): Unit =
      (0 until bytes).foreach(i => o.write((x >>> (8 * i)).toInt & 0xFF))
    def body(elems: Seq[(String, V)], repeats: Boolean): Array[Byte] = {
      val o = new java.io.ByteArrayOutputStream()
      elems.foreach { case (n, v) =>
        v match {
          case Leaf(null) => o.write(0x0A); cstr(o, n)
          case Leaf(x: Long) => o.write(0x12); cstr(o, n); le(o, x, 8)
          case Leaf(x: Double) => o.write(0x01); cstr(o, n)
            le(o, java.lang.Double.doubleToLongBits(x), 8)
          case Leaf(x: String) => o.write(0x02); cstr(o, n)
            val b = x.getBytes("UTF-8"); le(o, b.length + 1L, 4); o.write(b); o.write(0)
          case Leaf(x: java.math.BigDecimal) =>
            val (h, l) = BsonBinary.decimal128Bits(x)
            o.write(0x13); cstr(o, n); le(o, l, 8); le(o, h, 8)
          case Bid(h, l) => o.write(0x13); cstr(o, n); le(o, l, 8); le(o, h, 8)
          case d: Doc => o.write(0x03); cstr(o, n); o.write(encode(d, repeats))
          case Arr(es) => o.write(0x04); cstr(o, n)
            o.write(frame(body(es.zipWithIndex.map { case (e, i) => (i.toString, e) },
              repeats)))
          case other => fail(s"unencodable $other")
        }
      }
      o.toByteArray
    }
    def frame(b: Array[Byte]): Array[Byte] = {
      val o = new java.io.ByteArrayOutputStream()
      le(o, b.length + 5L, 4); o.write(b); o.write(0)
      o.toByteArray
    }
    def encode(d: Doc, repeats: Boolean): Array[Byte] =
      frame(body(d.fields.filter(repeats || !_._3).map(f => (f._1, f._2)), repeats))

    val decimals: Seq[V] = Seq(
      Leaf(new java.math.BigDecimal("12345.6789012345")),
      Leaf(new java.math.BigDecimal("-0.00000000015")),    // rounds HALF_UP
      Leaf(new java.math.BigDecimal("7E+5")),               // positive exponent
      Leaf(new java.math.BigDecimal("0E-3")),
      Leaf(new java.math.BigDecimal("9223372036854775807")), // coefficient = Long.MaxValue
      Leaf(new java.math.BigDecimal("1180591620717411303424.5")), // coefficient > long
      Leaf(new java.math.BigDecimal("1E+20")),
      Bid(0xB040000000000000L, 0L),                         // -0
      Bid(0x3040000000000000L, -1L),                        // low word with its top bit set
      Bid(0x7C00000000000000L, 0L),                         // NaN → null
      Bid(0xF800000000000000L, 0L),                         // -Infinity → null
      Bid(0x6C10000000000000L, 5L))                         // `11` combination form
    def pick[A](xs: Seq[A]): A = xs(rnd.nextInt(xs.length))
    def scalar(dt: DataType): V =
      if (rnd.nextInt(10) == 0) Leaf(null)
      else dt match {
        case LongType => Leaf(rnd.nextLong() >> rnd.nextInt(60))
        case StringType => Leaf(pick(Seq("", "v", "héllo", "名前", "x" * 30)))
        case DoubleType => Leaf(rnd.nextDouble() * 1e6 - 5e5)
        case _: DecimalType => pick(decimals)
        case other => fail(s"no generator for $other")
      }
    val undeclared = Seq("abcd", "b", "ée", "名", "_x", "structs0")
    def undeclaredValue(): V = rnd.nextInt(4) match {
      case 0 => Leaf(rnd.nextLong())
      case 1 => Leaf("skip me")
      case 2 => Doc(Seq(("a", Leaf(1L), false), ("inner", Arr(Seq(Leaf(2L))), false)))
      case _ => Arr(Seq(Leaf("x"), Doc(Seq(("k", Leaf(3L), false)))))
    }
    def value(dt: DataType): V = dt match {
      case st: StructType => if (rnd.nextInt(12) == 0) Leaf(null) else doc(st)
      case ArrayType(et, _) =>
        if (rnd.nextInt(12) == 0) Leaf(null)
        else Arr(Seq.fill(rnd.nextInt(4))(value(et)))
      case other => scalar(other)
    }
    // declared fields in a fresh order (some missing), undeclared names
    // interleaved, and sometimes a later repeat of a present name
    def doc(st: StructType): Doc = {
      val present = rnd.shuffle(st.fields.toSeq.filter(_ => rnd.nextInt(8) != 0))
      var fields: Seq[(String, V, Boolean)] =
        present.map(f => (f.name, value(f.dataType), false))
      for (_ <- 0 until rnd.nextInt(4)) {
        val at = rnd.nextInt(fields.length + 1)
        fields = fields.patch(at, Seq((pick(undeclared), undeclaredValue(), false)), 0)
      }
      if (present.nonEmpty && rnd.nextInt(3) == 0) {
        val f = pick(present)
        val first = fields.indexWhere(_._1 == f.name)
        val at = first + 1 + rnd.nextInt(fields.length - first)
        fields = fields.patch(at, Seq((f.name, scalar(LongType), true)), 0)
      }
      Doc(fields)
    }

    val schema = StructType(Seq(
      StructField("a", LongType), StructField("ab", StringType),
      StructField("abc", DoubleType), StructField("é", LongType),
      StructField("名前", StringType), StructField("dec", DecimalType(38, 10)),
      StructField("s", StructType(Seq(
        StructField("x", LongType), StructField("xy", StringType),
        StructField("ü", DoubleType),
        StructField("in", StructType(Seq(
          StructField("a", LongType), StructField("aa", StringType))))))),
      StructField("structs", ArrayType(StructType(Seq(
        StructField("k", LongType), StructField("kk", StringType),
        StructField("d", DecimalType(38, 4)))))),
      StructField("tags", ArrayType(StringType))))
    val docs = Seq.fill(400)(doc(schema))
    assert(docs.exists(_.fields.exists(_._3)), "no repeated names generated")
    val dir = java.nio.file.Files.createTempDirectory("graft_bvd_names")
    def write(sub: String, repeats: Boolean): String = {
      val d = dir.resolve(sub)
      java.nio.file.Files.createDirectories(d)
      val out = new java.io.ByteArrayOutputStream()
      docs.foreach(x => out.write(encode(x, repeats)))
      java.nio.file.Files.write(d.resolve("docs.bson"), out.toByteArray)
      d.toString
    }
    val withRepeats = write("direct", repeats = true)
    val firstOnly = write("tree", repeats = false)
    // full, pruned (most names undeclared) and reordered declarations
    val pruned = StructType(Seq(schema("abc"), schema("structs")))
    val reordered = StructType(schema.fields.reverse.toIndexedSeq)
    for (rs <- Seq(schema, pruned, reordered)) {
      def read(path: String, columnar: Boolean) =
        spark.read.format("graftdocs").schema(rs)
          .option("columnar", columnar).option("allowInvalid", true)
          .load(path).collect().toSeq.map(_.json)
      val direct = read(withRepeats, columnar = true)
      assert(direct.length == docs.length)
      assert(direct == read(firstOnly, columnar = false), rs.simpleString)
      // same verdict from the direct path without repeated names
      assert(direct == read(firstOnly, columnar = true), rs.simpleString)
    }
  }
}
