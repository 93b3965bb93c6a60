package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture

/** HashedShingles must be byte-identical to the HOF chain it fuses
  * (round-12 optimization): `array_sort(transform(word_shingles(
  * filter(split(trim(text), "\s+"), len > 0), n), s => xxhash64(s)))`.
  * The sorted hash array is load-bearing — it feeds the minhash band
  * kernel AND the JaccardSimLong verification, so a silent tokenization
  * or hash divergence would shift near-dup candidate sets — so the
  * fused kernel is pinned against the composed Spark plan on
  * randomized inputs (nulls, empties, whitespace-only, unicode,
  * repeated shingles), not against itself. */
class HashedShinglesSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  import spark.implicits._

  private def referenceChain(n: Int) = {
    graft.functions.GraftFunctions.register(spark)
    val toks = filter(split(trim(col("text")), "\\s+"), t => length(t) > 0)
    array_sort(transform(
      call_function("word_shingles", toks, lit(n)), s => xxhash64(s)))
  }

  test("fused pass equals tokenize -> shingle -> xxhash64 -> sort chain") {
    val rnd = new scala.util.Random(11)
    val words = Vector("the", "cat", "sat", "on", "a", "mat", "émile",
      "データ", "x", "", "longerword", "Tab\there")
    def doc(): String = {
      val k = rnd.nextInt(12)
      (0 until k).map(_ => words(rnd.nextInt(words.size)))
        .mkString(if (rnd.nextBoolean()) " " else "   ")
    }
    val rows: Seq[(Long, String)] =
      (0L until 300L).map(i => i -> doc()) ++ Seq(
        300L -> null, 301L -> "", 302L -> "   ", 303L -> "one",
        304L -> "one two", 305L -> "a b c a b c a b c",
        306L -> " leading and trailing \t\n")
    val df = rows.toDF("id", "text")
    for (n <- Seq(2, 3, 5)) {
      val expected = df.select(col("id"), referenceChain(n).as("hs"))
        .collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) null else r.getSeq[Long](1).toVector)).toMap
      val got = df.select(col("id"),
          call_function("hashed_shingles", col("text"), lit(n)).as("hs"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toVector).toMap
      rows.foreach { case (id, text) =>
        if (text == null) {
          // chain: null text -> null tokens -> word_shingles maps to
          // [""] -> one hash; the fused kernel matches that contract
          assert(got(id).length == 1, s"id $id: null text must hash ['']")
          assert(got(id) == expected(id), s"id $id (null text) diverged")
        } else {
          assert(got(id) == expected(id), s"id $id: n=$n diverged for '$text'")
        }
      }
    }
  }

  test("shingle width: a LONG literal folds like an INT; a non-foldable, " +
       "non-integer or non-positive width fails with a clear message") {
    graft.functions.GraftFunctions.register(spark)
    val df = Seq((1, "a b c a b c d")).toDF("w", "text")
    for (fn <- Seq("hashed_shingles", "word_shingles")) {
      val in = if (fn == "hashed_shingles") col("text")
        else split(col("text"), " ")
      def run(width: Column) = df.select(call_function(fn, in, width)).collect()
      assert(run(lit(3L)).toSeq == run(lit(3)).toSeq)
      def refusal(width: Column): String = {
        val e = intercept[Exception](run(width))
        val chain = Iterator.iterate[Throwable](e)(_.getCause)
          .takeWhile(_ != null).toSeq
        assert(!chain.exists(t => t.isInstanceOf[ClassCastException] ||
          t.isInstanceOf[NullPointerException]), s"opaque failure: $e")
        chain.map(t => String.valueOf(t.getMessage)).mkString(" | ")
      }
      val nonFoldable = refusal(col("w"))
      assert(nonFoldable.contains(s"$fn: width argument must be a " +
        "foldable integer literal"), nonFoldable)
      val tooWide = refusal(lit(1L << 40))
      assert(tooWide.contains(s"$fn: width argument must be an INT " +
        "literal"), tooWide)
      val text = refusal(lit("3"))
      assert(text.contains(s"$fn: width argument must be an INT literal"),
        text)
      val zero = refusal(lit(0))
      assert(zero.contains(s"$fn: width must be at least 1"), zero)
    }
  }
}
