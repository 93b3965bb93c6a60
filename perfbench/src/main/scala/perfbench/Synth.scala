package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seed-driven input synthesis. Every value is a hash of (seed, row id,
  * stream), so the same seed gives the same tables on any machine. The
  * shapes follow the engine's seed-42 fixtures (TPC-H-like orders,
  * customer, lineitem and part; a word corpus for `documents`) plus the
  * reference's nested/extension document shape. Runs on plain Spark; the
  * engine only ever sees the collections built from these tables. */
final class Synth(spark: SparkSession, seed: Long) {
  private def h(k: Int, extra: Column*): Column = xxhash64((lit(seed) +: col("id") +: lit(k) +: extra): _*)
  private def u(k: Int, n: Long): Column = pmod(h(k), lit(n))
  private def pick(k: Int, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*), (u(k, values.size.toLong) + 1).cast("int"))
  private def wordsOf(vocab: Seq[String], k: Int, n: Column): Column = {
    val arr = array(vocab.map(lit): _*)
    concat_ws(" ", transform(sequence(lit(1), n.cast("int")),
      i => element_at(arr, (pmod(h(k, i), lit(vocab.size.toLong)) + 1).cast("int"))))
  }

  private val Words = Seq("key", "agg", "row", "scan", "slow", "fast", "table", "value", "part",
    "hash", "a", "the", "line", "sort", "window", "merge", "batch", "spark", "order", "data",
    "column", "join", "small", "customer", "query", "big", "stream", "group", "filter", "vector",
    "of", "and", "to", "in", "is", "it", "index", "cursor", "shard", "node")
  val Colors = Seq("almond", "antique", "aquamarine", "azure", "beige", "bisque", "black",
    "blanched", "blue", "blush", "brown", "burlywood", "chartreuse", "chiffon", "coral")
  val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val Statuses = Seq("F", "O", "P")
  val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Modes = Seq("AIR", "RAIL", "SHIP", "TRUCK", "MAIL", "FOB")
  val Tags = Seq("gift", "fragile", "bulk", "express", "return", "promo", "vip", "intl")
  val Cities = Seq("Lyon", "Osaka", "Lima", "Accra", "Perth", "Quito", "Oslo", "Pune")

  private val Epoch1992 = 694224000L // 1992-01-01T00:00:00Z
  private def day(k: Int, span: Long): Column = timestamp_seconds(lit(Epoch1992) + u(k, span) * 86400L)

  /** Flat orders, the fixture's shape. Keys are sparse like TPC-H's. */
  def orders(n: Long, customers: Long): DataFrame =
    spark.range(n).select(
      (col("id") * 4 + 1).as("o_orderkey"),
      (u(1, customers) + 1).as("o_custkey"),
      pick(2, Statuses).as("o_orderstatus"),
      round((u(3, 50000000L) + 90000).cast("double") / 100.0, 2).as("o_totalprice"),
      day(4, 2400).as("o_orderdate"),
      pick(5, Priorities).as("o_orderpriority"))

  def customers(n: Long): DataFrame =
    spark.range(n).select(
      (col("id") + 1).as("c_custkey"),
      concat(lit("Customer#"), lpad((col("id") + 1).cast("string"), 9, "0")).as("c_name"),
      u(21, 25).cast("int").as("c_nationkey"),
      round((u(22, 1100000L) - 100000).cast("double") / 100.0, 2).as("c_acctbal"),
      pick(23, Segments).as("c_mktsegment"))

  /** About four lines per order; `l_orderkey` joins to [[orders]]. */
  def lineitems(n: Long, parts: Long): DataFrame =
    spark.range(n).select(
      ((col("id") / 4).cast("long") * 4 + 1).as("l_orderkey"),
      (u(31, parts) + 1).as("l_partkey"),
      (u(32, 1000) + 1).as("l_suppkey"),
      (pmod(col("id"), lit(4L)) + 1).cast("int").as("l_linenumber"),
      (u(33, 50) + 1).cast("double").as("l_quantity"),
      round((u(34, 10000000L) + 90000).cast("double") / 100.0, 2).as("l_extendedprice"),
      (u(35, 11).cast("double") / 100.0).as("l_discount"),
      (u(36, 9).cast("double") / 100.0).as("l_tax"),
      pick(37, Seq("A", "N", "R")).as("l_returnflag"),
      pick(38, Seq("F", "O")).as("l_linestatus"),
      day(39, 2500).as("l_shipdate"))

  def parts(n: Long): DataFrame =
    spark.range(n).select(
      (col("id") + 1).as("p_partkey"),
      wordsOf(Colors, 41, u(42, 3) + 2).as("p_name"),
      concat(lit("Brand#"), (u(43, 5) + 1).cast("string"), (u(44, 5) + 1).cast("string")).as("p_brand"),
      pick(45, Seq("STANDARD BRUSHED TIN", "SMALL PLATED COPPER", "LARGE POLISHED STEEL",
        "ECONOMY ANODIZED NICKEL", "PROMO BURNISHED BRASS")).as("p_type"),
      (u(46, 50) + 1).cast("int").as("p_size"),
      round((u(47, 200000L) + 90000).cast("double") / 100.0, 2).as("p_retailprice"))

  /** The reference's Nested/Extension shape: ObjectId `_id`, Decimal128
    * price, binary with a user subtype, a nested struct, an array of
    * structs and an array of strings. */
  def ordersDoc(n: Long, customers: Long): DataFrame = {
    val oidMeta = new MetadataBuilder().putString("graft.bson.type", "objectId").build()
    val binMeta = new MetadataBuilder().putString("graft.bson.type", "binary")
      .putLong("graft.bson.binary.subtype", 128L).build()
    val tagArr = array(Tags.map(lit): _*)
    spark.range(n).select(
      unhex(concat(lpad(hex(lit(1700000000L) + col("id")), 8, "0"),
        lpad(hex(h(0)), 16, "0"))).as("_id", oidMeta),
      (col("id") * 4 + 1).as("o_orderkey"),
      (u(1, customers) + 1).as("o_custkey"),
      pick(2, Statuses).as("o_orderstatus"),
      ((u(3, 50000000L) + 90000).cast(DecimalType(12, 0)) / 100).cast(DecimalType(12, 2))
        .as("o_totalprice"),
      day(4, 2400).as("o_orderdate"),
      pick(5, Priorities).as("o_orderpriority"),
      concat(lit("Clerk#"), lpad((u(6, 1000) + 1).cast("string"), 9, "0")).as("o_clerk"),
      wordsOf(Words, 7, u(8, 8) + 3).as("o_comment"),
      struct(pick(9, Modes).as("mode"), u(10, 3).cast("int").as("priority"),
        struct(pick(11, Cities).as("city"), (u(12, 90000) + 10000).cast("int").as("zip"))
          .as("address")).as("ship"),
      transform(sequence(lit(1), (u(13, 7) + 1).cast("int")), i => struct(
        (pmod(h(14, i), lit(20000L)) + 1).as("partkey"),
        (pmod(h(15, i), lit(50L)) + 1).cast("int").as("qty"),
        round(pmod(h(16, i), lit(100000L)).cast("double") / 100.0 + 1.0, 2).as("price")))
        .as("items"),
      transform(sequence(lit(1), (u(17, 3) + 1).cast("int")),
        i => element_at(tagArr, (pmod(h(18, i), lit(Tags.size.toLong)) + 1).cast("int"))).as("tags"),
      unhex(concat(lpad(hex(h(19)), 16, "0"), lpad(hex(h(20)), 16, "0"))).as("sig", binMeta))
  }

  /** A word corpus with planted near-duplicate clusters. The first
    * `clustered` ids form clusters of `clusterSize`: member 0 is the base
    * text, member 1 of every third cluster is an exact copy, and the other
    * members each replace one word. Texts run 150-250 words, so members
    * of a cluster stay far above a 0.7 3-shingle Jaccard and unrelated
    * texts far below it. `cluster` is ground truth for the benchmark's
    * own check and is never stored in the engine. */
  def documents(n: Long, clustered: Long, clusterSize: Int): DataFrame = {
    val vocab = array(Words.map(lit): _*)
    val subst = array(Seq("zephyr", "quasar", "nimbus", "vortex", "ember", "glacier").map(lit): _*)
    val inCluster = col("id") < clustered
    val base = when(inCluster, (col("id") / clusterSize).cast("long")).otherwise(col("id") + clustered)
    val member = when(inCluster, pmod(col("id"), lit(clusterSize.toLong))).otherwise(lit(0L))
    val exactCopy = member === 1 && pmod(base, lit(3L)) === 0
    val len = (pmod(xxhash64(lit(seed), base, lit(51)), lit(101L)) + 150).cast("int")
    val pos = (pmod(xxhash64(lit(seed), base, member, lit(52)), len.cast("long")) + 1).cast("int")
    val words = transform(sequence(lit(1), len), i => {
      val w = element_at(vocab, (pmod(xxhash64(lit(seed), base, lit(53), i), lit(Words.size.toLong)) + 1).cast("int"))
      val punct = when(i === len, concat(w, lit("."))).when(pmod(i, lit(17)) === 0, concat(w, lit(","))).otherwise(w)
      when(member > 0 && !exactCopy && i === pos,
        element_at(subst, (pmod(member, lit(6L)) + 1).cast("int"))).otherwise(punct)
    })
    spark.range(n).select(
      col("id").as("doc_id"),
      concat_ws(" ", words).as("text"),
      element_at(array(Seq("en", "de", "fr", "es").map(lit): _*), (pmod(base, lit(4L)) + 1).cast("int")).as("lang"),
      concat(lit("src"), pmod(col("id"), lit(7L)).cast("string")).as("source"),
      when(inCluster, base).otherwise(lit(-1L)).as("cluster"))
  }
}
