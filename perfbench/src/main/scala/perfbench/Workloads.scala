package perfbench

import java.io.File

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.Graft

/** Run-wide state every workload shares. `small` selects the smoke-test
  * sizes (a hundredth of the benchmark's). */
final class Ctx(val spark: SparkSession, val seed: Long, val small: Boolean, val work: File,
                val tracer: Tracer, val slots: Int) {
  def scaled(full: Long): Long = if (small) math.max(full / 100, 50L) else full
  val synth = new Synth(spark, seed)
}

/** An expected answer, computed on first use. The run computes every
  * expected answer after the measurement, on a warm JVM. */
final class Expect(compute: => Answer) {
  lazy val value: Answer = compute
}

/** One operation: `run` returns (documents delivered, answer); the answer
  * is checked against `expected` when the run ends. */
final case class Op(kind: String, expected: Expect, run: () => (Long, Answer))

abstract class Workload(val ctx: Ctx) {
  protected def spark: SparkSession = ctx.spark
  protected def tracer: Tracer = ctx.tracer
  protected val rnd = new Random(ctx.seed * 7919L + 17L)
  /** Hash-sum modulus for order-independent checksums (no overflow). */
  protected val Mod = 2147483647L

  /** Synthesize the sources in memory and define every expected answer
    * with plain Spark over them, bypassing the engine's decode and MQL. */
  def prepare(): Unit
  /** One set-up repetition: build the workload's stores through the
    * engine into a fresh directory and point the operations at them. */
  def setup(rep: Int): Unit
  /** The operations of measurement cycle `k`, in seed order. */
  def cycle(k: Int): Seq[Op]
  /** End-of-run checks; each message is one failed check. */
  def finish(): Seq[String] = Nil
  /** Bytes on disk under the measured store ÷ BSON bytes it holds. */
  def spaceAmp: Double
  /** Directory whose file listing gives `store.files`. */
  def storeDir: File
  /** Workload-specific per-layer metrics (store counts). */
  def layerExtras: Map[String, Double] = Map.empty
  /** Per-layer metrics that do not apply, with the reason. */
  def notApplicable: Map[String, String]
  def close(): Unit = ()

  private val sources = scala.collection.mutable.Map.empty[String, DataFrame]

  /** Materialize a synthesized table in memory and expose it to the
    * oracle's SQL as `src_<name>`. */
  protected def addSource(name: String, df: DataFrame): DataFrame = {
    val cached = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    cached.count()
    cached.createOrReplaceTempView(s"src_$name")
    sources(name) = cached
    cached
  }

  protected def src(name: String): DataFrame = sources(name)

  /** Build a BSON collection through the engine's catalog (CTAS), spread
    * over `files` files. */
  protected def createCollection(cat: String, name: String, df: DataFrame, files: Int): Unit =
    tracer.span("store", "store.create") {
      df.repartition(files).writeTo(s"$cat.`$name`").tableProperty("format", "bson").create()
    }

  protected def repDir(rep: Int): File = new File(ctx.work, s"store$rep")

  /** Register a GraftCatalog over the repetition's directory. */
  protected def catalog(rep: Int): String = {
    val name = s"bench$rep"
    spark.conf.set(s"spark.sql.catalog.$name", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$name.dir", repDir(rep).getPath)
    name
  }

  /** Drop the previous repetition's store (keeps disk use flat). */
  protected def dropPrevious(rep: Int): Unit =
    if (rep > 0) Files.deleteRecursively(repDir(rep - 1))

  /** The client's view of one query: compile through the engine's API
    * (mql), plan (catalyst), execute and collect (exec). */
  protected def query(compile: => DataFrame)(consume: DataFrame => DataFrame): Array[Row] = {
    val out = tracer.span("mql", "mql.compile")(consume(compile))
    tracer.span("catalyst", "catalyst.plan")(out.queryExecution.executedPlan)
    val rows = tracer.span("exec", "exec.collect")(out.collect())
    tracer.recordCatalyst(out.queryExecution)
    rows
  }

  /** Count plus an order-independent hash sum over the given columns. */
  protected def fingerprint(df: DataFrame, cols: Seq[String]): DataFrame =
    df.agg(count(lit(1)), sum(pmod(xxhash64(cols.map(col): _*), lit(Mod))))

  protected val notWire: Map[String, String] = Seq("wire.find_rtt_ms", "wire.getmore_rtt_ms",
    "wire.agg_rtt_ms", "wire.insert_rtt_ms", "wire.frames_per_op", "wire.request_bytes",
    "wire.reply_bytes", "wire.server_job_ms", "wire.server_other_ms", "wire.client_codec_ms",
    "wire.self_ms").map(_ -> "no wire protocol on this workload").toMap
  protected val noInserts: Map[String, String] = Seq("store.files_per_insert",
    "store.bytes_written_per_doc_byte").map(_ -> "no inserts on this workload").toMap
}

/** Repeated full-column `find` over a large BSON collection of nested,
  * extension-typed documents: per-document decode is nearly all the work. */
final class DecodeScan(c: Ctx) extends Workload(c) {
  private val n = ctx.scaled(120000)
  private val customers = math.max(n / 10, 10L)
  private val cols = ctx.synth.ordersDoc(1, 1).columns.toSeq
  // two seed-drawn filters, each keeping about 99% of the documents
  private val keys = Seq.fill(2)(1L + rnd.nextInt(math.max(1, (customers / 100).toInt)))
  private var expected: Map[Long, Expect] = Map.empty
  private var db: Graft.Db = _
  private var dir: File = _

  def prepare(): Unit = {
    addSource("orders_doc", ctx.synth.ordersDoc(n, customers))
    expected = keys.map(k => k -> new Expect(Answer.of(
      fingerprint(src("orders_doc").where(col("o_custkey") >= k), cols).collect(), ordered = true))).toMap
  }

  def setup(rep: Int): Unit = {
    val cat = catalog(rep)
    createCollection(cat, "orders", src("orders_doc"), 2 * ctx.slots)
    dropPrevious(rep)
    db = Graft.Db(spark, cat)
    dir = new File(repDir(rep), "orders")
  }

  def cycle(k: Int): Seq[Op] = {
    val order = if (k % 2 == 0) keys else keys.reverse
    order.map { key =>
      Op("find_full", expected(key), () => {
        val rows = query(db.find("orders", s"""{"o_custkey": {"$$gte": $key}}"""))(
          df => fingerprint(df, cols))
        (rows.head.getLong(0), Answer.of(rows, ordered = true))
      })
    }
  }

  def spaceAmp: Double = Files.usage(dir)._2.toDouble / Files.bsonBytes(dir)
  def storeDir: File = dir
  def notApplicable: Map[String, String] = notWire ++ noInserts +
    ("llmops.build_ms" -> "no llmops kernels on this workload")
}

/** A seed-ordered catalogue of find/aggregate operations over small
  * catalog collections: fixed per-query cost (compile, planning,
  * scheduling) dominates. */
final class MqlMix(c: Ctx) extends Workload(c) {
  private val s = ctx.synth
  private val nOrders = ctx.scaled(15000)
  private val nCust = ctx.scaled(1500)
  private val nLines = ctx.scaled(60000)
  private val nParts = ctx.scaled(2000)
  private var db: Graft.Db = _
  private var catalogue: Seq[Op] = Nil

  private def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.size))
  private def date(daysFrom1992: Int): String =
    java.time.LocalDate.of(1992, 1, 1).plusDays(daysFrom1992.toLong).toString
  private def ts(daysFrom1992: Int): String = s"""{"$$date": "${date(daysFrom1992)}T00:00:00Z"}"""
  private def sql(q: String): Array[Row] = spark.sql(q).collect()

  /** An operation whose engine side is `mql` (projected to `cols`) and
    * whose expected answer is `oracle`, plain Spark SQL over the sources. */
  private def op(kind: String, ordered: Boolean, oracle: String, cols: String*)(
      mql: => DataFrame): Op =
    Op(kind, new Expect(Answer.of(sql(oracle), ordered)), () => {
      val rows = query(mql)(_.select(cols.map(col): _*))
      (rows.length.toLong, Answer.of(rows, ordered))
    })

  def prepare(): Unit = {
    addSource("orders", s.orders(nOrders, nCust))
    addSource("customer", s.customers(nCust))
    addSource("lineitem", s.lineitems(nLines, nParts))
    addSource("part", s.parts(nParts))
    addSource("orders_doc", s.ordersDoc(nOrders, nCust))
    catalogue = rnd.shuffle(ops())
  }

  def setup(rep: Int): Unit = {
    val cat = catalog(rep)
    Seq("orders", "customer", "lineitem", "part", "orders_doc")
      .foreach(t => createCollection(cat, t, src(t), ctx.slots))
    dropPrevious(rep)
    db = Graft.Db(spark, cat)
  }

  def cycle(k: Int): Seq[Op] = catalogue

  def spaceAmp: Double = Files.usage(repDir(Main.SetupReps - 1))._2.toDouble /
    Files.bsonBytes(repDir(Main.SetupReps - 1))
  def storeDir: File = repDir(Main.SetupReps - 1)
  def notApplicable: Map[String, String] = notWire ++ noInserts +
    ("llmops.build_ms" -> "no llmops kernels on this workload")

  private def ops(): Seq[Op] = {
    def coll(n: String): DataFrame = db.collection(n)
    val st = pick(s.Statuses)
    val p1 = 240000 + rnd.nextInt(20000)
    val pr1 = pick(s.Priorities)
    val pr2 = pick(s.Priorities.filterNot(_ == pr1))
    val p2 = 10000 + rnd.nextInt(2000)
    val color = pick(s.Colors)
    val q = 40 + rnd.nextInt(3)
    val pp = 100.0 + rnd.nextInt(20)
    val mode = pick(s.Modes)
    val zip = 40000 + rnd.nextInt(4000)
    val d1 = rnd.nextInt(2300)
    val disc = 0.05
    val dAgg = 1100 + rnd.nextInt(200)
    val high = 480000 + rnd.nextInt(2000)
    val bounds = { val a = 8 + rnd.nextInt(4); Seq(1, a, a + 12, a + 25, 51) }
    val k = 5 + rnd.nextInt(2)
    val sz = 24 + rnd.nextInt(3)
    val dQ1 = 1800 + rnd.nextInt(100)
    val skip = 100 + rnd.nextInt(20)
    Seq(
      op("find_eq_gt", ordered = false,
        s"SELECT o_orderkey, o_custkey, o_totalprice FROM src_orders " +
          s"WHERE o_orderstatus = '$st' AND o_totalprice > $p1",
        "o_orderkey", "o_custkey", "o_totalprice")(
        db.find("orders", s"""{"o_orderstatus": "$st", "o_totalprice": {"$$gt": $p1}}""")),
      op("find_or", ordered = false,
        s"SELECT o_orderkey, o_orderpriority FROM src_orders " +
          s"WHERE o_orderpriority = '$pr1' OR o_totalprice < $p2",
        "o_orderkey", "o_orderpriority")(
        db.find("orders", s"""{"$$or": [{"o_orderpriority": "$pr1"}, {"o_totalprice": {"$$lt": $p2}}]}""")),
      op("find_in_sort_limit", ordered = true,
        s"SELECT o_orderkey, o_totalprice FROM src_orders WHERE o_orderpriority IN ('$pr1', '$pr2') " +
          "ORDER BY o_totalprice DESC, o_orderkey LIMIT 50",
        "o_orderkey", "o_totalprice")(
        Graft.find(coll("orders"), s"""{"o_orderpriority": {"$$in": ["$pr1", "$pr2"]}}""",
          projection = Some("""{"o_orderkey": 1, "o_totalprice": 1}"""),
          sort = Some("""{"o_totalprice": -1, "o_orderkey": 1}"""), limit = Some(50))),
      op("find_regex", ordered = false,
        s"SELECT p_partkey, p_name FROM src_part WHERE p_name RLIKE '(?i)^$color'",
        "p_partkey", "p_name")(
        db.find("part", s"""{"p_name": {"$$regex": "^${color.toUpperCase}", "$$options": "i"}}""")),
      op("find_elemmatch", ordered = false,
        s"SELECT o_orderkey FROM src_orders_doc WHERE exists(items, x -> x.qty >= $q AND x.price < $pp)",
        "o_orderkey")(
        db.find("orders_doc",
          s"""{"items": {"$$elemMatch": {"qty": {"$$gte": $q}, "price": {"$$lt": $pp}}}}""")),
      op("find_nested_path", ordered = false,
        s"SELECT o_orderkey, ship.address.city FROM src_orders_doc " +
          s"WHERE ship.mode = '$mode' AND ship.address.zip < $zip",
        "o_orderkey", "ship.address.city")(
        db.find("orders_doc", s"""{"ship.mode": "$mode", "ship.address.zip": {"$$lt": $zip}}""")),
      op("find_date_range", ordered = false,
        s"SELECT l_orderkey, l_linenumber FROM src_lineitem WHERE l_shipdate >= TIMESTAMP '${date(d1)} 00:00:00' " +
          s"AND l_shipdate < TIMESTAMP '${date(d1 + 90)} 00:00:00' AND l_discount >= $disc",
        "l_orderkey", "l_linenumber")(
        db.find("lineitem", s"""{"l_shipdate": {"$$gte": ${ts(d1)}, "$$lt": ${ts(d1 + 90)}},
                                "l_discount": {"$$gte": $disc}}""")),
      op("agg_match_group", ordered = false,
        s"SELECT o_orderstatus, count(*), sum(o_totalprice), avg(o_totalprice) FROM src_orders " +
          s"WHERE o_orderdate >= TIMESTAMP '${date(dAgg)} 00:00:00' GROUP BY o_orderstatus",
        "_id", "n", "total", "avgp")(
        db.aggregate("orders", s"""[{"$$match": {"o_orderdate": {"$$gte": ${ts(dAgg)}}}},
          {"$$group": {"_id": "$$o_orderstatus", "n": {"$$sum": 1},
                       "total": {"$$sum": "$$o_totalprice"}, "avgp": {"$$avg": "$$o_totalprice"}}}]""")),
      op("agg_unwind_group", ordered = false,
        s"SELECT o_orderpriority, count(*), sum(it.qty) FROM " +
          s"(SELECT o_orderpriority, explode(items) AS it FROM src_orders_doc WHERE o_orderstatus = '$st') " +
          "GROUP BY o_orderpriority",
        "_id", "n", "qty")(
        db.aggregate("orders_doc", s"""[{"$$match": {"o_orderstatus": "$st"}}, {"$$unwind": "$$items"},
          {"$$group": {"_id": "$$o_orderpriority", "n": {"$$sum": 1}, "qty": {"$$sum": "$$items.qty"}}}]""")),
      op("agg_lookup_unwind", ordered = false,
        "SELECT o_orderkey, c_name, c_acctbal FROM src_orders JOIN src_customer ON o_custkey = c_custkey " +
          s"WHERE o_totalprice > $high",
        "o_orderkey", "c_name", "c_acctbal")(
        db.aggregate("orders", s"""[{"$$match": {"o_totalprice": {"$$gt": $high}}},
          {"$$lookup": {"from": "customer", "localField": "o_custkey", "foreignField": "c_custkey", "as": "c"}},
          {"$$unwind": "$$c"},
          {"$$project": {"o_orderkey": 1, "c_name": "$$c.c_name", "c_acctbal": "$$c.c_acctbal"}}]""")),
      facetOp(pr1),
      op("agg_bucket", ordered = false,
        s"SELECT CASE ${bounds.sliding(2).map { case Seq(a, b) => s"WHEN p_size >= $a AND p_size < $b THEN $a" }.mkString(" ")} END, " +
          "count(*), avg(p_retailprice) FROM src_part GROUP BY 1",
        "_id", "n", "avgp")(
        db.aggregate("part", s"""[{"$$bucket": {"groupBy": "$$p_size", "boundaries": [${bounds.mkString(", ")}],
          "output": {"n": {"$$sum": 1}, "avgp": {"$$avg": "$$p_retailprice"}}}}]""")),
      op("agg_window_rank", ordered = false,
        "SELECT o_orderpriority, o_orderkey, rnk FROM (SELECT o_orderpriority, o_orderkey, " +
          "row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey) rnk " +
          s"FROM src_orders WHERE o_orderstatus = '$st') WHERE rnk <= $k",
        "o_orderpriority", "o_orderkey", "rnk")(
        db.aggregate("orders", s"""[{"$$match": {"o_orderstatus": "$st"}},
          {"$$setWindowFields": {"partitionBy": "$$o_orderpriority", "sortBy": {"o_totalprice": -1, "o_orderkey": 1},
             "output": {"rnk": {"$$documentNumber": {}}}}},
          {"$$match": {"rnk": {"$$lte": $k}}},
          {"$$project": {"o_orderpriority": 1, "o_orderkey": 1, "rnk": 1}}]""")),
      op("agg_project_compute", ordered = false,
        "SELECT p_partkey, upper(p_name), concat(p_brand, '#', p_type), " +
          s"CASE WHEN p_retailprice < 1500 THEN 'low' ELSE 'high' END FROM src_part WHERE p_size < $sz",
        "p_partkey", "up", "bt", "cls")(
        db.aggregate("part", s"""[{"$$match": {"p_size": {"$$lt": $sz}}},
          {"$$project": {"p_partkey": 1, "up": {"$$toUpper": "$$p_name"},
             "bt": {"$$concat": ["$$p_brand", "#", "$$p_type"]},
             "cls": {"$$switch": {"branches": [{"case": {"$$lt": ["$$p_retailprice", 1500]}, "then": "low"}],
                                 "default": "high"}}}}]""")),
      op("agg_pricing_summary", ordered = false,
        "SELECT l_returnflag, l_linestatus, sum(l_quantity), avg(l_discount), count(*) FROM src_lineitem " +
          s"WHERE l_shipdate <= TIMESTAMP '${date(dQ1)} 00:00:00' GROUP BY l_returnflag, l_linestatus",
        "rf", "ls", "sum_qty", "avg_disc", "n")(
        db.aggregate("lineitem", s"""[{"$$match": {"l_shipdate": {"$$lte": ${ts(dQ1)}}}},
          {"$$group": {"_id": {"rf": "$$l_returnflag", "ls": "$$l_linestatus"},
             "sum_qty": {"$$sum": "$$l_quantity"}, "avg_disc": {"$$avg": "$$l_discount"}, "n": {"$$sum": 1}}},
          {"$$project": {"_id": 0, "rf": "$$_id.rf", "ls": "$$_id.ls", "sum_qty": 1, "avg_disc": 1, "n": 1}}]""")),
      op("agg_sort_skip_limit", ordered = true,
        s"SELECT o_orderkey, o_totalprice FROM src_orders WHERE o_orderpriority = '$pr2' " +
          s"ORDER BY o_totalprice, o_orderkey LIMIT 20 OFFSET $skip",
        "o_orderkey", "o_totalprice")(
        db.aggregate("orders", s"""[{"$$match": {"o_orderpriority": "$pr2"}},
          {"$$sort": {"o_totalprice": 1, "o_orderkey": 1}}, {"$$skip": $skip}, {"$$limit": 20},
          {"$$project": {"o_orderkey": 1, "o_totalprice": 1}}]""")),
    )
  }

  /** `$facet` with two sub-pipelines; arrays compare as sorted lists. */
  private def facetOp(pr: String): Op = {
    def by = sql(s"SELECT o_orderstatus, count(*) FROM src_orders WHERE o_orderpriority = '$pr' " +
      "GROUP BY o_orderstatus ORDER BY o_orderstatus")
      .map(r => s"{${r.getString(0)},${r.getLong(1)}}").mkString("[", ",", "]")
    def top = sql(s"SELECT o_orderkey FROM src_orders WHERE o_orderpriority = '$pr' " +
      "ORDER BY o_totalprice DESC, o_orderkey LIMIT 3").map(_.getLong(0)).sorted
      .map(k => s"{$k}").mkString("[", ",", "]")
    Op("agg_facet", new Expect(Answer(Vector(Vector(by, top)), ordered = true)), () => {
      val rows = query(db.aggregate("orders", s"""[{"$$match": {"o_orderpriority": "$pr"}},
        {"$$facet": {"byStatus": [{"$$group": {"_id": "$$o_orderstatus", "n": {"$$sum": 1}}}],
                     "top": [{"$$sort": {"o_totalprice": -1, "o_orderkey": 1}}, {"$$limit": 3},
                             {"$$project": {"o_orderkey": 1}}]}}]"""))(
        _.select(array_sort(col("byStatus")), array_sort(col("top"))))
      (rows.length.toLong, Answer.of(rows, ordered = true))
    })
  }
}

/** Curation kernels over a word corpus with planted near-duplicate
  * clusters: exact dedup, MinHash near-dup pairs, near-dup removal and
  * quality scoring. CPU-dense llmops kernels, shuffles and spread. */
final class Curation(c: Ctx) extends Workload(c) {
  private val n = ctx.scaled(2000)
  private val clustered = n * 2 / 5 / 4 * 4
  private val threshold = 0.7
  private val fp = Seq("doc_id", "text")
  private var db: Graft.Db = _
  private var ops: Seq[Op] = Nil

  private def tokens(text: Column): Column = filter(split(trim(text), "\\s+"), t => length(t) > 0)

  /** Distinct whitespace-token 3-shingles, computed on the driver. */
  private def shingles(text: String): Set[String] =
    text.trim.split("\\s+").filter(_.nonEmpty).sliding(3).map(_.mkString(" ")).toSet

  def prepare(): Unit = {
    val truth = ctx.synth.documents(n, clustered, 4).persist()
    addSource("documents", truth.drop("cluster"))

    // near-dup pairs: exact Jaccard of every pair inside a planted cluster
    // (unrelated texts share almost no shingles, so no other pair can pass)
    val members = truth.where(col("cluster") >= 0).select("cluster", "doc_id", "text").collect()
      .groupBy(_.getLong(0)).values.toSeq
    val pairs = members.flatMap { rs =>
      val sh = rs.map(r => (r.getLong(1), shingles(r.getString(2)))).sortBy(_._1)
      for { i <- sh.indices; j <- i + 1 until sh.size
            jac = BigDecimal(sh(i)._2.intersect(sh(j)._2).size.toDouble / sh(i)._2.union(sh(j)._2).size)
              .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
            if jac >= threshold } yield (sh(i)._1, sh(j)._1)
    }
    val pairsExp = new Expect(Answer(pairs.toVector.map { case (a, b) => Vector[Any](a, b) }, ordered = false))

    // near-dup removal: every connected component keeps its smallest id
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def root(x: Long): Long = { val p = parent.getOrElse(x, x); if (p == x) x else root(p) }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (root(a), root(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val losers = pairs.flatMap { case (a, b) => Seq(a, b) }.distinct.filter(x => root(x) != x)
    val loserDf = spark.createDataFrame(losers.map(Tuple1(_))).toDF("loser")
    val kept = src("documents").join(loserDf, col("doc_id") === col("loser"), "left_anti")

    // quality score, restated with Spark builtins
    val text = col("text")
    val nTok = size(tokens(text))
    val punct = (length(text) - length(regexp_replace(text, "[.!?,;:]", ""))).cast("double") /
      greatest(length(text), lit(1)).cast("double")
    val sw = array(graft.llmops.TextAnalysis.EnglishStopwords.map(lit): _*)
    val stop = size(filter(tokens(lower(text)), t => array_contains(sw, t))).cast("double") /
      greatest(nTok, lit(1)).cast("double")
    val score = round(lit(0.4) * least(nTok.cast("double") / lit(100.0), lit(1.0)) +
      lit(0.3) * (lit(1.0) - punct) + lit(0.3) * least(stop * lit(5.0), lit(1.0)), 6)

    val exactE = new Expect(Answer.of(exactConsume(src("documents").groupBy(md5(col("text")).as("digest"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))).collect(), ordered = true))
    val dropE = new Expect(Answer.of(fingerprint(kept, fp).collect(), ordered = true))
    val qualityE = new Expect(Answer.of(qualityConsume(src("documents").select(col("doc_id"), score.as("q")))
      .collect(), ordered = true))
    truth.unpersist()

    ops = Seq(
      Op("exact_dedup", exactE, () => {
        val rows = curate(d => graft.llmops.Dedup.exact(d, "doc_id", "text"))(exactConsume)
        (n, Answer.of(rows, ordered = true))
      }),
      Op("minhash_pairs", pairsExp, () => {
        val rows = curate(d => graft.llmops.Dedup.minhashPairs(d, "doc_id", "text", threshold = threshold))(
          _.select("id_a", "id_b"))
        (n, Answer.of(rows, ordered = false))
      }),
      Op("drop_near_duplicates", dropE, () => {
        val rows = curate(d => graft.llmops.Dedup.dropNearDuplicates(d, "doc_id", "text",
          threshold = threshold))(fingerprint(_, fp))
        (n, Answer.of(rows, ordered = true))
      }),
      Op("quality_score", qualityE, () => {
        val rows = curate(d => d.select(col("doc_id"),
          graft.llmops.TextAnalysis.qualityScore(col("text")).as("q")))(qualityConsume)
        (n, Answer.of(rows, ordered = true))
      }))
  }

  private def exactConsume(df: DataFrame): DataFrame =
    df.agg(count(lit(1)), sum(col("keep_id")), sum(col("n_copies") * col("keep_id")))

  private def qualityConsume(df: DataFrame): DataFrame =
    df.agg(count(lit(1)), sum(col("q")), sum(col("q") * pmod(col("doc_id"), lit(97L))))

  /** Read through the engine's MQL surface, build the llmops plan, run. */
  private def curate(build: DataFrame => DataFrame)(consume: DataFrame => DataFrame): Array[Row] = {
    val docs = tracer.span("mql", "mql.compile")(db.find("documents", "{}"))
    val out = consume(tracer.span("exec", "llmops.build")(build(docs)))
    tracer.span("catalyst", "catalyst.plan")(out.queryExecution.executedPlan)
    val rows = tracer.span("exec", "exec.collect")(out.collect())
    tracer.recordCatalyst(out.queryExecution)
    rows
  }

  def setup(rep: Int): Unit = {
    val cat = catalog(rep)
    createCollection(cat, "documents", src("documents"), ctx.slots)
    dropPrevious(rep)
    db = Graft.Db(spark, cat)
  }

  def cycle(k: Int): Seq[Op] = new Random(ctx.seed + k).shuffle(ops)

  def spaceAmp: Double = Files.usage(storeDir)._2.toDouble / Files.bsonBytes(storeDir)
  def storeDir: File = repDir(Main.SetupReps - 1)
  def notApplicable: Map[String, String] = notWire ++ noInserts
}
