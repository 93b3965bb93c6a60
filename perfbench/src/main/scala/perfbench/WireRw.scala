package perfbench

import java.io.{BufferedInputStream, BufferedOutputStream, EOFException, File}

import scala.util.Random
import scala.util.hashing.MurmurHash3

import org.json4s._

import graft.sources.OpMsg

/** An OP_MSG server over a graftdocs store, driven by one persistent
  * loopback connection the way an external driver drives it: `find` plus
  * `getMore` until the cursor is exhausted and `aggregate` over a static
  * orders collection (reads, 70%), and kind-1 `insert` batches into a
  * separate ingest collection (writes, 30%). */
final class WireRw(c: Ctx) extends Workload(c) {
  private val nOrders = ctx.scaled(30000)
  private val nCust = math.max(nOrders / 10, 10L)
  private val BatchSize = 1000
  private val Db = "graft"
  private val Ingest = "ingest"

  private var server: OpMsg.Server = _
  private var store: graft.sinks.DocStore = _
  private var sock: java.net.Socket = _
  private var in: BufferedInputStream = _
  private var out: BufferedOutputStream = _
  private var reqId = 0

  // expected answers, built on the driver from the synthesized orders
  private var perCust: Map[Long, (Long, Long)] = Map.empty       // custkey -> (docs, hash sum)
  private var perDay: Map[(Int, String), (Long, Double)] = Map.empty // (day, priority) -> (n, total)
  // customer windows of a fixed ladder of widths (about 200, 600, 1,500
  // and 4,000 documents at ten orders per customer) at seed-drawn offsets,
  // and 180-day date windows for the aggregates
  private val Widths = Seq(20, 60, 150, 400)
  private val finds = Seq.tabulate(8)(i => {
    val w = math.max(1L, Widths(i % Widths.size) * nCust / 3000)
    val a = 1 + (rnd.nextDouble() * math.max(1L, nCust - w)).toLong
    (s"find_${Widths(i % Widths.size) * 10}", a, a + w)
  })
  private val aggs = Seq.fill(6) { val d = rnd.nextInt(2200); (d, d + 180) }
  private var batchNo = 0
  // the final repetition's inserts, for the end-of-run collection check
  private var sentDocs = 0L
  private var sentHash = 0L
  private var sentBytes = 0L
  private var inserts = 0L

  private def docHash(parts: Seq[Any]): Long = MurmurHash3.seqHash(parts.map(_.toString)) & 0x7fffffffL

  def prepare(): Unit = {
    val rows = addSource("orders", ctx.synth.orders(nOrders, nCust)).collect()
    perCust = rows.groupBy(_.getLong(1)).map { case (k, rs) =>
      k -> ((rs.length.toLong, rs.map(r => docHash(orderFields(r))).sum))
    }
    val day0 = 694224000000L
    perDay = rows.groupBy(r => (((r.getTimestamp(4).getTime - day0) / 86400000L).toInt, r.getString(5)))
      .map { case (k, rs) => k -> ((rs.length.toLong, rs.map(_.getDouble(3)).sum)) }
  }

  private def orderFields(r: org.apache.spark.sql.Row): Seq[Any] =
    Seq(r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3), r.getTimestamp(4).getTime, r.getString(5))

  def setup(rep: Int): Unit = {
    close()
    dropPrevious(rep)
    val st = new graft.sinks.DocStore(spark, repDir(rep).getPath, "graftdocs")
    tracer.span("store", "store.write")(st.write(src("orders").repartition(ctx.slots), "orders"))
    store = st
    server = new OpMsg.Server(spark, st, Db)
    sock = new java.net.Socket(java.net.InetAddress.getLoopbackAddress, server.port)
    sock.setTcpNoDelay(true)
    in = new BufferedInputStream(sock.getInputStream, 1 << 16)
    out = new BufferedOutputStream(sock.getOutputStream, 1 << 16)
    sentDocs = 0; sentHash = 0; sentBytes = 0; inserts = 0
    command("hello", JObject(List("hello" -> JInt(1), "$db" -> JString(Db))))
  }

  /** One round trip: encode (client codec), frame out, frame in. */
  private def command(name: String, cmd: JObject,
                      seqs: Seq[(String, Seq[Array[Byte]])] = Nil): Array[Byte] = {
    val body = tracer.span("wire", "wire.codec")(OpMsg.encodeDoc(cmd))
    tracer.span("wire", s"wire.$name") {
      reqId += 1
      val t0 = System.nanoTime()
      OpMsg.writeFrame(out, reqId, 0, body, flags = 0, compress = false, sequences = seqs)
      val f = OpMsg.readFrame(in).getOrElse(throw new EOFException("server closed the connection"))
      val t1 = System.nanoTime()
      if (f.responseTo != reqId) throw new IllegalStateException(s"reply to ${f.responseTo}, sent $reqId")
      val reqBytes = 21L + body.length + seqs.map { case (id, ds) => 6L + id.length + ds.map(_.length).sum }.sum
      tracer.recordRoundTrip(name, t0, t1, reqBytes, 21L + f.doc.length)
      f.doc
    }
  }

  private def cursorDocs(first: Array[Byte], coll: String): Seq[JObject] = {
    var (id, batch) = tracer.span("wire", "wire.codec")(OpMsg.parseCursorReply(first))
    val docs = Seq.newBuilder[JObject]
    docs ++= tracer.span("wire", "wire.codec")(batch.map(OpMsg.decodeDoc(_)))
    while (id != 0L) {
      val reply = command("getMore", JObject(List("getMore" -> JLong(id), "collection" -> JString(coll),
        "batchSize" -> JInt(BatchSize), "$db" -> JString(Db))))
      val (next, b) = tracer.span("wire", "wire.codec")(OpMsg.parseCursorReply(reply))
      docs ++= tracer.span("wire", "wire.codec")(b.map(OpMsg.decodeDoc(_)))
      id = next; batch = b
    }
    docs.result()
  }

  private def field(d: JObject, n: String): Any = d.obj.find(_._1 == n).map(_._2) match {
    case Some(JLong(v)) => v
    case Some(JInt(v)) => v.toLong
    case Some(JDouble(v)) => v
    case Some(JString(v)) => v
    case Some(JObject(List(("$date", JLong(ms))))) => ms
    case Some(JObject(List(("$date", JInt(ms))))) => ms.toLong
    case other => throw new Mismatch(s"field $n: unexpected $other")
  }

  private def findOp(kind: String, lo: Long, hi: Long): Op = {
    val keys = lo until hi
    val exp = new Expect(Answer.scalar(keys.map(k => perCust.get(k).map(_._1).getOrElse(0L)).sum,
      keys.map(k => perCust.get(k).map(_._2).getOrElse(0L)).sum))
    Op(kind, exp, () => {
      val first = command("find", JObject(List("find" -> JString("orders"),
        "filter" -> JObject(List("o_custkey" -> JObject(List("$gte" -> JLong(lo), "$lt" -> JLong(hi))))),
        "batchSize" -> JInt(BatchSize), "$db" -> JString(Db))))
      val docs = cursorDocs(first, "orders")
      val hash = docs.map(d => docHash(Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority").map(field(d, _)))).sum
      (docs.size.toLong, Answer.scalar(docs.size.toLong, hash))
    })
  }

  private def aggOp(d0: Int, d1: Int): Op = {
    val exp = new Expect(Answer(perDay.toSeq.filter { case ((d, _), _) => d >= d0 && d < d1 }
      .groupBy(_._1._2).toVector.map { case (p, xs) =>
        Vector[Any](p, xs.map(_._2._1).sum, xs.map(_._2._2).sum) }, ordered = false))
    def date(d: Int): JValue = JObject(List("$date" -> JLong(694224000000L + d * 86400000L)))
    Op("aggregate", exp, () => {
      val first = command("aggregate", JObject(List("aggregate" -> JString("orders"),
        "pipeline" -> JArray(List(
          JObject(List("$match" -> JObject(List("o_orderdate" ->
            JObject(List("$gte" -> date(d0), "$lt" -> date(d1))))))),
          JObject(List("$group" -> JObject(List("_id" -> JString("$o_orderpriority"),
            "n" -> JObject(List("$sum" -> JInt(1))), "total" -> JObject(List("$sum" -> JString("$o_totalprice"))))))))),
        "cursor" -> JObject(List("batchSize" -> JInt(BatchSize))), "$db" -> JString(Db))))
      val docs = cursorDocs(first, "orders")
      (docs.size.toLong, Answer(docs.toVector.map(d =>
        Vector[Any](field(d, "_id"), field(d, "n"), field(d, "total")).map(Answer.canon)), ordered = false))
    })
  }

  /** A batch of 300 synthesized documents, deterministic in (seed, batch). */
  private def insertOp(): Op = {
    val b = batchNo
    batchNo += 1
    val r = new Random(ctx.seed * 1000003L + b)
    val size = 300
    val words = Seq("scan", "merge", "cursor", "shard", "batch", "index", "node", "query")
    val docs = (0 until size).map { i =>
      val seq = b.toLong * 1000 + i
      JObject(List("seq" -> JLong(seq), "cust" -> JLong(1L + r.nextInt(nCust.toInt)),
        "status" -> JString(Seq("F", "O", "P")(r.nextInt(3))),
        "price" -> JDouble(math.round(r.nextDouble() * 5000000) / 100.0),
        "note" -> JString(Seq.fill(4 + r.nextInt(7))(words(r.nextInt(words.size))).mkString(" "))))
    }
    Op("insert", new Expect(Answer.scalar(size.toLong)), () => {
      val bytes = tracer.span("wire", "wire.codec")(docs.map(OpMsg.encodeDoc))
      val reply = command("insert", JObject(List("insert" -> JString(Ingest), "ordered" -> JBool(true),
        "$db" -> JString(Db))), Seq("documents" -> bytes))
      val ack = tracer.span("wire", "wire.codec")(OpMsg.decodeDoc(reply))
      val n = ack.obj.find(_._1 == "n").map(_._2) match {
        case Some(JInt(v)) => v.toLong
        case Some(JLong(v)) => v
        case _ => -1L
      }
      sentDocs += n
      if (n == size) {
        sentHash += docs.map(d => docHash(Seq("seq", "cust", "status", "price", "note").map(field(d, _)))).sum
        sentBytes += bytes.map(_.length.toLong).sum
        inserts += 1
      }
      (n, Answer.scalar(n))
    })
  }

  def cycle(k: Int): Seq[Op] = {
    val r = new Random(ctx.seed * 31L + k)
    // one find of each width, three aggregates and three inserts
    val reads = Seq.tabulate(4) { i => val (kind, lo, hi) = finds((k % 2) * 4 + i); findOp(kind, lo, hi) } ++
      Seq.tabulate(3) { i => val (d0, d1) = aggs((k * 3 + i) % aggs.size); aggOp(d0, d1) }
    r.shuffle(reads ++ Seq.fill(3)(insertOp()))
  }

  override def finish(): Seq[String] = {
    val rows = tracer.span("store", "store.read") {
      store.read(Ingest).select("seq", "cust", "status", "price", "note").collect()
    }
    val hash = rows.map(r => docHash(Seq(r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3),
      r.getString(4)))).sum
    val count = if (rows.length.toLong == sentDocs) Nil
      else Seq(s"ingest holds ${rows.length} documents, $sentDocs were acknowledged")
    val sum = if (hash == sentHash) Nil else Seq("ingest checksum differs from the documents sent")
    count ++ sum
  }

  private def ingestDir: File = new File(store.dir, Ingest)
  def spaceAmp: Double = Files.usage(ingestDir)._2.toDouble / math.max(1L, sentBytes)
  def storeDir: File = new File(store.dir)
  override def layerExtras: Map[String, Double] = Map(
    "store.files_per_insert" -> Files.usage(ingestDir)._1.toDouble / math.max(1L, inserts),
    "store.bytes_written_per_doc_byte" -> spaceAmp)
  def notApplicable: Map[String, String] = Map(
    "mql.compile_ms" -> "queries compile inside the server; their cost is in wire.server_job_ms/server_other_ms",
    "mql.self_ms" -> "queries compile inside the server",
    "catalyst.self_ms" -> "queries plan inside the server; catalyst.*_ms come from its query executions",
    "llmops.build_ms" -> "no llmops kernels on this workload")

  override def close(): Unit = {
    if (sock != null) { sock.close(); sock = null }
    if (server != null) { server.stop(); server = null }
  }
}
