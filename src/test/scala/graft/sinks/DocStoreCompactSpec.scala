package graft.sinks

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture

/** DocStore.compact: the OPTIMIZE verb for streaming-ingest file
  * spray — fewer files, identical rows/schema/layout/tags. */
class DocStoreCompactSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  import spark.implicits._

  private def dataFiles(root: String, rel: String): Seq[String] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new java.io.File(s"$root/$rel"))
      .map(_.getName)
      .filterNot(n => n.startsWith("_") || n.startsWith("."))
      .filter(n => n.endsWith(".jsonl") || n.endsWith(".bson")) // not .zmap sidecars
      .sorted
  }

  test("unpartitioned: 16-file spray → 1 file, rows and tags intact") {
    val root = java.nio.file.Files.createTempDirectory("cpt_flat").toString
    val store = new DocStore(spark, root, "graftdocs")
    val df = (1 to 500).map(i => (i.toLong, s"v$i")).toDF("id", "s")
    store.write(df.repartition(16), "c", tags = Map("batchId" -> "42"))
    assert(dataFiles(root, "c").size == 16)
    store.compact("c")
    assert(dataFiles(root, "c").size == 1)
    assert(store.read("c").orderBy("id").as[(Long, String)].collect().toSeq ==
      (1 to 500).map(i => (i.toLong, s"v$i")))
    assert(store.readTag("c", "batchId").contains("42"))
  }

  test("drop and rename: Mongo admin-command semantics") {
    val root = java.nio.file.Files.createTempDirectory("cpt_admin").toString
    val store = new DocStore(spark, root, "graftdocs")
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "s")
    store.write(df, "x", tags = Map("batchId" -> "3"))
    // rename carries contents and tags; the old name is gone
    store.rename("x", "y")
    assert(!store.exists("x") && store.exists("y"))
    assert(store.read("y").count() == 2)
    assert(store.readTag("y", "batchId").contains("3"))
    // rename onto an existing target needs dropTarget, like Mongo
    store.write(df, "z")
    intercept[graft.mql.MqlException](store.rename("y", "z"))
    store.rename("y", "z", dropTarget = true)
    assert(!store.exists("y") && store.read("z").count() == 2)
    // drop is idempotent-by-result
    assert(store.drop("z"))
    assert(!store.exists("z") && !store.drop("z"))
    intercept[graft.mql.MqlException](store.rename("nope", "w"))
  }

  test("partitioned: per-partition compaction keeps the hive layout") {
    val root = java.nio.file.Files.createTempDirectory("cpt_part").toString
    val store = new DocStore(spark, root, "graftdocs")
    val df = (1 to 300).map(i => (i.toLong, (i % 3).toString, i * 1.5))
      .toDF("id", "k", "v")
    store.overwritePartitions(df.repartition(12), "p", Seq("k"),
      tags = Map("batchId" -> "9"))
    val before = Seq("k=0", "k=1", "k=2").map(d => dataFiles(root, s"p/$d").size)
    assert(before.forall(_ > 1), s"expected a spray, got $before")
    store.compact("p")
    Seq("k=0", "k=1", "k=2").foreach(d =>
      assert(dataFiles(root, s"p/$d").size == 1, s"$d not compacted"))
    assert(store.partitionColumnsOf("p") == Seq("k"))
    assert(store.read("p").count() == 300)
    assert(store.read("p").groupBy("k").count().orderBy("k")
      .as[(String, Long)].collect().toSeq ==
      Seq(("0", 100L), ("1", 100L), ("2", 100L)))
    assert(store.readTag("p", "batchId").contains("9"))
  }

  // one BSON document {x: <MinKey 0xFF>}: its length prefix is sound, so
  // the append commits, but the tree parser rejects the element type
  private val unfoldable: Array[Byte] = Array[Byte](8, 0, 0, 0, -1, 'x', 0, 0)
  private def oneDoc(i: Long): Array[Byte] = graft.bson.BsonBinary.encodeRow(
    org.apache.spark.sql.Row(i),
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("n", org.apache.spark.sql.types.LongType))))
  private def batchFiles(root: String, coll: String): Seq[String] =
    Option(new java.io.File(s"$root/$coll").list()).toSeq.flatten
      .filter(n => n.startsWith("insert_") && n.endsWith(".bson")).sorted

  test("appendRaw: a committed batch whose type tree cannot fold still " +
    "returns, stays visible, and a capped append still evicts") {
    val root = java.nio.file.Files.createTempDirectory("cpt_fold").toString
    val store = new DocStore(spark, root, "graftdocs")
    intercept[graft.bson.GraftTypeError](
      graft.bson.BsonBinary.documents(
        new java.io.ByteArrayInputStream(unfoldable)).next())
    // uncapped: the commit stands and is reported as one
    store.appendRaw("u", unfoldable)
    assert(batchFiles(root, "u").size == 1)
    // capped at one doc: the unfoldable append must still evict the head
    store.declareCapped("k", max = 1L)
    store.appendRaw("k", oneDoc(1L))
    val head = batchFiles(root, "k")
    assert(head.size == 1)
    store.appendRaw("k", unfoldable)
    val afterBad = batchFiles(root, "k")
    assert(afterBad.size == 1 && afterBad != head, afterBad)
    // the next append evicts the unfoldable file; the reader's schema
    // (sidecar or inference job) covers exactly the live file
    store.appendRaw("k", oneDoc(2L))
    assert(batchFiles(root, "k").size == 1)
    assert(store.read("k").collect().map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("cap eviction on the raw local fs leaves no orphan .crc") {
    val root = java.nio.file.Files.createTempDirectory("cpt_crc").toString
    val store = new DocStore(spark, root, "graftdocs")
    store.declareCapped("c", max = 2L)
    // a store written earlier through the checksummed LocalFileSystem:
    // every batch file carries a `.<name>.crc` twin
    val lfs = org.apache.hadoop.fs.FileSystem.getLocal(
      new org.apache.hadoop.conf.Configuration())
    for (i <- 1 to 2) {
      val out = lfs.create(
        new org.apache.hadoop.fs.Path(store.path("c"), s"insert_${i}_1.bson"), true)
      try out.write(oneDoc(i.toLong)) finally out.close()
    }
    def crcs = new java.io.File(store.path("c")).list().filter(_.endsWith(".crc")).toSeq
    assert(crcs.size == 2, crcs)
    store.appendRaw("c", oneDoc(3L))
    store.appendRaw("c", oneDoc(4L))
    assert(!batchFiles(root, "c").exists(_.startsWith("insert_1_")))
    assert(!batchFiles(root, "c").exists(_.startsWith("insert_2_")))
    val orphans = crcs.filterNot(c =>
      new java.io.File(store.path("c"), c.stripPrefix(".").stripSuffix(".crc")).exists())
    assert(orphans.isEmpty, s"orphaned checksum files: $orphans")
    assert(store.read("c").collect().map(_.getLong(0)).toSeq.sorted == Seq(3L, 4L))
  }
}
