package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Connected components over an undirected pair list — the clustering
  * step that turns near-duplicate PAIRS (minhash/simhash/jaccard output)
  * into duplicate GROUPS, so a pipeline can keep one representative per
  * cluster instead of dropping only directly-linked copies.
  *
  * Two execution paths behind one contract:
  *
  *  - **Small pair sets** (≤ `localMax` rows): collect the pair list
  *    to the driver in one job (`limit(localMax + 1).collect()`) and
  *    run union-find, then parallelize the labeling back out.
  *    Near-dup pair sets are orders of magnitude smaller than the
  *    corpus (a few pairs per duplicate family), so even a 100 TB
  *    corpus commonly yields a few million pairs — paying 5-6 Spark
  *    jobs of distributed iteration plus an edge-list shuffle for that
  *    is pure fixed cost. This path adds ZERO shuffles on top of the
  *    pair computation itself; duplicate/reversed pairs are handled by
  *    union-find idempotence, so no distinct() is needed either.
  *  - **Large pair sets** (driver streaming aborts past `localMax`):
  *    hash-min label propagation over the exploded undirected edge
  *    list. Each node starts labeled with its own id; every round each
  *    node takes the min label in its closed neighborhood. Converges in
  *    O(component diameter) rounds; per-round cost is one equi-join +
  *    one groupBy on node id (both hash-partitioned, nothing unbounded
  *    is broadcast). Lineage is cut per round (localCheckpoint here;
  *    durable checkpoint on a cluster) so the plan does not grow with
  *    iteration count. The convergence probe rides the round's own
  *    aggregate: the self-loop row carries each node's previous label
  *    into the groupBy, so "no label changed" is a scan of the
  *    just-checkpointed round output — no extra join, no type
  *    assumptions on the id column (string/UUID doc ids work).
  */
object Components {
  /** @return (id, cluster_id, cluster_size) for every node appearing in
    * `pairs`; cluster_id = min node id in the component. */
  def fromPairs(pairs: DataFrame, aCol: String, bCol: String,
                maxIter: Int = 25, localMax: Long = 2000000L): DataFrame = {
    // persisted so the distributed fallback (or a second consumer)
    // does not recompute the upstream near-dup query
    val p2 = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val local = localUnionFind(p2, localMax)
    val labeled = local.getOrElse(propagate(p2, maxIter))
    p2.unpersist()
    labeled
  }

  /** Driver-side union-find over the collected pair list; None when the
    * list exceeds `localMax` rows (caller falls back to distributed
    * propagation). The size probe is `limit(localMax + 1).collect()` —
    * ONE job however many partitions the pair plan has (a streaming
    * iterator would pay a scheduling round trip per partition or wave),
    * and the transfer is bounded by localMax rows (~16 B each) whatever
    * the true pair count is. Roots are always the component-minimum id:
    * unions attach the larger root under the smaller, so find(root) is
    * the min of everything merged so far. */
  private def localUnionFind(p2: DataFrame, localMax: Long): Option[DataFrame] = {
    val spark = p2.sparkSession
    val idType = p2.schema("src").dataType
    val cap = math.min(localMax, Int.MaxValue - 1L).toInt
    val collected = p2.limit(cap + 1).collect()
    if (collected.length > cap) return None
    val parent = scala.collection.mutable.HashMap.empty[Any, Any]
    def lt(a: Any, b: Any): Boolean =
      a.asInstanceOf[Comparable[Any]].compareTo(b) < 0
    def find(x: Any): Any = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x // path compression
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    collected.foreach { row =>
      val a = row.get(0); val b = row.get(1)
      if (!parent.contains(a)) parent(a) = a
      if (!parent.contains(b)) parent(b) = b
      val ra = find(a); val rb = find(b)
      if (ra != rb) { if (lt(ra, rb)) parent(rb) = ra else parent(ra) = rb }
    }
    val labels = parent.keysIterator.map(id => id -> find(id)).toArray
    val sizes = labels.groupMapReduce(_._2)(_ => 1L)(_ + _)
    val out = labels.iterator
      .map { case (id, root) => Row(id, root, sizes(root)) }
      .toSeq
    val schema = StructType(Seq(
      StructField("id", idType), StructField("cluster_id", idType),
      StructField("cluster_size", LongType, nullable = false)))
    // parallelize the labeling back out so downstream joins stay
    // distributed (the label table may still be millions of rows)
    Some(spark.createDataFrame(
      spark.sparkContext.parallelize(out,
        math.max(1, math.min(32, out.size / 50000 + 1))), schema))
  }

  /** Distributed hash-min label propagation (see object doc). */
  private def propagate(p2: DataFrame, maxIter: Int): DataFrame = {
    // undirected edge list + self-loops (self-loop keeps a node's own
    // label in the min() so labels never regress, and carries the
    // node's previous label into each round's aggregate for the
    // convergence probe); ONE scan of the persisted pair table
    val e = p2.select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")),
        struct(col("src"), col("src").as("dst")),
        struct(col("dst").as("src"), col("dst").as("dst")))).as("e"))
      .select(col("e.src"), col("e.dst")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var labels = e.select(col("src").as("id")).distinct()
      .withColumn("lbl", col("id")).localCheckpoint(true)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // the (src, dst=src) self-loop row's lbl IS src's previous label,
      // so the round's aggregate yields (new label, old label) together
      val next = e.join(labels.withColumnRenamed("id", "dst"), "dst")
        .groupBy(col("src").as("id"))
        .agg(min("lbl").as("lbl"),
          min(when(col("dst") === col("src"), col("lbl"))).as("__old"))
        .localCheckpoint(true)
      // cheap scan of checkpointed data; isEmpty short-circuits at the
      // first changed label
      converged = next.where(col("lbl") =!= col("__old")).isEmpty
      labels = next.drop("__old")
      iter += 1
    }
    e.unpersist()
    // Silent split clusters are worse than a crash: a chain-shaped pair
    // set with diameter > maxIter would return multiple representatives
    // per duplicate family with no signal. Fail loudly so callers raise
    // maxIter instead of consuming wrong clusters.
    if (!converged)
      throw new IllegalStateException(
        s"Components.fromPairs did not converge within maxIter=$maxIter " +
          "rounds (component diameter exceeds maxIter); raise maxIter")
    labels.select(col("id"), col("lbl").as("cluster_id"))
      .withColumn("cluster_size", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("cluster_id")))
  }
}
