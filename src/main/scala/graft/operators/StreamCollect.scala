package graft.operators

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.nio.ByteBuffer

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.unsafe.Platform

/** Streaming collect: a DataFrame's rows reach the driver lazily, in
  * partition order, one WAVE of `defaultParallelism` partitions per
  * Spark job.
  *
  * Spark's own local iterator over a Dataset runs one single-task job
  * per partition, one after another, so a scan over P files pays P
  * scheduling round trips and uses one slot of many. Here each wave's
  * partitions run as the tasks of ONE job; the next wave starts only
  * when the consumer has drained the current one. Driver memory is
  * bounded by one wave's rows instead of one partition's.
  *
  * Rows ship as serialized `UnsafeRow`s and are deserialized on the
  * driver as they are consumed, exactly as that iterator does. The
  * plan is prepared inside a SQL execution, so `QueryExecutionListener`s
  * see the query like any other action (AQE's shuffle stages run there;
  * the waves run after it, as the local iterator's jobs do). */
private[graft] object StreamCollect {
  def rows(df: DataFrame): Iterator[Row] = {
    val qe = df.queryExecution
    val rdd = SQLExecution.withNewExecutionId(qe, Some("collect")) {
      qe.executedPlan.resetMetrics()
      qe.executedPlan.execute()
    }
    val schema = df.schema
    // one length-prefixed byte run per partition (-1 terminates);
    // physical plans emit UnsafeRows, as Spark's own collect assumes
    val packed = rdd.mapPartitions { it =>
      val bytes = new ByteArrayOutputStream()
      val out = new DataOutputStream(bytes)
      val buf = new Array[Byte](4096)
      it.foreach { r =>
        val u = r.asInstanceOf[UnsafeRow]
        out.writeInt(u.getSizeInBytes)
        u.writeToStream(out, buf)
      }
      out.writeInt(-1)
      Iterator.single(bytes.toByteArray)
    }
    val sc = df.sparkSession.sparkContext
    val width = math.max(1, sc.defaultParallelism)
    val nParts = packed.getNumPartitions
    val fromRow = ExpressionEncoder(schema).resolveAndBind().createDeserializer()
    new Iterator[Row] {
      private var nextPart = 0
      private var wave: Iterator[InternalRow] = Iterator.empty
      def hasNext: Boolean = {
        while (!wave.hasNext && nextPart < nParts) {
          val ps = nextPart until math.min(nParts, nextPart + width)
          val runs = sc.runJob(packed, (it: Iterator[Array[Byte]]) => it.next(), ps)
          // advance only past a wave that ran: a failed wave is retried
          // by the next pull, never skipped
          nextPart = ps.end
          wave = runs.iterator.flatMap(unpack(_, schema.length))
        }
        wave.hasNext
      }
      def next(): Row =
        if (hasNext) fromRow(wave.next())
        else throw new NoSuchElementException("end of streamed rows")
    }
  }

  /** The rows of one partition's byte run, each pointing into it. */
  private def unpack(run: Array[Byte], numFields: Int): Iterator[InternalRow] =
    new Iterator[InternalRow] {
      private val in = ByteBuffer.wrap(run)
      private var len = in.getInt(0)
      private var pos = 4
      def hasNext: Boolean = len >= 0
      def next(): InternalRow = {
        val row = new UnsafeRow(numFields)
        row.pointTo(run, Platform.BYTE_ARRAY_OFFSET + pos, len)
        pos += len
        len = in.getInt(pos)
        pos += 4
        row
      }
    }
}
