package org.apache.spark.sql

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.SparkEnv
import org.apache.spark.io.CompressionCodec
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types.DataType

/** Bridge into the classic Column ↔ Expression converters, which are
  * `private[sql]` in Spark 4 (Column is Connect-neutral there). This is the
  * standard extension-library pattern for exposing custom Catalyst
  * expressions as user-facing Columns. */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** A call of the static method `method` of `cls` (a Scala object's class
    * too: Spark drops its trailing `$`) as a Column: Spark's
    * `StaticInvoke`, whose `inputTypes` parameter is the `private[sql]`
    * `AbstractDataType`. */
  def staticInvoke(cls: Class[_], dataType: DataType, method: String, args: Seq[Column],
                   inputTypes: Seq[DataType], propagateNull: Boolean,
                   returnNullable: Boolean): Column =
    column(StaticInvoke(cls, dataType, method, args.map(expression), inputTypes,
      propagateNull, returnNullable))

  /** Release the block-manager blocks behind a `localCheckpoint()`ed frame.
    * Checkpoint blocks are otherwise reclaimed only by the GC-driven
    * ContextCleaner (periodic GC defaults to 30 min), so an iterative
    * fixpoint that checkpoints per round leaks every intermediate frontier
    * for the life of the session. The frame must not be used afterwards —
    * its lineage was truncated, so the data is unrecoverable. */
  def freeCheckpoint(df: Dataset[_]): Unit =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed.foreach {
      case lr: execution.LogicalRDD => lr.rdd.unpersist(blocking = false)
      case _                        => ()
    }

  /** The rows of `df` in partition order, one Spark job per wave of
    * `defaultParallelism` partitions — the drain behind every response and
    * every bounded compile-time scan.
    *
    * Spark's own local iterator over a `Dataset` runs one job per
    * partition, one after another, so a point read over a four-file scan
    * paid four job launches for one row. A wave fills every task slot at
    * once: a result whose plan has at most `defaultParallelism` partitions
    * costs one job, a larger one ⌈partitions / wave⌉ jobs, each started
    * only when the caller has consumed the previous wave. At most one wave of encoded
    * rows is held on the driver, so a caller that streams never holds the
    * whole result. Rows come out in partition order, which keeps a
    * global `ORDER BY` sorted across waves.
    *
    * As in that iterator, the plan is prepared under its SQL execution
    * id (AQE query stages and broadcasts run there) and the result-stage
    * jobs run lazily as the iterator is pulled. With `limit >= 0` each
    * partition encodes at most `limit` rows and the iterator stops, without
    * starting another wave, once `limit` rows have been handed out. */
  def waveRows(df: DataFrame, limit: Int = -1): Iterator[Row] = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val qe = ds.queryExecution
    val rdd = SQLExecution.withNewExecutionId(qe, Some("waveRows")) {
      qe.executedPlan.resetMetrics()
      qe.executedPlan.execute()
    }
    val fromRow = ds.exprEnc.resolveAndBind(ds.logicalPlan.output,
      ds.sparkSession.sessionState.analyzer).createDeserializer()
    val fields = qe.executedPlan.output.length
    val sc = rdd.sparkContext
    val wave = math.max(1, sc.defaultParallelism)
    val n = rdd.getNumPartitions
    val encode = encodePartition(limit)
    val rows = Iterator.range(0, n, wave).flatMap { from =>
      sc.runJob(rdd, encode, from until math.min(from + wave, n))
        .iterator.flatMap(decodePartition(_, fields))
    }.map(fromRow)
    if (limit >= 0) rows.take(limit) else rows
  }

  /** One partition's rows as length-prefixed UnsafeRow bytes, compressed
    * with the shuffle codec and ended by -1 — the encoding Spark's own
    * collect path uses. */
  private def encodePartition(limit: Int): Iterator[InternalRow] => Array[Byte] = { it =>
    val bytes = new ByteArrayOutputStream()
    val out = new DataOutputStream(
      CompressionCodec.createCodec(SparkEnv.get.conf).compressedOutputStream(bytes))
    val buf = new Array[Byte](4 << 10)
    (if (limit >= 0) it.take(limit) else it).foreach { r =>
      val row = r.asInstanceOf[UnsafeRow]
      out.writeInt(row.getSizeInBytes)
      row.writeToStream(out, buf)
    }
    out.writeInt(-1)
    out.close()
    bytes.toByteArray
  }

  private def decodePartition(bytes: Array[Byte], fields: Int): Iterator[InternalRow] = {
    val in = new DataInputStream(CompressionCodec.createCodec(SparkEnv.get.conf)
      .compressedInputStream(new ByteArrayInputStream(bytes)))
    var len = in.readInt()
    new Iterator[InternalRow] {
      def hasNext: Boolean = len >= 0
      def next(): InternalRow = {
        val b = new Array[Byte](len)
        in.readFully(b)
        val row = new UnsafeRow(fields)
        row.pointTo(b, len)
        len = in.readInt()
        if (len < 0) in.close()
        row
      }
    }
  }
}
