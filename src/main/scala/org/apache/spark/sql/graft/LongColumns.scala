package org.apache.spark.sql.graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SpecificInternalRow
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.plans.physical.UnknownPartitioning
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.{Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.{LongType, StructType}

/** A DataFrame over BIGINT columns the driver holds as primitive arrays,
  * for the fixpoints' small-frontier finish ([[graft.SmallFrontier]]).
  *
  * `createDataFrame(rows, schema)` boxes every value into a `Row`, then
  * into the generic rows of a `LocalRelation` that stays in the plan of
  * every consumer — several times the `schema.defaultSize` bytes per row
  * the finish's size bound counts. Here the driver keeps only the column
  * arrays, cut into one slice per partition, and executors build the rows
  * as they scan. The leaf reports the size a `LocalRelation` of the same
  * rows would, so joins against it still plan as broadcasts.
  *
  * Lives under `org.apache.spark.sql` for the same reason as
  * [[CheckpointStats]]: `LogicalRDD`'s stats argument and `Dataset.ofRows`
  * are `private[sql]`.
  */
object LongColumns {

  /** `schema`'s rows, column `j` of row `i` being `columns(j)(i)`. */
  def toDF(session: org.apache.spark.sql.SparkSession, schema: StructType,
           columns: Array[Long]*): DataFrame = {
    require(schema.length == columns.length &&
      schema.forall(_.dataType == LongType), s"BIGINT columns only: $schema")
    val n = columns.head.length
    val sc = session.sparkContext
    val slices = math.min(math.max(n, 1), sc.defaultParallelism)
    val chunks = (0 until slices).map { s =>
      val (from, until) = (n * s.toLong / slices, n * (s + 1L) / slices)
      columns.map(java.util.Arrays.copyOfRange(_, from.toInt, until.toInt))
    }
    val width = columns.length
    val rdd = sc.parallelize(chunks, slices).mapPartitions(_.flatMap { cs =>
      val row = new SpecificInternalRow(Seq.fill(width)(LongType))
      Iterator.range(0, cs.head.length).map { i =>
        var j = 0
        while (j < width) { row.setLong(j, cs(j)(i)); j += 1 }
        row: InternalRow
      }
    })
    val output = DataTypeUtils.toAttributes(schema)
    val stats = Statistics(
      sizeInBytes = EstimationUtils.getSizePerRow(output) * n,
      rowCount = Some(BigInt(n)))
    val classic = session.asInstanceOf[SparkSession]
    Dataset.ofRows(classic, new LogicalRDD(output, rdd,
      UnknownPartitioning(0), Nil, false, None)(classic, Some(stats), None))
  }
}
