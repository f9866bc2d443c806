package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** Pins the checkpoint-stats clamp (Ckpt / CheckpointStats).
  *
  * Spark 4 preserves the child plan's estimated Statistics on a
  * checkpoint's LogicalRDD leaf; size-only estimation multiplies child
  * sizes at every join, so an ITERATIVE fixpoint whose round joins the
  * previous checkpoint k times compounds the preserved sizeInBytes
  * k-fold IN DIGIT COUNT per round. Unclamped, round ~13 of a k=4 loop
  * carries ~1e8-digit BigInts and the optimizer's stats probes
  * (InjectRuntimeFilter, join selection) pin a core for an hour — the
  * exact failure observed on graph_mst at sf0.1 while sf0.01 (fewer
  * rounds) passed. These tests run the compounding shape far past the
  * blowup horizon and assert the leaf stays Long-ranged and the data
  * unchanged.
  */
class CkptSpec extends SparkSpec {

  private def leafStats(df: DataFrame): Option[BigInt] =
    df.queryExecution.analyzed.collectFirst {
      case l: LogicalRDD => l.computeStats().sizeInBytes
    }

  test("per-round leaf stats stay in Long range through 16 rounds of a " +
       "k=4 self-referencing fixpoint (the graph_mst blowup shape)") {
    import spark.implicits._
    var cur = Ckpt.cut((1L to 64L).toDF("id"))
    (1 to 16).foreach { _ =>
      // the componentMinLabels round shape: cur referenced four times
      // through two join levels, so unclamped preserved stats would
      // multiply ~4x in digit count every round (4^16 ~ 4e9 digits)
      val a = cur.join(cur.withColumnRenamed("id", "id2"),
        col("id") === col("id2")).select(col("id"))
      val b = a.join(a.withColumnRenamed("id", "id3"),
        col("id") === col("id3")).select(col("id"))
      cur = Ckpt.cut(b)
      val sz = leafStats(cur).get
      assert(sz <= BigInt(Long.MaxValue),
        s"leaf stats escaped Long range: $sz")
    }
    assert(cur.agg(sum(col("id"))).head().getLong(0) == 64L * 65 / 2)
  }

  test("the clamp rewrap preserves rows, schema, and the checkpointed " +
       "RDD, so releaseCheckpoint still frees its blocks") {
    import spark.implicits._
    val src = (1 to 100).map(i => (i.toLong, s"v$i")).toDF("id", "s")
    val ck = Ckpt.cut(src.filter(col("id") > 10))
    assert(ck.schema == src.schema)
    assert(ck.count() == 90)
    assert(ck.agg(min(col("id"))).head().getLong(0) == 11L)
    val rdds = ck.queryExecution.analyzed.collect {
      case l: LogicalRDD => l.rdd
    }
    assert(rdds.size == 1, "exactly one checkpoint leaf")
    llm.Dedup.releaseCheckpoint(ck) // must find the leaf and not throw
  }

  test("nested fixpoints terminate fast: Boruvka on a 2^8 chain (max " +
       "rounds both levels) completes within the suite budget") {
    import spark.implicits._
    // a 256-node path with strictly increasing weights forces Boruvka
    // through its full log-round ladder with a CC merge inside each
    // round — the deepest compounding this engine performs (threshold
    // -1: the small-frontier finish would otherwise skip the rounds)
    val edges = (0L until 255L).map(i => (i, i + 1, i.toDouble))
      .toDF("src", "dst", "w")
    withBroadcastThreshold(Some(-1L)) {
      val forest = operators.Graphs.maxSpanningForest(edges)
      assert(forest.count() == 255) // a path's spanning forest is itself
    }
  }
}
