package graft

import org.apache.spark.sql.DataFrame

/** The small-frontier finish shared by the engine's fixpoints
  * (`Dedup.componentMinLabels`, `Graphs.maxSpanningForest`).
  *
  * A fixpoint's working set shrinks round by round, but every
  * distributed round pays the same planning and scheduling cost, so on
  * a small working set the rounds are all overhead. Once the observed
  * working set is small, the operator collects it, finishes on the
  * driver with the union-find below, and hands back a DataFrame with
  * the loop's exact result.
  *
  * "Small" is the session's existing definition of "small enough to
  * collect to the driver and broadcast": rows × `schema.defaultSize` ≤
  * `spark.sql.autoBroadcastJoinThreshold`, the same size estimate a
  * broadcast join is planned by (10 MB under `Engine.local`, 64 MB under
  * `Engine.cluster`). Setting it to -1 turns broadcast joins and this
  * finish off together, so every fixpoint keeps its distributed rounds.
  *
  * The bound is a driver-memory limit, not a speed crossover: on random
  * graphs the finish beat the rounds at every size up to 4x the bound
  * (plans/r15/crossover.txt). The rounds stay because they are the only
  * path for working sets the driver should not hold. The driver holds
  * the working set as primitive arrays only, in and out
  * ([[collectLongs]], [[org.apache.spark.sql.graft.LongColumns]]): about
  * 2x the bound at its peak for WCC, where `collect()` and
  * `createDataFrame(rows)` held about 15x.
  */
object SmallFrontier {

  /** Whether `rows` rows of `df`'s schema fit the broadcast bound. */
  def fits(df: DataFrame, rows: Long): Boolean = {
    val bound = df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    bound >= 0 && rows <= bound / math.max(1, df.schema.defaultSize)
  }

  /** `df`'s rows, row-major, as one array: every column must be BIGINT and
    * non-NULL. One job, like `collect()`, but each partition ships one
    * packed array instead of a boxed `Row` per row, and partition order
    * (then row order within each) is kept.
    */
  def collectLongs(df: DataFrame): Array[Long] = {
    val width = df.schema.length
    val parts = df.mapPartitions { rows =>
      val packed = new scala.collection.mutable.ArrayBuilder.ofLong
      rows.foreach { r =>
        var j = 0
        while (j < width) { packed += r.getLong(j); j += 1 }
      }
      Iterator.single(packed.result())
    }(df.sparkSession.implicits.newLongArrayEncoder).collect()
    Array.concat(parts.toIndexedSeq: _*)
  }

  /** Union-find over BIGINT ids with the min-root rule: the root of every
    * set is its smallest id, i.e. the component minimum. Primitive arrays
    * only — the sorted distinct ids, and an `Int` parent per id (ids are
    * sorted, so the smaller index is the smaller id).
    */
  final class MinUnionFind private (val ids: Array[Long]) {
    private val parent = Array.range(0, ids.length)

    private def find(id: Long): Int = {
      var x = java.util.Arrays.binarySearch(ids, id)
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }

    /** Joins the sets of `a` and `b`; false when they were already one. */
    def union(a: Long, b: Long): Boolean = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      ra != rb
    }

    /** The smallest id in each id's set, aligned with `ids`. A parent
      * never has a larger index than its child, so one ascending pass
      * sees every parent's root before the child's.
      */
    def roots: Array[Long] = {
      val out = new Array[Long](ids.length)
      for (i <- ids.indices)
        out(i) = if (parent(i) == i) ids(i) else out(parent(i))
      out
    }
  }

  object MinUnionFind {
    /** One singleton set per distinct id in `endpoints`. */
    def over(endpoints: Array[Long]): MinUnionFind = {
      val ids = endpoints.clone()
      java.util.Arrays.sort(ids)
      var n = 0
      for (i <- ids.indices if n == 0 || ids(i) != ids(n - 1)) {
        ids(n) = ids(i); n += 1
      }
      new MinUnionFind(java.util.Arrays.copyOf(ids, n))
    }
  }
}
