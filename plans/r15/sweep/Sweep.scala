package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

/** Crossover sweep and driver-heap probe for the small-frontier finish,
  * on seeded random graphs (`pairs` edges over `pairs` node ids, weights
  * 1-1000), in `Engine.local(4)`:
  *   time  <thresholdBytes|default> <wcc|msf> <pairs,...>
  *         runs REPS (default 3) passes per size, prints each pass's
  *         seconds and a checksum of the result;
  *   heap  <thresholdBytes> <pairs>
  *         peak heap after GC over the run of one componentMinLabels;
  *   parts <ignored> <pairs>
  *         driver heap held by each piece of the WCC finish, packed form
  *         first, then the Row form it replaced.
  * Compile with `scala.tools.nsc.Main` against the Spark jars plus the
  * engine's classes (this file is not part of the build), then run
  * `graft.Sweep` with the same classpath and the JDK 17 add-opens from
  * `tools/run_verify.sh`. The parent commit's classes time the rounds
  * at the default threshold. Not on the parent: `parts`, which calls
  * `graft.SmallFrontier`.
  */
object Sweep {
  val KEY = "spark.sql.autoBroadcastJoinThreshold"

  def pairs(spark: SparkSession, n: Long, salt: Int): DataFrame =
    spark.range(n).select(
      pmod(xxhash64(col("id"), lit(salt)), lit(n)).as("id_a"),
      pmod(xxhash64(col("id"), lit(salt + 1)), lit(n)).as("id_b"),
      (pmod(xxhash64(col("id"), lit(salt + 2)), lit(1000L)) + 1).as("w"))
      .filter(col("id_a") =!= col("id_b"))

  def run(spark: SparkSession, op: String, in: DataFrame): Long = op match {
    case "wcc" => graft.llm.Dedup.componentMinLabels(in.select("id_a", "id_b"))
      .agg(sum(col("label"))).head().getLong(0)
    case "msf" => graft.operators.Graphs.maxSpanningForest(
        in.select(col("id_a").as("src"), col("id_b").as("dst"), col("w")))
      .agg(sum(col("w"))).head().getLong(0)
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.Engine.local(4, "sweep")
    spark.sparkContext.setLogLevel("ERROR")
    if (args(1) != "default") spark.conf.set(KEY, args(1))
    args(0) match {
      case "time" =>
        val op = args(2)
        for (n <- args(3).split(",").map(_.toLong)) {
          val in = graft.Ckpt.cut(pairs(spark, n, 7))
          val rows = in.count()
          val times = (0 until sys.env.getOrElse("REPS", "3").toInt).map { _ =>
            System.gc()
            val t0 = System.nanoTime()
            val check = run(spark, op, in)
            ((System.nanoTime() - t0) / 1e9, check)
          }
          val best = times.drop(1).map(_._1).min // first is warm-up
          println(f"SWEEP op=$op threshold=${args(1)} pairs=$n rows=$rows " +
            f"warm_min_s=$best%.2f all=${times.map(t => f"${t._1}%.2f").mkString("/")} " +
            s"check=${times.map(_._2).distinct.mkString("/")}")
          graft.llm.Dedup.releaseCheckpoint(in)
        }
      case "parts" =>
        // driver heap held by each piece of the finish, old form vs new,
        // on the symmetric edge cut componentMinLabels builds
        val n = args(2).toLong
        val in = pairs(spark, n, 7)
        val edges = graft.Ckpt.cut(in.select(explode(array(
            struct(col("id_a").as("src"), col("id_b").as("dst")),
            struct(col("id_b").as("src"), col("id_a").as("dst")))).as("e"))
          .select(col("e.src").as("src"), col("e.dst").as("dst"))
          .repartition(col("src")).dropDuplicates(Seq("src", "dst")))
        val rows = edges.count()
        val rt = Runtime.getRuntime
        def used(): Long = { System.gc(); System.gc(); rt.totalMemory - rt.freeMemory }
        def held[T](what: String)(make: => T): T = {
          val u0 = used(); val x = make; val u1 = used()
          println(f"PARTS rows=$rows $what%-40s held_mb=${(u1 - u0) / 1e6}%.0f bytes_per_row=${(u1 - u0).toDouble / rows}%.1f")
          x
        }
        locally {
          val packed = held("SmallFrontier.collectLongs (packed)")(SmallFrontier.collectLongs(edges))
          val uf = held("MinUnionFind.over + unions")({
            val u = SmallFrontier.MinUnionFind.over(packed)
            for (i <- 0 until packed.length by 2) u.union(packed(i), packed(i + 1)); u })
          val df = held("LongColumns.toDF of labels")(
            org.apache.spark.sql.graft.LongColumns.toDF(spark,
              org.apache.spark.sql.types.StructType(Seq(edges.schema("src").copy(name = "node"),
                edges.schema("src").copy(name = "label"))), uf.ids, uf.roots))
          held("  + one scan")(df.agg(sum(col("label"))).head())
        }
        locally {
          val r = held("edges.collect() (Row per edge)")(edges.collect())
          val uf = SmallFrontier.MinUnionFind.over(r.flatMap(x => Array(x.getLong(0), x.getLong(1))))
          r.foreach(x => uf.union(x.getLong(0), x.getLong(1)))
          val roots = uf.roots
          val df = held("createDataFrame(List[Row]) of labels")(
            spark.createDataFrame(java.util.Arrays.asList(uf.ids.indices.map(i =>
              org.apache.spark.sql.Row(uf.ids(i), roots(i))): _*),
              org.apache.spark.sql.types.StructType(Seq(edges.schema("src").copy(name = "node"),
                edges.schema("src").copy(name = "label")))))
          held("  + its LocalTableScan rows (one scan)")(df.agg(sum(col("label"))).head())
          println(s"PARTS nodes=${uf.ids.length}")
        }
      case "heap" =>
        val n = args(2).toLong
        val in = graft.Ckpt.cut(pairs(spark, n, 7).select("id_a", "id_b"))
        in.count()
        val mem = ManagementFactory.getMemoryMXBean
        var peak = 0L
        val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
        val listener = new javax.management.NotificationListener {
          def handleNotification(n: javax.management.Notification, h: Any): Unit = {
            val info = com.sun.management.GarbageCollectionNotificationInfo
              .from(n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum
            synchronized { peak = math.max(peak, used) }
          }
        }
        System.gc(); System.gc()
        val base = mem.getHeapMemoryUsage.getUsed
        beans.foreach(_.asInstanceOf[javax.management.NotificationEmitter]
          .addNotificationListener(listener, null, null))
        val t0 = System.nanoTime()
        val out = graft.llm.Dedup.componentMinLabels(in)
        val secs = (System.nanoTime() - t0) / 1e9
        System.gc()
        val retained = mem.getHeapMemoryUsage.getUsed - base
        val check = out.agg(sum(col("label"))).head().getLong(0)
        println(f"HEAP threshold=${args(1)} pairs=$n live_peak_over_base_mb=${(peak - base) / 1e6}%.0f " +
          f"retained_with_result_mb=${retained / 1e6}%.0f secs=$secs%.2f check=$check")
    }
    spark.stop()
  }
}
