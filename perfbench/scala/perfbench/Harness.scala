package perfbench

import java.nio.file.{Files, Paths}

import graft.checks.Checks
import graft.llm.CorpusPipeline
import graft.olist.{Models, Pipeline}
import graft.operators.Graphs
import org.apache.spark.sql.SparkSession
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

/** One benchmark run of one workload in a fresh JVM:
  *
  *   setup → cold pass → `--passes` timed passes
  *   [→ traced, control, control, traced passes when `--trace 1`]
  *
  * Every pass starts from a quiet engine (persisted and checkpoint blocks
  * dropped, GC forced, outside the timer) and writes its result to its
  * own directory, so `oracle.py` can check every pass against DuckDB.
  * The run ends by writing one JSON record with the per-pass walls and,
  * for traced passes, the per-span counters.
  *
  *   perfbench.Harness --workload W --input DIR --work DIR --passes N
  *                     --trace 0|1 --cores N --record FILE
  */
object Harness {

  /** A workload: the pass body, given the pass output directory and the
    * tracer of a traced pass. It throws when the product reports failure.
    */
  type Pass = (String, Option[Tracer]) => Unit

  /** The product oracles `oracle.py` replays in DuckDB. */
  val OracleEntries = Seq("graph_mst", "llm_pipeline_e2e")

  val SeedNodes = Seq("olist_customers_dataset", "olist_order_items_dataset",
    "olist_orders_dataset")

  def workload(spark: SparkSession, name: String, input: String): Pass =
    name match {
      case "elt_build" => (out, tr) =>
        // a fresh warehouse per pass; seeds come from the generated CSVs
        val cat = Models.catalog(spark, out, seedsDir = input,
          synthDir = Some(input))
        val tests = tr match {
          case None => Pipeline.runAll(cat, input).tests
              .map(t => t.name -> t.result)
          case Some(t) =>
            // runAll split into its calls, in the same topological order
            t.span("olist.seeds")(cat.run(SeedNodes, threads = 4))
            t.span("olist.fct_orders")(cat.run(Seq("fct_orders")))
            t.span("checks.gate")(Pipeline.testQueries(cat).map {
              case (n, q) => n -> Checks.evaluate(q(), warnOnly = true)
            })
        }
        val bad = tests.filter(_._2.failures != 0)
        require(tests.size == 5 && bad.isEmpty,
          s"test gate: ${tests.size} nodes, failing ${bad.map(_._1)}")
      case "graph_fixpoint" => (out, tr) =>
        def body(): Unit = Graphs
          .maxSpanningForest(Graphs.coSupplierWeightedEdges(
            spark.read.parquet(s"$input/lineitem.parquet")))
          .write.parquet(out)
        tr.fold(body())(_.span("graphs.msf")(body()))
      case "corpus_rebuild" => (out, tr) =>
        def body(): Unit = CorpusPipeline
          .stageCounts(spark.read.parquet(s"$input/documents.parquet"))
          .write.parquet(out)
        tr.fold(body())(_.span("llm.stage_counts")(body()))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  /** Bench.quiesce: drop persisted and checkpoint blocks, force a GC. */
  def quiesce(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    System.gc()
  }

  final case class PassRec(kind: String, wall: Double, out: String,
                           error: Option[String],
                           spans: Map[String, Double] = Map.empty)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val (spark, setupS) = Setup.start(opt("cores").toInt)
    val pass = workload(spark, opt("workload"), opt("input"))
    val passes = scala.collection.mutable.ArrayBuffer[PassRec]()

    def run(kind: String, traced: Boolean): PassRec = {
      val out = s"${opt("work")}/pass${passes.size}"
      quiesce(spark)
      val tracer = if (traced) Some(new Tracer(spark)) else None
      tracer.foreach(spark.sparkContext.addSparkListener)
      try {
        val t0 = System.nanoTime()
        val error = try { pass(out, tracer); None } catch {
          case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage}")
        }
        val wall = (System.nanoTime() - t0) / 1e9
        val rec = PassRec(kind, wall, out, error,
          tracer.map(_.report(wall)).getOrElse(Map.empty))
        passes += rec
        rec
      } finally tracer.foreach(spark.sparkContext.removeSparkListener)
    }

    run("cold", traced = false)
    (1 to opt("passes").toInt).foreach(_ => run("timed", traced = false))
    // traced, control, control, traced: the untraced controls sit between
    // the traced passes, so a linear warm-up trend cancels in the overhead
    if (opt("trace") == "1") Seq(true, false, false, true)
      .foreach(t => run(if (t) "traced" else "control", traced = t))

    val rssMb = scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024 }.getOrElse(-1.0)
    val conf = spark.sparkContext.getConf
    val stamp = Map(
      "spark" -> spark.version,
      "jdk" -> System.getProperty("java.version"),
      "cores" -> opt("cores").toInt,
      "master" -> conf.get("spark.master"),
      "xmx_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "shuffle_partitions" -> conf.get("spark.sql.shuffle.partitions", ""))
    val record = Map(
      "setup_s" -> setupS,
      "peak_rss_mb" -> rssMb,
      "stamp" -> stamp,
      "passes" -> passes.map(p => Map("kind" -> p.kind, "wall_s" -> p.wall,
        "out" -> p.out, "error" -> p.error.orNull, "spans" -> p.spans)),
      "oracle_sql" -> OracleEntries.map(n => n -> graft.SparkEntry.oracleSql(n)).toMap)
    implicit val formats: Formats = DefaultFormats
    Files.writeString(Paths.get(opt("record")), Serialization.write(record))
    spark.stop()
  }
}

/** The fixed cost of a fresh process: from process start until
  * `Engine.local` has returned and run a first trivial job.
  */
object Setup {
  def start(cores: Int): (SparkSession, Double) = {
    val spark = graft.Engine.local(cores, "perfbench")
    spark.sparkContext.parallelize(Seq(1), 1).count()
    val started = ProcessHandle.current().info().startInstant().get()
    (spark, (System.currentTimeMillis() - started.toEpochMilli) / 1e3)
  }
}
