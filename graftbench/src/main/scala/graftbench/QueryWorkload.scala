package graftbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import graft.SparkEntry

/** Closed loop, one query at a time, over seeded star-schema tables:
  * every pass runs each query of the workload once, in a seeded order,
  * timed into Spark's `noop` sink (which materialises every column).
  * The number of passes is --seconds over a nominal pass length, so
  * every run of a workload does the same work. */
object QueryWorkload {
  /** One query workload: its queries, the tables they read and their
    * sizes. */
  final case class Spec(queries: Seq[String], tables: Seq[String], sizes: DataGen.Sizes)

  /** Table sizes: those of the repository's sf0.1 test data (see
    * README.md for how the generated tables compare with it), except
    * orders and lineitem in `curation_loops`, which only the HITS loop
    * reads: at half of that, to keep a run within its time budget. Tiny
    * ones for --smoke. */
  private val FullSizes = DataGen.sizes(0.1)
  private val SmokeSizes = DataGen.sizes(0.001)

  /** Nominal length of one pass in seconds (a pass of either workload
    * takes 6 to 11 s on 4 cores): with --seconds it fixes the number of
    * timed passes. */
  private val PassS = 7.0

  val workloads: Map[String, Spec] = Map(
    "olap_queries" -> Spec(
      Seq("q1_pricing_summary", "q3_top_revenue", "q5_local_supplier", "q18_large_orders",
        "window_topn", "asof_join", "events_hourly", "cdc_materialize"),
      Seq("region", "nation", "customer", "supplier", "orders", "lineitem", "events"),
      FullSizes),
    "curation_loops" -> Spec(
      Seq("dedup_minhash", "text_quality", "hits_scores"),
      Seq("orders", "lineitem", "documents"),
      DataGen.sizes(0.05).copy(documents = FullSizes.documents)))

  val allQueries: Seq[String] = Seq("olap_queries", "curation_loops")
    .flatMap(w => workloads(w).queries)

  private def runQuery(spark: SparkSession, q: String, dir: String): Unit =
    SparkEntry.queries(q)(spark, dir).write.format("noop").mode("overwrite").save()

  def run(cfg: Config, out: Result): Unit = {
    val spec = workloads(cfg.workload)
    val queries = spec.queries
    val sizes = if (cfg.smoke) SmokeSizes else spec.sizes
    val dataRoot = s"${cfg.workDir}/data"

    // set-up: session and seeded tables (or, with --data, an existing
    // table directory, for comparing the generated tables with it); no
    // warm-up here, the check pass below warms the JVM and is timed on
    // its own
    val setup = Setup.run(cfg, reps = if (cfg.smoke) 1 else 3) { spark =>
      if (cfg.dataDir.isEmpty) {
        Files.deleteTree(new java.io.File(dataRoot))
        DataGen.generate(spark, s"$dataRoot/main", sizes, cfg.seed, spec.tables)
      }
    }
    val spark = setup.spark
    val dir = cfg.dataDir.getOrElse(s"$dataRoot/main")
    val probe = new Probe(spark, cfg.cores, cfg.traced, s"${cfg.workload}-${cfg.seed}",
      cfg.timeoutMs)

    // correctness, outside set-up and every timed window: each result
    // written once for the DuckDB oracle check in run.py. It also warms
    // the JVM before the timed passes.
    val c0 = System.nanoTime()
    val checks = queries.map { q =>
      val c = probe.call(q, "check") {
        SparkEntry.queries(q)(spark, dir).write.mode("overwrite")
          .parquet(s"${cfg.workDir}/results/$q")
      }
      if (!c.ok) out.checks(s"result_$q") = c.error.get
      c
    }
    val checkPassMs = (System.nanoTime() - c0) / 1e6
    spark.catalog.clearCache()
    out.oracle = queries.map(q => q -> SparkEntry.oracleSql(q)).toMap
    out.dataDir = dir

    final case class Pass(wallMs: Double, traced: Boolean, calls: Seq[Call[Unit]],
                          gcMs: Double)
    val passes = mutable.ArrayBuffer[Pass]()
    val nPasses = math.max(if (cfg.traced) 4 else 1,
      math.round(cfg.seconds / PassS).toInt)
    val heap = mutable.ArrayBuffer[Double]()
    val rng = new scala.util.Random(cfg.seed)
    val t0 = System.nanoTime()
    probe.span(cfg.workload, "workload") { _ =>
      while (passes.size < nPasses) {
        val traceThis = Layers.tracedUnit(cfg, passes.size)
        probe.listening = traceThis
        val order = rng.shuffle(queries)
        val gc0 = probe.gcMs
        val p0 = System.nanoTime()
        val calls = probe.span(s"pass-${passes.size}", "pass") { _ =>
          order.map(q => probe.call(q, "query")(runQuery(spark, q, dir)))
        }
        val wall = (System.nanoTime() - p0) / 1e6
        passes += Pass(wall, traceThis, calls, (probe.gcMs - gc0).toDouble)
        spark.catalog.clearCache()
        heap += probe.heapAfterLastGcMb()
      }
    }
    val phaseS = (System.nanoTime() - t0) / 1e9
    probe.listening = false
    val retainedMb = probe.heapAfterFullGcMb()
    System.err.println(f"graftbench: ${cfg.workload}: set-up ${setup.setupS}%.1f s, " +
      f"check pass ${checkPassMs / 1000}%.1f s, ${passes.size} timed passes " +
      f"${passes.map(_.wallMs).sum / 1000}%.1f s; pass wall ms " +
      passes.map(p => f"${p.wallMs}%.0f").mkString(" ") + "; query ms " +
      passes.map(_.calls.map(c => f"${c.name}=${c.wallMs}%.0f").mkString(",")).mkString(" "))

    out.oracleOps = queries.map(q =>
      q -> (1 + passes.flatMap(_.calls).count(c => c.name == q && c.ok))).toMap

    val calls = passes.flatMap(_.calls)
    out.attempted = calls.size + checks.size
    out.failed = calls.count(!_.ok) + checks.count(!_.ok)
    val okCalls = calls.filter(_.ok)
    val perQuery = queries.map(q => q -> okCalls.filter(_.name == q).map(_.wallMs).toSeq)
    val lat = okCalls.map(_.wallMs).toSeq

    out.put("setup_s", setup.setupS, "s")
    out.put("pass_s", Stats.median(passes.map(_.wallMs).toSeq) / 1000, "s")
    out.put("op_geomean_ms",
      Stats.geomean(perQuery.collect { case (_, xs) if xs.nonEmpty => Stats.median(xs) }), "ms")
    out.put("latency_p50_ms", Stats.quantileOr0(lat, 0.5), "ms")
    out.put("latency_p90_ms", Stats.quantileOr0(lat, 0.9), "ms")
    out.put("throughput_per_s", okCalls.size / phaseS, "1/s")
    out.put("peak_heap_mb", retainedMb, "MB")
    out.put("query_geomean_s", out.metrics("op_geomean_ms")._1 / 1000, "s")

    if (cfg.traced) {
      Layers.session(out, setup, checkPassMs)
      val traced = passes.filter(_.traced)
      Layers.engine(out, traced.map(p => (p.wallMs, p.calls.flatMap(_.engine),
        p.calls.map(_.driverMs).sum)).toSeq, cfg.cores)
      out.put("jvm.gc_ms", Stats.median(passes.map(_.gcMs).toSeq), "ms")
      out.put("jvm.heap_peak_mb", heap.max, "MB")
      QueryWorkload.allQueries.foreach { q =>
        val mine = perQuery.toMap.getOrElse(q, Nil)
        val tc = traced.flatMap(_.calls).filter(c => c.name == q && c.ok)
        out.put(s"op.$q.wall_s", Stats.medianOr0(mine) / 1000, "s")
        out.put(s"op.$q.jobs", Stats.medianOr0(tc.flatMap(_.engine).map(_.jobs.toDouble).toSeq),
          "count")
        out.put(s"op.$q.util", Stats.medianOr0(tc.flatMap(c => c.engine.map(e =>
          e.runMs / (c.wallMs * cfg.cores))).toSeq), "ratio")
      }
      val untraced = passes.filterNot(_.traced).map(_.wallMs).toSeq
      val tracedWall = traced.map(_.wallMs).toSeq
      Layers.overhead(out, tracedWall, untraced)
      out.layerReport = Layers.report(probe, out)
    }
    probe.shutdown()
  }
}
