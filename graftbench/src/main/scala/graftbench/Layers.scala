package graftbench

import scala.collection.mutable

/** Per-layer metrics of a traced run, and the layer report written
  * next to it (spans, self times and listener counts per layer). */
object Layers {
  /** Every per-layer metric a traced run reports; BENCHMARK.json lists
    * those of the workloads it names. A metric a workload never exercises
    * reads 0 there. */
  val declared: Seq[(String, String)] = Seq(
    ("session.build_ms", "ms"), ("session.warmup_ms", "ms"),
    ("jvm.gc_ms", "ms"), ("jvm.heap_peak_mb", "MB"),
    ("spark.jobs", "count"), ("spark.stages", "count"),
    ("spark.tasks", "count"), ("spark.exec_run_ms", "ms"),
    ("spark.exec_cpu_ms", "ms"), ("spark.util", "ratio"),
    ("spark.shuffle_read_mb", "MB"), ("spark.shuffle_write_mb", "MB"),
    ("spark.spill_mb", "MB"), ("spark.task_skew", "ratio"),
    ("spark.driver_ms", "ms"), ("spark.plan_ms", "ms")) ++
    QueryWorkload.allQueries.flatMap(q => Seq(
      (s"op.$q.wall_s", "s"), (s"op.$q.jobs", "count"),
      (s"op.$q.util", "ratio"))) ++ Seq(
    ("streaming.ingest_p50_ms", "ms"), ("streaming.batches", "count"),
    ("streaming.plan_ms", "ms"), ("streaming.add_batch_ms", "ms"),
    ("streaming.wal_ms", "ms"),
    ("cdc.emitted_rows", "count"), ("cdc.parsed_rows", "count"),
    ("cdc.dead_letter_rows", "count"),
    ("sinks.commit_p50_ms", "ms"), ("sinks.commit_jobs", "count"),
    ("sinks.read_p50_ms", "ms"), ("sinks.read_amp", "ratio"),
    ("sinks.time_travel_ms", "ms"), ("sinks.files", "count"),
    ("sinks.compact_ms", "ms"), ("sinks.read_after_compact_ms", "ms"),
    ("sinks.table_mb", "MB"),
    ("load.ingest_ms", "ms"), ("load.commit_ms", "ms"),
    ("generator.late_ms", "ms"),
    ("check.failed_frac", "ratio"),
    ("trace.overhead_ms", "ms"), ("trace.overhead_frac", "ratio"),
    ("trace.accounted_frac", "ratio"))

  def fill(out: Result): Unit =
    declared.foreach { case (n, u) => if (!out.metrics.contains(n)) out.put(n, 0.0, u) }

  def session(out: Result, setup: Setup.Done, warmupMs: Double): Unit = {
    out.put("session.build_ms", setup.buildMs, "ms")
    out.put("session.warmup_ms", warmupMs, "ms")
  }

  /** spark.* as the median over units (passes or waves) of each unit's
    * totals. `units` = (wall ms, engine stats of its calls, driver ms). */
  def engine(out: Result, units: Seq[(Double, Seq[EngineStats], Double)], cores: Int): Unit = {
    if (units.isEmpty) return
    val per = units.map { case (wall, stats, driverMs) =>
      val t = new EngineStats
      stats.foreach(t.add)
      (wall, t, driverMs)
    }
    def med(f: ((Double, EngineStats, Double)) => Double) = Stats.median(per.map(f))
    val mb = 1024.0 * 1024.0
    out.put("spark.jobs", med(_._2.jobs.toDouble), "count")
    out.put("spark.stages", med(_._2.stages.toDouble), "count")
    out.put("spark.tasks", med(_._2.tasks.toDouble), "count")
    out.put("spark.exec_run_ms", med(_._2.runMs.toDouble), "ms")
    out.put("spark.exec_cpu_ms", med(_._2.cpuMs), "ms")
    out.put("spark.util", med(u => u._2.runMs / (u._1 * cores)), "ratio")
    out.put("spark.shuffle_read_mb", med(_._2.shuffleReadB / mb), "MB")
    out.put("spark.shuffle_write_mb", med(_._2.shuffleWriteB / mb), "MB")
    out.put("spark.spill_mb", med(_._2.spillB / mb), "MB")
    out.put("spark.task_skew", med(_._2.taskSkew), "ratio")
    out.put("spark.driver_ms", med(_._3), "ms")
    out.put("spark.plan_ms", med(_._2.planMs), "ms")
  }

  /** A traced run attaches the listeners to units (passes or waves)
    * 1, 2, 5, 6, ... and leaves 0, 3, 4, 7, ... untraced: an ABBA
    * order, so a warm-up trend across the run cancels out of the
    * overhead estimate. */
  def tracedUnit(cfg: Config, i: Int): Boolean = cfg.traced && (i % 4 == 1 || i % 4 == 2)

  /** Tracing overhead: traced minus untraced units of the same run. */
  def overhead(out: Result, tracedMs: Seq[Double], untracedMs: Seq[Double]): Unit =
    if (tracedMs.nonEmpty && untracedMs.nonEmpty) {
      val t = Stats.median(tracedMs)
      val u = Stats.median(untracedMs)
      out.put("trace.overhead_ms", t - u, "ms")
      out.put("trace.overhead_frac", (t - u) / u, "ratio")
    }

  /** Spans with self times, plus self time and listener counts summed
    * per layer (span kind). Also sets trace.accounted_frac: the share of
    * each pass or wave covered by its child calls (median). */
  def report(probe: Probe, out: Result): Map[String, Any] = {
    val spans = probe.spans.toSeq
    val children = spans.groupBy(_.parent)
    def childMs(s: Span) = children.getOrElse(s.id, Nil).map(_.ms).sum
    val selfByKind = mutable.LinkedHashMap[String, Double]()
    val countsByKind = mutable.LinkedHashMap[String, mutable.LinkedHashMap[String, Double]]()
    spans.foreach { s =>
      selfByKind(s.kind) = selfByKind.getOrElse(s.kind, 0.0) + (s.ms - childMs(s))
      val c = countsByKind.getOrElseUpdate(s.kind, mutable.LinkedHashMap())
      s.attrs.foreach { case (k, v) => c(k) = c.getOrElse(k, 0.0) + v }
    }
    val units = spans.filter(s => s.kind == "pass" || s.kind == "wave")
    if (units.nonEmpty)
      out.put("trace.accounted_frac", Stats.median(units.map(u => childMs(u) / u.ms)), "ratio")
    Map(
      "run_id" -> probe.runId,
      "self_ms_by_layer" -> selfByKind,
      "engine_by_layer" -> countsByKind,
      "spans" -> spans.map { s =>
        Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "kind" -> s.kind,
          "run_id" -> probe.runId, "start_ms" -> probe.elapsedMs(s.startNs),
          "end_ms" -> probe.elapsedMs(s.endNs), "self_ms" -> (s.ms - childMs(s)),
          "attrs" -> s.attrs)
      })
  }
}
