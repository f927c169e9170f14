package graftbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import graft.sinks.SnapshotTable
import graft.streaming.{CdcStream, FileBus}

/** The paper's own path: Debezium envelopes on a directory bus →
  * `CdcStream.ingestTopics` → `SnapshotTable.commit` per table →
  * `readSnapshot`.
  *
  * Set-up builds the session and generates every input of the run (the
  * snapshot, all waves and their ground truth). Phase 1 drains an
  * initial-snapshot backlog (all `r`) as fast as possible, several times,
  * each into a fresh pipeline. The first load, followed by one wave into
  * the same pipeline, warms the JVM; the load rate is the events of the
  * other loads over their ingest and commit time. Phase 2
  * is an open loop into the last pipeline: one fixed-size wave of changes
  * is due every interval, whatever happened before, and the bus releases
  * it as one file per topic. Every event of a wave is stamped with the
  * time the wave was due, so a stall also counts against the waves queued
  * behind it; its freshness runs from that stamp to the return of its
  * table's commit. The run ends with one time-travel read, one `compact`
  * and a read after it.
  */
object CdcWorkload {
  final case class Sizing(accounts: Int, products: Int, waveEvents: Int, intervalMs: Long,
                          loads: Int)

  /** `loads` counts the warm-up load. Waves are 4 s apart: a wave takes
    * about 2 s on 4 idle cores, so one that runs twice as slow on a busy
    * machine still ends before the next is due. */
  def sizing(smoke: Boolean): Sizing =
    if (smoke) Sizing(400, 100, 100, 800, loads = 2)
    else Sizing(accounts = 8000, products = 2000, waveEvents = 1000, intervalMs = 4000,
      loads = 4)

  /** One bus → stream → snapshot-table pipeline in its own directories. */
  final class Pipeline(spark: SparkSession, root: String) {
    val bus = s"$root/bus"
    val sink = s"$root/sink"
    def table(t: String) = s"$root/tables/$t"
    private val committed = mutable.HashMap[String, Set[String]]().withDefaultValue(Set.empty)
    private var fileSeq = 0
    @volatile private var query: StreamingQuery = _
    /** Run id of the streaming query: the job group of its micro-batches. */
    @volatile var runId = ""
    CdcGen.tableNames.foreach(t =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$bus/cdc.commerce.$t")))

    /** Start the streaming query, or restart it from its checkpoint after
      * a timed-out ingest stopped it. */
    def start(): Unit = if (query == null) {
      query = CdcStream.ingestTopics(spark, FileBus(bus, "cdc.commerce.*"), CdcGen.schemas,
        sink, s"$root/checkpoint")
      runId = query.runId.toString
    }

    /** Process everything on the bus, (re)starting the query if needed. */
    def ingest(): Unit = { start(); query.processAllAvailable() }

    /** Publish a batch: one file per topic, renamed into place whole. */
    def publish(b: CdcGen.Batch): Unit = {
      fileSeq += 1
      b.linesByTopic.foreach { case (topic, lines) =>
        val dir = java.nio.file.Paths.get(s"$bus/$topic")
        val tmp = dir.resolve(f".part-$fileSeq%05d.tmp")
        java.nio.file.Files.write(tmp, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
        java.nio.file.Files.move(tmp, dir.resolve(f"part-$fileSeq%05d.json"),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      }
    }

    /** Sink files of `t` that no commit has taken yet. */
    def newFiles(t: String): Seq[String] = {
      val d = new java.io.File(s"$sink/$t")
      val all = Option(d.listFiles()).getOrElse(Array.empty).map(_.getName)
        .filter(n => n.endsWith(".parquet") && !n.startsWith(".")).toSet
      (all -- committed(t)).toSeq.sorted.map(n => s"$sink/$t/$n")
    }

    def commit(t: String, files: Seq[String]): Int = {
      val v = SnapshotTable.commit(spark.read.parquet(files: _*), table(t), "ts_ms")
      committed(t) = committed(t) ++ files.map(f => new java.io.File(f).getName)
      v
    }

    def read(t: String, version: Option[Int] = None): DataFrame =
      SnapshotTable.readSnapshot(spark, table(t), CdcGen.routes(t), version)

    def stop(): Unit = if (query != null) { query.stop(); query = null }
  }

  private final case class Load(ingestMs: Double, commitMs: Double, events: Int)

  private final case class Wave(wallMs: Double, lateMs: Double, traced: Boolean,
                                freshness: Seq[Double], ingest: Call[Unit],
                                commits: Seq[Call[Int]], reads: Seq[Call[Unit]],
                                progress: Seq[StreamProgress], gcMs: Double)

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def run(cfg: Config, out: Result): Unit = {
    val z = sizing(cfg.smoke)
    val base = s"${cfg.workDir}/cdc"
    // phase boundaries, for the stderr summary
    val marks = mutable.ArrayBuffer("start" -> System.nanoTime())
    def mark(phase: String): Unit = marks += phase -> System.nanoTime()

    // set-up: session, then every input of the run with its ground truth;
    // waves are released for --seconds, one per interval
    val nWaves = math.max(3, (cfg.seconds * 1000L / z.intervalMs).toInt)
    var gen: CdcGen.Generator = null
    var snap: CdcGen.Batch = null
    var waveBatches: Seq[CdcGen.Batch] = Nil
    // nine reps: the first is cold, and a warm rep takes only ~0.2 s, with
    // a jitter of tens of ms that the median of eight evens out
    val setup = Setup.run(cfg, reps = if (cfg.smoke) 1 else 9) { _ =>
      gen = new CdcGen.Generator(cfg.seed, z.accounts, z.products)
      snap = gen.snapshot()
      waveBatches = Seq.fill(nWaves)(gen.wave(z.waveEvents))
    }
    val spark = setup.spark
    mark("set-up")
    val probe = new Probe(spark, cfg.cores, cfg.traced, s"cdc_pipeline-${cfg.seed}",
      cfg.timeoutMs)
    val heap = mutable.ArrayBuffer[Double]()
    val calls = mutable.ArrayBuffer[Call[_]]()
    def track[T](c: Call[T]): Call[T] = { calls += c; c }

    // ---- phase 1: initial-snapshot loads ---------------------------------
    val loads = mutable.ArrayBuffer[Load]()
    var warmupMs = 0.0
    var pipe: Pipeline = null
    val waves = mutable.ArrayBuffer[Wave]()
    val (tt, ampAndFiles, compact, after, midVersion) = probe.span("cdc_pipeline", "workload") { _ =>
      (0 until z.loads).foreach { i =>
        if (pipe != null) pipe.stop()
        pipe = new Pipeline(spark, s"$base/pipe-$i")
        val p = pipe
        pipe.start()
        pipe.publish(snap)
        val w0 = System.nanoTime()
        probe.listening = cfg.traced
        probe.span(s"load-$i", "load") { _ =>
          val ing = track(probe.call("load-ingest", "ingest", Seq(p.runId),
            () => p.stop())(p.ingest()))
          val com = CdcGen.tableNames.map(t => track(probe.call(s"load-commit-$t", "commit")(
            p.commit(t, p.newFiles(t)))))
          probe.takeProgress()
          if (i > 0 && ing.ok && com.forall(_.ok))
            loads += Load(ing.wallMs, com.map(_.wallMs).sum, snap.events.values.sum)
        }
        if (i == 0) {
          // warm-up: the first wave through every call a timed wave makes,
          // untimed; the timed waves start over in a fresh pipeline
          waveBatches.take(1).foreach { b =>
            p.publish(b)
            p.ingest()
            CdcGen.tableNames.foreach { t => p.commit(t, p.newFiles(t)); noop(p.read(t)) }
          }
          probe.takeProgress()
          warmupMs = (System.nanoTime() - w0) / 1e6
        }
        heap += probe.heapAfterLastGcMb()
      }

      mark("loads")
      // ---- phase 2: open-loop change waves -------------------------------
      // the next wave is due one interval after the previous one was due
      val start = System.nanoTime()
      var k = 0
      while (k < nWaves) {
        val due = start + k * z.intervalMs * 1000000L
        val wait = (due - System.nanoTime()) / 1000000L
        if (wait > 0) Thread.sleep(wait)
        val traceThis = Layers.tracedUnit(cfg, k)
        probe.listening = traceThis
        val gc0 = probe.gcMs
        val p = pipe
        val w = probe.span(s"wave-$k", "wave") { _ =>
          val late = (System.nanoTime() - due) / 1e6
          val b = waveBatches(k)
          probe.span("release", "release")(_ => p.publish(b))
          val ing = probe.call("ingest", "ingest", Seq(p.runId), () => p.stop())(p.ingest())
          // commit return time per table whose commit succeeded
          val visible = mutable.HashMap[String, Long]()
          val commits = CdcGen.tableNames.map { t =>
            val c = probe.call(s"commit-$t", "commit")(p.commit(t, p.newFiles(t)))
            if (c.ok) visible(t) = System.nanoTime()
            c
          }
          val reads = CdcGen.tableNames.map(t => probe.call(s"read-$t", "read")(noop(p.read(t))))
          val done = System.nanoTime()
          Wave((done - due) / 1e6, math.max(0.0, late), traceThis,
            b.order.flatMap(t => visible.get(t).map(v => (v - due) / 1e6)),
            ing, commits, reads, probe.takeProgress(), (probe.gcMs - gc0).toDouble)
        }
        waves += w
        (Seq(w.ingest) ++ w.commits ++ w.reads).foreach(track(_))
        k += 1
        heap += probe.heapAfterLastGcMb()
      }
      probe.listening = cfg.traced

      mark("waves")
      // ---- end: time travel, compact, read after compact ----------------
      val p = pipe
      val midVersion = 1 + (waves.size + 1) / 2 // version 1 is the load
      val tt = CdcGen.tableNames.map(t => track(probe.call(s"time-travel-$t", "read")(
        noop(p.read(t, Some(midVersion))))))
      // checks that need the un-compacted table, untimed
      val ampAndFiles = CdcGen.tableNames.map { t =>
        try {
          val log = SnapshotTable.readChangelog(spark, p.table(t))
          (log.count().toDouble / math.max(1L, p.read(t).count()), log.inputFiles.length)
        } catch { case _: Exception => (0.0, 0) } // the final-snapshot check reports it
      }
      val compact = CdcGen.tableNames.map(t => track(probe.call(s"compact-$t", "compact")(
        SnapshotTable.compact(spark, p.table(t), CdcGen.routes(t)))))
      val after = CdcGen.tableNames.map(t => track(probe.call(s"read-compacted-$t", "read")(
        noop(p.read(t)))))
      probe.listening = false
      p.stop()
      (tt, ampAndFiles, compact, after, midVersion)
    }
    val p = pipe
    mark("end")
    val retainedMb = probe.heapAfterFullGcMb()
    System.err.println(s"graftbench: cdc_pipeline: loads ${loads.size}, waves ${waves.size}; " +
      f"wave wall ms ${waves.map(w => f"${w.wallMs}%.0f").mkString(" ")}; " +
      f"generator late at most ${waves.map(_.lateMs).max}%.0f ms; load ms " +
      loads.map(l => f"${l.ingestMs + l.commitMs}%.0f").mkString(" "))

    // ---- correctness, outside the timed calls --------------------------
    var checks = 0
    var mismatches = 0
    /** One check: `body` gives the mismatch, if any. A check that throws
      * (a table a timed-out call left broken) is a mismatch too. */
    def check(name: String)(body: => Option[String]): Unit = {
      checks += 1
      val problem = try body catch { case e: Exception => Some(e.toString.take(300)) }
      problem.foreach { d => mismatches += 1; out.checks(name) = d }
    }
    def sameRows(got: => Set[Seq[Any]], want: Set[Seq[Any]]): Option[String] = {
      val g = got
      if (g == want) None
      else Some(s"${(g diff want).size} unexpected, ${(want diff g).size} missing rows")
    }
    CdcGen.tableNames.foreach { t =>
      check(s"time_travel_v${midVersion}_$t")(sameRows(
        CdcGen.actualRows(p.read(t, Some(midVersion)), t),
        CdcGen.expectedRows(gen.history(midVersion - 1)(t), compacted = false)))
      check(s"final_$t")(sameRows(CdcGen.actualRows(p.read(t), t),
        CdcGen.expectedRows(gen.history.last(t), compacted = true)))
    }
    // counts reconcile across the last pipeline: emitted = parsed + dead letter
    var parsed = -1L
    var dead = -1L
    check("reconcile_emitted") {
      parsed = CdcGen.tableNames.map(t => spark.read.parquet(s"${p.sink}/$t").count()).sum
      val deadDir = new java.io.File(s"${p.sink}/_dead_letter")
      dead = if (deadDir.exists()) spark.read.parquet(deadDir.getPath).count() else 0L
      Option.when(gen.emitted != parsed + dead)(
        s"emitted ${gen.emitted} != parsed $parsed + dead letter $dead")
    }
    check("reconcile_dead_letter")(Option.when(dead != gen.deadExpected)(
      s"dead letter $dead != expected ${gen.deadExpected}"))
    check("reconcile_parsed")(Option.when(parsed != gen.routedEvents.values.sum)(
      s"parsed $parsed != routed ${gen.routedEvents.values.sum}"))
    out.checks("emitted_rows") = gen.emitted
    out.checks("versions") = waves.size + 1

    // ops: every timed call plus every correctness check
    mark("checks")
    System.err.println("graftbench: cdc_pipeline: phases s " + marks.zip(marks.tail).map {
      case ((_, a), (n, b)) => f"$n ${(b - a) / 1e9}%.1f" }.mkString(", "))
    out.attempted = calls.size + checks
    out.failed = calls.count(!_.ok) + mismatches

    // ---- metrics --------------------------------------------------------
    // freshness percentiles of each wave's events, median over waves: all
    // events of a table become visible at once, so percentiles pooled
    // over a run are order statistics of a few per-wave values
    def med(xs: Iterable[Double]) = Stats.medianOr0(xs.toSeq)
    def freshness(q: Double) =
      med(waves.filter(_.freshness.nonEmpty).map(w => Stats.quantile(w.freshness, q)))
    val ingestMs = waves.filter(_.ingest.ok).map(_.ingest.wallMs)
    val commitMs = waves.flatMap(_.commits).filter(_.ok).map(_.wallMs)
    val readMs = waves.flatMap(_.reads).filter(_.ok).map(_.wallMs)
    out.put("setup_s", setup.setupS, "s")
    out.put("pass_s", med(waves.map(_.wallMs)) / 1000, "s")
    // the read of each table, as the query workloads' figure is of each query
    out.put("op_geomean_ms", Stats.geomean(CdcGen.tableNames.map(t =>
      med(waves.flatMap(_.reads).filter(c => c.ok && c.name == s"read-$t").map(_.wallMs)))),
      "ms")
    out.put("latency_p50_ms", freshness(0.5), "ms")
    out.put("latency_p90_ms", freshness(0.9), "ms")
    out.put("throughput_per_s",
      if (loads.isEmpty) 0.0
      else loads.map(_.events).sum / (loads.map(l => l.ingestMs + l.commitMs).sum / 1000),
      "1/s")
    out.put("peak_heap_mb", retainedMb, "MB")
    // the same figures under the names the paper's CDC path uses
    out.put("load_events_per_s", out.metrics("throughput_per_s")._1, "1/s")
    out.put("freshness_p50_ms", out.metrics("latency_p50_ms")._1, "ms")
    out.put("freshness_p90_ms", out.metrics("latency_p90_ms")._1, "ms")
    out.put("read_p50_ms", med(readMs), "ms")
    out.put("table_mb", CdcGen.tableNames.map(t =>
      Files.sizeOf(new java.io.File(p.table(t)))).sum / (1024.0 * 1024.0), "MB")

    if (cfg.traced) {
      Layers.session(out, setup, warmupMs)
      val traced = waves.filter(_.traced)
      Layers.engine(out, traced.map(w => {
        val cs = Seq(w.ingest) ++ w.commits ++ w.reads
        (w.wallMs, cs.flatMap(_.engine), cs.map(_.driverMs).sum)
      }).toSeq, cfg.cores)
      out.put("jvm.gc_ms", med(waves.map(_.gcMs)), "ms")
      out.put("jvm.heap_peak_mb", heap.max, "MB")
      out.put("streaming.ingest_p50_ms", med(ingestMs), "ms")
      out.put("streaming.batches", med(traced.map(_.progress.size.toDouble)), "count")
      out.put("streaming.plan_ms", med(traced.map(_.progress.map(_.planMs).sum.toDouble)), "ms")
      out.put("streaming.add_batch_ms",
        med(traced.map(_.progress.map(_.addBatchMs).sum.toDouble)), "ms")
      out.put("streaming.wal_ms", med(traced.map(_.progress.map(_.walMs).sum.toDouble)), "ms")
      out.put("cdc.emitted_rows", gen.emitted.toDouble, "count")
      out.put("cdc.parsed_rows", parsed.toDouble, "count")
      out.put("cdc.dead_letter_rows", dead.toDouble, "count")
      out.put("sinks.commit_p50_ms", med(commitMs), "ms")
      out.put("sinks.commit_jobs",
        med(traced.flatMap(_.commits).flatMap(_.engine).map(_.jobs.toDouble)), "count")
      out.put("sinks.read_p50_ms", med(readMs), "ms")
      out.put("sinks.read_amp", ampAndFiles.map(_._1).max, "ratio")
      out.put("sinks.time_travel_ms", med(tt.filter(_.ok).map(_.wallMs)), "ms")
      out.put("sinks.files", ampAndFiles.map(_._2.toDouble).sum, "count")
      out.put("sinks.compact_ms", med(compact.filter(_.ok).map(_.wallMs)), "ms")
      out.put("sinks.read_after_compact_ms", med(after.filter(_.ok).map(_.wallMs)), "ms")
      out.put("sinks.table_mb", out.metrics("table_mb")._1, "MB")
      out.put("load.ingest_ms", med(loads.map(_.ingestMs)), "ms")
      out.put("load.commit_ms", med(loads.map(_.commitMs)), "ms")
      out.put("generator.late_ms", waves.map(_.lateMs).max, "ms")
      Layers.overhead(out, traced.map(_.wallMs).toSeq,
        waves.filterNot(_.traced).map(_.wallMs).toSeq)
      // per wave, to show how commit and read time follow the growing table
      out.layerReport = Layers.report(probe, out) ++ Map("waves" -> waves.map(w => Map(
        "wall_ms" -> w.wallMs, "ingest_ms" -> w.ingest.wallMs,
        "commit_ms" -> w.commits.map(_.wallMs).sum, "read_ms" -> w.reads.map(_.wallMs).sum)))
    }
    probe.shutdown()
  }
}
