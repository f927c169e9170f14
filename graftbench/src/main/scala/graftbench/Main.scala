package graftbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Command-line settings of one benchmark run. */
final case class Config(workload: String, seed: Long, seconds: Int, traced: Boolean,
                        workDir: String, outFile: String, cores: Int, smoke: Boolean,
                        timeoutMs: Long, dataDir: Option[String])

/** Everything one run reports back to `run.py`: metrics by name (with
  * unit), the op counts, in-process check results and, for the query
  * workloads, the results left for the DuckDB oracle check. */
final class Result {
  val metrics = mutable.LinkedHashMap[String, (Double, String)]()
  val checks = mutable.LinkedHashMap[String, Any]()
  var attempted = 0
  var failed = 0
  var oracle: Map[String, String] = Map.empty
  var oracleOps: Map[String, Int] = Map.empty // query -> timed executions
  var dataDir = ""
  var layerReport: Map[String, Any] = Map.empty

  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  def json: String = Json.render(Map(
    "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
    "checks" -> checks, "attempted" -> attempted, "failed" -> failed,
    "oracle" -> oracle, "oracle_ops" -> oracleOps, "data_dir" -> dataDir))
}

/** Set-up: build the session through `GraftSession` and make the inputs,
  * repeated `reps` times so its time is a median. The last session stays
  * open for the measured phase. Warm-up is each workload's own. */
object Setup {
  final case class Done(spark: SparkSession, setupS: Double, buildMs: Double)

  def session(cfg: Config): SparkSession = {
    val s = graft.GraftSession.builder(cfg.cores)
      .config("spark.local.dir", s"${cfg.workDir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${cfg.workDir}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def run(cfg: Config, reps: Int)(prepare: SparkSession => Unit): Done = {
    val totals = mutable.ArrayBuffer[Double]()
    val builds = mutable.ArrayBuffer[Double]()
    var spark: SparkSession = null
    (0 until reps).foreach { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(cfg)
      val t1 = System.nanoTime()
      prepare(spark)
      totals += (System.nanoTime() - t0) / 1e9
      builds += (t1 - t0) / 1e6
    }
    System.err.println(f"graftbench: set-up reps ${totals.map(t => f"$t%.2f").mkString(", ")} s")
    Done(spark, Stats.median(totals.toSeq), Stats.median(builds.toSeq))
  }
}

object Main {
  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val cfg = Config(need("workload"), need("seed").toLong, need("seconds").toInt,
      kv.getOrElse("trace", "0") == "1", need("work"), need("out"), cores,
      kv.getOrElse("smoke", "0") == "1", kv.getOrElse("timeout-ms", "60000").toLong,
      kv.get("data"))
    val result = new Result
    cfg.workload match {
      case "cdc_pipeline" => CdcWorkload.run(cfg, result)
      case "selftest" => CdcGen.selfTest(cfg, result)
      case w if QueryWorkload.workloads.contains(w) => QueryWorkload.run(cfg, result)
      case w => sys.error(s"unknown workload $w")
    }
    if (cfg.traced && cfg.workload != "selftest") {
      Layers.fill(result)
      Files.write(cfg.outFile.stripSuffix(".json") + "-layers.json",
        Json.render(result.layerReport ++ Map("metrics" -> result.metrics.map {
          case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) })))
    }
    Files.write(cfg.outFile, result.json)
    SparkSession.getActiveSession.foreach(_.stop())
  }
}
