package graftbench

import java.util.SplittableRandom
import scala.collection.immutable.HashMap
import scala.collection.mutable
import org.apache.spark.sql.types._
import graft.cdc.Cdc

/** Seeded Debezium envelope generator for `commerce.account` and
  * `commerce.product`, with its ground-truth model.
  *
  * Keys are Zipf-skewed. A key that is live gets `u` (80%), `d` (15%) or
  * a re-snapshot `r` (5%); a key that is not live gets `c`. `ts_ms`
  * carries a global sequence number, so every change has a unique,
  * increasing order and latest-wins is deterministic. A small share of
  * lines are truncated JSON or name a table no route exists for; those
  * must land in the dead-letter sink.
  *
  * The model applies each batch as the pipeline should (latest wins per
  * key, terminal deletes drop the key, `n_changes` counts every change
  * of the key) and keeps the state after every batch, so any committed
  * version can be checked.
  */
object CdcGen {
  val accountSchema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("owner", StringType),
    StructField("balance", DoubleType)))
  val productSchema: StructType = StructType(Seq(
    StructField("sku", StringType), StructField("price", DoubleType)))
  val schemas: Map[String, StructType] =
    Map("account" -> accountSchema, "product" -> productSchema)
  val routes: Map[String, Cdc.TableRoute] = Map(
    "account" -> Cdc.TableRoute(Seq("id"), "ts_ms"),
    "product" -> Cdc.TableRoute(Seq("sku"), "ts_ms"))
  val tableNames: Seq[String] = Seq("account", "product")

  /** Latest change of one key: its row values (as the materialized
    * snapshot shows them), op, ts_ms and number of changes so far. */
  final case class KeyState(values: Seq[Any], op: String, ts: Long, nChanges: Long)

  type TableState = HashMap[Any, KeyState]

  /** One generated batch: JSON lines per topic, the table of each valid
    * event in creation order, and the dead letters it holds. */
  final case class Batch(linesByTopic: Map[String, Seq[String]], order: Seq[String],
                         deadLetters: Int) {
    def events: Map[String, Int] = order.groupBy(identity).map { case (t, xs) => t -> xs.size }
  }

  /** Zipf exponent of the key draw. */
  private val ZipfS = 1.1

  final class Generator(seed: Long, val nAccounts: Int, val nProducts: Int,
                        malformedShare: Double = 0.01,
                        unroutedShare: Double = 0.005) {
    private val rng = new SplittableRandom(seed)
    private var seq = 0L
    private val cdf: Map[String, Array[Double]] = Map(
      "account" -> zipfCdf(nAccounts), "product" -> zipfCdf(nProducts))
    private val state = mutable.HashMap[String, TableState](
      "account" -> HashMap.empty, "product" -> HashMap.empty)
    /** State of both tables after each batch: index 0 = after batch 1. */
    val history = mutable.ArrayBuffer[Map[String, TableState]]()
    var emitted = 0L
    var deadExpected = 0L
    val routedEvents = mutable.HashMap[String, Long]("account" -> 0L, "product" -> 0L)

    private def zipfCdf(n: Int): Array[Double] = {
      val w = Array.tabulate(n)(k => 1.0 / math.pow(k + 1, ZipfS))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x; acc / total }
    }

    private def drawKey(table: String): Int = {
      val c = cdf(table)
      val u = rng.nextDouble()
      val i = java.util.Arrays.binarySearch(c, u)
      math.min(if (i >= 0) i else -i - 1, c.length - 1)
    }

    private def keyOf(table: String, k: Int): Any =
      if (table == "account") k.toLong else f"SKU-$k%06d"

    private def money(lo: Double, hi: Double): Double =
      BigDecimal(lo + rng.nextDouble() * (hi - lo)).setScale(2, BigDecimal.RoundingMode.HALF_UP)
        .toDouble

    private def newValues(table: String, key: Any): Seq[Any] =
      if (table == "account") Seq(key, s"owner-${rng.nextInt(1000)}", money(-500, 10000))
      else Seq(key, money(1, 500))

    private def rowJson(table: String, v: Seq[Any]): String =
      if (table == "account")
        s"""{"id":${v(0)},"owner":"${v(1)}","balance":${v(2)}}"""
      else s"""{"sku":"${v(0)}","price":${v(1)}}"""

    private def envelope(table: String, op: String, before: String, after: String,
                         ts: Long): String =
      s"""{"payload":{"before":$before,"after":$after,"op":"$op","ts_ms":$ts,""" +
        s""""source":{"db":"postgres","schema":"commerce","table":"$table"}}}"""

    /** One change of `key`; updates the model. */
    private def change(table: String, key: Any, forceOp: Option[String]): String = {
      seq += 1
      val prev = state(table).get(key)
      val live = prev.exists(_.op != "d")
      val op = forceOp.getOrElse {
        if (!live) "c"
        else { val r = rng.nextDouble(); if (r < 0.80) "u" else if (r < 0.95) "d" else "r" }
      }
      val (values, before, after) = op match {
        case "d" =>
          val v = prev.get.values
          (v, rowJson(table, v), "null")
        case "u" =>
          val v = newValues(table, key)
          (v, rowJson(table, prev.get.values), rowJson(table, v))
        case _ =>
          val v = newValues(table, key)
          (v, "null", rowJson(table, v))
      }
      state(table) = state(table).updated(key,
        KeyState(values, op, seq, prev.map(_.nChanges).getOrElse(0L) + 1))
      routedEvents(table) += 1
      envelope(table, op, before, after, seq)
    }

    private def junk(): String = {
      deadExpected += 1
      seq += 1
      if (rng.nextDouble() < malformedShare / (malformedShare + unroutedShare))
        envelope("account", "u", "null", s"""{"id":${rng.nextInt(nAccounts)}""", seq)
          .take(40 + rng.nextInt(30))
      else envelope("ledger", "c", "null", s"""{"entry":${rng.nextInt(1000)}}""", seq)
    }

    /** Mix junk lines into the valid ones, then split by topic. */
    private def finish(valid: Seq[(String, String)]): Batch = {
      val junkShare = malformedShare + unroutedShare
      val out = mutable.ArrayBuffer[(String, String)]()
      var dead = 0
      valid.foreach { l =>
        out += l
        if (rng.nextDouble() < junkShare) {
          out += ((if (rng.nextBoolean()) "account" else "product", junk()))
          dead += 1
        }
      }
      history += state.toMap
      emitted += out.size
      Batch(out.groupBy(_._1).map { case (t, xs) => s"cdc.commerce.$t" -> xs.map(_._2).toSeq },
        valid.map(_._1), dead)
    }

    /** The initial snapshot: every key once, op `r`. */
    def snapshot(): Batch = finish(
      (0 until nAccounts).map(k => "account" -> change("account", keyOf("account", k),
        Some("r"))) ++
        (0 until nProducts).map(k => "product" -> change("product", keyOf("product", k),
          Some("r"))))

    /** A change wave of `n` events, 60% account and 40% product. */
    def wave(n: Int): Batch = {
      val nA = math.max(1, math.round(n * 0.6).toInt)
      val nP = math.max(1, n - nA)
      val picks = new scala.util.Random(rng.nextLong())
        .shuffle(Seq.fill(nA)("account") ++ Seq.fill(nP)("product"))
      finish(picks.map(t => t -> change(t, keyOf(t, drawKey(t)), None)))
    }
  }

  /** Rows a materialized snapshot must hold, as comparable tuples:
    * row values, then op, ts_ms and n_changes. `compacted` models a
    * table read after `SnapshotTable.compact` (ops re-tagged `u`, one
    * change per key). */
  def expectedRows(s: TableState, compacted: Boolean): Set[Seq[Any]] =
    s.values.filter(_.op != "d").map { k =>
      if (compacted) k.values ++ Seq("u", k.ts, 1L) else k.values ++ Seq(k.op, k.ts, k.nChanges)
    }.toSet

  def actualRows(df: org.apache.spark.sql.DataFrame, table: String): Set[Seq[Any]] = {
    val cols = schemas(table).fieldNames.toSeq ++ Seq("op", "ts_ms", "n_changes")
    df.select(cols.map(org.apache.spark.sql.functions.col): _*).collect()
      .map(_.toSeq).toSet
  }

  /** Generator self-test at a tiny size: replay every batch through the
    * batch parser and materializer and compare with the model, version by
    * version, and check the dead-letter count. */
  def selfTest(cfg: Config, out: Result): Unit = {
    val spark = Setup.session(cfg)
    import spark.implicits._
    val g = new Generator(cfg.seed, nAccounts = 40, nProducts = 15,
      malformedShare = 0.05, unroutedShare = 0.05)
    val batches = g.snapshot() +: (1 to 4).map(_ => g.wave(60))
    var failures = 0
    var lines = Seq.empty[String]
    batches.zipWithIndex.foreach { case (b, i) =>
      lines = lines ++ b.linesByTopic.values.flatten
      val (tables, dead) = Cdc.parseTablesWithDeadLetter(lines.toDF("raw"), schemas)
      tableNames.foreach { t =>
        val got = actualRows(Cdc.materialize(tables(t), routes(t)), t)
        val want = expectedRows(g.history(i)(t), compacted = false)
        if (got != want) {
          failures += 1
          out.checks(s"version_${i + 1}_$t") =
            s"rows differ: ${(got diff want).take(3)} vs ${(want diff got).take(3)}"
        }
      }
      val deadWant = batches.take(i + 1).map(_.deadLetters).sum
      if (dead.count() != deadWant) {
        failures += 1
        out.checks(s"dead_letters_${i + 1}") = s"${dead.count()} != $deadWant"
      }
    }
    out.checks("emitted") = g.emitted
    out.checks("dead_expected") = g.deadExpected
    out.attempted = batches.size * (tableNames.size + 1)
    out.failed = failures
    out.put("selftest_batches", batches.size.toDouble, "count")
  }
}
