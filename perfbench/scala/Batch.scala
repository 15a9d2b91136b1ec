package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** The `analytics` workload: one client runs registered queries back
  * to back over the generated tables, in a seeded order that is
  * reshuffled every pass. A query in `writes` publishes its
  * result as a table (Hive's INSERT OVERWRITE), every other query
  * returns its rows to the client, `readRepeat` times a pass.
  */
object Batch {
  /** Relational queries over the star schema (scan, filter, multi-way
    * joins, aggregation, semi- and disjunctive joins) and one iterative
    * graph query, whose per-round checkpoints make it construction-bound. */
  val Analytics: Seq[String] = Seq(
    "q1_pricing_summary", "q6_forecast_rev", "q9_product_profit",
    "q18_big_orders", "q19_disjunction", "gr5_personalized_pr")
  /** Report tables a batch job publishes; the two small answers return
    * to the client. */
  val AnalyticsWrites: Set[String] = Set(
    "q1_pricing_summary", "q9_product_profit", "q18_big_orders", "gr5_personalized_pr")
  /** The reads cost a tenth of a pass or less each, so a pass runs each
    * of them several times: with one sample per pass a run's read median
    * rests on two or three samples of each kind. */
  val AnalyticsReadRepeat = 4
}

final class Batch(c: Ctx, names: Seq[String], writes: Set[String], readRepeat: Int) {
  import c.sparkImplicit
  private val spark = c.spark
  private val rng = new scala.util.Random(c.seed)
  private val wh = c.work.resolve("warehouse")
  private val refOrdered = scala.collection.mutable.Map[String, String]()
  private val refMultiset = scala.collection.mutable.Map[String, String]()

  private def query(name: String, d: String) =
    graft.SparkEntry.queries(name)(spark, d)

  /** One query as a read: construct, collect. Returns rows, schema, ms. */
  private def read(name: String, d: String): (Array[Row], StructType, Double) = {
    val ((rows, schema), ms) = c.timed(name)(query(name, d))(df => (df.collect(), df.schema))
    c.release()
    (rows, schema, ms)
  }

  /** One timed operation with its answer checked against the reference. */
  private def op(name: String, d: String): Unit = {
    val write = writes.contains(name)
    try {
      if (write) {
        val dst = wh.resolve(name).toString
        val (_, ms) = c.timed(name)(query(name, d))(
          _.write.mode("overwrite").parquet(dst))
        c.release()
        val back = spark.read.parquet(dst).collect()
        c.record(name, write = true, ms, Digest.multiset(back) == refMultiset(name), back.length)
      } else {
        val (rows, _, ms) = read(name, d)
        c.record(name, write = false, ms, Digest.ordered(rows) == refOrdered(name), rows.length)
      }
    } catch {
      case e: Exception =>
        System.err.println(s"[perfbench] $name failed: $e")
        c.record(name, write, 0.0, ok = false, 0L)
    }
  }

  private val passOps: Seq[String] =
    names.flatMap(n => if (writes.contains(n)) Seq(n) else Seq.fill(readRepeat)(n))

  /** One pass over every query, in a fresh seeded order. */
  private def pass(d: String): Unit = rng.shuffle(passOps).foreach(op(_, d))

  /** One set-up: a fresh copy of the inputs and the first (cold)
    * execution of every query on it, which also builds the persisted
    * indexes the queries probe. Its answers are the reference. A
    * set-up costs a whole cold pass, so a run makes only one; one more
    * untimed pass then takes the steepest part of the JIT warm-up out
    * of the timed passes. */
  def run(): Unit = {
    val d = c.freshData("in")
    val t0 = c.now
    val answers = names.map(n => n -> read(n, d))
    c.roundS += c.secs(t0)
    answers.foreach { case (n, (rows, schema, _)) =>
      refOrdered(n) = Digest.ordered(rows)
      refMultiset(n) = Digest.multiset(rows)
      // the reference answer run.py checks against the DuckDB oracle
      val dst = c.work.resolve("refs").resolve(n).toString
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1).write.parquet(dst)
      c.refs(n) = dst
    }
    val ledger = graft.sources.BuildLedger.log
    val tw = c.now
    pass(d)
    c.ops.clear()
    c.warmS = c.secs(tw)
    // whole passes only, so every run measures the same query mix
    c.measure(s => c.wholeUnits(s)(pass(d)))
    c.trace.foreach { t =>
      c.layers ++= t.totals()
      c.layers ++= t.streamTotals
      names.foreach(n => c.perQuery(n) = t.totals(Some(Set(n))))
    }
    Sources.report(c, ledger)
    c.numbers("state_bytes") = (c.du(wh) + c.du(c.work.resolve("target"))).toDouble
  }
}

/** The `sources` layer: persisted-index builds from the engine's
  * BuildLedger (during set-up, and any during the timed phase, which
  * should be none) and the bytes of the index directories. */
object Sources {
  def report(c: Ctx, afterSetup: Map[String, Double]): Unit = {
    val end = graft.sources.BuildLedger.log
    c.layers("sources.builds") = afterSetup.size.toDouble
    c.layers("sources.build_s") = afterSetup.values.sum
    c.layers("sources.timed_builds") =
      end.count { case (k, v) => !afterSetup.get(k).contains(v) }.toDouble
    c.layers("sources.index_bytes") = c.du(c.work.resolve("target")).toDouble
  }
}
