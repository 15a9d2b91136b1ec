package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col

import graft.streaming.Streams

/** The `ingest` workload: the documents arrive as seeded shuffled waves
  * plus a late redelivery of part of the first wave, through two
  * stream maintainers in turn. `substringIndexMaintainStream` takes
  * every document, so its delta ledger grows from empty;
  * `lshIndexMaintainStream` takes the documents above the 4/5 boundary
  * and probes the persisted base index below it. Each micro-batch is a
  * write; after each one the client makes one serving read of the
  * state. An episode is one pass of both streams over fresh state; its
  * final state is checked against the reference answer, and a wrong
  * final state fails every operation of the episode.
  */
object Ingest {
  /** Waves of fresh documents per maintainer; each is followed by a
    * late redelivery of part of the first wave. */
  val SubstringWaves = 2
  val LshWaves = 1
  val Redelivered = 0.2
}

final class Ingest(c: Ctx) {
  import c.sparkImplicit
  private val spark = c.spark
  private val rng = new scala.util.Random(c.seed)
  private var ssRef, lshRef = ""
  private var admitted = 0L
  private var admitMs = 0.0

  private def wavesOf(docs: Seq[(Long, String)], n: Int): Seq[Seq[(Long, String)]] = {
    val shuffled = rng.shuffle(docs)
    val waves = shuffled.grouped(math.max(1, (shuffled.length + n - 1) / n)).toSeq
    waves :+ waves.head.take((waves.head.length * Ingest.Redelivered).toInt.max(1))
  }

  /** dd17's boundary: documents below it form the persisted base. */
  private def baseBoundary(d: String): Long =
    graft.Tables.documents(spark, d).agg(org.apache.spark.sql.functions.max("doc_id"))
      .head.getLong(0) * 4 / 5 + 1

  private def pairs(dir: String): DataFrame =
    if (new java.io.File(dir).exists()) spark.read.parquet(dir).dropDuplicates("doc_a", "doc_b")
    else spark.emptyDataFrame

  /** Streams `waves` through one maintainer; returns the final serving
    * read's rows and the episode's operations (not yet recorded). */
  private def stream(name: String, waves: Seq[Seq[(Long, String)]],
                     start: DataFrame => org.apache.spark.sql.streaming.StreamingQuery,
                     serve: () => DataFrame): (Array[Row], Seq[Driver.Op]) = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val q = start(mem.toDF().select(col("_1").as("doc_id"), col("_2").as("text")))
    val ops = scala.collection.mutable.ArrayBuffer[Driver.Op]()
    val seen = scala.collection.mutable.HashSet[Long]()
    var last = Array.empty[Row]
    try waves.foreach { w =>
      val fresh = w.count(d => seen.add(d._1))
      val (_, wms) = c.timed(s"$name.batch")(mem.toDF()) { _ =>
        mem.addData(w: _*)
        q.processAllAvailable()
      }
      ops += Driver.Op(s"$name.batch", write = true, wms, ok = true, fresh, c.tracing)
      admitted += fresh
      admitMs += wms
      val (rows, rms) = c.timed(s"$name.read")(serve())(_.collect())
      last = rows
      ops += Driver.Op(s"$name.read", write = false, rms, ok = true, rows.length, c.tracing)
    } finally {
      q.stop()
      // the maintainers keep checkpointed state while they run
      c.release()
    }
    (last, ops.toSeq)
  }

  /** One episode over fresh state; returns its final substring runs,
    * its final dd17 pairs and its operations. */
  private def episode(tag: String, d: String, docs: Seq[(Long, String)],
                      boundary: Long): (Array[Row], Array[Row], Seq[Driver.Op]) = {
    val root = c.work.resolve("stream").resolve(tag)
    val ss = root.resolve("substring").toString
    val lsh = root.resolve("lsh").toString
    val (runs, ops1) = stream("substring", wavesOf(docs, Ingest.SubstringWaves),
      df => Streams.substringIndexMaintainStream(df, ss, s"$ss/ck"),
      () => Streams.readSubstringRuns(spark, ss))
    val (prs, ops2) = stream("lsh", wavesOf(docs.filter(_._1 >= boundary), Ingest.LshWaves),
      df => Streams.lshIndexMaintainStream(df, d, boundary, lsh, s"$lsh/ck"),
      () => pairs(s"$lsh/out"))
    (runs, prs, ops1 ++ ops2)
  }

  def run(): Unit = {
    import spark.implicits._
    // set-up: fresh inputs and the persisted base index the LSH
    // maintainer probes (cold, so made once per run)
    val d = c.freshData("in")
    val t0 = c.now
    graft.sources.TextIndex.bandIndexBase(spark, d, baseBoundary(d)).count()
    graft.sources.TextIndex.gramIndex(spark, d, 3, portable = true).count()
    c.roundS += c.secs(t0)
    val docs = graft.Tables.documents(spark, d).select("doc_id", "text")
      .as[(Long, String)].collect().toSeq.sortBy(_._1)
    val boundary = baseBoundary(d)
    val ledger = graft.sources.BuildLedger.log
    // no warm-up episode: a maintainer's first micro-batches, which a
    // restarted ingest pays, are part of what is measured
    var n = 0
    c.measure { s =>
      c.wholeUnits(s) {
        n += 1
        val (runs, prs, ops) = episode(s"e$n", d, docs, boundary)
        if (n == 1) {
          ssRef = Digest.multiset(runs)
          lshRef = Digest.multiset(prs)
          // final state run.py checks against the dd26 and dd17 oracles
          val root = c.work.resolve("stream/e1")
          Seq("dd26_exact_substring" -> Streams.readSubstringRuns(spark, s"$root/substring"),
            "dd17_incremental_index" -> pairs(s"$root/lsh/out")).foreach { case (q, df) =>
            val dst = c.work.resolve("refs").resolve(q).toString
            df.coalesce(1).write.parquet(dst)
            c.refs(q) = dst
          }
        }
        val ok = Digest.multiset(runs) == ssRef && Digest.multiset(prs) == lshRef
        ops.foreach(o => c.ops.add(o.copy(ok = ok)))
      }
    }
    c.trace.foreach { t =>
      c.layers ++= t.totals()
      c.layers ++= t.streamTotals
    }
    Sources.report(c, ledger)
    val last = c.work.resolve("stream").resolve(s"e$n")
    c.layers("streaming.delta_dirs") = java.nio.file.Files.walk(last).iterator().asScala
      .count(f => java.nio.file.Files.isDirectory(f) && f.getFileName.toString.matches("b\\d+"))
      .toDouble
    c.layers("streaming.state_bytes") = c.du(last).toDouble
    c.numbers("episodes") = n
    c.numbers("admitted_rows") = admitted
    c.numbers("admit_s") = admitMs / 1e3
    c.numbers("state_bytes") = (c.du(last) + c.du(c.work.resolve("target"))).toDouble
  }
}
