package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.Locale
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The benchmark's JVM side. `run.py` generates the inputs, starts this
  * program inside a fresh working directory (so every persisted index
  * lands under it), and reads back the raw samples it writes; all
  * statistics are computed in Python.
  *
  * Usage: Driver <workload> <seed> <seconds> <trace 0|1> <dataDir> <outJson>
  */
object Driver {
  final case class Op(name: String, write: Boolean, ms: Double, ok: Boolean,
                      rows: Long, traced: Boolean)

  def main(argv: Array[String]): Unit = {
    val Array(workload, seed, seconds, trace, dataDir, outJson) = argv
    val t0 = System.nanoTime()
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.periodicGC.interval", "2min")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.Logs.quietNoise()
    val c = new Ctx(spark, workload, seed.toLong, seconds.toDouble, trace == "1",
      Paths.get(dataDir).toAbsolutePath, (System.nanoTime() - t0) / 1e9)
    c.context("local") = s"local[$cpus]"
    workload match {
      case "shop" => new Shop(c).run()
      case "analytics" => new Batch(c, Batch.Analytics, Batch.AnalyticsWrites, Batch.AnalyticsReadRepeat).run()
      case "ingest" => new Ingest(c).run()
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    Files.writeString(Paths.get(outJson), c.toJson, UTF_8)
    spark.stop()
  }
}

/** Shared state of one run: the session, timers, recorded operations
  * and the trace (attached only in the traced half of a traced run). */
final class Ctx(val spark: SparkSession, val workload: String, val seed: Long, val seconds: Double,
                val traced: Boolean, val data: Path, val sessionS: Double) {
  implicit val sparkImplicit: SparkSession = spark
  val work: Path = Paths.get("").toAbsolutePath
  val ops = new ConcurrentLinkedQueue[Driver.Op]()
  val trace: Option[Trace] = if (traced) Some(new Trace) else None
  @volatile var tracing = false
  val context = scala.collection.mutable.LinkedHashMap[String, Any]()
  val numbers = scala.collection.mutable.LinkedHashMap[String, Double]()
  val roundS = scala.collection.mutable.ArrayBuffer[Double]()
  var warmS = 0.0
  /** Reference results (name -> parquet dir) that run.py checks
    * against the DuckDB oracle, and the layer metrics of a traced run. */
  val refs = scala.collection.mutable.LinkedHashMap[String, String]()
  val layers = scala.collection.mutable.LinkedHashMap[String, Double]()
  val perQuery = scala.collection.mutable.LinkedHashMap[String, Map[String, Double]]()

  def now: Long = System.nanoTime()
  def secs(t0: Long): Double = (now - t0) / 1e9

  /** A fresh copy of the inputs: index paths fingerprint the absolute
    * source path, so each copy gets its own persisted indexes. */
  def freshData(tag: String): String = {
    val dst = work.resolve(tag)
    copyTree(data, dst)
    dst.toString
  }

  def copyTree(src: Path, dst: Path): Unit =
    Files.walk(src).iterator().asScala.foreach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    }

  def du(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum

  def release(): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))

  /** Builds a frame (construction) and runs it (execution) under the
    * trace's job groups; returns the result and the wall milliseconds. */
  def timed[T](name: String)(build: => DataFrame)(exec: DataFrame => T): (T, Double) = {
    val t0 = now
    val df = Tag.construct(name)(build)
    val t1 = now
    val out = Tag.exec(name)(exec(df))
    val ms = (now - t0) / 1e6
    if (tracing) trace.foreach { t =>
      val l = t.layer(name)
      l.constructNs.add(t1 - t0)
      l.ops.increment()
    }
    (out, ms)
  }

  def record(name: String, write: Boolean, ms: Double, ok: Boolean, rows: Long): Unit =
    ops.add(Driver.Op(name, write, ms, ok, rows, tracing))

  /** The timed phase. An untraced run measures once for `seconds`. A
    * traced run measures four quarters: untraced, traced, traced,
    * untraced, so that a warm-up trend weighs on both sides alike and
    * the two sides' operation rates give the tracing overhead.
    * `phase(seconds)` runs the workload's load for that long. */
  def measure(phase: Double => Unit): Unit = trace match {
    case None => timePhase(seconds, phase)
    case Some(t) =>
      val u1 = timePhase(seconds / 4, phase)
      t.attach(spark)
      tracing = true
      val t2 = timePhase(seconds / 4, phase)
      val t3 = timePhase(seconds / 4, phase)
      t.settle()
      t.detach(spark)
      tracing = false
      val u4 = timePhase(seconds / 4, phase)
      numbers("untraced_ops_per_s") = (u1 + u4) / 2
      numbers("traced_ops_per_s") = (t2 + t3) / 2
  }

  /** Runs `unit` back to back for about `s` seconds, whole units only.
    * Another unit starts only if more than half of the last one's time
    * is left, so a run makes the count whose total time comes closest to
    * `s`; starting one whenever any time is left would make the count
    * flip between runs when `s` is just over a whole number of units. */
  def wholeUnits(s: Double)(unit: => Unit): Unit = {
    val deadline = now + (s * 1e9).toLong
    var last = 0L
    while (deadline - now > last / 2) {
      val t0 = now
      unit
      last = now - t0
    }
  }

  private def timePhase(s: Double, phase: Double => Unit): Double = {
    val before = ops.size
    val t0 = now
    phase(s)
    val el = secs(t0)
    numbers("elapsed_s") = numbers.getOrElse("elapsed_s", 0.0) + el
    (ops.size - before) / el
  }

  def toJson: String = {
    val hwm = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    numbers("rss_peak_mb") = hwm
    context("spark") = spark.version
    context("jdk") = System.getProperty("java.version")
    context("heap_mb") = Runtime.getRuntime.maxMemory / (1024 * 1024)
    val opsJson = ops.asScala.map { o =>
      Json.arr(Seq(o.name, o.write, o.ms, o.ok, o.rows, o.traced))
    }.mkString("[", ",\n", "]")
    Json.obj(Seq(
      "workload" -> workload,
      "context" -> Json.raw(Json.obj(context.toSeq)),
      "session_s" -> sessionS,
      "round_s" -> Json.raw(Json.arr(roundS.toSeq)),
      "warm_s" -> warmS,
      "numbers" -> Json.raw(Json.obj(numbers.toSeq)),
      "refs" -> Json.raw(Json.obj(refs.toSeq)),
      "oracle" -> Json.raw(Json.obj(refs.keys.toSeq.map(n => n -> graft.SparkEntry.oracleSql(n)))),
      "layers" -> Json.raw(Json.obj(layers.toSeq)),
      "per_query" -> Json.raw(Json.obj(perQuery.toSeq.map { case (k, v) =>
        k -> Json.raw(Json.obj(v.toSeq)) })),
      "ops" -> Json.raw(opsJson)))
  }
}

/** Canonical answer digests: every cell rendered as the DuckDB oracle
  * check renders it (NULL, floats to 6 places with -0 as 0, booleans
  * as 0/1), nested values recursively. `ordered` hashes the rows in
  * result order; `multiset` ignores order, for answers read back from
  * files. */
object Digest {
  def cell(v: Any): String = v match {
    case null => "NULL"
    case d: Double => fmt(d)
    case f: Float => fmt(f.toDouble)
    case b: Boolean => if (b) "1" else "0"
    case r: Row => r.toSeq.map(cell).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => cell(k) + ":" + cell(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case a: Array[Byte] => a.map("%02x".format(_)).mkString
    case x => x.toString
  }
  private def fmt(d: Double): String =
    String.format(Locale.ROOT, "%.6f", Double.box(if (d == 0) 0.0 else d))

  def row(r: Row): String = r.toSeq.map(cell).mkString("\u001f")

  private def sha(lines: Iterator[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes(UTF_8)); md.update(0x1e.toByte) }
    md.digest().map("%02x".format(_)).mkString
  }
  def ordered(rows: Array[Row]): String = sha(rows.iterator.map(row))
  def multiset(rows: Array[Row]): String = sha(rows.map(row).sorted.iterator)
}

/** Minimal JSON rendering for the raw-sample file. */
object Json {
  final case class Raw(s: String)
  def raw(s: String): Raw = Raw(s)
  def value(v: Any): String = v match {
    case Raw(s) => s
    case null => "null"
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case s: String => str(s)
    case x => str(x.toString)
  }
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
  def arr(vs: Seq[Any]): String = vs.map(value).mkString("[", ",", "]")
}
