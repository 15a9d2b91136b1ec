package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.atomic.AtomicLong

import graft.movieshop.MovieShop
import graft.sources.TsvSnapshots
import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.execution.LogicalRDD

/** The TSV snapshots behind `Tables.tsv`. What a read costs is counted,
  * never timed: jobs with a SparkListener, and every byte read from the
  * local file system (by tasks or by the driver) with Hadoop's file
  * system statistics. What the snapshot did is read back from
  * [[TsvSnapshots.stats]]. Tables here are Hive-style directories of
  * two-row part files in the orders schema. */
class TsvSnapshotSpec extends SparkTestBase {

  final case class Work(jobs: Long, fileBytes: Long)

  def fileBytesRead: Long = {
    import scala.jdk.CollectionConverters._
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesRead).sum
  }

  /** Runs `body`, returning its result and the work done for it. */
  def traced[T](body: => T): (T, Work) = {
    val jobs = new AtomicLong()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    val sc = spark.sparkContext
    ListenerDrain(sc)
    sc.addSparkListener(l)
    try {
      val bytes0 = fileBytesRead
      val out = body
      ListenerDrain(sc)
      (out, Work(jobs.get, fileBytesRead - bytes0))
    } finally sc.removeSparkListener(l)
  }

  def newTable(files: Int): Path = {
    val dir = Files.createTempDirectory("tsvsnap").resolve("orders")
    Files.createDirectories(dir)
    (0 until files).foreach(put(dir, _))
    dir
  }

  /** Part file `i` holds orders 2i and 2i+1; it is written under a
    * hidden name and renamed into place, as a commit protocol does. */
  def put(dir: Path, i: Int, tag: String = "x"): Path = {
    val rows = Seq(2 * i, 2 * i + 1).map(id =>
      s"$id\t7\tmovie $tag\t1\t2.5\t2016-08-0${1 + i % 9} 10:00:00\n").mkString
    val tmp = dir.resolve(f".part-$i%05d.tmp")
    Files.writeString(tmp, rows, UTF_8)
    Files.move(tmp, dir.resolve(f"part-$i%05d"), StandardCopyOption.ATOMIC_MOVE)
  }

  def read(dir: Path): DataFrame = Tables.tsv(spark, dir.toString, MovieShop.orderSchema)
  def ids(dir: Path): Seq[Int] = read(dir).select("order_id").collect().map(_.getInt(0)).toSeq.sorted
  def stats(dir: Path): TsvSnapshots.Stats = TsvSnapshots.stats(spark)(s"file:$dir")

  test("a repeat read is served from the snapshot: no file scanned, nothing rebuilt") {
    val dir = newTable(3)
    val (first, build) = traced(ids(dir))
    assert(first == (0 until 6))
    // the build reads each file once, on the driver: no job beyond the read's own
    assert(build.jobs == 1 && build.fileBytes == (0 until 3).map(i =>
      Files.size(dir.resolve(f"part-$i%05d"))).sum, build)
    assert(stats(dir) == TsvSnapshots.Stats(hits = 0, fullBuilds = 1, appendExtensions = 0,
      filesParsed = 3, rowsHeld = 6, bytesHeld = stats(dir).bytesHeld))
    val (again, work) = traced(ids(dir))
    assert(again == (0 until 6))
    assert(work == Work(jobs = 1, fileBytes = 0), work)
    assert(stats(dir).hits == 1 && stats(dir).fullBuilds == 1 && stats(dir).filesParsed == 3)
  }

  test("an appended part file is visible on the next read, and only it is parsed") {
    val dir = newTable(2)
    assert(ids(dir) == (0 until 4))
    val added = put(dir, 2)
    // a commit marker and a write still in flight are hidden, as Spark's
    // own file index hides them
    Files.writeString(dir.resolve("_SUCCESS"), "")
    Files.writeString(dir.resolve(".part-00003.tmp"), "99\t7\tin flight\t1\t2.5\t2016-08-01 10:00:00\n")
    val (seen, work) = traced(ids(dir))
    assert(seen == (0 until 6))
    // the extension reads the new file's bytes, nothing else, and runs
    // no job beyond the read's own
    assert(work.jobs == 1 && work.fileBytes == Files.size(added), work)
    val s = stats(dir)
    assert(s.appendExtensions == 1 && s.fullBuilds == 1 && s.filesParsed == 3 && s.rowsHeld == 6, s)
    // the frame stays one partition over the grown snapshot
    assert(read(dir).rdd.getNumPartitions == 1)
  }

  test("a rewritten, re-stamped or deleted file forces a full rebuild with correct rows") {
    val dir = newTable(3)
    assert(ids(dir) == (0 until 6))
    Files.writeString(dir.resolve("part-00001"), "2\t7\trewritten\t1\t2.5\t2016-08-02 10:00:00\n", UTF_8)
    assert(ids(dir) == Seq(0, 1, 2, 4, 5))
    assert(read(dir).filter("order_id = 2").collect()(0).getString(2) == "rewritten")
    assert(stats(dir).fullBuilds == 2 && stats(dir).appendExtensions == 0)
    // same length and bytes, new mtime: the listing changed, so rebuild
    val p = dir.resolve("part-00000")
    Files.setLastModifiedTime(p, java.nio.file.attribute.FileTime.fromMillis(
      Files.getLastModifiedTime(p).toMillis - 60000))
    assert(ids(dir) == Seq(0, 1, 2, 4, 5))
    assert(stats(dir).fullBuilds == 3)
    Files.delete(dir.resolve("part-00002"))
    assert(ids(dir) == Seq(0, 1, 2))
    assert(stats(dir).fullBuilds == 4 && stats(dir).rowsHeld == 3)
  }

  test("a read racing appends sees the rows of one listing, never part of one") {
    val dir = newTable(1)
    val files = 24
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Int]]()
    val shrank = new java.util.concurrent.atomic.AtomicBoolean(false)
    val writer = new Thread(() => (1 until files).foreach { i => put(dir, i); Thread.sleep(15) })
    val readers = (0 until 3).map(_ => new Thread(() => {
      var last = 0
      while (writer.isAlive || last < 2 * files) {
        val got = ids(dir)
        seen.add(got)
        // a later read never sees fewer files than an earlier one
        if (got.size < last) shrank.set(true)
        last = got.size
      }
    }))
    writer.start(); readers.foreach(_.start())
    writer.join(); readers.foreach(_.join())
    import scala.jdk.CollectionConverters._
    val all = seen.asScala.toSeq
    assert(all.size >= 3 && !shrank.get)
    // whole files only: every read is orders 0 until 2k for some k
    all.foreach(got => assert(got.size % 2 == 0 && got == (0 until got.size), got))
    assert(all.map(_.size).max == 2 * files && all.map(_.size).distinct.size > 1)
    assert(stats(dir).appendExtensions >= 1 && stats(dir).fullBuilds == 1)
  }

  test("insertOrder on a hit is one job with no Exchange in its executed plan") {
    val shop = MovieShopSpec.tableCopy()
    assert(MovieShop.orders(spark, shop).count() == 20) // builds the snapshot
    val (row, work) = traced {
      val df = MovieShop.insertOrder(spark, shop, 1299731, "野狼 Hombre", 2, 70.8)
      val r = df.collect()(0)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), plan)
      r
    }
    assert(row.getInt(0) == 21)
    assert(work == Work(jobs = 1, fileBytes = 0), work)
  }

  test("unpersisting every RDD and reading again gives the same rows") {
    val dir = newTable(4)
    assert(ids(dir) == (0 until 8))
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    assert(ids(dir) == (0 until 8))
    put(dir, 4)
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    assert(ids(dir) == (0 until 10))
    assert(stats(dir).fullBuilds == 1)
  }

  test("plan and lineage size do not grow with the number of appends") {
    val dir = newTable(1)
    def size(df: DataFrame): (Int, Int) = {
      val rdd = df.queryExecution.analyzed.collectFirst { case r: LogicalRDD => r.rdd }.get
      (df.queryExecution.analyzed.treeString.linesIterator.size,
        rdd.toDebugString.linesIterator.size)
    }
    assert(ids(dir) == Seq(0, 1))
    put(dir, 1)
    val afterOne = size(read(dir))
    (2 until 12).foreach { i => put(dir, i); read(dir) }
    assert(ids(dir) == (0 until 24))
    assert(size(read(dir)) == afterOne)
    assert(stats(dir).appendExtensions == 11 && stats(dir).fullBuilds == 1)
  }

  test("a superseded snapshot is not retained") {
    val dir = newTable(2)
    var first = read(dir)
    val ref = new java.lang.ref.WeakReference(first)
    assert(first.count() == 4)
    put(dir, 2)
    assert(read(dir).count() == 6)
    first = null
    val released = (1 to 20).exists { _ =>
      System.gc()
      Thread.sleep(50)
      ref.get == null
    }
    assert(released)
  }

  test("a missing path raises Spark's own error") {
    val missing = Files.createTempDirectory("tsvsnap").resolve("absent").toString
    val e = intercept[AnalysisException](Tables.tsv(spark, missing, MovieShop.orderSchema))
    assert(e.getMessage.contains("PATH_NOT_FOUND"), e.getMessage)
  }
}
