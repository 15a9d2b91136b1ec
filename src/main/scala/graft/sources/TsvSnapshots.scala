package graft.sources

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.physical.{SinglePartition, UnknownPartitioning}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.Platform

/** In-memory snapshots of path-addressed TSV tables, keyed by their
  * visible file listing — the Impala `REFRESH` analogue for the movie
  * shop's Hive tables, where every write is an `INSERT` that adds one
  * file and every read is a tiny endpoint query.
  *
  * Each [[read]] lists the table (path, length and mtime of every file,
  * hiding `_`/`.` names the way Spark's own file index does) and:
  *  - serves the held snapshot when the listing is unchanged (a hit:
  *    no file is opened, no row is parsed);
  *  - extends it when the listing is a pure append (every held file
  *    still present and unchanged): only the new files are parsed;
  *  - rebuilds it from every file on any other change.
  * The listing is taken on every read, so a read never serves rows of
  * a listing other than the one it just took.
  *
  * A snapshot is the parsed rows as length-prefixed `UnsafeRow` bytes,
  * in chunks of at most `spark.sql.files.maxPartitionBytes`, each
  * shipped once as a broadcast and decoded in place by the tasks. The
  * frame is a `LogicalRDD` with one partition per chunk (reported as
  * `SinglePartition` when there is one, so an aggregate or a sort over
  * a small table plans without an exchange) and the snapshot's byte
  * size as its statistics (join planning sees what it saw over the
  * files). Its lineage is two RDDs whatever the number of appends,
  * it holds no RDD blocks (unpersisting every RDD leaves it intact),
  * and it never goes through the `CacheManager`, so no other plan can
  * be matched to it. A superseded snapshot is dropped here; Spark's
  * `ContextCleaner` frees its broadcasts once the last plan still
  * reading it is gone, so a read in flight is never cut short.
  *
  * Builds of one table serialize on that table; different tables and
  * sessions never wait for each other. The rows are parsed by Spark's
  * own CSV reader function with the Hive DDL's options, so a snapshot
  * holds exactly what a direct read of the same files returns. They
  * are parsed on the driver, without a job: the data passes through
  * the driver anyway, and this is for small serving tables. A table
  * read once and never again keeps its last snapshot for the session,
  * in broadcast blocks that Spark's block manager may move to disk. A
  * path that does not exist (or a glob) is read directly, so Spark
  * raises or resolves it as before. A file rewritten in place within
  * the file system's mtime granularity and at the same length is not
  * detected — the limit of every listing-keyed cache.
  */
object TsvSnapshots {

  /** What the snapshots of one table did in this session: reads served
    * from the held snapshot, full builds, append extensions, files
    * parsed by either, and the rows and bytes the current one holds. */
  final case class Stats(hits: Long, fullBuilds: Long, appendExtensions: Long,
                         filesParsed: Long, rowsHeld: Long, bytesHeld: Long)

  private final case class FileEntry(path: String, length: Long, mtime: Long)
  /** Rows parsed from one file: a count and their row bytes. */
  private final case class Block(rows: Long, bytes: Array[Byte])
  private final case class Chunk(data: Broadcast[Array[Byte]], rows: Long, bytes: Long)
  private final class Snapshot(val listing: Vector[FileEntry], val chunks: Vector[Chunk],
                               val df: DataFrame)

  private final class Table {
    @volatile var current: Snapshot = _
    /** The CSV scan's reader function, built on the first parse
      * (building it broadcasts the Hadoop configuration). */
    var reader: PartitionedFile => Iterator[InternalRow] = _
    val hits, fullBuilds, appendExtensions, filesParsed = new AtomicLong()
  }
  private final case class Key(session: SparkSession, path: String, schema: StructType)
  private val tables = new ConcurrentHashMap[Key, Table]()

  def read(spark: SparkSession, path: String, schema: StructType): DataFrame = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return spark.read.options(options).schema(schema).csv(path)
    val t = table(spark, fs.makeQualified(root).toString, schema)
    val held = t.current
    if (held != null && held.listing == list(fs, root)) serve(t, held)
    else t.synchronized {
      // listed again under the lock: a build this read waited for may
      // already cover the files, and the answer must match this listing
      val listing = list(fs, root)
      val held = t.current
      if (held != null && held.listing == listing) serve(t, held)
      else {
        val next =
          if (held != null && isAppend(held.listing, listing)) extend(spark, t, held, listing, schema)
          else build(spark, t, listing, schema)
        t.current = next
        next.df
      }
    }
  }

  /** Per-table counters of this session, keyed by qualified path. */
  def stats(spark: SparkSession): Map[String, Stats] = {
    import scala.jdk.CollectionConverters._
    tables.asScala.collect { case (k, t) if k.session eq spark =>
      val held = Option(t.current).map(_.chunks).getOrElse(Vector.empty)
      k.path -> Stats(t.hits.get, t.fullBuilds.get, t.appendExtensions.get, t.filesParsed.get,
        held.map(_.rows).sum, held.map(_.bytes).sum)
    }.toMap
  }

  private def serve(t: Table, s: Snapshot): DataFrame = {
    t.hits.incrementAndGet()
    s.df
  }

  private def table(spark: SparkSession, path: String, schema: StructType): Table = {
    val key = Key(spark, path, schema)
    val t = tables.get(key)
    if (t != null) t
    else {
      tables.keySet.removeIf(_.session.sparkContext.isStopped)
      tables.computeIfAbsent(key, _ => new Table)
    }
  }

  /** Spark's hidden-file rule (`HadoopFSUtils.shouldFilterOutPathName`). */
  private def hidden(name: String): Boolean =
    ((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")) &&
      !(name.startsWith("_common_metadata") || name.startsWith("_metadata"))

  private def list(fs: FileSystem, root: Path): Vector[FileEntry] = {
    def walk(s: FileStatus): Iterator[FileStatus] =
      if (s.isDirectory)
        fs.listStatus(s.getPath).iterator.filterNot(c => hidden(c.getPath.getName)).flatMap(walk)
      else Iterator.single(s)
    walk(fs.getFileStatus(root))
      .map(s => FileEntry(s.getPath.toString, s.getLen, s.getModificationTime))
      .toVector.sortBy(_.path)
  }

  private def isAppend(held: Vector[FileEntry], now: Vector[FileEntry]): Boolean =
    now.size > held.size && held.forall(now.toSet)

  private val options = Map("sep" -> "\t", "header" -> "false")

  private def build(spark: SparkSession, t: Table, listing: Vector[FileEntry],
                    schema: StructType): Snapshot = {
    t.fullBuilds.incrementAndGet()
    snapshot(spark, listing, pack(spark, blocks(spark, t, listing, schema)), schema)
  }

  private def extend(spark: SparkSession, t: Table, held: Snapshot,
                     listing: Vector[FileEntry], schema: StructType): Snapshot = {
    t.appendExtensions.incrementAndGet()
    val fresh = blocks(spark, t, listing.filterNot(held.listing.toSet), schema)
    val chunks = held.chunks.lastOption match {
      // the last chunk takes the new rows while it stays within bounds
      case Some(last) if last.bytes + fresh.map(_.bytes.length).sum <= maxPartitionBytes(spark) =>
        held.chunks.init ++ pack(spark, Block(last.rows, last.data.value) +: fresh)
      case _ => held.chunks ++ pack(spark, fresh)
    }
    snapshot(spark, listing, chunks, schema)
  }

  /** Parses `files`, in order, into one block of length-prefixed
    * `UnsafeRow` bytes per file, on this thread, with the CSV scan's own
    * reader function: every row is collected here anyway, and an
    * INSERT's part file costs less to parse than the task Spark would
    * schedule for it. */
  private def blocks(spark: SparkSession, t: Table, files: Vector[FileEntry],
                     schema: StructType): Seq[Block] = {
    t.filesParsed.addAndGet(files.size.toLong)
    val nullable = asRead(schema)
    if (t.reader == null && files.nonEmpty) {
      val session = classic(spark)
      t.reader = new CSVFileFormat().buildReaderWithPartitionValues(session, nullable,
        new StructType(), nullable, Nil, options,
        session.sessionState.newHadoopConfWithOptions(options))
    }
    val toUnsafe = UnsafeProjection.create(nullable)
    val scratch = new Array[Byte](4096)
    files.map { f =>
      val buf = new ByteArrayOutputStream()
      val out = new DataOutputStream(buf)
      var n = 0L
      t.reader(PartitionedFile(InternalRow.empty, SparkPath.fromPathString(f.path), 0, f.length,
        Array.empty, f.mtime, f.length)).foreach { r =>
        val u = toUnsafe(r)
        out.writeInt(u.getSizeInBytes)
        u.writeToStream(out, scratch)
        n += 1
      }
      out.flush()
      Block(n, buf.toByteArray)
    }.filter(_.rows > 0)
  }

  /** The schema as the CSV source reads it: every field nullable. */
  private def asRead(schema: StructType): StructType =
    StructType(schema.map(_.copy(nullable = true)))

  private def classic(spark: SparkSession): org.apache.spark.sql.classic.SparkSession =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  private def maxPartitionBytes(spark: SparkSession): Long =
    classic(spark).sessionState.conf.filesMaxPartitionBytes

  /** Greedily packs blocks, in order, into broadcast chunks of at most
    * `maxPartitionBytes` (a larger block is a chunk of its own). */
  private def pack(spark: SparkSession, blocks: Seq[Block]): Vector[Chunk] = {
    val limit = maxPartitionBytes(spark)
    val groups = blocks.foldLeft(Vector.empty[Vector[Block]]) { (gs, b) =>
      if (gs.nonEmpty && gs.last.map(_.bytes.length.toLong).sum + b.bytes.length <= limit)
        gs.init :+ (gs.last :+ b)
      else gs :+ Vector(b)
    }
    groups.map { g =>
      val bytes = if (g.size == 1) g.head.bytes else Array.concat(g.map(_.bytes): _*)
      Chunk(spark.sparkContext.broadcast(bytes), g.map(_.rows).sum, bytes.length.toLong)
    }
  }

  private def snapshot(spark: SparkSession, listing: Vector[FileEntry], chunks: Vector[Chunk],
                       schema: StructType): Snapshot = {
    val data = chunks.map(_.data)
    val fields = schema.length
    val n = math.max(1, data.size)
    val rdd = spark.sparkContext.parallelize(0 until n, n)
      .mapPartitions(_.flatMap(i => if (i < data.size) decode(data(i).value, fields) else Iterator.empty))
    val partitioning = if (n == 1) SinglePartition else UnknownPartitioning(n)
    val plan = LogicalRDD(DataTypeUtils.toAttributes(asRead(schema)), rdd, partitioning)(
      classic(spark),
      Some(Statistics(sizeInBytes = BigInt(math.max(1L, chunks.map(_.bytes).sum)))))
    new Snapshot(listing, chunks, Bridge.dataFrame(spark, plan))
  }

  /** Rows of one chunk, decoded in place into one reused `UnsafeRow`
    * (the `RDDScanExec` over the snapshot copies each row it keeps). */
  private def decode(bytes: Array[Byte], fields: Int): Iterator[InternalRow] =
    new Iterator[InternalRow] {
      private val row = new UnsafeRow(fields)
      private var at = 0
      override def hasNext: Boolean = at < bytes.length
      override def next(): InternalRow = {
        val size = ((bytes(at) & 0xff) << 24) | ((bytes(at + 1) & 0xff) << 16) |
          ((bytes(at + 2) & 0xff) << 8) | (bytes(at + 3) & 0xff)
        row.pointTo(bytes, Platform.BYTE_ARRAY_OFFSET + at + 4, size)
        at += 4 + size
        row
      }
    }
}
