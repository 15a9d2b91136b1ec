package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger
import java.util.concurrent.locks.ReentrantLock
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row

import graft.movieshop.MovieShop

/** Expected shop answers, computed with plain collections from the rows
  * the generator wrote (never through Spark). Inserted orders are
  * appended as the writer commits them: `started` counts inserts whose
  * part file may already be visible, `committed` those that certainly
  * are, so a read that overlapped a write accepts either state.
  */
final class ShopModel(tables: Path, meta: Path) {
  import ShopModel._

  private def tsv(p: Path): Seq[Array[String]] =
    Files.readAllLines(p, UTF_8).asScala.toSeq.filter(_.nonEmpty).map(_.split("\t", -1))

  private val metaOf = tsv(meta).map(r => r(0).toInt -> (r(1), r(2))).toMap
  val movies: IndexedSeq[Movie] = tsv(tables.resolve("movie_info.csv")).map { r =>
    val id = r(0).toInt
    Movie(id, r(1), r(2).toDouble, if (r(3).isEmpty) None else Some(r(3).toDouble),
      metaOf(id)._1, metaOf(id)._2)
  }.sortBy(_.id).toIndexedSeq
  val reviews: Map[Int, Seq[Int]] = tsv(tables.resolve("review.csv"))
    .map(r => r(1).toInt -> r(0).toInt).groupBy(_._1)
    .map { case (m, rs) => m -> rs.map(_._2).sorted }
  private val initial: Vector[Order] = Files.list(tables.resolve("order.csv")).iterator().asScala
    .filter(_.getFileName.toString.startsWith("part-")).toSeq.flatMap(tsv)
    .map(r => Order(r(0).toInt, r(1).toInt, r(2), r(3).toInt, r(4).toDouble, r(5))).toVector
  private val inserted = new java.util.concurrent.CopyOnWriteArrayList[Order]()
  val started, committed = new AtomicInteger()

  def initialCount: Int = initial.size
  def orders(v: Int): Seq[Order] = initial ++ inserted.asScala.take(v)
  def maxOrderId(v: Int): Int = orders(v).map(_.id).max
  def add(o: Order): Unit = { inserted.add(o); started.incrementAndGet(); () }

  def movieList(start: Int, limit: Int, key: String): Seq[Movie] =
    movies.filter(_.name.contains(key)).slice(start, start + limit)

  def recommend(limit: Int): Seq[Int] =
    movies.filter(_.ranking.isDefined)
      .sortBy(m => (-m.ranking.get, m.id)).take(limit).map(_.id)

  private def like(pattern: String): String => Boolean = {
    val re = pattern.flatMap {
      case '%' => ".*"
      case '_' => "."
      case ch => java.util.regex.Pattern.quote(ch.toString)
    }.r
    s => re.matches(s)
  }

  def orderList(v: Int, start: Int, limit: Int, pattern: String): Seq[Int] = {
    val m = like(pattern)
    orders(v).filter(o => m(o.createTime))
      .sortBy(o => (o.createTime, o.id)).reverse.slice(start, start + limit).map(_.id)
  }

  /** rollup(year, month) of round(sum(price_sum), 1), nulls first. */
  def salesRollup(v: Int): Seq[(String, String, Double)] = {
    val os = orders(v)
    def r1(x: Double) = BigDecimal(x).setScale(1, BigDecimal.RoundingMode.HALF_UP).toDouble
    val y = os.groupBy(_.createTime.take(4))
    val ym = os.groupBy(o => (o.createTime.take(4), o.createTime.slice(5, 7)))
    val rows = Seq((null: String, null: String, r1(os.map(_.priceSum).sum))) ++
      y.toSeq.map { case (k, g) => (k, null: String, r1(g.map(_.priceSum).sum)) } ++
      ym.toSeq.map { case ((a, b), g) => (a, b, r1(g.map(_.priceSum).sum)) }
    rows.sortBy(r => (Option(r._1), Option(r._2)))
  }
}

object ShopModel {
  final case class Movie(id: Int, name: String, price: Double, ranking: Option[Double],
                         title: String, pubdate: String)
  final case class Order(id: Int, movieId: Int, name: String, num: Int, priceSum: Double,
                         createTime: String)
}

/** The `shop` workload: the movie shop's endpoints under a closed loop
  * of one client per core, each waiting for its reply as the web front
  * end does. About one request in ten is an order insert (MAX+1 id)
  * followed by the append of a new part file to the orders table;
  * inserts are serialized under one lock, as the reference server's
  * mutex serializes them.
  */
object Shop {
  /** Set-ups per run, each into fresh tables; setup_s reports their
    * median. A shop set-up is cheap, unlike the other workloads'. */
  val SetupRounds = 3
  /** One deck of requests: each client deals itself shuffled decks, so
    * every run serves nearly the same mix. One in ten is an insert. */
  val Deck: Seq[String] = Seq(
    "insertOrder" -> 1, "queryMovieList" -> 3, "queryMovie" -> 2,
    "queryRecommendMovieList" -> 1, "queryOrderList" -> 2, "salesRollup" -> 1)
    .flatMap { case (kind, n) => Seq.fill(n)(kind) }
  val Keys = Seq("", "a", "Lost", "Night Star", "花样", "King Road", "1")
  val Patterns = Seq("%", "2015-%", "2017-07-%", "2018-03-1%", "%-%-03%", "2016-%-19%")
  /** Seconds of closed-loop warm-up after the set-ups. */
  val WarmS = 2.0
}

final class Shop(c: Ctx) {
  import c.sparkImplicit
  private val spark = c.spark
  private val clients = Runtime.getRuntime.availableProcessors()
  private val lock = new ReentrantLock()
  private val lockWaits = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
  private var dir = ""
  private var model: ShopModel = _

  private def ordersDir = s"$dir/order.csv"

  /** Picks movie ids with a heavy head (a few titles get most views). */
  private def hotMovie(r: scala.util.Random): Int =
    (model.movies.size * math.pow(r.nextDouble(), 4)).toInt + 1

  private def close(a: Double, b: Double) = math.abs(a - b) < 1e-6

  private def serve(kind: String, r: scala.util.Random): Unit = kind match {
    case "insertOrder" => insert(r)
    case "queryMovieList" =>
      val (start, key) = (Seq(0, 10, 20, 40)(r.nextInt(4)), Shop.Keys(r.nextInt(Shop.Keys.size)))
      read("queryMovieList", MovieShop.queryMovieList(spark, dir, start, 10, key)) { (rows, _) =>
        val exp = model.movieList(start, 10, key)
        rows.length == exp.length && rows.zip(exp).forall { case (row, m) =>
          row.getInt(0) == m.id && row.getString(1) == m.name && close(row.getDouble(2), m.price) &&
            Option(row.get(3)).map(_.asInstanceOf[Double]) == m.ranking &&
            row.getStruct(4).getAs[String]("title") == m.title
        }
      }
    case "queryMovie" =>
      val id = hotMovie(r)
      read("queryMovie", MovieShop.queryMovie(spark, dir, id)) { (rows, _) =>
        val m = model.movies(id - 1)
        rows.length == 1 && rows(0).getInt(0) == id && rows(0).getString(1) == m.name &&
          rows(0).getStruct(4).getAs[String]("title") == m.title &&
          rows(0).getSeq[String](5) == Seq(m.pubdate) &&
          rows(0).getSeq[Row](6).map(_.getInt(0)) == model.reviews.getOrElse(id, Nil)
      }
    case "queryRecommendMovieList" =>
      read("queryRecommendMovieList", MovieShop.queryRecommendMovieList(spark, dir, 15)) {
        (rows, _) => rows.map(_.getInt(0)).toSeq == model.recommend(15)
      }
    case "queryOrderList" =>
      val (start, pat) = (Seq(0, 10)(r.nextInt(2)), Shop.Patterns(r.nextInt(Shop.Patterns.size)))
      read("queryOrderList", MovieShop.queryOrderList(spark, dir, start, 10, pat)) { (rows, vs) =>
        val got = rows.map(_.getInt(0)).toSeq
        vs.exists(v => got == model.orderList(v, start, 10, pat))
      }
    case "salesRollup" =>
      read("salesRollup", MovieShop.salesRollup(spark, dir)) { (rows, vs) =>
        val got = rows.map(x => (x.getString(0), x.getString(1), x.getDouble(2))).toSeq
        vs.exists { v =>
          val exp = model.salesRollup(v)
          got.length == exp.length && got.zip(exp).forall { case (a, b) =>
            a._1 == b._1 && a._2 == b._2 && close(a._3, b._3) }
        }
      }
  }

  /** A read endpoint; `check` gets the rows and the order-table versions
    * the read may have seen. */
  private def read(name: String, build: => org.apache.spark.sql.DataFrame)
                  (check: (Array[Row], Range) => Boolean): Unit = {
    val lo = model.committed.get()
    try {
      val (rows, ms) = c.timed(name)(build)(_.collect())
      val hi = model.started.get()
      c.record(name, write = false, ms, check(rows, lo to hi), rows.length)
    } catch {
      case e: Exception =>
        System.err.println(s"[perfbench] $name failed: $e")
        c.record(name, write = false, 0.0, ok = false, 0L)
    }
  }

  private def insert(r: scala.util.Random): Unit = {
    val id = hotMovie(r)
    val m = model.movies(id - 1)
    val num = 1 + r.nextInt(5)
    val t0 = c.now
    lock.lock()
    try {
      val waitMs = (c.now - t0) / 1e6
      if (c.tracing) lockWaits.add(waitMs)
      val expected = model.maxOrderId(model.committed.get()) + 1
      val (row, ms) = c.timed("insertOrder")(
        MovieShop.insertOrder(spark, dir, id, m.name, num, m.price * num))(_.collect().head)
      val o = ShopModel.Order(row.getInt(0), row.getInt(1), row.getString(2), row.getInt(3),
        row.getDouble(4), row.getString(5))
      model.add(o)
      val t1 = c.now
      Tag.exec("insertOrder")(
        spark.createDataFrame(java.util.List.of(row), MovieShop.orderSchema).coalesce(1)
          .write.mode("append").option("sep", "\t").csv(ordersDir))
      val appendMs = (c.now - t1) / 1e6
      model.committed.incrementAndGet()
      val priceOk = close(o.priceSum,
        BigDecimal(m.price * num).setScale(1, BigDecimal.RoundingMode.HALF_UP).toDouble)
      c.record("insertOrder", write = true, waitMs + ms + appendMs,
        o.id == expected && o.movieId == id && o.num == num && priceOk, 1L)
    } catch {
      case e: Exception =>
        System.err.println(s"[perfbench] insertOrder failed: $e")
        c.record("insertOrder", write = true, 0.0, ok = false, 0L)
    } finally lock.unlock()
  }

  /** Runs the closed loop for `s` seconds; returns the requests served. */
  private def loop(s: Double, round: Int): Int = {
    val before = c.ops.size
    val deadline = c.now + (s * 1e9).toLong
    val threads = (0 until clients).map { k =>
      val r = new scala.util.Random(c.seed * 7919 + round * 104729 + k)
      val deck = Iterator.continually(r.shuffle(Shop.Deck)).flatten
      val t = new Thread(() => while (c.now < deadline) serve(deck.next(), r))
      t.start()
      t
    }
    threads.foreach(_.join())
    c.ops.size - before
  }

  def run(): Unit = {
    val meta = c.data.resolve("shop_meta.tsv")
    for (r <- 1 to Shop.SetupRounds) {
      dir = c.freshData(s"in$r") + "/shop"
      val t0 = c.now
      model = new ShopModel(java.nio.file.Paths.get(dir), meta)
      // one cold request of each read endpoint
      val rr = new scala.util.Random(c.seed + r)
      Shop.Deck.distinct.filterNot(_ == "insertOrder").foreach(serve(_, rr))
      c.roundS += c.secs(t0)
    }
    val tw = c.now
    loop(Shop.WarmS, 0)
    c.warmS = c.secs(tw)
    c.ops.clear()
    var round = 100
    c.measure { s => round += 1; loop(s, round) }
    // every insert must have landed once: ids contiguous from the
    // initial MAX+1, and the row count grown by exactly the inserts
    val ids = MovieShop.orders(spark, dir).select("order_id").collect().map(_.getInt(0)).sorted
    val n = model.committed.get()
    val intact = ids.length == model.initialCount + n && ids.distinct.length == ids.length &&
      ids.takeRight(n).toSeq == (model.maxOrderId(0) + 1 to model.maxOrderId(0) + n)
    if (!intact) {
      val all = c.ops.asScala.toSeq
      c.ops.clear()
      all.foreach(o => c.ops.add(if (o.write) o.copy(ok = false) else o))
    }
    c.numbers("inserts_total") = n
    c.trace.foreach { t =>
      c.layers ++= t.totals()
      c.layers ++= t.streamTotals
      val w = lockWaits.asScala.toSeq
      c.layers("movieshop.lock_wait_ms") = if (w.isEmpty) 0.0 else w.sum / w.size
    }
    c.layers("movieshop.order_files") = Files.list(java.nio.file.Paths.get(ordersDir))
      .iterator().asScala.count(_.getFileName.toString.startsWith("part-")).toDouble
    Sources.report(c, graft.sources.BuildLedger.log)
    c.numbers("state_bytes") = c.du(java.nio.file.Paths.get(ordersDir)).toDouble
  }
}
