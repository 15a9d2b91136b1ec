package graft

import graft.movieshop.MovieShop
import org.apache.spark.sql.functions._

/** Golden parity tests over the movie shop fixture
  * (`src/test/resources/movieshop`: the reference's three tables in its
  * `database_init` format — tab-delimited, no header — with every
  * FIXTURES.md §A edge case). Every expected value is derived
  * independently in DuckDB by `tools/movieshop_expected.py`.
  */
class MovieShopSpec extends SparkTestBase {
  val dir: String = MovieShopSpec.fixture

  test("S1 TSV ingest: exact row counts (24 movies / 32 reviews / 20 orders)") {
    assert(MovieShop.movies(spark, dir).count() == 24)
    assert(MovieShop.reviews(spark, dir).count() == 32)
    assert(MovieShop.orders(spark, dir).count() == 20)
  }

  test("query_movie_list: first page ordered by movie_id, wildcard default") {
    val page = MovieShop.queryMovieList(spark, dir, 0, 10, "")
      .select("movie_id").collect().map(_.getInt(0)).toSeq
    assert(page == Seq(1292214, 1292225, 1292403, 1292702, 1293040,
      1293137, 1293290, 1293299, 1293347, 1293508))
    // LIKE '%Kiss%' matches exactly one movie
    assert(MovieShop.queryMovieList(spark, dir, 0, 100, "Kiss").count() == 1)
    // information is parsed into a struct, not a string
    val info = MovieShop.queryMovieList(spark, dir, 0, 1, "")
      .select("information.title").collect()(0)
    assert(!info.isNullAt(0))
  }

  test("query_movie: movie 1299731 nests its 5 reviews and decodes pubdate") {
    val row = MovieShop.queryMovie(spark, dir, 1299731).collect()
    assert(row.length == 1)
    assert(row(0).getAs[scala.collection.Seq[_]]("reviews").size == 5)
    assert(row(0).getAs[scala.collection.Seq[String]]("pubdate_decoded").toSeq
      == Seq("1967-03-21"))
  }

  test("query_movie: a movie with zero reviews gets an empty array, not [nulls]") {
    // synthesize: a movie_id guaranteed absent from review.csv would
    // return no movie row; instead check via a movie that exists but
    // filtering reviews to an impossible id through the same plan shape
    val withReviews = MovieShop.reviews(spark, dir)
      .select("movie_id").distinct().collect().map(_.getInt(0)).toSet
    val all = MovieShop.movies(spark, dir)
      .select("movie_id").collect().map(_.getInt(0))
    all.find(id => !withReviews.contains(id)) match {
      case Some(lonely) =>
        val row = MovieShop.queryMovie(spark, dir, lonely).collect()
        assert(row.length == 1)
        assert(row(0).getAs[scala.collection.Seq[_]]("reviews").isEmpty,
          "review-less movie must yield an empty reviews array")
      case None => // seed corpus: every movie has reviews; covered by code path
        assert(withReviews.size == all.length)
    }
  }

  test("query_order_list: newest first; string-prefix and mixed-wildcard LIKE") {
    val newest = MovieShop.queryOrderList(spark, dir, 0, 1).collect()(0)
    assert(newest.getInt(0) == 15 && newest.getString(5) == "2019-11-08 12:32:08")
    assert(MovieShop.queryOrderList(spark, dir, 0, 1000, "2016-%").count() == 5)
    // month wildcarded, day fixed — must stay a string match
    // (a year()/month() rewrite gets this wrong, SURVEY.md §7.4);
    // 2016-03-13 has month 03 and must not match
    assert(MovieShop.queryOrderList(spark, dir, 0, 1000, "%-%-03%").count() == 4)
    // every other LIKE form the order list builds hits
    Seq("%" -> 20, "2015-%" -> 6, "2015-07-%" -> 3, "2015-07-19%" -> 2, "2015-%-19%" -> 3)
      .foreach { case (p, n) =>
        assert(MovieShop.queryOrderList(spark, dir, 0, 1000, p).count() == n, p) }
  }

  test("query_recommend_movie_list: top-15, NOT NULL, ranking desc") {
    val top = MovieShop.queryRecommendMovieList(spark, dir).collect()
    assert(top.length == 15)
    assert(top(0).getInt(0) == 1292214 && top(0).getDouble(3) == 9.6)
    // equal rankings resolve by movie_id ascending
    assert(top(1).getInt(0) == 1293290 && top(1).getDouble(3) == 9.4)
    assert(top(2).getInt(0) == 1295644 && top(2).getDouble(3) == 9.4)
    // 3 movies have null ranking and must never appear
    assert(MovieShop.movies(spark, dir).filter(col("ranking").isNull).count() == 3)
  }

  test("insert_order: MAX+1 id, 1-decimal rounding, timestamp format") {
    val row = MovieShop.insertOrder(spark, dir, 1299731, "野狼 Hombre", 2, 177.199)
      .collect()(0)
    assert(row.getInt(0) == 21) // max(order_id)=20
    assert(row.getDouble(4) == 177.2)
    assert(row.getString(5).matches("""\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}"""))
  }

  test("Chart monthly sales + rollup: 2016-08 bucket and grand total") {
    val aug16 = MovieShop.monthlySales(spark, dir)
      .filter(col("y") === "2016" && col("m") === "08")
      .collect()(0).getDouble(2)
    assert(aug16 == 193.6)
    val ru = MovieShop.salesRollup(spark, dir).collect()
    val grand = ru.filter(r => r.isNullAt(0) && r.isNullAt(1))
    assert(grand.length == 1 && grand(0).getDouble(2) == 1385.4)
    val y2016 = ru.filter(r => !r.isNullAt(0) && r.getString(0) == "2016" && r.isNullAt(1))
    assert(y2016.length == 1 && y2016(0).getDouble(2) == 348.0)
  }

  test("chartBundle: one orders snapshot feeds both aggregations with consistent totals") {
    val (monthly, yearly) = MovieShop.chartBundle(spark, dir)
    val monthlyByYear = monthly.collect()
      .groupBy(_.getString(0)).view.mapValues(_.map(_.getDouble(2)).sum).toMap
    val years = yearly.collect()
    assert(years.map(_.getString(0)).toSeq == Seq("2015", "2016", "2017", "2018", "2019"))
    years.foreach { r =>
      assert(math.abs(r.getDouble(1) - monthlyByYear(r.getString(0))) < 0.05)
    }
  }

  test("chartBundle leaves no stale cache: a later append is seen by orders and MAX+1") {
    // a Hive-style table directory: the seed file plus one file per INSERT
    val tmp = MovieShopSpec.tableCopy()
    val (monthly, yearly) = MovieShop.chartBundle(spark, tmp)
    monthly.collect(); yearly.collect()
    assert(MovieShop.orders(spark, tmp).count() == 20)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(tmp, "order.csv", "part-00001"),
      "99999\t1299731\t野狼 Hombre\t1\t35.4\t2020-01-01 00:00:00\n")
    assert(MovieShop.orders(spark, tmp).count() == 21)
    assert(MovieShop.insertOrder(spark, tmp, 1299731, "野狼 Hombre", 1, 35.4)
      .collect()(0).getInt(0) == 100000)
    // the chart over the same directory sees it too
    assert(MovieShop.chartBundle(spark, tmp)._2.collect().map(_.getString(0)).last == "2020")
  }

  test("S5 row-to-JSON sink emits one JSON document per row") {
    val js = MovieShop.toJsonRows(
      MovieShop.queryRecommendMovieList(spark, dir, 2)).collect()
    assert(js.length == 2)
    assert(js.forall(_.getString(0).startsWith("{\"movie_id\":")))
  }
}

object MovieShopSpec {
  /** The fixture as the test classpath holds it. */
  lazy val fixture: String =
    java.nio.file.Paths.get(getClass.getResource("/movieshop").toURI).toString

  /** A fresh copy of the fixture whose orders table is a directory
    * (`order.csv/part-00000`), as a Hive table directory is, so a test
    * can append part files the way an `INSERT` does. */
  def tableCopy(): String = {
    import java.nio.file.{Files, Paths}
    val dst = Files.createTempDirectory("movieshop")
    Seq("movie_info.csv", "review.csv").foreach(f =>
      Files.copy(Paths.get(fixture, f), dst.resolve(f)))
    Files.createDirectories(dst.resolve("order.csv"))
    Files.copy(Paths.get(fixture, "order.csv"), dst.resolve("order.csv").resolve("part-00000"))
    dst.toString
  }
}
