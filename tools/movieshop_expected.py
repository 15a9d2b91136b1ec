"""Derives, in DuckDB, every expected value that MovieShopSpec and
HiveCatalogSpec assert over the movie shop fixture
(src/test/resources/movieshop: the reference's three TSV tables,
tab-delimited, no header). Independent of Spark: the numbers the specs
pin can be regenerated here instead of trusted.

Usage: python3 tools/movieshop_expected.py [fixtureDir]
"""
import json
import os
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
DEFAULT = os.path.join(os.path.dirname(HERE), "src", "test", "resources", "movieshop")

COLUMNS = {
    "movie": ("movie_info.csv", {"movie_id": "INTEGER", "name": "VARCHAR", "price": "DOUBLE",
                                 "ranking": "DOUBLE", "information": "VARCHAR"}),
    "review": ("review.csv", {"review_id": "INTEGER", "movie_id": "INTEGER", "ranking": "DOUBLE",
                              "content": "VARCHAR"}),
    "order_info": ("order.csv", {"order_id": "INTEGER", "movie_id": "INTEGER", "movie_name": "VARCHAR",
                                 "movie_num": "INTEGER", "price_sum": "DOUBLE",
                                 "create_time": "VARCHAR"}),
}

# the LIKE forms the order list's time filter is built from (FIXTURES.md §A)
PATTERNS = ["%", "2015-%", "2015-07-%", "2015-07-19%", "%-%-03%", "2015-%-19%", "2016-%"]


def connect(fixture):
    con = duckdb.connect()
    for table, (name, cols) in COLUMNS.items():
        spec = ", ".join(f"'{c}': '{t}'" for c, t in cols.items())
        # Hive's delimited text: no quoting, no escapes, an empty field is NULL
        con.execute(f"""CREATE VIEW {table} AS SELECT * FROM read_csv(
            '{os.path.join(fixture, name)}', delim='\t', header=false, quote='', escape='',
            columns={{{spec}}})""")
    return con


def one(con, sql):
    return con.execute(sql).fetchall()


def main():
    fixture = sys.argv[1] if len(sys.argv) > 1 else DEFAULT
    con = connect(fixture)
    out = {}
    for t in COLUMNS:
        out[f"count.{t}"] = one(con, f"SELECT count(*) FROM {t}")[0][0]
    out["movie_list.first_page"] = [r[0] for r in one(con, """
        SELECT movie_id FROM movie WHERE name LIKE '%%' ORDER BY movie_id LIMIT 10""")]
    out["movie_list.kiss"] = one(con, "SELECT count(*) FROM movie WHERE name LIKE '%Kiss%'")[0][0]
    out["movie.null_ranking"] = one(con, "SELECT count(*) FROM movie WHERE ranking IS NULL")[0][0]
    out["movie.reviews_per_movie"] = dict(one(con, """
        SELECT m.movie_id, count(r.review_id) FROM movie m
        LEFT JOIN review r USING (movie_id) GROUP BY m.movie_id ORDER BY m.movie_id"""))
    out["movie.without_reviews"] = [m for m, n in out["movie.reviews_per_movie"].items() if n == 0]
    # pubdate is doubly encoded: a JSON array serialized into a JSON string
    out["movie.pubdate_decoded"] = {m: json.loads(p) for m, p in one(con, """
        SELECT movie_id, json_extract_string(information, '$.pubdate') FROM movie""")}
    out["order_list.newest"] = one(con, """
        SELECT order_id, create_time FROM order_info
        ORDER BY create_time DESC, order_id DESC LIMIT 1""")[0]
    out["order_list.like_counts"] = {p: one(con, f"""
        SELECT count(*) FROM order_info WHERE create_time LIKE '{p}'""")[0][0] for p in PATTERNS}
    out["recommend.top"] = one(con, """
        SELECT movie_id, ranking FROM movie WHERE ranking IS NOT NULL
        ORDER BY ranking DESC, movie_id ASC LIMIT 15""")
    out["insert_order.next_id"] = one(con, "SELECT coalesce(max(order_id), 0) + 1 FROM order_info")[0][0]
    # exact sums next to the rounded ones, so a half-way rounding case shows
    out["sales.monthly"] = one(con, """
        SELECT substr(create_time, 1, 4) y, substr(create_time, 6, 2) m,
               round(sum(price_sum), 1), sum(price_sum)
        FROM order_info GROUP BY y, m ORDER BY y, m""")
    out["sales.yearly"] = one(con, """
        SELECT substr(create_time, 1, 4) y, round(sum(price_sum), 1), sum(price_sum)
        FROM order_info GROUP BY y ORDER BY y""")
    out["sales.grand_total"] = one(con, """
        SELECT round(sum(price_sum), 1), sum(price_sum) FROM order_info""")[0]
    for k, v in out.items():
        print(f"{k}: {v}")


if __name__ == "__main__":
    main()
