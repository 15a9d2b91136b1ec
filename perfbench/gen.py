"""Seeded input generators for the benchmark.

Two families, both made only from the seed and a size:

* ``tables`` writes the synthetic star schema, events, documents and
  embeddings as one parquet file each, with the column names and types
  of the engine's loaders (``graft.Tables``).  Near-duplicate documents
  (an earlier document's text plus a ``dup`` token) give the dedup and
  substring queries real pairs to find.
* ``shop`` writes the movie shop's three TSV tables in the reference
  layout (tab-delimited, no header), with the edge cases the shop's
  parser must survive: empty ``rating.average``, ``"id":"search"``
  placeholders, non-numeric ``duration``, a doubly encoded ``pubdate``
  and CJK review text.  ``order.csv`` is a directory of part files, so
  an insert can append one.  The expected shop answers are computed from
  these files (and ``shop_meta.tsv``) without Spark.
"""
import datetime
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["small", "red", "blue", "old", "new", "cold", "hot", "large"]
NOUN = ["ring", "widget", "bolt", "anvil", "plate", "gear", "rod", "gizmo"]
PRIOS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
LANGS = ["en"] * 10 + ["de", "de", "es", "es", "fr", "fr", "zh", "zh"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _write(path, cols):
    pq.write_table(pa.table(cols), path)


def _days(rng, n, start, span):
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, span, n)).astype("datetime64[us]")


def tables(out, seed, sf):
    """Writes <out>/<table>.parquet for every synthetic table at scale sf
    (sf=0.01: 60k lineitems, 500 documents)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_line = int(1500000 * sf), int(6000000 * sf)
    n_docs, n_events = int(50000 * sf), int(1000000 * sf)

    _write(f"{out}/region.parquet", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(f"{out}/nation.parquet", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(f"{out}/customer.parquet", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    _write(f"{out}/supplier.parquet", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    _write(f"{out}/part.parquet", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PTYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)})
    _write(f"{out}/orders.parquet", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": pa.array(_days(rng, n_ord, "1995-01-01", 2404),
                                pa.timestamp("us")),
        "o_orderpriority": [PRIOS[i] for i in rng.integers(0, 5, n_ord)]})
    lk = np.sort(rng.integers(0, n_ord, n_line))
    first = np.r_[True, lk[1:] != lk[:-1]]
    starts = np.maximum.accumulate(np.where(first, np.arange(n_line), 0))
    qty = rng.integers(1, 51, n_line).astype(float)
    _write(f"{out}/lineitem.parquet", {
        "l_orderkey": pa.array(lk, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(np.arange(n_line) - starts + 1, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": pa.array(_days(rng, n_line, "1995-01-02", 2498),
                               pa.timestamp("us"))})
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    ts = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_events))
    _write(f"{out}/events.parquet", {
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(t0 + ts.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, n_events // 66), n_events),
                            pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_events)],
        "value": np.round(rng.exponential(50.0, n_events) + 0.01, 2),
        "props": [json.dumps({"k": int(k)})
                  for k in rng.integers(0, 100, n_events)]})
    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(8, 90))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), n)))
    _write(f"{out}/documents.parquet", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    emb = rng.normal(size=(n_docs, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    _write(f"{out}/embeddings.parquet", {
        "vec_id": pa.array(np.arange(n_docs), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_docs), pa.int32())})


NAME_WORDS = ["Lost", "River", "Night", "Star", "Moon", "City", "Dream",
              "Summer", "Rain", "King", "Road", "Fire", "Garden", "Light",
              "Ocean", "Winter", "花样", "年华", "大话", "西游", "霸王", "别姬"]
CJK = "的一是在不了有和人这中大为上个国我以要他时来用们生到作地于出就分对成会可主发年动同工也能下过子说产种面而方后多定行学法所民得经十三之进着等部度家电力里如水化高自二理起小物现实加量都两体制机当使点从业本去把性好应开它合还因由其些然前外天政四日那社义事平形相全表间样与关各重新线内数正心反你明看原又么利比或但质气第向道命此变条只没结解问意建月公无系军很情者最立代想已通并提直题党程展五果料象员革位入常文总次品式活设及管特件长求老头基资边流路级少图山统接知较将组见计别她手角期根论运农指几九区强放决西被干做必战先回则任取据处队南给色光门即保治北造百规热领七海口东导器压志世金增争济阶油思术极交受联什认六共权收证改清己美再采转更单风切打白教速花带安场身车例真务具万每目至达走积示议声报斗完类八离华名确才科张信马节话米整空元况今集温传土许步群广石记需段研界拉林律叫且究观越织装影算低持音众书布复容儿须际商非验连断深难近矿千周委素技备半办青省列习响约支般史感劳便团往酸历市克何除消构府称太准精值号率族维划选标写存候毛亲快效斯院查江型眼王按格养易置派层片始却专状育厂京识适属圆包火住调满县局照参红细引听该铁价严"


def _cjk(rng, n):
    return "".join(CJK[i] for i in rng.integers(0, len(CJK), n))


def shop(data, seed, n_movies, n_reviews, n_orders):
    """Writes movie_info.csv, review.csv and order.csv/part-00000 under
    <data>/shop, and <data>/shop_meta.tsv with each movie's id, title and
    decoded pubdate, from which the expected answers are computed."""
    rng = np.random.default_rng(seed)
    out = f"{data}/shop"
    os.makedirs(f"{out}/order.csv", exist_ok=True)
    movies = []
    with open(f"{out}/movie_info.csv", "w", encoding="utf-8") as f:
        for mid in range(1, n_movies + 1):
            name = " ".join(NAME_WORDS[i] for i in
                            rng.integers(0, len(NAME_WORDS), int(rng.integers(1, 4))))
            name = f"{name} {mid}"
            price = round(float(rng.integers(50, 800)) / 10.0, 1)
            ranking = None if rng.random() < 0.05 else round(float(rng.uniform(2, 9.9)), 1)
            year = int(rng.integers(1950, 2020))
            pubdate = [f"{year}-{int(rng.integers(1, 13)):02d}-{int(rng.integers(1, 29)):02d}(中国大陆)"]
            info = {
                "_id": str(1000000 + mid), "title": name, "year": str(year),
                "imdb": f"tt{int(rng.integers(10**6, 10**7))}",
                "aka": [_cjk(rng, 4), ""],
                "countries": ["中国大陆"], "genres": ["剧情", "爱情"][: int(rng.integers(1, 3))],
                "languages": ["汉语普通话"],
                "casts": [{"id": str(int(rng.integers(10**6, 10**7))), "name": _cjk(rng, 3)},
                          {"id": "search", "name": _cjk(rng, 2)}],
                "directors": [{"id": str(int(rng.integers(10**6, 10**7))), "name": _cjk(rng, 3)}],
                "writers": [{"id": "search", "name": _cjk(rng, 3)}],
                "rating": {"average": "" if rng.random() < 0.1 else f"{rng.uniform(2, 9.9):.1f}",
                           "rating_people": str(int(rng.integers(0, 100000))),
                           "stars": ["5", "4"]},
                "pubdate": json.dumps(pubdate, ensure_ascii=False),
                "duration": f"USA: {int(rng.integers(40, 60))}" if rng.random() < 0.1
                            else str(int(rng.integers(80, 180))),
                "episodes": "", "season_count": "", "price": price,
                "poster": f"p{mid}.jpg", "site": "", "douban_site": f"https://movie.example/{mid}",
                "summary": _cjk(rng, int(rng.integers(20, 80)))}
            text = json.dumps(info, ensure_ascii=False)
            f.write(f"{mid}\t{name}\t{price}\t{'' if ranking is None else ranking}\t{text}\n")
            movies.append((mid, name, price, pubdate[0]))
    with open(f"{out}/review.csv", "w", encoding="utf-8") as f:
        for rid in range(1, n_reviews + 1):
            mid = int(rng.integers(1, n_movies + 1))
            rk = round(float(rng.integers(1, 11)) / 2.0, 1)
            content = _cjk(rng, int(rng.integers(10, 120)))
            f.write(f"{rid}\t{mid}\t{rk}\t{content}\n")
    base = datetime.datetime(2015, 1, 1)
    with open(f"{out}/order.csv/part-00000", "w", encoding="utf-8") as f:
        for oid in range(1, n_orders + 1):
            mid = int(rng.integers(1, n_movies + 1))
            num = int(rng.integers(1, 6))
            psum = round(movies[mid - 1][2] * num, 1)
            t = base + datetime.timedelta(seconds=int(rng.integers(0, 5 * 365 * 86400)))
            ct = t.strftime("%Y-%m-%d %H:%M:%S")
            f.write(f"{oid}\t{mid}\t{movies[mid - 1][1]}\t{num}\t{psum}\t{ct}\n")
    with open(f"{data}/shop_meta.tsv", "w", encoding="utf-8") as f:
        for mid, name, _, pub in movies:
            f.write(f"{mid}\t{name}\t{pub}\n")
