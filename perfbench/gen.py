"""Seeded input generators for the benchmark.

Everything here is a pure function of its arguments: the same seed writes
byte-identical files, on any machine with the same numpy/pyarrow.

* ``write_tables`` writes the ten parquet tables (region …
  embeddings) that ``SparkEntry.queries`` read. Value domains follow
  FIXTURES.md part B: uniform TPC-H-ish keys and prices, 30-word lowercase
  documents, 64-dim float embeddings.
* ``write_tweets`` writes the tweet payload the stream workloads replay:
  newline-delimited tweet JSON, one fixed-size file per name, built from a
  seeded documents pool plus Zipf-skewed hashtags, with rising event times
  and a small share of malformed lines.
* ``query_order`` is the seed-permuted order of the catalog sample.
"""
import datetime
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Catalog tables are the same for every --seed: the seed only permutes the
# query order, so one stored oracle digest per query stays valid.
CATALOG_SEED = 20240101

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast "
         "row the agg key query a scan batch").split()
LANGS = ["en", "es", "fr", "de", "zh"]
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]

# Rows per table at scale 1.0 (the sf0.1 row counts of FIXTURES.md).
ROWS = {"customer": 15000, "supplier": 1000, "part": 20000, "orders": 150000,
        "lineitem": 600000, "events": 100000, "documents": 5000,
        "embeddings": 2000}

# Hashtag vocabulary, most common first; the tracked tag is rank 2.
TAGS = ["data", "graft", "spark", "ml", "ai", "bigdata", "stream", "cloud",
        "python", "scala", "sql", "news", "tech", "dev", "ops", "infra",
        "nlp", "llm", "gpu", "etl", "lake", "batch", "kafka", "s3", "jvm",
        "rust", "go", "web", "mobile", "db", "search", "graph", "vector",
        "cache", "index", "query", "join", "window", "agg", "hash"]
TRACK = "graft"
LANG = "en"
EPOCH_T0 = datetime.datetime(2024, 1, 1)


def _docs(rng, n):
    """Documents: 30-word vocabulary, 8-96 tokens, a few exact duplicates."""
    lens = rng.integers(8, 97, size=n)
    toks = rng.integers(0, len(WORDS), size=int(lens.sum()))
    texts, pos = [], 0
    for ln in lens:
        texts.append(" ".join(WORDS[t] for t in toks[pos:pos + ln]))
        pos += ln
    for i in range(7, n, 613):  # exact dups for the dedup queries
        texts[i] = texts[i - 7]
    langs = rng.choice(LANGS, size=n, p=LANG_P)
    return texts, [str(x) for x in langs]


def _money(rng, lo, hi, n):
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, size=n) / 100.0, 2)


def _dates(rng, start, days, n):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, days, size=n).astype("timedelta64[D]")


def write_tables(out_dir, scale, seed=CATALOG_SEED):
    """The ten catalog tables at ``scale`` × the sf0.1 row counts."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n = {k: max(1, int(round(v * scale))) for k, v in ROWS.items()}
    n["documents"] = max(500, n["documents"])
    n["embeddings"] = max(500, n["embeddings"])

    def put(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out_dir, name + ".parquet"))

    i32, i64, f64 = pa.int32(), pa.int64(), pa.float64()
    put("region", {"r_regionkey": pa.array(range(5), i32),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    put("nation", {"n_nationkey": pa.array(range(25), i32),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    c = n["customer"]
    put("customer", {
        "c_custkey": pa.array(np.arange(c), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, size=c), i32),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, c), f64),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], size=c).tolist()})
    s = n["supplier"]
    put("supplier", {
        "s_suppkey": pa.array(np.arange(s), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, size=s), i32),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, s), f64)})
    p = n["part"]
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    put("part", {
        "p_partkey": pa.array(np.arange(p), i64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, size=p), rng.integers(0, 8, size=p))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, size=p)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], size=p).tolist(),
        "p_size": pa.array(rng.integers(1, 51, size=p), i32),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(p) % 1000) / 10.0, 2), f64)})
    o = n["orders"]
    put("orders", {
        "o_orderkey": pa.array(np.arange(o), i64),
        "o_custkey": pa.array(rng.integers(0, c, size=o), i64),
        "o_orderstatus": rng.choice(["F", "O", "P"], size=o).tolist(),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, o), f64),
        "o_orderdate": pa.array(_dates(rng, "1995-01-01", 2405, o), pa.timestamp("us")),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], size=o).tolist()})
    li = n["lineitem"]
    flags = rng.integers(0, 6, size=li)
    put("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, o, size=li), i64),
        "l_partkey": pa.array(rng.integers(0, p, size=li), i64),
        "l_suppkey": pa.array(rng.integers(0, s, size=li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, size=li), i32),
        "l_quantity": pa.array(rng.integers(1, 51, size=li).astype(np.float64), f64),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, li), f64),
        "l_discount": pa.array(rng.integers(0, 11, size=li) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, size=li) / 100.0, f64),
        "l_returnflag": [("A", "N", "R")[f // 2] for f in flags],
        "l_linestatus": [("O", "F")[f % 2] for f in flags],
        "l_shipdate": pa.array(_dates(rng, "1995-01-02", 2498, li), pa.timestamp("us"))})
    e = n["events"]
    users = max(10, e // 66)
    secs = np.sort(rng.integers(0, 30 * 86400 * 1_000_000, size=e))
    put("events", {
        "event_id": pa.array(np.arange(e), i64),
        "ts": pa.array(np.datetime64("2024-01-01T00:00:00", "us") +
                       secs.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, size=e), i64),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"],
                                 size=e).tolist(),
        "value": pa.array(np.round(rng.exponential(50.0, size=e), 2), f64),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=e)]})
    d = n["documents"]
    texts, langs = _docs(rng, d)
    put("documents", {
        "doc_id": pa.array(np.arange(d), i64),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": pa.array([len(t) for t in texts], i64)})
    m = n["embeddings"]
    emb = rng.normal(0.0, 0.125, size=(m, 64)).astype(np.float32)
    put("embeddings", {
        "vec_id": pa.array(np.arange(m), i64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, size=m), i32)})


def tweet_lines(seed, n_tweets, tweets_per_s=20.0, malformed=0.005):
    """The payload as a list of JSON lines, plus the malformed-line count.

    Event time rises by 1/tweets_per_s per tweet with up to ±20 s of
    seeded jitter, well inside the 10-minute watermark, so no row is late.
    """
    rng = np.random.default_rng(seed % 2**64)
    texts, langs = _docs(rng, 5000)
    pick = rng.integers(0, len(texts), size=n_tweets)
    zipf = 1.0 / np.arange(1, len(TAGS) + 1) ** 1.1
    ntags = rng.integers(0, 4, size=n_tweets)
    tags = rng.choice(len(TAGS), size=int(ntags.sum()), p=zipf / zipf.sum())
    jitter = rng.integers(-20_000, 20_001, size=n_tweets)
    bad = rng.random(n_tweets) < malformed
    ms = (np.arange(n_tweets) * (1000.0 / tweets_per_s)).astype(np.int64) + jitter + 3_600_000
    stamps = np.datetime_as_string(np.datetime64(EPOCH_T0, "ms") + ms.astype("timedelta64[ms]"),
                                   unit="ms")
    lines, pos = [], 0
    for i in range(n_tweets):
        ht = [TAGS[t] for t in tags[pos:pos + ntags[i]]]
        pos += ntags[i]
        text = texts[pick[i]] + "".join(" #" + h for h in ht)
        # texts and tags are [a-z0-9 #] only, so no JSON escaping is needed
        tags_json = ",".join('{"text":"%s"}' % h for h in ht)
        line = ('{"text":"%s","lang":"%s","created_at":"%sZ","entities":{"hashtags":[%s]}}'
                % (text, langs[pick[i]], stamps[i], tags_json))
        lines.append(line[: len(line) // 2] if bad[i] else line)
    return lines, int(bad.sum())


def write_tweets(out_dir, seed, n_files, per_file):
    """``n_files`` newline files of ``per_file`` tweets each, named in
    replay order. Returns (tweets, malformed)."""
    os.makedirs(out_dir, exist_ok=True)
    lines, bad = tweet_lines(seed, n_files * per_file)
    for f in range(n_files):
        body = "\n".join(lines[f * per_file:(f + 1) * per_file]) + "\n"
        with open(os.path.join(out_dir, f"part-{f:06d}.json"), "w") as fh:
            fh.write(body)
    return len(lines), bad


def query_order(names, seed):
    """The catalog sample in a seed-permuted order."""
    order = sorted(names)
    random.Random(seed).shuffle(order)
    return order
