"""Seeded input generation for the benchmark.

Everything a run reads is made here from the run's seed: the same seed
gives byte-identical inputs.

* ``tables(dir, seed, scale)`` writes the analytics tables the library's
  query packs read (``region`` .. ``embeddings``, one parquet file each),
  with the column names, types and value domains those queries expect.
* ``corpus(dir, seed, ...)`` writes the MapReduce text corpus: numbered
  files of whitespace-separated words drawn from a Zipf vocabulary with a
  fixed exponent, some capitalised, so case folding changes the counts.
"""
import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ZIPF_EXPONENT = 1.1

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.13, 0.15]
DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window").split()

EPOCH = datetime.datetime(1970, 1, 1)


def _micros(dt):
    return int((dt - EPOCH).total_seconds()) * 1_000_000


def _write(dir_, name, cols, schema):
    table = pa.Table.from_pydict(cols, schema=schema)
    # one row group per file, like the tables the query packs were built on
    pq.write_table(table, os.path.join(dir_, f"{name}.parquet"),
                   row_group_size=max(1, table.num_rows))


def tables(dir_, seed, scale):
    """Writes the ten analytics tables at `scale` (1.0 ~ 600k lineitems)."""
    os.makedirs(dir_, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust = max(50, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(100, int(200_000 * scale))
    n_ord = max(200, int(1_500_000 * scale))
    n_line = 4 * n_ord
    n_ev = max(500, int(1_000_000 * scale))
    n_doc = max(100, int(50_000 * scale))
    n_vec = max(100, int(50_000 * scale))
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    _write(dir_, "region", {"r_regionkey": list(range(5)), "r_name": REGIONS},
           pa.schema([("r_regionkey", i32), ("r_name", s)]))
    _write(dir_, "nation", {
        "n_nationkey": list(range(25)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": [i % 5 for i in range(25)],
    }, pa.schema([("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)]))
    _write(dir_, "customer", {
        "c_custkey": np.arange(n_cust),
        "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    }, pa.schema([("c_custkey", i64), ("c_name", s), ("c_nationkey", i32),
                  ("c_acctbal", f64), ("c_mktsegment", s)]))
    _write(dir_, "supplier", {
        "s_suppkey": np.arange(n_supp),
        "s_name": [f"Supplier#{k:09d}" for k in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    }, pa.schema([("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32),
                  ("s_acctbal", f64)]))
    retail = np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)
    _write(dir_, "part", {
        "p_partkey": np.arange(n_part),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": retail,
    }, pa.schema([("p_partkey", i64), ("p_name", s), ("p_brand", s),
                  ("p_type", s), ("p_size", i32), ("p_retailprice", f64)]))
    day = 86_400_000_000
    start = _micros(datetime.datetime(1995, 1, 1))
    odate = start + rng.integers(0, 2404, n_ord) * day
    _write(dir_, "orders", {
        "o_orderkey": np.arange(n_ord),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": money(1000.0, 500000.0, n_ord),
        "o_orderdate": odate,
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    }, pa.schema([("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", s),
                  ("o_totalprice", f64), ("o_orderdate", ts),
                  ("o_orderpriority", s)]))
    lok = rng.integers(0, n_ord, n_line)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    lpk = rng.integers(0, n_part, n_line)
    _write(dir_, "lineitem", {
        "l_orderkey": lok,
        "l_partkey": lpk,
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[lpk] * rng.uniform(0.9, 2.1, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": odate[lok] + rng.integers(1, 122, n_line) * day,
    }, pa.schema([("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64),
                  ("l_linenumber", i32), ("l_quantity", f64),
                  ("l_extendedprice", f64), ("l_discount", f64), ("l_tax", f64),
                  ("l_returnflag", s), ("l_linestatus", s), ("l_shipdate", ts)]))
    ev0 = _micros(datetime.datetime(2024, 1, 1))
    _write(dir_, "events", {
        "event_id": np.arange(n_ev),
        "ts": ev0 + np.sort(rng.integers(0, 30 * day, n_ev)),
        "user_id": rng.integers(0, 150, n_ev),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": money(0.01, 490.0, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }, pa.schema([("event_id", i64), ("ts", ts), ("user_id", i64),
                  ("event_type", s), ("value", f64), ("props", s)]))
    # Document lengths and the planted near-duplicates (every 20th document
    # copies an earlier one) are the same for every seed; only the words
    # and which document is copied change. The dedup queries' cost follows
    # these counts, so runs with different seeds stay comparable.
    lengths = rng.permutation(np.resize(np.arange(10, 100), n_doc))
    texts = []
    for i in range(n_doc):
        if i % 20 == 19:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(DOC_WORDS, int(lengths[i]))))
    _write(dir_, "documents", {
        "doc_id": np.arange(n_doc),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": [len(t) for t in texts],
    }, pa.schema([("doc_id", i64), ("text", s), ("lang", s), ("source", s),
                  ("n_chars", i64)]))
    centers = rng.normal(size=(10, 64))
    label = rng.integers(0, 10, n_vec)
    v = centers[label] + 0.6 * rng.normal(size=(n_vec, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    _write(dir_, "embeddings", {
        "vec_id": np.arange(n_vec),
        "embedding": list(v),
        "label": label.astype(np.int32),
    }, pa.schema([("vec_id", i64), ("embedding", pa.list_(pa.float32())),
                  ("label", i32)]))


def _vocabulary(rng, size):
    """`size` distinct lowercase words; the word of rank r has 3 + r % 6
    letters for every seed, so the corpus size does not depend on it."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words, seen = [], set()
    while len(words) < size:
        w = "".join(rng.choice(letters, 3 + len(words) % 6))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def corpus(dir_, seed, files, lines_per_file, vocab_size):
    """Writes `files` numbered text files; returns their total bytes."""
    os.makedirs(dir_, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    vocab = _vocabulary(rng, vocab_size)
    title = [w.capitalize() for w in vocab]
    p = 1.0 / np.arange(1, vocab_size + 1) ** ZIPF_EXPONENT
    p /= p.sum()
    total = 0
    for f in range(files):
        n_tok = rng.integers(1, 16, lines_per_file)
        ranks = rng.choice(vocab_size, int(n_tok.sum()), p=p)
        caps = rng.random(len(ranks)) < 0.1
        seps = rng.choice([" ", " ", " ", " ", " ", " ", "  ", "\t"], len(ranks))
        out, k = [], 0
        for n in n_tok:
            parts = []
            for j in range(k, k + n):
                parts.append((title if caps[j] else vocab)[ranks[j]])
                parts.append(seps[j])
            k += n
            out.append("".join(parts[:-1]))
        # a few blank lines: the engine drops them, like the reference does
        for j in rng.integers(0, len(out), max(1, lines_per_file // 500)):
            out[j] = ""
        path = os.path.join(dir_, f"part-{f:03d}.txt")
        with open(path, "w") as fh:
            fh.write("\n".join(out) + "\n")
        total += os.path.getsize(path)
    return total
