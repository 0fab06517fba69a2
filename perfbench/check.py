"""Correctness checks for the benchmark, independent of Spark.

* MapReduce outputs are compared with counts computed here in plain Python
  from the generated corpus.
* Query results are compared with DuckDB running the library's oracle SQL
  over the same parquet tables: columns sorted by name, rows sorted,
  values compared as exact strings. Queries without an oracle are checked
  by row count.
"""
import collections
import glob
import os
import re

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


# ------------------------------------------------------------- MapReduce

def corpus_expectations(corpus_dir):
    """Expected output of every MapReduce job, as a Counter of lines."""
    words = collections.Counter()
    lower = collections.Counter()
    rest = collections.Counter()
    first = collections.Counter()
    greatest = {}
    lines = 0
    for path in sorted(glob.glob(os.path.join(corpus_dir, "*.txt"))):
        with open(path) as fh:
            for line in fh.read().split("\n"):
                parts = line.split()
                if not parts:
                    continue
                lines += 1
                words.update(parts)
                lower.update(p.lower() for p in parts)
                rest[parts[0]] += len(parts) - 1
                first[parts[0]] += 1
                # the engine's key/value split: leading blanks dropped,
                # key = first token, value = the rest of the line as is
                kv = re.split(r"\s+", line.lstrip(), maxsplit=1)
                value = kv[1] if len(kv) > 1 else ""
                greatest[kv[0]] = max(greatest.get(kv[0], value), value)
    hist = collections.Counter(words.values())
    tokens = sum(words.values())

    def kv(c):
        return collections.Counter(f"{k} {v}" for k, v in c.items())
    expected = {
        "sum_ints": kv(words),
        "lower_count": kv(lower),
        "shuffle_tokens": collections.Counter(
            {f"{k} 1": v for k, v in words.items()}),
        "rest_tokens": kv(rest),
        "line_count": kv(first),
        "line_max": kv(greatest),
        "count_hist": kv(hist),
    }
    # records leaving the map side of each engine job
    map_out = {"sum_ints": tokens, "lower_count": tokens,
               "shuffle_tokens": tokens, "rest_tokens": lines, "line_count": lines,
               "line_max": lines}
    return expected, map_out


def read_output(out_dir):
    """Lines of every data file a job wrote, and the file each came from."""
    lines = collections.Counter()
    keys_in = collections.defaultdict(set)
    files = [f for f in sorted(glob.glob(os.path.join(out_dir, "*")))
             if os.path.isfile(f) and not os.path.basename(f).startswith(("_", "."))]
    if not files:
        raise ValueError(f"no output files in {out_dir}")
    for i, path in enumerate(files):
        with open(path) as fh:
            for line in fh.read().split("\n"):
                if line:
                    lines[line] += 1
                    keys_in[line.split(" ", 1)[0]].add(i)
    return lines, keys_in


def compare_mr(job, got, keys_in, expected):
    """None when a job's output lines match, else a short reason."""
    if got != expected[job]:
        diff = (got - expected[job]) + (expected[job] - got)
        return f"{sum(diff.values())} lines differ, e.g. {next(iter(diff))!r}"
    split = [k for k, files in keys_in.items() if len(files) > 1]
    if split:
        return f"key {split[0]!r} split across output files"
    return None


def planted_mr_caught(job, got, keys_in, expected):
    """The check must reject an output with one count changed."""
    line = next(iter(got))
    key, value = line.split(" ", 1)
    wrong = collections.Counter(got)
    wrong[line] -= 1
    wrong[f"{key} {value}0"] += 1
    return compare_mr(job, +wrong, keys_in, expected) is not None


# --------------------------------------------------------------- queries

class Oracle:
    def __init__(self, data_dir):
        self.con = duckdb.connect()
        for t in TABLES:
            p = os.path.join(data_dir, f"{t}.parquet")
            if os.path.exists(p):
                self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    def result(self, result_dir):
        return self.con.execute(
            f"SELECT * FROM '{result_dir}/*.parquet'").fetch_df()

    def compare(self, got, sql):
        """None when `got` matches the oracle's rows, else a short reason."""
        if sql is None:
            return None if len(got) > 0 else "no rows"
        want = self.con.execute(sql).fetch_df()
        g = got.reindex(sorted(got.columns), axis=1)
        w = want.reindex(sorted(want.columns), axis=1)
        if list(g.columns) != list(w.columns):
            return f"schema {list(g.columns)} != {list(w.columns)}"
        if len(g) != len(w):
            return f"rows {len(g)} != {len(w)}"
        if len(g) == 0:
            return None
        g = g.astype(str).sort_values(by=list(g.columns)).reset_index(drop=True)
        w = w.astype(str).sort_values(by=list(w.columns)).reset_index(drop=True)
        neq = (g != w).any(axis=1)
        if neq.any():
            return f"{int(neq.sum())}/{len(g)} rows differ"
        return None

    def planted_caught(self, got, sql):
        """The check must reject a result with one value changed."""
        if sql is None or len(got) == 0:
            return True
        wrong = got.astype(str)
        wrong.iloc[0, 0] = wrong.iloc[0, 0] + "~planted"
        return self.compare(wrong, sql) is not None
