"""Output checks of perfbench. A failed check fails its op.

Registry ops: every timed op must start cold (the guard in the harness)
and return the expected row count; every warm-up op's full output must
equal the query's DuckDB oracle SQL result, or for the queries without
oracle SQL, the digest recorded in perfbench/expected_digests.json.
Corpus ops: job totals must equal the totals computed from the documents,
and the shared run must equal each job run on its own.
"""
import glob
import hashlib
import json
import os

import duckdb
import pandas as pd

import build

BENCH = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(BENCH, "data")
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm(df):
    """Column order by name, timestamps zone-free: the form both engines'
    results are compared in."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime"):
            df[c] = pd.to_datetime(df[c]).dt.tz_localize(None)
    return df.reset_index(drop=True)


def digest(df):
    return hashlib.sha256(norm(df).to_csv(index=False).encode()).hexdigest()


def equal(got, want):
    if list(got.columns) != list(want.columns) or len(got) != len(want):
        return False
    if got.equals(want):
        return True
    ks = list(got.columns)
    return (got.sort_values(ks).reset_index(drop=True)
            .equals(want.sort_values(ks).reset_index(drop=True)))


class Oracle:
    """Expected results per query, cached in the build directory under a
    key of the oracle SQL and the input data."""

    def __init__(self):
        with open(build.oracle_sql_path()) as f:
            self.sql = json.load(f)
        with open(os.path.join(BENCH, "expected_digests.json")) as f:
            self.digests = json.load(f)
        h = hashlib.sha256(duckdb.__version__.encode())
        for t in TABLES:
            with open(os.path.join(DATA, f"{t}.parquet"), "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
        self.data_key = h.hexdigest()
        self.cache = os.path.join(build.build_dir(), "oracle_cache")
        os.makedirs(self.cache, exist_ok=True)
        self._con = None

    def con(self):
        if self._con is None:
            self._con = duckdb.connect()
            for t in TABLES:
                self._con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(DATA, t)}.parquet'")
        return self._con

    def expected(self, name):
        sql = self.sql.get(name)
        if sql is None:
            return None
        key = hashlib.sha256((self.data_key + sql).encode()).hexdigest()[:24]
        path = os.path.join(self.cache, f"{name}-{key}.pkl")
        if os.path.exists(path):
            return pd.read_pickle(path)
        df = norm(self.con().execute(sql).df())
        df.to_pickle(path + ".tmp")
        os.replace(path + ".tmp", path)
        return df

    def rows(self, name):
        e = self.expected(name)
        return len(e) if e is not None else self.digests[name]["rows"]


def spark_output(results, name):
    files = sorted(glob.glob(os.path.join(results, name, "*.parquet")))
    if not files:
        return None
    return norm(duckdb.connect().execute(f"SELECT * FROM read_parquet({files!r})").df())


def check_registry(recs, results):
    oracle = Oracle()
    fails = []
    for r in recs:
        tag = f"{r['op_id']}:{r['name']}"
        name = r["name"]
        if r["error"]:
            fails.append(f"{tag}: {r['error'][:300]}")
        elif not r["cold"]:
            fails.append(f"{tag}: op started with cached data")
        elif r["kind"] == "warmup":
            got = spark_output(results, name)
            want = oracle.expected(name)
            if got is None:
                fails.append(f"{tag}: no output written")
            elif want is not None and not equal(got, want):
                fails.append(f"{tag}: output differs from the DuckDB oracle")
            elif want is None and name not in oracle.digests:
                fails.append(f"{tag}: no oracle SQL and no recorded digest")
            elif want is None and digest(got) != oracle.digests[name]["sha256"]:
                fails.append(f"{tag}: output digest differs from the recorded one")
        elif r["outputs"].get("rows") != oracle.rows(name):
            fails.append(f"{tag}: {r['outputs'].get('rows')} rows, want {oracle.rows(name)}")
    return fails


def check_corpus(recs, expected):
    fails = []
    shared = None
    for r in recs:
        tag = f"{r['op_id']}:{r['name']}"
        if r["error"]:
            fails.append(f"{tag}: {r['error'][:300]}")
            continue
        if not r["cold"]:
            fails.append(f"{tag}: op started with cached data")
        want = expected if r["kind"] in ("warmup", "shared") else {r["name"]: expected[r["name"]]}
        if r["outputs"] != want:
            fails.append(f"{tag}: totals {r['outputs']}, want {want}")
        if r["kind"] == "warmup":
            shared = r["outputs"]
        if r["kind"] == "warmup_single" and (shared or {}).get(r["name"]) != r["outputs"].get(r["name"]):
            fails.append(f"{tag}: independent run differs from the shared run")
    return fails
