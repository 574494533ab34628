#!/usr/bin/env python3
"""DuckDB oracle results for the catalog_mix workload.

Usage: python3 perfbench/oracle.py   (from the repository root)

Computes every catalog_mix oracle result anew, replaces the cached copy
and prints each query's oracle time. Benchmark runs read the cache and
compute only what is missing; oracle time never enters a metric.

A result is keyed by the oracle SQL text (as the engine's catalog states
it) and the sha256 of every data file, so a changed query or table is
recomputed, never served stale. Results are compared under the rules of
tools/selfcheck.py, by its own canon(): columns sorted by name, rows
sorted, values exact, floats by their IEEE bytes.
"""
import hashlib
import importlib.util
import json
import pathlib
import pickle
import subprocess
import sys
import time

import duckdb

HERE = pathlib.Path(__file__).resolve().parent
DATA = HERE / "data" / "sf0.1"
# A ~14 s catalog pass at 4 cores; README.md says why these.
QUERIES = ["q01", "q92", "q95", "q211"]
# the store family a query reads, built cold in each run's set-up
STORES = {"q211": "kmv"}


def selfcheck(root):
    spec = importlib.util.spec_from_file_location("selfcheck", root / "tools" / "selfcheck.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _data_digest(data):
    h = hashlib.sha256()
    for f in sorted(data.glob("*.parquet")):
        h.update(f.name.encode())
        h.update(hashlib.sha256(f.read_bytes()).digest())
    return h.hexdigest()


def _connect(data):
    con = duckdb.connect()
    for f in sorted(data.glob("*.parquet")):
        con.execute(f"CREATE VIEW {f.stem} AS SELECT * FROM '{f}'")
    return con


class Oracle:
    """Cached canonical oracle results for one data directory."""

    def __init__(self, root, cache_dir, data=DATA):
        self.sc = selfcheck(root)
        self.data = data
        self.cache = pathlib.Path(cache_dir)
        self.cache.mkdir(parents=True, exist_ok=True)
        self.digest = _data_digest(data)
        self.con = None

    def _path(self, sql):
        return self.cache / (hashlib.sha256((sql + "\0" + self.digest).encode()).hexdigest() + ".pkl")

    def compute(self, sql):
        if self.con is None:
            self.con = _connect(self.data)
        rel = self.con.sql(sql)
        res = self.sc.canon(rel.fetchall(), rel.columns)
        tmp = self._path(sql).with_suffix(".tmp")
        tmp.write_bytes(pickle.dumps(res))
        tmp.rename(self._path(sql))
        return res

    def expected(self, sql):
        p = self._path(sql)
        if p.is_file():
            return pickle.loads(p.read_bytes())
        return self.compute(sql)

    def check(self, name, sql, result_dir, fault=False):
        """None if the engine's result equals the oracle's, else why not.
        `fault` changes one engine row before comparing (checker self-test)."""
        con = duckdb.connect()
        got = con.sql(f"SELECT * FROM '{result_dir}/*.parquet'")
        rows = got.fetchall()
        if fault and rows:
            rows[0] = ("~changed~",) + tuple(rows[0][1:])
        gcols, grows = self.sc.canon(rows, got.columns)
        ecols, erows = self.expected(sql)
        if gcols != ecols:
            return f"{name}: columns {gcols} != {ecols}"
        if len(grows) != len(erows):
            return f"{name}: rowcount {len(grows)} != {len(erows)}"
        bad = sum(1 for a, b in zip(grows, erows) if a != b)
        return f"{name}: {bad}/{len(grows)} rows differ" if bad else None


def main():
    import build
    root = pathlib.Path.cwd()
    classes, bench, jars = build.build(root)
    out = build.out_root(root)
    sql_file = out / "oracle_sql.json"
    subprocess.run(["java", "-cp", f"{classes}:{bench}:{jars}/*", "perfbench.OracleSql",
                    str(sql_file)] + QUERIES, check=True)
    oracle = Oracle(root, out / "oracle")
    for name, sql in json.loads(sql_file.read_text()).items():
        t0 = time.time()
        _, rows = oracle.compute(sql)
        print(f"{name}: {len(rows)} rows, oracle {time.time() - t0:.2f} s")


if __name__ == "__main__":
    sys.path.insert(0, str(HERE))
    main()
