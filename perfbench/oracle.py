"""Output checks: DuckDB oracle answers and the fingerprints verified against them.

The canonicalisation is the one `tools/check_correctness.py` applies:
columns sorted by name, rows sorted by value, cells compared exactly
(floats by value, NaN equal to NaN, everything else by its string form).
It is copied, not imported, so that a change to the repository's tools
cannot change what the benchmark accepts.

Two caches live under `.bench_build/perfbench`, both keyed by the data
directory so that a run on other data never reads them:
- `oracle/<sha>.pkl`: the DuckDB answer for one oracle SQL text;
- `verified.json`: per query, the result fingerprint of a Spark result
  that matched its oracle, with the hash of that oracle's SQL. A later
  run whose timed result has the same fingerprint returned the same rows,
  so it needs neither a dump nor DuckDB.
"""
import hashlib
import json
import math
import os

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def sha(*parts: str) -> str:
    return hashlib.sha256("\0".join(parts).encode()).hexdigest()


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def cells_equal(a, b) -> bool:
    if a is None and b is None:
        return True
    try:
        if pd.isna(a) and pd.isna(b):
            return True
        if pd.isna(a) != pd.isna(b):
            return False
    except (TypeError, ValueError):
        pass
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
            return (math.isnan(fa) and math.isnan(fb)) or fa == fb
        except (TypeError, ValueError):
            return False
    if isinstance(a, int) and isinstance(b, int):
        return a == b
    return str(a) == str(b)


def frames_equal(a: pd.DataFrame, b: pd.DataFrame):
    if list(a.columns) != list(b.columns):
        return False, f"columns differ: {list(a.columns)} vs {list(b.columns)}"
    if len(a) != len(b):
        return False, f"row counts differ: {len(a)} vs {len(b)}"
    for col in a.columns:
        for i, (x, y) in enumerate(zip(a[col].tolist(), b[col].tolist())):
            if not cells_equal(x, y):
                return False, f"col {col} row {i}: {x!r} != {y!r}"
    return True, "ok"


class Oracle:
    def __init__(self, cache_dir: str, sf_dir: str):
        self.dir = os.path.join(cache_dir, "oracle")
        self.sf_dir = sf_dir
        self.verified_path = os.path.join(cache_dir, "verified.json")
        self._con = None
        os.makedirs(self.dir, exist_ok=True)

    def _connection(self):
        if self._con is None:
            self._con = duckdb.connect()
            # Spill files stay in the cache directory, not the working directory.
            self._con.execute(f"SET temp_directory = '{self.dir}/duckdb_tmp'")
            for t in TABLES:
                self._con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{self.sf_dir}/{t}.parquet')")
        return self._con

    def expected(self, sql: str) -> pd.DataFrame:
        path = os.path.join(self.dir, sha(self.sf_dir, sql) + ".pkl")
        if os.path.exists(path):
            return pd.read_pickle(path)
        df = self._connection().execute(sql).df()
        df.to_pickle(path + ".tmp")
        os.replace(path + ".tmp", path)
        return df

    def compare(self, sql: str, dump_dir: str):
        """(ok, message) for a Spark result dumped as parquet."""
        try:
            want = self.expected(sql)
        except Exception as e:  # an oracle that cannot run is a failed check
            return False, f"oracle error: {e}"
        try:
            got = pd.read_parquet(dump_dir)
        except Exception as e:
            return False, f"spark result unreadable: {e}"
        return frames_equal(canon(got), canon(want))

    def verified(self) -> dict:
        """{query: {"sql": sha, "fp": fingerprint}} for this data directory."""
        if not os.path.exists(self.verified_path):
            return {}
        return json.load(open(self.verified_path)).get(self.sf_dir, {})

    def record(self, entries: dict) -> None:
        if not entries:
            return
        allv = json.load(open(self.verified_path)) if os.path.exists(self.verified_path) else {}
        allv.setdefault(self.sf_dir, {}).update(entries)
        with open(self.verified_path + ".tmp", "w") as f:
            json.dump(allv, f, indent=1, sort_keys=True)
        os.replace(self.verified_path + ".tmp", self.verified_path)
