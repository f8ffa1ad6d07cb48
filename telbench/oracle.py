"""DuckDB oracle results for the registered queries, cached on disk.

A cached result is keyed on the oracle's SQL text, the duckdb version and
the digest of the data files, so a changed oracle, engine or input is
computed afresh. Only the oracle side is cached: the program's output is
compared on every run (``tools/check_oracle.compare``, unchanged).

Run as a script, it fills the cache in a process of its own, so DuckDB's
memory never counts towards the benchmark's resident-memory figure:

    python3 telbench/oracle.py <data_dir> <data_digest> <cache_dir> <query>...
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import sys

import duckdb
import pandas as pd


def cache_path(cache_dir: str, name: str, data_digest: str) -> str:
    from homelogging_spark.plans.registry import ORACLES

    key = hashlib.sha256(
        "\0".join((ORACLES[name], duckdb.__version__, data_digest)).encode()
    ).hexdigest()
    return os.path.join(cache_dir, f"{name}-{key[:24]}.pkl")


def fill_cache(data_dir: str, data_digest: str, cache_dir: str, names: list[str]) -> None:
    """Compute and store every oracle result missing from the cache."""
    todo = [n for n in names if not os.path.exists(cache_path(cache_dir, n, data_digest))]
    if not todo:
        return
    from homelogging_spark.plans.registry import ORACLES
    from homelogging_spark.tables import TABLE_NAMES

    os.makedirs(cache_dir, exist_ok=True)
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(data_dir, t)}.parquet'")
    for name in todo:
        out = cache_path(cache_dir, name, data_digest)
        con.execute(ORACLES[name]).fetchdf().to_pickle(out + ".tmp")
        os.replace(out + ".tmp", out)


def load(cache_dir: str, name: str, data_digest: str) -> pd.DataFrame:
    # the cache is written only by fill_cache, in this checkout
    return pd.read_pickle(cache_path(cache_dir, name, data_digest))


def matches(name: str, spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> bool:
    """``tools/check_oracle.compare``: exact, dtype- and time-zone-strict.
    Its report goes to stderr so stdout keeps the result line last."""
    from tools.check_oracle import compare

    with contextlib.redirect_stdout(sys.stderr):
        return compare(name, spark_pdf, oracle_pdf)


if __name__ == "__main__":
    sys.path[0] = os.getcwd()  # the checkout root, not this directory
    fill_cache(sys.argv[1], sys.argv[2], sys.argv[3], sys.argv[4:])
