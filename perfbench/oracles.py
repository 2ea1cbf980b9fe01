"""DuckDB oracle results for the workload queries, cached per checkout.

An oracle's result depends only on its SQL and the fixture bytes, so
``run.py`` computes each one once, in its own process and outside every
measured process tree, and the worker reads the cached frame. Files are
keyed by the fixture digest (the directory) and a hash of the SQL.
"""

from __future__ import annotations

import hashlib
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def path(cache_dir: str, name: str, sql: str) -> str:
    key = hashlib.sha256(sql.encode()).hexdigest()[:16]
    return os.path.join(cache_dir, f"{name}-{key}.pkl")


def build(sf_dir: str, cache_dir: str, names) -> bool:
    """Run every missing oracle of ``names`` with tools/check_oracle.py's
    DuckDB connection and pickle its result; return whether any ran."""
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]
    from check_oracle import duck_con

    from cs686_big_data_p1_spark import registry

    registry.load_all()
    os.makedirs(cache_dir, exist_ok=True)
    con = None
    for name in names:
        sql = registry.ORACLES.get(name)
        if sql is None or os.path.exists(path(cache_dir, name, sql)):
            continue
        if con is None:
            con = duck_con(sf_dir)
            con.execute("SET enable_progress_bar = false")
        target = path(cache_dir, name, sql)
        con.execute(sql).fetchdf().to_pickle(f"{target}.tmp")
        os.replace(f"{target}.tmp", target)
    return con is not None


def load(cache_dir: str, name: str, sql: str):
    import pandas as pd

    return pd.read_pickle(path(cache_dir, name, sql))  # written by build() only
