"""DuckDB oracle answers, computed in a separate worker process so the
oracle's memory and threads never count against the program's
``peak_rss_mb`` and never overlap a timed operation.

Answers over fixed data are cached on disk, keyed by the data
directory's checksums and the SQL text, and reused while both match.
"""

from __future__ import annotations

import hashlib
import os
import pickle
import subprocess
import sys
import traceback

import pandas as pd

from perfbench.datagen import TABLES

#: The worker process's DuckDB connection per data directory.
_CON: dict = {}


def _connect(data_dir: str, tmp_dir: str):
    import duckdb

    con = _CON.get(data_dir)
    if con is None:
        con = duckdb.connect()
        con.execute("SET threads = 4")
        con.execute("SET memory_limit = '3GB'")
        con.execute(f"SET temp_directory = '{tmp_dir}'")
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )
        _CON[data_dir] = con
    return con


def run_sql(data_dir: str, tmp_dir: str, sql: str, live_ids=None) -> pd.DataFrame:
    """Worker entry: one query over ``data_dir``'s tables; ``live_ids``
    (a list of doc ids) is visible to the SQL as table ``live_ids``."""
    con = _connect(data_dir, tmp_dir)
    if live_ids is not None:
        con.register("live_ids", pd.DataFrame({"doc_id": pd.Series(live_ids, dtype="int64")}))
    try:
        return con.sql(sql).df()
    finally:
        if live_ids is not None:
            con.unregister("live_ids")


def serve() -> None:
    """Worker loop: read pickled ``run_sql`` arguments from stdin, write
    ``("ok", frame)`` or ``("err", traceback)`` to stdout, until stdin
    ends. Anything else the worker prints goes to stderr."""
    out = os.fdopen(os.dup(1), "wb")
    os.dup2(2, 1)
    inp = sys.stdin.buffer
    while True:
        try:
            args = pickle.load(inp)
        except EOFError:
            return
        try:
            res = ("ok", run_sql(*args))
        except Exception:  # noqa: BLE001 - sent back and raised by the caller
            res = ("err", traceback.format_exc())
        pickle.dump(res, out)
        out.flush()


class Oracle:
    """A one-process DuckDB worker plus the on-disk answer cache.

    The worker is a plain child process on pipes, started on the first
    query: it holds no inherited descriptor of the Spark JVM, and
    ``close`` ends it and waits for it. A ``multiprocessing`` pool
    would also start a resource-tracker process that exits only after
    the benchmark has."""

    def __init__(self, cache_dir: str, tmp_dir: str) -> None:
        self.cache_dir = cache_dir
        self.tmp_dir = tmp_dir
        os.makedirs(cache_dir, exist_ok=True)
        os.makedirs(tmp_dir, exist_ok=True)
        self._proc: subprocess.Popen | None = None

    def query(self, data_dir: str, sql: str) -> pd.DataFrame:
        if self._proc is None:
            root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
            self._proc = subprocess.Popen(
                [sys.executable, "-c", "from perfbench.oracle import serve; serve()"],
                stdin=subprocess.PIPE,
                stdout=subprocess.PIPE,
                cwd=root,
            )
        pickle.dump((data_dir, self.tmp_dir, sql), self._proc.stdin)
        self._proc.stdin.flush()
        status, value = pickle.load(self._proc.stdout)
        if status != "ok":
            raise RuntimeError(f"oracle query failed:\n{value}")
        return value

    def cached(self, data_key: str, data_dir: str, sql: str) -> pd.DataFrame:
        """The answer of ``sql`` over data whose checksums hash to
        ``data_key``, computed once per checkout."""
        h = hashlib.sha256(f"{data_key}\n{sql}".encode()).hexdigest()[:32]
        path = os.path.join(self.cache_dir, f"{h}.pkl")
        if os.path.exists(path):
            with open(path, "rb") as f:
                return pickle.load(f)
        df = self.query(data_dir, sql)
        tmp = path + ".tmp"
        with open(tmp, "wb") as f:
            pickle.dump(df, f)
        os.replace(tmp, path)
        return df

    def close(self) -> None:
        """End the worker (its stdin closes) and wait for it."""
        if self._proc is None:
            return
        self._proc.stdin.close()
        try:
            self._proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            self._proc.kill()
            self._proc.wait()
        self._proc.stdout.close()
        self._proc = None


def data_key(checksums: dict[str, str]) -> str:
    return hashlib.sha256(
        "".join(f"{k}={v};" for k, v in sorted(checksums.items())).encode()
    ).hexdigest()


def compare(name: str, got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """The project's oracle comparison (tools/check_oracle.py): row
    count, column names, order-insensitive exact values."""
    tools = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    import check_oracle

    return check_oracle.compare(name, got, want)
