"""The benchmark's output checks, and the child process that runs them.

The benchmark's own work (input generation and these checks, with DuckDB,
the expected tables and the DuckDB oracles) runs in a child process, so
the main process's peak memory is the program's. ``Child`` spawns that
process on first use; the functions below run in it and keep their state
(the current mirror, the loaded ``tools/check_correctness.py``) between
calls.
"""

from __future__ import annotations

import hashlib
import importlib.util
import inspect
import json
import os
import pickle
import subprocess
import sys
import traceback
from decimal import Decimal
from pathlib import Path

ORACLE_FILE = Path(__file__).with_name("oracles.json")

_state: dict = {}


class Child:
    """Calls functions in one child process (this file run as a script).

    Each call is a pickled ``(function, args)`` on the child's stdin,
    answered by a pickled ``(ok, result or traceback)`` on its stdout."""

    def __init__(self) -> None:
        self._proc: subprocess.Popen | None = None

    def __call__(self, fn, *args):
        if self._proc is None:
            self._proc = subprocess.Popen(
                [sys.executable, __file__, *sys.path], stdin=subprocess.PIPE, stdout=subprocess.PIPE
            )
        pickle.dump((fn, args), self._proc.stdin)
        self._proc.stdin.flush()
        ok, result = pickle.load(self._proc.stdout)
        if not ok:
            raise RuntimeError(f"{fn.__name__} failed in the child process:\n{result}")
        return result

    def close(self) -> None:
        if self._proc is not None:
            self._proc.stdin.close()  # the child exits at end of input
            self._proc.wait()
            self._proc.stdout.close()
            self._proc = None


def _serve() -> None:
    """The child's loop; stdout is kept for replies, prints go to stderr."""
    replies = os.fdopen(os.dup(1), "wb")
    os.dup2(2, 1)
    while True:
        try:
            fn, args = pickle.load(sys.stdin.buffer)
        except EOFError:
            return
        try:
            reply = (True, fn(*args))
        except Exception:  # noqa: BLE001 - sent back to the caller
            reply = (False, traceback.format_exc())
        pickle.dump(reply, replies)
        replies.flush()


# ---------------------------------------------------------------------------
# dag_lake: DuckDB runs each step's SQL over the current snapshot files
# ---------------------------------------------------------------------------


def _norm(value) -> str | None:
    if value is None:
        return None
    if isinstance(value, Decimal):
        return str(value.normalize())
    return str(value)


def normalized(rows, columns) -> list[tuple]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted((tuple(_norm(r[i]) for i in order) for r in rows), key=repr)


def load_mirror(snapshot_files: dict[str, str], steps: dict[str, tuple[list[str], str]]) -> None:
    """Expected content of every step: ``snapshot_files`` maps each source
    table to its current snapshot parquet, ``steps`` each step dataset to
    its dependency URIs and SQL template."""
    import duckdb

    con = duckdb.connect()
    for table, data in snapshot_files.items():
        con.execute(f"CREATE VIEW snap_{table} AS SELECT * FROM read_parquet('{data}')")
    for dataset, (deps, sql) in steps.items():
        names = {}
        for dep in deps:
            scheme, rest = dep.split("://")
            last = rest.split("/")[-2]
            names[last] = f"snap_{last}" if scheme == "snapshot" else last
        con.execute(f"CREATE TABLE {dataset.split('/')[-1]} AS {sql.format(**names)}")
    _state["mirror"] = con


def table_problem(dataset: str, built_dir: str) -> str | None:
    """Compare a built table with the mirror: same columns, same row count,
    and no row of one missing from the other (``EXCEPT ALL`` is a multiset
    difference, so order is ignored)."""
    con = _state["mirror"]
    name = dataset.split("/")[-1]
    con.execute(
        f"CREATE OR REPLACE VIEW built AS SELECT * FROM read_parquet('{built_dir}/**/*.parquet', hive_partitioning = true)"
    )
    got_cols = [r[0] for r in con.execute("DESCRIBE built").fetchall()]
    want_cols = [r[0] for r in con.execute(f"DESCRIBE {name}").fetchall()]
    if sorted(got_cols) != sorted(want_cols):
        return f"{dataset}: columns {sorted(got_cols)} != {sorted(want_cols)}"
    got = con.execute("SELECT count(*) FROM built").fetchone()[0]
    want = con.execute(f"SELECT count(*) FROM {name}").fetchone()[0]
    if got != want:
        return f"{dataset}: {got} rows, expected {want}"
    cols = ", ".join(f'"{c}"' for c in sorted(want_cols))
    missing = con.execute(
        f"SELECT count(*) FROM (SELECT {cols} FROM {name} EXCEPT ALL SELECT {cols} FROM built)"
    ).fetchone()[0]
    if missing:
        return f"{dataset}: {missing} of {want} rows differ from DuckDB"
    return None


def query_problem(sql: str, rows: list[tuple], columns: list[str]) -> str | None:
    """Compare the result of a ``shelf db`` query with the mirror's."""
    res = _state["mirror"].execute(sql)
    want_cols = [d[0] for d in res.description]
    if normalized(rows, columns) != normalized(res.fetchall(), want_cols):
        return f"db query differs from DuckDB: {sql}"
    return None


# ---------------------------------------------------------------------------
# ops_iterative: registry results against their ORACLES entry
# ---------------------------------------------------------------------------


def check_correctness_module(root: str):
    """``tools/check_correctness.py`` of the checkout, imported by path."""
    if "cc" not in _state:
        spec = importlib.util.spec_from_file_location("check_correctness", Path(root) / "tools" / "check_correctness.py")
        module = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(module)
        _state["cc"] = module
    return _state["cc"]


def oracle_key(cc, sf_dir: str, name: str) -> str:
    """What a frozen oracle digest depends on: the oracle SQL, the
    normalization code and the content of the test tables. (The tables'
    content rather than their mtime: a fresh copy of the same tables must
    not send every check to the live oracle.)"""
    keys = _state.setdefault("keys", {})
    if name in keys:
        return keys[name]
    h = hashlib.sha256(cc.ORACLES[name].encode())
    h.update(inspect.getsource(cc._norm_cell).encode())
    h.update(inspect.getsource(cc._normalize).encode())
    for t in cc.TABLES:
        path = Path(cc.table_path(sf_dir, t))
        h.update(f"{t}:{path.stat().st_size}:".encode())
        h.update(hashlib.sha256(path.read_bytes()).digest())
    keys[name] = h.hexdigest()
    return keys[name]


def result_digest(normalized_rows) -> str:
    return hashlib.sha256(repr(normalized_rows).encode()).hexdigest()


def live_oracle(cc, sf_dir: str, name: str) -> dict:
    """Run one ORACLES entry on DuckDB."""
    import duckdb

    con = duckdb.connect()
    for t in cc.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{cc.table_path(sf_dir, t)}')")
    res = con.execute(cc.ORACLES[name])
    rows, cols = res.fetchall(), [d[0] for d in res.description]
    return {"columns": sorted(cols), "rows": len(rows), "digest": result_digest(cc._normalize(rows, cols))}


def freeze_oracle(root: str, sf_dir: str, name: str) -> dict:
    cc = check_correctness_module(root)
    return {"key": oracle_key(cc, sf_dir, name), **live_oracle(cc, sf_dir, name)}


def oracle_problem(root: str, sf_dir: str, name: str, rows: list[tuple], columns: list[str]) -> str | None:
    """Compare a registry result with its DuckDB oracle, normalized by
    ``tools/check_correctness.py``. The oracle is the frozen digest in
    ``oracles.json`` when its key still matches; otherwise, or when the
    result differs from it, DuckDB runs the oracle (once per query)."""
    cc = check_correctness_module(root)
    got = {"columns": sorted(columns), "rows": len(rows), "digest": result_digest(cc._normalize(rows, columns))}
    frozen = _state.setdefault("frozen", json.loads(ORACLE_FILE.read_text())).get(name)
    if frozen and frozen["key"] == oracle_key(cc, sf_dir, name) and got == {k: frozen[k] for k in got}:
        return None
    live = _state.setdefault("live", {})
    if name not in live:
        live[name] = live_oracle(cc, sf_dir, name)
    want = live[name]
    if got["columns"] != want["columns"]:
        return f"{name}: columns {got['columns']} != {want['columns']}"
    if got["rows"] != want["rows"]:
        return f"{name}: {got['rows']} rows, oracle has {want['rows']}"
    if got["digest"] != want["digest"]:
        return f"{name}: values differ from the DuckDB oracle"
    return None


if __name__ == "__main__":
    sys.path[:] = sys.argv[1:]
    _serve()
