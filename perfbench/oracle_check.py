"""Compare every materialized result with its DuckDB oracle.

The checks run in a helper process (``OracleProcess``), which also
generates the input tables and stages each ``events`` refresh, so that
neither DuckDB nor the data generator adds to the measured process's
memory or time.

The comparison is ``tests/oracle.py::assert_matches_oracle``, fed the
already-materialized pandas frame and a cached oracle frame, so the
benchmark applies exactly the canonicalization the correctness tests do.
Oracle frames are cached per data version; a refresh bumps the version.
"""

from __future__ import annotations

import multiprocessing
import os

# Known divergences of an oracle from pandas semantics, keyed by query:
# (column, value the SQL returns where pandas returns None). The
# program's output must still equal the oracle after that one value is
# read as None; such a result is reported as a wrong result by name,
# but does not mark the run incorrect.
#   string_methods_battery: str.extract returns None on no match,
#   DuckDB's regexp_extract returns ''.
KNOWN_ORACLE_DIVERGENCE = {"string_methods_battery": ("first_a_word", "")}


class _Materialized:
    def __init__(self, pdf):
        self._pdf = pdf

    def toPandas(self):  # noqa: N802 — the Spark DataFrame method name
        return self._pdf


class _Cached:
    def __init__(self, pdf):
        self._pdf = pdf

    def execute(self, _sql):
        return self

    def df(self):
        return self._pdf.copy()


class OracleChecker:
    def __init__(self, data_dir: str, oracles: dict[str, str]):
        self._data_dir = data_dir
        self._oracles = oracles
        from tests.oracle import duck_connect

        self._con = duck_connect(data_dir)
        self._cache: dict[str, object] = {}
        self._last: dict[str, tuple] = {}  # name -> (result, verdict, detail)

    def data_changed(self) -> None:
        """Re-point views at rewritten tables and drop cached answers."""
        self._cache.clear()
        self._last.clear()
        for t in os.listdir(self._data_dir):
            path = os.path.join(self._data_dir, t)
            if os.path.isdir(path):  # a Spark-written table is a directory
                self._con.execute(
                    f"CREATE OR REPLACE VIEW {t.removesuffix('.parquet')} AS "
                    f"SELECT * FROM read_parquet('{path}/*.parquet')")

    def _expected(self, name: str):
        if name not in self._cache:
            self._cache[name] = self._con.execute(self._oracles[name]).df()
        return self._cache[name]

    def check(self, name: str, pdf) -> tuple[str, str]:
        """Returns (verdict, detail); verdict is OK, KNOWN_DIVERGENCE or WRONG."""
        last = self._last.get(name)
        if last is not None and last[0].equals(pdf):  # same answer, same data
            return last[1], last[2]
        verdict, detail = self._compare(name, pdf)
        self._last[name] = (pdf, verdict, detail)
        return verdict, detail

    def _compare(self, name: str, pdf) -> tuple[str, str]:
        from tests.oracle import assert_matches_oracle

        exp = self._expected(name)
        try:
            assert_matches_oracle(_Materialized(pdf), _Cached(exp), "", name=name)
            return "OK", ""
        except AssertionError as e:
            detail = str(e).splitlines()[0]
        known = KNOWN_ORACLE_DIVERGENCE.get(name)
        if known is not None:
            col, sql_value = known
            fixed = exp.copy()
            hit = fixed[col] == sql_value
            fixed.loc[hit, col] = None
            try:
                assert_matches_oracle(_Materialized(pdf), _Cached(fixed), "", name=name)
                return "KNOWN_DIVERGENCE", f"{col}: {int(hit.sum())} rows None vs {sql_value!r}"
            except AssertionError:
                pass
        return "WRONG", detail


def _serve(conn, data_dir: str, seed: int, sf: float) -> None:
    """The helper process: generate the tables, then answer requests."""
    import pyarrow.parquet as pq

    from perfbench import datagen

    datagen.generate(data_dir, seed, sf)
    events = pq.read_table(os.path.join(data_dir, "events.parquet"))
    checker = None
    conn.send("ready")
    while True:
        op, *args = conn.recv()
        if op == "stop":
            break
        if op == "oracles":
            checker = OracleChecker(data_dir, args[0])
            conn.send(None)
        elif op == "check":
            conn.send([checker.check(name, pdf) for name, pdf in args[0]])
        elif op == "stage":  # write a refreshed copy of events to args[0]
            pq.write_table(datagen.refreshed_events(events, args[1]), args[0])
            conn.send(None)
        elif op == "changed":
            if checker is not None:
                checker.data_changed()
            conn.send(None)


class OracleProcess:
    """Client of the helper process; one request at a time."""

    def __init__(self, data_dir: str, seed: int, sf: float):
        # fork, not spawn: spawn starts multiprocessing's resource
        # tracker, a process that outlives the run. The fork happens
        # before the Spark session exists, so no JVM or thread is copied.
        ctx = multiprocessing.get_context("fork")
        self._conn, child = ctx.Pipe()
        self._proc = ctx.Process(target=_serve, args=(child, data_dir, seed, sf),
                                 name="perfbench-oracle")
        self._proc.start()
        child.close()
        self._conn.recv()  # "ready": the tables exist

    def _call(self, *msg):
        self._conn.send(msg)
        return self._conn.recv()

    def set_oracles(self, oracles: dict[str, str]) -> None:
        self._call("oracles", oracles)

    def check_all(self, results: list[tuple[str, object]]) -> list[tuple[str, str]]:
        """Verdicts (see ``OracleChecker.check``) for ``(name, pdf)`` pairs."""
        return self._call("check", results)

    def stage_events(self, path: str, seed: int) -> None:
        self._call("stage", path, seed)

    def data_changed(self) -> None:
        self._call("changed")

    def close(self) -> None:
        if self._proc.is_alive():
            try:
                self._conn.send(("stop",))
            except OSError:
                pass
        self._proc.join(timeout=60)
        if self._proc.is_alive():
            self._proc.kill()
            self._proc.join()
        self._conn.close()
