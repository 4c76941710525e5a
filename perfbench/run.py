#!/usr/bin/env python3
"""End-to-end benchmark of go_pandas_spark, split by layer.

    python3 perfbench/run.py --workload relational_repeat --seed 1 --seconds 10 --trace 0

Generates the suite's tables from ``--seed`` under a private temp dir of
the checkout, starts one Spark session on ``local[<nproc>]`` and runs
one closed-loop client over the workload's queries (perfbench/
workloads.py). A timed query is ``QUERIES[name](spark, sf_dir)`` plus
``toPandas()`` of its result, so every output column is computed and
shipped to the driver. Outside the timer every result is compared with
its DuckDB oracle on the files the query read.

A run is: set-up, one cold pass, the workload's warm passes, then a
fixed number of steady passes. ``--trace 1`` alternates
untraced and traced steady passes; a traced pass splits each query into
build, plan, action (the physical plan run without shipping rows) and
transfer, and reports the per-layer metrics instead of the end-to-end
ones.

``pass_s`` is given at a reference host speed: the measured median pass
times (``REF_PROBE_S`` over the mean of the host probes) to the power of
the workload's ``probe_exponent``; the probes (SparkProbe.host_job, a
fixed no-op job) are taken before the steady passes and after every
query in them. On a shared host a run's queries
can take twice as long for minutes at a time while a CPU-bound loop
barely slows; the no-op job slows with them, so such a phase reads as
much less of a regression. The raw times and every probe are printed.
``setup_s``, with its JVM launch, is measured once per run, unscaled: it
does not move with the probe.

Every process the run starts (the JVM, its Python workers, the oracle
helper) has ended before it exits, on every path out of it.

The last line of stdout is one JSON object:
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import math
import os
import random
import shutil
import signal
import statistics
import sys
import tempfile
import threading
import time
import weakref

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.oracle_check import OracleProcess  # noqa: E402
from perfbench.probes import SparkProbe, Spans, peak_rss_mb  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

DRIVER_MEM = "2g"
MIN_STEADY_PASSES = 2
QUERY_TIMEOUT_S = 60.0
# No new steady pass starts after RUN_BUDGET_S + --seconds of run time
# (twice --seconds when traced): on a slow or busy host a run measures
# fewer steady passes, at least MIN_STEADY_PASSES, instead of overrunning
# its time slot.
RUN_BUDGET_S = 48.0
# pass_s is reported at the host speed where SparkProbe.host_job() takes
# REF_PROBE_S on average (typical of a 4-vCPU 2.0 GHz host), scaled by
# the workload's probe_exponent.
REF_PROBE_S = 0.04
TAIL_PCT = 90.0

END_TO_END = {"setup_s": "s", "pass_s": "s"}  # name -> unit
PER_LAYER = {
    "session.start_s": "s", "suite.register_s": "s", "scan.first_s": "s", "cold_pass_s": "s",
    "build.s": "s", "build.jobs": "count", "build.share": "ratio",
    "memo.hit_ratio": "ratio", "memo.builds": "count",
    "plan.s": "s", "plan.exchanges": "count", "plan.python_nodes": "count",
    "action.s": "s", "action.jobs": "count", "action.tasks": "count",
    "action.shuffle_write_bytes": "bytes", "action.input_bytes": "bytes",
    "action.spill_bytes": "bytes", "action.count_s": "s",
    "transfer.s": "s", "transfer.rows": "count", "transfer.bytes": "bytes",
    "io.to_parquet_s": "s", "io.write_bytes": "bytes",
    "internal.clear_cache_s": "s", "internal.pins_released": "count",
    "internal.cached_bytes": "bytes", "jvm.gc_s": "s", "peak_rss_mb": "MB",
    "host.probe_s": "s",
    "trace.pass_s": "s", "trace.untraced_pass_s": "s", "trace.overhead_s": "s",
    "trace.samples": "count", "oracle.wrong": "count",
    "query.p50_s": "s", "query.tail_s": "s",
}


def _log(msg: str) -> None:
    print(msg, flush=True)


def _isolate_environment(work: str) -> None:
    """Pin every setting the program reads from the environment, and keep
    every file Spark or Python writes inside ``work``."""
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None  # re-read TMPDIR
    # Python workers import the package from the checkout, whatever their cwd
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # every JVM spark-submit starts (launcher and driver): temp files in
    # ``work``, and no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        f"--conf spark.ui.showConsoleProgress=false pyspark-shell")


def _adopt_orphans() -> None:
    """Make this process the child subreaper of everything it starts, so
    a process whose parent ended first (a Python worker of the JVM's
    worker daemon, say) becomes its child and ``_stop_children`` sees it."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass


def _children() -> list[int]:
    me, out = os.getpid(), []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[1]) == me and fields[0] != "Z":
            out.append(int(name))
    return out


def _stop_children(grace_s: float = 10.0) -> None:
    """Stop every process the run left behind and wait until each has
    ended: SIGTERM, then SIGKILL after ``grace_s``."""
    deadline = time.monotonic() + grace_s
    while True:
        while True:  # reap whatever has ended
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                break
            if pid == 0:
                break
        kids = _children()
        if not kids:
            return
        sig = signal.SIGTERM if time.monotonic() < deadline else signal.SIGKILL
        sys.stderr.write(f"perfbench: stopping left-over processes {kids} ({sig.name})\n")
        for pid in kids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.2)


def _on_sigterm(signum, _frame):
    raise SystemExit(128 + signum)  # so every ``finally`` runs


def _percentile(samples: list[float], pct: float) -> float:
    """Nearest-rank percentile."""
    xs = sorted(samples)
    return xs[max(0, math.ceil(pct / 100.0 * len(xs)) - 1)] if xs else 0.0


class Bench:
    def __init__(self, args, work: str):
        self.args = args
        self.wl = WORKLOADS[args.workload]
        self.data_dir = os.path.join(work, "data")
        self.stage_dir = os.path.join(work, "stage")
        self.rng = random.Random(args.seed)
        self.spans = Spans()
        self.t_run = time.perf_counter()
        self.deadline = RUN_BUDGET_S + args.seconds * (1 + args.trace)
        self.qid = 0
        self.cycle = 0
        self.last_build: dict[str, weakref.ref] = {}
        self.verdicts: dict[str, dict[str, int]] = {}
        self.details: dict[str, str] = {}
        self.attempted = 0
        self.failed = 0
        self.correct = True
        self.setup: dict[str, float] = {}
        self.probes: list[float] = []   # host probe after every steady query
        self.pending: list[tuple] = []  # results checked after each pass
        self.spark = None
        # generates the tables, then checks results and stages refreshes
        self.oracle = OracleProcess(self.data_dir, args.seed, self.wl.sf)

    def _probe(self) -> None:
        a = time.perf_counter()
        self.probes.append(self.probe.host_job())
        self.spans.add("host_probe", "host", a, time.perf_counter(), seconds=self.probes[-1])

    # ---------------- set-up ----------------

    def set_up(self) -> None:
        t0 = time.perf_counter()
        import go_pandas_spark as gp

        self.gp = gp
        self.spark = gp.get_spark("perfbench")
        t1 = time.perf_counter()
        from go_pandas_spark.suite import ORACLES, QUERIES, register_all

        register_all()
        self.queries = QUERIES
        t2 = time.perf_counter()
        self.spark.read.parquet(os.path.join(self.data_dir, "lineitem.parquet")) \
            .write.format("noop").mode("overwrite").save()
        t3 = time.perf_counter()
        self.setup = {"session.start_s": t1 - t0, "suite.register_s": t2 - t1,
                      "scan.first_s": t3 - t2, "setup_s": t3 - t0}
        for name, a, b in (("session", t0, t1), ("register", t1, t2), ("first_scan", t2, t3)):
            self.spans.add(name, "setup", a, b)
        self.probe = SparkProbe(self.spark)
        missing = [q for q in self.wl.queries if q not in QUERIES or q not in ORACLES]
        if missing:
            raise SystemExit(f"perfbench: queries without an oracle: {missing}")
        self.oracle.set_oracles({q: ORACLES[q] for q in self.wl.queries})
        os.makedirs(self.stage_dir)

    def clear_cache(self) -> dict:
        """The service barrier, once after the measured passes."""
        a = time.perf_counter()
        released = self.gp.clear_cache()
        b = time.perf_counter()
        self.spans.add("clear_cache", "barrier", a, b, **released)
        return {"internal.clear_cache_s": b - a, "internal.pins_released": released["pins"]}

    def tear_down(self) -> None:
        try:
            if self.spark is not None:
                from pyspark import SparkContext

                self.spark.stop()
                gw = SparkContext._gateway
                if gw is not None:
                    proc = getattr(gw, "proc", None)
                    gw.shutdown()
                    if proc is not None:
                        proc.stdin.close()  # the JVM exits when its stdin closes
                        proc.wait(timeout=60)
        finally:
            self.oracle.close()

    # ---------------- one query ----------------

    def _timed_call(self, group: str, fn):
        """Run ``fn`` under a job group that is cancelled after the timeout."""
        sc = self.probe.sc
        sc.setJobGroup(group, group, True)  # interrupt tasks on cancel
        timer = threading.Timer(QUERY_TIMEOUT_S, sc.cancelJobGroup, (group,))
        timer.start()
        try:
            t = time.perf_counter()
            out = fn()
            return out, t, time.perf_counter()
        finally:
            timer.cancel()

    def _build(self, name: str, group: str, qid: str, rec: dict):
        df, a, b = self._timed_call(group, lambda: self.queries[name](self.spark, self.data_dir))
        last = self.last_build.get(name)
        rec["memo_hit"] = last is not None and last() is df
        self.last_build[name] = weakref.ref(df)
        rec["build_s"] = b - a
        self.spans.add("build", qid, a, b, parent="query", memo_hit=rec["memo_hit"])
        return df

    def run_query(self, name: str, traced: bool) -> dict:
        self.qid += 1
        qid = f"q{self.qid}"
        rec: dict = {"name": name, "qid": qid, "traced": traced, "ok": False}
        self.attempted += 1
        t_start = time.perf_counter()
        try:
            if traced:
                pdf = self._traced_query(name, qid, rec)
            else:
                df = self._build(name, qid, qid, rec)
                pdf, a, b = self._timed_call(qid, df.toPandas)
                del df
                rec["latency_s"] = rec["build_s"] + (b - a)
                self.spans.add("to_pandas", qid, a, b, parent="query")
            rec["ok"] = True
        except Exception as e:  # noqa: BLE001 — a failed query is counted, the run goes on
            pdf = None
            self.failed += 1
            self.details[name] = f"{type(e).__name__}: {str(e).splitlines()[0][:200]}"
            rec["latency_s"] = time.perf_counter() - t_start
        self.spans.add("query", qid, t_start, time.perf_counter(), query=name, traced=traced)
        self.pending.append((name, pdf))
        return rec

    def _traced_query(self, name: str, qid: str, rec: dict):
        probe = self.probe
        df = self._build(name, qid + ".build", qid, rec)
        rec["build_jobs"] = len(probe.jobs(qid + ".build"))

        a = time.perf_counter()
        rec["plan_s"], text = probe.plan(df)
        rec.update({f"plan_{k}": v for k, v in probe.plan_counts(text).items()})
        self.spans.add("plan", qid, a, a + rec["plan_s"], parent="query")

        # action: run the frame's own physical plan -- the one toPandas
        # runs -- over every row and column, shipping nothing back
        g = qid + ".action"
        _, a, b = self._timed_call(g, lambda: self._execute(df))
        rec["action_s"] = b - a
        jobs = probe.jobs(g)
        rec["action_jobs"] = len(jobs)
        rec.update({f"action_{k}": v for k, v in probe.stage_totals(jobs).items()})
        self.spans.add("action", qid, a, b, parent="query", jobs=len(jobs))
        rec["cached_bytes"] = probe.cached_bytes()

        # transfer: toPandas minus a second run of the same plan, both
        # after the first one (AQE reuses the materialized shuffle stages)
        pdf, a, b = self._timed_call(qid + ".transfer", df.toPandas)
        rec["to_pandas_s"] = b - a
        self.spans.add("to_pandas", qid, a, b, parent="query", rows=len(pdf))
        _, a2, b2 = self._timed_call(qid + ".action2", lambda: self._execute(df))
        self.spans.add("action_again", qid, a2, b2, parent="query")
        rec["transfer_s"] = rec["to_pandas_s"] - (b2 - a2)
        rec["transfer_rows"] = len(pdf)
        rec["transfer_bytes"] = int(pdf.memory_usage(index=False, deep=True).sum())

        # diagnostic only: what count() would have reported
        _, a, b = self._timed_call(qid + ".count", df.count)
        rec["count_s"] = b - a
        self.spans.add("count", qid, a, b, parent="query")
        del df
        rec["latency_s"] = rec["build_s"] + rec["plan_s"] + rec["action_s"] \
            + rec["to_pandas_s"] + (b2 - a2) + rec["count_s"]
        return pdf

    @staticmethod
    def _execute(df) -> None:
        df._jdf.queryExecution().toRdd().count()

    def _check_pending(self) -> None:
        """Oracle verdicts for the pass's results, counted by query name."""
        done = [(name, pdf) for name, pdf in self.pending if pdf is not None]
        verdicts = iter(self.oracle.check_all(done))
        for name, pdf in self.pending:
            if pdf is None:
                verdict = "FAILED"
            else:
                verdict, detail = next(verdicts)
                if detail:
                    self.details[name] = detail
            if verdict in ("FAILED", "WRONG"):
                self.correct = False
            counts = self.verdicts.setdefault(name, {})
            counts[verdict] = counts.get(verdict, 0) + 1
        self.pending.clear()

    # ---------------- one pass ----------------

    def _refresh(self, rec: dict) -> None:
        """Rewrite events through to_parquet: same rows, new values. The
        frame to write is built from a staged file before the timer, so
        only ``to_parquet`` is timed."""
        self.cycle += 1
        path = os.path.join(self.data_dir, "events.parquet")
        staged = os.path.join(self.stage_dir, f"events-{self.cycle}.parquet")
        self.oracle.stage_events(staged, self.args.seed * 1_000 + self.cycle)
        frame = self.gp.read_parquet(self.spark, staged)
        a = time.perf_counter()
        self.gp.to_parquet(frame, path)
        b = time.perf_counter()
        del frame
        os.remove(staged)
        rec["write_s"] = b - a
        rec["write_bytes"] = sum(os.path.getsize(os.path.join(path, f))
                                 for f in os.listdir(path) if f.endswith(".parquet"))
        self.spans.add("write", f"w{self.cycle}", a, b, bytes=rec["write_bytes"])
        self.oracle.data_changed()

    def run_pass(self, kind: str, traced: bool = False) -> dict:
        rec: dict = {"kind": kind, "traced": traced, "queries": []}
        if traced:
            gc0 = self.probe.gc_seconds()
        if self.wl.refresh:
            self._refresh(rec)
        for name in self.rng.sample(self.wl.queries, len(self.wl.queries)):
            rec["queries"].append(self.run_query(name, traced))
            if kind == "steady":
                self._probe()
        rec["seconds"] = rec.get("write_s", 0.0) + sum(q["latency_s"] for q in rec["queries"])
        if traced:
            rec["gc_s"] = self.probe.gc_seconds() - gc0
        self._check_pending()
        return rec

    # ---------------- the run ----------------

    def measure(self) -> list[dict]:
        passes = [self.run_pass("cold")]
        passes += [self.run_pass("warm") for _ in range(self.wl.warm_passes)]
        self._probe()
        n_steady = max(MIN_STEADY_PASSES, round(self.wl.passes_per_10s * self.args.seconds / 10))
        n_untraced, n_traced = n_steady, 0
        if self.args.trace:  # alternate untraced and traced passes
            n_untraced = n_traced = max(MIN_STEADY_PASSES, n_steady // 2)
        while True:
            n_u = sum(p["kind"] == "steady" and not p["traced"] for p in passes)
            n_t = sum(p["traced"] for p in passes)
            if n_u >= n_untraced and n_t >= n_traced:
                break
            if time.perf_counter() - self.t_run > self.deadline \
                    and n_u >= MIN_STEADY_PASSES and n_t >= min(MIN_STEADY_PASSES, n_traced):
                _log(f"deadline: stopped after {len(passes)} passes")
                break
            passes.append(self.run_pass("steady", traced=n_t < n_traced and n_t < n_u))
        return passes


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _steady(passes: list[dict]) -> list[dict]:
    return [p for p in passes if p["kind"] == "steady" and not p["traced"]]


def latency(passes: list[dict]) -> dict:
    """Median and p90 latency of one timed query in the untraced steady passes."""
    lat = [q["latency_s"] for p in _steady(passes) for q in p["queries"]]
    tail = _percentile(lat, TAIL_PCT)
    _log(f"query latency: p50 = {_median(lat):.4f} s, p{TAIL_PCT:.0f} = {tail:.4f} s "
         f"over {len(lat)} samples ({sum(x > tail for x in lat)} beyond it)")
    return {"query.p50_s": _median(lat), "query.tail_s": tail}


def host_scale(bench: Bench) -> float:
    """Multiplies a raw pass time into one at the reference host speed.
    The mean probe, since a pass time adds up the host's slowdowns."""
    return (REF_PROBE_S / statistics.mean(bench.probes)) ** bench.wl.probe_exponent


def end_to_end(bench: Bench, passes: list[dict]) -> dict:
    steady = _steady(passes)
    raw = {"setup_s": bench.setup["setup_s"], "cold_pass_s": passes[0]["seconds"],
           "pass_s": _median([p["seconds"] for p in steady])}
    scale = host_scale(bench)
    _log(f"steady passes: {len(steady)} (after {len(passes) - len(steady)} cold/warm; "
         f"pass times {[round(p['seconds'], 3) for p in passes if not p['traced']]})")
    _log(f"host probe: mean {statistics.mean(bench.probes):.4f} s over "
         f"{[round(x, 4) for x in bench.probes]}; scale {scale:.3f}; "
         "raw " + ", ".join(f"{k} {v:.3f}" for k, v in raw.items()))
    _log(f"peak RSS MB: python {peak_rss_mb(None):.0f}, python+jvm "
         f"{peak_rss_mb(bench.probe.jvm_pid()):.0f}")
    latency(passes)
    return {"setup_s": raw["setup_s"], "pass_s": raw["pass_s"] * scale}


def per_layer(bench: Bench, passes: list[dict]) -> dict:
    traced = [p for p in passes if p["traced"]]
    untraced = _steady(passes)
    qs = [q for p in traced for q in p["queries"] if q["ok"]]

    def per_pass(key: str) -> float:
        return _median([sum(q.get(key, 0) for q in p["queries"] if q["ok"]) for p in traced])

    def per_pass_rec(key: str) -> float:
        return _median([p.get(key, 0.0) for p in traced])

    build = sum(q["build_s"] for q in qs)
    wall = sum(q["build_s"] + q["to_pandas_s"] for q in qs)
    all_builds = [q for p in passes for q in p["queries"] if "memo_hit" in q]
    hits = sum(q["memo_hit"] for q in all_builds)
    t_pass, u_pass = per_pass_rec("seconds"), _median([p["seconds"] for p in untraced])
    out = {k: bench.setup[k] for k in ("session.start_s", "suite.register_s", "scan.first_s")}
    out["cold_pass_s"] = passes[0]["seconds"]
    out.update(latency(passes))
    out.update({
        "build.s": per_pass("build_s"), "build.jobs": per_pass("build_jobs"),
        "build.share": build / wall if wall else 0.0,
        "memo.hit_ratio": hits / len(all_builds) if all_builds else 0.0,
        "memo.builds": len(all_builds),
        "plan.s": per_pass("plan_s"), "plan.exchanges": per_pass("plan_exchanges"),
        "plan.python_nodes": per_pass("plan_python_nodes"),
        "action.s": per_pass("action_s"), "action.jobs": per_pass("action_jobs"),
        "action.tasks": per_pass("action_tasks"),
        "action.shuffle_write_bytes": per_pass("action_shuffle_write_bytes"),
        "action.input_bytes": per_pass("action_input_bytes"),
        "action.spill_bytes": per_pass("action_spill_bytes"),
        "action.count_s": per_pass("count_s"),
        "transfer.s": per_pass("transfer_s"), "transfer.rows": per_pass("transfer_rows"),
        "transfer.bytes": per_pass("transfer_bytes"),
        "io.to_parquet_s": per_pass_rec("write_s"),
        "io.write_bytes": per_pass_rec("write_bytes"),
        "internal.cached_bytes": _median(
            [max([q.get("cached_bytes", 0) for q in p["queries"]] or [0]) for p in traced]),
        "jvm.gc_s": per_pass_rec("gc_s"), "peak_rss_mb": peak_rss_mb(bench.probe.jvm_pid()),
        "host.probe_s": statistics.mean(bench.probes),
        "trace.pass_s": t_pass, "trace.untraced_pass_s": u_pass,
        "trace.overhead_s": t_pass - u_pass,
        "trace.samples": len(qs),
        "oracle.wrong": sum(c.get("WRONG", 0) + c.get("KNOWN_DIVERGENCE", 0)
                            for c in bench.verdicts.values()),
    })
    _log(f"traced passes: {len(traced)} ({len(qs)} query samples), untraced steady "
         f"passes: {len(untraced)}")
    _log(f"build.share = {build:.3f} s build / {wall:.3f} s build+toPandas over {len(qs)} "
         f"traced queries; memo.hit_ratio = {hits}/{len(all_builds)} builds")
    _log("per query (median over traced passes): build_s plan_s action_s count_s "
         "transfer_s build_jobs action_jobs")
    for name in bench.wl.queries:
        rows = [q for q in qs if q["name"] == name]
        if rows:
            med = [_median([q[k] for q in rows]) for k in (
                "build_s", "plan_s", "action_s", "count_s", "transfer_s",
                "build_jobs", "action_jobs")]
            _log(f"  {name}: " + " ".join(f"{v:.4g}" for v in med) + f" (n={len(rows)})")
    return out


def run(args, work: str) -> dict:
    bench = Bench(args, work)
    try:
        bench.set_up()
        passes = bench.measure()
        metrics = end_to_end(bench, passes) if not args.trace else per_layer(bench, passes)
        barrier = bench.clear_cache()
        _log(f"clear_cache: {barrier['internal.clear_cache_s']:.4f} s, "
             f"{barrier['internal.pins_released']} pins released")
        metrics.update(barrier)
    finally:
        bench.tear_down()
    bench.spans.dump(os.path.join(
        ROOT, ".perfbench", f"trace-{args.workload}-{args.seed}-{int(args.trace)}.jsonl"))
    wrong = 0
    for name in bench.wl.queries:
        counts = bench.verdicts.get(name, {})
        wrong += counts.get("WRONG", 0) + counts.get("KNOWN_DIVERGENCE", 0)
        detail = f" — {bench.details[name]}" if name in bench.details else ""
        _log(f"oracle {name}: " + ", ".join(f"{k} x{v}" for k, v in sorted(counts.items()))
             + detail)
    _log(f"wrong_results: {wrong}; failed_ratio: {bench.failed}/{bench.attempted}")
    units = PER_LAYER if args.trace else END_TO_END
    return {"correct": bench.correct, "attempted": bench.attempted, "failed": bench.failed,
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()}}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "go_pandas_spark", "__init__.py")):
        sys.stderr.write("perfbench: go_pandas_spark is not in this checkout\n")
        return 2
    signal.signal(signal.SIGTERM, _on_sigterm)
    _adopt_orphans()
    state = os.path.join(ROOT, ".perfbench")
    os.makedirs(state, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=state)
    try:
        _isolate_environment(work)
        result = run(args, work)
    finally:
        _stop_children()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
