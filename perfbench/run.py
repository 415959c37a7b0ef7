#!/usr/bin/env python3
"""Benchmark: run one workload of the engine on seeded generated inputs.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. The program is driven only through its
public functions: ``session.get_spark``, ``io.load_tables`` and the
registered query functions (``QUERIES``) of the workload's modules. One
operation is three timed calls: ``load_tables``, the query function (the
driver-side build) and a ``noop`` write (Catalyst planning + execution).
One process, one client thread, ``local[<cores>]``.

Phases: generate inputs (not timed) -> ``get_spark`` + the workload's
untimed warm-up passes (``setup_s``) -> the timed region: a fixed number
of whole passes, closed loop, sized so they take about ``--seconds`` (at
least two) -> each distinct query of the workload is checked once against
its DuckDB oracle (``oracle_sql``) on the same inputs; a mismatch fails
every operation of that query.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` adds status-store
deltas, a StreamingQueryListener and spans around every operation and
prints the per-layer metrics (spans go to ``.perfbench_out/``). Both print
a ``{"report": ...}`` line with host facts and the workload-specific
figures, then the result object as the last line.

Everything the run writes lives under ``.perfbench_work/`` in the checkout
and is removed at exit. Exit status is 2 (no result) when the program is
not present next to the benchmark.
"""

from __future__ import annotations

import argparse
import dataclasses
import importlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
from decimal import Decimal

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import probes  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

# The timed region is a fixed number of whole passes, sized from --seconds
# and the workload's nominal pass time: every run of a workload then does
# the same work in the same warm-up state. A pass count that followed the
# clock instead made slow runs also measure fewer, colder passes.
MIN_PASSES = 2


def _cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _git_commit() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=True,
        ).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return None


def _tail(latencies: list[float]) -> dict | None:
    """The highest whole percentile with at least 10 samples above it;
    None when the run has too few operations for one at or above p50."""
    n = len(latencies)
    pct = math.floor(100 * (1 - 10 / n)) if n else 0
    if pct < 50:
        return None
    value = statistics.quantiles(latencies, n=100, method="inclusive")[pct - 1]
    return {
        "latency_tail_s": value,
        "percentile": pct,
        "samples_beyond": sum(1 for x in latencies if x > value),
    }


def _union_within(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_end = 0.0, lo
    for s, e in sorted(intervals):
        s, e = max(s, cur_end), min(e, hi)
        if e > s:
            total += e - s
            cur_end = e
    return total


class Runner:
    def __init__(self, spark, workload, sf_dir: str, trace: bool):
        from flink_210225_spark.io import load_tables

        self.spark = spark
        self.sf_dir = sf_dir
        self.trace = trace
        self.warmup = workload.warmup
        self.load_tables = load_tables
        self.fns = {}
        for module, name in workload.ops:
            mod = importlib.import_module(f"flink_210225_spark.{module}")
            self.fns[name] = (module, mod.QUERIES[name], mod.ORACLES.get(name))
        self._prev_tables: dict = {}
        self.last_df: dict = {}
        self.status = self.stream = self.spans = None
        if trace:
            self.status = probes.StatusStoreProbe(spark)
            self.stream = probes.StreamProbe()
            spark.streams.addListener(self.stream)
            self.spans = probes.Spans()

    def run_op(self, name: str) -> dict:
        module, fn, _ = self.fns[name]
        rec = {"op": name, "module": module}
        w0 = time.time()
        p0 = time.perf_counter()
        p1 = p2 = p0
        try:
            tables = self.load_tables(self.spark, self.sf_dir)
            p1 = time.perf_counter()
            # a cache hit hands back the very same lazy plans as last time
            rec["miss"] = any(tables[k] is not self._prev_tables.get(k) for k in tables)
            self._prev_tables = tables
            df = fn(tables)
            p2 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            self.last_df[name] = df
        except Exception as e:  # an operation that raises is a failed one
            rec["error"] = f"{type(e).__name__}: {str(e).strip().splitlines()[0][:300]}"
        p3 = time.perf_counter()
        rec.update(io_s=p1 - p0, build_s=p2 - p1, exec_s=p3 - p2, latency_s=p3 - p0)
        if self.trace:
            self._trace(rec, w0, p0, p1, p2, p3)
        return rec

    def _trace(self, rec, w0, p0, p1, p2, p3) -> None:
        rec.update(self.status.delta())
        batches = self.stream.take()
        rec.update(probes.stream_metrics(batches))
        at = lambda p: w0 + (p - p0)  # noqa: E731  perf_counter -> epoch
        root = self.spans.add(rec["op"], at(p0), at(p3), module=rec["module"])
        self.spans.add("io.load_tables", at(p0), at(p1), root)
        build = self.spans.add("build", at(p1), at(p2), root)
        self.spans.add("exec", at(p2), at(p3), root)
        for b in batches:
            self.spans.add(
                "microbatch", b["start"], b["end"], build,
                query=b["query"], batch_id=b["batch_id"], input_rows=b["input_rows"],
            )
        covered = _union_within([(b["start"], b["end"]) for b in batches], at(p1), at(p2))
        rec["microbatch_s"] = covered
        rec["self_build_s"] = rec["build_s"] - covered

    def warm_up(self) -> tuple[dict[str, int], list[dict]]:
        """The untimed warm-up passes. A listener, removed before the timed
        region, counts the source rows each operation replays through
        streams (that turns operations into events_per_s). Returns those
        counts and the warm-up records."""
        listener = probes.StreamProbe()
        self.spark.streams.addListener(listener)
        bus = self.spark.sparkContext._jsc.sc().listenerBus()
        rows, recs = {}, []
        try:
            for _ in range(self.warmup):
                for name in self.fns:
                    recs.append(self.run_op(name))
                    bus.waitUntilEmpty()
                    rows[name] = sum(b["input_rows"] for b in listener.take())
        finally:
            self.spark.streams.removeListener(listener)
        return rows, recs


def _oracle_check(runner: Runner, oracle_dir: str) -> tuple[dict[str, str], dict[str, list]]:
    """One check per distinct query, on the DataFrame of its last timed
    operation, against ``oracle_sql`` through DuckDB. Returns the verdict
    per query and, per query that matched only up to them, its rounding
    flips (see ``_rounding_flips``)."""
    from tests.oracle import canonical_rows, duck_connect

    con = duck_connect(oracle_dir)
    out, flipped = {}, {}
    try:
        for name, (_module, _fn, sql) in runner.fns.items():
            if sql is None:
                out[name] = "no oracle"
                continue
            if name not in runner.last_df:
                out[name] = "no successful operation to check"
                continue
            try:
                got = runner.last_df[name].toPandas()
                want = con.sql(sql).df()
            except Exception as e:
                out[name] = f"check raised {type(e).__name__}: {str(e)[:200]}"
                continue
            if sorted(got.columns) != sorted(want.columns):
                out[name] = f"columns {sorted(got.columns)} != {sorted(want.columns)}"
            elif len(got) != len(want):
                out[name] = f"rows {len(got)} != {len(want)}"
            elif canonical_rows(got) == canonical_rows(want):
                out[name] = "match"
            else:
                flips = _rounding_flips(got, want)
                if flips is None:
                    out[name] = "values differ"
                else:
                    out[name] = "match"
                    flipped[name] = flips
    finally:
        con.close()
    return out, flipped


def _places(v: float) -> int:
    """Decimal places of the shortest repr of ``v``."""
    return max(0, -Decimal(repr(float(v))).as_tuple().exponent)


def _rounding_flips(got, want) -> list[dict] | None:
    """The cells where the two results differ by exactly one step of the
    decimal grid their float column is rounded to; None when they differ
    in any other way.

    Both engines sum doubles in their own order and then round, so a sum
    whose exact value lies on a rounding midpoint (half a cent, which cent
    prices times whole-percent discounts hit in about one group in 100)
    can land on either neighbour of the midpoint. Such a flip is not a
    wrong answer, and the oracle cannot tell which neighbour is right; any
    other difference still fails the check. The grid step of a column is
    the finest one among its cells in either result (at most 6 places);
    rows are paired in order of their non-float cells."""
    from tests.oracle import _canon_cell

    cols = sorted(got.columns)
    floats = [c for c in cols if got[c].dtype.kind == "f" and want[c].dtype.kind == "f"]
    keys = [c for c in cols if c not in floats]
    step = {}
    for c in floats:
        places = max((_places(v) for v in (*got[c], *want[c]) if v == v), default=0)
        if places > 6:
            return None
        step[c] = Decimal(1).scaleb(-places)

    def paired(df):
        recs = df[cols].to_dict("records")
        canon = lambda r, cs: tuple(_canon_cell(r[c]) for c in cs)  # noqa: E731
        return sorted(recs, key=lambda r: (canon(r, keys), canon(r, floats)))

    flips = []
    for g, w in zip(paired(got), paired(want)):
        if any(_canon_cell(g[c]) != _canon_cell(w[c]) for c in keys):
            return None
        for c in floats:
            a, b = g[c], w[c]
            if _canon_cell(a) == _canon_cell(b):
                continue
            if a != a or b != b:
                return None
            if abs(Decimal(repr(float(a))) - Decimal(repr(float(b)))) != step[c]:
                return None
            flips.append({"row": {k: _canon_cell(g[k]) for k in keys},
                          "column": c, "got": float(a), "oracle": float(b)})
    return flips or None


def _shutdown(spark) -> None:
    """Stop Spark, its JVM and the Python workers under it, and wait."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    procs = probes.descendants(os.getpid())
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
        deadline = time.time() + 30
        for pid in procs:
            while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
                time.sleep(0.1)
            if os.path.exists(f"/proc/{pid}"):
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass


def _mean(recs: list[dict], key: str) -> float:
    return sum(r.get(key, 0.0) for r in recs) / len(recs) if recs else 0.0


def bench(args) -> dict:
    workload = dataclasses.replace(
        WORKLOADS[args.workload],
        **{k: v for k, v in (("scale", args.scale), ("slices", args.slices)) if v is not None},
    )
    work = os.path.join(ROOT, ".perfbench_work", f"{workload.name}-{args.seed}-{os.getpid()}")
    spark = None
    try:
        os.makedirs(os.path.join(work, "tmp"))
        import gen

        manifest = gen.generate(
            os.path.join(work, "inputs"), args.seed, workload.scale, workload.slices
        )
        # Everything Spark, its Python workers and the program write goes
        # under the run's work dir.
        os.environ["TMPDIR"] = os.path.join(work, "tmp")
        tempfile.tempdir = os.environ["TMPDIR"]
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        )
        os.chdir(work)
        cores = _cores()

        t_setup = time.perf_counter()
        from flink_210225_spark.session import get_spark

        spark = get_spark(
            app_name="perfbench",
            master=f"local[{cores}]",
            extra_conf={
                "spark.ui.enabled": "false",
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                "spark.local.dir": os.path.join(work, "local"),
                # no hsperfdata file under /tmp: the run writes only in its work dir
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        get_spark_s = time.perf_counter() - t_setup
        runner = Runner(spark, workload, manifest["sf_dir"], bool(args.trace))
        rows_per_op, warm = runner.warm_up()
        if args.trace:
            runner.spans.spans.clear()  # keep the timed region's spans only
        setup_s = time.perf_counter() - t_setup

        recs: list[dict] = []
        pass_s: list[float] = []
        steal0, jiffies0 = probes.cpu_jiffies()
        t0 = time.perf_counter()
        n_passes = max(MIN_PASSES, round(args.seconds / workload.pass_s))
        while len(pass_s) < n_passes:
            p = time.perf_counter()
            for name in runner.fns:
                recs.append(runner.run_op(name))
            pass_s.append(time.perf_counter() - p)
        elapsed = time.perf_counter() - t0
        steal1, jiffies1 = probes.cpu_jiffies()

        oracle, flips = _oracle_check(runner, manifest["oracle_dir"])
        for name, cells in flips.items():
            print(f"perfbench: {name} matches its oracle up to rounding-midpoint "
                  f"flips: {cells}", file=sys.stderr)
        bad = {n for n, v in oracle.items() if v not in ("match", "no oracle")}
        failed = sum(1 for r in recs if "error" in r or r["op"] in bad)
        done = [r for r in recs if "error" not in r]
        latencies = [r["latency_s"] for r in recs]
        jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        driver_rss, jvm_rss = probes.vm_hwm_mb(os.getpid()), probes.vm_hwm_mb(jvm_pid)

        report = {
            "workload": workload.name,
            "seed": args.seed,
            "trace": args.trace,
            "cores": cores,
            "master": spark.sparkContext.master,
            "pyspark": spark.version,
            "python": sys.version.split()[0],
            "git_commit": _git_commit(),
            "scale": workload.scale,
            "events_slices": workload.slices,
            "rows": manifest["rows"],
            "input_sha256": manifest["sha256"],
            "get_spark_s": get_spark_s,
            "warmup_s": setup_s - get_spark_s,
            "warmup_s_by_op": {
                n: [r["latency_s"] for r in warm if r["op"] == n] for n in runner.fns
            },
            "passes": len(pass_s),
            "pass_s": pass_s,
            "latency_p50_s": statistics.median(latencies),
            "ops": len(recs),
            "fail_ratio": failed / len(recs),
            "errors": {r["op"]: r["error"] for r in recs if "error" in r},
            "oracle": oracle,
            "oracle_rounding_flips": flips,
            "latency_by_op": {
                n: statistics.median(r["latency_s"] for r in recs if r["op"] == n)
                for n in runner.fns
            },
            "tail": _tail(latencies),
            "peak_rss_mb": driver_rss + jvm_rss,
            "cpu_steal_share": (steal1 - steal0) / max(1, jiffies1 - jiffies0),
        }
        if any(rows_per_op.values()):
            report["stream_rows_per_op"] = rows_per_op
            report["events_per_s"] = sum(rows_per_op[r["op"]] for r in done) / elapsed

        if not args.trace:
            metrics = {
                "setup_s": (setup_s, "s"),
                "ops_per_s": (len(done) / elapsed, "1/s"),
                "pass_p50_s": (statistics.median(pass_s), "s"),
            }
        else:
            metrics = {
                "session.get_spark_s": (get_spark_s, "s"),
                "io.load_tables_s": (_mean(recs, "io_s"), "s"),
                "io.load_tables_miss": (sum(1 for r in recs if r.get("miss")), "count"),
                "build_s": (_mean(recs, "build_s"), "s"),
                "exec_s": (_mean(recs, "exec_s"), "s"),
                "traced_ops_per_s": (len(done) / elapsed, "1/s"),
                "driver.peak_rss_mb": (driver_rss, "MB"),
                "jvm.peak_rss_mb": (jvm_rss, "MB"),
            }
            for key, unit in (
                ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
                ("spark.input_bytes", "B"), ("spark.shuffle_read_bytes", "B"),
                ("spark.shuffle_write_bytes", "B"), ("spark.spill_bytes", "B"),
                ("spark.output_bytes", "B"), ("spark.executor_run_s", "s"),
                ("spark.executor_cpu_s", "s"), ("spark.gc_s", "s"),
            ):
                metrics[key] = (_mean(recs, key), unit)
            report["layers"] = _layer_report(recs, runner, cores, elapsed)
            spans_path = os.path.join(
                ROOT, ".perfbench_out", f"spans-{workload.name}-seed{args.seed}.json"
            )
            runner.spans.dump(spans_path)
            report["spans_file"] = os.path.relpath(spans_path, ROOT)
        return {
            "report": report,
            "result": {
                "correct": not bad and failed == 0,
                "attempted": len(recs),
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            },
        }
    finally:
        os.chdir(ROOT)
        if spark is not None:
            _shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def _layer_report(recs: list[dict], runner: Runner, cores: int, elapsed: float) -> dict:
    """Workload-specific per-layer figures: per-module build/exec, stream
    listener metrics, span self times and busy time against wall x cores."""
    out: dict = {}
    for module in sorted({r["module"] for r in recs}):
        mine = [r for r in recs if r["module"] == module]
        out[f"{module}.build_s"] = _mean(mine, "build_s")
        out[f"{module}.exec_s"] = _mean(mine, "exec_s")
    for key in (
        "stream.batches", "stream.input_rows", "stream.add_batch_s", "stream.wal_commit_s",
        "stream.query_planning_s", "stream.state_commit_s", "stream.state_rows",
        "stream.state_bytes", "stream.late_rows",
    ):
        out[key] = _mean(recs, key)
    batch_p50 = [r["stream.batch_p50_s"] for r in recs if r.get("stream.batches")]
    out["stream.batch_p50_s"] = statistics.median(batch_p50) if batch_p50 else 0.0
    build = sum(r["build_s"] for r in recs)
    out["span.self.io_s"] = _mean(recs, "io_s")
    out["span.self.build_s"] = _mean(recs, "self_build_s")
    out["span.self.exec_s"] = _mean(recs, "exec_s")
    out["span.microbatch_s"] = _mean(recs, "microbatch_s")
    out["microbatch_share_of_build"] = (
        sum(r["microbatch_s"] for r in recs) / build if build else 0.0
    )
    out["executor_busy_share"] = sum(r["spark.executor_run_s"] for r in recs) / (
        elapsed * cores
    )
    out["by_op"] = {
        name: {
            k: _mean([r for r in recs if r["op"] == name], k)
            for k in ("latency_s", "io_s", "build_s", "exec_s", "microbatch_s",
                      "spark.jobs", "spark.stages", "spark.tasks",
                      "spark.executor_run_s", "stream.batches")
        }
        for name in runner.fns
    }
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, help="override the workload's input scale")
    ap.add_argument("--slices", type=int, help="override the events slice count")
    args = ap.parse_args(argv)
    missing = [
        p for p in ("flink_210225_spark/__init__.py", "tests/oracle.py")
        if not os.path.isfile(os.path.join(ROOT, p))
    ]
    if missing:
        print(f"perfbench: program files missing from {ROOT}: {missing}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # a terminated run still stops Spark and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    out = bench(args)
    print(json.dumps({"report": out["report"]}), flush=True)
    print(json.dumps(out["result"]), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
