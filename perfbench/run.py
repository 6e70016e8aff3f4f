"""The repository benchmark: one workload, one seed, one SparkSession.

    python3 perfbench/run.py --workload analytics_read --seed 1 --seconds 8 --trace 0

One closed-loop client runs the workload's op list in passes, each pass in
seed-shuffled order: ``analytics_read`` until ``--seconds`` have elapsed (at
least three passes), ``lakehouse_commits`` a fixed number of rounds, so that
every run commits the same sequence whatever the engine's speed.
Every op's output is checked outside its timed region. With ``--trace 0``
the run reports the end-to-end metrics; with ``--trace 1`` it alternates
untraced and traced passes and reports the per-layer metrics. The last
line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. See README.md.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from collections import defaultdict  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import lakehouse  # noqa: E402
import ops as query_ops  # noqa: E402
import tracing  # noqa: E402

WORKLOADS = [*query_ops.WORKLOADS, "lakehouse_commits"]
DEFAULT_SCALE = 0.01

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "op_geomean_s": "s",
    "slowest_op_s": "s",
    "peak_rss_mb": "MB",
}
_COUNTERS = [
    "queries.jobs", "queries.stages", "queries.tasks",
    "catalog.scan_time_ms", "catalog.files_read", "catalog.bytes_read", "catalog.rows_read",
    "operators.exchanges", "operators.reused_exchanges", "operators.shuffle_bytes",
    "operators.shuffle_fetch_wait_ms", "operators.broadcast_build_ms",
    "operators.broadcast_bytes", "operators.spill_bytes", "operators.agg_time_ms",
    "operators.python_nodes", "operators.python_rows", "operators.python_bytes",
    "operators.python_boot_ms", "operators.python_init_ms", "operators.python_eval_ms",
    "functions.spread_shuffle_bytes",
    "txlog.commit_jobs", "txlog.files_added", "txlog.files_removed",
    "txlog.data_bytes_written", "txlog.log_bytes_written",
]
_SPAN_METRICS = {
    "queries.plan_s": "queries.plan",
    "catalog.load_table_s": "catalog.load_table",
    "io.read_parquet_s": "io.read_parquet",
    "txlog.append_s": "txlog.append",
    "txlog.merge_into_s": "txlog.merge_into",
    "txlog.delete_where_s": "txlog.delete_where",
    "txlog.delete_where_dv_s": "txlog.delete_where_dv",
    "txlog.optimize_s": "txlog.optimize",
    "txlog.snapshot_s": "txlog.snapshot",
    "txlog.read_plan_s": "txlog.read_plan",
    "logstore.write_s": "logstore.write",
    "logstore.read_s": "logstore.read",
}
PER_LAYER = {
    "session.get_spark_s": "s",
    "setup.prepare_s": "s",
    "setup.warm_pass_s": "s",
    **{k: "s" for k in _SPAN_METRICS},
    **{k: ("ms" if k.endswith("_ms") else "bytes" if "bytes" in k else "count") for k in _COUNTERS},
    "txlog.prune_ratio": "ratio",
    "txlog.files_live": "count",
    "txlog.checkpoints": "count",
    "txlog.space_amp": "ratio",
    "txlog.commit_geomean_s": "s",
    "txlog.write_amp": "ratio",
    "trace.overhead_ratio": "ratio",
}
COMMIT_KINDS = {*lakehouse.COMMITS, "optimize"}
MIN_PASSES = 3
# untimed passes before the first timed one: latencies still fall by a
# third over the first passes after the cold one (JIT), so timing pass 1
# would measure how fast a run happens to warm up
WARM_PASSES = 2
# timed rounds of lakehouse_commits; each round grows the table, so the
# count must not depend on how fast the engine is
LAKE_ROUNDS = 3


class Op:
    """One timed action. ``run()`` returns ``(df, rows)``: the DataFrame
    whose executed plan holds the op's SQLMetrics (or None) and the result
    that ``check(df, rows)`` verifies, returning an error message or None."""

    __slots__ = ("name", "run", "check")

    def __init__(self, name, run, check):
        self.name, self.run, self.check = name, run, check


def _log(msg: str) -> None:
    print(f"perfbench: {time.perf_counter() - T0:7.2f}s {msg}", file=sys.stderr, flush=True)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _geomean(xs):
    xs = [x for x in xs if x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


class Bench:
    def __init__(self, args, root: str):
        self.args = args
        self.root = root
        self.tracer = tracing.Tracer()
        self.attempted = 0
        self.failures: dict[str, list[str]] = defaultdict(list)
        self.oracle_s = 0.0  # oracle work inside set-up, excluded from setup_s
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.pass_s: list[float] = []
        self.pass_log: list[list[tuple[str, float | None]]] = []
        self.traced_samples: dict[str, list[float]] = defaultdict(list)
        self.untraced_samples: dict[str, list[float]] = defaultdict(list)
        self.pass_counters: list[dict[str, float]] = []
        self.op_records: list[dict] = []
        self.layer: dict[str, float] = {}

    # -- session and inputs ------------------------------------------------

    def start_session(self):
        from datalake_brief_spark import get_spark

        cpus = len(os.sched_getaffinity(0))
        mem_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
        os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
        os.environ["SPARK_DRIVER_MEMORY"] = f"{max(1, min(4, int(mem_gb // 4)))}g"
        t = time.perf_counter()
        self.spark = get_spark(
            "perfbench",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": os.path.join(self.root, "local"),
                "spark.sql.warehouse.dir": os.path.join(self.root, "warehouse"),
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={os.path.join(self.root, 'tmp')} -XX:-UsePerfData"
                ),
            },
        )
        self.sc = self.spark.sparkContext
        self.layer["session.get_spark_s"] = time.perf_counter() - t

    def prepare(self):
        """Locate the inputs and, for ``lakehouse_commits``, write the
        landing batches and land the table. Runs once, cold, as a real start
        would. The registry's memoized fixtures build on first use, in the
        warm-up."""
        t = time.perf_counter()
        oracle_before = self.oracle_s
        self.sf_dir = query_ops.data_dir(self.args.scale)
        if self.args.workload == "lakehouse_commits":
            self._prepare_lakehouse()
        self.layer["setup.prepare_s"] = time.perf_counter() - t - (self.oracle_s - oracle_before)

    def _prepare_lakehouse(self):
        import pyarrow.parquet as pq

        orders = os.path.join(self.sf_dir, "orders.parquet")
        max_key = pq.read_table(orders, columns=["o_orderkey"]).column(0).to_numpy().max()
        self.rounds = lakehouse.plan_rounds(
            os.path.join(self.root, "landing"), self.args.seed, WARM_PASSES + LAKE_ROUNDS,
            int(max_key),
        )
        self.lake = lakehouse.Lakehouse(self.spark, self.sf_dir, os.path.join(self.root, "lake"))
        t = time.perf_counter()
        self.lake.open_mirror()
        self.oracle_s += time.perf_counter() - t

    # -- op construction ---------------------------------------------------

    def pass_ops(self, p: int) -> list[Op]:
        """The ops of pass ``p``; passes below ``WARM_PASSES`` warm up."""
        if self.args.workload == "lakehouse_commits":
            return self._lakehouse_round(self.rounds[p])
        names = query_ops.pass_order(self.args.workload, self.args.seed, p)
        return [self._query_op(n) for n in names]

    def _query_op(self, name: str) -> Op:
        from datalake_brief_spark.queries import QUERIES

        fn = QUERIES[name].fn
        expected = self.digests.get(name)

        def run():
            with self.tracer.span("queries.plan"):
                df = fn(self.spark, self.sf_dir)
            return df, df.collect()

        def check(df, rows):
            if self.args.inject_wrong == name:
                rows = rows[1:]
            got = query_ops.digest(rows, df.columns)
            if expected is None:
                return "no pinned digest"
            return None if got == expected else f"digest {got[:12]} != pinned {expected[:12]}"

        return Op(name, run, check)

    def _lakehouse_round(self, spec: dict) -> list[Op]:
        lake = self.lake
        out = []
        for i, kind in enumerate(spec["commits"]):
            run_commit, replay = lake.commit(kind, spec)

            def run(run_commit=run_commit):
                return None, run_commit()

            def check(_df, version, kind=kind, replay=replay):
                t = time.perf_counter()
                touched = replay()
                self.oracle_s += time.perf_counter() - t
                return lake.check_commit(kind, version, touched)

            out.append(Op(kind, run, check))
            read_kind = spec["reads"][i]
            out.append(self._checked_read(read_kind, *lake.read(read_kind, spec)))
        return out

    def _checked_read(self, name: str, make_df, sql: str) -> Op:
        def run():
            df = make_df()
            return df, df.collect()

        def check(_df, rows):
            t = time.perf_counter()
            want, cols = self.lake.expected(sql)
            self.oracle_s += time.perf_counter() - t
            if self.args.inject_wrong == name:
                rows = rows[1:]
            got = query_ops.canon([tuple(r) for r in rows], cols)
            want = query_ops.canon(want, cols)
            return None if got == want else f"rows differ from oracle: {got[:3]} vs {want[:3]}"

        return Op(name, run, check)

    # -- execution ---------------------------------------------------------

    def execute(self, op: Op, p: int, traced: bool):
        """Run one op; returns its latency, or None when it failed."""
        self.attempted += 1
        op_id = f"p{p}:{len(self.op_records)}:{op.name}"
        if self.args.trace:
            self.sc.setJobGroup(op_id, op.name)
        state0 = self._lake_state() if traced else None
        self.tracer.enabled = traced
        self.tracer.op = op_id
        t = time.perf_counter()
        try:
            df, rows = op.run()
        except Exception as e:  # a failed op is counted, reported and skipped
            self.failures[op.name].append(f"{type(e).__name__}: {e}")
            traceback.print_exc(file=sys.stderr)
            return None
        finally:
            dt = time.perf_counter() - t
            self.tracer.enabled = False
            self.tracer.op = None
        try:
            err = op.check(df, rows)
        except Exception as e:  # a check that cannot run fails the op too
            err = f"check raised {type(e).__name__}: {e}"
            traceback.print_exc(file=sys.stderr)
        if err:
            self.failures[op.name].append(err)
            return None
        if traced:
            self.op_records.append(self._op_counters(op, op_id, df, dt, state0))
        return dt

    def _lake_state(self):
        lake = getattr(self, "lake", None)
        return lake.layer_state() if lake is not None else None

    def _op_counters(self, op, op_id, df, dt, state0) -> dict:
        rec = {"op": op_id, "name": op.name, "latency_s": dt}
        rec.update({f"queries.{k}": v for k, v in tracing.job_counters(self.sc, op_id).items()})
        if df is not None:
            rec.update(tracing.plan_counters(self.spark._jvm, df._jdf.queryExecution()))
        if state0 is not None:
            s1 = self._lake_state()
            if op.name in COMMIT_KINDS:
                rec["txlog.commit_jobs"] = rec["queries.jobs"]
                rec["txlog.files_added"] = len(s1["live_set"] - state0["live_set"])
                rec["txlog.files_removed"] = len(state0["live_set"] - s1["live_set"])
                rec["txlog.log_bytes_written"] = s1["log_bytes"] - state0["log_bytes"]
                rec["txlog.data_bytes_written"] = (
                    s1["total_bytes"] - state0["total_bytes"] - rec["txlog.log_bytes_written"]
                )
            elif op.name in ("read_pruned", "read_point"):
                rec["prune_read"] = rec.get("catalog.files_read", 0)
                rec["prune_live"] = s1["files_live"]
        return rec

    def run_pass(self, p: int, traced: bool) -> None:
        ops = self.pass_ops(p)
        total = 0.0
        log = []
        self.pass_log.append(log)
        first = len(self.op_records)
        spans_first = len(self.tracer.spans)
        for op in ops:
            dt = self.execute(op, p, traced)
            log.append((op.name, dt))
            if dt is None:
                continue
            total += dt
            if p >= WARM_PASSES:
                self.samples[op.name].append(dt)
                (self.traced_samples if traced else self.untraced_samples)[op.name].append(dt)
        if p >= WARM_PASSES:
            self.pass_s.append(total)
        if traced:
            recs = self.op_records[first:]
            c = defaultdict(float)
            for r in recs:
                for k in _COUNTERS + ["prune_read", "prune_live"]:
                    c[k] += r.get(k, 0)
            spans = tracing.span_totals(self.tracer.spans[spans_first:], {r["op"] for r in recs})
            for metric, span in _SPAN_METRICS.items():
                c[metric] = spans.get(span, 0.0)
            self.pass_counters.append(dict(c))

    # -- the run -----------------------------------------------------------

    def run(self) -> dict:
        args = self.args
        self.digests = query_ops.load_digests(args.scale)
        if args.trace:
            import datalake_brief_spark.functions  # noqa: F401
            import datalake_brief_spark.queries  # noqa: F401
            import datalake_brief_spark.sources.io  # noqa: F401
            import datalake_brief_spark.sources.logstore  # noqa: F401
            import datalake_brief_spark.sources.txlog  # noqa: F401

            self.tracer.install()
            self.tracer.enabled = True
        self.start_session()
        _log(f"session {self.layer['session.get_spark_s']:.2f}s")
        self.prepare()
        _log(f"prepare {self.layer['setup.prepare_s']:.2f}s")
        self.tracer.enabled = False
        t = time.perf_counter()
        for p in range(WARM_PASSES):
            self.run_pass(p, traced=False)
        self.layer["setup.warm_pass_s"] = time.perf_counter() - t
        setup_s = time.perf_counter() - T0 - self.oracle_s
        _log(f"warm passes {self.layer['setup.warm_pass_s']:.2f}s, setup_s {setup_s:.2f}")

        lake = getattr(self, "lake", None)
        if lake is not None:
            bytes0 = lakehouse.dir_bytes(lake.path)
        deadline = time.perf_counter() + args.seconds

        def more(p):
            if lake is not None:
                return p < len(self.rounds)
            return p < WARM_PASSES + MIN_PASSES or time.perf_counter() < deadline

        p = WARM_PASSES
        while more(p):
            # traced runs alternate, starting untraced
            self.run_pass(p, traced=bool(args.trace) and (p - WARM_PASSES) % 2 == 1)
            p += 1
        if lake is not None:
            self._final_lakehouse_checks(bytes0, p)

        _log(f"{len(self.pass_s)} timed passes {sum(self.pass_s):.2f}s")
        metrics = {
            "setup_s": setup_s,
            "pass_s": _median(self.pass_s),
            "op_geomean_s": _geomean([_median(v) for v in self.samples.values()]),
            "slowest_op_s": max((_median(v) for v in self.samples.values()), default=0.0),
            "peak_rss_mb": self._peak_rss_mb(),
        }
        commit_samples = {k: v for k, v in self.samples.items() if k in COMMIT_KINDS}
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "passes": len(self.pass_s),
            "samples": sum(map(len, self.samples.values())),
            "error_rate": sum(map(len, self.failures.values())) / max(1, self.attempted),
            "failures": {k: v[:3] for k, v in self.failures.items()},
            "op_median_s": {k: _median(v) for k, v in sorted(self.samples.items())},
            "pass_ops_s": self.pass_log,
            "setup_parts_s": {k: v for k, v in self.layer.items() if k.startswith(("session", "setup"))},
        }
        if commit_samples:
            detail["commit_geomean_s"] = _geomean([_median(v) for v in commit_samples.values()])
            detail["commit_samples"] = sum(map(len, commit_samples.values()))
            detail["write_amp"] = self.layer.get("txlog.write_amp")
        out_metrics = metrics
        if args.trace:
            out_metrics = self._per_layer(detail)
        detail["metrics"] = metrics
        print(json.dumps(detail, default=str), flush=True)
        failed = sum(map(len, self.failures.values()))
        return {
            "correct": failed == 0,
            "attempted": self.attempted,
            "failed": failed,
            "metrics": {
                k: {"value": v, "unit": (PER_LAYER if args.trace else END_TO_END)[k]}
                for k, v in out_metrics.items()
            },
        }

    def _final_lakehouse_checks(self, bytes0: int, passes: int):
        lake = self.lake
        handed = sum(lakehouse.landing_bytes(self.rounds[i]) for i in range(WARM_PASSES, passes))
        self.layer["txlog.write_amp"] = (lakehouse.dir_bytes(lake.path) - bytes0) / max(1, handed)
        state = lake.layer_state()
        self.layer["txlog.files_live"] = state["files_live"]
        self.layer["txlog.checkpoints"] = state["checkpoints"]
        self.layer["txlog.space_amp"] = state["total_bytes"] / max(1, state["live_bytes"])
        snap = self._checked_read("final_snapshot", *lake.snapshot())
        self.execute(snap, passes, traced=False)
        lake.close()

    def _per_layer(self, detail: dict) -> dict:
        per_pass = defaultdict(list)
        for c in self.pass_counters:
            for k, v in c.items():
                per_pass[k].append(v)
        out = {}
        for k in PER_LAYER:
            if k in self.layer:
                out[k] = self.layer[k]
            elif k in per_pass:
                out[k] = _median(per_pass[k])
            else:
                out[k] = 0.0
        live = sum(per_pass.get("prune_live", []))
        out["txlog.prune_ratio"] = sum(per_pass.get("prune_read", [])) / live if live else 0.0
        out["txlog.commit_geomean_s"] = detail.get("commit_geomean_s", 0.0)
        ratios = [
            _median(self.traced_samples[k]) / _median(self.untraced_samples[k])
            for k in self.traced_samples
            if self.untraced_samples.get(k)
        ]
        out["trace.overhead_ratio"] = _geomean(ratios) - 1.0 if ratios else 0.0
        spans_path = self._write_spans()
        detail["spans_file"] = spans_path
        detail["self_time_s"] = tracing.self_times(self.tracer.spans)
        return out

    def _write_spans(self) -> str:
        out_dir = os.path.join(REPO, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(
            out_dir, f"{self.args.workload}-seed{self.args.seed}-{os.getpid()}.json"
        )
        with open(path, "w") as f:
            json.dump(
                {
                    "spans": self.tracer.spans,
                    "ops": self.op_records,
                    "passes": self.pass_counters,
                },
                f,
            )
        return os.path.relpath(path, REPO)

    def _peak_rss_mb(self) -> float:
        jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        jvm_kb = 0
        with open(f"/proc/{jvm_pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
        return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024

    def stop(self):
        """Stop Spark and wait for the JVM (and its Python workers) to end."""
        spark = getattr(self, "spark", None)
        if spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None) if gateway is not None else None
        try:
            spark.stop()
            if gateway is not None:
                gateway.shutdown()
        except Exception:  # a gateway broken mid-call (SIGTERM): end the JVM below
            traceback.print_exc(file=sys.stderr)
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def _remove_stale_roots(tmp_parent: str) -> None:
    """Delete temp roots left by runs that were killed outright."""
    if not os.path.isdir(tmp_parent):
        return
    for name in os.listdir(tmp_parent):
        pid = name.rsplit("-", 1)[-1]
        if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(tmp_parent, name), ignore_errors=True)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=DEFAULT_SCALE,
                    choices=(DEFAULT_SCALE, 0.001),
                    help="scale factor of the input tables under perfbench/data")
    ap.add_argument("--inject-wrong", default=None, metavar="OP",
                    help="drop a row from OP's result before checking (self-test)")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its temp root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    os.environ["TZ"] = "UTC"  # collected timestamps compare as UTC wall time
    time.tzset()
    tmp_parent = os.path.join(REPO, ".perfbench_tmp")
    _remove_stale_roots(tmp_parent)
    root = os.path.join(tmp_parent, f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(root, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(root, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(root, "local")
    # Python workers import the engine too (e.g. inside mapInPandas)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, REPO)
    bench = None
    try:
        try:
            import datalake_brief_spark  # noqa: F401
        except ImportError as e:
            print(f"perfbench: engine package not found next to perfbench/: {e}", file=sys.stderr)
            return 2
        bench = Bench(args, root)
        result = bench.run()
    finally:
        try:
            if bench is not None:
                bench.stop()
                _log("stopped")
        finally:
            shutil.rmtree(root, ignore_errors=True)
            try:
                os.rmdir(tmp_parent)
            except OSError:
                pass
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
