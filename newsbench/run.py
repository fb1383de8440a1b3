"""End-to-end benchmark of the engine: one workload, one run.

    python3 newsbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. It generates its inputs from
``--seed`` under ``.newsbench_work/`` (removed on exit), starts the engine's
session on ``local[4]``, and then per run:

1. sets up ``SETUPS`` times (the first from process start, the others
   restart the SparkContext in the same JVM) and reports the median, so
   ``setup_s`` is a warm set-up: imports and the JVM launch are only in
   the first sample (``detail.setup``) and in ``session.start_s``;
2. runs the cold round, then ``warmup_rounds`` more, untimed;
3. runs the workload's fixed ``timed_rounds``, so every run does the same
   work; ``--seconds`` is accepted but does not change it;
4. checks every op's output outside the timed region.

The last stdout line is the result JSON; the line before it is the run's
detail (per-round times, plateau flag, witnesses). ``--trace 1`` reports
the per-layer metrics instead of the end-to-end ones; its timed rounds
alternate traced and untraced, and ``trace.overhead_pct`` compares them.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUPS = 5
HEAP = "1g"
#: C1-only JIT: rounds level off within the warm-up, where the default
#: tiered compiler was still getting faster at round 20 (README).
JVM_OPTS = "-XX:TieredStopAtLevel=1 -Xms" + HEAP

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "ops_per_s": "1/s",
    "ok_ratio": "ratio",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "catalog.load_s": "s",
    "catalog.load_jobs": "count",
    "operators.build_s": "s",
    "operators.build_jobs": "count",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.run_s": "s",
    "exec.cpu_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.input_bytes": "bytes",
    "exec.collect_s": "s",
    "jvm.jit_s": "s",
    "jvm.gc_s": "s",
    "plans.cache.persisted_bytes": "bytes",
    "functions.extract.python_rows": "count",
    "functions.extract.python_s": "s",
    "functions.extract.quarantine_ratio": "ratio",
    "streaming.feeds.drop_s": "s",
    "streaming.feeds.items": "count",
    "streaming.ingest.trigger_s": "s",
    "streaming.ingest.add_batch_ms": "ms",
    "streaming.ingest.query_planning_ms": "ms",
    "streaming.ingest.wal_commit_ms": "ms",
    "streaming.ingest.latest_offset_ms": "ms",
    "streaming.ingest.input_rows": "count",
    "streaming.ingest.dedup_ratio": "ratio",
    "streaming.ingest.state_rows": "count",
    "streaming.ingest.state_bytes": "bytes",
    "storage.deltalite.write_s": "s",
    "storage.deltalite.commits": "count",
    "storage.deltalite.files_added": "count",
    "storage.deltalite.bytes_written": "bytes",
    "storage.deltalite.log_bytes": "bytes",
    "storage.delta_compat.append_s": "s",
    "storage.delta_compat.merge_s": "s",
    "storage.delta_compat.delete_dv_s": "s",
    "storage.delta_compat.optimize_s": "s",
    "storage.delta_compat.read_s": "s",
    "storage.delta_compat.snapshot_s": "s",
    "storage.delta_compat.live_files": "count",
    "storage.delta_compat.dv_files": "count",
    "storage.delta_compat.bytes_rewritten": "bytes",
    "storage.delta_compat.files_scanned_ratio": "ratio",
    "storage.stored_bytes_ratio": "ratio",
    "host.cal_py_ms": "ms",
    "host.cal_spark_ms": "ms",
    "host.steal_pct": "%",
    "host.load_1m": "procs",
    "trace.overhead_pct": "%",
}


def tail(samples: list[float]) -> tuple[float, int]:
    """(value, percentile) of the highest whole percentile with at least
    ten samples beyond it; the maximum when there are ten or fewer."""
    n = len(samples)
    s = sorted(samples)
    if n <= 10:
        return s[-1], 100
    pct = math.floor(100 * (n - 10) / n)
    return s[max(0, math.ceil(pct / 100 * n) - 1)], pct


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


class Run:
    def __init__(self, workload, seed: int, trace: bool):
        self.wl, self.seed, self.trace = workload, seed, trace
        self.work = os.path.join(ROOT, ".newsbench_work", f"{workload.name}-{os.getpid()}")
        self.spark = None
        self.n_timed = workload.timed_rounds
        self.n_rounds = 1 + workload.warmup_rounds + self.n_timed

    # -- session ---------------------------------------------------------

    def _conf(self) -> dict[str, str]:
        conf = {
            "spark.driver.memory": HEAP,
            "spark.driver.extraJavaOptions": f"{JVM_OPTS} -Djava.io.tmpdir={self.work}/tmp",
            "spark.local.dir": f"{self.work}/local",
            "spark.sql.warehouse.dir": f"{self.work}/warehouse",
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": f"{self.work}/eventlog",
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        return conf

    def start_session(self):
        from acero_delta_lake_streaming_spark.session import get_spark

        for d in ("tmp", "local", "eventlog"):
            os.makedirs(os.path.join(self.work, d), exist_ok=True)
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name=f"newsbench-{self.wl.name}", master="local[4]", extra_conf=self._conf()
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t0

    def stop(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = SparkContext._jvm = None

    # -- phases ----------------------------------------------------------

    def setup(self) -> dict:
        starts, totals = [], []
        for k in range(SETUPS):
            t0 = T_PROCESS if k == 0 else time.perf_counter()
            if self.spark is not None:
                self.spark.stop()
            starts.append(self.start_session())
            d = os.path.join(self.work, f"setup{k}")
            self.wl.generate(self.seed, d, self.n_rounds)
            self.wl.prepare(self.spark)
            totals.append(time.perf_counter() - t0)
        return {"setup_s": totals, "session_start_s": starts}

    def run_round(self, ops, r: int, tr=None) -> list[dict]:
        from newsbench.tracing import phase

        if tr is not None:
            self.wl.install_spans(tr)
        out = []
        try:
            for k, op in enumerate(ops):
                label = f"r{r}o{k}"
                if tr is not None:
                    tr.op = label
                t0 = time.perf_counter()
                ok, result = True, None
                try:
                    with phase(tr, "op"):
                        result = self.wl.run_op(self.spark, op, tr)
                except Exception:
                    traceback.print_exc()
                    ok = False
                dt = time.perf_counter() - t0
                if ok:
                    try:
                        ok = self.wl.check_op(op, result)
                        if tr is not None:
                            self.wl.observe(self.spark, op, result, tr)
                    except Exception:
                        traceback.print_exc()
                        ok = False
                out.append({"op": label, "kind": self.wl.op_kind(op), "s": dt, "ok": ok})
        finally:
            if tr is not None:
                tr.unwrap_all()
        return out

    def execute(self) -> tuple[dict, dict]:
        from newsbench import host

        memory = host.PeakMemory()
        load = host.load_1m()
        cpu0 = host.cpu_ticks()
        cal_py = [host.cal_py_ms()]
        setup = self.setup()
        memory.sample()
        rounds = self.wl.rounds()
        ops: list[dict] = []
        round_s: list[float] = []
        first_timed = 1 + self.wl.warmup_rounds
        tr = None
        traced_rounds = []
        for r, round_ops in enumerate(rounds):
            timed = r >= first_timed
            if r == first_timed:
                jit0, gc0 = host.jvm_times(self.spark)
                if self.trace:
                    from newsbench.tracing import Tracer

                    tr = Tracer(self.spark)
            traced = self.trace and timed and (r - first_timed) % 2 == 0
            done = self.run_round(round_ops, r, tr if traced else None)
            for o in done:
                o["round"], o["timed"], o["traced"] = r, timed, traced
            if traced:
                traced_rounds.append(r)
            ops.extend(done)
            round_s.append(sum(o["s"] for o in done))
            memory.sample()
        jit1, gc1 = host.jvm_times(self.spark)
        cal_spark = host.cal_spark_ms(self.spark)
        cal_py.append(host.cal_py_ms())
        problems = self.wl.final_check(self.spark)
        for p in problems:
            print(f"check failed: {p}", file=sys.stderr)
        if problems:
            for o in ops:
                o["ok"] = False
        layers = {}
        if self.trace:
            tr.close()
            traced_ops = [o for o in ops if o["traced"]]
            layers = self.wl.layer_metrics(self.spark, tr, len(traced_ops))
            app_id = self.spark.sparkContext.applicationId
        self.stop()
        witnesses = {
            "jvm.jit_s": (jit1 - jit0) / self.n_timed,
            "jvm.gc_s": (gc1 - gc0) / self.n_timed,
            "host.cal_py_ms": median(cal_py),
            "host.cal_spark_ms": cal_spark,
            "host.steal_pct": host.steal_pct(cpu0, host.cpu_ticks()),
            "host.load_1m": load,
        }
        timed_ops = [o for o in ops if o["timed"] and not o["traced"]]
        lat = [o["s"] for o in timed_ops]
        tail_s, tail_pct = tail(lat)
        timed_rounds = round_s[first_timed:]
        untraced_rounds = [
            s for r, s in enumerate(round_s) if r >= first_timed and r not in traced_rounds
        ]
        half = len(untraced_rounds) // 2
        first, second = median(untraced_rounds[:half]), median(untraced_rounds[-half:])
        metrics = {
            "setup_s": median(setup["setup_s"]),
            "op_p50_s": median(lat),
            "op_tail_s": tail_s,
            # Ops per round over the median round: a neighbour's burst on
            # the host moves one round, not the figure.
            "ops_per_s": len(timed_ops) / len(untraced_rounds) / median(untraced_rounds),
            "ok_ratio": sum(o["ok"] for o in ops) / len(ops),
            "peak_rss_mb": memory.peak_mb,
        }
        detail = {
            "workload": self.wl.name,
            "seed": self.seed,
            "setup": setup,
            "cold_round_s": round_s[0],
            "warmup_round_s": round_s[:first_timed],
            "timed_round_s": timed_rounds,
            "traced_rounds": traced_rounds,
            "plateau": {
                "first_half_median_s": first,
                "second_half_median_s": second,
                "ratio": second / first if first else 1.0,
                # Falling by more than the run-to-run spread of op_p50_s.
                "still_falling": second < (1 - self.wl.run_spread) * first,
            },
            "op_tail": {"percentile": tail_pct, "samples": len(lat)},
            "op_p50_by_kind": {
                k: median([o["s"] for o in timed_ops if o["kind"] == k])
                for k in sorted({o["kind"] for o in timed_ops})
            },
            "failed_ops": [o["op"] for o in ops if not o["ok"]],
            "witnesses": witnesses,
        }
        if self.trace:
            traced_ops = [o for o in ops if o["traced"]]
            layers.update(witnesses)
            layers.update(self._generic_layers(tr, traced_ops, app_id, setup))
            traced_p50 = median([o["s"] for o in traced_ops])
            layers["trace.overhead_pct"] = 100 * (traced_p50 / median(lat) - 1)
        result = {
            "correct": not problems and all(o["ok"] for o in ops),
            "attempted": len(ops),
            "failed": sum(not o["ok"] for o in ops),
        }
        if self.trace:
            result["metrics"] = {
                k: {"value": float(layers.get(k, 0.0)), "unit": u} for k, u in PER_LAYER.items()
            }
        else:
            result["metrics"] = {
                k: {"value": float(metrics[k]), "unit": u} for k, u in END_TO_END.items()
            }
        return result, detail

    # -- tracing ---------------------------------------------------------

    def _generic_layers(self, tr, traced_ops, app_id, setup) -> dict[str, float]:
        from newsbench.tracing import EXEC_KEYS, parse_event_log

        n = max(len(traced_ops), 1)
        execs = parse_event_log(os.path.join(self.work, "eventlog"), app_id, tr.windows)
        out = {f"exec.{k}": sum(g[k] for g in execs.values()) / n for k in EXEC_KEYS}
        phase_jobs = {}
        for label, g in execs.items():
            name = label.split("/", 1)[1]
            phase_jobs[name] = phase_jobs.get(name, 0) + g["jobs"]
        loads = tr.count("catalog.load")
        out["catalog.load_s"] = tr.total("catalog.load") / max(loads, 1)
        out["catalog.load_jobs"] = phase_jobs.get("catalog.load", 0) / max(loads, 1)
        out["operators.build_s"] = tr.total("build") / n
        out["operators.build_jobs"] = phase_jobs.get("build", 0) / n
        out["exec.collect_s"] = tr.total("exec") / n
        for key in ("analysis", "optimization", "planning"):
            out[f"catalyst.{key}_ms"] = median([p[key] for p in tr.planning])
        out["plans.cache.persisted_bytes"] = max(tr.persisted, default=0)
        # The first set-up's start, which launches the JVM.
        out["session.start_s"] = setup["session_start_s"][0]
        return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument(
        "--seconds", type=int, required=True,
        help="accepted for the common benchmark interface; each workload runs fixed rounds",
    )
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # Python workers import the engine by path; pin what the engine reads
    # from the environment so every run configures it the same way.
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = "4"
    os.environ.pop("SPARK_GRAFT_MASTER", None)

    from newsbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    run = Run(WORKLOADS[args.workload](), args.seed, bool(args.trace))
    # Keep every temporary file inside the checkout: Python's, and the JVMs'
    # perf-data files, which go to /tmp whatever the JVM's temp dir is.
    tempfile.tempdir = os.environ["TMPDIR"] = os.path.join(run.work, "tmp")
    os.makedirs(tempfile.tempdir, exist_ok=True)
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    try:
        result, detail = run.execute()
    finally:
        run.stop()
        shutil.rmtree(run.work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still use it
            os.rmdir(os.path.dirname(run.work))
    print("detail " + json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
