"""Smoke test of the benchmark itself.

    python3 newsbench/smoke_test.py [--fixture-dir DIR] [--workload NAME ...]

Runs every workload in ``BENCHMARK.json`` once untraced and once traced,
with the same fixed rounds as the benchmark, and fails unless:

* the last stdout line has exactly the keys correct/attempted/failed/metrics;
* the untraced run prints every ``end_to_end`` metric with its unit and the
  traced run every ``per_layer`` metric with its unit;
* ``ok_ratio`` is 1 and ``correct`` is true.

With ``--fixture-dir`` pointing at a test fixture directory (one parquet
file per table), it also checks that the generator writes the same column
names and parquet types as those files' footers.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def check_fixture_schemas(fixture_dir: str) -> list[str]:
    import pyarrow.parquet as pq

    sys.path.insert(0, ROOT)
    from newsbench import gen

    problems = []
    with tempfile.TemporaryDirectory(dir=ROOT) as out:
        gen.write_fixtures(0, 0.001, out)
        for name in gen.FIXTURE_TYPES:
            want = pq.read_schema(os.path.join(fixture_dir, f"{name}.parquet"))
            got = pq.read_schema(os.path.join(out, f"{name}.parquet"))
            if not got.remove_metadata().equals(want.remove_metadata()):
                problems.append(f"{name}: generated {got} != fixture {want}")
    return problems


def run_once(workload: str, trace: int, spec: dict) -> list[str]:
    cmd = [
        *spec["command"], "--workload", workload, "--seed", "7",
        "--seconds", "10", "--trace", str(trace),
    ]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    tag = f"{workload} trace={trace}"
    if proc.returncode != 0:
        return [f"{tag}: exit {proc.returncode}: {proc.stderr[-2000:]}"]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    problems = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"{tag}: result keys {sorted(result)}")
    want = spec["per_layer" if trace else "end_to_end"]
    got = result.get("metrics", {})
    for m in want:
        if m["name"] not in got:
            problems.append(f"{tag}: metric {m['name']} missing")
        elif got[m["name"]]["unit"] != m["unit"]:
            problems.append(f"{tag}: {m['name']} unit {got[m['name']]['unit']} != {m['unit']}")
    extra = set(got) - {m["name"] for m in want}
    if extra:
        problems.append(f"{tag}: unexpected metrics {sorted(extra)}")
    if not result.get("correct") or result.get("failed"):
        problems.append(f"{tag}: correct={result.get('correct')} failed={result.get('failed')}")
    if not trace and got.get("ok_ratio", {}).get("value") != 1.0:
        problems.append(f"{tag}: ok_ratio {got.get('ok_ratio')}")
    print(f"{tag}: {'ok' if not problems else 'FAILED'}", flush=True)
    return problems


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--fixture-dir")
    ap.add_argument("--workload", action="append")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems = []
    if args.fixture_dir:
        problems += check_fixture_schemas(args.fixture_dir)
    for w in args.workload or [w["name"] for w in spec["workloads"]]:
        for trace in (0, 1):
            problems += run_once(w, trace, spec)
    for p in problems:
        print(p, file=sys.stderr)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
