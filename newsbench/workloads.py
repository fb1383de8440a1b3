"""The benchmark's workloads. Each drives the engine only through its
public functions, closed-loop with one client.

A workload generates its inputs (:meth:`generate`, pure Python), may
prepare engine-side state (:meth:`prepare`), and then yields rounds: a
round is a fixed multiset of ops. :meth:`run_op` is the timed region;
:meth:`check_op`, :meth:`observe` and :meth:`final_check` run outside it.
"""

from __future__ import annotations

import json
import os
from datetime import datetime

import numpy as np
import pyspark.sql.functions as F

import __spark_entry__ as entry
from acero_delta_lake_streaming_spark import catalog
from acero_delta_lake_streaming_spark.functions.extract import MockExtractionProvider
from acero_delta_lake_streaming_spark.operators import relational
from acero_delta_lake_streaming_spark.storage import delta_compat, deltalite
from acero_delta_lake_streaming_spark.streaming import feeds, ingest
from acero_delta_lake_streaming_spark.queries import all_oracles
from newsbench import checks, gen
from newsbench.tracing import TimedMockProvider, phase, planning_ms, read_provider_log


def _dir_bytes(path: str, skip_dir: str | None = None) -> tuple[int, int]:
    """(files, bytes) under ``path``, not descending into ``skip_dir``."""
    files = size = 0
    for root, dirs, names in os.walk(path):
        if skip_dir in dirs:
            dirs.remove(skip_dir)
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


def persisted_bytes(spark) -> int:
    """Memory + disk bytes of every RDD the block manager holds."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos)


class Workload:
    name = ""
    #: rounds run after the cold round and before the timed phase
    warmup_rounds = 1
    #: rounds in the timed phase, 10–15 s on a 4-core host
    timed_rounds = 4
    #: ten-run spread (IQR / median) of op_p50_s on a 4-vCPU VM; a timed
    #: phase whose second half is faster than its first by more is flagged
    run_spread = 0.12

    def generate(self, seed: int, work: str, n_rounds: int) -> None:
        raise NotImplementedError

    def prepare(self, spark) -> None:
        pass

    def rounds(self) -> list[list]:
        raise NotImplementedError

    def run_op(self, spark, op, tr):
        raise NotImplementedError

    def op_kind(self, op) -> str:
        return str(op)

    def check_op(self, op, result) -> bool:
        return True

    def observe(self, spark, op, result, tr) -> None:
        """Untimed per-op reads for the traced rounds."""

    def install_spans(self, tr) -> None:
        """Wrap the engine functions this workload's layers go through."""

    def final_check(self, spark) -> list[str]:
        """Problems found in the final state; any marks every op failed."""
        return []

    def layer_metrics(self, spark, tr, n_ops: int) -> dict[str, float]:
        return {}


# --------------------------------------------------------------------------
# dashboard
# --------------------------------------------------------------------------


class Dashboard(Workload):
    """The reference visualizer's panels; one round is one page refresh,
    its panels in a seeded order."""

    name = "dashboard"
    # With two warm-up rounds, runs on a busy host were still falling
    # through the timed phase (3.8 to 3.3 s a round against a 2.7 s plateau).
    warmup_rounds = 4
    sf = 0.01
    PANELS = (
        "flagship_breakdown", "p6_anti_contains_filter", "j3_anti_join",
        "a1_count_star", "a3_filtered_count", "a4_daily_counts",
        "a5_value_counts", "a6_two_key_counts", "a8_grouped_total_order",
        "t1_topk", "t2_topk_breakdown",
    )

    def generate(self, seed, work, n_rounds):
        self.fixture_dir = os.path.join(work, "fixtures")
        gen.write_fixtures(seed, self.sf, self.fixture_dir)
        rng = np.random.default_rng([seed, 4])
        self._rounds = [
            [self.PANELS[i] for i in rng.permutation(len(self.PANELS))]
            for _ in range(n_rounds)
        ]
        self.queries = entry.queries()
        self.oracle_sql = all_oracles()
        self._oracle = None
        self._expected: dict[str, str] = {}

    def rounds(self):
        return self._rounds

    def run_op(self, spark, op, tr):
        with phase(tr, "build"):
            df = self.queries[op](spark, self.fixture_dir)
        with phase(tr, "exec"):
            rows = df.collect()
        return df, rows

    def check_op(self, op, result):
        df, rows = result
        if op not in self._expected:
            if self._oracle is None:
                self._oracle = checks.Oracle(self.fixture_dir, catalog.TABLE_NAMES)
            self._expected[op] = self._oracle.hash(self.oracle_sql[op])
        return checks.result_hash(df.columns, rows) == self._expected[op]

    def observe(self, spark, op, result, tr):
        tr.planning.append(planning_ms(result[0]))
        tr.persisted.append(persisted_bytes(spark))

    def install_spans(self, tr):
        # Operator modules import load_table by name; wrap each reference.
        for mod in (catalog, relational):
            tr.wrap(mod, "load_table", "catalog.load")

    def final_check(self, spark):
        if self._oracle is not None:
            self._oracle.close()
        return []


# --------------------------------------------------------------------------
# news_ingest
# --------------------------------------------------------------------------


class NewsIngest(Workload):
    """The paper's pipeline: poll five RSS feeds, drop the batch, run the
    checkpointed medallion ingest with the mock LLM provider."""

    name = "news_ingest"
    # A round is one cycle. Cycles still got faster through the fifth
    # with one warm-up cycle, so three warm up; six timed cycles keep the
    # cycle median off a single slow cycle.
    warmup_rounds = 3
    timed_rounds = 6
    TABLES = ("raw", "curated", "quarantine", "actors")

    def generate(self, seed, work, n_rounds):
        self.polls = gen.rss_polls(seed, n_rounds)
        self.drop_dir = os.path.join(work, "drop")
        self.base_dir = os.path.join(work, "tables")
        self.cp_dir = os.path.join(work, "checkpoint")
        self.provider_log = os.path.join(work, "provider.log")

    def rounds(self):
        return [[c] for c in range(len(self.polls))]

    def op_kind(self, op):
        return "poll_cycle"

    def run_op(self, spark, op, tr):
        provider = MockExtractionProvider() if tr is None else TimedMockProvider(self.provider_log)
        with phase(tr, "streaming.feeds.drop"):
            items = feeds.drop_feed_batch(spark, self.polls[op], self.drop_dir, f"poll_{op:06d}")
        with phase(tr, "streaming.ingest.trigger"):
            ingest.run_news_ingest(spark, self.drop_dir, self.base_dir, self.cp_dir, provider=provider)
        return items

    def observe(self, spark, op, result, tr):
        tr.items.append(result)

    def install_spans(self, tr):
        tr.wrap(deltalite, "write", "storage.deltalite.write")

    def final_check(self, spark):
        dfs = {t: deltalite.read(spark, os.path.join(self.base_dir, t)) for t in self.TABLES}
        raw_ids = [r[0] for r in dfs["raw"].select("id").collect()]
        self.counts = {t: df.count() for t, df in dfs.items()}
        return checks.check_medallion(raw_ids, self.counts, self.polls)

    def layer_metrics(self, spark, tr, n_ops):
        triggers = [(s, e) for label, s, e in tr.windows if label.endswith("/streaming.ingest.trigger")]
        prog = [
            p for p in tr.progress
            if p.get("numInputRows", 0) > 0
            and any(s <= _epoch_ms(p["timestamp"]) <= e for s, e in triggers)
        ]

        def dur(key):
            return float(np.median([p["durationMs"].get(key, 0) for p in prog])) if prog else 0.0

        state = [p["stateOperators"][0] for p in prog if p.get("stateOperators")]
        input_rows = sum(p["numInputRows"] for p in prog)
        kept = sum(s.get("numRowsUpdated", 0) for s in state)
        py_rows, py_s = read_provider_log(self.provider_log)
        commits = tr.count("storage.deltalite.write")
        files = size = log = versions = 0
        for t in self.TABLES:
            path = os.path.join(self.base_dir, t)
            f, b = _dir_bytes(path, skip_dir="_log")
            files, size = files + f, size + b
            log += _dir_bytes(os.path.join(path, "_log"))[1]
            versions += len(deltalite.history(path))
        judged = self.counts["curated"] + self.counts["quarantine"]
        return {
            "streaming.feeds.drop_s": tr.total("streaming.feeds.drop") / n_ops,
            "streaming.feeds.items": sum(tr.items) / n_ops,
            "streaming.ingest.trigger_s": tr.total("streaming.ingest.trigger") / n_ops,
            "streaming.ingest.add_batch_ms": dur("addBatch"),
            "streaming.ingest.query_planning_ms": dur("queryPlanning"),
            "streaming.ingest.wal_commit_ms": dur("walCommit"),
            "streaming.ingest.latest_offset_ms": dur("latestOffset"),
            "streaming.ingest.input_rows": input_rows / max(len(prog), 1),
            "streaming.ingest.dedup_ratio": 1 - kept / input_rows if input_rows else 0.0,
            "streaming.ingest.state_rows": state[-1].get("numRowsTotal", 0) if state else 0,
            "streaming.ingest.state_bytes": state[-1].get("memoryUsedBytes", 0) if state else 0,
            "functions.extract.python_rows": py_rows / n_ops,
            "functions.extract.python_s": py_s / n_ops,
            "functions.extract.quarantine_ratio": self.counts["quarantine"] / max(judged, 1),
            "storage.deltalite.write_s": tr.total("storage.deltalite.write") / max(commits, 1),
            "storage.deltalite.commits": commits / n_ops,
            "storage.deltalite.files_added": files / max(versions, 1),
            "storage.deltalite.bytes_written": size / max(versions, 1),
            "storage.deltalite.log_bytes": log / max(versions, 1),
            "storage.stored_bytes_ratio": _dir_bytes(self.base_dir)[1]
            / checks.served_bytes(self.polls),
        }


def _epoch_ms(iso: str) -> float:
    """Epoch ms of a progress timestamp like ``2026-01-01T00:00:00.000Z``."""
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp() * 1000


# --------------------------------------------------------------------------
# table_upkeep
# --------------------------------------------------------------------------


class TableUpkeep(Workload):
    """Writes beside reads on one real Delta table via ``delta_compat``."""

    name = "table_upkeep"
    run_spread = 0.14

    def generate(self, seed, work, n_rounds):
        self.table = os.path.join(work, "upkeep")
        self.seed_rows, self._rounds = gen.upkeep_plan(seed, n_rounds)
        self.model = checks.UpkeepModel(self.seed_rows)

    def prepare(self, spark):
        delta_compat.append_delta(spark.createDataFrame(self.seed_rows.to_pandas()), self.table)

    def rounds(self):
        return self._rounds

    def op_kind(self, op):
        return op[0]

    def _read(self, spark, op):
        kind, payload = op
        if kind == "agg_read":
            return delta_compat.read_delta(spark, self.table).groupBy("category").agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("cents"),
            )
        return delta_compat.read_delta(spark, self.table, skip=("id", payload, payload)).filter(
            F.col("id") == payload
        )

    def run_op(self, spark, op, tr):
        kind, payload = op
        if kind in ("agg_read", "point_read"):
            with phase(tr, "storage.delta_compat.read"):
                df = self._read(spark, op)
                with phase(tr, "exec"):
                    return df, df.collect()
        with phase(tr, f"storage.delta_compat.{kind}"):
            if kind == "append":
                delta_compat.append_delta(spark.createDataFrame(payload.to_pandas()), self.table)
            elif kind == "merge":
                src = spark.createDataFrame(payload.to_pandas())
                delta_compat.merge_delta(spark, self.table, src, ["id"])
            elif kind == "delete_dv":
                keys = spark.createDataFrame([(int(k),) for k in payload], "id bigint")
                delta_compat.delete_delta_dv(spark, self.table, keys, ["id"])
            else:
                delta_compat.optimize_delta(spark, self.table)
        return None

    def check_op(self, op, result):
        kind, payload = op
        if kind == "agg_read":
            want = self.model.hash(checks.AGG_SQL)
        elif kind == "point_read":
            want = self.model.hash(f"SELECT * FROM t WHERE id = {int(payload)}")
        else:
            self.model.apply(kind, payload)
            return True
        df, rows = result
        return checks.result_hash(df.columns, rows) == want

    def observe(self, spark, op, result, tr):
        if result is None:
            return
        df = result[0]
        tr.planning.append(planning_ms(df))
        if op[0] == "point_read":
            tr.scanned.append(len(df.inputFiles()) / max(self._live_files, 1))

    def install_spans(self, tr):
        def live(snap):
            self._live_files = len(snap["files"])

        tr.wrap(delta_compat, "snapshot", "storage.delta_compat.snapshot", on_call=live)

    def final_check(self, spark):
        df = delta_compat.read_delta(spark, self.table)
        got = checks.result_hash(df.columns, df.collect())
        want = self.model.hash("SELECT * FROM t")
        self.user_bytes = self.model.user_bytes()
        self.model.close()
        return [] if got == want else ["final table differs from the DuckDB model"]

    def layer_metrics(self, spark, tr, n_ops):
        snap = delta_compat.snapshot(self.table)
        out = {}
        for kind in ("append", "merge", "delete_dv", "optimize", "read", "snapshot"):
            d = tr.durations(f"storage.delta_compat.{kind}")
            out[f"storage.delta_compat.{kind}_s"] = float(np.median(d)) if d else 0.0
        out["storage.delta_compat.live_files"] = len(snap["files"])
        out["storage.delta_compat.dv_files"] = len(snap["file_dvs"])
        out["storage.delta_compat.bytes_rewritten"] = _rewritten_bytes(self.table) / max(
            len(self._rounds), 1
        )
        out["storage.delta_compat.files_scanned_ratio"] = (
            float(np.mean(tr.scanned)) if tr.scanned else 0.0
        )
        out["storage.stored_bytes_ratio"] = _dir_bytes(self.table)[1] / self.user_bytes
        return out


def _rewritten_bytes(table: str) -> int:
    """Bytes of data files added by commits that rewrite existing data
    (MERGE, OPTIMIZE), read from the Delta log."""
    total = 0
    log = os.path.join(table, "_delta_log")
    for name in sorted(os.listdir(log)):
        if not name.endswith(".json"):
            continue
        with open(os.path.join(log, name)) as f:
            actions = [json.loads(line) for line in f if line.strip()]
        op = next((a["commitInfo"].get("operation", "") for a in actions if "commitInfo" in a), "")
        if op.upper() in ("MERGE", "OPTIMIZE"):
            total += sum(a["add"].get("size", 0) for a in actions if "add" in a)
    return total


WORKLOADS = {w.name: w for w in (NewsIngest, Dashboard, TableUpkeep)}
