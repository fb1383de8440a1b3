"""Correctness checks. Every function here runs outside the timed region.

* :func:`result_hash` -- an order-insensitive hash of a result set, equal
  for a Spark ``collect()`` and a DuckDB ``fetchall()`` of the same rows.
* :class:`Oracle` -- DuckDB over the generated fixtures, hashing each
  registry query's ``oracle_sql()``.
* :func:`expected_medallion` -- the news-ingest tables recomputed from the
  served feeds and the mock provider's md5 rule, independent of Spark.
* :class:`UpkeepModel` -- DuckDB replay of the ``table_upkeep`` op
  sequence.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math
import os
import xml.etree.ElementTree as ET
from typing import Any

import duckdb
import pyarrow as pa


def _cell(v: Any) -> str:
    if v is None:
        return "~"
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "~"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(v)
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, dict):  # DuckDB struct
        v = tuple(v.values())
    if isinstance(v, (list, tuple)):  # array, or Spark Row struct
        return "[" + ",".join(_cell(x) for x in v) + "]"
    return str(v)


def result_hash(columns: list[str], rows: list) -> str:
    """sha1 over rows normalized column-name-sorted, then sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(_cell(row[i]) for i in order) for row in rows)
    h = hashlib.sha1("\x1e".join(sorted(columns)).encode())
    h.update(str(len(lines)).encode())
    for line in lines:
        h.update(b"\x1e" + line.encode())
    return h.hexdigest()


class Oracle:
    """DuckDB views over the generated fixture directory."""

    def __init__(self, fixture_dir: str, table_names):
        self.con = duckdb.connect()
        for name in table_names:
            path = os.path.join(fixture_dir, f"{name}.parquet")
            self.con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")

    def hash(self, sql: str) -> str:
        cur = self.con.execute(sql)
        cols = [d[0] for d in cur.description]
        return result_hash(cols, cur.fetchall())

    def close(self) -> None:
        self.con.close()


# --------------------------------------------------------------------------
# news_ingest
# --------------------------------------------------------------------------


def _mock_outcome(text: str) -> tuple[bool, int]:
    """(quarantined, actor rows) under MockExtractionProvider's rule:
    md5 hex starting 'f' is a refusal; otherwise words 0-1 are main actors
    and word 2 another actor."""
    if hashlib.md5(text.encode("utf-8")).hexdigest()[0] == "f":
        return True, 0
    return False, min(3, len([w for w in text.split(" ") if w]))


def served_items(polls: list[list[tuple[str, str]]]) -> dict[str, str]:
    """guid -> extraction text (title + '\\n' + description) of every item
    the polls served, parsed with the stdlib only."""
    out = {}
    for poll in polls:
        for _, xml in poll:
            for item in ET.fromstring(xml).iter("item"):
                parts = [item.findtext("title"), item.findtext("description")]
                out[item.findtext("guid")] = "\n".join(p for p in parts if p is not None)
    return out


def served_bytes(polls: list[list[tuple[str, str]]]) -> int:
    """User data of the unique served items: UTF-8 bytes of their text
    fields plus 8 bytes for the publish time."""
    seen: dict[str, int] = {}
    for poll in polls:
        for feed, xml in poll:
            for item in ET.fromstring(xml).iter("item"):
                texts = [el.text or "" for el in item] + [el.get("url", "") for el in item]
                seen[item.findtext("guid")] = 8 + len(feed) + sum(len(t.encode()) for t in texts)
    return sum(seen.values())


def expected_medallion(polls: list[list[tuple[str, str]]]) -> dict[str, int]:
    """Row counts of raw / curated / quarantine / actors after ingesting
    ``polls`` exactly once."""
    items = served_items(polls)
    counts = {"raw": len(items), "curated": 0, "quarantine": 0, "actors": 0}
    for text in items.values():
        quarantined, actors = _mock_outcome(text)
        counts["quarantine" if quarantined else "curated"] += 1
        counts["actors"] += actors
    return counts


def check_medallion(raw_ids: list[str], counts: dict[str, int], polls) -> list[str]:
    """Mismatches between the ingested tables and the served polls; empty
    when every unique served guid is in ``raw`` exactly once and the
    derived tables' counts match the md5 rule."""
    problems = []
    served = set(served_items(polls))
    if len(raw_ids) != len(set(raw_ids)):
        problems.append(f"raw holds {len(raw_ids) - len(set(raw_ids))} duplicate ids")
    if set(raw_ids) != served:
        problems.append(
            f"raw ids differ from served guids: {len(served - set(raw_ids))} "
            f"missing, {len(set(raw_ids) - served)} unexpected"
        )
    want = expected_medallion(polls)
    for table in ("curated", "quarantine", "actors"):
        if counts[table] != want[table]:
            problems.append(f"{table}: {counts[table]} rows, expected {want[table]}")
    return problems


# --------------------------------------------------------------------------
# table_upkeep
# --------------------------------------------------------------------------

AGG_SQL = (
    "SELECT category, count(*) AS n, "
    "sum(CAST(round(value * 100) AS BIGINT)) AS cents FROM t GROUP BY category"
)


class UpkeepModel:
    """The ``table_upkeep`` table replayed in DuckDB, op by op."""

    def __init__(self, seed_rows: pa.Table):
        self.con = duckdb.connect()
        self.con.register("seed_rows", seed_rows)
        self.con.execute("CREATE TABLE t AS SELECT * FROM seed_rows")
        self.con.unregister("seed_rows")

    def apply(self, kind: str, payload) -> None:
        if kind == "append":
            self.con.register("src", payload)
            self.con.execute("INSERT INTO t SELECT * FROM src")
        elif kind == "merge":
            self.con.register("src", payload)
            self.con.execute("DELETE FROM t WHERE id IN (SELECT id FROM src)")
            self.con.execute("INSERT INTO t SELECT * FROM src")
        elif kind == "delete_dv":
            self.con.register("src", pa.table({"id": pa.array(payload, pa.int64())}))
            self.con.execute("DELETE FROM t WHERE id IN (SELECT id FROM src)")
        else:
            return
        self.con.unregister("src")

    def hash(self, sql: str) -> str:
        cur = self.con.execute(sql)
        return result_hash([d[0] for d in cur.description], cur.fetchall())

    def user_bytes(self) -> int:
        """In-memory Arrow size of the live rows: the user data a stored
        byte is compared against."""
        return self.con.execute("SELECT * FROM t").arrow().nbytes

    def close(self) -> None:
        self.con.close()
