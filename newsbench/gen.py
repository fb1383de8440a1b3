"""Seeded input generator. Runs before any timed region.

Everything a workload feeds the engine comes from here, derived only from
the run's ``--seed``: the same seed gives byte-identical inputs.

* :func:`write_fixtures` -- the ten star-schema + stream/LLM fixture
  tables, with the column names and parquet types of the repository's
  test fixtures (``FIXTURE_TYPES`` below; ``smoke_test.py --fixture-dir``
  checks them against a real fixture directory's footers).
* :func:`rss_polls` -- five RSS 2.0 feeds served as sliding windows, so
  about two thirds of every poll after the first re-serves earlier items.
* :func:`upkeep_plan` -- the seed table and the op sequence of the
  ``table_upkeep`` workload (seeded rows and keys, fixed op order).
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta, timezone
from email.utils import format_datetime
from xml.sax.saxutils import escape

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TS = pa.timestamp("us")

#: column -> parquet (arrow) type, per table; the test fixtures' footers.
FIXTURE_TYPES: dict[str, list[tuple[str, pa.DataType]]] = {
    "region": [("r_regionkey", pa.int32()), ("r_name", pa.string())],
    "nation": [
        ("n_nationkey", pa.int32()),
        ("n_name", pa.string()),
        ("n_regionkey", pa.int32()),
    ],
    "customer": [
        ("c_custkey", pa.int64()),
        ("c_name", pa.string()),
        ("c_nationkey", pa.int32()),
        ("c_acctbal", pa.float64()),
        ("c_mktsegment", pa.string()),
    ],
    "supplier": [
        ("s_suppkey", pa.int64()),
        ("s_name", pa.string()),
        ("s_nationkey", pa.int32()),
        ("s_acctbal", pa.float64()),
    ],
    "part": [
        ("p_partkey", pa.int64()),
        ("p_name", pa.string()),
        ("p_brand", pa.string()),
        ("p_type", pa.string()),
        ("p_size", pa.int32()),
        ("p_retailprice", pa.float64()),
    ],
    "orders": [
        ("o_orderkey", pa.int64()),
        ("o_custkey", pa.int64()),
        ("o_orderstatus", pa.string()),
        ("o_totalprice", pa.float64()),
        ("o_orderdate", TS),
        ("o_orderpriority", pa.string()),
    ],
    "lineitem": [
        ("l_orderkey", pa.int64()),
        ("l_partkey", pa.int64()),
        ("l_suppkey", pa.int64()),
        ("l_linenumber", pa.int32()),
        ("l_quantity", pa.float64()),
        ("l_extendedprice", pa.float64()),
        ("l_discount", pa.float64()),
        ("l_tax", pa.float64()),
        ("l_returnflag", pa.string()),
        ("l_linestatus", pa.string()),
        ("l_shipdate", TS),
    ],
    "events": [
        ("event_id", pa.int64()),
        ("ts", TS),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ],
    "documents": [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ],
    "embeddings": [
        ("vec_id", pa.int64()),
        ("embedding", pa.list_(pa.float32())),
        ("label", pa.int32()),
    ],
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
COLORS = ["red", "blue", "green", "small", "large", "steel", "brass", "tin"]
NOUNS = ["widget", "bolt", "ring", "anvil", "gear", "valve", "pipe", "nut"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
VOCAB = (
    "a the agg batch big column customer data fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table value vector window"
).split()

_DAY_US = 86_400_000_000


def _epoch_us(d: datetime) -> int:
    return int(d.replace(tzinfo=timezone.utc).timestamp() * 1_000_000)


def _days(rng, n: int, lo: datetime, hi: datetime) -> np.ndarray:
    span = (hi - lo).days
    return _epoch_us(lo) + rng.integers(0, span + 1, n) * _DAY_US


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _texts(rng, n: int) -> list[str]:
    lens = rng.integers(10, 100, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    out, at = [], 0
    for k in lens:
        out.append(" ".join(VOCAB[w] for w in words[at : at + k]))
        at += k
    return out


def fixture_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten fixture tables at scale ``sf`` (row counts follow the
    test fixtures: lineitem = 6M x sf, documents/embeddings >= 500)."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp = max(int(150_000 * sf), 50), max(int(10_000 * sf), 10)
    n_part, n_ord = max(int(200_000 * sf), 100), max(int(1_500_000 * sf), 500)
    n_li, n_ev = max(int(6_000_000 * sf), 2000), max(int(1_000_000 * sf), 1000)
    n_doc, n_emb = max(int(50_000 * sf), 500), max(int(20_000 * sf), 500)
    cols: dict[str, dict] = {}
    cols["region"] = {"r_regionkey": np.arange(5), "r_name": REGIONS}
    cols["nation"] = {
        "n_nationkey": np.arange(25),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": np.arange(25) % 5,
    }
    cols["customer"] = {
        "c_custkey": np.arange(n_cust),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust).tolist(),
    }
    cols["supplier"] = {
        "s_suppkey": np.arange(n_supp),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    }
    cols["part"] = {
        "p_partkey": np.arange(n_part),
        "p_name": [
            f"{COLORS[c]} {NOUNS[w]}"
            for c, w in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PTYPES, n_part).tolist(),
        "p_size": rng.integers(1, 51, n_part),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
    }
    cols["orders"] = {
        "o_orderkey": np.arange(n_ord),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord).tolist(),
        "o_totalprice": _money(rng, n_ord, 1000, 500_000),
        "o_orderdate": _days(rng, n_ord, datetime(1995, 1, 1), datetime(2001, 8, 1)),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord).tolist(),
    }
    cols["lineitem"] = {
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, n_li, 900, 105_000),
        "l_discount": np.round(rng.uniform(0, 0.1, n_li), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n_li), 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_li).tolist(),
        "l_linestatus": rng.choice(["F", "O"], n_li).tolist(),
        "l_shipdate": _days(rng, n_li, datetime(1995, 1, 2), datetime(2001, 11, 4)),
    }
    gaps = rng.exponential(30 * _DAY_US / n_ev, n_ev).astype(np.int64)
    cols["events"] = {
        "event_id": np.arange(n_ev),
        "ts": _epoch_us(datetime(2024, 1, 1)) + np.cumsum(gaps),
        "user_id": rng.integers(0, 150, n_ev),
        "event_type": rng.choice(EVENT_TYPES, n_ev).tolist(),
        "value": np.maximum(np.round(rng.exponential(50, n_ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }
    texts = _texts(rng, n_doc)
    # Plant near-duplicates: 5% of documents repeat an earlier one + " dup".
    for i in rng.choice(np.arange(1, n_doc), n_doc // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    cols["documents"] = {
        "doc_id": np.arange(n_doc),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc, p=LANG_P).tolist(),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": [len(t) for t in texts],
    }
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 1, (10, 64))
    vecs = rng.normal(0, 1, (n_emb, 64)) + 0.15 * centers[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    cols["embeddings"] = {
        "vec_id": np.arange(n_emb),
        "embedding": list(vecs),
        "label": labels,
    }
    return {
        name: pa.table(
            {c: pa.array(cols[name][c], type=t) for c, t in FIXTURE_TYPES[name]}
        )
        for name in FIXTURE_TYPES
    }


def write_fixtures(seed: int, sf: float, out_dir: str) -> dict[str, pa.Table]:
    """Write the fixture tables as ``<out_dir>/<table>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    tables = fixture_tables(seed, sf)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return tables


# --------------------------------------------------------------------------
# RSS polls
# --------------------------------------------------------------------------

FEEDS = ["business", "health", "politics", "science_and_environment", "technology"]
RSS_WINDOW = 15  # items one poll serves per feed
RSS_STEP = 5  # new items per feed per poll: 2/3 of a poll is re-served


def _rss_item(rng, feed: str, seq: int, tag: str) -> dict:
    words = [VOCAB[w] for w in rng.integers(0, len(VOCAB), 18)]
    published = datetime(2026, 1, 1, tzinfo=timezone.utc) + timedelta(minutes=7 * seq)
    return {
        "guid": f"https://news.example/{feed}/{seq:06d}-{tag}",
        "title": " ".join(words[:6]).capitalize(),
        "description": " ".join(words[6:]),
        "pubDate": format_datetime(published),
        "thumb": f"https://img.example/{feed}/{seq}.jpg" if seq % 3 else None,
    }


def _rss_xml(feed: str, items: list[dict]) -> str:
    body = []
    for it in items:
        thumb = (
            f'<media:thumbnail width="240" height="135" url="{escape(it["thumb"])}"/>'
            if it["thumb"]
            else ""
        )
        body.append(
            "<item>"
            f"<title>{escape(it['title'])}</title>"
            f"<description>{escape(it['description'])}</description>"
            f"<link>{escape(it['guid'])}</link>"
            f"<guid isPermaLink=\"false\">{escape(it['guid'])}</guid>"
            f"<pubDate>{it['pubDate']}</pubDate>{thumb}</item>"
        )
    return (
        '<?xml version="1.0" encoding="UTF-8"?>'
        '<rss version="2.0" xmlns:media="http://search.yahoo.com/mrss/">'
        f"<channel><title>{feed}</title>{''.join(body)}</channel></rss>"
    )


def rss_polls(seed: int, n_polls: int) -> list[list[tuple[str, str]]]:
    """``n_polls`` polls; each is one ``(rss_id, xml)`` document per feed.
    Poll ``c`` serves feed items ``[c*RSS_STEP, c*RSS_STEP + RSS_WINDOW)``."""
    rng = np.random.default_rng([seed, 2])
    tag = f"{int(rng.integers(0, 2**32)):08x}"
    n_items = (n_polls - 1) * RSS_STEP + RSS_WINDOW
    items = {f: [_rss_item(rng, f, s, tag) for s in range(n_items)] for f in FEEDS}
    return [
        [
            (f, _rss_xml(f, items[f][c * RSS_STEP : c * RSS_STEP + RSS_WINDOW]))
            for f in FEEDS
        ]
        for c in range(n_polls)
    ]


# --------------------------------------------------------------------------
# Table upkeep plan
# --------------------------------------------------------------------------

UPKEEP_SCHEMA = pa.schema(
    [
        ("id", pa.int64()),
        ("user_id", pa.int64()),
        ("category", pa.string()),
        ("value", pa.float64()),
    ]
)
UPKEEP_SEED_ROWS = 4000
UPKEEP_APPEND_ROWS = 400
UPKEEP_MERGE_ROWS = 200  # half updates of live ids, half inserts
UPKEEP_DELETE_ROWS = 60
#: One round, in a fixed order: each read sees another table state, and an
#: op's cost depends on what ran before it (files added since the last
#: OPTIMIZE, live deletion vectors), so a seeded order would make round
#: times depend on the seed.
UPKEEP_ROUND = (
    "append", "point_read", "merge", "agg_read", "delete_dv", "point_read", "optimize"
)


def _upkeep_rows(rng, ids: np.ndarray) -> pa.Table:
    n = len(ids)
    return pa.table(
        {
            "id": pa.array(ids, pa.int64()),
            "user_id": pa.array(rng.integers(0, 500, n), pa.int64()),
            "category": pa.array(rng.choice(EVENT_TYPES, n).tolist(), pa.string()),
            "value": pa.array(_money(rng, n, 0, 1000), pa.float64()),
        },
        schema=UPKEEP_SCHEMA,
    )


def upkeep_plan(seed: int, n_rounds: int) -> tuple[pa.Table, list[list[tuple]]]:
    """(seed table, rounds). A round is ``UPKEEP_ROUND``. Ops are
    ``(kind, payload)``: an Arrow table for append/merge, an id array for
    delete_dv, an id for point_read, None otherwise. Merge and delete keys
    are drawn from ids live at that point of the sequence."""
    rng = np.random.default_rng([seed, 3])
    seed_rows = _upkeep_rows(rng, np.arange(UPKEEP_SEED_ROWS))
    live = set(range(UPKEEP_SEED_ROWS))
    next_id = UPKEEP_SEED_ROWS
    rounds = []
    for _ in range(n_rounds):
        ops = []
        for kind in UPKEEP_ROUND:
            pool = np.array(sorted(live))
            if kind == "append":
                ids = np.arange(next_id, next_id + UPKEEP_APPEND_ROWS)
                next_id += UPKEEP_APPEND_ROWS
                live.update(ids.tolist())
                ops.append((kind, _upkeep_rows(rng, ids)))
            elif kind == "merge":
                half = UPKEEP_MERGE_ROWS // 2
                upd = rng.choice(pool, half, replace=False)
                new = np.arange(next_id, next_id + half)
                next_id += half
                live.update(new.tolist())
                ops.append((kind, _upkeep_rows(rng, np.concatenate([upd, new]))))
            elif kind == "delete_dv":
                ids = rng.choice(pool, UPKEEP_DELETE_ROWS, replace=False)
                live.difference_update(ids.tolist())
                ops.append((kind, np.sort(ids)))
            elif kind == "point_read":
                ops.append((kind, int(rng.choice(pool))))
            else:
                ops.append((kind, None))
        rounds.append(ops)
    return seed_rows, rounds
