"""Seeded input generators for the lakehouse benchmark.

Everything here derives from one integer seed: the same seed gives
byte-identical inputs. Nothing imports Spark; the tables are written
with pyarrow and the CDC drops are plain JSON-lines files.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# TPC-H-shaped star schema + events / documents / embeddings
# ---------------------------------------------------------------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window data column join small customer query big "
    "order group stream filter vector"
).split()

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995_US = int(datetime(1995, 1, 1, tzinfo=timezone.utc).timestamp() * 1e6)
_EPOCH_2024_US = int(datetime(2024, 1, 1, tzinfo=timezone.utc).timestamp() * 1e6)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


# Every money value and rate is a multiple of a power of two (1/4,
# 1/64) and every price a multiple of 10, whose tenth is exact in
# binary. Sums of products of them are then exact in float64 in any
# order, so a lane's rounded sums cannot differ from its DuckDB oracle's
# by a cent, as they do on some seeds with two-decimal cents.
def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n) * 4) / 4


def _rate_64ths(rng: np.random.Generator, hi: float, n: int) -> np.ndarray:
    """Rates in [0, hi] in steps of 1/64."""
    return rng.integers(0, int(hi * 64) + 1, n) / 64.0


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random-word documents with ~1% exact and ~5% near duplicates, so
    the dedup lanes find pairs."""
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.01:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.06:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(words))
        else:
            k = int(rng.integers(8, 90))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": [LANGS[j] for j in rng.integers(0, len(LANGS), n)],
            "source": [f"src{j}" for j in rng.integers(0, 20, n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    """Ten labelled clusters in 64 dimensions (float32)."""
    centers = rng.normal(0.0, 0.12, (10, dim))
    labels = rng.integers(0, 10, n)
    vecs = (centers[labels] + rng.normal(0.0, 0.05, (n, dim))).astype("float32")
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def tpch_tables(seed: int, scale: int = 1) -> dict[str, pa.Table]:
    """The ten tables the query registry reads, `scale` × the smallest
    shape (6,000 lineitem rows per unit). Columns and value domains
    follow the repository's test-data layout."""
    rng = np.random.default_rng(seed)
    n_c, n_s, n_p = 150 * scale, 10 * scale, 200 * scale
    n_o, n_l, n_e = 1500 * scale, 6000 * scale, 1000 * scale
    i32 = pa.int32()
    i64 = pa.int64()
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_c), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_c), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_c),
            "c_mktsegment": [SEGMENTS[j] for j in rng.integers(0, 5, n_c)],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_s), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_s), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_s),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_p), i64),
            "p_name": [
                f"{P_ADJ[a]} {P_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_p), rng.integers(0, 8, n_p))
            ],
            "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, n_p)],
            "p_type": [P_TYPES[j] for j in rng.integers(0, 6, n_p)],
            "p_size": pa.array(rng.integers(1, 51, n_p), i32),
            "p_retailprice": 900.0 + 10.0 * (np.arange(n_p) % 100),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_o), i64),
            "o_custkey": pa.array(rng.integers(0, n_c, n_o), i64),
            "o_orderstatus": [("F", "O", "P")[j] for j in rng.integers(0, 3, n_o)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_o),
            "o_orderdate": _ts(_EPOCH_1995_US + rng.integers(0, 2404, n_o) * _DAY_US),
            "o_orderpriority": [PRIORITIES[j] for j in rng.integers(0, 5, n_o)],
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_o, n_l), i64),
            "l_partkey": pa.array(rng.integers(0, n_p, n_l), i64),
            "l_suppkey": pa.array(rng.integers(0, n_s, n_l), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_l), i32),
            "l_quantity": rng.integers(1, 51, n_l).astype("float64"),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_l),
            "l_discount": _rate_64ths(rng, 0.10, n_l),
            "l_tax": _rate_64ths(rng, 0.08, n_l),
            "l_returnflag": [("A", "N", "R")[j] for j in rng.integers(0, 3, n_l)],
            "l_linestatus": [("F", "O")[j] for j in rng.integers(0, 2, n_l)],
            "l_shipdate": _ts(_EPOCH_1995_US + rng.integers(1, 2500, n_l) * _DAY_US),
        }
    )
    ts = np.sort(rng.integers(0, 30 * _DAY_US, n_e))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_e), i64),
            "ts": _ts(_EPOCH_2024_US + ts),
            "user_id": pa.array(rng.integers(0, max(15, n_e // 66), n_e), i64),
            "event_type": [EVENT_TYPES[j] for j in rng.integers(0, 5, n_e)],
            "value": np.round(rng.exponential(50.0, n_e) * 4) / 4,
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)],
        }
    )
    t["documents"] = _documents(rng, 500)
    t["embeddings"] = _embeddings(rng, 500)
    return t


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    """One single-row-group parquet file per table, `<name>.parquet`."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# Debezium-style CDC stream with a reference model
# ---------------------------------------------------------------------------

CATEGORIES = ["Books", "Clothing", "Electronics", "Home", "Toys"]
BASE_MS = int(datetime(2026, 1, 1, tzinfo=timezone.utc).timestamp() * 1000)
EPOCH_DAY0 = 20454  # 2026-01-01 in epoch days
DAY_MS = 86_400_000
HOT_KEY = 0


@dataclass
class CdcModel:
    """Generates envelope batches and keeps every key's latest image.

    Batch `day` carries event times inside that UTC day only, so each
    batch lands in its own bronze `dt` partition and the previous one
    closes (and becomes eligible for compaction)."""

    seed: int
    images: dict[int, dict | None] = field(default_factory=dict)
    next_id: int = 0
    lsn: int = 1_000
    rng: np.random.Generator = field(init=False)

    def __post_init__(self) -> None:
        self.rng = np.random.default_rng(self.seed)

    def _image(self, id_: int, day: int) -> dict:
        r = self.rng
        cat = CATEGORIES[int(r.integers(0, 5))]
        return {
            "id": id_,
            "product_name": f"{cat} Item {int(r.integers(1, 4))}",
            "category": cat,
            "price": f"{float(r.integers(1000, 100000)) / 100:.2f}",
            "quantity": int(r.integers(1, 6)),
            "sale_date": EPOCH_DAY0 + day,
            "created_at": BASE_MS,
        }

    def _envelope(self, op: str, before, after, ts_ms: int) -> str:
        self.lsn += 7
        return json.dumps(
            {
                "payload": {
                    "before": before,
                    "after": after,
                    "op": op,
                    "ts_ms": ts_ms,
                    "source": {
                        "db": "mydb",
                        "table": "source_sales",
                        "txId": self.lsn // 2,
                        "lsn": self.lsn,
                    },
                }
            },
            separators=(",", ":"),
        )

    def backfill(self, n_keys: int) -> list[str]:
        """Day 0: one insert per key, the hot key included."""
        lines = []
        step = DAY_MS // (n_keys + 1)
        for i in range(n_keys):
            id_ = self.next_id
            self.next_id += 1
            img = self._image(id_, 0)
            self.images[id_] = img
            lines.append(self._envelope("c", None, img, BASE_MS + i * step))
        return lines

    def cycle(self, day: int, n_events: int) -> list[str]:
        """About 5% deletes, 5% heartbeat updates of the hot key, 10%
        inserts of new keys, and updates of recently written keys."""
        r = self.rng
        live = [k for k, v in self.images.items() if v is not None and k != HOT_KEY]
        recent = live[-max(1, len(live) // 5):]
        step = DAY_MS // (n_events + 1)
        lines = []
        for i in range(n_events):
            ts_ms = BASE_MS + day * DAY_MS + (i + 1) * step
            roll = r.random()
            if roll < 0.05:
                hot = self.images[HOT_KEY]
                after = dict(hot)
                if i % 16 == 0:  # content changes now and then
                    after = self._image(HOT_KEY, day)
                self.images[HOT_KEY] = after
                lines.append(self._envelope("u", hot, after, ts_ms))
                continue
            if roll < 0.15 or not recent:
                id_ = self.next_id
                self.next_id += 1
                img = self._image(id_, day)
                self.images[id_] = img
                recent.append(id_)
                lines.append(self._envelope("c", None, img, ts_ms))
                continue
            # recency skew: the newest keys are the likeliest to change
            j = len(recent) - 1 - int(len(recent) * r.random() ** 3)
            id_ = recent[j]
            before = self.images[id_]
            if before is None:  # deleted earlier in this batch
                continue
            if roll < 0.20:
                self.images[id_] = None
                lines.append(self._envelope("d", before, None, ts_ms))
            else:
                after = self._image(id_, day)
                self.images[id_] = after
                lines.append(self._envelope("u", before, after, ts_ms))
        return lines

    def current(self) -> dict[int, dict]:
        return {k: v for k, v in self.images.items() if v is not None}


def drop_lines(drop_dir: str, lines: list[str], tag: str, files: int = 4) -> None:
    """Write `lines` as `files` JSON-lines files named by `tag` (a file
    source remembers seen names, so every drop needs fresh ones)."""
    os.makedirs(drop_dir, exist_ok=True)
    per = -(-len(lines) // files)
    for i in range(files):
        chunk = lines[i * per:(i + 1) * per]
        if chunk:
            with open(os.path.join(drop_dir, f"{tag}-{i:02d}.jsonl"), "w") as f:
                f.write("\n".join(chunk) + "\n")
