"""Seeded input generators for the benchmark.

Everything the program reads during a run is written here from the run's
``--seed``: the ten corpus tables the query workloads scan, and the
source slices the sync workload lands round by round (an ``events`` and
a ``documents`` table, and the documents an Elasticsearch index serves).
The program never sees the seed, only the generated files and the
served documents.

The corpus tables copy the schema and the value distributions of the
testbed tables the corpus queries were written against (independent
uniform keys and categories, sorted event times, random-word documents,
unit-norm random embeddings), so thresholds tuned on the testbed keep
their selectivity here.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: rows per corpus table; the testbed's sf0.01 sizes
CORPUS_ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}

WORDS = (
    "row the query stream value hash batch sort data big filter dup key agg "
    "scan slow table part a merge window order column join vector fast spark "
    "line small customer group"
).split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _days(rng, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int)
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _text(rng, n_words: int) -> str:
    return " ".join(WORDS[i] for i in rng.integers(0, len(WORDS), n_words))


def corpus_tables(seed: int, rows: dict[str, int] | None = None) -> dict[str, pa.Table]:
    """The ten corpus tables, deterministic in ``seed``."""
    rows = {**CORPUS_ROWS, **(rows or {})}
    rng = np.random.default_rng(seed)
    nc, ns, npart = rows["customer"], rows["supplier"], rows["part"]
    no, nl, ne = rows["orders"], rows["lineitem"], rows["events"]
    nd, nv = rows["documents"], rows["embeddings"]
    i32 = pa.int32()
    out = {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), i32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": np.arange(nc, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(nc)],
                "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
                "c_acctbal": _money(rng, -999.99, 9999.99, nc),
                "c_mktsegment": rng.choice(SEGMENTS, nc),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": np.arange(ns, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
                "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
                "s_acctbal": _money(rng, -999.99, 9999.99, ns),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": np.arange(npart, dtype=np.int64),
                "p_name": [
                    f"{a} {b}"
                    for a, b in zip(
                        rng.choice(PART_ADJ, npart), rng.choice(PART_NOUN, npart)
                    )
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
                "p_type": rng.choice(PART_TYPES, npart),
                "p_size": pa.array(rng.integers(1, 51, npart), i32),
                "p_retailprice": np.round(900 + (np.arange(npart) % 1000) / 10, 1),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": np.arange(no, dtype=np.int64),
                "o_custkey": rng.integers(0, nc, no),
                "o_orderstatus": rng.choice(["F", "O", "P"], no),
                "o_totalprice": _money(rng, 1000, 500000, no),
                "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", no),
                "o_orderpriority": rng.choice(PRIORITIES, no),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": rng.integers(0, no, nl),
                "l_partkey": rng.integers(0, npart, nl),
                "l_suppkey": rng.integers(0, ns, nl),
                "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
                "l_quantity": rng.integers(1, 51, nl).astype(float),
                "l_extendedprice": _money(rng, 900, 105000, nl),
                "l_discount": rng.integers(0, 11, nl) / 100,
                "l_tax": rng.integers(0, 9, nl) / 100,
                "l_returnflag": rng.choice(["A", "N", "R"], nl),
                "l_linestatus": rng.choice(["F", "O"], nl),
                "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", nl),
            }
        ),
        "events": events_table(rng, ne),
    }
    texts = [_text(rng, int(k)) for k in rng.integers(10, 100, nd)]
    out["documents"] = pa.table(
        {
            "doc_id": np.arange(nd, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, nd, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(nd)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    vec = rng.standard_normal((nv, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": np.arange(nv, dtype=np.int64),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, nv), i32),
        }
    )
    return out


def events_table(rng, n: int) -> pa.Table:
    """``n`` events over 30 days from 2024-01-01, time-ordered by id."""
    span_us = 30 * 86400 * 10**6
    ts = np.sort(rng.integers(0, span_us, n)) + np.datetime64("2024-01-01", "us")
    return pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": ts.astype("datetime64[us]"),
            "user_id": rng.integers(0, max(10, n * 3 // 200), n),
            "event_type": rng.choice(EVENT_TYPES, n),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n)],
        }
    )


def write_corpus(root: str, seed: int, rows: dict[str, int] | None = None) -> None:
    os.makedirs(root, exist_ok=True)
    for name, table in corpus_tables(seed, rows).items():
        pq.write_table(table, os.path.join(root, f"{name}.parquet"))


class SyncSource:
    """The sync workload's source system: an ``events`` row stream cut
    into a full-sync snapshot and later slices, each landed as a new
    parquet part under ``<root>/events.parquet/``.

    Rows are keyed by ``id`` and carry ``created_at`` (the watermark
    field) and ``updated_at`` (the re-fetch field). The seed picks row
    content, the arrival order within each slice, and which earlier rows
    a slice re-sends with a later ``updated_at`` and a new ``value``.
    From slice ``schema_change_slice`` on (1 is the first after the
    snapshot), rows carry a new ``channel`` column.

    ``expected`` is what the target's upsert view must hold: the last
    version of every row landed so far, keyed by id.
    """

    table = "events"

    def __init__(self, root: str, seed: int, snapshot: int, slice_rows: int,
                 updates: int, schema_change_slice: int):
        self.root = root
        self.rng = np.random.default_rng(seed)
        self.snapshot = snapshot
        self.slice_rows = slice_rows
        self.updates = updates
        self.expected: dict[int, dict] = {}
        self.next_id = 0
        self.max_created = self.max_updated = None
        self.clock = datetime(2024, 1, 1)
        self.slices = 0
        self.schema_change_slice = schema_change_slice
        os.makedirs(os.path.join(root, f"{self.table}.parquet"), exist_ok=True)
        self._land(snapshot, updates=0)

    def _tick(self) -> datetime:
        self.clock += timedelta(seconds=int(self.rng.integers(1, 60)))
        return self.clock

    def _land(self, n_new: int, updates: int) -> None:
        rows = []
        for _ in range(n_new):
            ts = self._tick()
            rows.append({
                "id": self.next_id,
                "created_at": ts,
                "updated_at": ts,
                "user_id": int(self.rng.integers(0, 500)),
                "event_type": EVENT_TYPES[int(self.rng.integers(0, 5))],
                "value": round(float(self.rng.exponential(50.0)), 2),
            })
            self.next_id += 1
        old = sorted(self.expected)
        for k in sorted(self.rng.choice(old, size=min(updates, len(old)), replace=False)):
            r = dict(self.expected[int(k)])
            r["updated_at"] = self._tick()
            r["value"] = round(float(self.rng.exponential(50.0)), 2)
            rows.append(r)
        rows = [rows[i] for i in self.rng.permutation(len(rows))]
        if self.slices >= self.schema_change_slice:
            for r in rows:
                r["channel"] = ("web", "app", "api")[r["id"] % 3]
        self._write(rows)
        for r in rows:
            self.expected[r["id"]] = r
        self.max_created = max(r["created_at"] for r in self.expected.values())
        self.max_updated = max(r["updated_at"] for r in self.expected.values())
        self.slices += 1

    def _write(self, rows: list[dict]) -> None:
        cols = list(rows[0])
        cols += sorted({c for r in rows for c in r} - set(cols))
        data = {c: [r.get(c) for r in rows] for c in cols}
        for c in ("created_at", "updated_at"):
            data[c] = pa.array(data[c], pa.timestamp("us"))
        part = os.path.join(self.root, f"{self.table}.parquet", f"part-{self.slices:05d}.parquet")
        pq.write_table(pa.table(data), part)

    def land_slice(self) -> None:
        """Write the next slice: new rows plus re-sent rows with a later
        ``updated_at``."""
        self._land(self.slice_rows, self.updates)


#: the synced documents' vocabulary: 18**3 three-syllable words, so two
#: independently drawn documents share almost no token
_SYL = "ba ce di fo gu ha ke li mo nu pa re si to vu wa xe zo".split()
VOCAB = [a + b + c for a in _SYL for b in _SYL for c in _SYL]


class DocSource:
    """A ``documents`` table the sync engine screens for near-duplicates.

    Each slice lands new documents (20 to 40 random words from
    :data:`VOCAB`, far from every other document) plus ``copies`` new
    documents whose text copies an earlier kept document word for word.
    The screen must drop exactly the copies. The seed picks the texts,
    which documents are copied and the arrival order.

    ``expected`` maps the id of every kept document to its text;
    ``copied`` counts the copies landed after the snapshot.
    """

    table = "documents"

    def __init__(self, root: str, seed: int, snapshot: int, slice_rows: int, copies: int):
        self.root = root
        # a stream of its own, so the events rows do not depend on it
        self.rng = np.random.default_rng([seed, 1])
        self.snapshot = snapshot
        self.slice_rows = slice_rows
        self.copies = copies
        self.expected: dict[int, str] = {}
        self.copied = 0
        self.next_id = 0
        self.max_created = None
        self.clock = datetime(2024, 1, 1)
        self.slices = 0
        os.makedirs(os.path.join(root, f"{self.table}.parquet"), exist_ok=True)
        self._land(snapshot, copies=0)

    def _land(self, n_new: int, copies: int) -> None:
        texts = [
            " ".join(VOCAB[i] for i in self.rng.integers(0, len(VOCAB), int(n)))
            for n in self.rng.integers(20, 41, n_new)
        ]
        old = sorted(self.expected)
        picked = self.rng.choice(old, size=min(copies, len(old)), replace=False) if old else []
        texts += [self.expected[int(k)] for k in picked]
        order = self.rng.permutation(len(texts))
        rows = []
        for i in order:
            self.clock += timedelta(seconds=int(self.rng.integers(1, 60)))
            rows.append({"id": self.next_id, "created_at": self.clock, "text": texts[i],
                         "copy": bool(i >= n_new)})
            self.next_id += 1
        table = pa.table({
            "id": pa.array([r["id"] for r in rows], pa.int64()),
            "created_at": pa.array([r["created_at"] for r in rows], pa.timestamp("us")),
            "text": [r["text"] for r in rows],
        })
        pq.write_table(table, os.path.join(
            self.root, f"{self.table}.parquet", f"part-{self.slices:05d}.parquet"))
        for r in rows:
            if not r["copy"]:
                self.expected[r["id"]] = r["text"]
        if self.slices:
            self.copied += len(picked)
        self.max_created = self.clock
        self.slices += 1

    def land_slice(self) -> None:
        self._land(self.slice_rows, self.copies)


#: the served index's mapping: a nested ``customer`` object, which the
#: sync flattens into ``customer_name`` and ``customer_tier``
ES_MAPPING = {
    "id": {"type": "long"},
    "created_at": {"type": "date"},
    "amount": {"type": "double"},
    "status": {"type": "keyword"},
    "customer": {"properties": {"name": {"type": "keyword"}, "tier": {"type": "keyword"}}},
}


class EsDocs:
    """The documents an Elasticsearch index serves, grown slice by slice.

    ``docs`` is the list the loopback fixture serves from; a slice
    appends to it in place. Every document has a fresh ``_id`` and a
    later ``created_at`` (the wire format's ``YYYY-MM-DD HH:MM:SS``
    string). The seed picks the content and the arrival order.
    """

    index = "orders_es"

    def __init__(self, seed: int, snapshot: int, slice_rows: int):
        self.rng = np.random.default_rng([seed, 2])
        self.snapshot = snapshot
        self.slice_rows = slice_rows
        self.docs: list[dict] = []
        self.clock = datetime(2024, 1, 1)
        self._land(snapshot)

    def _land(self, n: int) -> None:
        new = []
        for _ in range(n):
            self.clock += timedelta(seconds=int(self.rng.integers(1, 60)))
            i = len(self.docs) + len(new)
            new.append({
                "_id": f"o{i}",
                "id": i,
                "created_at": self.clock.strftime("%Y-%m-%d %H:%M:%S"),
                "amount": round(float(self.rng.exponential(80.0)), 2),
                "status": ("new", "paid", "shipped")[int(self.rng.integers(0, 3))],
                "customer": {
                    "name": f"c{int(self.rng.integers(0, 1000))}",
                    "tier": ("gold", "silver", "bronze")[int(self.rng.integers(0, 3))],
                },
            })
        self.docs.extend(new[i] for i in self.rng.permutation(len(new)))

    @property
    def max_created(self) -> str:
        return self.clock.strftime("%Y-%m-%d %H:%M:%S")

    def land_slice(self) -> None:
        self._land(self.slice_rows)
