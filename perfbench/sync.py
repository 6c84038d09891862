"""Sync workload: the replication daemon's own job, from two kinds of source.

- ``SyncEngine`` (dialect ``es``) reads a ``ParquetCatalog`` of two
  tables that :mod:`gen` grows slice by slice: ``events`` (new rows,
  re-sent rows with a later update time, a seeded slice that adds a
  column) and ``documents``, screened by a ``PersistedNearDupStore``
  (each slice plants word-for-word copies of earlier documents, which
  the screen must drop);
- ``sources.es.sync_incremental_es_http`` drains an Elasticsearch index
  with sliced scrolls. The index is the loopback fixture
  ``sources.es_fixture``, served from threads of this process and
  counting what it serves.

Both land in one ``WarehouseTarget`` with one ``StateStore``. Set-up is
a full sync of every source's snapshot into an empty warehouse. One op
is a daemon cycle: the sources land a slice (untimed), then an active
round (an engine round, then an ES round) moves it, and an idle round
finds nothing new.
"""

from __future__ import annotations

import os
import shutil
import threading
import time
from http.server import ThreadingHTTPServer

from es_to_clickhouse_spark.catalog import ParquetCatalog
from es_to_clickhouse_spark.engine import SyncEngine
from es_to_clickhouse_spark.observability import ProgressReporter
from es_to_clickhouse_spark.operators.dedup import PersistedNearDupStore
from es_to_clickhouse_spark.sink import ID_COL, WarehouseTarget
from es_to_clickhouse_spark.sources.es import ScrollSession, sync_incremental_es_http
from es_to_clickhouse_spark.sources.es_fixture import make_handler
from es_to_clickhouse_spark.state import StateStore

from . import gen, trace

#: rows per source: (snapshot, new rows per slice[, re-sent or copied rows per slice])
SIZES = {
    "events": (1500, 150, 15),
    "documents": (200, 20, 4),
    "es": (1000, 100),
}
#: the events slice on which the new ``channel`` column first appears:
#: the timed cycle's, so every run times the schema change
SCHEMA_CHANGE_SLICE = 1
#: hits per scroll page
ES_PAGE = 500
COMPARED = ["created_at", "updated_at", "user_id", "event_type", "value", "channel"]


class WireFixture:
    """``sources.es_fixture``'s request handler over ``docs``, served
    from a thread of this process. It counts requests, response bytes
    and seconds spent in handlers (summed over handler threads): the
    source system's cost, not the program's."""

    def __init__(self, docs: list, index: str, mapping: dict):
        self.counts = {"requests": 0, "bytes_served": 0, "server_busy_s": 0.0}
        counts, lock = self.counts, threading.Lock()

        class Counting(make_handler(docs, index=index, mapping=mapping)):
            def send_header(self, keyword, value):
                if keyword == "Content-Length":
                    with lock:
                        counts["bytes_served"] += int(value)
                super().send_header(keyword, value)

            def _timed(self, handle):
                t0 = time.perf_counter()
                try:
                    handle()
                finally:
                    with lock:
                        counts["requests"] += 1
                        counts["server_busy_s"] += time.perf_counter() - t0

            def do_GET(self):
                self._timed(super().do_GET)

            def do_POST(self):
                self._timed(super().do_POST)

            def do_DELETE(self):
                self._timed(super().do_DELETE)

        self.server = ThreadingHTTPServer(("127.0.0.1", 0), Counting)
        self.thread = threading.Thread(target=self.server.serve_forever, daemon=True)
        self.thread.start()
        self.host = f"http://127.0.0.1:{self.server.server_address[1]}"

    def close(self) -> None:
        self.server.shutdown()
        self.server.server_close()
        self.thread.join()


class SyncWorkload:
    name = "sync_catalog"
    #: untimed cycles between the set-up and the timed cycles, one less
    #: than ``SCHEMA_CHANGE_SLICE``. None: the timed cycle is the first
    #: after the full sync. It runs about 30% slower than later ones
    #: (JIT), but a warm-up cycle would cost 15-20 s a run on a 4-core
    #: VM, more than the benchmark's time budget leaves.
    warmup_ops = 0
    #: a cycle's rough length on a 4-core VM; ``--seconds`` / this, but at
    #: least ``min_ops``, is the fixed number of timed cycles, so every
    #: build times the same cycles on the same state
    op_estimate_s = 12.0
    min_ops = 1

    def __init__(self, work: str, seed: int, sizes: dict = SIZES):
        self.work = work
        root = os.path.join(work, "source")
        self.events = gen.SyncSource(root, seed, *sizes["events"], SCHEMA_CHANGE_SLICE)
        self.docs = gen.DocSource(root, seed, *sizes["documents"])
        self.es = gen.EsDocs(seed, *sizes["es"])
        self.wire = WireFixture(self.es.docs, self.es.index, gen.ES_MAPPING)
        self.session = ScrollSession(host=self.wire.host, size=ES_PAGE)
        self.input_rows = sizes["events"][0] + sizes["documents"][0] + sizes["es"][0]
        self.engine = None
        self.store_dir = os.path.join(work, "neardup")
        self.full_reports = []
        self.es_full = None
        #: (op id, round kind, engine SyncReports, ES (mode, rows, watermark))
        #: of every incremental round
        self.round_reports: list[tuple] = []
        #: (round kind, wall seconds) of the timed rounds
        self.round_times: list[tuple[str, float]] = []
        #: fixture counters each op added, by op id
        self.wire_per_op: dict = {}
        #: sink data files each op added, by op id
        self.files_per_op: dict = {}

    @property
    def tables(self) -> tuple[str, ...]:
        return (self.events.table, self.docs.table, self.es.index)

    def _engine(self, spark, tracer) -> SyncEngine:
        wh = os.path.join(self.work, "warehouse")
        shutil.rmtree(wh, ignore_errors=True)
        shutil.rmtree(self.store_dir, ignore_errors=True)
        parts = {
            "catalog": ParquetCatalog(spark, os.path.join(self.work, "source")),
            "target": WarehouseTarget(spark, wh),
            "state": StateStore(spark, wh),
            "reporter": ProgressReporter(),
            "neardup": PersistedNearDupStore(self.store_dir, id_col="id", text_col="text"),
        }
        if tracer.enabled:
            wrap = {
                "catalog": trace.TracedCatalog,
                "target": trace.TracedTarget,
                "state": trace.TracedState,
                "reporter": trace.TracedReporter,
                "neardup": trace.TracedNearDup,
            }
            parts = {k: wrap[k](v, tracer) for k, v in parts.items()}
        return SyncEngine(spark=spark, dialect="es", id_field="id", **parts)

    def _es_round(self, spark, tracer, kind: str):
        with tracer.span("es.round", kind=kind):
            return sync_incremental_es_http(
                spark, self.session, self.engine.target, self.engine.state,
                self.es.index, slices=spark.sparkContext.defaultParallelism,
            )

    def setup(self, spark, tracer) -> int:
        """Full sync of every snapshot into a fresh warehouse; returns rows landed."""
        self.engine = self._engine(spark, tracer)
        with tracer.span("engine.full"):
            self.full_reports = self.engine.sync_full()
        self.es_full = self._es_round(spark, tracer, "full")
        return sum(r.rows for r in self.full_reports) + self.es_full[1]

    def warm(self, spark, tracer) -> list[float]:
        """The untimed warm-up cycles; returns their wall seconds."""
        times = []
        for i in range(self.warmup_ops):
            self.prepare()
            tracer.op = f"warmup{i}"
            t0 = time.perf_counter()
            self.op(spark, tracer)
            times.append(time.perf_counter() - t0)
            tracer.collect()
        self.round_times.clear()
        return times

    def prepare(self) -> None:
        """Land the next slice of every source."""
        self.events.land_slice()
        self.docs.land_slice()
        self.es.land_slice()

    def op(self, spark, tracer) -> None:
        """One daemon cycle over already landed slices."""
        before = dict(self.wire.counts)
        files = sum(self.files(t) for t in self.tables)
        for kind in ("active", "idle"):
            t0 = time.perf_counter()
            with tracer.span("engine.round", kind=kind):
                reps = self.engine.sync_incremental_once()
            es = self._es_round(spark, tracer, kind)
            self.round_times.append((kind, time.perf_counter() - t0))
            self.round_reports.append((tracer.op, kind, reps, es))
        self.wire_per_op[tracer.op] = {k: v - before[k] for k, v in self.wire.counts.items()}
        self.files_per_op[tracer.op] = sum(self.files(t) for t in self.tables) - files

    def check(self, spark) -> tuple[int, list[str]]:
        """Round outcomes, every target table against its source, and the
        watermarks against the source maxima; returns the number of
        checks and one message per failure."""
        errors = []
        full = {r.table: r.rows for r in self.full_reports}
        want_full = {self.events.table: self.events.snapshot, self.docs.table: self.docs.snapshot}
        if full != want_full:
            errors.append(f"full sync landed {full}, expected {want_full}")
        if self.es_full[:2] != ("full", self.es.snapshot):
            errors.append(f"ES bootstrap returned {self.es_full}")
        dropped = 0
        for _, kind, reps, (mode, n, _) in self.round_reports:
            for r in reps:
                moved = r.rows + r.neardup_dropped
                if (kind == "idle") != (moved == 0):
                    errors.append(f"{kind} round moved {moved} {r.table} rows")
                dropped += r.neardup_dropped
            want = 0 if kind == "idle" else self.es.slice_rows
            if (mode, n) != ("incremental", want):
                errors.append(f"{kind} ES round returned {mode} with {n} docs, expected {want}")
        target, state = self.engine.target, self.engine.state
        errors += self._check_events(target)
        got = {
            int(r["id"]): r["text"]
            for r in target.read(self.docs.table).select("id", "text").collect()
        }
        if got != self.docs.expected:
            errors.append(
                f"{self.docs.table} holds {len(got)} documents, expected the "
                f"{len(self.docs.expected)} that are not copies"
            )
        if dropped != self.docs.copied:
            errors.append(f"the screen dropped {dropped} documents, {self.docs.copied} were copies")
        es_rows = target.read(self.es.index, dedup=False).select(ID_COL).collect()
        ids = sorted(r[ID_COL] for r in es_rows)
        if ids != sorted(d["_id"] for d in self.es.docs):
            errors.append(f"{self.es.index} holds {len(ids)} rows, "
                          f"{len(set(ids))} distinct _id, {len(self.es.docs)} served")
        marks = {t: state.get(t) for t in self.tables}
        got_marks = {t: (s.last_sync_time, s.last_update_time) if s else None
                     for t, s in marks.items()}
        want_marks = {
            self.events.table: (str(self.events.max_created), str(self.events.max_updated)),
            self.docs.table: (str(self.docs.max_created), None),
            self.es.index: (self.es.max_created, None),
        }
        if got_marks != want_marks:
            errors.append(f"watermarks {got_marks} != source maxima {want_marks}")
        return len(self.round_reports) + 7, errors

    def _check_events(self, target) -> list[str]:
        """The events upsert view, new column included, against the
        generator's latest row per key."""
        table = self.events.table
        cols = [c for c in COMPARED if c in target.live_columns(table)]
        errors = []
        if "channel" not in cols:
            errors.append("the new column never reached the target")
        got = {
            int(r[ID_COL]): tuple(r[c] for c in cols)
            for r in target.read(table).select(ID_COL, *cols).collect()
        }
        want = {k: tuple(r.get(c) for c in cols) for k, r in self.events.expected.items()}
        if got != want:
            diff = sorted(set(got.items()) ^ set(want.items()))[:3]
            errors.append(
                f"upsert view has {len(got)} keys, expected {len(want)}; "
                f"first differences {diff}"
            )
        return errors

    def files(self, sub: str, root: str | None = None) -> int:
        """Parquet parts under ``sub`` of the warehouse (or of ``root``)."""
        n = 0
        for _, _, names in os.walk(os.path.join(root or os.path.join(self.work, "warehouse"), sub)):
            n += sum(f.endswith(".parquet") for f in names)
        return n

    def close(self) -> None:
        self.wire.close()
