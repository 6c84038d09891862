"""From spans to figures: the readable end-to-end report, the per-layer
metrics of a traced run, and the ledger file.

Per-layer values are medians over the run's timed ops (query passes or
sync cycles) of each op's total for the layer. A workload that bypasses
a layer reports 0 for it: the query workload never enters the sync
layers, and the sync workload never enters ``corpus``. LAYERS.md maps
each metric to the end-to-end metric it should move.
"""

from __future__ import annotations

import json
import os
import statistics

from perfbench.trace import COUNTERS, dur

SYNC_LAYERS = {
    # metric prefix: span names whose time and jobs it sums per cycle
    "catalog.read": ("catalog.list_tables", "catalog.read"),
    "state.get": ("state.get",),
    "state.commit": ("state.commit",),
    "sink.append": ("sink.append",),
    "dedup.screen": ("dedup.screen",),
    "dedup.store_append": ("dedup.store_append",),
}
#: fixture counters, reported per cycle under ``wire.<counter>``
WIRE = {"requests": "count", "bytes_served": "bytes", "server_busy_s": "s"}

#: per-layer metric name -> unit, in report order
UNITS = {
    "session.start_s": "s",
    "session.cold_pass_s": "s",
    "corpus.construct_s": "s",
    "corpus.construct_jobs": "count",
    "corpus.construct_stages": "count",
    "exec.run_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.task_busy_s": "s",
    "exec.core_util": "ratio",
    "exec.failed_tasks": "count",
    "engine.self_s": "s",
    "engine.jobs_active": "count",
    "engine.jobs_idle": "count",
    **{f"{p}_{k}": u for p in SYNC_LAYERS for k, u in (("s", "s"), ("jobs", "count"))},
    "state.files": "count",
    "sink.rows_written": "count",
    "sink.bytes_written": "bytes",
    "sink.files_written": "count",
    "dedup.drop_ratio": "ratio",
    "dedup.store_files": "count",
    "es.self_s": "s",
    "es.jobs": "count",
    **{f"wire.{k}": u for k, u in WIRE.items()},
}


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def readable(wl, ops, setup, full_rows) -> dict:
    """The end-to-end figures under the names users know them by."""
    out = {"setup_s": (sum(setup), "s")}
    if hasattr(wl, "round_times"):
        out["full_rows_per_s"] = (full_rows / setup[1], "rows/s")
        out["inc_round_s"] = (_median(t for k, t in wl.round_times if k == "active"), "s")
        out["idle_round_s"] = (_median(t for k, t in wl.round_times if k == "idle"), "s")
        out["cycle_s"] = (_median(ops), "s")
    else:
        out["pass_s"] = (_median(ops), "s")
    return out


def _timed(tracer, name: str) -> list[dict]:
    return [s for s in tracer.spans if s["name"] == name and isinstance(s["op"], int)]


def _per_op(spans, value) -> dict:
    """Per-op totals of ``value(span)`` over ``spans``, keyed by op."""
    out: dict = {}
    for s in spans:
        out[s["op"]] = out.get(s["op"], 0) + value(s)
    return out


def _exec_metrics(tracer, spans, n_cores) -> dict:
    """exec.* over the given spans (inclusive of their children)."""
    incl = [(s, tracer.inclusive(s)) for s in spans]
    by_op = {}
    for s, c in incl:
        acc = by_op.setdefault(s["op"], dict.fromkeys(COUNTERS, 0) | {"s": 0.0})
        acc["s"] += dur(s)
        for k in COUNTERS:
            acc[k] += c[k]
    rows = list(by_op.values())
    return {
        "exec.run_s": _median(r["s"] for r in rows),
        "exec.jobs": _median(r["jobs"] for r in rows),
        "exec.stages": _median(r["stages"] for r in rows),
        "exec.tasks": _median(r["tasks"] for r in rows),
        "exec.shuffle_write_bytes": _median(r["shuffle_write_bytes"] for r in rows),
        "exec.spill_bytes": _median(r["mem_spill_bytes"] + r["disk_spill_bytes"] for r in rows),
        "exec.task_busy_s": _median(r["busy_ms"] / 1000 for r in rows),
        "exec.core_util": _median(
            r["busy_ms"] / 1000 / (r["s"] * n_cores) for r in rows if r["s"] > 0
        ),
        "exec.failed_tasks": _median(r["failed_tasks"] for r in rows),
    }


def per_layer(tracer, wl, n_cores: int, setup) -> dict:
    m = dict.fromkeys(UNITS, 0.0)
    m["session.start_s"], m["session.cold_pass_s"] = setup
    construct = _timed(tracer, "corpus.construct")
    if construct:
        m["corpus.construct_s"] = _median(_per_op(construct, dur).values())
        m["corpus.construct_jobs"] = _median(_per_op(construct, lambda s: s["jobs"]).values())
        m["corpus.construct_stages"] = _median(_per_op(construct, lambda s: s["stages"]).values())
        m.update(_exec_metrics(tracer, _timed(tracer, "exec.run"), n_cores))
    rounds = _timed(tracer, "engine.round")
    if rounds:
        es_rounds = _timed(tracer, "es.round")
        # exec.* over whole cycles: every sync job is plan execution
        m.update(_exec_metrics(tracer, rounds + es_rounds, n_cores))
        m["engine.self_s"] = _median(_per_op(rounds, tracer.self_s).values())
        m["es.self_s"] = _median(_per_op(es_rounds, tracer.self_s).values())
        m["es.jobs"] = _median(
            _per_op(es_rounds, lambda s: tracer.inclusive(s)["jobs"]).values()
        )
        for kind in ("active", "idle"):
            m[f"engine.jobs_{kind}"] = _median(
                tracer.inclusive(r)["jobs"] for r in rounds if r["kind"] == kind
            )
        for prefix, names in SYNC_LAYERS.items():
            spans = [s for n in names for s in _timed(tracer, n)]
            ops = {r["op"] for r in rounds}
            zero = {op: 0.0 for op in ops}
            m[f"{prefix}_s"] = _median(({**zero, **_per_op(spans, dur)}).values())
            m[f"{prefix}_jobs"] = _median(
                ({**zero, **_per_op(spans, lambda s: tracer.inclusive(s)["jobs"])}).values()
            )
        appends = _timed(tracer, "sink.append")
        m["sink.rows_written"] = _median(
            _per_op(appends, lambda s: tracer.inclusive(s)["output_records"]).values()
        )
        m["sink.bytes_written"] = _median(
            _per_op(appends, lambda s: tracer.inclusive(s)["output_bytes"]).values()
        )
        m["sink.files_written"] = _median(
            n for op, n in wl.files_per_op.items() if isinstance(op, int)
        )
        m["state.files"] = wl.files("_sync_state")
        screened = dropped = 0
        for op, _, reps, _ in wl.round_reports:
            if isinstance(op, int):
                for r in reps:
                    if r.table == wl.docs.table:
                        screened += r.rows + r.neardup_dropped
                        dropped += r.neardup_dropped
        m["dedup.drop_ratio"] = dropped / screened if screened else 0.0
        m["dedup.store_files"] = wl.files("", root=wl.store_dir)
        for k in WIRE:
            m[f"wire.{k}"] = _median(
                c[k] for op, c in wl.wire_per_op.items() if isinstance(op, int)
            )
    return {k: (float(v), UNITS[k]) for k, v in m.items()}


def ledger_rows(tracer) -> list[dict]:
    """One row per query per pass, and one per sync round, with time and
    Spark counters split by the layer spans inside it."""
    rows = []
    by_key: dict = {}
    for s in tracer.spans:
        if s["name"] in ("corpus.construct", "exec.run"):
            key = (s["op"], s["query"])
            row = by_key.get(key)
            if row is None:
                row = by_key[key] = {"op": s["op"], "query": s["query"]}
                rows.append(row)
            part = "construct" if s["name"] == "corpus.construct" else "exec"
            row[f"{part}_s"] = dur(s)
            for k, v in tracer.inclusive(s).items():
                row[f"{part}_{k}"] = v
        elif s["name"] in ("engine.round", "engine.full", "es.round"):
            row = {"op": s["op"], "source": s["name"].split(".")[0],
                   "round": s.get("kind", "full"), "round_s": dur(s),
                   "self_s": tracer.self_s(s), **tracer.inclusive(s),
                   "tables": s.get("tables", [])}
            for c in tracer.children(s):
                row[f"{c['name']}_s"] = row.get(f"{c['name']}_s", 0) + dur(c)
                row[f"{c['name']}_jobs"] = (
                    row.get(f"{c['name']}_jobs", 0) + tracer.inclusive(c)["jobs"]
                )
            rows.append(row)
    return rows


def write_ledger(path: str, workload: str, seed: int, n_cores: int, tracer) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(
            {
                "workload": workload,
                "seed": seed,
                "cores": n_cores,
                "ledger": ledger_rows(tracer),
                "spans": tracer.spans,
            },
            f,
            indent=1,
            default=str,
        )
