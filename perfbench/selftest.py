"""Self-test of the benchmark's instruments, on tiny inputs.

    python3 perfbench/selftest.py

Runs the query list and a short sync (full sync plus two daemon cycles,
the first bringing the new column) three times in one session:
untraced, traced, and traced again, each on freshly generated inputs
from the same seed. It checks that

- the traced run gives the same ``SyncReport``s (all but seconds), the
  same target contents (all but the append timestamp) and the same query
  results as the untraced run, so the wrappers are transparent;
- the warm pass's per-query job counts and the per-round job counts
  repeat exactly across the two traced runs;
- the sync output checks of every run pass.

Exits 0 when all hold, 1 otherwise.
"""

from __future__ import annotations

import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from es_to_clickhouse_spark.sink import TS_COL  # noqa: E402

from perfbench.queries import QueryWorkload, correctness  # noqa: E402
from perfbench.run import WORK, Driver, cores  # noqa: E402
from perfbench.sync import SCHEMA_CHANGE_SLICE, SyncWorkload  # noqa: E402
from perfbench.gen import CORPUS_ROWS  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402

SEED = 7
TINY_CORPUS = {k: max(10, v // 10) for k, v in CORPUS_ROWS.items()}
TINY_SYNC = {"events": (200, 30, 3), "documents": (60, 10, 2), "es": (100, 20)}


def exercise(spark, tracer: Tracer, work: str) -> dict:
    out = {"results": {}, "jobs": {}, "errors": []}
    wl = QueryWorkload(os.path.join(work, "query"), SEED, rows=TINY_CORPUS)
    for op in ("cold", 0):
        tracer.op = op
        wl.op(spark, tracer)
        tracer.collect()
    for q, fn in wl.queries:
        out["results"][q] = correctness.canon_frame(fn(spark, wl.data).toPandas())
    sw = SyncWorkload(os.path.join(work, "sync"), SEED, sizes=TINY_SYNC)
    try:
        tracer.op = "setup"
        sw.setup(spark, tracer)
        # one cycle past the schema-change slice
        for op in range(SCHEMA_CHANGE_SLICE + 1):
            sw.prepare()
            tracer.op = op
            sw.op(spark, tracer)
            tracer.collect()
        out["reports"] = [
            (r.table, r.mode, r.rows, r.watermark, r.neardup_dropped)
            for r in sw.full_reports + [r for _, _, rs, _ in sw.round_reports for r in rs]
        ] + [sw.es_full] + [es for _, _, _, es in sw.round_reports]
        target = sw.engine.target
        # by column name: a mergeSchema read orders columns by whichever
        # part file it lists first
        out["target"] = {
            t: sorted(
                tuple(sorted(r.asDict().items()))
                for r in target.read(t).drop(TS_COL).collect()
            )
            for t in sw.tables
        }
        out["errors"] = sw.check(spark)[1]
    finally:
        sw.close()
    for s in tracer.spans:
        if s["op"] == 0 and "query" in s:
            out["jobs"][(s["query"], s["name"])] = s["jobs"]
        elif s["name"] in ("engine.round", "es.round") and isinstance(s["op"], int):
            out["jobs"][(s["op"], s["name"], s["kind"])] = tracer.inclusive(s)["jobs"]
    return out


def _first_diff(a, b):
    if isinstance(a, dict):
        k = next(k for k in sorted(set(a) | set(b), key=str) if a.get(k) != b.get(k))
        return k, _first_diff(a.get(k), b.get(k))
    if isinstance(a, list) and isinstance(b, list):
        if len(a) != len(b):
            return f"{len(a)} != {len(b)} items"
        return next((x, y) for x, y in zip(a, b) if x != y)
    return a, b


def main() -> int:
    work = os.path.join(WORK, f"selftest-{os.getpid()}")
    driver = Driver(work, cores())
    failures = []
    try:
        spark = driver.start()
        runs = {}
        for label, traced in (("untraced", False), ("traced", True), ("traced again", True)):
            tracer = Tracer(enabled=traced)
            tracer.bind(spark)
            runs[label] = exercise(spark, tracer, os.path.join(work, label.replace(" ", "_")))
            failures += [f"{label}: {e}" for e in runs[label]["errors"]]
        base, traced, again = runs["untraced"], runs["traced"], runs["traced again"]
        for key in ("results", "reports", "target"):
            if base[key] != traced[key]:
                failures.append(f"traced {key} differ from untraced: {_first_diff(base[key], traced[key])}")
        if not traced["jobs"] or traced["jobs"] != again["jobs"]:
            diff = {
                k: (traced["jobs"].get(k), again["jobs"].get(k))
                for k in set(traced["jobs"]) | set(again["jobs"])
                if traced["jobs"].get(k) != again["jobs"].get(k)
            }
            failures.append(f"job counts differ between traced runs: {diff}")
        print(f"selftest: {len(base['results'])} query results, {len(base['reports'])} "
              f"sync reports, {len(traced['jobs'])} job counts compared")
    finally:
        driver.close()
        shutil.rmtree(work, ignore_errors=True)
    for f in failures:
        print(f"FAIL {f}")
    print("selftest", "FAILED" if failures else "passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
