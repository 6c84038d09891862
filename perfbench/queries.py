"""Query workload: sequential passes over a fixed list of corpus queries.

A pass builds each query's DataFrame (``fn(spark, data_dir)``, which may
itself launch probe and checkpoint jobs) and runs the final plan to
completion through the ``noop`` sink. The list mixes the two places a
warm pass can spend its time:

- ``d19_incremental_neardup``: mostly jobs launched while the DataFrame
  is built (near-dup store probes and checkpoints);
- ``b5_session_duration_stats``: mostly the final plan's execution
  (session windows over the events table).
"""

from __future__ import annotations

import importlib.util
import os
import time

import duckdb

from es_to_clickhouse_spark.corpus import all_oracles, all_queries

from . import gen

_spec = importlib.util.spec_from_file_location(
    "check_correctness",
    os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools", "check_correctness.py"),
)
#: the repository's correctness gate; its ``canon_frame`` is the
#: order-insensitive exact comparison of a Spark result and its oracle
correctness = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(correctness)

QUERIES = ["d19_incremental_neardup", "b5_session_duration_stats"]

#: the testbed's sf0.01 tables, with four times the documents and ten
#: times the events, so per-seed differences in the data average out
#: and b5's final plan outweighs the scheduler
ROWS = {**gen.CORPUS_ROWS, "events": 100_000, "documents": 2000}


class QueryWorkload:
    name = "query_mix"
    #: untimed passes between the set-up and the timed passes: passes
    #: still got 10-25% faster over the first two on a 4-core VM
    warmup_ops = 2
    #: a pass's rough length on a 4-core VM; ``--seconds`` / this, but at
    #: least ``min_ops``, is the fixed number of timed passes
    op_estimate_s = 4.0
    min_ops = 3

    def __init__(self, work: str, seed: int, rows: dict = ROWS):
        self.data = os.path.join(work, "corpus")
        gen.write_corpus(self.data, seed, rows)
        fns = all_queries()
        self.queries = [(q, fns[q]) for q in QUERIES]
        #: canonical result of each query, from the last warm-up pass
        self.results: dict = {}
        self.input_rows = sum(rows.values())

    def setup(self, spark, tracer) -> None:
        self.op(spark, tracer)

    def warm(self, spark, tracer) -> list[float]:
        """The untimed warm-up passes; returns their wall seconds. The
        last one collects each query's result for :meth:`check` instead
        of discarding it, so checking costs no extra pass."""
        times = []
        for i in range(self.warmup_ops):
            tracer.op = f"warmup{i}"
            t0 = time.perf_counter()
            self.op(spark, tracer, keep=i == self.warmup_ops - 1)
            times.append(time.perf_counter() - t0)
            tracer.collect()
        return times

    def prepare(self) -> None:
        pass

    def op(self, spark, tracer, keep: bool = False) -> None:
        """One pass over the list; ``keep`` collects the results."""
        for q, fn in self.queries:
            with tracer.span("corpus.construct", query=q):
                df = fn(spark, self.data)
            with tracer.span("exec.run", query=q):
                if keep:
                    self.results[q] = correctness.canon_frame(df.toPandas())
                else:
                    df.write.format("noop").mode("overwrite").save()

    def close(self) -> None:
        pass

    def check(self, spark) -> tuple[int, list[str]]:
        """Each query's result, as the last warm-up pass collected it,
        against its DuckDB oracle over the same files; returns the number
        of checks and one message per failure."""
        oracles = all_oracles()
        con = duckdb.connect()
        for t in correctness.TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{os.path.join(self.data, t + '.parquet')}'"
            )
        errors = []
        for q, _ in self.queries:
            got = self.results[q]
            if q not in oracles:
                if not got[1]:
                    errors.append(f"{q}: empty result")
                continue
            want = correctness.canon_frame(con.execute(oracles[q]).fetchdf())
            if got != want:
                errors.append(
                    f"{q}: spark {len(got[1])} rows {got[0]} != "
                    f"oracle {len(want[1])} rows {want[0]}"
                )
            elif not got[1]:
                errors.append(f"{q}: empty on both engines, proves nothing")
        con.close()
        return len(self.queries), errors
