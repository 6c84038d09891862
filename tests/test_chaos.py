"""Chaos tests (VERDICT r10 item 8): the three live wire paths driven
against their loopback fakes under SEEDED fault injection — random
mid-page connection resets and slow replies — asserting the contracts
that matter under adversity:

- **no silent loss**: after EVERY sync round, every source row at or
  below the committed watermark is present in the warehouse (the
  at-least-once invariant; a watermark that overshoots an undrained
  tail is the ADVICE r10 bug class these rounds would expose);
- **convergence**: repeated rounds against a static corpus eventually
  land every row, despite partial drains, held watermarks and failed
  rounds;
- **exactly-once sink under lost INSERT responses** (CH): the fake
  applies the batch then drops the response — the client's retry
  carries the same dedup token and the replay must drop.

Chaos is deterministic per seed (sources/chaos_fixture.py), so a
failure here is a reproducible case, not a flake."""

from __future__ import annotations

import pytest

#: r15: driver test-gate budget — chaos soaks are ~175 s combined
pytestmark = pytest.mark.slow

from es_to_clickhouse_spark.sources.chaos_fixture import Chaos

MAX_ROUNDS = 40


# --------------------------------------------------------------- Mongo


@pytest.mark.parametrize("seed", ["m1", "m2"])
def test_mongo_split_sync_survives_chaos(seed, spark, tmp_path):
    """Split-range keyset sync under random mid-scan connection drops:
    partial ranges hold the watermark at their progress (prefix
    commit), failed probes degrade to serial, and the union over
    rounds reassembles the collection exactly — no id ever sits
    unsynced below the committed watermark."""
    from es_to_clickhouse_spark.sink import WarehouseTarget
    from es_to_clickhouse_spark.sources.mongo_fixture import serve_collection
    from es_to_clickhouse_spark.sources.mongo_wire import (
        MongoWireSession,
        sync_incremental_mongo_wire,
        typed_watermark,
    )
    from es_to_clickhouse_spark.state import StateStore

    docs = [{"_id": i, "n": i * 2} for i in range(300)]
    chaos = Chaos(seed, reset_prob=0.10, slow_prob=0.05, slow_s=0.01)
    srv, port, _ = serve_collection(docs, chaos=chaos)
    try:
        sess = MongoWireSession(port=port, database="db", batch_size=25)
        target = WarehouseTarget(spark, str(tmp_path / "wh"))
        state = StateStore(spark, str(tmp_path / "wh"))

        def warehouse_ids() -> set[int]:
            try:
                wh = spark.read.parquet(str(tmp_path / "wh" / "ev"))
            except Exception:
                return set()
            return {int(r["_id"]) for r in wh.select("_id").collect()}

        done_rounds = 0
        for _ in range(MAX_ROUNDS):
            mode, n, wm = sync_incremental_mongo_wire(
                spark, sess, target, state, "ev", splits=4
            )
            got = warehouse_ids()
            # no-loss invariant: everything at or below the committed
            # watermark is already in the warehouse
            typed = typed_watermark(wm)
            if typed is not None:
                missing = set(range(0, int(typed) + 1)) - got
                assert not missing, (
                    f"watermark {typed} overshot undrained ids "
                    f"{sorted(missing)[:5]}..."
                )
            if got >= set(range(300)) and n == 0:
                done_rounds += 1
                if done_rounds >= 2:
                    break
        assert warehouse_ids() == set(range(300))
        assert typed_watermark(state.get("ev").last_id) == 299
        assert chaos.faults > 0, "chaos never fired — test is vacuous"
    finally:
        srv.shutdown()


# ------------------------------------------------------------------ ES


@pytest.mark.parametrize("seed", ["e1", "e2"])
def test_es_sliced_sync_survives_chaos(seed, spark, tmp_path):
    """Sliced-scroll incremental sync under random mid-page drops: a
    partial slice HOLDS the watermark (the appended snapshot's max may
    belong to healthy slices — committing it would lose the failed
    slice's tail), full re-scans re-fetch, and distinct ids converge
    to the corpus."""
    from es_to_clickhouse_spark.sink import WarehouseTarget
    from es_to_clickhouse_spark.sources.es import (
        ScrollSession,
        sync_incremental_es_http,
    )
    from es_to_clickhouse_spark.sources.es_fixture import serve_index
    from es_to_clickhouse_spark.state import StateStore

    docs = [
        {"_id": str(i), "id": i,
         "created_at": f"2024-05-01 10:{i // 60:02d}:{i % 60:02d}"}
        for i in range(240)
    ]
    by_time = {d["created_at"]: d["id"] for d in docs}
    mapping = {"id": {"type": "long"}, "created_at": {"type": "date"}}
    chaos = Chaos(seed, reset_prob=0.08, slow_prob=0.05, slow_s=0.01)
    srv, host = serve_index(docs, index="ev", mapping=mapping, chaos=chaos)
    try:
        sess = ScrollSession(host=host, size=20, backoff_s=0.01)
        target = WarehouseTarget(spark, str(tmp_path / "wh"))
        state = StateStore(spark, str(tmp_path / "wh"))

        def warehouse_ids() -> set[int]:
            try:
                wh = spark.read.parquet(str(tmp_path / "wh" / "ev"))
            except Exception:
                return set()
            return {int(r["id"]) for r in wh.select("id").collect()}

        done_rounds = 0
        for _ in range(MAX_ROUNDS):
            mode, n, wm = sync_incremental_es_http(
                spark, sess, target, state, "ev", slices=4
            )
            got = warehouse_ids()
            if wm:
                missing = {
                    i for t, i in by_time.items() if t <= wm
                } - got
                assert not missing, (
                    f"watermark {wm} overshot undrained ids "
                    f"{sorted(missing)[:5]}..."
                )
            if got >= {d["id"] for d in docs} and n == 0:
                done_rounds += 1
                if done_rounds >= 2:
                    break
        assert warehouse_ids() == {d["id"] for d in docs}
        assert state.get("ev").last_sync_time == max(by_time)
        assert chaos.faults > 0, "chaos never fired — test is vacuous"
    finally:
        srv.shutdown()


# ------------------------------------------------------------------ CH


@pytest.mark.parametrize("seed", ["c1", "c2"])
def test_ch_http_sync_survives_chaos(seed, spark, tmp_path):
    """CH→warehouse incremental sync under chaos on BOTH directions of
    the HTTP wire: ranged source reads are idempotent and retry
    through resets (a round that still fails commits NOTHING — all or
    nothing per round), and the harsh INSERT case (server applies the
    batch, response lost) stays exactly-once because the retry carries
    the same dedup token. Uses a CH source fixture and a CH sink
    fixture with chaos on each."""
    from es_to_clickhouse_spark.sources.ch_fixture import serve_clickhouse
    from es_to_clickhouse_spark.sources.ch_http import (
        ClickHouseHttpSource,
        ClickHouseHttpTarget,
        sync_incremental_http,
    )
    from es_to_clickhouse_spark.state import StateStore

    rows = [
        {"id": i, "name": f"row-{i}",
         "created_at": f"2024-05-01 10:{i // 60:02d}:{i % 60:02d}",
         "score": float(i)}
        for i in range(200)
    ]
    src_chaos = Chaos(seed + ":src", reset_prob=0.08, slow_prob=0.05,
                      slow_s=0.01)
    sink_chaos = Chaos(seed + ":sink", reset_prob=0.15)
    schema = [
        {"name": "id", "type": "Int64"},
        {"name": "name", "type": "String"},
        {"name": "created_at", "type": "String"},
        {"name": "score", "type": "Float64"},
    ]
    src_srv, src_host, _, _ = serve_clickhouse(
        rows_ref=rows, schema=schema, chaos=src_chaos
    )
    sink_inserted: list[dict] = []
    sink_tokens: set[str] = set()
    sink_srv, sink_host, _, _ = serve_clickhouse(
        inserted=sink_inserted, seen_tokens=sink_tokens, start_empty=True,
        chaos=sink_chaos,
    )
    try:
        src = ClickHouseHttpSource(
            host=src_host, database="src_db", backoff_s=0.01
        )
        target = ClickHouseHttpTarget(
            ClickHouseHttpSource(
                host=sink_host, database="dst_db", backoff_s=0.01
            )
        )
        state = StateStore(spark, str(tmp_path / "wh"))

        def sunk_ids() -> set[int]:
            return {int(r["id"]) for r in sink_inserted}

        done_rounds = 0
        wm = None
        for _ in range(MAX_ROUNDS):
            try:
                # start_date only while no watermark exists (it FORCES
                # the condition, per the reference's precedence)
                boot = (
                    None if state.get("t1") else "2024-01-01 00:00:00"
                )
                n, _cond, wm = sync_incremental_http(
                    spark, src, target, state, "t1",
                    time_column="created_at",
                    start_date=boot,
                    partition_column="id", bounds=(0, 200),
                    num_partitions=4,
                )
            except Exception:
                continue  # failed round committed nothing; retry
            got = sunk_ids()
            if wm:
                missing = {
                    r["id"] for r in rows if r["created_at"] <= wm
                } - got
                assert not missing, (
                    f"watermark {wm} overshot unsunk ids "
                    f"{sorted(missing)[:5]}..."
                )
            if got >= {r["id"] for r in rows} and n == 0:
                done_rounds += 1
                if done_rounds >= 2:
                    break
        assert sunk_ids() == {r["id"] for r in rows}
        # exactly-once under applied-then-dropped inserts: no id landed
        # twice (the dedup token swallowed every replay)
        all_ids = [int(r["id"]) for r in sink_inserted]
        assert len(all_ids) == len(set(all_ids)), "duplicate sink rows"
        assert src_chaos.faults + sink_chaos.faults > 0
    finally:
        src_srv.shutdown()
        sink_srv.shutdown()


# --------------------------------------------------- ES search_after


@pytest.mark.parametrize("seed", ["p1", "p2"])
def test_es_search_after_sync_survives_chaos(seed, spark, tmp_path):
    """The PIT + search_after cursor under the SAME chaos schedule as
    the sliced-scroll test — plus the property that motivates the
    cursor: every request is idempotent, so a mid-drain reset RETRIES
    the identical stateless request instead of abandoning the page.
    With reset_prob=0.08 and a 3-retry budget, a slice fails only on
    ~4 consecutive resets (p ~ 4e-5) — rounds effectively always
    complete, and the no-loss / convergence invariants hold
    regardless. Rounds that complete leave nothing to re-drain, and an
    idle round sends only its one-request probe, so the documents
    arrive in four batches: each batch is drained under chaos."""
    from es_to_clickhouse_spark.sink import WarehouseTarget
    from es_to_clickhouse_spark.sources.es import (
        SearchAfterSession,
        sync_incremental_es_http,
    )
    from es_to_clickhouse_spark.sources.es_fixture import serve_index
    from es_to_clickhouse_spark.state import StateStore

    docs = [
        {"_id": str(i), "id": i,
         "created_at": f"2024-05-01 10:{i // 60:02d}:{i % 60:02d}"}
        for i in range(240)
    ]
    by_time = {d["created_at"]: d["id"] for d in docs}
    mapping = {"id": {"type": "long"}, "created_at": {"type": "date"}}
    chaos = Chaos(seed, reset_prob=0.08, slow_prob=0.05, slow_s=0.01)
    served = docs[:60]  # the fixture serves this list as it grows
    srv, host = serve_index(served, index="ev", mapping=mapping, chaos=chaos)
    try:
        sess = SearchAfterSession(host=host, size=20, backoff_s=0.01)
        target = WarehouseTarget(spark, str(tmp_path / "wh"))
        state = StateStore(spark, str(tmp_path / "wh"))

        def warehouse_ids() -> set[int]:
            try:
                wh = spark.read.parquet(str(tmp_path / "wh" / "ev"))
            except Exception:
                return set()
            return {int(r["id"]) for r in wh.select("id").collect()}

        done_rounds = 0
        for _ in range(MAX_ROUNDS):
            mode, n, wm = sync_incremental_es_http(
                spark, sess, target, state, "ev", slices=4
            )
            served.extend(docs[len(served):len(served) + 60])
            got = warehouse_ids()
            if wm:
                missing = {
                    i for t, i in by_time.items() if t <= wm
                } - got
                assert not missing, (
                    f"watermark {wm} overshot undrained ids "
                    f"{sorted(missing)[:5]}..."
                )
            if got >= {d["id"] for d in docs} and n == 0:
                done_rounds += 1
                if done_rounds >= 2:
                    break
        assert warehouse_ids() == {d["id"] for d in docs}
        assert state.get("ev").last_sync_time == max(by_time)
        assert chaos.faults > 0, "chaos never fired — test is vacuous"
    finally:
        srv.shutdown()
