"""engine.land_batch: the one sink → state → store path of every sync
round, pinned once against recording fakes for the target, the state
store and the near-dup store."""

from __future__ import annotations

import pathlib
import re

from pyspark.sql import functions as F

from es_to_clickhouse_spark.engine import land_batch
from es_to_clickhouse_spark.state import SyncState

PACKAGE = pathlib.Path(__file__).resolve().parents[1] / "es_to_clickhouse_spark"


class Recorder:
    """Target, state and store fakes sharing one call log."""

    id_col = "id"
    text_col = "text"

    def __init__(self, dup_texts=()):
        self.calls: list[tuple] = []
        self.dup_texts = list(dup_texts)

    # target: collecting the batch runs it, so observed metrics fire
    def append_rows(self, df):
        self.calls.append(("sink", sorted(r["id"] for r in df.collect())))

    # state
    def commit(self, st: SyncState):
        self.calls.append(("state", st))

    # near-dup store: a row whose text is listed is a near-dup
    def screen_split(self, batch):
        is_dup = F.col(self.text_col).isin(self.dup_texts)
        matched = batch.where(is_dup).select(self.id_col).localCheckpoint()
        return batch.where(~is_dup), matched

    def append(self, docs):
        self.calls.append(("store", sorted(r["id"] for r in docs.collect())))


def _batch(spark, rows):
    return spark.createDataFrame(
        rows, "id long, created_at string, updated_at string, text string"
    )


ROWS = [
    (1, "2024-01-02", "2024-01-05", "alpha"),
    (2, "2024-01-03", "2024-01-04", "bravo"),
]
MARKS = dict(time_col="created_at", update_col="updated_at", id_col="id")


def _land(rec, batch, base=None, screened=True, **marks):
    return land_batch(
        rec,
        base or SyncState("t", "src"),
        batch,
        rec.append_rows,
        neardup=rec if screened else None,
        **(marks or MARKS),
    )


def test_land_batch_orders_sink_state_store(spark):
    rec = Recorder(dup_texts=["bravo"])
    landed, dropped, st = _land(rec, _batch(spark, ROWS))
    assert (landed, dropped) == (1, 1)
    assert [c[0] for c in rec.calls] == ["sink", "state", "store"]
    assert rec.calls[0][1] == [1] and rec.calls[2][1] == [1]
    # marks come from the FULL batch, near-dups included
    assert rec.calls[1][1] == st
    assert (st.last_sync_time, st.last_update_time, st.last_id) == (
        "2024-01-03", "2024-01-05", "2",
    )
    assert st.last_sync_count == 1


def test_land_batch_unscreened_observes_count_and_marks(spark):
    rec = Recorder()
    landed, dropped, st = _land(rec, _batch(spark, ROWS), screened=False)
    assert (landed, dropped) == (2, 0)
    assert [c[0] for c in rec.calls] == ["sink", "state"]
    assert (st.last_sync_time, st.last_update_time, st.last_id) == (
        "2024-01-03", "2024-01-05", "2",
    )


def test_land_batch_empty_batch_makes_no_calls(spark):
    for screened in (True, False):
        rec = Recorder()
        assert _land(rec, _batch(spark, []), screened=screened) == (0, 0, None)
        assert rec.calls == []


def test_land_batch_all_dup_commits_advanced_marks_without_append(spark):
    rec = Recorder(dup_texts=["alpha", "bravo"])
    base = SyncState("t", "src", last_sync_time="2024-01-01")
    landed, dropped, st = _land(rec, _batch(spark, ROWS), base=base)
    assert (landed, dropped) == (0, 2)
    assert [c[0] for c in rec.calls] == ["state"]
    assert st.last_sync_time == "2024-01-03"


def test_land_batch_late_batch_lowers_no_mark(spark):
    base = SyncState(
        "t", "src",
        last_sync_time="2024-02-01",
        last_update_time="2024-02-02",
        last_id="100",  # numeric: '100' > '2', not lexicographic
    )
    for screened in (True, False):
        rec = Recorder()
        _, _, st = _land(rec, _batch(spark, ROWS), base=base, screened=screened)
        assert (st.last_sync_time, st.last_update_time, st.last_id) == (
            "2024-02-01", "2024-02-02", "100",
        )


def test_land_batch_commits_unobserved_base_marks_verbatim(spark):
    """The Mongo contiguous-prefix watermark and the ES hold on an
    incomplete drain: no column is observed, so the base marks commit
    as they are, even below the batch's own maxima."""
    rec = Recorder()
    base = SyncState(
        "t", "src", time_field="created_at",
        last_sync_time="2023-12-31", last_id="str:id-03",
    )
    landed, _, st = land_batch(rec, base, _batch(spark, ROWS), rec.append_rows)
    assert landed == 2
    assert (st.last_sync_time, st.last_update_time, st.last_id) == (
        "2023-12-31", None, "str:id-03",
    )
    assert st.time_field == "created_at" and st.last_sync_count == 2


def test_state_commit_and_screen_split_called_only_from_land_batch():
    """A sync path that hand-rolls its own sink → state → store loop
    body again fails here: every call of ``state.commit(`` and
    ``.screen_split(`` in the package sits inside land_batch."""
    engine = (PACKAGE / "engine.py").read_text()
    start = engine.index("def land_batch(")
    end = engine.index("\n@dataclass", start)
    for pattern in (r"\bstate\.commit\(", r"\.screen_split\("):
        sites = [
            (path.relative_to(PACKAGE).as_posix(), m.start())
            for path in sorted(PACKAGE.rglob("*.py"))
            for m in re.finditer(pattern, path.read_text())
        ]
        assert len(sites) == 1, (pattern, sites)
        path, pos = sites[0]
        assert path == "engine.py" and start < pos < end, (pattern, sites)
