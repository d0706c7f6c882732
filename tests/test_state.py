"""The shared versioned-state protocol (streaming/state.py).

Most tests here are Spark-free: the maintainers are opened with
``spark=None`` and one committed tick is fabricated on disk (a finished
state dir plus a pointer commit), so the pointer protocol of every class
is exercised in seconds. Only the double-count regression runs real
merges.
"""

from __future__ import annotations

import json
import os
import stat

import pytest

from _data_engineering_pipeline_project_spark.operators.scd2 import Scd2Table
from _data_engineering_pipeline_project_spark.streaming.aggmaint import (
    AggMaintainer,
)
from _data_engineering_pipeline_project_spark.streaming.bloommaint import (
    BloomMaintainer,
    RotatingBloomMaintainer,
)
from _data_engineering_pipeline_project_spark.streaming.bluegreen import (
    BlueGreenIndex,
)
from _data_engineering_pipeline_project_spark.streaming.bm25maint import (
    Bm25Maintainer,
)
from _data_engineering_pipeline_project_spark.streaming.cdcmaint import (
    CdcSnapshotMaintainer,
)
from _data_engineering_pipeline_project_spark.streaming.clustermaint import (
    ClusterMaintainer,
)
from _data_engineering_pipeline_project_spark.streaming.cmmaint import (
    CountMinMaintainer,
)
from _data_engineering_pipeline_project_spark.streaming.compactmaint import (
    CompactionMaintainer,
)
from _data_engineering_pipeline_project_spark.streaming.covmaint import (
    CovarianceMaintainer,
)
from _data_engineering_pipeline_project_spark.streaming.dedupmaint import (
    DedupMaintainer,
)
from _data_engineering_pipeline_project_spark.streaming.driftmaint import (
    DriftMaintainer,
)
from _data_engineering_pipeline_project_spark.streaming.ivfopqmaint import (
    IvfOpqIndexMaintainer,
)
from _data_engineering_pipeline_project_spark.streaming.neardupmaint import (
    NearDupIndexMaintainer,
)
from _data_engineering_pipeline_project_spark.streaming.opqmaint import (
    OpqIndexMaintainer,
)
from _data_engineering_pipeline_project_spark.streaming.samplemaint import (
    SampleMaintainer,
)
from _data_engineering_pipeline_project_spark.streaming.semdedupmaint import (
    SemDeDupMaintainer,
)
from _data_engineering_pipeline_project_spark.streaming.sketchmaint import (
    HistogramMaintainer,
    KmvMaintainer,
)
from _data_engineering_pipeline_project_spark.streaming.state import (
    VersionedState,
    commit_pointer,
)

TICK = {"version": 1, "last_batch_id": 0}

# (class, constructor kwargs, a dir one committed tick leaves behind,
#  what a lost pointer does, the pointer fields of that tick).
# "adopt" only where re-merging a redelivered batch is idempotent.
CASES = [
    (AggMaintainer, {"key_cols": ["k"], "value_col": "v"}, "rollup_v1",
     "refuse", TICK),
    (BloomMaintainer, {}, "words_v1", "adopt", TICK),
    (RotatingBloomMaintainer, {"generations": 2}, "gen_0/words_v1",
     "refuse", {"current": 1, "rotations": 1}),
    (Bm25Maintainer, {}, "meta_v1/stats", "refuse", TICK),
    (CdcSnapshotMaintainer, {"key_cols": ["k"], "seq_cols": ["s"]},
     "state_v1", "adopt", TICK),
    (ClusterMaintainer, {}, "members_b0", "refuse", TICK),
    (CountMinMaintainer, {}, "cells_v1", "refuse", TICK),
    (CovarianceMaintainer, {"dim": 4}, "sums_v1", "refuse", TICK),
    (DedupMaintainer, {}, "seen_v1", "adopt", TICK),
    (DriftMaintainer, {}, "moments_v1", "refuse", TICK),
    (IvfOpqIndexMaintainer, {}, "ivf/centroids", "refuse", TICK),
    (NearDupIndexMaintainer, {}, "docs_b0", "refuse", TICK),
    (OpqIndexMaintainer, {}, "artifact/pq", "refuse", TICK),
    (SampleMaintainer, {"key_col": "k"}, "sample_v1", "refuse", TICK),
    (SemDeDupMaintainer, {}, "pairs_b0", "refuse", TICK),
    (KmvMaintainer, {"group_col": "g", "value_col": "v"}, "kmv_v1",
     "adopt", TICK),
    (HistogramMaintainer,
     {"group_col": "g", "value_col": "v", "lo": 0.0, "hi": 1.0},
     "hist_v1", "refuse", TICK),
    (BlueGreenIndex, {}, "gen_0", "refuse", {"serving_gen": 0, "next_gen": 1}),
]
IDS = [c[0].__name__ for c in CASES]


def _open(cls, base, kwargs):
    if cls is BlueGreenIndex:
        return cls(base, **kwargs)
    return cls(None, base, **kwargs)


def _one_tick(cls, base, kwargs, committed, tick):
    """A maintainer with one committed tick: its state dir finished on
    disk, then the pointer commit that names it."""
    m = _open(cls, base, kwargs)
    os.makedirs(os.path.join(base, committed))
    open(os.path.join(base, committed, "_SUCCESS"), "w").close()
    m._commit(**tick)
    return m


@pytest.mark.parametrize("cls,kwargs,committed,lost,tick", CASES, ids=IDS)
def test_hostile_pointer_every_maintainer(cls, kwargs, committed, lost, tick,
                                          tmp_path):
    """Truncated pointer, pointer without its first required field, lost
    pointer (refused, or adopted where re-merge is idempotent), and
    restoring the pointer restores the committed state exactly."""
    base = str(tmp_path / "m")
    m = _one_tick(cls, base, kwargs, committed, tick)
    ptr = m._pointer_path()
    good = open(ptr).read()
    assert _open(cls, base, kwargs)._meta == m._meta

    with open(ptr, "w") as f:
        f.write(good[: len(good) // 2])
    with pytest.raises(ValueError, match=f"corrupt {cls._POINTER} pointer"):
        _open(cls, base, kwargs)

    field = next(iter(cls._FRESH))
    with open(ptr, "w") as f:
        json.dump({k: v for k, v in json.loads(good).items() if k != field}, f)
    with pytest.raises(ValueError, match=f"no '{field}' field"):
        _open(cls, base, kwargs)

    os.remove(ptr)
    if lost == "refuse":
        with pytest.raises(ValueError, match=f"no {cls._POINTER} pointer"):
            _open(cls, base, kwargs)
        assert not os.path.exists(ptr)
    else:
        adopted = _open(cls, base, kwargs)
        assert adopted.version == 1 and adopted._last_batch_id is None

    with open(ptr, "w") as f:
        f.write(good)
    restored = _open(cls, base, kwargs)
    assert restored._meta == m._meta

    if isinstance(restored, VersionedState):
        restored.bind_checkpoint("ckpt-A")
        reopened = _open(cls, base, kwargs)
        assert reopened._checkpoint_token == "ckpt-A"  # committed on adopt
        with pytest.raises(ValueError, match="checkpoint mismatch"):
            reopened.bind_checkpoint("ckpt-B")


def _record_durability(monkeypatch):
    """Log every os.replace destination and every fsync'd directory."""
    events = []
    real_fsync, real_replace = os.fsync, os.replace

    def fsync(fd):
        st = os.fstat(fd)
        if stat.S_ISDIR(st.st_mode):
            events.append(("dir-fsync", st.st_ino))
        return real_fsync(fd)

    def replace(src, dst):
        events.append(("replace", os.path.abspath(dst)))
        return real_replace(src, dst)

    monkeypatch.setattr(os, "fsync", fsync)
    monkeypatch.setattr(os, "replace", replace)
    return events


def _assert_durable(events, ptr):
    ptr = os.path.abspath(ptr)
    parent = os.stat(os.path.dirname(ptr)).st_ino
    assert ("replace", ptr) in events
    after = events[events.index(("replace", ptr)) + 1:]
    assert ("dir-fsync", parent) in after, events


@pytest.mark.parametrize("cls,kwargs,committed,lost,tick", CASES, ids=IDS)
def test_commit_fsyncs_parent_dir(cls, kwargs, committed, lost, tick,
                                  tmp_path, monkeypatch):
    m = _open(cls, str(tmp_path / "m"), kwargs)
    events = _record_durability(monkeypatch)
    m._commit(**tick)
    _assert_durable(events, m._pointer_path())


def test_scd2_and_compaction_commits_fsync_parent_dir(tmp_path, monkeypatch):
    table = Scd2Table(None, str(tmp_path / "scd2"), ["id"])
    comp = CompactionMaintainer(
        str(tmp_path / "landing"), str(tmp_path / "table"), ["k"]
    )
    events = _record_durability(monkeypatch)
    table._commit(1)
    comp._commit(1)
    _assert_durable(events, table._pointer_path())
    _assert_durable(events, comp._pointer_path())
    assert comp.current_version() == 1


class _Toy(VersionedState):
    """A Spark-free maintainer: each tick records its batch in the
    pointer and leaves a finished ``toy_v<N>`` dir."""

    _KIND = "toy"
    _STATE_NAME = "toy"
    _FRESH = {**VersionedState._FRESH, "seen": []}

    def __init__(self, base_dir, width=1):
        self.width = width
        self._open(None, base_dir)

    def _geometry(self):
        return {"width": self.width}

    def merge_batch(self, batch, batch_id):
        if self._already_merged(batch_id):
            return
        nxt = self.version + 1
        os.makedirs(self._state_path(nxt))
        open(os.path.join(self._state_path(nxt), "_SUCCESS"), "w").close()
        self._commit(
            version=nxt,
            last_batch_id=batch_id,
            seen=[*self._meta["seen"], batch],
        )


def test_versioned_state_protocol(tmp_path):
    base = str(tmp_path / "toy")
    t = _Toy(base)
    # eager empty pointer: a crash inside the first tick is a replay
    assert json.load(open(t._pointer_path()))["version"] == 0
    for bid, batch in enumerate(["a", "b", "c"]):
        t.merge_batch(batch, bid)
    t.merge_batch("b-again", 1)  # redelivery below the watermark
    assert (t.version, t._last_batch_id) == (3, 2)
    assert t._meta["seen"] == ["a", "b", "c"]

    r = _Toy(base)
    assert r._meta == t._meta
    with pytest.raises(ValueError, match="toy geometry mismatch"):
        _Toy(base, width=2)

    # a crash after a tick's dir landed but before its commit: the
    # replayed tick overwrites the orphan, the pointer never names it
    os.makedirs(r._state_path(4))
    r2 = _Toy(base)
    assert r2.version == 3
    assert r2.vacuum_versions(keep_last=2) == ["toy_v1"]
    assert sorted(r2._chain()) == [2, 3, 4]

    # orphans with no pointer are refused; a pointer that is not an
    # object is corrupt
    os.remove(r2._pointer_path())
    with pytest.raises(ValueError, match="cannot be safely adopted"):
        _Toy(base)
    commit_pointer(r2._pointer_path(), [1, 2])
    with pytest.raises(ValueError, match="not a JSON object"):
        _Toy(base)


def test_lost_pointer_refused_where_merges_count(spark, tmp_path):
    """Sums, counts and bin counts are not idempotent: a lost pointer
    used to be adopted without its watermark, so a redelivered batch 0
    doubled the rollup (n 2 -> 4, total 3.0 -> 6.0) and the histogram
    (cnt 2 -> 4). Both now refuse, and restoring the pointer keeps the
    redelivery a no-op."""
    batch = spark.createDataFrame([("a", 1.0), ("a", 2.0)], "k string, v double")
    opens = [
        (lambda b: AggMaintainer(spark, b, ["k"], "v"),
         lambda m: [(r["n"], r["total"]) for r in m.result().collect()],
         [(2, 3.0)]),
        (lambda b: HistogramMaintainer(spark, b, "k", "v", 0.0, 4.0, bins=4),
         lambda m: [sum(r["cnt"] for r in m.current().collect())],
         [2]),
    ]
    for i, (open_, read, want) in enumerate(opens):
        base = str(tmp_path / f"m{i}")
        m = open_(base)
        m.merge_batch(batch, 0)
        ptr = m._pointer_path()
        good = open(ptr).read()
        os.remove(ptr)
        with pytest.raises(ValueError, match="no _CURRENT pointer"):
            open_(base)
        with open(ptr, "w") as f:
            f.write(good)
        m2 = open_(base)
        m2.merge_batch(batch, 0)
        assert read(m2) == want
