"""Commit atomicity of the snapshot table format.

A fault at any filesystem write inside a commit must leave the table at
either the old version or the new one: the streaming ledger says a batch
is committed exactly when main (or the target branch) shows its rows,
the table stays readable, and a retry commits.  Two writers racing for
the same version must produce exactly one commit and one loud failure.
"""

from __future__ import annotations

import builtins
import contextlib
import multiprocessing
import os
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from local_llm_iceberg_cdw_spark.formats import snapshot_parquet as sp
from local_llm_iceberg_cdw_spark.formats.snapshot_parquet import SnapshotParquetTable
from local_llm_iceberg_cdw_spark.streaming import table_source
from local_llm_iceberg_cdw_spark.streaming.table_source import (
    SnapshotTableStreamWriter,
    _StagedFiles,
)

LEDGER = {"streaming_query_id": "q", "batch_id": 0}


class InjectedFault(OSError):
    pass


_OS_WRITES = ("link", "replace", "rename", "unlink", "remove", "makedirs", "mkdir", "rmdir")


@contextlib.contextmanager
def count_writes(monkeypatch, fail_at: int | None = None):
    """Count the filesystem writes made in the block — ``os`` mutations
    plus opens for writing in the format and sink modules — and raise
    ``InjectedFault`` at write number ``fail_at``.  A write made inside
    another counted write (``makedirs`` → ``mkdir``) is not counted."""
    state = {"n": 0, "depth": 0}

    def wrap(fn):
        def write(*args, **kwargs):
            if state["depth"]:
                return fn(*args, **kwargs)
            state["n"] += 1
            if state["n"] == fail_at:
                raise InjectedFault(f"injected fault at write {fail_at}")
            state["depth"] += 1
            try:
                return fn(*args, **kwargs)
            finally:
                state["depth"] -= 1

        return write

    real_open = builtins.open
    write_open = wrap(real_open)

    def open_(file, mode="r", *args, **kwargs):
        opener = write_open if any(c in mode for c in "wax+") else real_open
        return opener(file, mode, *args, **kwargs)

    with monkeypatch.context() as m:
        for name in _OS_WRITES:
            m.setattr(os, name, wrap(getattr(os, name)))
        for mod in (sp, table_source):
            m.setattr(mod, "open", open_, raising=False)
        yield state


def _ids(df) -> list[int]:
    return sorted(r.id for r in df.collect())


def _future_ms() -> int:
    return int(time.time() * 1000) + 60_000


def _write_ids(path: str, ids: list[int]) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table({"id": pa.array(ids, pa.int64())}), path)
    return path


class Case:
    """One commit under test: ``setup`` builds a fresh table, ``run``
    commits the batch (or the ref move), ``committed`` reads the
    metadata's verdict, ``shows`` reads the data, and ``retry`` is the
    recovery a writer runs after a failed attempt."""

    def __init__(self, spark):
        self.spark = spark
        self.df1 = spark.createDataFrame([(1,)], "id long")
        self.df2 = spark.createDataFrame([(2,)], "id long")

    def table(self) -> SnapshotParquetTable:
        return SnapshotParquetTable(self.spark, self.path)

    def readable(self) -> None:
        self.table().read().count()

    def retry(self) -> None:
        self.table().remove_orphan_files(older_than_ms=_future_ms())
        self.run()


class Append(Case):
    def setup(self):
        self.table().create(self.df1)

    def run(self):
        self.table().append(self.df2, commit_props=LEDGER)

    def committed(self):
        return self.table().batch_committed("q", 0)

    def shows(self):
        return _ids(self.table().read()) == [1, 2]


class BranchAppend(Append):
    def setup(self):
        t = self.table()
        t.create(self.df1)
        t.create_branch("audit")

    def run(self):
        self.table().append(self.df2, branch="audit", commit_props=LEDGER)

    def shows(self):
        t = self.table()
        assert _ids(t.read()) == [1]  # main never moves
        return _ids(t.read(ref="audit")) == [1, 2]


class Rollback(Case):
    def setup(self):
        t = self.table()
        t.create(self.df1)
        t.append(self.df2)

    def run(self):
        self.table().rollback_to(1)

    def committed(self):
        hist = {r.snapshot_id: r.is_current_ancestor for r in self.table().history().collect()}
        return not hist[2]

    def shows(self):
        return _ids(self.table().read()) == [1]

    def retry(self):
        self.run()


class PrewrittenWithTag(Append):
    def setup(self):
        t = self.table()
        t.create(self.df1)
        t.create_tag("pin")
        self.data_dir = os.path.join(self.path, "data-snap-900001")
        _write_ids(f"{self.data_dir}/f.parquet", [2])

    def run(self):
        sp.commit_prewritten_append(
            self.path, self.data_dir, self.table()._load()[-1].schema_json, commit_props=LEDGER
        )

    def shows(self):
        t = self.table()
        assert _ids(t.read(ref="pin")) == [1]  # the tag never moves
        return _ids(t.read()) == [1, 2]

    def retry(self):
        self.run()  # the caller owns the pre-written dir: no orphan sweep


class SinkFirstCommit(Case):
    def setup(self):
        schema = self.df2.schema
        self.writer = SnapshotTableStreamWriter(schema, {"path": self.path, "queryname": "q"})
        self.stage()

    def stage(self):
        base = os.path.join(self.path, "stream-staging", f"task-{time.time_ns()}")
        self.message = _StagedFiles([_write_ids(f"{base}/part-0.parquet", [2])], base)

    def run(self):
        self.writer.commit([self.message], 0)

    def committed(self):
        return SnapshotParquetTable(None, self.path).batch_committed("q", 0)

    def shows(self):
        t = self.table()
        return t.exists() and _ids(t.read()) == [2]

    def readable(self):
        if self.table().exists():
            super().readable()

    def retry(self):
        # the replayed epoch re-stages its files, after the orphan sweep
        self.table().remove_orphan_files(older_than_ms=_future_ms())
        self.stage()
        self.run()


CASES = [Append, BranchAppend, Rollback, PrewrittenWithTag, SinkFirstCommit]


@pytest.mark.parametrize("case_cls", CASES, ids=lambda c: c.__name__)
def test_fault_at_every_commit_write_keeps_ledger_and_refs_in_step(
    spark, tmp_path, monkeypatch, case_cls
):
    case = case_cls(spark)
    case.path = str(tmp_path / "clean")
    case.setup()
    with count_writes(monkeypatch) as clean:
        case.run()
    n = clean["n"]
    assert n >= 2 and case.committed() and case.shows()

    for k in range(1, n + 1):
        case.path = str(tmp_path / f"fault{k}")
        case.setup()
        with count_writes(monkeypatch, fail_at=k):
            with contextlib.suppress(InjectedFault):
                case.run()
        assert case.committed() == case.shows(), f"write {k} of {n}"
        case.readable()
        if not case.committed():
            case.retry()
        assert case.committed() and case.shows(), f"write {k} of {n}"


def _race_worker(path, data_dir, schema_json, barrier, results):
    """Load the table's version, wait for the other worker to load the
    same one, then publish."""
    real_stats = sp.SnapshotParquetTable._collect_file_stats

    def meet_then_scan(d):
        barrier.wait(timeout=120)
        return real_stats(d)

    sp.SnapshotParquetTable._collect_file_stats = staticmethod(meet_then_scan)
    try:
        results.put(("won", data_dir, sp.commit_prewritten_append(path, data_dir, schema_json)))
    except RuntimeError as exc:
        results.put(("lost", data_dir, str(exc)))


@pytest.mark.parametrize("n_workers", [2, 5])
def test_processes_racing_for_one_version_make_exactly_one_commit(spark, tmp_path, n_workers):
    """Every worker loads the same version and publishes against it:
    exactly one snapshot lands, every other worker raises, and the
    losers' data dirs are orphans the sweep reclaims."""
    t = SnapshotParquetTable(spark, str(tmp_path / "t"))
    t.create(spark.createDataFrame([(1,)], "id long"))
    schema_json = t._load()[-1].schema_json
    rows = {}
    for i in range(n_workers):
        d = os.path.join(t.path, f"data-snap-{900001 + i}")
        _write_ids(f"{d}/f.parquet", [100 + i])
        rows[d] = 100 + i

    ctx = multiprocessing.get_context("spawn")
    barrier, results = ctx.Barrier(n_workers), ctx.Queue()
    procs = [
        ctx.Process(target=_race_worker, args=(t.path, d, schema_json, barrier, results))
        for d in rows
    ]
    for p in procs:
        p.start()
    outcomes = [results.get(timeout=300) for _ in procs]
    for p in procs:
        p.join(timeout=60)
    assert not any(p.is_alive() for p in procs)

    won = [o for o in outcomes if o[0] == "won"]
    lost = [o for o in outcomes if o[0] == "lost"]
    assert len(won) == 1 and len(lost) == n_workers - 1, outcomes
    assert all("concurrent commit" in o[2] for o in lost)
    assert len(t._load()) == 2  # exactly one snapshot added
    winner = won[0][1]
    assert _ids(t.read()) == [1, rows[winner]]
    assert t.remove_orphan_files(older_than_ms=_future_ms()) == n_workers - 1
    assert [d for d in rows if os.path.isdir(d)] == [winner]
    assert _ids(t.read()) == [1, rows[winner]]
