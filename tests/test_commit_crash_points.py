"""Crash-point harness for the snapshot commit protocol.

A fault-injecting log store (installed with ``set_log_store``) lets the
first N mutating metadata calls (``put_exclusive``, ``replace``,
``delete``, ``delete_tree``) through and raises on the next one: the
writer "dies" at that step. Each op is swept over N = 0, 1, ... until
it completes without reaching the fault. After every crash:

* main's visible rows — and the branch's — equal either the pre-op
  rows or the rows of an uninjected twin run of the same op;
* every file any main or branch record names exists (data files,
  deletion-vector sidecars, sharded manifests);
* a retry with the fault removed either converges to the twin's rows,
  or raises ``SnapshotConflictError`` and leaves the visible rows
  unchanged (a publish that landed before its branch drop: the staged
  files are already live on main).

Lakes stay tiny (100 base rows, at most 3 files per ref) so the sweep
fits the default tier."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from mlb_data_pipeline_spark.operators import snapshots as S
from mlb_data_pipeline_spark.operators.logstore import (
    PosixLogStore,
    get_log_store,
    set_log_store,
)
from mlb_data_pipeline_spark.operators.snapshots import (
    SnapshotConflictError,
    lake_branch_append,
    lake_branch_compact,
    lake_branch_create,
    lake_branches,
    lake_delete,
    lake_merge,
    lake_publish_branch,
    lake_rename_column,
    lake_update,
    lake_write,
    read_branch,
    read_snapshot,
    snapshot_info,
)

_CT = {"k": "bigint", "v": "bigint"}


class _Crash(Exception):
    """The simulated writer death at the injected step."""


class _FaultStore(PosixLogStore):
    """Passes the first ``allow`` mutating calls, raises on the next."""

    def __init__(self, allow: int):
        self.allow = allow
        self.calls = 0
        self.fired = False

    def _step(self, what: str) -> None:
        if self.calls >= self.allow:
            self.fired = True
            raise _Crash(f"injected crash before mutating call #{self.calls + 1} ({what})")
        self.calls += 1

    def put_exclusive(self, path, data):
        self._step("put_exclusive")
        return super().put_exclusive(path, data)

    def replace(self, path, data):
        self._step("replace")
        return super().replace(path, data)

    def delete(self, path):
        self._step("delete")
        return super().delete(path)

    def delete_tree(self, dirpath):
        self._step("delete_tree")
        return super().delete_tree(dirpath)


def _kv(spark, lo, hi, tag="x"):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v"), F.lit(tag).alias("src")
    )


def _ops(spark):
    """name -> op(lake). Append, DV delete, merge, update and rename on
    main and on branch ``b``; then publish and branch compaction."""

    def src(lo, hi, tag):
        return _kv(spark, lo, hi, tag).coalesce(1)

    ops = {
        "main_append": lambda lake: lake_write(spark, src(200, 220, "a"), lake),
        "b_append": lambda lake: lake_branch_append(spark, lake, "b", src(200, 220, "a")),
        "publish": lambda lake: lake_publish_branch(lake, "b"),
        "branch_compact": lambda lake: lake_branch_compact(
            spark, lake, "b", min_rows=50, n_files=1
        ),
    }
    for ref in (None, "b"):
        tag = ref or "main"
        ops[f"{tag}_dv_delete"] = lambda lake, ref=ref: lake_delete(
            spark, lake, "k % 7 = 3", col_types=_CT, use_dv=True, branch=ref
        )
        ops[f"{tag}_merge"] = lambda lake, ref=ref: lake_merge(
            spark, lake, src(90, 110, "m"), "k", branch=ref
        )
        ops[f"{tag}_update"] = lambda lake, ref=ref: lake_update(
            spark, lake, {"v": "v + 1000"}, "k < 30", col_types=_CT, branch=ref
        )
        ops[f"{tag}_rename"] = lambda lake, ref=ref: lake_rename_column(
            lake, "v", "w", branch=ref
        )
    return ops


_OP_NAMES = [
    f"{tag}_{op}"
    for tag in ("main", "b")
    for op in ("append", "dv_delete", "merge", "update", "rename")
] + ["publish", "branch_compact"]


@pytest.fixture(scope="module")
def base_lake(spark, tmp_path_factory):
    """main v1: one 100-row file; branch ``b``: the fork plus two
    staged 20-row files (small enough for branch compaction)."""
    lake = str(tmp_path_factory.mktemp("crash") / "base")
    lake_write(spark, _kv(spark, 0, 100, "base").coalesce(1), lake)
    lake_branch_create(lake, "b")
    lake_branch_append(spark, lake, "b", _kv(spark, 100, 120, "s").coalesce(1))
    lake_branch_append(spark, lake, "b", _kv(spark, 120, 140, "s").coalesce(1))
    return lake


def _visible(spark, lake) -> dict:
    """ref -> (columns, sorted rows) for main and every live branch."""

    def rows(df):
        return tuple(df.columns), sorted(map(tuple, df.collect()))

    out = {None: rows(read_snapshot(spark, lake))}
    for name in lake_branches(lake):
        out[name] = rows(read_branch(spark, lake, name))
    return out


def _assert_record_shape(lake) -> None:
    """Every record of every ref carries the table schema and no
    rename lineage."""
    for ref, v in S._ref_versions(lake, S._versions(lake)):
        info = snapshot_info(lake, v, branch=ref)
        assert info.get("schema"), (ref, v)
        assert "renames" not in info, (ref, v)


def _assert_records_resolve(lake) -> None:
    """Every file any record of any ref names exists on disk."""
    snap = S._snap_dir(lake)
    for ref, v in S._ref_versions(lake, S._versions(lake)):
        info = snapshot_info(lake, v, branch=ref)
        for n in info["files"]:
            assert os.path.exists(os.path.join(lake, n)), (ref, v, n)
        for n in info.get("dvs") or []:
            assert os.path.exists(os.path.join(snap, "dv", n)), (ref, v, n)
        for n in info.get("manifest_refs") or []:
            assert os.path.exists(os.path.join(snap, "manifests", n)), (ref, v, n)


@pytest.mark.parametrize("name", _OP_NAMES)
def test_crash_at_every_commit_step(spark, base_lake, tmp_path, name):
    op = _ops(spark)[name]
    pre = _visible(spark, base_lake)
    twin_lake = str(tmp_path / "twin")
    shutil.copytree(base_lake, twin_lake)
    op(twin_lake)
    twin = _visible(spark, twin_lake)

    crashes = 0
    for n in range(8):
        lake = str(tmp_path / f"crash{n}")
        shutil.copytree(base_lake, lake)
        store, real = _FaultStore(n), get_log_store()
        set_log_store(store)
        try:
            op(lake)
        except _Crash:
            pass
        finally:
            set_log_store(real)
        if not store.fired:
            assert _visible(spark, lake) == twin
            break
        crashes += 1
        after_crash = _visible(spark, lake)
        for ref in set(pre) | set(twin) | set(after_crash):
            assert after_crash.get(ref) in (pre.get(ref), twin.get(ref)), (n, ref)
        _assert_records_resolve(lake)
        try:
            op(lake)
        except SnapshotConflictError:
            assert _visible(spark, lake) == after_crash, n
        else:
            assert _visible(spark, lake) == twin, n
        _assert_records_resolve(lake)
        _assert_record_shape(lake)
    else:
        pytest.fail(f"{name} still hit the fault after 8 mutating calls")
    assert crashes >= 1
