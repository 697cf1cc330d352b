"""Mechanics of the one memo mechanism: ``session.memo_get`` and the
``__spark_entry__._shared_stage`` decorator built on it (the shared
stages' VALUES are pinned by test_shared_stages.py)."""

from __future__ import annotations

import os

import pytest

import __spark_entry__ as contract
from p2_mapreduce_spark.session import memo_get


@contract._shared_stage
def _shared_toy(spark, sf_dir):
    return spark.range(3)


@pytest.fixture
def stage_memo():
    """The live stage memo, restored afterwards so the real stages other
    tests built are not rebuilt because of this module's evictions."""
    saved = dict(contract._DEDUP_STAGE_MEMO)
    yield contract._DEDUP_STAGE_MEMO
    contract._DEDUP_STAGE_MEMO.clear()
    contract._DEDUP_STAGE_MEMO.update(saved)


def _other(sf_dir):
    """Another scope key; the toy stage never reads its sf_dir."""
    return os.path.join(sf_dir, "other-scope")


def test_stage_builds_once_per_scope(spark, sf_dir, stage_memo):
    before = set(stage_memo)
    first = _shared_toy(spark, sf_dir)
    added = set(stage_memo) - before
    assert added == {(spark.sparkContext.applicationId, sf_dir, "toy")}
    assert _shared_toy(spark, sf_dir) is first
    assert set(stage_memo) - before == added
    assert sorted(r.id for r in first.collect()) == [0, 1, 2]


def test_stage_build_under_new_sf_dir_evicts_old_scope(spark, sf_dir, stage_memo):
    app = spark.sparkContext.applicationId
    _shared_toy(spark, sf_dir)
    _shared_toy(spark, _other(sf_dir))
    assert set(stage_memo) == {(app, _other(sf_dir), "toy")}


def test_application_scope_keeps_sf_dirs_side_by_side(sf_dir):
    other = _other(sf_dir)
    memo: dict = {}
    a = memo_get(memo, ("app-1",), (sf_dir, "t"), object)
    b = memo_get(memo, ("app-1",), (other, "t"), object)
    assert a is not b
    assert memo_get(memo, ("app-1",), (sf_dir, "t"), object) is a
    assert set(memo) == {("app-1", sf_dir, "t"), ("app-1", other, "t")}
    memo_get(memo, ("app-2",), (sf_dir, "t"), object)
    assert set(memo) == {("app-2", sf_dir, "t")}


def test_every_shared_attribute_is_a_decorated_stage():
    """A hand-rolled ``_shared_*`` memo would bypass the one mechanism
    (and the tracer that wraps every ``_shared_*`` attribute)."""
    stage_code = _shared_toy.__code__
    names = [
        n for n in vars(contract) if n.startswith("_shared_") and n != "_shared_stage"
    ]
    assert names
    for n in names:
        fn = getattr(contract, n)
        assert fn.__module__ == "__spark_entry__", n
        assert fn.__wrapped__.__name__ == n, n
        assert fn.__code__ is stage_code, n
