"""Declared-query fixtures: the per-process input-dir and store memos and
the fixed memory table of a drained stream."""

import os
import re
import shutil
import tempfile

import pytest

from tests.conftest import SF_SMALL as SF
from vstream_spark import queries as q


@pytest.fixture
def memo(tmp_path, monkeypatch):
    """An empty input-dir memo whose temp dirs land under ``tmp_path``."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(q, "_INPUT_DIRS", {})
    return tmp_path


def _counting_write(calls):
    def write(d):
        calls.append(d)
        with open(os.path.join(d, "b000"), "w") as f:
            f.write("x")

    return write


def test_input_dir_failed_write_leaves_no_dir_and_caches_nothing(memo):
    def write(d):
        with open(os.path.join(d, "partial"), "w") as f:
            f.write("x")
        raise RuntimeError("write failed")

    with pytest.raises(RuntimeError):
        q._input_dir("memo-", SF, write)
    assert os.listdir(memo) == []
    assert q._INPUT_DIRS == {}


def test_input_dir_second_call_reuses_without_writing(memo):
    calls = []
    first = q._input_dir("memo-", SF, _counting_write(calls))
    assert q._input_dir("memo-", SF, _counting_write(calls)) == first
    assert calls == [first]


def test_input_dir_deleted_dir_is_written_again(memo):
    calls = []
    first = q._input_dir("memo-", SF, _counting_write(calls))
    shutil.rmtree(first)
    again = q._input_dir("memo-", SF, _counting_write(calls))
    assert calls == [first, again]
    assert os.listdir(again) == ["b000"]


def test_store_failed_fill_leaves_no_dir_and_caches_nothing(memo, monkeypatch, spark):
    monkeypatch.setattr(q, "_STORES", {})

    def fill(store):
        with open(os.path.join(store.base_dir, "partial"), "w") as f:
            f.write("x")
        raise RuntimeError("fill failed")

    with pytest.raises(RuntimeError):
        q._store(spark, SF, "memo-store-", fill)
    assert os.listdir(memo) == []
    assert q._STORES == {}


def test_repeat_drain_leaves_one_memory_table(spark):
    """Each call of a drained entry replaces its memory table: a per-call
    name would leave one more temp view, holding its sink rows on the
    driver, per call."""
    fn, _ = q.REGISTRY["knn_streaming"]
    for _ in range(2):
        assert fn(spark, SF).count() > 0
    views = [
        t.name for t in spark.catalog.listTables()
        if re.fullmatch(r"_knn_streaming(_[0-9a-f]{8})?", t.name)
    ]
    assert len(views) == 1
