"""The __spark_entry__ session-scoped DataFrame memo: correctness of the
one risk it introduces — serving a stale frame after the source dataset
changed in place. Entries are stamped with the session's applicationId and
the content fingerprint (file sizes + mtimes), so a regenerated dataset or a
new session must produce a fresh frame, and the superseded one is
unpersisted."""

from __future__ import annotations

import importlib
import os
import shutil
import sys

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _write_docs(sf_dir, texts):
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(pa.table({
        "doc_id": pa.array(range(len(texts)), pa.int64()),
        "text": pa.array(texts),
    }), os.path.join(sf_dir, "documents.parquet"))


def test_memo_invalidates_on_dataset_regeneration(spark, tmp_path):
    import __spark_entry__ as e

    sf = str(tmp_path / "sf")
    _write_docs(sf, ["alpha beta", "gamma delta"])
    df1 = e._t(spark, sf, "documents")
    assert df1.count() == 2
    # same content -> same memoized frame (no rebuild)
    assert e._t(spark, sf, "documents") is df1

    # regenerate IN PLACE with different content: the fingerprint
    # (size/mtime_ns of the data files) changes, so the memo must miss
    _write_docs(sf, ["one", "two", "three"])
    df2 = e._t(spark, sf, "documents")
    assert df2 is not df1
    assert df2.count() == 3
    # the superseded frame is unpersisted and evicted, not leaked or served
    assert not df1.is_cached
    assert e._t(spark, sf, "documents") is df2
    assert sum(df is df1 for _, df in e._DF_MEMO.values()) == 0


def test_memo_entry_of_a_stopped_session_is_replaced(spark, tmp_path):
    import __spark_entry__ as e

    sf = str(tmp_path / "sf")
    _write_docs(sf, ["alpha"])
    df1 = e._t(spark, sf, "documents")
    slot = f"t:{os.path.abspath(sf)}:documents"
    (app, fingerprint), _ = e._DF_MEMO[slot]

    class Dead:  # a frame of a stopped session: unpersist() would fail
        def unpersist(self):
            raise AssertionError("unpersist on a stopped session's frame")

    e._DF_MEMO[slot] = (("local-stopped", fingerprint), Dead())
    df2 = e._t(spark, sf, "documents")
    assert df2 is not df1 and df2.count() == 1
    assert e._DF_MEMO[slot] == ((app, fingerprint), df2)


def test_memo_keys_isolate_datasets(spark, tmp_path):
    import __spark_entry__ as e

    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    _write_docs(a, ["x"])
    _write_docs(b, ["y", "z"])
    assert e._t(spark, a, "documents").count() == 1
    assert e._t(spark, b, "documents").count() == 2
    # and the first is still served correctly afterwards
    assert e._t(spark, a, "documents").count() == 1


def test_lsh_pairs_memo_is_plan_identical(spark):
    # the shared pairs frame must be the SAME object across its consumer
    # gates within a session (that is the whole point of the memo)
    import __spark_entry__ as e

    sf = "/root/testdata/sf0.001"
    if not os.path.exists(os.path.join(sf, "documents.parquet")):
        import pytest
        pytest.skip("driver testdata not present")
    p1 = e._lsh_pairs(spark, sf)
    p2 = e._lsh_pairs(spark, sf)
    assert p1 is p2
