"""Kill-tests for the documented crash windows (VERDICT r4 item 4).

Three atomicity contracts were docstring-argued but never exercised under
an injected crash. Each test aborts the operation at the exact boundary
the docstring names and proves the reader-side contract:

- ``rebuild_ivf_index`` — versioned cells dir + meta ``os.replace`` as
  the ONLY commit point: a crash before the replace leaves the old
  (centroids, cells) pair fully live; after it, the new pair. No window
  pairs new cell assignments with old centroids, and no window has no
  cells dir at all (both failure modes of the previous two-rename swap).
- ``_append_emblsh`` / ``_append_banded`` — committed-file manifests
  (operators/_idxfiles.py): a crash between the parquet append and the
  meta replace leaves torn files NO reader sees, and replaying the batch
  lands it exactly once (the torn files are GC'd first).
- ``requeue_dlq`` — the replay epoch lands atomically BEFORE the old DLQ
  dirs are removed: a crash between leaves lines both queued and
  quarantined, and a second requeue + replay converges to the same final
  table (the resolver dedups identical (key, op_seq) events).
"""

from __future__ import annotations

import glob
import json
import os
import shutil

import pytest

from cdcrypt.operators.similarity import (
    IvfIndex,
    ann_ivf_topk_indexed,
    append_to_embedding_lsh_index,
    build_embedding_lsh_index,
    build_ivf_index,
    rebuild_ivf_index,
)


def _vec_rows(n, dim=8, seed=0):
    import numpy as np
    rng = np.random.default_rng(seed)
    return [(f"v{seed}_{i}", rng.standard_normal(dim).round(3).tolist())
            for i in range(n)]


@pytest.fixture()
def vecs(spark):
    return spark.createDataFrame(_vec_rows(120, seed=1),
                                 "vec_id string, embedding array<double>")


# ------------------------------------------------------------ IVF rebuild

class TestIvfRebuildCrashWindows:
    def _topk_full_probe(self, spark, root, queries):
        idx = IvfIndex(root)
        return sorted(
            (r.query_id, r.neighbor_id)
            for r in ann_ivf_topk_indexed(
                spark, idx, queries, k=3,
                n_probe=idx.n_centroids).collect())

    def test_crash_before_meta_commit_leaves_old_state_live(
            self, spark, vecs, tmp_path, monkeypatch):
        root = str(tmp_path / "ivf")
        build_ivf_index(vecs, root, n_centroids=4)
        queries = spark.createDataFrame(_vec_rows(5, seed=2),
                                        "vec_id string, embedding array<double>")
        want = self._topk_full_probe(spark, root, queries)
        before_meta = json.load(open(os.path.join(root, IvfIndex.META)))

        real_replace = os.replace

        def crash_at_meta(src, dst, *a, **k):
            if str(dst).endswith(IvfIndex.META):
                raise RuntimeError("injected crash before meta commit")
            return real_replace(src, dst, *a, **k)

        monkeypatch.setattr(os, "replace", crash_at_meta)
        with pytest.raises(RuntimeError, match="injected"):
            rebuild_ivf_index(spark, root, n_centroids=6)
        monkeypatch.undo()

        # old meta + old cells pair fully intact and CONSISTENT: same
        # centroids, same cells dir, identical full-probe results
        after = json.load(open(os.path.join(root, IvfIndex.META)))
        assert after == before_meta
        assert self._topk_full_probe(spark, root, queries) == want
        # the staging dir is debris, never the live dir
        idx = IvfIndex(root)
        assert os.path.isdir(os.path.join(root, idx.cells_dirname))

        # retry succeeds, GCs the debris, and full-probe results (exact
        # under full probe) are unchanged by requantization
        idx2 = rebuild_ivf_index(spark, root, n_centroids=6)
        assert idx2.meta["rebuilds"] == 1
        assert idx2.n_centroids == 6
        assert self._topk_full_probe(spark, root, queries) == want
        leftovers = [d for d in os.listdir(root)
                     if d.startswith("cells") and d != idx2.cells_dirname]
        assert leftovers == []

    def test_crash_after_meta_commit_serves_new_state(
            self, spark, vecs, tmp_path, monkeypatch):
        root = str(tmp_path / "ivf")
        build_ivf_index(vecs, root, n_centroids=4)
        queries = spark.createDataFrame(_vec_rows(5, seed=3),
                                        "vec_id string, embedding array<double>")
        want = self._topk_full_probe(spark, root, queries)
        old_cells = IvfIndex(root).cells_dirname

        real_rmtree = shutil.rmtree

        def crash_at_gc(path, *a, **k):
            if os.path.basename(str(path)) == old_cells:
                raise RuntimeError("injected crash after meta commit")
            return real_rmtree(path, *a, **k)

        monkeypatch.setattr(shutil, "rmtree", crash_at_gc)
        with pytest.raises(RuntimeError, match="injected"):
            rebuild_ivf_index(spark, root, n_centroids=6)
        monkeypatch.undo()

        # the COMMIT happened: readers get the new consistent pair
        idx = IvfIndex(root)
        assert idx.meta["rebuilds"] == 1 and idx.n_centroids == 6
        assert idx.cells_dirname != old_cells
        assert self._topk_full_probe(spark, root, queries) == want
        # the superseded dir is garbage until the next rebuild GCs it
        assert os.path.isdir(os.path.join(root, old_cells))
        rebuild_ivf_index(spark, root)
        assert not os.path.exists(os.path.join(root, old_cells))


# ----------------------------------------------- index append manifests

class TestTornAppendManifests:
    def test_emblsh_torn_append_invisible_then_exactly_once(
            self, spark, vecs, tmp_path, monkeypatch):
        import cdcrypt.operators.similarity as sim

        root = str(tmp_path / "emb")
        build_embedding_lsh_index(vecs, root, n_bands=4, bits_per_band=6,
                                  n_partitions=4)
        idx0 = sim.EmbeddingLSHIndex(root)
        base_tagged = idx0.read_tagged(spark).count()
        base_vecs = idx0.read_vectors(spark).count()

        batch = spark.createDataFrame(
            _vec_rows(30, seed=9), "vec_id string, embedding array<double>")

        def crash(_root, _meta):
            raise RuntimeError("injected crash before meta commit")

        monkeypatch.setattr(sim, "_write_emblsh_meta", crash)
        with pytest.raises(RuntimeError, match="injected"):
            append_to_embedding_lsh_index(root, batch)
        monkeypatch.undo()

        # torn parquet files are ON DISK but INVISIBLE to every reader
        idx1 = sim.EmbeddingLSHIndex(root)
        assert idx1.meta.get("appends", 0) == 0
        assert idx1.read_tagged(spark).count() == base_tagged
        assert idx1.read_vectors(spark).count() == base_vecs
        on_disk = sim._emblsh_list_files(root, "vectors")
        assert len(on_disk) > len(idx1.meta["vectors_files"])

        # the replayed batch lands EXACTLY once: GC removes the torn
        # files, the append commits, counts grow by one batch
        idx2 = append_to_embedding_lsh_index(root, batch)
        assert idx2.meta["appends"] == 1
        assert idx2.read_vectors(spark).count() == base_vecs + 30
        assert (idx2.read_vectors(spark).select("vec_id").distinct().count()
                == base_vecs + 30)  # no duplicate vector copies
        # manifest == disk again (nothing uncommitted left behind)
        assert sorted(idx2.meta["vectors_files"]) == \
            sim._emblsh_list_files(root, "vectors")

    def test_emblsh_append_keeps_unmanifested_vectors(
            self, spark, vecs, tmp_path):
        """GC runs per component under its own manifest key: a meta that
        lists tagged files but not vectors files keeps every committed
        vectors file across an append."""
        import cdcrypt.operators.similarity as sim

        root = str(tmp_path / "emb")
        build_embedding_lsh_index(vecs, root, n_bands=4, bits_per_band=6,
                                  n_partitions=4)
        meta = dict(sim.EmbeddingLSHIndex(root).meta)
        del meta["vectors_files"]
        sim._write_emblsh_meta(root, meta)
        committed = sim._emblsh_list_files(root, "vectors")
        base_vecs = sim.EmbeddingLSHIndex(root).read_vectors(spark).count()

        batch = spark.createDataFrame(
            _vec_rows(30, seed=9), "vec_id string, embedding array<double>")
        idx = append_to_embedding_lsh_index(root, batch)
        assert set(committed) <= set(sim._emblsh_list_files(root, "vectors"))
        assert idx.read_vectors(spark).count() == base_vecs + 30

    def test_minhash_torn_append_invisible_then_exactly_once(
            self, spark, tmp_path, monkeypatch):
        import cdcrypt.operators.docdedup as dd

        docs0 = spark.createDataFrame(
            [(f"d{i}", f"alpha beta gamma delta {i} " * 3)
             for i in range(40)], "doc_id string, text string")
        batch = spark.createDataFrame(
            [(f"n{i}", f"epsilon zeta eta theta {i} " * 3)
             for i in range(10)], "doc_id string, text string")
        root = str(tmp_path / "mh")
        dd.build_minhash_index(docs0, root, n_partitions=4)
        base = dd.MinHashIndex(root).read_banded(spark).count()

        def crash(_root, _meta):
            raise RuntimeError("injected crash before meta commit")

        monkeypatch.setattr(dd, "_write_minhash_meta", crash)
        with pytest.raises(RuntimeError, match="injected"):
            dd.append_to_minhash_index(root, batch)
        monkeypatch.undo()

        idx1 = dd.MinHashIndex(root)
        assert idx1.meta.get("appends", 0) == 0
        assert idx1.read_banded(spark).count() == base

        idx2 = dd.append_to_minhash_index(root, batch)
        assert idx2.meta["appends"] == 1
        grown = idx2.read_banded(spark)
        assert grown.count() == base + 10 * idx2.meta["bands"]
        # exactly one banded row set per id — no double-append
        per_id = (grown.groupBy("doc_id").count().where(
            f"count != {idx2.meta['bands']}").count())
        assert per_id == 0


# ------------------------------------------------------------ DLQ requeue

def test_requeue_crash_between_land_and_remove_converges(
        spark, tmp_path, monkeypatch):
    """Crash AFTER the replay epoch file lands, BEFORE the DLQ dirs are
    removed: lines exist both queued and quarantined. run() applies the
    queued copy; a second requeue re-enters the stale quarantined copy,
    and the resolver's (key, op_seq) dedup makes the replay a no-op —
    final table state equals the crash-free path."""
    from pyspark.sql import functions as F

    from cdcrypt.sources.changegen import (
        GenSpec, generate_change_events, write_epoch_files,
    )
    from cdcrypt.sources.debezium import parse_debezium_dlq
    from cdcrypt.streaming.pipeline import IngestPipeline
    from test_debezium import (
        _decrypted_state,
        _transcript_row_schema,
        _write_debezium_dump,
    )

    key = "cdcrypt/transcripts"
    cols = generate_change_events(
        GenSpec(n_convs=12, avg_turns=4, n_epochs=2, seed=97))
    pq_dir = str(tmp_path / "pq")
    write_epoch_files(cols, pq_dir, fmt="parquet")
    dbz_dir = str(tmp_path / "dbz")
    has_model = _write_debezium_dump(cols, dbz_dir)
    row_schema = _transcript_row_schema(has_model)
    # producer bug: first epoch's creates quarantine (op='q')
    files = sorted(glob.glob(os.path.join(dbz_dir, "*.jsonl")))
    with open(files[0]) as f:
        text = f.read()
    with open(files[0], "w") as f:
        f.write(text.replace('"op": "c"', '"op": "q"'))

    base = IngestPipeline(pq_dir, str(tmp_path / "t0"), str(tmp_path / "c0"),
                          key_id=key, bucket_count=4)
    base.run(spark)
    want = _decrypted_state(spark, base.table(), key, has_model)

    dlq_dir = str(tmp_path / "dlq")
    mk = lambda adapter: IngestPipeline(  # noqa: E731
        dbz_dir, str(tmp_path / "t"), str(tmp_path / "c"), key_id=key,
        bucket_count=4, dlq_dir=dlq_dir, dlq_adapter=adapter)
    buggy = mk(lambda raw: parse_debezium_dlq(raw, "value", row_schema))
    buggy.run(spark)
    n_dead = len(spark.read.parquet(os.path.join(dlq_dir, "epoch=*"))
                 .collect())
    assert n_dead > 0

    fixed = mk(lambda raw: parse_debezium_dlq(
        raw.withColumn("value", F.regexp_replace(
            "value", '"op": "q"', '"op": "c"')), "value", row_schema))

    real_rmtree = shutil.rmtree

    def crash_on_dlq_remove(path, *a, **k):
        if str(path).startswith(dlq_dir):
            raise RuntimeError("injected crash before DLQ removal")
        return real_rmtree(path, *a, **k)

    monkeypatch.setattr(shutil, "rmtree", crash_on_dlq_remove)
    with pytest.raises(RuntimeError, match="injected"):
        fixed.requeue_dlq()
    monkeypatch.undo()

    # the replay epoch LANDED (atomic rename first)...
    replay_files = glob.glob(os.path.join(dbz_dir, "*.dlqreplay.jsonl"))
    assert len(replay_files) == 1
    # ...and the DLQ dirs are still there: both queued AND quarantined
    assert glob.glob(os.path.join(dlq_dir, "epoch=*"))

    fixed.run(spark)
    assert _decrypted_state(spark, fixed.table(), key, has_model) == want

    # the stale quarantined copy replays harmlessly: (key, op_seq) dedup
    stats = fixed.requeue_dlq()
    assert stats["requeued"] == n_dead
    fixed.run(spark)
    assert _decrypted_state(spark, fixed.table(), key, has_model) == want
    # nothing re-quarantined: every replayed line parsed under the fix
    assert len(spark.read.parquet(os.path.join(dlq_dir, "epoch=*"))
               .collect()) == 0
