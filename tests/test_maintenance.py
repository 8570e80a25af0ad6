"""Clustered rewrite (major compaction + sort clustering) maintenance.

Covers: state preservation (rows + values), delta-free result, tight
disjoint per-file bounds and metadata-only range pruning on a NON-key
column, file splitting (bin-packing), change-feed completeness across the
rewrite, epoch preservation (exactly-once resume), and the staged
(write-audit-publish) variant.
"""

from __future__ import annotations

import json
import os

import pytest

from cdcrypt.operators.maintenance import rewrite_clustered
from cdcrypt.sources.changegen import GenSpec, generate_to_dir
from cdcrypt.streaming.pipeline import IngestPipeline
from cdcrypt.table.lake import LakeTable, LakeTableError


def _ingest(spark, tmp_path, **gen):
    src = str(tmp_path / "stream")
    generate_to_dir(src, GenSpec(**gen))
    pipe = IngestPipeline(src, str(tmp_path / "t"), str(tmp_path / "c"),
                          bucket_count=4, compact_threshold=999)
    lineages = pipe.run(spark)
    return pipe.table(), lineages


def _state(df):
    return sorted(map(tuple, df.collect()))


def test_rewrite_preserves_state_and_clears_deltas(spark, tmp_path):
    t, _ = _ingest(spark, tmp_path, n_convs=30, avg_turns=5, n_epochs=4,
                   seed=3)
    assert any(f.get("kind") == "delta" and not f.get("compacted")
               for f in t.files())
    before = _state(t.read(spark))
    epoch_before = t.committed_epoch
    ln = rewrite_clustered(spark, t, ["ts"])
    assert t.version == ln["version"]
    # byte-identical live state, now all-base (plain scan, no MoR resolve)
    assert _state(t.read(spark)) == before
    assert not any(f.get("kind") == "delta" and not f.get("compacted")
                   for f in t.files())
    # a rewrite is data movement: the exactly-once epoch floor is untouched
    assert t.committed_epoch == epoch_before
    # old deltas stay referenced log-only, so the change feed is complete
    feed = t.read_incremental(spark, 0, t.version)
    assert feed.count() > 0
    assert feed.count() == t.read_incremental(spark, 0, t.version - 1).count()


def test_rewrite_bounds_prune_nonkey_range_scan(spark, tmp_path):
    t, _ = _ingest(spark, tmp_path, n_convs=40, avg_turns=6, n_epochs=3,
                   seed=11)
    # pre-rewrite: non-key ranges are refused under live MoR deltas
    with pytest.raises(LakeTableError, match="key columns only"):
        t.read(spark, key_range={"op_seq": (0, 10)})
    rewrite_clustered(spark, t, ["op_seq"], max_records_per_file=40)
    # bin-packing: bucket ranges split into several contiguous sorted
    # chunks; the chunks of one range share its write task's part index
    per_range: dict[str, list] = {}
    for f in t.files():
        if f.get("kind", "base") == "base":
            part = os.path.basename(f["path"]).split("-")[1]
            per_range.setdefault(part, []).append(f)
    assert any(len(fs) > 1 for fs in per_range.values())
    # within a range the sort-column bounds are disjoint (clustered)
    for fs in per_range.values():
        spans = sorted(f["bounds"]["op_seq"] for f in fs)
        for (_, hi), (lo2, _) in zip(spans, spans[1:]):
            assert hi <= lo2
    # metadata-only pruning: a narrow range opens strictly fewer files
    all_ops = sorted(r[0] for r in t.read(spark).select("op_seq").collect())
    lo, hi = all_ops[0], all_ops[len(all_ops) // 8]
    pruned = t.files(key_range={"op_seq": (lo, hi)})
    assert len(pruned) < len([f for f in t.files()
                              if f.get("kind", "base") == "base"])
    # and the pruned scan returns exactly the filter-equivalent rows
    want = _state(t.read(spark).where(f"op_seq >= {lo} AND op_seq <= {hi}"))
    got = _state(t.read(spark, key_range={"op_seq": (lo, hi)}))
    assert got == want


def test_rewrite_stage_only_is_wap(spark, tmp_path):
    t, _ = _ingest(spark, tmp_path, n_convs=20, avg_turns=4, n_epochs=3,
                   seed=7)
    before = _state(t.read(spark))
    v_before = t.version
    ln = rewrite_clustered(spark, t, ["ts"], stage_only=True)
    assert ln["staged"] and t.version == v_before
    # auditor reads the staged snapshot; readers still see the parent
    assert _state(t.read(spark, version=ln["version"])) == before
    assert _state(t.read(spark)) == before
    t.publish_staged(ln["version"])
    assert t.version == ln["version"]
    assert _state(t.read(spark)) == before


def test_rewrite_guards_and_lineage(spark, tmp_path):
    t, _ = _ingest(spark, tmp_path, n_convs=10, avg_turns=3, n_epochs=2,
                   seed=5)
    with pytest.raises(LakeTableError, match="not in table schema"):
        rewrite_clustered(spark, t, ["nope"])
    ln = rewrite_clustered(spark, t, ["ts", "op_seq"])
    assert ln["rows_written"] == t.read(spark).count()
    assert ln["files_after"] == len([f for f in t.files()
                                     if f.get("kind", "base") == "base"])
    # lineage lands in the snapshot (history() surfaces mode='rewrite')
    hist = t.history(spark).orderBy("version").collect()
    assert hist[-1]["mode"] == "rewrite"
    # ingest can continue after a rewrite: epoch floor intact
    assert json.loads(json.dumps(t.snapshot["lineage"]))["mode"] == "rewrite"


def test_rewrite_commit_race_keeps_winner_files(spark, tmp_path):
    """Two handles at the same version rewrite concurrently: the loser's
    data write goes to its own staging dir, so it cannot delete the files
    of the winner's committed snapshot before its commit conflicts."""
    t, _ = _ingest(spark, tmp_path, n_convs=20, avg_turns=4, n_epochs=2,
                   seed=5)
    h1, h2 = LakeTable(t.root), LakeTable(t.root)
    rows = h1.read(spark).count()
    rewrite_clustered(spark, h1, ["ts"])
    with pytest.raises(LakeTableError, match="commit conflict"):
        rewrite_clustered(spark, h2, ["ts"])
    assert LakeTable(t.root).read(spark).count() == rows
