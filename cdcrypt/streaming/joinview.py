"""Incrementally-maintained equi-JOIN views over two lake tables —
the join sibling of streaming/aggview.py (Materialize / Delta Live
Tables / Flink temporal-join materialization): keep

    V  =  fact  JOIN  dim  ON fact.jk = dim.k        (left or inner)

up to date as BOTH sources take CDC merges, without ever re-running the
full join.

Maintenance is recompute-from-pinned-state over the AFFECTED slice, not
delta-join algebra: each tick pins one version of each source
(``a_to``, ``b_to``), derives the affected fact keys from the two
changelog windows, rejoins exactly those rows against the pinned dim
state, and MERGEs the result into the view's own lake table with
epoch = tick. Pinned inputs make a redelivered tick byte-identical, so
the lake's epoch gate turns at-least-once driving into exactly-once
view maintenance — the engine's standard two-layer contract.

Affected-slice derivation (per tick):

- fact changes: the fact changelog's keys, after-images already in hand
  (no fact re-read for them);
- dim changes: every CURRENT fact row whose join key is among the dim
  changelog's keys. The view and (by recommendation) the fact table are
  bucketed by the JOIN column, so this read is manifest-pruned to the
  dirty join keys' buckets — a driver-side set bounded by bucket_count,
  the same pattern as merge/read_changelog — then semi-joined to the
  exact keys. A dim row referenced by 10^8 fact rows costs its fan-out;
  that is the semantics' price, not the engine's.

Deletes the recompute cannot express as upserts are emitted as MERGE
``op='D'`` rows: fact deletions, join-key MOVERS (the before-image's
bucket gets a D, the recomputed row lands in the new bucket — the view
is bucketed by join key, so an updated join key changes buckets and the
stale row must be tombstoned where it lives), and — under ``how=
'inner'`` — fact rows whose dim vanished.

Scale shape: every tick is O(changed fact keys + fan-out of changed dim
keys); all joins hash on the join column against bucket-pruned pinned
reads; nothing scans a bucket neither window touched; no driver-side
data beyond bucket-id sets.

The reference SMT has no analogue (Kafka Connect holds no table state);
this serves the chained-pipeline pattern: raw CDC -> fact + dim tables
-> maintained enriched table feeding training-data scans without paying
the join per read.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from cdcrypt.table.commitfile import atomic_write_json
from cdcrypt.table.lake import LakeTable, bucket_col


class JoinViewError(RuntimeError):
    pass


class JoinView:
    """A maintained ``fact JOIN dim`` table.

    ``create`` once with both source schemas, ``bootstrap`` from the
    sources' current state, then call :meth:`tick` after source commits
    (or from any scheduler). ``read`` serves the resolved view.

    Requirements checked at create:
    - ``on=(fact_col, dim_key)``: ``dim_key`` must be the dim table's
      ONLY key column (the changelog's key IS the dirty join key);
    - fact payload/dim payload column names must not collide (the view
      holds both side by side).
    """

    META = "_joinview.json"

    def __init__(self, root: str):
        self.root = root
        with open(os.path.join(root, self.META)) as f:
            m = json.load(f)
        self.fact_root: str = m["fact_root"]
        self.dim_root: str = m["dim_root"]
        self.on_fact: str = m["on_fact"]
        self.on_dim: str = m["on_dim"]
        self.how: str = m["how"]
        self.fact_keys: list[str] = m["fact_keys"]
        self.dim_payload: list[str] = m["dim_payload"]
        self.table = LakeTable(root)
        self._state_path = os.path.join(root, "_joinview_state.json")

    # ---------- lifecycle ----------
    @classmethod
    def create(cls, root: str, fact: LakeTable, dim: LakeTable,
               on: tuple[str, str], how: str = "left",
               bucket_count: int = 16) -> "JoinView":
        if how not in ("left", "inner"):
            raise JoinViewError(f"how must be left|inner, got {how!r}")
        on_fact, on_dim = on
        if dim.key_cols != [on_dim]:
            raise JoinViewError(
                f"dim key_cols {dim.key_cols} must be exactly [{on_dim!r}]"
                " — the dim changelog's key is the dirty join key")
        fact_fields = {f.name: f for f in fact.schema.fields}
        if on_fact not in fact_fields:
            raise JoinViewError(f"fact has no column {on_fact!r}")
        # op_seq is engine bookkeeping on BOTH sources; the view issues
        # its own (tick-stratified) op_seq, so source copies are dropped
        dim_payload = [f.name for f in dim.schema.fields
                       if f.name not in (on_dim, "op_seq")]
        clash = set(dim_payload) & set(fact_fields)
        if clash:
            raise JoinViewError(
                f"fact/dim column collision {sorted(clash)}; rename on "
                "the dim side (evolve_schema renames are metadata-only)")
        from pyspark.sql.types import LongType
        fields = [f for f in fact.schema.fields if f.name != "op_seq"] \
            + [StructField(f.name, f.dataType, True)
               for f in dim.schema.fields if f.name in dim_payload] \
            + [StructField("op_seq", LongType(), True)]  # the view's own
        # (stored: the MoR resolver orders base vs delta rows by it)
        LakeTable.create(root, StructType(fields),
                         bucket_count=bucket_count,
                         bucket_by=on_fact,
                         key_cols=list(fact.key_cols))
        atomic_write_json(os.path.join(root, cls.META),
                          {"fact_root": fact.root, "dim_root": dim.root,
                           "on_fact": on_fact, "on_dim": on_dim, "how": how,
                           "fact_keys": list(fact.key_cols),
                           "dim_payload": dim_payload})
        return cls(root)

    # ---------- state ----------
    def _load_state(self) -> dict:
        if not os.path.exists(self._state_path):
            return {"fact_last": None, "dim_last": None,
                    "tick": 0, "pending": None}
        with open(self._state_path) as f:
            return json.load(f)

    # ---------- the join ----------
    def _join(self, fact_rows: DataFrame, dim_state: DataFrame) -> DataFrame:
        out = fact_rows.join(
            dim_state,
            fact_rows[self.on_fact] == dim_state[self.on_dim],
            self.how)
        return out.drop(dim_state[self.on_dim])

    def _null_dim(self, df: DataFrame) -> DataFrame:
        view_types = {f.name: f.dataType for f in self.table.schema.fields}
        for c in self.dim_payload:
            df = df.withColumn(c, F.lit(None).cast(view_types[c]))
        return df

    # ---------- lifecycle ----------
    def bootstrap(self, spark: SparkSession) -> tuple[int, int]:
        """Seed from both sources' current state with ONE full join;
        returns the pinned (fact_version, dim_version) the incremental
        path continues from. Same guard as AggView: the view must be
        empty, and re-running a torn bootstrap is an epoch-gate no-op."""
        from cdcrypt.operators.merge import merge_upsert

        t = self.table.refresh()
        if t.committed_epoch > 0:
            raise JoinViewError(
                "bootstrap needs an empty view (committed_epoch "
                f"{t.committed_epoch})")
        fact = LakeTable(self.fact_root).refresh()
        dim = LakeTable(self.dim_root).refresh()
        a_ver, b_ver = fact.version, dim.version
        seed = self._join(
            fact.read(spark, version=a_ver).drop("op_seq"),
            dim.read(spark, version=b_ver).drop("op_seq"))
        batch = seed.select(
            "*", F.lit("I").alias("op"),
            F.lit(2).cast("long").alias("op_seq"),  # 2*tick, see tick()
            F.lit(1).cast("long").alias("epoch"))
        merge_upsert(spark, t, batch, epoch=1, mode="mor")
        atomic_write_json(self._state_path,
                          {"fact_last": a_ver, "dim_last": b_ver,
                           "tick": 1, "pending": None})
        return a_ver, b_ver

    # ---------- maintenance ----------
    def tick(self, spark: SparkSession) -> dict | None:
        """One maintenance step: fold every source commit since the last
        tick into the view. Returns lineage (or None when idle). Safe to
        re-run after a crash — a recorded pending window is recomputed
        from its pinned versions and deduplicated by the epoch gate."""
        from cdcrypt.operators.merge import merge_upsert

        st = self._load_state()
        if st["fact_last"] is None:
            raise JoinViewError("bootstrap the view before ticking")
        fact = LakeTable(self.fact_root).refresh()
        dim = LakeTable(self.dim_root).refresh()
        if st["pending"] is not None:
            a_to = st["pending"]["a_to"]
            b_to = st["pending"]["b_to"]
            tick = st["pending"]["tick"]
        else:
            a_to, b_to = fact.version, dim.version
            if a_to == st["fact_last"] and b_to == st["dim_last"]:
                return None
            tick = st["tick"] + 1
            st["pending"] = {"a_to": a_to, "b_to": b_to, "tick": tick}
            atomic_write_json(self._state_path, st)
        a_from, b_from = st["fact_last"], st["dim_last"]

        cl_a = (fact.read_changelog(spark, a_from, a_to)
                if a_to > a_from else None)
        cl_b = (dim.read_changelog(spark, b_from, b_to)
                if b_to > b_from else None)
        fk = self.fact_keys
        jk = self.on_fact
        fact_payload = [f.name for f in fact.schema.fields
                        if f.name not in (*fk, "op_seq")]

        parts: list[DataFrame] = []   # fact rows to rejoin (after-images)
        deletes: list[DataFrame] = []  # op='D' rows (key + join-key bucket)

        def d_rows(keyed: DataFrame, jk_col) -> DataFrame:
            # full view schema with nulls: MERGE needs only key + bucket
            # column + op for a delete, the rest aligns the schema
            row = keyed.select(*fk, jk_col.alias(jk))
            view_types = {f.name: f.dataType
                          for f in self.table.schema.fields}
            for c in view_types:
                if c not in (*fk, jk, "op_seq"):  # op_seq added per piece
                    row = row.withColumn(c, F.lit(None).cast(view_types[c]))
            return row

        if cl_a is not None:
            cl_a = cl_a.persist()
            after_rows = (cl_a.where(F.col("after").isNotNull())
                          .select(*fk, *[F.col("after")[c].alias(c)
                                         for c in fact_payload]))
            parts.append(after_rows)
            deletes.append(d_rows(
                cl_a.where(F.col("after").isNull()), F.col("before")[jk]))
            deletes.append(d_rows(
                cl_a.where(F.col("after").isNotNull()
                           & F.col("before").isNotNull()
                           & ~F.col("before")[jk].eqNullSafe(
                               F.col("after")[jk])),
                F.col("before")[jk]))

        if cl_b is not None:
            dirty_dim = cl_b.select(F.col(self.on_dim).alias(jk)).distinct()
            # bucket ids of the dirty join keys: <= fact.bucket_count ints
            fb = {r["b"] for r in dirty_dim.select(
                bucket_col(fact.bucket_count, jk).alias("b"))
                .distinct().collect()}
            fanout = (fact.read(spark, buckets=fb, version=a_to)
                      .join(dirty_dim, jk, "left_semi"))
            if cl_a is not None:
                fanout = fanout.join(cl_a.select(*fk), fk, "left_anti")
            parts.append(fanout.select(*fk, *fact_payload))

        if not parts:
            batch_fact = None
        elif len(parts) == 1:
            batch_fact = parts[0]
        else:
            batch_fact = parts[0].unionByName(parts[1])

        upserts = None
        if batch_fact is not None:
            batch_fact = batch_fact.persist()
            # dim state pruned to the affected join keys' buckets (dim is
            # bucketed BY its key = the join key)
            db = {r["b"] for r in batch_fact.select(
                bucket_col(dim.bucket_count, jk).alias("b"))
                .distinct().collect()}
            dim_state = dim.read(spark, buckets=db,
                                 version=b_to).drop("op_seq")
            joined = self._join(batch_fact, dim_state)
            if self.how == "inner":
                vanished = batch_fact.join(
                    joined.select(*fk), fk, "left_anti")
                deletes.append(d_rows(vanished, F.col(jk)))
            upserts = joined

        # op_seq stratification: LWW resolution is GLOBAL per key
        # (max(struct(op_seq, ...)), dedup.py), and a join-key MOVER puts
        # a D (old bucket) and a U (new bucket) for the SAME key in the
        # SAME tick — the U must outrank the D, and a tie on op_seq would
        # fall through to payload comparison. Deletes at 2*tick-1,
        # upserts at 2*tick: a key with both resolves to the new row, a
        # key with only the D resolves deleted, and both strata outrank
        # every earlier tick. (Monotonic in tick, so cross-tick LWW holds.)
        pieces = []
        if upserts is not None:
            pieces.append(upserts.select(
                "*", F.lit("U").alias("op"),
                F.lit(2 * tick).cast("long").alias("op_seq")))
        for d in deletes:
            pieces.append(d.select(
                "*", F.lit("D").alias("op"),
                F.lit(2 * tick - 1).cast("long").alias("op_seq")))
        if not pieces:
            st = {"fact_last": a_to, "dim_last": b_to,
                  "tick": tick, "pending": None}
            atomic_write_json(self._state_path, st)
            return {"tick": tick, "rows": 0, "skipped": "empty window"}
        batch = pieces[0]
        for p in pieces[1:]:
            batch = batch.unionByName(p)
        batch = batch.select(
            "*", F.lit(tick).cast("long").alias("epoch"))
        lineage = merge_upsert(spark, self.table.refresh(), batch,
                               epoch=tick, mode="mor")
        atomic_write_json(self._state_path,
                          {"fact_last": a_to, "dim_last": b_to,
                           "tick": tick, "pending": None})
        return {"tick": tick, "fact_to": a_to, "dim_to": b_to,
                "merge": lineage}

    def run(self, spark: SparkSession, poll_interval_s: float = 1.0,
            idle_ticks_to_stop: int | None = None,
            max_wall_s: float | None = None) -> list[dict]:
        """Drain-and-poll maintenance loop (the ChangeFeedStream.run
        contract): tick until ``idle_ticks_to_stop`` consecutive empty
        polls and/or ``max_wall_s`` elapses — at least one bound must be
        set; an unbounded tail is a deliberate caller choice."""
        import time
        if idle_ticks_to_stop is None and max_wall_s is None:
            raise ValueError("set idle_ticks_to_stop and/or max_wall_s")
        t0 = time.monotonic()
        idle = 0
        out: list[dict] = []
        while True:
            info = self.tick(spark)
            if info is None:
                idle += 1
            else:
                idle = 0
                out.append(info)
            if idle_ticks_to_stop is not None and idle >= idle_ticks_to_stop:
                return out
            if (max_wall_s is not None
                    and time.monotonic() - t0 >= max_wall_s):
                return out
            if info is None:
                time.sleep(poll_interval_s)

    # ---------- read ----------
    def read(self, spark: SparkSession) -> DataFrame:
        """The resolved view (MoR read: deletes dropped, LWW per key)."""
        return self.table.refresh().read(spark)
