"""Incrementally-maintained GROUP BY views over a changelog feed —
materialized-view maintenance, the canonical consumer of resolved
before/after images (Flink retract streams, Materialize / Delta Live
Tables incremental aggregates).

Each changelog row is turned into at most two CONTRIBUTIONS: a
retraction of the before image (sign −1) and an addition of the after
image (sign +1). Per window the contributions fold into per-group
DELTAS (one narrow groupBy of O(changed keys) rows), and the deltas
merge into the view's own lake table under ``merge_engine='aggregate'``
with every stored column folding by ``sum`` — associative and
commutative, so the MoR delta log accumulates windows exactly under any
batching or compaction, and the lake's epoch gate (epoch = the window's
``to_version``) makes redelivered windows no-ops: exactly-once view
maintenance on top of the feed's at-least-once delivery, the engine's
standard two-layer contract.

Why this needs the changelog feed and not the raw one: a raw delta row
says what a key's newest event looks like, not what state it REPLACED —
without the before image an update would double-count and a delete
could not retract. The feed's 'changelog' shape exists for exactly this
consumer.

Retractable aggregates only: ``count`` / ``sum`` / ``avg`` (avg is
maintained exactly as sum + non-null count and divided at read). Per
source column the view stores ``(_sum_<col>, _nn_<col>)`` so SQL NULL
semantics survive incrementally — SUM over a group whose every value is
NULL is NULL, not 0, and COUNT(col) skips NULLs. ``min``/``max`` are
NOT retractable from deltas (a retraction of the current extreme needs
the full group re-read) and are refused at create with a pointer to the
aggregate merge engine, which folds min/max correctly because it keeps
event-level contributions.

Group columns may be source key columns (top-level in the image rows)
or payload columns (inside the before/after structs); a payload-grouped
row that MOVES groups retracts from the old group and adds to the new
one — the per-contribution group extraction handles it with no special
case. NULL group values form their own group, matching SQL GROUP BY
(all view-side resolution is groupBy-based, never a key equi-join, so
NULL keys are safe on the MoR path).

Start the feed at version 0 (the default): a view attached mid-history
would miss the initial state and every count would be off by the
pre-attach rows. Groups whose row count returns to zero are retained as
zero-weight tombstone rows in storage and filtered by :meth:`read`.

The reference SMT has no analogue (Kafka Connect has no table state at
all); this is native engine capability the chained-pipeline pattern
(raw CDC -> table A -> feed -> derived tables) exists to serve.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ByteType, DoubleType, FloatType, IntegerType, LongType, ShortType,
    StructField, StructType,
)

from cdcrypt.table.commitfile import atomic_write_json
from cdcrypt.table.lake import LakeTable

RETRACTABLE_FNS = ("count", "sum", "avg")
_INTEGRAL = (ByteType, ShortType, IntegerType, LongType)


class AggViewError(RuntimeError):
    """Misconfigured incremental aggregate view."""


def _validate_aggs(aggs: dict, source_schema: StructType,
                   group_cols: list[str]) -> list[str]:
    """Returns the distinct source columns that need (sum, nn) storage."""
    by_name = {f.name: f.dataType for f in source_schema.fields}
    sum_srcs: list[str] = []
    for out, (fn, src) in aggs.items():
        if fn not in RETRACTABLE_FNS:
            hint = (" — min/max cannot be retracted from deltas; use a "
                    "LakeTable with merge_engine='aggregate' (event-level "
                    "contributions) instead" if fn in ("min", "max") else "")
            raise AggViewError(
                f"agg {out!r}: fn {fn!r} not in {RETRACTABLE_FNS}{hint}")
        if fn == "count" and src == "*":
            continue
        if src not in by_name:
            raise AggViewError(
                f"agg {out!r}: source column {src!r} not in source schema "
                f"{sorted(by_name)}")
        if fn in ("sum", "avg"):
            if not isinstance(by_name[src], (*_INTEGRAL, FloatType,
                                             DoubleType)):
                raise AggViewError(
                    f"agg {out!r}: {fn} needs a numeric source column, "
                    f"{src!r} is {by_name[src].simpleString()}")
            if src not in sum_srcs:
                sum_srcs.append(src)
        elif src in group_cols:
            raise AggViewError(
                f"agg {out!r}: count of a group column is the row count — "
                "use ('count', '*')")
    for g in group_cols:
        if g not in by_name:
            raise AggViewError(
                f"group column {g!r} not in source schema {sorted(by_name)}")
    # count(col) needs the _nn counter even when no sum/avg uses the col
    nn_srcs = [src for (fn, src) in aggs.values()
               if src != "*" and src not in sum_srcs]
    return sum_srcs + [s for s in dict.fromkeys(nn_srcs)]


def _sum_type(dt):
    return LongType() if isinstance(dt, _INTEGRAL) else DoubleType()


class AggView:
    """An incrementally-maintained GROUP BY aggregate table.

    ``aggs``: ``{out_col: (fn, src_col)}`` with fn in count|sum|avg and
    ``('count', '*')`` for the row count. Create once with the SOURCE
    table's schema, then attach :meth:`sink` to a
    ``ChangeFeedStream(..., feed='changelog')`` over the source.
    """

    META = "_view.json"

    def __init__(self, root: str):
        self.root = root
        with open(os.path.join(root, self.META)) as f:
            m = json.load(f)
        self.group_cols: list[str] = m["group_cols"]
        # JSON round-trips tuples as lists
        self.aggs: dict = {k: tuple(v) for k, v in m["aggs"].items()}
        self.sum_srcs: list[str] = m["sum_srcs"]
        self.table = LakeTable(root)

    # ---------- lifecycle ----------
    @classmethod
    def create(cls, root: str, source_schema: StructType,
               group_cols: list[str], aggs: dict,
               bucket_count: int = 16) -> "AggView":
        if not group_cols:
            raise AggViewError("group_cols must be non-empty")
        srcs = _validate_aggs(aggs, source_schema, list(group_cols))
        by_name = {f.name: f.dataType for f in source_schema.fields}
        fields = [StructField(g, by_name[g], True) for g in group_cols]
        fields.append(StructField("_rows", LongType(), True))
        for s in srcs:
            fields.append(StructField(f"_sum_{s}",
                                      _sum_type(by_name[s]), True))
            fields.append(StructField(f"_nn_{s}", LongType(), True))
        fields.append(StructField("op_seq", LongType(), True))
        spec = {f.name: "sum" for f in fields
                if f.name not in (*group_cols, "op_seq")}
        LakeTable.create(root, StructType(fields),
                         bucket_count=bucket_count,
                         bucket_by=group_cols[0], key_cols=list(group_cols),
                         merge_engine="aggregate", agg_spec=spec)
        atomic_write_json(os.path.join(root, cls.META),
                          {"group_cols": list(group_cols),
                           "aggs": {k: list(v) for k, v in aggs.items()},
                           "sum_srcs": srcs})
        return cls(root)

    # ---------- lifecycle ----------
    def bootstrap(self, spark: SparkSession, source: LakeTable) -> int:
        """Seed the view from the source table's CURRENT state with one
        aggregation scan, so a view can attach to an existing table
        without replaying its whole history (at 10^10 events the
        difference between one pass over live rows and a replay of every
        change ever made). Returns the source version the scan pinned —
        pass it as the feed's ``start_version`` so incremental
        maintenance continues from exactly that snapshot.

        The seed merges with epoch = pinned version: re-running a torn
        bootstrap is a no-op (epoch gate), and the view must be empty
        (committed_epoch 0) — seeding on top of maintained state would
        double-count."""
        from cdcrypt.operators.merge import merge_upsert

        t = self.table.refresh()
        if t.committed_epoch > 0:
            raise AggViewError(
                "bootstrap needs an empty view (committed_epoch is "
                f"{t.committed_epoch}) — it would double-count on top of "
                "maintained state")
        src = source.refresh()
        version = src.version
        state = src.read(spark, version=version)
        view_schema = {f.name: f.dataType for f in t.schema.fields}
        aggs = [F.count(F.lit(1)).alias("_rows")]
        for s in self.sum_srcs:
            v = F.col(s).cast(view_schema[f"_sum_{s}"])
            aggs.append(F.sum(F.coalesce(v, F.lit(0))).alias(f"_sum_{s}"))
            aggs.append(F.count(v).alias(f"_nn_{s}"))
        seed = (state.groupBy(*self.group_cols).agg(*aggs)
                .select("*", F.lit("I").alias("op"),
                        F.lit(version).cast("long").alias("op_seq"),
                        F.lit(version).cast("long").alias("epoch")))
        merge_upsert(spark, t, seed, epoch=version, mode="mor")
        return version

    # ---------- maintenance ----------
    def sink(self):
        """A ``ChangeFeedStream`` sink (feed='changelog' required): folds
        the window's before/after images into per-group deltas and merges
        them with epoch = to_version."""
        from cdcrypt.operators.merge import merge_upsert

        def _sink(spark: SparkSession, changelog: DataFrame,
                  from_version: int, to_version: int) -> dict:
            cols = set(changelog.columns)
            if not {"change_op", "before", "after"} <= cols:
                raise AggViewError(
                    "AggView.sink needs resolved before/after images — "
                    "attach it with ChangeFeedStream(..., feed='changelog')")
            t = self.table.refresh()
            img_fields = set(changelog.schema["after"].dataType.names)

            def img(name):  # group/source column inside a contribution
                if name in img_fields:
                    return F.col("c.img")[name]
                if name in cols:  # a source KEY column: top-level, same
                    return F.col(name)  # on both sides of the image
                raise AggViewError(
                    f"column {name!r} neither a payload field "
                    f"{sorted(img_fields)} nor a key column of the feed")

            contribs = changelog.select(
                *[c for c in changelog.columns
                  if c not in ("change_op", "before", "after")],
                F.explode(F.array(
                    F.struct(F.lit(-1).alias("sign"),
                             F.col("before").alias("img")),
                    F.struct(F.lit(1).alias("sign"),
                             F.col("after").alias("img")),
                )).alias("c"),
            ).where(F.col("c.img").isNotNull())

            sign = F.col("c.sign").cast("long")
            deltas = [F.sum(sign).alias("_rows")]
            view_schema = {f.name: f.dataType
                           for f in t.schema.fields}
            for s in self.sum_srcs:
                v = img(s).cast(view_schema[f"_sum_{s}"])
                deltas.append(F.sum(
                    sign * F.coalesce(v, F.lit(0))).alias(f"_sum_{s}"))
                deltas.append(F.sum(
                    F.when(v.isNotNull(), sign).otherwise(F.lit(0)))
                    .alias(f"_nn_{s}"))
            batch = (contribs
                     .groupBy(*[img(g).alias(g) for g in self.group_cols])
                     .agg(*deltas)
                     .select("*",
                             F.lit("I").alias("op"),
                             F.lit(to_version).cast("long").alias("op_seq"),
                             F.lit(to_version).cast("long").alias("epoch")))
            return merge_upsert(spark, t, batch, epoch=to_version,
                                mode="mor")

        return _sink

    # ---------- read ----------
    def read(self, spark: SparkSession) -> DataFrame:
        """The resolved view: one row per live group (``_rows > 0``) with
        the user-facing aggregate columns, SQL NULL semantics intact."""
        df = self.table.refresh().read(spark)
        out = [F.col(g) for g in self.group_cols]
        for name, (fn, src) in self.aggs.items():
            if fn == "count" and src == "*":
                c = F.col("_rows")
            elif fn == "count":
                c = F.coalesce(F.col(f"_nn_{src}"), F.lit(0))
            else:
                nn = F.coalesce(F.col(f"_nn_{src}"), F.lit(0))
                total = F.col(f"_sum_{src}")
                c = (F.when(nn > 0, total) if fn == "sum"
                     else F.when(nn > 0, total.cast("double") / nn))
            out.append(c.alias(name))
        return df.where(F.col("_rows") > 0).select(*out)
