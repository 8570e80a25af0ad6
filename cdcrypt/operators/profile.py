"""Corpus profiling: per-column statistics + deterministic HyperLogLog.

Before a 100 TB corpus is curated, a pipeline needs to SEE it: null
rates, value-length distributions, and distinct cardinalities per column
decide dedup keys, partition columns, and quality filters. Exact
``COUNT(DISTINCT col)`` at that scale is a full shuffle of every value
per column; the standard answer is HyperLogLog (Flajolet et al. 2007 —
the same sketch behind Spark's ``approx_count_distinct`` and DuckDB's
``approx_count_distinct``). Neither engine's builtin is usable here,
though: their register hashing is engine-private, so the two sides of
the correctness gate could never agree. This module implements HLL from
the repo's cross-engine 60-bit md5 family (functions/hash64.py), making
the whole profile — including the cardinality estimate — bit-replicable
in DuckDB SQL.

Determinism details that make the oracle possible:
- register index = h60(value) % 2^p, rank = zeros-in-the-top-(60-p)-bits
  + 1, computed via integer-exact binary-string length (``conv(x,10,2)``
  / DuckDB ``bin(x)``) — no floating log2 at cell boundaries;
- the estimate folds registers with the canonical alpha_m * m^2 /
  sum(2^-M_j) formula plus the small-range linear count; the float fold
  is over <= 2^p doubles and the result is ROUNDED to a long, so
  register-order FP noise (~1e-12 relative) cannot move the reported
  value;
- values hash via their canonical string rendering (CAST AS VARCHAR on
  both engines), the same contract the split/sample family uses.

Scale shape (the part that matters at 10^10 rows): ONE pass over the
data in long form (``stack`` — no join, no self-union), then two
map-side-combining aggregations whose post-shuffle cardinality is
``n_cols`` rows (moment stats) and ``n_cols * 2^p`` rows (registers) —
independent of input row count. No collect, no window, no skew (the
group keys are (col) and (col, register), both bounded and uniform by
construction of the hash).

Reference parity note: the reference SMT transforms records and has no
profiling surface; this operator exists for the engine's own
training-data pipeline tier (SURVEY.md §2.5), patterned on published
HLL, not on reference code.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cdcrypt.functions.hash64 import h60, h60_sql
from cdcrypt.table.commitfile import atomic_write_json

DEFAULT_P = 12  # 4096 registers, ~1.6% standard error


def _alpha(m: int) -> float:
    if m >= 128:
        return 0.7213 / (1.0 + 1.079 / m)
    return {16: 0.673, 32: 0.697, 64: 0.709}[m]


def _rank_col(w: Column, wbits: int) -> Column:
    """Leading-zero rank of the top ``wbits`` bits of a long: wbits -
    bitlength(w) + 1, with the all-zero word mapping to wbits + 1.
    bitlength via length(conv(w, 10, 2)) — integer-exact, and identical
    to DuckDB's length(bin(w)) modulo bin()'s fixed-width zero padding
    (the oracle strips it with ltrim)."""
    return F.when(w == 0, F.lit(wbits + 1)).otherwise(
        F.lit(wbits + 1) - F.length(F.conv(w.cast("string"), 10, 2)))


def hll_registers(df: DataFrame, col: str, p: int = DEFAULT_P,
                  salt: str = "") -> DataFrame:
    """(register, max_rank) for the non-null values of ``col`` — the
    mergeable HLL state (union sketches by max-ing registers). Exposed
    separately so incremental profiles can persist and fold per-epoch
    register tables instead of rescanning the corpus."""
    m = 1 << p
    h = h60(F.concat(F.col(col).cast("string"), F.lit(salt)))
    return (df.where(F.col(col).isNotNull())
              .select((h % m).alias("register"),
                      # shiftright, NOT float division: h/4096 needs the
                      # full 48-bit quotient and doubles round past 2^53
                      _rank_col(F.shiftright(h, p), 60 - p).alias("rank"))
              .groupBy("register").agg(F.max("rank").alias("max_rank")))


def hll_estimate_from_registers(registers: list[tuple[int, int]],
                                p: int = DEFAULT_P) -> int:
    """Fold (register, max_rank) pairs to the HLL cardinality estimate
    (driver-side: at most 2^p pairs). Canonical bias paths: linear
    counting under 2.5m with empty registers; raw estimate otherwise
    (the 60-bit hash space makes the large-range correction moot)."""
    m = 1 << p
    s = float(m - len(registers))  # empty registers contribute 2^0
    for _, r in registers:
        s += 2.0 ** (-int(r))
    raw = _alpha(m) * m * m / s
    zeros = m - len(registers)
    if raw <= 2.5 * m and zeros > 0:
        return int(round(m * math.log(m / float(zeros))))
    return int(round(raw))


def _estimate_per_col(regs: DataFrame, m: int) -> DataFrame:
    """(col, distinct_est) from a (col, register, max_rank) register
    table — the canonical HLL fold, still distributed (group key = col):
    sum(2^-max_rank) over present registers + one 2^0 per empty one,
    then linear counting under 2.5m with empty registers. Shared by the
    one-shot profile and the incremental index so both produce
    IDENTICAL estimates from identical registers."""
    alpha = _alpha(m)
    return (regs.groupBy("col").agg(
        F.count(F.lit(1)).alias("present"),
        F.sum(F.pow(F.lit(2.0), -F.col("max_rank"))).alias("s_present"))
        .select(
            "col",
            F.round(F.when(
                # linear counting branch (small range, empty registers)
                (F.lit(alpha * m * m)
                 / (F.col("s_present") + (F.lit(m) - F.col("present"))))
                <= F.lit(2.5 * m),
                F.when(F.col("present") < m,
                       F.lit(float(m))
                       * F.log(F.lit(float(m))
                               / (F.lit(m) - F.col("present"))))
                .otherwise(F.lit(alpha * m * m) / F.col("s_present")))
            .otherwise(
                F.lit(alpha * m * m)
                / (F.col("s_present") + (F.lit(m) - F.col("present")))), 0)
            .cast("long").alias("distinct_est")))


def profile_columns(df: DataFrame, cols: list[str] | None = None,
                    p: int = DEFAULT_P) -> DataFrame:
    """One profile row per column: rows, nulls, distinct_est (HLL),
    and the length moments of the value's string rendering (min/max/avg
    — avg rounded to 6 so the float divide compares stably).

    Single input pass: every row is unpivoted to (col, val) with
    ``stack`` (a generator inside the scan stage — no join/union), then
    two algebraic aggregations. Columns profile their canonical STRING
    rendering — that is the distinct-ness contract. Cross-engine caveat:
    string and integer renderings agree between Spark and DuckDB, but
    float/timestamp renderings differ ('1.0E-4' vs '0.0001'), so the
    correctness oracle (:func:`profile_columns_sql`) is only valid for
    string/integer columns; profiling floats still works, just with
    engine-local renderings."""
    cols = list(cols) if cols is not None else list(df.columns)
    pairs = _unpivot(df, cols)
    return _fold_profile(_moment_partial(pairs), _reg_partial(pairs, p), p)


def _unpivot(df: DataFrame, cols: list[str]) -> DataFrame:
    return df.select(F.stack(
        F.lit(len(cols)),
        *[x for c in cols
          for x in (F.lit(c), F.col(c).cast("string"))]
    ).alias("col", "val"))


def _moment_partial(pairs: DataFrame) -> DataFrame:
    """Mergeable moment state per column: every field is an algebraic
    aggregate (sum/min/max), so partials from separate batches fold by
    the same aggregation — the contract the incremental index relies
    on. ``avg`` is intentionally NOT here (not mergeable); it derives at
    read time as sum_len / (n_rows - n_nulls), which is bit-identical
    to ``F.avg`` (Spark evaluates Average as the same double divide)."""
    return pairs.groupBy("col").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("val").isNull(), 1).otherwise(0))
        .alias("n_nulls"),
        F.sum(F.length("val")).alias("sum_len"),
        F.min(F.length("val")).alias("min_len"),
        F.max(F.length("val")).alias("max_len"))


def _reg_partial(pairs: DataFrame, p: int) -> DataFrame:
    m = 1 << p
    h = h60(F.col("val"))
    return (pairs.where(F.col("val").isNotNull())
            .select("col", (h % m).alias("register"),
                    _rank_col(F.shiftright(h, p), 60 - p).alias("rank"))
            .groupBy("col", "register").agg(F.max("rank").alias("max_rank")))


def _fold_profile(moments: DataFrame, regs: DataFrame, p: int) -> DataFrame:
    avg = F.round(F.col("sum_len")
                  / (F.col("n_rows") - F.col("n_nulls")), 6)
    return (moments.join(_estimate_per_col(regs, 1 << p), "col", "left")
            .select("col", "n_rows", "n_nulls",
                    F.coalesce("distinct_est", F.lit(0)).alias(
                        "distinct_est"),
                    "min_len", "max_len", avg.alias("avg_len")))


# ---- numeric profiling: histogram + histogram-interpolated quantiles ----

DEFAULT_BINS = 32


def _binned(df: DataFrame, cols: list[str], bins: int):
    """(col, x, lo, hi, n, bin) for the non-null values of the numeric
    ``cols`` — the shared scaffolding of histogram and quantiles. Two
    scans of the unpivot (bounds, then binning) joined through a
    broadcast of the n_cols-row bounds aggregate; no collect."""
    pairs = df.select(F.stack(
        F.lit(len(cols)),
        *[x for c in cols for x in (F.lit(c), F.col(c).cast("double"))]
    ).alias("col", "x")).where(F.col("x").isNotNull())
    bounds = pairs.groupBy("col").agg(
        F.min("x").alias("lo"), F.max("x").alias("hi"),
        F.count(F.lit(1)).alias("n"))
    width = (F.col("hi") - F.col("lo")) / bins
    return (pairs.join(F.broadcast(bounds), "col")
            .withColumn("bin", F.when(
                F.col("hi") == F.col("lo"), F.lit(0)).otherwise(
                F.least(F.floor((F.col("x") - F.col("lo")) / width),
                        F.lit(bins - 1))).cast("int")))


def numeric_histogram(df: DataFrame, cols: list[str],
                      bins: int = DEFAULT_BINS) -> DataFrame:
    """Equi-width histogram per numeric column: (col, bin, bin_lo,
    bin_hi, cnt), empty bins omitted (they are the group-by's absent
    groups). Bin edges are pure double arithmetic over the exact
    min/max, so the DuckDB oracle reproduces them bit-for-bit; the
    reported edges round to 6 decimals only for rendering stability.

    Scale shape: one bounds aggregate (n_cols rows, broadcast back) and
    one (col, bin) aggregate — post-shuffle cardinality n_cols * bins,
    independent of row count. The double cast is exact for integers
    below 2^53; wider longs lose low bits in the same way on both
    engines (documented, not corrected)."""
    b = _binned(df, cols, bins)
    width = (F.col("hi") - F.col("lo")) / bins
    return (b.groupBy("col", "bin")
            .agg(F.count(F.lit(1)).alias("cnt"),
                 F.first("lo").alias("lo"), F.first("hi").alias("hi"))
            .select("col", "bin",
                    F.round(F.col("lo") + F.col("bin") * width, 6)
                    .alias("bin_lo"),
                    F.round(F.when(F.col("bin") == bins - 1, F.col("hi"))
                            .otherwise(F.col("lo")
                                       + (F.col("bin") + 1) * width), 6)
                    .alias("bin_hi"),
                    "cnt"))


def numeric_quantiles(df: DataFrame, cols: list[str],
                      qs: tuple = (0.25, 0.5, 0.75, 0.99),
                      bins: int = DEFAULT_BINS) -> DataFrame:
    """Histogram-interpolated quantile estimates: (col, q, est). The
    estimate is the classic linear interpolation within the first bin
    whose cumulative count reaches rank q*n — deterministic arithmetic
    over the histogram, hence oracle-replicable, unlike Spark's
    ``percentile_approx`` / DuckDB's ``approx_quantile`` whose sketches
    are engine-private. Accuracy is bounded by bin width (~range/bins),
    the standard trade for one bounded-state pass at corpus scale.

    ``qs`` must lie in (0, 1]: rank 0 has no containing bin. The
    cumulative window runs over at most n_cols * bins histogram rows —
    driver-scale, not data-scale."""
    from pyspark.sql import Window
    if not all(0.0 < q <= 1.0 for q in qs):
        raise ValueError(f"quantiles must be in (0, 1]: {qs}")
    b = _binned(df, cols, bins)
    hist = (b.groupBy("col", "bin")
            .agg(F.count(F.lit(1)).alias("cnt"),
                 F.first("lo").alias("lo"), F.first("hi").alias("hi"),
                 F.first("n").alias("n")))
    w = Window.partitionBy("col").orderBy("bin")
    hist = hist.withColumn("cum", F.sum("cnt").over(w)) \
               .withColumn("cum_prev", F.col("cum") - F.col("cnt"))
    width = (F.col("hi") - F.col("lo")) / bins
    q = F.explode(F.array(*[F.lit(float(x)) for x in qs])).alias("q")
    t = F.col("q") * F.col("n")
    # exactly one histogram row matches per (col, q): cnt > 0 for every
    # group-by output row, so cum is strictly increasing where rows exist
    return (hist.select("*", q)
            .where((F.col("cum") >= t) & (F.col("cum_prev") < t))
            .select("col", "q",
                    F.round(F.col("lo") + F.col("bin") * width
                            + (t - F.col("cum_prev")) / F.col("cnt")
                            * width, 6).alias("est")))


# ---- the DuckDB oracle side (used by the correctness gate) ----

def profile_columns_sql(table: str, cols: list[str],
                        p: int = DEFAULT_P) -> str:
    """ANSI/DuckDB SQL computing exactly :func:`profile_columns` for
    ``cols`` of ``table`` — same hash, same registers, same fold, same
    rounding. Kept next to the operator so the contract evolves in one
    place."""
    m = 1 << p
    # pre-folded and CAST AS DOUBLE: DuckDB parses a bare high-precision
    # literal as DECIMAL, and DECIMAL * 4096 * 4096 overflows DECIMAL(18)
    amm = f"CAST({_alpha(m) * m * m!r} AS DOUBLE)"
    unpivot = " UNION ALL ".join(
        f"SELECT '{c}' AS col, CAST({c} AS VARCHAR) AS val FROM {table}"
        for c in cols)
    h = h60_sql("val")
    return f"""
        WITH pairs AS ({unpivot}),
        moments AS (
            SELECT col, count(*) AS n_rows,
                   CAST(sum(CASE WHEN val IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_nulls,
                   min(length(val)) AS min_len,
                   max(length(val)) AS max_len,
                   round(avg(length(val)), 6) AS avg_len
            FROM pairs GROUP BY col),
        regs AS (
            SELECT col, ({h}) % {m} AS register,
                   max(CASE WHEN ({h}) // {m} = 0 THEN {60 - p + 1}
                       ELSE {60 - p + 1}
                            - length(ltrim(bin(({h}) // {m}), '0'))
                       END) AS max_rank
            FROM pairs WHERE val IS NOT NULL
            GROUP BY col, ({h}) % {m}),
        est AS (
            SELECT col, count(*) AS present,
                   sum(pow(2.0, -max_rank)) AS s_present
            FROM regs GROUP BY col)
        SELECT m.col AS col, m.n_rows AS n_rows, m.n_nulls AS n_nulls,
               CAST(coalesce(CASE WHEN
                   ({amm}
                    / (e.s_present + ({m} - e.present))) <= {2.5 * m!r}
                   THEN round(CASE WHEN e.present < {m}
                        THEN {float(m)!r}
                             * ln({float(m)!r} / ({m} - e.present))
                        ELSE {amm} / e.s_present END, 0)
                   ELSE round({amm}
                        / (e.s_present + ({m} - e.present)), 0)
               END, 0) AS BIGINT) AS distinct_est,
               m.min_len AS min_len, m.max_len AS max_len,
               m.avg_len AS avg_len
        FROM moments m LEFT JOIN est e ON m.col = e.col
    """


def _binned_sql(table: str, cols: list[str], bins: int) -> str:
    """Shared WITH-clause body mirroring :func:`_binned` — the
    arithmetic ASSOCIATION matters: ``(x - lo) / ((hi - lo) / bins)``
    and ``bin * ((hi - lo) / bins)`` must group exactly as the Spark
    side's ``width`` column does, or the last double bits diverge."""
    unpivot = " UNION ALL ".join(
        f"SELECT '{c}' AS col, CAST({c} AS DOUBLE) AS x FROM {table}"
        for c in cols)
    return f"""
        nn AS (SELECT col, x FROM ({unpivot}) WHERE x IS NOT NULL),
        bounds AS (
            SELECT col, min(x) AS lo, max(x) AS hi, count(*) AS n
            FROM nn GROUP BY col),
        binned AS (
            SELECT nn.col AS col, x, lo, hi, n,
                   CASE WHEN hi = lo THEN 0
                        ELSE CAST(least(floor((x - lo)
                                 / ((hi - lo) / {bins})), {bins - 1})
                             AS INT) END AS bin
            FROM nn JOIN bounds USING (col)),
        hist AS (
            SELECT col, bin, count(*) AS cnt,
                   any_value(lo) AS lo, any_value(hi) AS hi,
                   any_value(n) AS n
            FROM binned GROUP BY col, bin)"""


def numeric_histogram_sql(table: str, cols: list[str],
                          bins: int = DEFAULT_BINS) -> str:
    """DuckDB mirror of :func:`numeric_histogram`."""
    return f"""
        WITH {_binned_sql(table, cols, bins)}
        SELECT col, bin,
               round(lo + bin * ((hi - lo) / {bins}), 6) AS bin_lo,
               round(CASE WHEN bin = {bins - 1} THEN hi
                     ELSE lo + (bin + 1) * ((hi - lo) / {bins}) END, 6)
                   AS bin_hi,
               cnt
        FROM hist"""


def numeric_quantiles_sql(table: str, cols: list[str],
                          qs: tuple = (0.25, 0.5, 0.75, 0.99),
                          bins: int = DEFAULT_BINS) -> str:
    """DuckDB mirror of :func:`numeric_quantiles`."""
    # ::DOUBLE, else DuckDB types the literals DECIMAL and q*n arithmetic
    # (and the output dtype) diverges from Spark's doubles
    qlist = ", ".join(f"CAST({float(x)!r} AS DOUBLE)" for x in qs)
    return f"""
        WITH {_binned_sql(table, cols, bins)},
        cum AS (
            SELECT col, bin, cnt, lo, hi, n,
                   sum(cnt) OVER (PARTITION BY col ORDER BY bin) AS cum
            FROM hist),
        hq AS (
            SELECT col, bin, cnt, lo, hi, n, cum, cum - cnt AS cum_prev, q
            FROM cum CROSS JOIN (SELECT unnest([{qlist}]) AS q))
        SELECT col, q,
               round(lo + bin * ((hi - lo) / {bins})
                     + (q * n - cum_prev) / cnt * ((hi - lo) / {bins}), 6)
                   AS est
        FROM hq
        WHERE cum >= q * n AND cum_prev < q * n"""


# ---- incremental profile: bounded sketch state ticked per ingest batch ----

class ProfileIndexError(RuntimeError):
    pass


class ProfileIndex:
    """Persisted incremental corpus profile: HLL registers + mergeable
    moments, folded per ingest batch in O(STATE) — never O(corpus).

    This is the profiling analogue of :class:`~cdcrypt.operators.
    docdedup.MinHashIndex`, but with a stronger bound: the whole state
    is at most ``n_cols * 2^p`` register rows plus ``n_cols`` moment
    rows, CONSTANT in corpus size (that is the HLL contract), so every
    tick rewrites the full state instead of appending. A 100 TB corpus
    profile is ~a few MB of parquet updated per micro-batch; reading
    the current profile never touches the data again.

    Because register merge (max) and moment merge (sum/min/max) are the
    sketches' exact union operations, the incremental profile is
    BIT-IDENTICAL to a one-shot :func:`profile_columns` over the union
    of all ticked batches — gated against the same DuckDB oracle.

    Layout::

        root/_profile_meta.json   {cols, p, version, ticks}
        root/v=N/moments/         (col, n_rows, n_nulls, sum_len,
                                   min_len, max_len)
        root/v=N/regs/            (col, register, max_rank)

    Crash-safe single-writer: each tick writes version N+1 next to N
    and flips the meta pointer with an atomic ``os.replace`` (same
    discipline as the lake's commit, table/lake.py); a writer dying
    mid-tick leaves a dangling v-dir that the next successful tick
    removes. Not multi-writer — profiles belong to the single ingest
    driver, like the dedup indexes."""

    META = "_profile_meta.json"

    def __init__(self, root: str):
        import json
        import os
        try:
            with open(os.path.join(root, self.META)) as f:
                self.meta = json.load(f)
        except (OSError, ValueError) as e:
            raise ProfileIndexError(f"not a profile index: {root}") from e
        self.root = root

    def _vdir(self, version: int | None = None) -> str:
        import os
        v = self.meta["version"] if version is None else version
        return os.path.join(self.root, f"v={v}")

    def read_state(self, spark) -> tuple[DataFrame, DataFrame]:
        import os
        v = self._vdir()
        return (spark.read.parquet(os.path.join(v, "moments")),
                spark.read.parquet(os.path.join(v, "regs")))


def _write_profile_state(root: str, version: int,
                         moments: DataFrame, regs: DataFrame) -> None:
    import os
    v = os.path.join(root, f"v={version}")
    # the state is bounded (n_cols * 2^p rows), so one file per table
    moments.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(v, "moments"))
    regs.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(v, "regs"))


def _write_profile_meta(root: str, meta: dict) -> None:
    import os
    atomic_write_json(os.path.join(root, ProfileIndex.META), meta)


def build_profile_index(df: DataFrame, root: str, cols: list[str],
                        p: int = DEFAULT_P) -> ProfileIndex:
    """One partial-aggregation pass over the initial corpus (may be
    empty: ``df.limit(0)`` seeds a from-scratch streaming profile)."""
    import os
    os.makedirs(root, exist_ok=True)
    pairs = _unpivot(df, cols)
    _write_profile_state(root, 0, _moment_partial(pairs),
                         _reg_partial(pairs, p))
    _write_profile_meta(root, {
        "format": "cdcrypt-profile/1", "cols": list(cols), "p": p,
        "version": 0, "ticks": 0,
    })
    return ProfileIndex(root)


def update_profile_index(index: "ProfileIndex | str", batch: DataFrame,
                         meta_extra: dict | None = None) -> ProfileIndex:
    """Fold one ingest batch into the profile: batch partials (one scan
    of the BATCH only) merged with stored state by the sketches' union
    ops — max per register, sum/min/max per moment. Cost per tick is
    O(batch) + O(state); the shuffle keys are (col) and (col, register),
    both bounded.

    ``meta_extra`` merges into the meta JSON in the same atomic replace
    as the version flip — the streaming-watermark contract shared with
    the dedup indexes (a foreachBatch caller records its batch id
    exactly-once with the state it covers)."""
    import os
    import shutil
    idx = ProfileIndex(index) if isinstance(index, str) else index
    spark = batch.sparkSession
    cols, p = idx.meta["cols"], idx.meta["p"]
    pairs = _unpivot(batch, cols)
    old_m, old_r = idx.read_state(spark)
    moments = (old_m.unionByName(_moment_partial(pairs))
               .groupBy("col").agg(
                   F.sum("n_rows").alias("n_rows"),
                   F.sum("n_nulls").alias("n_nulls"),
                   F.sum("sum_len").alias("sum_len"),
                   F.min("min_len").alias("min_len"),
                   F.max("max_len").alias("max_len")))
    regs = (old_r.unionByName(_reg_partial(pairs, p))
            .groupBy("col", "register")
            .agg(F.max("max_rank").alias("max_rank")))
    new_v = idx.meta["version"] + 1
    _write_profile_state(idx.root, new_v, moments, regs)
    meta = dict(idx.meta)
    meta["version"] = new_v
    meta["ticks"] = int(meta.get("ticks", 0)) + 1
    meta.update(meta_extra or {})
    _write_profile_meta(idx.root, meta)
    # reclaim superseded + dangling versions (crash leftovers included)
    for d in os.listdir(idx.root):
        if d.startswith("v=") and d != f"v={new_v}":
            shutil.rmtree(os.path.join(idx.root, d), ignore_errors=True)
    return ProfileIndex(idx.root)


def read_profile(spark, index: "ProfileIndex | str") -> DataFrame:
    """The current profile from persisted state only — same schema and
    (by sketch-union exactness) same values as a one-shot
    :func:`profile_columns` over everything ticked in."""
    idx = ProfileIndex(index) if isinstance(index, str) else index
    moments, regs = idx.read_state(spark)
    return _fold_profile(moments, regs, idx.meta["p"])
