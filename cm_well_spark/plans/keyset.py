"""Key-set routing: the one place that decides how a set of keys filters
a table.

Every core surface narrows a large table by a small key set: search's
index route (candidate paths), xg/yg/gqp frontiers, versioned merge
writes, merge-on-read reconciliation, graph frontiers and sketch
recounts. Two physical routes exist:

  literal  the keys ride the plan as `between(min, max) & isin(keys)`.
           The envelope is sargable at any size (parquet min/max
           pushdown, in-memory batch pruning on the path-sorted store);
           the exact In filters the residue. Driver cost grows
           superlinearly with the list, so only sets up to LITERAL_MAX
           take it.
  join     the keys stay a DataFrame and the table semi/anti joins
           against it — broadcast-hinted when a PROVEN row bound is at
           or under BROADCAST_MAX, otherwise left to AQE.

A key set is `(keys, n)`: a list of literals, or a one-column DataFrame
with `n`, a proven upper bound on its rows (None = unproven). It comes
from `literals` / `probe` (one bounded probe job), `proven` (a stats or
carrier bound with zero jobs, else one checkpoint+count job) or
`from_values` (a driver-side list).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cm_well_spark.plans.iterative import iter_checkpoint_count, iter_checkpoint_lazy

# Largest key set routed as plan literals. The merge write plan embeds
# the list at THREE sites, and the py4j + analyzer cost of the In
# expressions grows superlinearly — measured at sf0.1 (3 reps, build =
# plan construction, exec = .count of the rewritten 986k-row table):
#   keys       isin build / exec      join build / exec
#   4          0.62 / 0.99            0.51 / 0.71
#   100        0.51 / 1.46            0.43 / 1.96
#   500        3.17 / 5.70            1.34 / 6.38
#   1,000      1.25 / 6.08            0.39 / 6.36
#   10,000     9.9-28.8 / ~40         0.5 / ~40
#   95,000     101-120 / 66-81        0.5-0.6 / 45-102
# The literal route's storage-pruning edge only survives below a few
# hundred scattered keys; past ~500 the exec advantage is gone and the
# driver cost explodes. 256 keeps the measured-win region; larger sets
# take the join route (no driver literals).
LITERAL_MAX = 256

# Broadcast-hint ceiling for key sets (short strings, ~64B/row): 1M rows
# ≈ the session's 64MB autoBroadcastJoinThreshold. At or under it a
# proven set broadcasts (hash-map semi join, no shuffle of the wide
# table); above it the hint is withheld and AQE plans the join — the
# 100 TB posture where a frontier can be billions of keys. A blind hint
# is a broadcast OOM at scale, so only a PROVEN bound licenses it.
BROADCAST_MAX = 1_000_000


def literals(df: DataFrame, cols: str | list[str], cap: int | None = None) -> list | None:
    """The distinct keys of `df[cols]` when there are at most `cap` of
    them, else None — one `distinct().limit(cap+1).collect()` job, so
    the driver never holds more than cap+1 keys. A single column gives
    scalars, a list of columns gives tuples.

    distinct-then-limit measured faster than a plain limit (min-of-4
    build 0.90 s vs 1.46 s): collect on a bare limit escalates through
    several serial partition-scan jobs, the distinct's shuffle is one.
    `cap` defaults to LITERAL_MAX."""
    cap = LITERAL_MAX if cap is None else cap
    one = isinstance(cols, str)
    rows = df.select(*([cols] if one else cols)).distinct().limit(cap + 1).collect()
    if len(rows) > cap:
        return None
    return [r[0] for r in rows] if one else [tuple(r) for r in rows]


def proven(
    df: DataFrame,
    bound: int | None = None,
    checkpoint: bool = False,
    reliable: bool | None = None,
) -> tuple[DataFrame, int]:
    """`(df, n)` with `n` a proven upper bound on df's rows.

    A `bound` (predicate-stats algebra or the plans/bounds.py carrier)
    at or under BROADCAST_MAX is used as is — zero jobs; with
    `checkpoint=True` df's lineage is still truncated, lazily. Otherwise
    df is checkpointed and counted in one job (iter_checkpoint_count).
    The bound licenses routes only; never derive rows from it."""
    if bound is not None and bound <= BROADCAST_MAX:
        return (iter_checkpoint_lazy(df, reliable) if checkpoint else df), bound
    return iter_checkpoint_count(df, reliable)


def probe(
    df: DataFrame, col: str, cap: int | None = None, reliable: bool | None = None
) -> tuple[list | DataFrame, int]:
    """The key set of `df[col]`: its literals when at most `cap`
    (default LITERAL_MAX; one job), else its distinct keys as a
    checkpointed DataFrame with their count (one more job)."""
    keys = literals(df, col, cap)
    if keys is not None:
        return keys, len(keys)
    return proven(df.select(col).distinct(), reliable=reliable)


def from_values(df: DataFrame, col: str, values) -> tuple[list | DataFrame, int]:
    """A driver-side value list as a key set for `df[col]`: the list
    itself at or under LITERAL_MAX, else a DataFrame of it."""
    values = list(values)
    if len(values) <= LITERAL_MAX:
        return values, len(values)
    schema = T.StructType([T.StructField("__k", df.schema[col].dataType)])
    return df.sparkSession.createDataFrame([(v,) for v in values], schema), len(values)


def broadcastable(n: int | None) -> bool:
    """Whether a key set with proven bound `n` may carry a broadcast hint."""
    return n is not None and n <= BROADCAST_MAX


def _join(df: DataFrame, col: str, keys: DataFrame, n: int | None, how: str) -> DataFrame:
    # the key column is renamed so that a key set derived from `df`
    # itself (recursive deletes, frontiers) never makes an ambiguous
    # self-join
    k = keys.select(F.col(keys.columns[0]).alias("__k"))
    if broadcastable(n):
        k = F.broadcast(k)
    return df.join(k, F.col(col) == F.col("__k"), how)


def _present(keys: list) -> list:
    # equality never matches NULL, and a NULL inside an In list would
    # turn every non-match into NULL
    return [k for k in keys if k is not None]


def keep(df: DataFrame, col: str, keys: list | DataFrame, n: int | None = None) -> DataFrame:
    """Rows of `df` whose `col` is in the key set (`n`: proven bound of
    a DataFrame key set)."""
    if isinstance(keys, DataFrame):
        return _join(df, col, keys, n, "left_semi")
    vals = _present(keys)
    if not vals:
        return df.where(F.lit(False))
    c = F.col(col)
    return df.where(c.between(min(vals), max(vals)) & c.isin(vals))


def drop(df: DataFrame, col: str, keys: list | DataFrame, n: int | None = None) -> DataFrame:
    """Rows of `df` whose `col` is NOT in the key set; NULL keys are
    kept (anti-join semantics on both routes)."""
    if isinstance(keys, DataFrame):
        return _join(df, col, keys, n, "left_anti")
    vals = _present(keys)
    if not vals:
        return df
    return df.where(~F.col(col).isin(vals) | F.col(col).isNull())


def mark(
    df: DataFrame, col: str, keys: list | DataFrame, name: str, n: int | None = None
) -> DataFrame:
    """`df` plus a boolean column `name`: whether `col` is in the key
    set. Rows are neither dropped nor duplicated; a NULL key is not a
    member (NULL on the literal route, False on the join route)."""
    if not isinstance(keys, DataFrame):
        return df.withColumn(name, F.col(col).isin(_present(keys)))
    flags = keys.select(F.col(keys.columns[0]).alias("__k")).distinct()
    flags = flags.withColumn("__hit", F.lit(True))
    if broadcastable(n):
        flags = F.broadcast(flags)
    return (
        df.join(flags, F.col(col) == F.col("__k"), "left")
        .withColumn(name, F.col("__hit").isNotNull())
        .drop("__k", "__hit")
    )
