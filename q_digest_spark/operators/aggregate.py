"""Two-level mergeable-sketch aggregation over Spark DataFrames.

This is the Spark-native replacement for the reference's MPI dataflow
(scatter -> per-rank build -> serialize -> pairwise merge -> tree
reduce; /root/reference/mpi-implementation/src/main.c:18-65 and
treeReduce.c:31-90, whose recursive-doubling phase was never finished).
Every ungrouped call (``sketch_aggregate``, ``multi_sketch_aggregate``,
the ``*_of`` helpers, ``cms_topk``, ``StreamingSketch``) runs the same
core, ``fold_partials``:

  stage 1 (map-side partial): ``mapInPandas`` builds one sketch per
      input partition and spec — vectorized ``update_batch`` per Arrow
      batch, zero per-row Python. Output: tiny rows ``(part_id, name,
      sketch binary, rows)``. At 100 TB this is the only full-data
      pass; its output is O(#partitions * sketch_size) bytes.

  stage 2 (merge): ``fanout`` is the most partials merged in one place.
      When a plan-time bound on the partition count (read off the
      physical plan, no Spark job) is <= ``fanout``, the partials are
      collected by the partial-build job itself and folded on the
      driver: one Spark job per call. Otherwise, or when the plan has
      no such bound, ``tree_merge`` shuffles the partial rows into
      ``fanout`` groups per name by ``part_id % fanout`` and merges
      each with ``applyInPandas`` — the reference's power-of-two
      orphan-folding tree generalized to any partition count — and the
      driver folds those <= fanout rows per name. With 10^6 input
      partitions and fanout=64 the driver never sees more than 64
      rows per sketch.

Every merge, on either path, folds its rows in ``part_id`` order, so
the result does not depend on shuffle or collect order. Merge is
associative and commutative up to compression order (asserted within
eps in tests), which is what makes the tree shape irrelevant.

Grouped aggregation (``grouped_sketch_rows``) does hand-built map-side
partial aggregation: each Arrow batch groups locally in pandas and
emits one partial sketch row per key, so the shuffle carries
O(#batches * #keys) sketch rows instead of the raw data — this is the
skew story for Zipf-distributed keys (a hot key costs one row per
batch, not one row per input record). Its merges use the same
``_merge_group`` body as the tree levels.
"""

from __future__ import annotations

from math import prod
from typing import Callable, Iterable, Mapping, NamedTuple, Sequence

import pandas as pd
from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, functions as F

SketchFactory = Callable[[], object]

PARTIAL_SCHEMA = "part_id long, name string, sketch binary, rows long"


class SketchSpec(NamedTuple):
    """One sketch of an aggregation: its input (column name or Column
    expression), an empty-sketch factory, the bytes decoder, and an
    optional weight column that turns rows into (value, weight) pairs
    fed to ``update_batch(values, weights)`` — how the JVM-precounted
    path hands Python a bounded histogram instead of raw rows."""

    col: object
    factory: SketchFactory
    deserialize: Callable[[bytes], object]
    weight_col: object = None


def _as_col(c):
    return F.col(c) if isinstance(c, str) else c


def partial_sketches(df: DataFrame, specs: Mapping[str, SketchSpec]) -> DataFrame:
    """Stage 1: one ``mapInPandas`` pass builds every spec's sketch per
    input partition; output rows ``(part_id, name, sketch, rows)``.

    Each spec's input is selected *first*, so Catalyst prunes every
    other column out of the scan (ReadSchema shows only the needed
    fields) and pushes any upstream filter down to parquet. A (value,
    weight) pair is dropped when either side is null; ``rows`` counts
    total (signed) weight.
    """
    names = list(specs)
    cols = [F.spark_partition_id().alias("__pid")]
    for n, s in specs.items():
        cols.append(_as_col(s.col).alias(f"__v_{n}"))
        if s.weight_col is not None:
            cols.append(_as_col(s.weight_col).alias(f"__w_{n}"))
    sdf = df.select(*cols)
    factories = {n: specs[n].factory for n in names}
    weighted = {n for n in names if specs[n].weight_col is not None}

    def build(batches: Iterable[pd.DataFrame]):
        sks = {n: f() for n, f in factories.items()}
        rows = dict.fromkeys(names, 0)
        # values actually fed — the emit condition (signed weights can
        # sum to 0 across a partition whose counters are decidedly
        # nonzero, e.g. counting-Bloom +1/-1 streams)
        seen = dict.fromkeys(names, 0)
        pid = -1
        for pdf in batches:
            if not len(pdf):
                continue
            pid = int(pdf["__pid"].iloc[0])
            for n in names:
                v = pdf[f"__v_{n}"]
                if n in weighted:
                    w = pdf[f"__w_{n}"]
                    ok = v.notna() & w.notna()
                    vals, w = v[ok], w[ok].to_numpy()
                    if len(vals):
                        sks[n].update_batch(vals.to_numpy(), w)
                        rows[n] += int(w.sum())
                else:
                    vals = v.dropna()
                    if len(vals):
                        sks[n].update_batch(vals.to_numpy())
                        rows[n] += len(vals)
                seen[n] += len(vals)
        out_n = [n for n in names if seen[n]]
        if out_n:
            yield pd.DataFrame(
                {
                    "part_id": [pid] * len(out_n),
                    "name": out_n,
                    "sketch": [sks[n].to_bytes() for n in out_n],
                    "rows": [rows[n] for n in out_n],
                }
            )

    return sdf.mapInPandas(build, PARTIAL_SCHEMA)


def _fold(bufs: Iterable, deserialize):
    """The one sketch fold: deserialize and merge, in the given order."""
    sk = None
    for buf in bufs:
        cur = deserialize(bytes(buf))
        sk = cur if sk is None else sk.merge(cur)
    return sk


def _decoder(deserialize, name):
    """``deserialize`` is one decoder for every name, or a mapping
    name -> decoder."""
    return deserialize[name] if isinstance(deserialize, Mapping) else deserialize


def _merge_group(keys: Sequence[str], deserialize):
    """applyInPandas body of every sketch merge (tree levels, grouped
    rows, rollup/cube levels): one output row with the group's
    ``keys``, its merged sketch and summed rows. Rows that carry a
    ``part_id`` fold in that order and report the smallest one."""

    def merge_group(pdf: pd.DataFrame) -> pd.DataFrame:
        if "part_id" in pdf.columns:
            pdf = pdf.sort_values("part_id", kind="stable")
        dec = _decoder(deserialize, pdf["name"].iloc[0] if "name" in pdf.columns else None)
        out = {k: [pdf[k].iloc[0]] for k in keys}
        out["sketch"] = [_fold(pdf["sketch"], dec).to_bytes()]
        out["rows"] = [int(pdf["rows"].sum())]
        return pd.DataFrame(out)

    return merge_group


def tree_merge(partials: DataFrame, deserialize, fanout: int = 32) -> DataFrame:
    """Shuffle partial rows into ``fanout`` groups per name by
    ``part_id % fanout`` and merge each group in one task
    (applyInPandas). Output: <= fanout rows per name."""
    return partials.groupBy("name", F.pmod("part_id", F.lit(fanout))).applyInPandas(
        _merge_group(["part_id", "name"], deserialize), PARTIAL_SCHEMA
    )


def _plan_bound(plan) -> int | None:
    """Upper bound on a physical plan's partition count, or None."""
    name = plan.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":  # not yet run: its initial plan
        return _plan_bound(plan.executedPlan())
    if name == "ShuffleExchangeExec":  # AQE may only coalesce below this
        return plan.outputPartitioning().numPartitions()
    if name == "BroadcastExchangeExec":
        return 0
    if name == "InMemoryTableScanExec":  # a cache keeps its plan's partitions
        return _plan_bound(plan.relation().cachedPlan())
    kids = plan.children()
    bounds = [_plan_bound(kids.apply(i)) for i in range(kids.size())]
    if not bounds:
        # a leaf's RDD is built, not run (file splits come from the
        # listing); subqueries would run jobs, so those get no bound
        return None if plan.subqueries().nonEmpty() else plan.execute().getNumPartitions()
    if None in bounds:
        return None
    if name == "UnionExec":
        return sum(bounds)
    if name == "CartesianProductExec":
        return prod(bounds)
    return max(bounds)  # narrow nodes keep, joins share, the input partitioning


def partition_bound(df: DataFrame) -> int | None:
    """Plan-time upper bound on ``df``'s partition count, computed
    without launching a Spark job (unlike ``df.rdd.getNumPartitions()``,
    which runs every exchange below it); None when the plan holds a
    node it cannot bound. Planning is cached on the DataFrame, so a
    later action on ``df`` does not plan again."""
    try:
        return _plan_bound(df._jdf.queryExecution().executedPlan())
    except Py4JError:
        return None


def fold_partials(partials: DataFrame, deserialize, fanout: int = 32) -> dict[str, tuple[object, int]]:
    """Stage 2: merge ``partial_sketches``-shaped rows into
    ``{name: (sketch, rows)}``. Driver fold when the partition bound is
    <= ``fanout`` (the partial-build job collects them), else
    ``tree_merge`` first. Rows fold in ``(name, part_id)`` order."""
    bound = partition_bound(partials)
    if bound is None or bound > fanout:
        partials = tree_merge(partials, deserialize, fanout)
    pdf = partials.toPandas().sort_values(["name", "part_id"], kind="stable")
    return {
        name: (_fold(g["sketch"], _decoder(deserialize, name)), int(g["rows"].sum()))
        for name, g in pdf.groupby("name", sort=False)
    }


def aggregate_sketches(
    df: DataFrame, specs: Mapping[str, SketchSpec], fanout: int = 32
) -> dict[str, tuple[object, int]]:
    """The ungrouped core: ``{name: (merged sketch, rows)}`` from one
    pass over ``df``; a spec whose input is all null is absent."""
    return fold_partials(
        partial_sketches(df, specs), {n: s.deserialize for n, s in specs.items()}, fanout
    )


def sketch_aggregate(
    df: DataFrame,
    col,
    factory: SketchFactory,
    deserialize,
    fanout: int = 32,
    weight_col=None,
):
    """One sketch of ``col``, merged on the driver; None on empty input."""
    out = aggregate_sketches(df, {"v": SketchSpec(col, factory, deserialize, weight_col)}, fanout)
    return out["v"][0] if out else None


def grouped_sketch_rows(
    df: DataFrame,
    keys: Sequence[str],
    col,
    factory: SketchFactory,
    deserialize,
    *,
    value_name: str = "v",
    weight_col=None,
) -> DataFrame:
    """Grouped aggregation with hand-built map-side partials.

    Stage 1 groups *inside each Arrow batch* (pandas groupby) and emits
    one partial sketch row per (key-tuple, batch); stage 2 shuffles
    only those tiny rows by key and merges. The raw data is never
    shuffled — the Zipf/skew-safe plan demanded by BASELINE.json
    ("explicit salting/repartitioning for domain skew": a hot key here
    contributes one partial row per batch regardless of its row count).

    ``weight_col``: optional weight expression — rows become
    (value, weight) pairs fed to ``update_batch(values, weights)``
    and ``rows`` counts total weight, the grouped form of the
    reference's insert-with-amount (qcore.c:224-252).

    Returns a DataFrame ``keys..., sketch binary, rows long``.
    """
    keys = list(keys)
    cols = [F.col(k) for k in keys] + [
        F.col(col).alias(value_name) if isinstance(col, str) else col.alias(value_name)
    ]
    if weight_col is not None:
        cols.append(
            F.col(weight_col).alias("__w")
            if isinstance(weight_col, str)
            else weight_col.alias("__w")
        )
    sdf = df.select(*cols)
    n_key_fields = len(keys)
    key_fields = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in sdf.schema.fields[:n_key_fields]
    )
    partial_schema = f"{key_fields}, sketch binary, rows long"

    def build(batches: Iterable[pd.DataFrame]):
        # accumulate one sketch per key across ALL batches of the
        # partition (partial agg), emit once at the end
        acc: dict[tuple, object] = {}
        nrows: dict[tuple, int] = {}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            for kt, g in pdf.groupby(keys, sort=False, dropna=False):
                kt = kt if isinstance(kt, tuple) else (kt,)
                if weight_col is not None:
                    # drop the PAIR when either side is null — a NaN
                    # weight would crash the int cast (QDigest) or
                    # silently poison centroid weights (t-digest)
                    ok = g[value_name].notna() & g["__w"].notna()
                    vals = g[value_name][ok]
                else:
                    vals = g[value_name].dropna()
                if not len(vals):
                    continue
                sk = acc.get(kt)
                if sk is None:
                    sk = acc[kt] = factory()
                    nrows[kt] = 0
                if weight_col is not None:
                    w = g["__w"][ok].to_numpy()
                    sk.update_batch(vals.to_numpy(), w)
                    nrows[kt] += int(w.sum())
                else:
                    sk.update_batch(vals.to_numpy())
                    nrows[kt] += len(vals)
        if not acc:
            return
        recs = {k: [] for k in keys}
        recs["sketch"] = []
        recs["rows"] = []
        for kt, sk in acc.items():
            for kname, kval in zip(keys, kt):
                recs[kname].append(kval)
            recs["sketch"].append(sk.to_bytes())
            recs["rows"].append(nrows[kt])
        yield pd.DataFrame(recs)

    return sdf.mapInPandas(build, partial_schema).groupBy(*keys).applyInPandas(
        _merge_group(keys, deserialize), partial_schema
    )


def grouped_estimates(
    rows_df: DataFrame,
    keys: Sequence[str],
    deserialize,
    estimator=None,
    *,
    out_name: str = "est",
    out_type: str = "double",
    keep_rows: bool = False,
) -> DataFrame:
    """Distributed per-group sketch decode: map each (keys..., sketch)
    row of ``grouped_sketch_rows`` output to (keys..., estimate)
    WITHOUT collecting the group table — the scale-safe shape for
    bound-flag queries (join this against the exact aggregate in Spark
    instead of zipping two driver dicts; the flag then costs one tiny
    keyed join however many groups exist).

    ``estimator`` maps a deserialized sketch to a scalar (default:
    ``.estimate()``). ``keep_rows`` passes the per-group ``rows``
    count through."""
    keys = list(keys)
    est = estimator if estimator is not None else (lambda sk: sk.estimate())
    key_fields = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in rows_df.schema.fields
        if f.name in keys
    )
    out_schema = f"{key_fields}, `{out_name}` {out_type}"
    if keep_rows:
        out_schema += ", `rows` long"

    def decode(batches: Iterable[pd.DataFrame]):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cols = {k: pdf[k] for k in keys}
            cols[out_name] = [est(deserialize(bytes(b))) for b in pdf["sketch"]]
            if keep_rows:
                cols["rows"] = pdf["rows"]
            yield pd.DataFrame(cols)

    return rows_df.mapInPandas(decode, out_schema)


def grouped_items(
    rows_df: DataFrame,
    keys: Sequence[str],
    deserialize,
    items_fn,
    item_schema: str,
) -> DataFrame:
    """Distributed per-group sketch EXPLODE: map each (keys..., sketch)
    row of ``grouped_sketch_rows`` output to zero or more item rows —
    the shape a per-group frequent-items summary needs (each group's
    Misra-Gries/Space-Saving tracked set becomes (keys..., token, est,
    err) rows) without collecting any group table. ``items_fn`` maps a
    deserialized sketch to a pandas DataFrame matching ``item_schema``
    (column names and order); the group-key columns are replicated
    onto every emitted row. Output size is bounded by
    groups x summary-capacity, never by the data."""
    keys = list(keys)
    key_fields = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in rows_df.schema.fields
        if f.name in keys
    )
    out_schema = f"{key_fields}, {item_schema}"

    def decode(batches: Iterable[pd.DataFrame]):
        for pdf in batches:
            for _, row in pdf.iterrows():  # <= one row per group/batch
                items = items_fn(deserialize(bytes(row["sketch"])))
                if items is None or not len(items):
                    continue
                for k in reversed(keys):
                    items.insert(0, k, row[k])
                yield items

    return rows_df.mapInPandas(decode, out_schema)


def grouped_quantiles(
    df: DataFrame,
    keys: Sequence[str],
    col,
    factory: SketchFactory,
    deserialize,
    ps: Sequence[float],
    out_names: Sequence[str] | None = None,
) -> DataFrame:
    """Grouped quantiles, fully distributed: grouped_sketch_rows then a
    per-row estimate pass. Output: keys..., one long column per p."""
    keys = list(keys)
    out_names = list(out_names) if out_names else [f"p{int(p * 100)}" for p in ps]
    rows_df = grouped_sketch_rows(df, keys, col, factory, deserialize)
    key_fields = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in rows_df.schema.fields
        if f.name in keys
    )
    out_schema = key_fields + ", " + ", ".join(f"`{n}` long" for n in out_names)

    def estimate(batches: Iterable[pd.DataFrame]):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cols = {k: pdf[k] for k in keys}
            ests = [deserialize(bytes(b)).quantiles(ps) for b in pdf["sketch"]]
            for j, name in enumerate(out_names):
                cols[name] = [e[j] for e in ests]
            yield pd.DataFrame(cols)

    return rows_df.mapInPandas(estimate, out_schema)


def cube_sketch_rows(
    df: DataFrame,
    keys: Sequence[str],
    col,
    factory: SketchFactory,
    deserialize,
) -> DataFrame:
    """Sketch-native CUBE: one sketch row for EVERY subset of ``keys``
    (all 2^n grouping sets) from ONE scan over the data — the finest
    (all-keys) rows are built once and eagerly spilled to parquet
    (operators/_spill.py, atexit-cleaned) so the 2^n merge branches
    reuse the materialized rows instead of re-executing the base scan;
    every other grouping set is a tiny merge of those rows grouped on
    its key subset. SQL CUBE re-aggregates the base data once per
    grouping set; here the base data is read once, full stop.

    Rolled-up key columns are NULL (SQL CUBE convention); ``level`` =
    number of keys retained — same-size subsets are disambiguated by
    WHICH columns are NULL. Output: ``keys..., level int,
    sketch binary, rows long``."""
    from itertools import combinations

    keys = list(keys)
    from ._spill import spill_parquet

    finest = spill_parquet(
        grouped_sketch_rows(df, keys, col, factory, deserialize), "qds_cube_"
    )
    key_fields = {
        f.name: f.dataType.simpleString()
        for f in finest.schema.fields
        if f.name in keys
    }

    def _schema(level_keys: list[str]) -> str:
        fields = ", ".join(f"`{k}` {key_fields[k]}" for k in level_keys)
        return (fields + ", " if fields else "") + "sketch binary, rows long"

    outs = []
    for n in range(len(keys), -1, -1):
        for subset in map(list, combinations(keys, n)):
            if n == len(keys):
                merged = finest
            else:
                merged = finest.groupBy(*subset).applyInPandas(
                    _merge_group(subset, deserialize), _schema(subset)
                )
            padded = merged.withColumn("level", F.lit(len(subset)))
            for k in keys:
                if k not in subset:
                    padded = padded.withColumn(k, F.lit(None).cast(key_fields[k]))
            outs.append(padded.select(*keys, "level", "sketch", "rows"))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def rollup_sketch_rows(
    df: DataFrame,
    keys: Sequence[str],
    col,
    factory: SketchFactory,
    deserialize,
) -> DataFrame:
    """Sketch-native ROLLUP: one sketch row for every prefix level of
    ``keys`` — (k1..kn), (k1..kn-1), ..., (k1), () — where the finest
    level comes from ONE pass over the data and every coarser level is
    produced by MERGING the next-finer level's sketch rows (sketches
    are mergeable, so the raw data is scanned exactly once; SQL ROLLUP
    re-aggregates the base rows per level). The finest rows (one tiny
    sketch row per group) are eagerly spilled to parquet so the union
    branches and coarser merges reuse the materialized rows instead of
    re-executing the base scan once per level (a lazy persist could
    never be unpersisted, and localCheckpoint registers a persisted
    RDD for the session).

    Rolled-up key columns are NULL, like SQL ROLLUP. Output:
    ``keys..., level int, sketch binary, rows long`` with level = the
    number of grouping keys retained.
    """
    keys = list(keys)
    from ._spill import spill_parquet

    finest = spill_parquet(
        grouped_sketch_rows(df, keys, col, factory, deserialize), "qds_rollup_"
    )
    key_fields = {
        f.name: f.dataType.simpleString()
        for f in finest.schema.fields
        if f.name in keys
    }

    def _schema(level_keys: list[str]) -> str:
        fields = ", ".join(f"`{k}` {key_fields[k]}" for k in level_keys)
        return (fields + ", " if fields else "") + "sketch binary, rows long"

    levels = [finest.withColumn("level", F.lit(len(keys)))]
    current = finest
    for n in range(len(keys) - 1, -1, -1):
        level_keys = keys[:n]
        coarser = current.groupBy(*level_keys).applyInPandas(
            _merge_group(level_keys, deserialize), _schema(level_keys)
        )
        current = coarser
        padded = coarser.withColumn("level", F.lit(n))
        for k in keys[n:]:
            padded = padded.withColumn(k, F.lit(None).cast(key_fields[k]))
        levels.append(padded.select(*keys, "level", "sketch", "rows"))
    out = levels[0].select(*keys, "level", "sketch", "rows")
    for l in levels[1:]:
        out = out.unionByName(l)
    return out
