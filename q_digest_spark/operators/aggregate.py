"""Two-level mergeable-sketch aggregation over Spark DataFrames.

This is the Spark-native replacement for the reference's MPI dataflow
(scatter -> per-rank build -> serialize -> pairwise merge -> tree
reduce; /root/reference/mpi-implementation/src/main.c:18-65 and
treeReduce.c:31-90, whose recursive-doubling phase was never finished).
Every ungrouped call (``sketch_aggregate``, ``multi_sketch_aggregate``,
the ``*_of`` helpers, ``cms_topk_with_keys``, ``StreamingSketch``) runs
the same core, ``fold_partials``:

  stage 1 (map-side partial): ``mapInPandas`` builds one sketch per
      input partition and spec — vectorized ``update_batch`` per Arrow
      batch, zero per-row Python. Output: tiny rows ``(part_id, name,
      sketch binary, rows)``. At 100 TB this is the only full-data
      pass; its output is O(#partitions * sketch_size) bytes.

  stage 2 (merge): ``fanout`` is the most partials merged in one place.
      When a plan-time bound on the partition count (read off the
      physical plan, no Spark job) is <= ``fanout``, the partials are
      collected by the partial-build job itself and folded on the
      driver: one Spark job per call. Above that bound, or when the
      plan has none, and ``fanout`` is at least the default
      parallelism, stage 1 runs on ``df.coalesce(fanout)`` instead:
      still one job, with ``fanout`` tasks that keep every core busy,
      and no second round of Python workers or shuffle. The price is
      granularity: a coalesced task reads ``partitions / fanout``
      input partitions, so it retries and balances as one unit, which
      is why the rule stops at the default parallelism. Below it
      (the 10^6-partition design point, ``fanout`` ~ executors),
      ``tree_merge`` shuffles the partial rows into ``fanout`` groups
      per name by ``part_id % fanout`` and merges each with
      ``applyInPandas`` — the reference's power-of-two orphan-folding
      tree generalized to any partition count — and the driver folds
      those <= fanout rows per name. With 10^6 input partitions and
      fanout=64 the driver never sees more than 64 rows per sketch.

Grouped aggregation (``grouped_sketch_rows``, and through it the
grouped quantiles, rollup/cube and daily tables) uses the same
builder: ``partial_sketches(df, specs, keys)`` groups each Arrow batch
locally in pandas and emits one partial row per (partition, key
tuple), so the shuffle carries O(#partitions * #keys) sketch rows
instead of the raw data — the skew story for Zipf-distributed keys (a
hot key costs one row per partition, not one row per input record).
One shuffle by key then merges each group with ``_merge_group``.
ROLLUP and CUBE (``_grouping_sets``) explode those rows to every
grouping set and merge each set in one more shuffle, all in one lazy
plan.

There is one fold, ``_fold``, and every merge feeds it in a fixed
order: partials in ``part_id`` order (driver fold, tree levels,
grouped rows), rollup/cube grouping sets by their original keys, daily
sketch rows in day order, checkpointed partials in file order. So the
result does not depend on shuffle or collect order. Merge is
associative and commutative up to compression order (asserted within
eps in tests), which is what makes the tree shape irrelevant.
"""

from __future__ import annotations

import logging
from itertools import combinations
from math import prod
from typing import Callable, Iterable, Mapping, NamedTuple, Sequence

import pandas as pd
from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, functions as F

from ..sketches import from_bytes

SketchFactory = Callable[[], object]

PARTIAL_SCHEMA = "part_id long, name string, sketch binary, rows long"

log = logging.getLogger(__name__)


class SketchSpec(NamedTuple):
    """One sketch of an aggregation: its input (column name or Column
    expression), an empty-sketch factory, the decoder of the folded
    result (``sketches.from_bytes`` unless a caller wants its own
    wrapper class back), and an optional weight column that turns rows
    into (value, weight) pairs fed to ``update_batch(values,
    weights)`` — how a JVM precount (``df.groupBy(v).count()``, weight
    ``count``) hands Python a bounded histogram instead of raw rows.

    Null inputs are skipped, but ``F.xxhash64(c)`` of a NULL is 42, not
    NULL: filter NULL rows (``df.where(c.isNotNull())``) before a spec
    over a JVM hash, as the hashed ``*_of`` helpers do. Do not make the
    hash nullable instead: Arrow hands pandas a nullable bigint as
    float64 in any batch holding a NULL, which rounds every hash in it."""

    col: object
    factory: SketchFactory
    deserialize: Callable[[bytes], object] = from_bytes
    weight_col: object = None


def _as_col(c):
    return F.col(c) if isinstance(c, str) else c


def _rows_schema(schema, keys: Sequence[str], tail: str = "sketch binary, rows long") -> str:
    """DDL of a rows schema: the ``keys`` typed as in ``schema``, then
    ``tail``."""
    types = {f.name: f.dataType.simpleString() for f in schema.fields}
    return "".join(f"`{k}` {types[k]}, " for k in keys) + tail


def partial_sketches(
    df: DataFrame, specs: Mapping[str, SketchSpec], keys: Sequence[str] = ()
) -> DataFrame:
    """Stage 1, the only map-side builder: one ``mapInPandas`` pass
    builds every spec's sketch per input partition and, with ``keys``,
    per key tuple (each Arrow batch groups locally in pandas); output
    rows ``(part_id, name, keys..., sketch, rows)``, one per partition,
    spec and key with any value fed.

    Each spec's input is selected *first*, so Catalyst prunes every
    other column out of the scan (ReadSchema shows only the needed
    fields) and pushes any upstream filter down to parquet. A (value,
    weight) pair is dropped when either side is null; ``rows`` counts
    total (signed) weight.
    """
    names, keys = list(specs), list(keys)
    clash = set(keys) & {"part_id", "name", "sketch", "rows"}
    if clash:
        raise ValueError(f"group keys {sorted(clash)} clash with the partial-row columns")
    cols = [F.spark_partition_id().alias("__pid"), *map(F.col, keys)]
    for n, s in specs.items():
        cols.append(_as_col(s.col).alias(f"__v_{n}"))
        if s.weight_col is not None:
            cols.append(_as_col(s.weight_col).alias(f"__w_{n}"))
    sdf = df.select(*cols)
    schema = "part_id long, name string, " + _rows_schema(sdf.schema, keys)
    factories = {n: specs[n].factory for n in names}
    weighted = {n for n in names if specs[n].weight_col is not None}

    def build(batches: Iterable[pd.DataFrame]):
        # one sketch per (name, key tuple) across ALL batches of the
        # partition, created on its first fed value — the emit
        # condition (signed weights can sum to 0 across a partition
        # whose counters are decidedly nonzero, e.g. counting-Bloom
        # +1/-1 streams)
        sks: dict[tuple, object] = {}
        rows: dict[tuple, int] = {}
        pid = -1
        for pdf in batches:
            if not len(pdf):
                continue
            pid = int(pdf["__pid"].iloc[0])
            groups = pdf.groupby(keys, sort=False, dropna=False) if keys else [((), pdf)]
            for kt, g in groups:
                kt = kt if isinstance(kt, tuple) else (kt,)
                for n in names:
                    v = g[f"__v_{n}"]
                    w = g[f"__w_{n}"] if n in weighted else None
                    ok = v.notna() if w is None else v.notna() & w.notna()
                    if not ok.any():
                        continue
                    at = (n, kt)
                    if at not in sks:
                        sks[at], rows[at] = factories[n](), 0
                    if w is None:
                        sks[at].update_batch(v[ok].to_numpy())
                        rows[at] += int(ok.sum())
                    else:
                        w = w[ok].to_numpy()
                        sks[at].update_batch(v[ok].to_numpy(), w)
                        rows[at] += int(w.sum())
        if sks:
            out = {"part_id": [pid] * len(sks), "name": [n for n, _ in sks]}
            for i, k in enumerate(keys):
                out[k] = [kt[i] for _, kt in sks]
            out["sketch"] = [sk.to_bytes() for sk in sks.values()]
            out["rows"] = list(rows.values())
            yield pd.DataFrame(out)

    return sdf.mapInPandas(build, schema)


def _fold(bufs: Iterable, deserialize=from_bytes):
    """The one sketch fold: decode and merge, in the given order."""
    sk = None
    for buf in bufs:
        cur = deserialize(bytes(buf))
        sk = cur if sk is None else sk.merge(cur)
    return sk


def _merge_group(
    keys: Sequence[str], order: Sequence[str] = ("part_id",), finish=None, deserialize=from_bytes
):
    """applyInPandas body of every sketch merge (tree levels, grouped
    rows, grouped quantiles, rollup/cube grouping sets, sliding windows): one
    output row with the group's ``keys``, then its merged sketch and
    summed rows, or with ``finish`` the ``{column: value}`` that
    ``finish(sketch)`` returns. Rows fold sorted by the ``order``
    columns they carry, so a key in ``order`` reports its smallest
    value."""

    def merge_group(pdf: pd.DataFrame) -> pd.DataFrame:
        by = [c for c in order if c in pdf.columns]
        if by:
            pdf = pdf.sort_values(by, kind="stable")
        sk = _fold(pdf["sketch"], deserialize)
        out = {k: [pdf[k].iloc[0]] for k in keys}
        if finish is None:
            out["sketch"] = [sk.to_bytes()]
            out["rows"] = [int(pdf["rows"].sum())]
        else:
            out.update({c: [v] for c, v in finish(sk).items()})
        return pd.DataFrame(out)

    return merge_group


def tree_merge(partials: DataFrame, fanout: int = 32) -> DataFrame:
    """Shuffle partial rows into ``fanout`` groups per name by
    ``part_id % fanout`` and merge each group in one task
    (applyInPandas). Output: <= fanout rows per name."""
    return partials.groupBy("name", F.pmod("part_id", F.lit(fanout))).applyInPandas(
        _merge_group(["part_id", "name"]), PARTIAL_SCHEMA
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
    if name == "CoalesceExec":  # at most what it asks for, and what it has
        n = plan.numPartitions()
        return n if bounds[0] is None else min(n, bounds[0])
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


def fold_partials(
    df: DataFrame, build: Callable[[DataFrame], DataFrame], fanout: int = 32
) -> dict[str, tuple[object, int]]:
    """The ungrouped core: ``build`` maps ``df`` narrowly to
    ``partial_sketches``-shaped rows, which merge into ``{name: (sketch,
    rows)}`` by one of three paths, chosen from the job-free partition
    bound of ``build(df)`` (that of ``df``, as ``build`` is narrow):

    - bound <= ``fanout``: the partial-build job collects the partials
      and the driver folds them (one Spark job);
    - bound unknown or > ``fanout``, and ``fanout`` >= the default
      parallelism: the partials are built on ``df.coalesce(fanout)``
      and folded on the driver (still one job of ``fanout`` tasks,
      which keeps every core busy; a task then retries and balances
      at the granularity of ``input partitions / fanout``);
    - otherwise ``tree_merge`` first (a build task is one input
      partition, so a retry re-reads one split), and the driver folds
      its <= ``fanout`` rows per name.

    Rows fold in ``(name, part_id)`` order. One DEBUG line per call
    names the path, the bound and the number of rows folded."""
    # probe the plan the driver fold runs, so its action plans once
    partials = build(df)
    bound = partition_bound(partials)
    path = "driver fold"
    if bound is None or bound > fanout:
        if fanout >= df.sparkSession.sparkContext.defaultParallelism:
            partials, path = build(df.coalesce(fanout)), "coalesced driver fold"
        else:
            partials, path = tree_merge(partials, fanout), "tree merge"
    pdf = partials.toPandas().sort_values(["name", "part_id"], kind="stable")
    log.debug("fold_partials: %s, partition bound %s, fanout %d, %d partials", path, bound, fanout, len(pdf))
    return {
        name: (_fold(g["sketch"]), int(g["rows"].sum()))
        for name, g in pdf.groupby("name", sort=False)
    }


def aggregate_sketches(
    df: DataFrame, specs: Mapping[str, SketchSpec], fanout: int = 32
) -> dict[str, tuple[object, int]]:
    """``{name: (merged sketch, rows)}`` of every spec from one pass
    over ``df``; a spec whose input is all null is absent. A spec with
    its own decoder gets the folded bytes read back through it."""
    out = fold_partials(df, lambda d: partial_sketches(d, specs), fanout)
    for n, (sk, rows) in out.items():
        if specs[n].deserialize is not from_bytes:
            out[n] = (specs[n].deserialize(sk.to_bytes()), rows)
    return out


def sketch_aggregate(
    df: DataFrame,
    col,
    factory: SketchFactory,
    fanout: int = 32,
    weight_col=None,
):
    """One sketch of ``col``, merged on the driver; None on empty input."""
    out = aggregate_sketches(df, {"v": SketchSpec(col, factory, weight_col=weight_col)}, fanout)
    return out["v"][0] if out else None


def grouped_sketch_rows(
    df: DataFrame,
    keys: Sequence[str],
    col,
    factory: SketchFactory,
    *,
    weight_col=None,
) -> DataFrame:
    """Grouped aggregation: ``partial_sketches`` with ``keys`` emits one
    partial row per (partition, key tuple), then one shuffle of those
    tiny rows by key merges each group in ``part_id`` order. The raw
    data is never shuffled — the Zipf/skew-safe plan demanded by
    BASELINE.json ("explicit salting/repartitioning for domain skew":
    a hot key here contributes one partial row per partition
    regardless of its row count).

    ``weight_col``: optional weight expression — rows become
    (value, weight) pairs fed to ``update_batch(values, weights)``
    and ``rows`` counts total weight, the grouped form of the
    reference's insert-with-amount (qcore.c:224-252).

    Returns a DataFrame ``keys..., sketch binary, rows long``.
    """
    keys = list(keys)
    partials = partial_sketches(df, {"v": SketchSpec(col, factory, weight_col=weight_col)}, keys)
    return partials.groupBy(*keys).applyInPandas(_merge_group(keys), _rows_schema(partials.schema, keys))


def grouped_estimates(
    rows_df: DataFrame,
    keys: Sequence[str],
    deserialize=from_bytes,
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

    ``estimator`` maps a decoded sketch to a scalar (default:
    ``.estimate()``). ``keep_rows`` passes the per-group ``rows``
    count through."""
    keys = list(keys)
    est = estimator if estimator is not None else (lambda sk: sk.estimate())
    out_schema = _rows_schema(rows_df.schema, keys, f"`{out_name}` {out_type}")
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
    items_fn,
    item_schema: str,
) -> DataFrame:
    """Distributed per-group sketch EXPLODE: map each (keys..., sketch)
    row of ``grouped_sketch_rows`` output to zero or more item rows —
    the shape a per-group frequent-items summary needs (each group's
    Misra-Gries/Space-Saving tracked set becomes (keys..., token, est,
    err) rows) without collecting any group table. ``items_fn`` maps a
    decoded sketch to a pandas DataFrame matching ``item_schema``
    (column names and order); the group-key columns are replicated
    onto every emitted row. Output size is bounded by
    groups x summary-capacity, never by the data."""
    keys = list(keys)
    out_schema = _rows_schema(rows_df.schema, keys, item_schema)

    def decode(batches: Iterable[pd.DataFrame]):
        for pdf in batches:
            for _, row in pdf.iterrows():  # <= one row per group/batch
                items = items_fn(from_bytes(bytes(row["sketch"])))
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
    """Grouped quantiles, fully distributed: the partials of
    grouped_sketch_rows, then one shuffle by key whose merge of each
    group also answers its quantiles. Output: keys..., one long column
    per p."""
    keys = list(keys)
    out_names = list(out_names) if out_names else [f"p{int(p * 100)}" for p in ps]
    partials = partial_sketches(df, {"v": SketchSpec(col, factory)}, keys)
    out_schema = _rows_schema(partials.schema, keys, ", ".join(f"`{n}` long" for n in out_names))

    def finish(sk):
        return dict(zip(out_names, sk.quantiles(ps)))

    return partials.groupBy(*keys).applyInPandas(
        _merge_group(keys, finish=finish, deserialize=deserialize), out_schema
    )


def _grouping_sets(
    df: DataFrame,
    keys: Sequence[str],
    col,
    factory: SketchFactory,
    sets: Iterable[Sequence[int]],
    deserialize=from_bytes,
) -> DataFrame:
    """One sketch row per grouping set, each set the positions of the
    ``keys`` it keeps. The finest rows are built once
    (``grouped_sketch_rows``); one ``explode`` copies each to every set,
    as a ``gid`` bitmask of its kept keys with its rolled-up keys NULL
    and its original keys in hidden columns; one shuffle by
    ``(gid, keys...)`` then merges each group, folding its rows in the
    order of those original keys. Lazy: no Spark job runs until the
    result is read. Grouping by ``gid`` keeps a genuine NULL key apart
    from a rolled-up one.

    Output: ``keys..., level int, sketch binary, rows long``, with
    level = the number of keys kept."""
    keys = list(keys)
    finest = grouped_sketch_rows(df, keys, col, factory)
    hidden = [f"__key{i}" for i in range(len(keys))]
    gid = F.col("__gid")
    gids = F.array(*(F.lit(sum(1 << i for i in s)) for s in sets))
    copies = finest.withColumn("__gid", F.explode(gids)).withColumns({
        **{h: F.col(k) for k, h in zip(keys, hidden)},
        **{k: F.when(gid.bitwiseAND(1 << i) != 0, F.col(k)) for i, k in enumerate(keys)},
        "level": F.bit_count(gid),
    })
    return copies.groupBy("__gid", *keys).applyInPandas(
        _merge_group([*keys, "level"], hidden, deserialize=deserialize),
        _rows_schema(finest.schema, keys, "level int, sketch binary, rows long"),
    )


def cube_sketch_rows(
    df: DataFrame,
    keys: Sequence[str],
    col,
    factory: SketchFactory,
) -> DataFrame:
    """Sketch-native CUBE: one sketch row for every subset of ``keys``
    (all 2^n grouping sets), each merged from the finest (all-keys)
    sketch rows, so the data is scanned once; SQL CUBE re-aggregates
    the base rows per grouping set. Lazy, like ``_grouping_sets``.

    Rolled-up key columns are NULL (SQL CUBE convention); ``level`` =
    number of keys retained, and same-size subsets are told apart by
    WHICH columns are NULL. Output: ``keys..., level int, sketch
    binary, rows long``."""
    n = len(keys)
    sets = [s for size in range(n, -1, -1) for s in combinations(range(n), size)]
    return _grouping_sets(df, keys, col, factory, sets)


def rollup_sketch_rows(
    df: DataFrame,
    keys: Sequence[str],
    col,
    factory: SketchFactory,
    deserialize=from_bytes,
) -> DataFrame:
    """Sketch-native ROLLUP: one sketch row for every prefix of
    ``keys`` — (k1..kn), (k1..kn-1), ..., (k1), () — each merged from
    the finest sketch rows, so the data is scanned once; SQL ROLLUP
    re-aggregates the base rows per level. A ROLLUP row is the CUBE
    row of the same grouping set. Lazy, like ``_grouping_sets``.

    Rolled-up key columns are NULL, like SQL ROLLUP. Output:
    ``keys..., level int, sketch binary, rows long`` with level = the
    number of grouping keys retained.
    """
    n = len(keys)
    sets = [range(size) for size in range(n, -1, -1)]
    return _grouping_sets(df, keys, col, factory, sets, deserialize)
