"""Execution-layout helpers shared across operators and catalog
queries.

``spread`` addresses the small-input parallelism gap: a parquet file
with one row group yields one (or very few) input splits, so any
CPU-heavy per-row stage sitting directly on the scan runs on a
handful of cores no matter how many the session has. At corpus scale
(the 100 TB target) scans naturally produce >= cores splits and
``spread`` is a no-op — it only pays a (cheap, narrow) round-robin
shuffle when the scan is too small to saturate the machine, which is
exactly the local/bench regime.
"""

from __future__ import annotations

import contextlib
import os
import re

from pyspark.sql import DataFrame

# Logical operators that keep a plan scan-bottom: per-partition-only
# work with no grouping/join/ordering between the source and the
# consumer. Anything NOT on this list (Join, Aggregate, Window, Sort,
# Repartition, Deduplicate, ...) — or unrecognized — means the frame
# is derived, so spread() must not touch it. The whitelist direction
# is deliberate: a false "derived" merely skips a local-only
# optimization, while a false "scan-bottom" would execute upstream
# query stages through the rdd probe.
_NARROW_NODES = frozenset(
    {
        "Relation", "RelationV2", "InMemoryRelation", "Range",
        "LogicalRDD", "LocalRelation", "UnresolvedRelation",
        "View", "SubqueryAlias", "Project", "Filter", "Generate",
        "Union", "Sample", "MapInPandas", "SerializeFromObject",
        "DeserializeToObject", "MapElements", "TypedFilter",
    }
)
_NODE_NAME = re.compile(r"(?m)^[\s|:+\-]*'?([A-Za-z][A-Za-z0-9]*)")


def _is_scan_bottom(df: DataFrame) -> bool:
    """True when every operator in the OPTIMIZED LOGICAL plan is a
    narrow whitelisted node. The logical tree is used instead of the
    physical dump because logical node names are stable across Spark
    versions, while physical strings ("Exchange", AQE wrappers) are
    not — the round-2 review flagged the old string guard as brittle.
    Node names are matched per line-start so expression text (e.g.
    ``sort_array``) can't false-positive."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    names = _NODE_NAME.findall(plan)
    return bool(names) and all(n in _NARROW_NODES for n in names)


def spread(df: DataFrame, minimum: int | None = None) -> DataFrame:
    """Ensure ``df`` has at least ``minimum`` (default: cluster
    parallelism) partitions before a CPU-bound stage.

    Only scan-bottom plans are probed and possibly repartitioned: once
    any shuffle sits upstream, partitioning is already >=
    ``spark.sql.shuffle.partitions`` and a probe would be pure waste —
    worse, with AQE enabled ``df.rdd`` *executes* every upstream query
    stage at plan-construction time, so probing a derived frame would
    silently run (and later re-run) cluster jobs. Narrow plans have no
    stages to materialize, making the probe free; big scans keep their
    native splits and pay nothing.
    """
    if not _is_scan_bottom(df):
        return df
    sc = df.sparkSession.sparkContext
    target = minimum or sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def global_row_index(
    df: DataFrame,
    sort_cols: list[str],
    index_col: str = "idx",
    num_partitions: int | None = None,
) -> DataFrame:
    """Dense 0-based global rank over a TOTAL order (``sort_cols``
    must be a unique key — append the row id as tiebreak) — without
    the single-partition window ``row_number() OVER (ORDER BY ...)``
    degenerates into.

    Two-pass zipWithIndex shape: range-partition + local sort (one
    shuffle, every partition holds a contiguous key range), count
    rows per partition (a numPartitions-row driver collect), then a
    narrow Arrow pass adds ``offset[pid] + local position``. Range
    boundary sampling is nondeterministic, but with a total order the
    resulting index is not — a row's rank does not depend on where
    the boundaries fall. The sorted frame is persisted between the
    count and index passes and unpersisted before returning (the
    output is localCheckpoint-ed, so the handle is safe to release).

    NULL sort keys sort FIRST (Spark ascending default) — the
    opposite of DuckDB's NULLS-LAST ``row_number``. Callers pairing
    this with a SQL oracle must exclude NULL keys (as
    ``sorted_neighborhood_pairs`` does) or the ranks shift.
    """
    import pandas as pd
    from pyspark.sql import functions as F

    n_parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    cols = [F.col(c) for c in sort_cols]
    ordered = (
        df.repartitionByRange(n_parts, *cols)
        .sortWithinPartitions(*cols)
        .withColumn("__pid", F.spark_partition_id())
        .persist()
    )
    counts = {
        r["__pid"]: r["n"]
        for r in ordered.groupBy("__pid").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    ) + f", {index_col} bigint"
    field_names = [f.name for f in df.schema.fields]

    def attach(batches):
        pos = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if pos is None:
                pos = offsets[int(pdf["__pid"].iloc[0])]
            out = pdf[field_names].copy()
            out[index_col] = pd.RangeIndex(pos, pos + len(pdf)).astype("int64")
            pos += len(pdf)
            yield out

    result = ordered.mapInPandas(attach, out_schema).localCheckpoint(eager=True)
    ordered.unpersist(False)
    return result


_GROUP_NULL = object()  # grouped_row_index: canonical key for a NULL part


def grouped_row_index(
    df: DataFrame,
    group_cols: list[str],
    sort_cols: list[str],
    index_col: str = "idx",
    num_partitions: int | None = None,
) -> DataFrame:
    """Dense 0-based PER-GROUP rank over a total order within each
    group ((group_cols, sort_cols) must be a unique key) — the
    distributed replacement for ``row_number() OVER (PARTITION BY
    group ORDER BY sort)`` when a single group can hold a
    corpus-scale row count: the window funnels each group through
    ONE task's sort, while this range-partitions on (group, sort) so
    a big group spans many contiguous partitions.

    Same two-pass zipWithIndex shape as :func:`global_row_index`:
    range-partition + local sort (one shuffle), count rows per
    (partition, group) — a driver collect of at most
    partitions x distinct-groups rows, so use this for
    LOW-cardinality groups (high-cardinality groups don't need it:
    the plain window is already parallel across groups) — then a
    narrow Arrow pass adds ``per-group offset + local position``.
    Output is bit-identical to the window (the order is total);
    the NULL-sort-key caveat of global_row_index applies unchanged.

    Group-key types: the per-(partition, group) offsets are keyed by
    the DRIVER-collected values and looked up against the ARROW-batch
    values, which must compare equal in Python. Strings, ints,
    floats, bools and NULLs do (int 3 == float 3.0 hashes alike);
    date/timestamp group columns may not (datetime.date vs
    pd.Timestamp) — cast such keys to string first.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    n_parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    gcols = [F.col(c) for c in group_cols]
    scols = [F.col(c) for c in sort_cols]
    ordered = (
        df.repartitionByRange(n_parts, *gcols, *scols)
        .sortWithinPartitions(*gcols, *scols)
        .withColumn("__pid", F.spark_partition_id())
        .persist()
    )

    def gkey(vals) -> tuple:
        # NaN != NaN and None break dict lookups; canonicalize both
        return tuple(
            _GROUP_NULL
            if v is None or (isinstance(v, float) and v != v)
            else v
            for v in vals
        )

    counts = (
        ordered.groupBy("__pid", *group_cols)
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    # per-(partition, group) start offsets: partitions hold contiguous
    # (group, sort) ranges, so ascending pid order IS ascending
    # in-group rank order
    offsets: dict = {}
    acc: dict = {}
    for r in sorted(counts, key=lambda r: r["__pid"]):
        k = gkey([r[c] for c in group_cols])
        offsets[(int(r["__pid"]), k)] = acc.get(k, 0)
        acc[k] = acc.get(k, 0) + r["n"]

    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    ) + f", {index_col} bigint"
    field_names = [f.name for f in df.schema.fields]

    def attach(batches):
        pid = None
        pos: dict = {}  # carries per-group position across Arrow batches
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if pid is None:
                pid = int(pdf["__pid"].iloc[0])
            idx = np.empty(len(pdf), dtype="int64")
            # rows are sorted by (group, sort): each group's rows are
            # contiguous, so one vectorized range per group run
            for k, sub in pdf.groupby(group_cols, sort=False, dropna=False):
                kk = gkey(k if isinstance(k, tuple) else (k,))
                p = pos.get(kk)
                if p is None:
                    p = offsets[(pid, kk)]
                idx[sub.index.to_numpy()] = np.arange(p, p + len(sub))
                pos[kk] = p + len(sub)
            out = pdf[field_names].copy()
            out[index_col] = idx
            yield out

    result = ordered.mapInPandas(attach, out_schema).localCheckpoint(eager=True)
    ordered.unpersist(False)
    return result


# --- HOF alias-shadowing lint -------------------------------------------
#
# Spark binds a higher-order-function lambda's OUTER column references
# late — against the projection's OUTPUT attributes, not the input row.
# So in
#     df.select((col("id") + OFF).alias("id"),
#               transform("xs", lambda x, i: ... col("id") ...))
# the lambda's `id` is the re-aliased id+OFF, not the scan's id — the
# exact bug that made q206 zero component (vec_id + 2^40 % 60) instead
# of (vec_id % 60). Plain (non-lambda) expressions in the same
# projection correctly read the input row, which is why this hazard is
# invisible until a lambda is involved.

_HOF_LAMBDA_PARAMS = re.compile(r"\((\w+(?:, \w+)*)\) ->|(\w+) ->")
_HOF_ALIAS = re.compile(r" AS (\w+)$")
_HOF_IDENT = re.compile(r"[A-Za-z_]\w*")


def hof_shadow_risks(*cols) -> list[str]:
    """Lint a projection (the args you'd pass to ``df.select``) for
    higher-order-function lambdas that reference a column re-aliased in
    the same projection — a silent wrong-answer hazard (see the module
    comment above). Returns one human-readable warning per risk;
    empty list = clean. Accepts Columns and plain string names.

    Heuristic over Catalyst's unresolved-expression strings: an alias
    ``<expr> AS name`` where ``<expr>`` is not the bare column ``name``
    counts as shadowing; any lambda body (text after ``->``) in the
    projection that mentions ``name`` as a bare identifier is flagged.
    """
    exprs: list[str] = []
    for c in cols:
        if isinstance(c, str):
            exprs.append(c)
        else:
            exprs.append(c._jc.toString())

    shadowed: dict[str, str] = {}
    for s in exprs:
        m = _HOF_ALIAS.search(s)
        if not m:
            continue
        name = m.group(1)
        if s[: m.start()].strip() != name:
            shadowed[name] = s
    if not shadowed:
        return []

    risks: list[str] = []
    for s in exprs:
        if " -> " not in s:
            continue
        params: set[str] = set()
        for pm in _HOF_LAMBDA_PARAMS.finditer(s):
            grp = pm.group(1) or pm.group(2)
            params.update(p.strip() for p in grp.split(","))
        am = _HOF_ALIAS.search(s)
        body = (s[: am.start()] if am else s).split(" -> ", 1)[1]
        for im in _HOF_IDENT.finditer(body):
            ident = im.group(0)
            if ident in params or ident not in shadowed:
                continue
            end = im.end()
            if end < len(body) and body[end] == "(":
                continue  # function name, not a column reference
            risks.append(
                f"lambda in {s!r} references '{ident}', which this "
                f"projection re-aliases ({shadowed[ident]!r}); the "
                "lambda will read the POST-projection value — "
                "transform first, re-alias in a second select"
            )
    return risks


def dir_bytes(path: str) -> int:
    """Total bytes of the data files under a local directory, following
    symlinks; ``_``/``.``-prefixed files (``_SUCCESS``, ``.crc``) and
    files that vanish mid-walk are not counted."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith(("_", ".")):
                with contextlib.suppress(OSError):
                    total += os.path.getsize(os.path.join(root, f))
    return total
