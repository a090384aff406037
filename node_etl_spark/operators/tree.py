"""Hierarchy (tree) operators.

Reference:
* ParserJSONTree (jobs/parsers/job-tree-parser.js:22-86) — buffers a
  whole nested JSON document, recursively flattens ``{..,children:[]}``
  into rows with ``parent``, optional ``level`` and materialized-path
  ``mpath`` columns.
* WriterJSONTree (jobs/writers/job-tree-writer.js:23-128) — inverse:
  accumulates flat rows into an id->node map, attaches children to
  parents (placeholder nodes for out-of-order parents, 92-94), emits
  the nested document.

Spark has no recursive CTE, so:
* ``flatten_document`` — driver-side recursion for *documents* (the
  reference's only real use is dimension-sized trees; it buffered the
  entire doc in heap anyway) → distributed DataFrame of flat rows.
* ``resolve_hierarchy`` — the scalable path: given a flat edge table
  (id, parent) of any size, compute ``level`` + ``mpath`` by iterative
  self-joins to fixpoint. Each round resolves one more depth level;
  rounds = tree depth (typically <20 even for huge hierarchies). The
  resolved frontier is broadcast when small.
* ``build_document`` — driver-side inverse for dimension-sized trees
  (exact reference semantics incl. out-of-order parents).
* ``build_json_column`` — scalable inverse: level-by-level
  ``collect_list`` roll-up producing a JSON string per root, entirely
  with DataFrame ops (works partitioned; one shuffle per level).
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Any, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..context import get_path
from .base import Transform

if TYPE_CHECKING:
    from ..context import Context


def flatten_document(
    spark: SparkSession,
    doc: Any,
    children_key: str = "children",
    parent_key: str = "parent",
    id_key_path: str = "id",
    level_key: str | None = "level",
    mpath_key: str | None = "mpath",
    mpath_sep: str = "#",
) -> DataFrame:
    """Nested JSON document(s) -> DataFrame of flat rows.

    Mirrors job-tree-parser.js:53-67: strips ``children_key``, adds the
    parent's id under ``parent_key``, optional depth and materialized
    path. Accepts one root dict or a list of roots.
    """
    rows: list[dict] = []

    def put(node: dict, parent_id: Any, level: int, path: list[str]) -> None:
        node = dict(node)
        children = node.pop(children_key, None) or []
        node_id = get_path(node, id_key_path)
        node[parent_key] = parent_id
        if level_key:
            node[level_key] = level
        if mpath_key:
            node[mpath_key] = mpath_sep.join(path + [str(node_id)])
        rows.append(node)
        for child in children:
            put(child, node_id, level + 1, path + [str(node_id)])

    roots = doc if isinstance(doc, list) else [doc]
    for root in roots:
        put(root, None, 0, [])
    if all(r.get(parent_key) is None for r in rows):
        # all-roots forest: an entirely-null column defeats schema
        # inference — type the parent after the fact from the id column
        stripped = [{k: v for k, v in r.items() if k != parent_key} for r in rows]
        df = spark.createDataFrame(stripped)
        id_type = (
            df.schema[id_key_path].dataType.simpleString()
            if "." not in id_key_path and id_key_path in df.columns
            else "string"
        )
        return df.withColumn(parent_key, F.lit(None).cast(id_type))
    return spark.createDataFrame(rows)


def resolve_hierarchy(
    edges: DataFrame,
    id_col: str = "id",
    parent_col: str = "parent",
    level_col: str = "level",
    mpath_col: str = "mpath",
    mpath_sep: str = "#",
    max_depth: int = 64,
) -> DataFrame:
    """Annotate a flat (id, parent) table with level and mpath.

    Iterative frontier expansion: roots (parent IS NULL) are level 0;
    round k joins still-unresolved nodes against the level-(k-1)
    frontier. Terminates at fixpoint; unresolved rows (orphans/cycles)
    are returned with null level/mpath so no data is silently dropped.
    The frontier is a per-level slice — small relative to the table —
    so Catalyst/AQE typically broadcasts it.
    """
    ids = F.col(id_col).cast("string")
    resolved = edges.filter(F.col(parent_col).isNull()).select(
        "*",
        F.lit(0).alias(level_col),
        ids.alias(mpath_col),
    )
    pending = edges.filter(F.col(parent_col).isNotNull())
    newly = resolved
    # each level cuts newly, pending and resolved lazily (the round
    # state rule of functions/graph.py), so the plan is a few lines at
    # any depth; newly.isEmpty() is the read that materialises newly,
    # the next level's joins materialise pending and the caller's
    # action materialises the resolved unions. pending shrinks by
    # anti-join rather than as a filter of the left join that yields
    # newly: a cut keeps its plan's size estimate, and a join of two
    # frames cut from one join would square that estimate per level
    for lvl in range(1, max_depth + 1):
        parents = F.broadcast(
            newly.select(
                F.col(id_col).alias("__pid"), F.col(mpath_col).alias("__pmpath")
            )
        )
        child = F.col(parent_col) == F.col("__pid")
        newly = (
            pending.join(parents, child)
            .select(
                *edges.columns,
                F.lit(lvl).alias(level_col),
                F.concat(F.col("__pmpath"), F.lit(mpath_sep), ids).alias(mpath_col),
            )
            .localCheckpoint(eager=False)
        )
        if newly.isEmpty():
            break
        pending = pending.join(parents, child, "left_anti").localCheckpoint(
            eager=False
        )
        resolved = resolved.unionByName(newly).localCheckpoint(eager=False)
    orphans = pending.select(
        "*",
        F.lit(None).cast("int").alias(level_col),
        F.lit(None).cast("string").alias(mpath_col),
    )
    return resolved.unionByName(orphans)


def build_document(
    rows: Sequence[dict],
    children_key: str = "children",
    parent_key_path: str = "parent",
    id_key_path: str = "id",
) -> Any:
    """Flat rows -> nested document (driver-side, dimension-sized trees).

    Mirrors job-tree-writer.js:55-111 exactly: id->node map, children
    attached to parents, placeholder nodes created when a child arrives
    before its parent (92-94), roots = nodes with falsy parent. Returns
    the single root, a list of roots, or {} when empty (102-111).
    """
    maps: dict[Any, dict] = {}
    roots: list[dict] = []
    for raw in rows:
        row = dict(raw)
        node_id = get_path(row, id_key_path)
        parent_id = row.pop(parent_key_path, None)
        existing = maps.get(node_id)
        if existing is not None:
            # placeholder created earlier: merge real payload in
            existing.update(row)
            node = existing
        else:
            node = row
            maps[node_id] = node
        if parent_id is None or parent_id == "" or (isinstance(parent_id, float) and parent_id != parent_id):
            roots.append(node)
        else:
            parent = maps.get(parent_id)
            if parent is None:
                parent = {}
                maps[parent_id] = parent
            parent.setdefault(children_key, []).append(node)
    if not roots:
        return {}
    return roots[0] if len(roots) == 1 else roots


def build_json_column(
    df: DataFrame,
    id_col: str = "id",
    parent_col: str = "parent",
    payload_cols: Sequence[str] | None = None,
    children_key: str = "children",
    max_depth: int = 64,
) -> DataFrame:
    """Scalable tree build: one JSON string per root, via level-wise
    ``collect_list`` roll-up (deepest level first). Child JSON arrays
    are spliced into the parent's ``to_json`` output textually — the
    payload itself is escaped by ``to_json``, so splicing is safe.

    Children are ordered by id for determinism. Returns DataFrame
    (root_id, json).
    """
    payload_cols = list(payload_cols or [c for c in df.columns if c not in (parent_col,)])
    levels = resolve_hierarchy(df, id_col=id_col, parent_col=parent_col)
    levels = levels.persist()
    max_level = levels.agg(F.max("level")).collect()[0][0]
    if max_level is None:
        return df.sparkSession.createDataFrame([], f"{id_col} string, json string")

    base_json = F.to_json(F.struct(*[F.col(c) for c in payload_cols]))
    # splice ',"children":[...]' just before the closing brace of the
    # node's own to_json output (payload escaping handled by to_json)
    spliced = F.concat(
        F.expr("substring(__base, 1, length(__base) - 1)"),
        F.lit(f',"{children_key}":['),
        F.col("__children"),
        F.lit("]}"),
    )

    current = levels.filter(F.col("level") == max_level).select(
        F.col(id_col), F.col(parent_col), base_json.alias("__json")
    )
    for lvl in range(max_level - 1, -1, -1):
        kids = (
            current.groupBy(parent_col)
            .agg(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct(F.col(id_col), F.col("__json")))
                        ),
                        lambda s: s["__json"],
                    ),
                    ",",
                ).alias("__children")
            )
            .withColumnRenamed(parent_col, "__kp")
        )
        this_level = levels.filter(F.col("level") == lvl).withColumn("__base", base_json)
        current = (
            this_level.join(kids, this_level[id_col] == kids["__kp"], "left")
            .withColumn(
                "__json", F.when(F.col("__children").isNull(), F.col("__base")).otherwise(spliced)
            )
            .select(this_level[id_col], this_level[parent_col], F.col("__json"))
        )
    levels.unpersist()
    return current.select(F.col(id_col).alias("root_id"), F.col("__json").alias("json"))


class TreeFlatten(Transform):
    """Transform wrapper over ``resolve_hierarchy`` (edge-table form)."""

    def __init__(
        self,
        id_col: str = "id",
        parent_col: str = "parent",
        level_col: str = "level",
        mpath_col: str = "mpath",
        mpath_sep: str = "#",
        name: str | None = None,
    ) -> None:
        super().__init__(name)
        self.kw = dict(
            id_col=id_col,
            parent_col=parent_col,
            level_col=level_col,
            mpath_col=mpath_col,
            mpath_sep=mpath_sep,
        )

    def apply(self, df: DataFrame, ctx: "Context") -> DataFrame:
        return resolve_hierarchy(df, **self.kw)
