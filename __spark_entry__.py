"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query at sf0.001 (smoke).
``queries()``   — every implemented query/operator from SURVEY.md §2,
                  (spark, sf_dir) -> DataFrame, in gate order.
``oracle_sql()``— matching DuckDB SQL per query (correctness gate),
                  in the same order.

Implementations live in ``node_etl_spark.plans.queries``, whose
catalog is in registration order; this module is a thin adapter that
adds the driver's gate order, so the engine is usable as a library
independent of the driver harness and never reads driver artifacts.
"""

from __future__ import annotations

import json
import re
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from node_etl_spark.plans import QUERIES, oracle_map, query_map


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from node_etl_spark.plans.queries import q01_pricing_summary

    return q01_pricing_summary(spark, "/root/testdata/sf0.001")


def _driver_green_rounds(root=None) -> dict[str, int]:
    """Latest round in which each query had a GREEN row (hash_match ==
    true and err == null) in a committed CORRECTNESS_r*.json driver
    artifact, keyed by query name. Makes the rotation self-maintaining:
    each round's ~50-row driver sample targets the still-unverified
    backlog automatically, with no hand-curated list. Rows that merely
    APPEAR in an artifact but never hash-passed (err='no_oracle' rows
    from r1-r3, hash_match=false failures) do NOT count — a reshaped
    or previously failed query re-queues ahead of already-green
    queries. Missing or unreadable
    artifacts degrade to registration order (empty dict)."""
    latest: dict[str, int] = {}
    if root is None:
        root = Path(__file__).resolve().parent
    for f in sorted(Path(root).glob("CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)", f.name)
        rnd = int(m.group(1)) if m else 0
        try:
            rows = json.loads(f.read_text())
            for k, v in rows.items():
                if (
                    isinstance(v, dict)
                    and v.get("hash_match") is True
                    and v.get("err") is None
                ):
                    latest[k] = max(latest.get(k, 0), rnd)
        except Exception:  # noqa: BLE001 - artifact hygiene, never fatal
            pass
    return latest


def _gate_order() -> list[str]:
    """Driver-gate emission order: (1) never-driver-verified queries in
    registration order; (2) already-verified queries on a STALENESS
    LADDER (verdict r9 ask #3): ascending by the round of their most
    recent green driver row, oldest-confirmed first, so spare rotation
    slots re-confirm the oldest rows on the current tree instead of
    re-verifying last round's sample. ``sorted`` is stable, so ties
    keep registration order."""
    green_rounds = _driver_green_rounds()
    head = [n for n in QUERIES if n not in green_rounds]
    tail = sorted((n for n in QUERIES if n in green_rounds), key=green_rounds.get)
    return head + tail


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    fns = query_map()
    return {name: fns[name] for name in _gate_order()}


def oracle_sql() -> dict[str, str]:
    oracles = oracle_map()
    return {name: oracles[name] for name in _gate_order()}
