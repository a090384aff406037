"""Physical-plan regression tests: the engine's scale story depends on
specific plan shapes (pushdown, broadcast, top-k), so assert them —
a correct-but-full-scan plan is a perf bug, not a pass."""

import pytest

from node_etl_spark.plans import QUERIES


def _plan(spark, sf_dir, name) -> str:
    # default metadata truncation (100 chars) hides the tail of long
    # PushedFilters lists — widen it so pushdown assertions are real
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    df = QUERIES[name].fn(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_reaches_parquet_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q02_filter_project")
    assert "PushedFilters:" in plan and "GreaterThan(l_quantity" in plan


def test_scan_prunes_columns(spark, sf_dir):
    # q02 projects 4 source columns (+2 filter columns); the scan must
    # not read the full 16-column lineitem schema
    plan = _plan(spark, sf_dir, "q02_filter_project")
    scan = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    assert "l_comment" not in scan and "l_partkey" not in scan


def test_vocab_join_broadcasts(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q06_vocab_join")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_topk_avoids_full_sort(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q03_topk_orders")
    assert "TakeOrderedAndProject" in plan


def test_semi_join_pushes_filter_to_build_side(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q13_semi_join")
    assert "LeftSemi" in plan
    assert "GreaterThanOrEqual(l_quantity,49.0)" in plan


def test_multi_join_keeps_dims_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q41_nation_volume")
    assert "BroadcastHashJoin" in plan  # supplier + nation dims


def test_partitioned_write_prunes_on_read(spark, sf_dir, tmp_path):
    # write partitioned by a dimension column; a filtered read must
    # list only the matching partition directories
    from node_etl_spark.context import Context
    from node_etl_spark.sources import ParquetSink, ParquetSource
    from node_etl_spark.tables import table

    path = str(tmp_path / "orders_by_status")
    ParquetSink(path, partition_by=["o_orderstatus"]).write(
        table(spark, sf_dir, "orders"), Context()
    )
    df = ParquetSource(path).load(spark, Context()).filter("o_orderstatus = 'F'")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(o_orderstatus" in plan
    n_f = df.count()
    assert n_f == table(spark, sf_dir, "orders").filter("o_orderstatus = 'F'").count()


def test_exists_becomes_semi_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q58_priority_exists")
    assert "LeftSemi" in plan
    # returnflag filter evaluated at the lineitem scan, not post-join
    assert "EqualTo(l_returnflag,R)" in plan


def test_or_predicates_push_per_side_residuals(spark, sf_dir):
    # OR-of-ANDs: the quantity bounds (l side) and size bounds (p side)
    # must reach their respective scans as residual disjunction bounds
    plan = _plan(spark, sf_dir, "q63_or_predicates")
    scans = [l for l in plan.splitlines() if "FileScan parquet" in l]
    li_scan = next(s for s in scans if "l_quantity" in s)
    assert "Or(" in li_scan and "PushedFilters:" in li_scan


def test_top20_join_uses_take_ordered(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q64_returned_revenue")
    assert "TakeOrderedAndProject" in plan


def test_global_scalar_subquery_broadcasts(spark, sf_dir):
    # the one-row avg-balance side must broadcast, never shuffle
    plan = _plan(spark, sf_dir, "q62_idle_rich_customers")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "LeftAnti" in plan


def test_hash_split_is_shuffle_free(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q55_hash_split")
    assert "Exchange" not in plan


def test_dual_role_dims_broadcast(spark, sf_dir):
    # nation joined twice (supplier vs customer role) — both must
    # broadcast; the only shuffle joins are fact-fact
    plan = _plan(spark, sf_dir, "q70_trade_volume")
    assert plan.count("BroadcastHashJoin") >= 4  # s, c?, n1, n2 (AQE may vary c)
    scans = [l for l in plan.splitlines() if "FileScan parquet" in l and "n_name" in l]
    # nation scan carries the IN-list pushdown
    assert any("In(n_name" in s for s in scans)


def test_parity_doc_tracks_query_catalog():
    # PARITY.md is the judge-facing operator inventory: every
    # registered query must be referenced there (full name, or its
    # qNN prefix inside a shared row), and every full query name
    # PARITY cites must still exist — so catalog/doc drift fails CI
    # instead of rotting (r6 verdict ask #6)
    import re
    from pathlib import Path

    from node_etl_spark.plans import QUERIES

    parity = Path(__file__).resolve().parents[1] / "PARITY.md"
    text = parity.read_text()
    refs = set(re.findall(r"\bq\d+[a-z0-9_]*", text))
    full = {r for r in refs if "_" in r}
    names = set(QUERIES)
    stale = sorted(full - names)
    assert not stale, f"PARITY.md cites unregistered queries: {stale}"
    short = {re.match(r"q\d+", n).group(0) for n in names}
    undocumented = sorted(
        n for n in names
        if n not in refs and re.match(r"q\d+", n).group(0) not in refs
    )
    assert not undocumented, (
        f"{len(undocumented)} queries missing from PARITY.md: "
        f"{undocumented}"
    )
    # short refs must also resolve to something registered
    dangling = sorted(
        r for r in refs - full if r not in short and re.match(r"q\d+$", r)
    )
    assert not dangling, f"PARITY.md cites unknown short refs: {dangling}"


def test_gate_order_targets_unverified_backlog_first():
    # the driver records only the first ~50 queries() entries per
    # round; the rotation must put every query that has no GREEN row
    # (hash_match true, err null) in any committed CORRECTNESS artifact
    # ahead of all verified ones, so each round's sample burns down the
    # backlog automatically and reshaped/failed queries re-queue
    import json
    from pathlib import Path

    from __spark_entry__ import _gate_order

    root = Path(__file__).resolve().parents[1]
    green = set()
    for f in sorted(root.glob("CORRECTNESS_r*.json")):
        rows = json.loads(f.read_text())
        green.update(
            k
            for k, v in rows.items()
            if isinstance(v, dict)
            and v.get("hash_match") is True
            and v.get("err") is None
        )
    order = _gate_order()
    assert sorted(order) == sorted(QUERIES)  # nothing dropped or duped
    if not green:  # artifacts absent (fresh clone): static order is fine
        return
    never = [n for n in order if n not in green]
    assert order[: len(never)] == never, (
        "verified queries appear before unverified backlog entries"
    )


def test_driver_verified_ignores_red_rows(tmp_path):
    # VERDICT r7 ask #2: a row that merely APPEARS in an artifact but
    # never hash-passed (err='no_oracle' from r1-r3, hash_match=false
    # failures) must NOT count as verified — it re-queues in the gate
    # head ahead of already-green queries
    import json

    from __spark_entry__ import _driver_green_rounds

    art = {
        "q_green": {"hash_match": True, "err": None, "rows_match": True},
        "q_red_no_oracle": {"hash_match": None, "err": "no_oracle"},
        "q_red_mismatch": {"hash_match": False, "err": None},
        "q_red_errored": {"hash_match": True, "err": "timeout"},
        "q_malformed": "not-a-dict",
    }
    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps(art))
    # a later round turns one red row green: union must pick it up
    (tmp_path / "CORRECTNESS_r02.json").write_text(
        json.dumps({"q_red_mismatch": {"hash_match": True, "err": None}})
    )
    assert set(_driver_green_rounds(tmp_path)) == {"q_green", "q_red_mismatch"}


def test_codec_fixture_build_reuse_determinism(spark, tmp_path, monkeypatch):
    # VERDICT r9 ask #4: codec fixtures build ONCE per (sf, query,
    # version) — the benched plan starts at decode — and generation is
    # deterministic, so a rebuild into a fresh root must reproduce the
    # identical content fingerprint recorded in the sidecar
    import json

    from node_etl_spark.plans import queries as Q

    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(10).selectExpr(
            "id AS doc_id",
            "encode(md5(CAST(id AS STRING)), 'utf-8') AS content",
        )

    monkeypatch.setattr(Q, "_SCRATCH", str(tmp_path / "a"))
    df = Q._codec_fixture(spark, "/any/sf0.001", "fx", 1, build)
    assert df.count() == 10 and calls["n"] == 1
    Q._codec_fixture(spark, "/any/sf0.001", "fx", 1, build)
    assert calls["n"] == 1, "cached fixture was rebuilt"
    fp1 = json.loads(
        (tmp_path / "a/fixtures/sf0.001/fx_v1/_FIXTURE_OK").read_text()
    )
    monkeypatch.setattr(Q, "_SCRATCH", str(tmp_path / "b"))
    Q._codec_fixture(spark, "/any/sf0.001", "fx", 1, build)
    fp2 = json.loads(
        (tmp_path / "b/fixtures/sf0.001/fx_v1/_FIXTURE_OK").read_text()
    )
    assert calls["n"] == 2 and fp1 == fp2, "generation is not deterministic"
    # a version bump (generation change) must rebuild, not reuse
    Q._codec_fixture(spark, "/any/sf0.001", "fx", 2, build)
    assert calls["n"] == 3


def test_codec_fixture_rebuild_keeps_stale_copy_readable(spark, tmp_path, monkeypatch):
    # a stale single-file layout is rebuilt by renaming it aside and the
    # new build into place: a reader racing the rebuild (the other
    # half of a pytest-xdist run) reads the whole old copy while the
    # build runs, never a missing or half-deleted one
    import json
    import os
    import threading

    import pyarrow.parquet as pq

    from node_etl_spark.plans import queries as Q

    if spark.sparkContext.defaultParallelism < 2:
        pytest.skip("one core: a single-file fixture is not stale")
    monkeypatch.setattr(Q, "_SCRATCH", str(tmp_path))
    final = tmp_path / "fixtures/sf0.001/fx_v1"
    spark.range(10).coalesce(1).write.parquet(str(final))
    (final / "_FIXTURE_OK").write_text(json.dumps({"rows": 10}))

    building, read_done = threading.Event(), threading.Event()
    seen, errors = [], []

    def reader():
        building.wait(60)
        try:
            for _ in range(3):
                assert (final / "_FIXTURE_OK").exists()
                seen.append(pq.read_table(str(final)).num_rows)
        except Exception as exc:  # noqa: BLE001 - reported below
            errors.append(repr(exc))
        read_done.set()

    def build():
        building.set()
        assert read_done.wait(60), "reader did not finish"
        return spark.range(10).withColumnRenamed("id", "doc_id")

    t = threading.Thread(target=reader)
    t.start()
    df = Q._codec_fixture(spark, "/any/sf0.001", "fx", 1, build)
    t.join(60)
    assert not t.is_alive()
    assert errors == [] and seen == [10, 10, 10]
    assert df.count() == 10
    parts = [f for f in os.listdir(final) if f.startswith("part-")]
    assert len(parts) > 1, "stale layout was not replaced"
    assert os.listdir(final.parent) == ["fx_v1"], "aside or build copy left"


def test_gate_order_staleness_ladder(tmp_path):
    # VERDICT r9 ask #3: among already-green queries, the rotation must
    # order by the round of the most recent green row ASCENDING, so
    # spare driver slots re-confirm the oldest-verified rows (the
    # r1-era q01-q51 band) instead of re-sampling last round's set
    import json

    from __spark_entry__ import _driver_green_rounds, _gate_order

    art_r1 = {"q_old": {"hash_match": True, "err": None}}
    art_r9 = {
        "q_old": {"hash_match": True, "err": None},  # re-greened later
        "q_new": {"hash_match": True, "err": None},
    }
    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps(art_r1))
    (tmp_path / "CORRECTNESS_r09.json").write_text(json.dumps(art_r9))
    rounds = _driver_green_rounds(tmp_path)
    assert rounds == {"q_old": 9, "q_new": 9}  # latest round wins

    # on the real committed artifacts: the verified tail of the gate
    # order must be non-decreasing in latest-green round
    real = _driver_green_rounds()
    if not real:
        return
    order = _gate_order()
    tail_rounds = [real[n] for n in order if n in real]
    assert tail_rounds == sorted(tail_rounds), (
        "verified queries are not on an oldest-green-first ladder"
    )
    assert sorted(order) == sorted(QUERIES)


def test_topk_windows_get_windowgrouplimit_pushdown(spark, sf_dir):
    # round-8 window audit: every site SCALE.md claims as
    # "pushdown" has a literal rn <= k rank filter, which Spark must
    # turn into WindowGroupLimit (per-partition local top-k BEFORE
    # the exchange) — the property that keeps a low-cardinality
    # partition's sort bounded at 100 TB
    for name in (
        "q56_stratified_sample",
        "q88_centroid_outliers",
        "q161_kmv_cardinality",
        "q261_mahalanobis_outliers",
    ):
        plan = _plan(spark, sf_dir, name)
        assert "WindowGroupLimit" in plan, f"{name}: pushdown missing"


def test_driver_contract_consistency():
    # every oracle key has a query; names are unique and stable-format
    import __spark_entry__ as e

    qs = e.queries()
    osql = e.oracle_sql()
    assert set(osql) <= set(qs)
    assert all(n.startswith("q") for n in qs)
    # r7: every query is oracle-gated — the five formerly rows-only
    # approximate ops are self-validating (exact columns + in-bound
    # booleans) since VERDICT r6 ask #3
    assert {n for n in qs if n not in osql} == set()


def test_catalog_binds_each_top_level_name_once():
    # queries.py registers every entry at module level and its query
    # functions read module globals at call time, so a second binding
    # of a top-level name (def, class, assignment or import) would
    # silently change what an earlier entry computes
    import ast
    from collections import Counter

    from node_etl_spark.plans import queries as Q

    def bound(target):
        # names an assignment target binds; QUERIES[k].x = ... binds none
        if isinstance(target, ast.Name):
            return [target.id]
        if isinstance(target, (ast.Tuple, ast.List)):
            return [n for e in target.elts for n in bound(e)]
        if isinstance(target, ast.Starred):
            return bound(target.value)
        return []

    tree = ast.parse(open(Q.__file__).read())
    names = Counter()
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
            names[node.name] += 1
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            for a in node.names:
                names[a.asname or a.name.split(".")[0]] += 1
        elif isinstance(node, ast.Assign):
            for t in node.targets:
                names.update(bound(t))
        elif isinstance(node, (ast.AnnAssign, ast.AugAssign)):
            names.update(bound(node.target))
    assert sorted(n for n, c in names.items() if c > 1) == []


def test_register_refuses_missing_oracle():
    from node_etl_spark.plans.queries import register

    for oracle in (None, ""):
        with pytest.raises(ValueError, match="oracle"):
            register("q_no_oracle", oracle)
    assert "q_no_oracle" not in QUERIES


def test_q247_oracle_text_ignores_hash_seed():
    # the percolate registry is emitted as VALUES rows; iterating a
    # set of terms would order them by string hash, so the oracle text
    # would change with PYTHONHASHSEED from one process to the next
    import os
    import subprocess
    import sys
    from pathlib import Path

    code = (
        "from node_etl_spark.plans.queries import QUERIES;"
        "print(QUERIES['q247_percolate'].oracle)"
    )
    texts = [
        subprocess.run(
            [sys.executable, "-c", code],
            cwd=Path(__file__).resolve().parents[1],
            env={**os.environ, "PYTHONHASHSEED": seed},
            capture_output=True,
            text=True,
            check=True,
        ).stdout
        for seed in ("1", "2")
    ]
    assert texts[0] and texts[0] == texts[1]


def test_gate_schemas_are_driver_canonicalizable(spark, sf_dir):
    # r8 verdict ask #3: the driver's pandas canonicalizer hashes every
    # output column through sort_values/factorize, which crashes on
    # list-typed cells (q53 red row, CORRECTNESS_r08). Guard the whole
    # class: every registered gate query must emit a FLAT schema — no
    # array/map/struct columns. Nested shapes stay available inside
    # operators (JoinDetail nest_as etc.); gate projections flatten.
    from pyspark.sql.types import ArrayType, MapType, StructType

    offenders = []
    for name, q in QUERIES.items():
        df = q.fn(spark, sf_dir)
        bad = [
            f.name
            for f in df.schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType))
        ]
        if bad:
            offenders.append(f"{name}: {bad}")
    assert not offenders, (
        "gate queries with driver-unhashable complex output columns: "
        + "; ".join(offenders)
    )


def test_scan_agg_pushes_all_predicates(spark, sf_dir):
    # q76 (TPC-H Q6 shape): every predicate must reach the parquet scan
    plan = _plan(spark, sf_dir, "q76_forecast_revenue")
    scan = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    assert "PushedFilters:" in scan
    assert "LessThan(l_quantity,24.0)" in scan
    assert "l_shipdate" in scan and "l_discount" in scan


def test_profit_rollup_broadcasts_all_dims(spark, sf_dir):
    # q77 (Q9 shape): part/supplier/nation broadcast; the LIKE filter
    # reaches the part scan as a contains pushdown
    plan = _plan(spark, sf_dir, "q77_product_profit")
    assert plan.count("BroadcastHashJoin") >= 3
    assert "StringContains(p_name,widget)" in plan


def test_max_scalar_reuses_agg_via_broadcast(spark, sf_dir):
    # q81 (Q15 shape): the MAX side is one row — must broadcast back,
    # never shuffle the revenue agg twice
    plan = _plan(spark, sf_dir, "q81_top_supplier")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_not_in_lowers_to_anti_join(spark, sf_dir):
    # q82 (Q16 shape): exclusion list = broadcast anti-join; distinct
    # counting stays two-phase (partial aggregate before the exchange)
    plan = _plan(spark, sf_dir, "q82_supplier_diversity")
    assert "LeftAnti" in plan
    assert "BroadcastHashJoin" in plan


def test_exists_pair_becomes_semi_plus_anti(spark, sf_dir):
    # q84 (Q21 shape): EXISTS -> LeftSemi, NOT EXISTS -> LeftAnti,
    # top-20 avoids a full sort
    plan = _plan(spark, sf_dir, "q84_waiting_suppliers")
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert "TakeOrderedAndProject" in plan


def test_histogram_minmax_broadcasts(spark, sf_dir):
    # q90: the one-row min/max side must broadcast back onto the scan,
    # and the only wide op is the count-by-bin agg
    plan = _plan(spark, sf_dir, "q90_price_histogram")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_aqe_coalesces_small_shuffles(spark, sf_dir):
    # config posture: AQE must be live and actually re-planning —
    # after execution the 32-partition shuffle of a small agg should
    # read back coalesced
    from node_etl_spark.plans import QUERIES

    df = QUERIES["q05_group_count"].fn(spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "AdaptiveSparkPlan isFinalPlan=true" in plan
    assert "AQEShuffleRead coalesced" in plan


def test_scd2_rides_one_user_shuffle(spark, sf_dir):
    # both windows and the island agg cluster by user_id — everything
    # after the first hash exchange must reuse that partitioning
    plan = _plan(spark, sf_dir, "q106_scd2_intervals")
    assert plan.count("Exchange hashpartitioning") == 1


def test_weighted_sample_is_topk(spark, sf_dir):
    # the sample must be per-partition top-k + driver merge, never a
    # global sort of the corpus
    plan = _plan(spark, sf_dir, "q109_weighted_sample")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_rolling_distinct_broadcasts_spine(spark, sf_dir):
    # the day-spine range join must broadcast the spine, not shuffle
    # the (day, user) probe side into a cartesian
    plan = _plan(spark, sf_dir, "q110_rolling_distinct_users")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_fuzzy_pairs_join_on_blocking_key(spark, sf_dir):
    # the blocking key must be the equi-join condition; a nested-loop
    # plan would mean n^2 levenshtein comparisons
    plan = _plan(spark, sf_dir, "q108_fuzzy_part_pairs")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_checksum_is_single_shuffle(spark, sf_dir):
    # per-row hashing is map-side; only the month rollup may shuffle
    plan = _plan(spark, sf_dir, "q113_partition_checksum")
    assert plan.count("Exchange hashpartitioning") == 1


def test_brand_trend_broadcasts_part_and_combines_mapside(spark, sf_dir):
    # q120: part is a dim (broadcast); the two-level agg (month cell ->
    # brand sufficient stats) must show partial aggregation so 100TB
    # fan-in happens map-side
    plan = _plan(spark, sf_dir, "q120_brand_trend")
    assert "BroadcastHashJoin" in plan
    assert "partial_" in plan


def test_trailing_window_single_exchange(spark, sf_dir):
    # q121: one shuffle (by custkey) feeds the RANGE window; anything
    # more means the window didn't reuse the partitioning
    plan = _plan(spark, sf_dir, "q121_trailing_window")
    assert plan.count("Exchange") == 1
    assert "RangeFrame, -29, currentrow" in plan


def test_bitmap_rollup_aggregates_state_not_rows(spark, sf_dir):
    # q124: weekly merge must aggregate per-day bitmap state
    # (ObjectHashAggregate), never re-shuffle raw events twice
    plan = _plan(spark, sf_dir, "q124_bitmap_distinct")
    # map-side combine on both the build and the merge levels
    assert "partial_bitmap_construct_agg" in plan
    assert "partial_bitmap_or_agg" in plan
    # day->week->sort: three data exchanges + the output range sort
    assert plan.count("Exchange") <= 4


def test_doc_keywords_df_rides_term_shuffle(spark, sf_dir):
    # q126: document frequency must be a COUNT window over the
    # (doc, term) grid — no self-join; corpus size broadcasts
    plan = _plan(spark, sf_dir, "q126_doc_keywords")
    assert "BroadcastNestedLoopJoin" in plan  # 1-row n_docs side
    assert plan.count("SortMergeJoin") == 0
    # tf agg -> term window -> doc window: three data exchanges max
    assert plan.count("Exchange hashpartitioning") <= 3


def test_golden_records_keys_are_component_minima(spark, sf_dir):
    from node_etl_spark.plans import QUERIES

    rows = QUERIES["q125_golden_records"].fn(spark, sf_dir).collect()
    assert rows, "fuzzy clusters expected at sf0.001"
    for r in rows:
        assert r.canonical_key <= r.partkey
        assert r.is_canonical == (r.partkey == r.canonical_key)
    # exactly one canonical per cluster
    canon = {}
    for r in rows:
        canon.setdefault(r.canonical_key, 0)
        canon[r.canonical_key] += r.is_canonical
    assert all(v == 1 for v in canon.values())


def test_corr_matrix_is_one_scan(spark, sf_dir):
    # q127: 15 sufficient statistics, ONE lineitem scan, partial aggs
    plan = _plan(spark, sf_dir, "q127_corr_matrix")
    assert plan.count("FileScan parquet") == 1
    assert "partial_" in plan


def test_basket_pairs_top50_avoids_global_sort(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q128_basket_pairs")
    assert "TakeOrderedAndProject" in plan


def test_pack_sequences_single_shuffle(spark, sf_dir):
    # packing rides ONE exchange (window by source); the running-total
    # window must not introduce a second shuffle
    plan = _plan(spark, sf_dir, "q131_pack_sequences")
    assert plan.count("Exchange hashpartitioning") == 1


def test_kmeans_step_broadcasts_centroids(spark, sf_dir):
    # the k seed rows broadcast; vectors never shuffle before the
    # k-row final aggregate
    plan = _plan(spark, sf_dir, "q133_kmeans_step")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_neardup_lsh_is_bucket_equijoin(spark, sf_dir):
    # q136 is the 100TB near-dup path: candidates must come from an
    # equi-join on (table, bucket) — a nested-loop / cartesian plan
    # would mean the quadratic stream survived
    plan = _plan(spark, sf_dir, "q136_neardup_lsh")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_partitioned_readback_prunes_partitions(spark, sf_dir):
    # q176 writes partitionBy(o_orderstatus) then filters 'F': the
    # read-back scan must carry the predicate as a PartitionFilter
    # (directory pruning), not a data filter
    plan = _plan(spark, sf_dir, "q176_partition_pruned_read")
    scan = next(
        l for l in plan.splitlines()
        if "FileScan parquet" in l and "orders_by_status" in l
    )
    assert "PartitionFilters:" in scan and "o_orderstatus" in scan


def test_bloom_semi_join_prunes_before_exchange(spark, sf_dir):
    # the bloom bit-test must sit in the scan-side Filter (before any
    # exchange), and the verify join must stay a broadcast semi join
    plan = _plan(spark, sf_dir, "q171_bloom_semi_join")
    assert "might_contain" in plan or "shiftleft" in plan
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_q191_pairs_per_anchor_bounded(spark, sf_dir):
    # round-3's scale-killer: preference pairs were an O(group^2)
    # all-pairs margin self-join. The rank-banded construction caps
    # pairs per winner at Q191_RANK_BAND and — because the band is an
    # exploded-offset equi-join — never evaluates a per-group cross
    # product. Assert both the data bound and the plan shape.
    from pyspark.sql import functions as F

    from node_etl_spark.plans.queries import (
        Q191_RANK_BAND,
        q191_preference_pairs,
    )

    pairs = q191_preference_pairs(spark, sf_dir)
    mx = (
        pairs.groupBy("winner")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.max("n").alias("mx"))
        .collect()[0]
        .mx
    )
    assert mx is not None and mx <= Q191_RANK_BAND
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q201_salted_join_shape(spark, sf_dir):
    # the skew demo must actually run through the salt machinery:
    # the join keys include the deterministic __salt shard, the
    # profile side is replicated via explode, and nothing degenerates
    # into a cross product. (Value parity with the plain join is the
    # oracle's job.)
    plan = _plan(spark, sf_dir, "q201_skew_salted_activity")
    assert "__salt" in plan
    assert "explode" in plan.lower()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q203_zorder_buckets_bound_both_dims(spark, sf_dir):
    from node_etl_spark.plans import QUERIES

    rows = QUERIES["q203_zorder_layout"].fn(spark, sf_dir).collect()
    assert len(rows) > 1, "expect multiple z-range buckets"
    # the pruning property: per-bucket spans are (much) tighter than
    # the global span in BOTH interleaved dimensions
    gx = max(r.l_partkey_max for r in rows) - min(r.l_partkey_min for r in rows)
    gy = max(r.l_suppkey_max for r in rows) - min(r.l_suppkey_min for r in rows)
    import statistics

    mx = statistics.mean(r.l_partkey_max - r.l_partkey_min for r in rows)
    my = statistics.mean(r.l_suppkey_max - r.l_suppkey_min for r in rows)
    assert mx < gx and my < gy
    # and the plan is pure codegen arithmetic — no UDF anywhere
    plan = (
        QUERIES["q203_zorder_layout"].fn(spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_zorder_write_produces_tight_files(spark, sf_dir, tmp_path):
    from node_etl_spark.functions.layout import zorder_write
    from node_etl_spark.tables import table
    from pyspark.sql import functions as F

    li = table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    out = str(tmp_path / "zo")
    zorder_write(li, out, "l_partkey", "l_suppkey", n_files=8)
    back = spark.read.parquet(out).withColumn(
        "f", F.input_file_name()
    )
    per_file = back.groupBy("f").agg(
        (F.max("l_partkey") - F.min("l_partkey")).alias("px"),
        (F.max("l_suppkey") - F.min("l_suppkey")).alias("py"),
        F.count(F.lit(1)).alias("n"),
    ).collect()
    assert back.count() == li.count()
    assert len(per_file) >= 4
    g = li.agg(
        (F.max("l_partkey") - F.min("l_partkey")).alias("gx"),
        (F.max("l_suppkey") - F.min("l_suppkey")).alias("gy"),
    ).first()
    import statistics

    mx = statistics.mean(r.px for r in per_file)
    my = statistics.mean(r.py for r in per_file)
    # z-clustering: per-file footprint strictly tighter than global
    # span in BOTH dimensions (a single-column sort can't do both)
    assert mx < g.gx and my < g.gy


def test_q206_variant_zeroes_component_vec_id_mod_60(spark, sf_dir):
    # r5 verdict bug: alias-shadowing made the transform lambda zero
    # component (vec_id + 2^40) % 60 instead of vec_id % 60. Pin the
    # contract directly: for every vector, exactly one component
    # differs from the original, at index vec_id % 60, set to 0.0.
    from pyspark.sql import functions as F

    from node_etl_spark.plans.queries import _q206_variant
    from node_etl_spark.tables import table

    off = 1 << 40
    e = (
        table(spark, sf_dir, "embeddings")
        .filter(F.col("embedding").isNotNull())
        .select("vec_id", "embedding")
        .limit(64)
    )
    v = _q206_variant(e, off).select(
        (F.col("vec_id") - off).alias("vec_id"),
        F.col("embedding").alias("variant"),
    )
    joined = e.join(v, "vec_id").select(
        "vec_id",
        F.filter(
            F.arrays_zip(
                F.col("embedding").alias("a"),
                F.col("variant").alias("b"),
                F.sequence(F.lit(0), F.lit(59)).alias("i"),
            ),
            lambda s: s.a != s.b,
        ).alias("diffs"),
    ).collect()
    assert len(joined) == 64
    for r in joined:
        assert len(r.diffs) == 1, f"vec {r.vec_id}: {len(r.diffs)} diffs"
        d = r.diffs[0]
        assert d.i == r.vec_id % 60
        assert d.b == 0.0


def test_hof_shadow_lint_flags_realias_in_same_projection(spark):
    from pyspark.sql import functions as F

    from node_etl_spark.util import hof_shadow_risks

    j = (F.col("vec_id") % 60).cast("int")

    def tr():
        return F.transform(
            "embedding",
            lambda x, i: F.when(i == j, F.lit(0.0)).otherwise(x),
        ).alias("embedding")

    shadow = (F.col("vec_id") + F.lit(1 << 40)).alias("vec_id")
    # the exact q206-buggy projection: flagged
    risks = hof_shadow_risks(shadow, tr())
    assert len(risks) == 1 and "vec_id" in risks[0]
    # the fixed two-step shape: each projection alone is clean
    assert hof_shadow_risks("vec_id", tr()) == []
    assert hof_shadow_risks(shadow, "embedding") == []
    # passthrough alias (col AS same-name) is not shadowing
    assert hof_shadow_risks(F.col("vec_id").alias("vec_id"), tr()) == []


def test_zorder_kd_readback_prunes_files(spark, sf_dir, tmp_path):
    # The written-layout gate for k-D z-order (r4/r5 verdict ask):
    # write lineitem clustered on THREE keys, then measure, per
    # output file, the footer min/max box a parquet reader prunes
    # with — a mid-range predicate on EACH dimension must intersect
    # a minority of files (a single-column sort can only do this for
    # its own column), and the predicate must reach the scan as a
    # PushedFilter so the row-group pruning actually engages.
    from node_etl_spark.functions.layout import zorder_write
    from node_etl_spark.tables import table
    from pyspark.sql import functions as F

    cols = ["l_partkey", "l_suppkey", "l_orderkey"]
    li = table(spark, sf_dir, "lineitem").select(*cols)
    out = str(tmp_path / "zo3")
    zorder_write(li, out, *cols, bits=10, n_files=16)

    back = spark.read.parquet(out)
    boxes = (
        back.withColumn("f", F.input_file_name())
        .groupBy("f")
        .agg(
            *[
                a
                for c in cols
                for a in (F.min(c).alias(f"{c}_min"),
                          F.max(c).alias(f"{c}_max"))
            ]
        )
        .collect()
    )
    n_files = len(boxes)
    assert n_files >= 8
    assert back.count() == li.count()

    for c in cols:
        lo, hi = li.agg(F.min(c), F.max(c)).first()
        # a 10%-of-range band at the 20-30% point of dimension c
        # (NOT mid-range: z-order's first split is at 50%, and a band
        # straddling the split boundary trivially intersects both
        # halves)
        a = lo + (hi - lo) * 20 // 100
        b = lo + (hi - lo) * 30 // 100
        surviving = sum(
            1
            for r in boxes
            if r[f"{c}_min"] <= b and r[f"{c}_max"] >= a
        )
        # z-order: each dimension's footer boxes prune most files
        assert surviving <= n_files * 3 // 4, (
            f"{c}: {surviving}/{n_files} files intersect a 10% band"
        )
        plan = (
            back.filter((F.col(c) >= a) & (F.col(c) <= b))
            ._jdf.queryExecution().executedPlan().toString()
        )
        scan = next(
            l for l in plan.splitlines() if "FileScan parquet" in l
        )
        assert f"GreaterThanOrEqual({c}" in scan, f"{c} not pushed"


def test_q209_duplicate_spans_plan_is_pure_codegen(spark, sf_dir):
    # window hashing, repeat filter, and span merge are all JVM
    # expressions — any Python eval node here would be a 10-100x
    # regression on the hot path
    plan = _plan(spark, sf_dir, "q209_duplicate_spans")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the repeat filter is an aggregate with map-side partial combine
    assert "partial_count" in plan or "HashAggregate" in plan


def test_q210_blocked_union_find_runs_once(spark, sf_dir):
    # the groups form must evaluate the per-segment union-find exactly
    # once: the roots self-assignment comes from per_block itself, not
    # a union that re-runs the simhash+banding lineage (13.1s -> 3.6s
    # at sf0.01 when this regressed during development)
    plan = _plan(spark, sf_dir, "q210_simhash_dedup_groups")
    assert plan.count("FlatMapGroupsInPandas") == 1
    # both sides of the banding self-join read the persisted combo rows
    assert "InMemoryTableScan" in plan
    # segment rides the equality key: banding is a hash join, never a
    # cartesian pair stream
    assert "CartesianProduct" not in plan


def test_q211_ivf_pq_plan_is_arrow_gemm(spark, sf_dir):
    # corpus encode (cell + PQ codes), query probes, and the ADC
    # table are Arrow-batched GEMM passes (scalar codegen measured
    # 3us/distance vs ~10ns matmul: 151s -> 8s at sf3); NO
    # row-at-a-time Python eval, and no n x n_cells join — the
    # centroid matrix rides in the UDF closure, not the data plane
    plan = _plan(spark, sf_dir, "q211_ivf_pq_topk")
    # 2 query-side passes; the corpus encode pass is checkpointed
    # (read twice downstream, computed once)
    assert plan.count("MapInPandas") == 2
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # probes and the ADC lookup table broadcast to the candidate join
    assert plan.count("BroadcastHashJoin") >= 3


def test_q224_blocklist_plan_is_scan_and_project_only(spark, sf_dir):
    # the term list compiles into one HOF filter expression: the
    # whole query must be scan + project — zero exchanges, zero
    # joins, zero Python — or the "rides the scan at 100 TB" claim
    # in the docstring is false
    plan = _plan(spark, sf_dir, "q224_blocklist_filter")
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_q225_jl_projection_is_row_local(spark, sf_dir):
    # the 16 sign-fold projections are row-local expressions; the
    # only exchanges allowed are for the pair-chain self-join —
    # never a Python eval or a cartesian pair stream
    plan = _plan(spark, sf_dir, "q225_jl_projection")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_q226_power_iteration_no_join_in_round(spark, sf_dir):
    # each round is one row-local dot + one 64-row hash aggregate:
    # the FINAL plan (last round + normalization) must contain no
    # shuffle join in the data plane — the only join is the 1-row
    # broadcast of max|w|
    plan = _plan(spark, sf_dir, "q226_top_pc_power")
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    assert "BatchEvalPython" not in plan
    assert "HashAggregate" in plan


def test_q227_pmi_margins_broadcast(spark, sf_dir):
    # bigrams come from a row-local shifted transform (no self-join);
    # unigram margins and scalar totals must join BROADCAST — a
    # shuffle join on the vocab would serialize the Zipf head
    plan = _plan(spark, sf_dir, "q227_pmi_collocations")
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q228_fertility_vocab_joins_broadcast(spark, sf_dir):
    # the trained vocab (w -> n_tokens) is vocab-sized: it must reach
    # the per-(lang, word) frame as a broadcast, never a shuffle join
    plan = _plan(spark, sf_dir, "q228_tokenizer_fertility")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q229_hits_no_cartesian_no_python(spark, sf_dir):
    # half-rounds are shuffle joins on s/d keys; the only cross join
    # allowed is the 1-row L-inf max broadcast
    plan = _plan(spark, sf_dir, "q229_hits_hubs_authorities")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_q230_calibrate_sizes_broadcast_no_python_rank(spark, sf_dir):
    # group sizes and the global total ride broadcasts; the global
    # rank's narrow Arrow pass (global_row_index) is the ONLY Python
    # stage; the final lookup is a shuffle join on an integer rank —
    # never a cartesian
    plan = _plan(spark, sf_dir, "q230_quantile_calibrate")
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    assert plan.count("MapInPandas") <= 1


def test_wave4_queries_no_python_no_cartesian(spark, sf_dir):
    # q231-q238 are all codegen compositions: no row-at-a-time or
    # Arrow Python stages, and no cartesian pair streams anywhere
    for name in [
        "q231_decayed_trending",
        "q232_hard_negatives",
        "q234_temporal_split",
        "q235_target_encoding",
        "q236_skipgram_pairs",
        "q237_source_divergence",
        "q238_wilson_ranking",
    ]:
        plan = _plan(spark, sf_dir, name)
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_q236_skipgram_single_sort_shuffle(spark, sf_dir):
    # the LAG-column design exists to avoid a range self-join: the
    # plan must contain NO join at all — one window sort is the only
    # wide operation before the rollup
    plan = _plan(spark, sf_dir, "q236_skipgram_pairs")
    assert "Join" not in plan
    assert "Window" in plan


def test_q239_funnel_dp_is_single_aggregate_no_join(spark, sf_dir):
    # the whole point of the DP form: NO position joins anywhere —
    # one groupBy(user) shuffle and a row-local fold
    plan = _plan(spark, sf_dir, "q239_funnel_count")
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_q290_attribution_monotone_in_window(spark, sf_dir):
    """Wider lookbacks can only attribute MORE: rates and cents must
    be non-decreasing in the window — the invariant that makes the
    single widest-window join sound."""
    rows = sorted(
        QUERIES["q290_window_sweep"].fn(spark, sf_dir).collect(),
        key=lambda r: r.win,
    )
    assert [r.win for r in rows] == [1, 3, 7, 14]
    assert all(
        a.n_attributed <= b.n_attributed and a.attr_cents <= b.attr_cents
        for a, b in zip(rows, rows[1:])
    )
    # every window sees the same purchase universe
    assert len({r.n_purchases for r in rows}) == 1


def test_q293_burstiness_bounded(spark, sf_dir):
    """B = (sigma-mu)/(sigma+mu) lies in (-1, 1) by construction."""
    rows = QUERIES["q293_burstiness"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert -1.0 < r.avg_burstiness < 1.0


def test_q294_readability_plan_is_single_aggregate(spark, sf_dir):
    """Readability rides the scan: no joins, no windows, no Python."""
    plan = _plan(spark, sf_dir, "q294_readability")
    assert "Join" not in plan
    assert "Window" not in plan
    assert "Python" not in plan and "Pandas" not in plan


def test_q288_rules_confidence_lift_consistency(spark, sf_dir):
    """lift = confidence / consequent base rate implies every
    returned rule (lift > 1 filter) has confidence above the
    consequent's global support share."""
    rows = QUERIES["q288_association_rules"].fn(spark, sf_dir).collect()
    assert 0 < len(rows) <= 50
    for r in rows:
        assert r.lift > 1.0
        assert 0 < r.confidence <= 1.0
        assert r.n_both >= 2


def test_bmp_decode_plan_adds_no_shuffle(spark, sf_dir):
    # q295: the synthetic encode stage is pre-materialized once per SF
    # (verdict r9 ask #4, _codec_fixture) so the measured plan is a
    # columnar fixture scan -> ONE decode mapInPandas; the only
    # exchange allowed is whatever the final projection needs (none)
    plan = _plan(spark, sf_dir, "q295_bmp_decode")
    assert plan.count("MapInPandas") == 1  # decode stage only
    assert "fixtures" in plan  # scans the pre-built fixture parquet
    assert "Exchange" not in plan


def test_ann_recall_audit_plans_stay_bucketed(spark, sf_dir):
    # q27: the reshape (in-plan exact audit) must not have degraded
    # the ANN side into a cartesian product — the LSH candidate join
    # stays a hash join on (table, bucket), the exact side is the
    # blocked-GEMM mapInPandas, and the one-row aggregates broadcast
    plan = _plan(spark, sf_dir, "q27_ann_lsh_topk")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row stats x hits cross
    assert "MapInPandas" in plan  # blocked exact GEMM


def test_jpeg_and_gif_decode_plans_add_no_shuffle(spark, sf_dir):
    # q299/q300: like q295/q297, the measured plan starts at the
    # pre-built fixture scan; decode must add zero Exchange (the
    # 100 TB property: codec work is embarrassingly parallel,
    # partition-local)
    plan = _plan(spark, sf_dir, "q299_jpeg_decode")
    assert plan.count("MapInPandas") == 1  # decode stage only
    assert "Exchange" not in plan
    plan = _plan(spark, sf_dir, "q300_gif_frames")
    # two filtered branches (every_k=1 / every_k=2), one stats stage each
    assert plan.count("MapInPandas") == 2
    assert "Exchange" not in plan
    assert "Union" in plan  # partition-local union, not a shuffle


def test_progressive_jpeg_plan_adds_no_shuffle(spark, sf_dir):
    # q307: same fixture-scan -> decode shape as q299; the
    # progressive scan pipeline must not change the plan shape
    plan = _plan(spark, sf_dir, "q307_progressive_jpeg")
    assert plan.count("MapInPandas") == 1
    assert "Exchange" not in plan


def test_r9_codec_queries_prune_documents_scan(spark, sf_dir):
    # the measured plan must start at the pre-built fixture scan
    # (verdict r9 ask #4) and never touch the documents table — the
    # doc_id-only pruned generation scan now lives in the one-time
    # fixture build, not in every benched execution
    for name in ("q306_video_frames", "q307_progressive_jpeg",
                 "q308_color_jpeg", "q309_image_neardup"):
        plan = _plan(spark, sf_dir, name)
        assert "fixtures" in plan, name
        assert "documents.parquet" not in plan, name


def test_image_neardup_plan_bands_never_cartesian(spark, sf_dir):
    # q309: fixture scan -> real decode -> aHash mapInPandas; the
    # pair stage must be the Manku banding equi-join (bucket join on
    # combo keys), never a cartesian/broadcast-nested-loop all-pairs
    plan = _plan(spark, sf_dir, "q309_image_neardup")
    # decode+ahash run ONCE into the persisted combo frame; the
    # printed plan shows the cached subtree under both join sides
    assert "InMemoryTableScan" in plan
    assert plan.count("MapInPandas") in (1, 2)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # equi-join on the combo keys (broadcast at test SF; shuffled hash
    # at scale) — the nested-loop operators above are the failure mode
    assert "Join" in plan and "ci#" in plan


def test_color_jpeg_plan_adds_no_shuffle(spark, sf_dir):
    # q308: same fixture-scan -> decode shape as q299/q307; the
    # three-component interleave must not change the plan shape
    plan = _plan(spark, sf_dir, "q308_color_jpeg")
    assert plan.count("MapInPandas") == 1
    assert "Exchange" not in plan


def test_video_frames_plan_adds_no_shuffle(spark, sf_dir):
    # q306: fixture scan -> AVI parse + per-row-stride frame sample +
    # JPEG decode in one mapInPandas stage over the scan partitioning;
    # zero Exchange (the 100 TB property: video decode is
    # embarrassingly parallel, partition-local, and skipped frames
    # are never entropy-decoded)
    plan = _plan(spark, sf_dir, "q306_video_frames")
    assert plan.count("MapInPandas") == 1  # stats stage only
    assert "Exchange" not in plan


def test_webdataset_plans_add_no_shuffle(spark, sf_dir):
    # q301/q302: fixture scan -> explode / sample grouping; the
    # WebDataset adjacency contract makes sample grouping
    # partition-local, so NO Exchange may appear
    for name in ("q301_webdataset_shard", "q302_webdataset_samples"):
        plan = _plan(spark, sf_dir, name)
        assert plan.count("MapInPandas") == 1, name
        assert "Exchange" not in plan, name


def test_unicode_normalize_plan_adds_no_shuffle(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q303_unicode_normalize")
    assert "Exchange" not in plan
    assert "ArrowEvalPython" in plan  # vectorized, not row-at-a-time


def test_compressed_text_plan_single_udf_no_shuffle(spark, sf_dir):
    # q304: fixture scan + ONE sniffing decompress UDF (Catalyst
    # dedups the repeated column expression) and no Exchange; the
    # compress stage lives in the one-time fixture build
    plan = _plan(spark, sf_dir, "q304_compressed_text")
    assert plan.count("ArrowEvalPython") == 1
    assert plan.count("MapInPandas") == 0
    assert "Exchange" not in plan


def test_snappy_roundtrip_plan_single_udf_no_shuffle(spark, sf_dir):
    # q310: fixture scan (compress+corrupt live in the one-time
    # fixture build) + ONE sniffing decompress UDF (Catalyst dedups
    # the repeated column) and no Exchange
    plan = _plan(spark, sf_dir, "q310_snappy_roundtrip")
    assert plan.count("ArrowEvalPython") == 1
    assert plan.count("MapInPandas") == 0
    assert "Exchange" not in plan


def test_warc_and_html_plans_add_no_shuffle(spark, sf_dir):
    # q313: fixture scan -> 1:N record explode, partition-local;
    # q314: JVM-side HTML build (no fixture, no generation python) +
    # ONE Arrow-batched extract UDF (Catalyst dedups the struct expr)
    plan = _plan(spark, sf_dir, "q313_warc_records")
    assert plan.count("MapInPandas") == 1
    assert "Exchange" not in plan
    assert "fixtures" in plan
    plan = _plan(spark, sf_dir, "q314_html_extract")
    assert plan.count("ArrowEvalPython") == 1
    assert plan.count("MapInPandas") == 0
    assert "Exchange" not in plan
    assert "documents.parquet" in plan  # no fixture: generation is JVM concat


def test_compressed_ndjson_scan_plan(spark, sf_dir):
    # q315: binaryFile scan -> ONE magic-sniffing decompress UDF;
    # explode + from_json stay JVM-side; the only Exchange is the
    # final aggregation's shuffle (with map-side partial agg)
    plan = _plan(spark, sf_dir, "q315_zstd_ndjson_scan")
    assert plan.count("ArrowEvalPython") == 1
    assert plan.count("MapInPandas") == 0
    assert "Generate" in plan  # JVM-side line explode
    assert plan.count("Exchange") == 1
    assert "partial" in plan.lower()


def test_png_variants_plan_adds_no_shuffle(spark, sf_dir):
    # q317: fixture scan -> one decode mapInPandas, zero Exchange —
    # same shape as q295/q297 with the general PNG decoder
    plan = _plan(spark, sf_dir, "q317_png_variants")
    assert plan.count("MapInPandas") == 1
    assert "Exchange" not in plan
    assert "fixtures" in plan


def test_token_shards_read_plan(spark, sf_dir):
    # q316's returned plan is the READ side: distributed binaryFile
    # scan -> one shard-parsing mapInPandas -> JVM-side aggregates;
    # no Exchange (per-sequence aggregates are row-local expressions)
    plan = _plan(spark, sf_dir, "q316_token_shards_roundtrip")
    assert plan.count("MapInPandas") == 1
    assert "Exchange" not in plan
    assert "binaryFile" in plan or "BinaryFile" in plan


def test_zstd_plans_single_udf_no_shuffle(spark, sf_dir):
    # q311 (system-libzstd ctypes path, full corpus) and q312 (the
    # pure RFC 8878 decoder, deterministic 10% sample): both are a
    # fixture scan + ONE Arrow-batched decode UDF, zero Exchange
    for name in ("q311_zstd_roundtrip", "q312_zstd_pure_decode"):
        plan = _plan(spark, sf_dir, name)
        assert plan.count("ArrowEvalPython") == 1, name
        assert plan.count("MapInPandas") == 0, name
        assert "Exchange" not in plan, name
        assert "fixtures" in plan, name


def test_quality_classifier_plan_jvm_side_one_exchange(spark, sf_dir):
    # q305: inference rides the text scan JVM-side — zero Python
    # stages, and the ONLY exchange is the final per-language rollup
    # (with map-side partial aggregation before it)
    plan = _plan(spark, sf_dir, "q305_quality_classifier")
    assert plan.count("EvalPython") == 0
    assert plan.count("MapInPandas") == 0
    assert plan.count("Exchange") == 1
    assert "partial" in plan.lower()  # map-side combine before the shuffle


def test_bench_set_partitions_the_registry():
    # verdict r10 ask #3: HEADLINE is derived from the registry minus
    # an explicit, reasoned exclusion list — a new gate query can
    # never silently skip the bench
    import bench
    from node_etl_spark.plans import QUERIES

    assert set(bench.HEADLINE) | set(bench.EXCLUDED) == set(QUERIES)
    assert not set(bench.HEADLINE) & set(bench.EXCLUDED)
    assert len(bench.HEADLINE) + len(bench.EXCLUDED) == len(QUERIES)
    for name, reason in bench.EXCLUDED.items():
        assert name in QUERIES, f"stale exclusion {name}"
        assert reason and reason.strip(), f"exclusion {name} needs a reason"


def test_r11_crawl_family_plans(spark, sf_dir):
    # q320: identical wrap to q314 through the FAST extractor — still
    # one Arrow UDF, zero Exchange, no fixture (JVM concat builds the
    # page)
    plan = _plan(spark, sf_dir, "q320_html_extract_fast")
    assert plan.count("ArrowEvalPython") == 1
    assert plan.count("MapInPandas") == 0
    assert "Exchange" not in plan
    assert "documents.parquet" in plan

    # q322 WET / q323 WAT: scan -> explode -> (extract/JVM json) ->
    # repack -> re-explode, all partition-local mapInPandas; zero
    # Exchange end-to-end
    plan = _plan(spark, sf_dir, "q322_wet_conversion")
    assert plan.count("MapInPandas") == 3  # explode, repack, re-explode
    assert plan.count("ArrowEvalPython") == 1  # the fast extractor
    assert "Exchange" not in plan
    plan = _plan(spark, sf_dir, "q323_wat_metadata")
    assert plan.count("MapInPandas") == 3
    assert plan.count("ArrowEvalPython") == 0  # WAT json is all JVM
    assert "Exchange" not in plan

    # q321 CDX: index is partition-local; the ONLY Exchange is the
    # deliberate fetch-parallelism repartition of the tiny index
    plan = _plan(spark, sf_dir, "q321_warc_cdx_fetch")
    assert plan.count("MapInPandas") == 2  # index walk, ranged fetch
    assert plan.count("Exchange") == 1

    # q324 robots: one Arrow check over a JVM-built url column; the
    # rules ride the closure (no join in the plan)
    plan = _plan(spark, sf_dir, "q324_robots_filter")
    assert plan.count("ArrowEvalPython") == 1
    assert "Exchange" not in plan
    assert "Join" not in plan

    # q318 ranged shards (read side): local task plan -> ONE Exchange
    # (the capped repartition spreading range tasks) -> range reads
    plan = _plan(spark, sf_dir, "q318_token_shards_ranged")
    assert plan.count("MapInPandas") == 1
    assert plan.count("Exchange") == 1


def test_zstd_dict_store_plan_adds_no_shuffle(spark, sf_dir):
    # q325: fixture scan -> filter(is_dict=false) -> one decode
    # mapInPandas; the 1-row dict lookup is a separate bounded
    # collect, NOT a join — zero Exchange in the measured plan
    plan = _plan(spark, sf_dir, "q325_zstd_dict_store")
    assert plan.count("MapInPandas") == 1
    assert "Exchange" not in plan


def test_snapshot_time_travel_plan_is_pruned_scans(spark, sf_dir):
    # q327: three AS-OF reads = plain parquet scans from manifest file
    # lists, unioned partition-locally — no Exchange, no format shim
    plan = _plan(spark, sf_dir, "q327_snapshot_time_travel")
    assert "Exchange" not in plan
    assert "Union" in plan


def test_grouped_tdigest_plan_is_group_keyed(spark, sf_dir):
    # q334: one partial-build MapInPandas, one applyInPandas merge
    # (FlatMapGroupsInPandas), broadcast join-backs for audit + exact
    # targets — never a sort-merge join or cartesian, and every
    # Exchange is keyed by the group (centroid/audit rows, not data
    # re-distribution beyond the inherent group shuffles)
    plan = _plan(spark, sf_dir, "q334_grouped_tdigest")
    assert plan.count("MapInPandas") == 1
    assert plan.count("FlatMapGroupsInPandas") == 1
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange") <= 5


def test_part_cooccur_matches_double_explode_reference(spark, sf_dir):
    # r12: pair generation was rewritten to emit only src<dst pairs
    # (one nested-HOF explode over the sorted set) and mirror each
    # aggregated row post-count. Pin value-equality against the
    # straightforward n^2 double-explode form it replaced, including
    # the min_cnt slice.
    from pyspark.sql import functions as F

    from node_etl_spark.plans.queries import _part_cooccur
    from node_etl_spark.tables import table

    def reference(min_cnt):
        li = table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_partkey"
        )
        sets = li.groupBy("l_orderkey").agg(
            F.collect_set("l_partkey").alias("ps")
        )
        pairs = (
            sets.select(F.explode("ps").alias("src"), "ps")
            .select("src", F.explode("ps").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .groupBy("src", "dst")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        if min_cnt > 1:
            pairs = pairs.filter(F.col("cnt") >= min_cnt)
        return pairs

    for min_cnt in (1, 2):
        got = sorted(
            map(tuple, _part_cooccur(spark, sf_dir, min_cnt).collect())
        )
        want = sorted(map(tuple, reference(min_cnt).collect()))
        assert got == want and len(got) > 0


def test_part_cooccur_plan_has_no_lambda(spark, sf_dir):
    # pairs come from two codegen'd Generates, not interpreted HOF
    # lambdas (the nested-transform form made q122 and q130 slower)
    from node_etl_spark.plans.queries import _part_cooccur

    plan = _part_cooccur(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "lambdafunction" not in plan
    assert plan.count("Generate") == 3


@pytest.mark.parametrize("k", [1, 3])
def test_lpa_plan_one_shuffle_per_round(spark, k):
    # each round is one mode() aggregation behind one hash exchange,
    # every round after the first broadcasts the previous winners, and
    # the last round covers every node itself: no (dst, label) count,
    # no max_by SortAggregate, no node-list shuffle or join
    from node_etl_spark.functions.graph import label_propagation

    pairs = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (9, 1)]
    edges = spark.createDataFrame(
        pairs + [(b, a) for a, b in pairs], "src long, dst long"
    )
    df = label_propagation(edges, iterations=k)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        # the final plan only: the adaptive node's own string also
        # prints the initial plan
        plan = plan.executedPlan()
    plan = plan.toString()
    assert plan.count("Exchange hashpartitioning") == k
    assert plan.count("BroadcastExchange") == k - 1
    assert "SortAggregate" not in plan and "max_by" not in plan


def test_session_enables_aqe_for_cached_plan_partitioning(spark):
    # r12: persisted plans must materialize WITH AQE coalescing —
    # without this conf every persist() of a small frame pins the
    # full session shuffle-partition count and fans each downstream
    # stage into cores-many near-empty tasks (the "32 cores slower
    # than 8" pathology). Pin it so a future session.py edit can't
    # silently lose it.
    assert (
        spark.conf.get(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
        )
        == "true"
    )
