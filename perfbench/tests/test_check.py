from __future__ import annotations

import duckdb

import gen
import run
from workloads import DWH_SQL, digest, expected_digests


def _dwh_rows(data: str) -> tuple[list[tuple], list[str]]:
    con = duckdb.connect()
    for t in ("orders", "customer"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    res = con.execute(DWH_SQL)
    return [tuple(r) for r in res.fetchall()], [d[0] for d in res.description]


def test_wrong_output_counts_as_failed(tmp_path):
    data = gen.generate(7, 1, str(tmp_path))
    expected = expected_digests("dwh", data)
    rows, cols = _dwh_rows(data)
    # row order does not matter, values do
    assert digest(rows[::-1], cols) == expected["dwh_quarterly"]
    q, seg, n, rev = rows[0]
    wrong = [(q, seg, n, rev + 0.01)] + rows[1:]
    runs = [
        {"key": "dwh_quarterly", "s": 1.0, "digest": digest(rows, cols)},
        {"key": "dwh_quarterly", "s": 1.0, "digest": digest(wrong, cols)},
        {"key": "dwh_quarterly", "s": 1.0, "error": "Traceback ..."},
    ]
    assert run.failed_runs(runs, expected) == 2


def test_oracle_digests_for_registry_queries(tmp_path):
    data = gen.generate(7, 1, str(tmp_path))
    got = expected_digests("graph_stream", data)
    assert set(got) == {"q141_part_communities", "q149_stream_dedup"}
    assert got == expected_digests("graph_stream", data)


def test_tail_stays_above_median():
    assert run.tail([1.0, 2.0, 3.0]) == (3.0, 100.0)
    xs = [float(i) for i in range(1, 17)]
    assert run.tail(xs) == (12.0, 75.0)
    xs = [float(i) for i in range(1, 101)]
    assert run.tail(xs) == (90.0, 90.0)


def test_pass_ratio_uses_the_controls_on_both_sides():
    warmup = [{"s": 9.0, "control_s": 4.0}] * (run.WARMUP_PASSES - 1)
    passes = warmup + [{"s": 3.0, "control_s": 2.0}, {"s": 3.0, "control_s": 1.0},
                       {"s": 4.0, "control_s": 3.0}]
    # warm-up passes are not measured, and a measured pass is divided
    # by the mean of the control before it and the one after it
    assert run.pass_ratios(passes) == [2.0, 2.0]


def test_setup_is_scaled_by_the_controls_around_measured_passes():
    passes = [{"s": 9.0, "control_s": 8.0}] * (run.WARMUP_PASSES - 1) + [
        {"s": 3.0, "control_s": 4.0}, {"s": 3.0, "control_s": 4.0}]
    result = {"session_s": 10.0, "first_pass_s": 10.0, "passes": passes}
    # the controls took twice the reference time: the host ran at half speed
    assert run.scaled_setup_s(result, 2.0) == 10.0
