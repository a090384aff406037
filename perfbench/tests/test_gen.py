from __future__ import annotations

import glob
import hashlib
import os

import gen


def _hashes(d: str) -> dict[str, str]:
    out = {}
    for f in sorted(glob.glob(os.path.join(d, "*.parquet"))):
        with open(f, "rb") as fh:
            out[os.path.basename(f)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_same_seed_same_bytes(tmp_path):
    a = gen.generate(3, 2, str(tmp_path / "a"))
    b = gen.generate(3, 2, str(tmp_path / "b"))
    assert _hashes(a) == _hashes(b)
    assert len(_hashes(a)) == 8


def test_seeds_differ(tmp_path):
    a = _hashes(gen.generate(3, 2, str(tmp_path)))
    b = _hashes(gen.generate(4, 2, str(tmp_path)))
    for t in ("orders", "lineitem", "events", "customer", "part"):
        assert a[f"{t}.parquet"] != b[f"{t}.parquet"], t


def test_cache_is_reused_and_builds_leave_nothing(tmp_path):
    root = str(tmp_path)
    a = gen.generate(5, 2, root)
    stamp = os.path.getmtime(os.path.join(a, "orders.parquet"))
    assert gen.generate(5, 2, root) == a
    assert os.path.getmtime(os.path.join(a, "orders.parquet")) == stamp
    assert os.listdir(root) == ["seed5-x2"]


def test_replication_scales_keys(tmp_path):
    import pyarrow.parquet as pq

    d = gen.generate(6, 3, str(tmp_path), sizes=(("orders", 400),))
    orders = pq.read_table(os.path.join(d, "orders.parquet"))
    keys = orders.column("o_orderkey").to_pylist()
    assert sorted(keys) == list(range(3 * 400))
    customers = pq.read_metadata(os.path.join(d, "customer.parquet")).num_rows
    assert customers == 3 * gen.BASE_ROWS["customer"]
