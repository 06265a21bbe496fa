"""The seeded input generator, the oracle comparison and env parsing."""

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

import check
import env
import gen

SRC = os.environ.get("PERFBENCH_TEST_SRC_DIR", "/root/testdata/sf0.001")
needs_src = pytest.mark.skipif(
    not os.path.isfile(os.path.join(SRC, "lineitem.parquet")), reason=f"no source tables at {SRC}"
)


# (child table, column) -> (parent table, key column)
FOREIGN_KEYS = {
    ("nation", "n_regionkey"): ("region", "r_regionkey"),
    ("customer", "c_nationkey"): ("nation", "n_nationkey"),
    ("supplier", "s_nationkey"): ("nation", "n_nationkey"),
    ("orders", "o_custkey"): ("customer", "c_custkey"),
    ("lineitem", "l_orderkey"): ("orders", "o_orderkey"),
    ("lineitem", "l_partkey"): ("part", "p_partkey"),
    ("lineitem", "l_suppkey"): ("supplier", "s_suppkey"),
}


def _unresolved_foreign_keys(data_dir):
    """Count, per foreign key, the child rows whose key has no parent."""
    out = {}
    for (child, col), (parent, key) in FOREIGN_KEYS.items():
        c = pq.read_table(os.path.join(data_dir, f"{child}.parquet"), columns=[col])[col]
        p = pq.read_table(os.path.join(data_dir, f"{parent}.parquet"), columns=[key])[key]
        out[f"{child}.{col}"] = int(pc.sum(pc.invert(pc.is_in(c, value_set=p.combine_chunks()))).as_py() or 0)
    return out


def _bytes(d):
    return {t: open(os.path.join(d, f"{t}.parquet"), "rb").read() for t in gen.TABLES}


@needs_src
def test_same_seed_same_bytes_other_seed_other_inputs(tmp_path):
    a = gen.generate(SRC, str(tmp_path / "a"), seed=3)
    b = gen.generate(SRC, str(tmp_path / "b"), seed=3)
    c = gen.generate(SRC, str(tmp_path / "c"), seed=4)
    assert a["tables"] == b["tables"]
    assert _bytes(tmp_path / "a") == _bytes(tmp_path / "b")
    ba, bc = _bytes(tmp_path / "a"), _bytes(tmp_path / "c")
    assert all(ba[t] != bc[t] for t in ("orders", "lineitem", "events", "customer"))


@needs_src
def test_foreign_keys_resolve_and_rows_are_kept(tmp_path):
    out = gen.generate(SRC, str(tmp_path), seed=5)
    assert _unresolved_foreign_keys(str(tmp_path)) == {f"{c}.{k}": 0 for c, k in FOREIGN_KEYS}
    for t in gen.TABLES:
        src_rows = pq.ParquetFile(os.path.join(SRC, f"{t}.parquet")).metadata.num_rows
        assert out["tables"][t]["rows"] == src_rows
    keys = pq.read_table(os.path.join(tmp_path, "orders.parquet"), columns=["o_orderkey"])["o_orderkey"]
    assert len(np.unique(keys.to_numpy())) == len(keys)


@needs_src
def test_jitter_keeps_grid_domain_and_keys(tmp_path):
    gen.generate(SRC, str(tmp_path), seed=6)
    for table in set(gen.MEASURES) | set(gen.DATES):
        cols = gen.MEASURES.get(table, ()) + gen.DATES.get(table, ())
        src = pq.read_table(os.path.join(SRC, f"{table}.parquet"))
        out = pq.read_table(os.path.join(tmp_path, f"{table}.parquet"))
        for c in cols:
            s, o = src[c].to_numpy(), out[c].to_numpy()
            assert o.min() >= s.min() and o.max() <= s.max()
            if c in gen.MEASURES.get(table, ()):
                d = gen.decimals(s.astype(float))
                assert gen.decimals(o.astype(float)) <= d
            assert not np.array_equal(np.sort(s), np.sort(o))  # actually jittered
        # keys and text are permuted, never changed
        for c in src.column_names:
            if c not in cols:
                assert sorted(src[c].to_pylist(), key=repr) == sorted(out[c].to_pylist(), key=repr)


def test_decimals_detects_the_grid():
    assert gen.decimals(np.array([1.0, 50.0])) == 0
    assert gen.decimals(np.array([0.05, 0.1])) == 2
    assert gen.decimals(np.array([900.1, 999.9])) == 1


@pytest.fixture
def con(tmp_path):
    pq.write_table(pa.table({"k": [1, 2, 2], "v": [1.0, 2.0, 2.0]}), tmp_path / "t.parquet")
    c = check.connect(str(tmp_path), ["t"])
    yield c
    c.close()


def _result(tmp_path, **cols):
    d = tmp_path / "res"
    d.mkdir(exist_ok=True)
    pq.write_table(pa.table(cols), d / "part-0.parquet")
    return str(d)


def test_compare_accepts_same_multiset_within_tolerance(con, tmp_path):
    res = _result(tmp_path, V=[2.0 * (1 + 1e-13), 1.0, 2.0], k=[2, 1, 2])
    assert check.compare(con, res, "SELECT k, v FROM t") is None


def test_compare_rejects_value_type_and_shape_differences(con, tmp_path):
    sql = "SELECT k, v FROM t"
    assert "rows differ" in check.compare(con, _result(tmp_path, k=[1, 2, 2], v=[1.0, 2.0, 2.001]), sql)
    assert "rows differ" in check.compare(con, _result(tmp_path, k=[1, 2, 3], v=[1.0, 2.0, 2.0]), sql)
    assert "row count" in check.compare(con, _result(tmp_path, k=[1, 2], v=[1.0, 2.0]), sql)
    assert "columns differ" in check.compare(con, _result(tmp_path, k=[1, 2, 2], w=[1.0, 2.0, 2.0]), sql)
    # a duplicate row is not the same multiset as two distinct rows
    assert check.compare(con, _result(tmp_path, k=[1, 1, 2], v=[1.0, 1.0, 2.0]), sql) is not None


def test_driver_memory_and_cpus_parse_defensively():
    assert env.mem_mb("6g") == 6144 and env.mem_mb("512M") == 512
    assert env.mem_mb("*") is None and env.mem_mb("6 g") is None and env.mem_mb("") is None
    box = 15 * 1024
    assert env.driver_mem("6g", box) == "6144m"
    assert env.driver_mem("24g", box) == f"{box * 2 // 5}m"  # above the box's budget
    assert env.driver_mem("lots", box) == f"{box * 2 // 5}m"
    assert env.driver_mem(None, 1000) == "1024m"
    assert env.nproc() >= 1
