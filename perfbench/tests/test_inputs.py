"""Seeded inputs and oracle expectations are reproducible per seed."""

import pytest

import inputs
import oracle
from spec import WORKLOADS


def _expected(seed, tmp_path, workload):
    from multi_threaded_mapreduce_framework_spark.queries import all_queries

    registry = all_queries()
    sql = {q: registry[q].oracle for q in workload.queries}
    d = tmp_path / f"seed{seed}-{len(list(tmp_path.iterdir()))}"
    fp = inputs.write_inputs(seed, workload.tables, str(d))
    return fp, oracle.expected_outputs(str(d), workload.tables, sql)


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_same_seed_same_fingerprints_other_seed_differs(tmp_path, name):
    workload = WORKLOADS[name]
    fp_a, exp_a = _expected(1, tmp_path, workload)
    fp_b, exp_b = _expected(1, tmp_path, workload)
    fp_c, exp_c = _expected(2, tmp_path, workload)
    assert fp_a == fp_b
    assert exp_a == exp_b
    assert fp_a != fp_c
    assert exp_a != exp_c
    assert all(e["rows"] > 0 for e in exp_a.values())


def test_derivation_keeps_share_and_dimensions():
    tables = ("region", "customer", "orders", "lineitem", "documents", "events")
    full = inputs.derive_tables(0, tables)
    src = {t: inputs.pq.read_table(f"{inputs.DATA_DIR}/{t}.parquet") for t in tables}
    assert full["region"].equals(src["region"])
    assert full["customer"].equals(src["customer"])
    for t in ("orders", "documents"):
        share = full[t].num_rows / src[t].num_rows
        assert abs(share - inputs.KEEP_SHARE) < 0.01
    kept_orders = set(full["orders"]["o_orderkey"].to_pylist())
    kept_lines = set(full["lineitem"]["l_orderkey"].to_pylist())
    all_lines = src["lineitem"]["l_orderkey"].to_pylist()
    assert kept_lines <= kept_orders
    # every lineitem of a kept order is kept
    assert full["lineitem"].num_rows == sum(1 for k in all_lines if k in kept_orders)
    users = set(full["events"]["user_id"].to_pylist())
    assert full["events"].num_rows == sum(
        1 for u in src["events"]["user_id"].to_pylist() if u in users
    )
