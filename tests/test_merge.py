"""MERGE/upsert semantics (ops/merge.py): delta wins on key collision,
untouched base rows pass through, new delta keys append, and null-keyed
base rows are never matched away (anti join null semantics — the
contract deliberately diverges from SQL NOT IN here)."""

from __future__ import annotations

import random

import pytest

from agent_data_pipeline_spark.ops.merge import upsert


def _rows(df):
    # key=repr: None is not orderable against ints
    return sorted(((r["k"], r["v"]) for r in df.collect()), key=repr)


def test_upsert_update_insert_passthrough(spark):
    base = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k int, v string")
    delta = spark.createDataFrame([(2, "B"), (9, "Z")], "k int, v string")
    assert _rows(upsert(base, delta, ["k"])) == [(1, "a"), (2, "B"), (3, "c"), (9, "Z")]


def test_upsert_null_key_base_row_survives(spark):
    base = spark.createDataFrame([(None, "n"), (1, "a")], "k int, v string")
    delta = spark.createDataFrame([(1, "A")], "k int, v string")
    assert _rows(upsert(base, delta, ["k"])) == [(1, "A"), (None, "n")]


def test_upsert_empty_delta_is_identity(spark):
    base = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    delta = spark.createDataFrame([], "k int, v string")
    assert _rows(upsert(base, delta, ["k"])) == [(1, "a"), (2, "b")]


def _path(ids):
    return [(ids[i], ids[i + 1]) for i in range(len(ids) - 1)]


_PERMUTED_64 = random.Random(64).sample(range(64), 64)


@pytest.mark.parametrize(
    "pairs, expected",
    [
        (
            [(1, 2), (2, 3), (10, 11)],
            {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)},
        ),
        # the min label needs 50 rounds to cross an in-order chain
        (_path(list(range(51))), {(n, 0) for n in range(51)}),
        (_path(_PERMUTED_64), {(n, 0) for n in range(64)}),
    ],
    ids=["hand", "chain_51", "permuted_path_64"],
)
def test_connected_components_chain_transitivity(spark, pairs, expected):
    """a-b and b-c near-dup pairs (no a-c edge) must land in ONE
    component labeled by the min id — the transitive case greedy
    pairwise dedup mislabels. Plus: two disjoint pairs stay separate,
    and chains of edited copies longer than any round budget still
    resolve to one component."""
    from agent_data_pipeline_spark.llmdata.dedup import connected_components

    df = spark.createDataFrame(pairs, "id_a bigint, id_b bigint")
    got = {(r["node"], r["comp"]) for r in connected_components(df).collect()}
    assert got == expected


def test_scd2_close_insert_noop_newkey_history(spark):
    """SCD2 apply: changed current row closed + new version; identical
    update is a no-op; unknown key inserts; history untouched; untracked
    attrs carry into the new version."""
    from agent_data_pipeline_spark.ops.merge import scd2_apply

    dim = spark.createDataFrame(
        [
            (1, "a", 50.0, "2010-01-01", "2020-01-01"),   # history
            (1, "a", 100.0, "2020-01-01", None),           # current, no update
            (2, "b", 200.0, "2020-01-01", None),           # current, changed
            (3, "c", 300.0, "2020-01-01", None),           # current, same value
        ],
        "id int, name string, bal double, valid_from string, valid_to string",
    )
    upd = spark.createDataFrame(
        [(2, 250.0), (3, 300.0), (4, 400.0)], "id int, bal double"
    )
    out = scd2_apply(dim, upd, "id", ["bal"], "2024-06-01")
    rows = sorted(
        ((r["id"], r["name"], r["bal"], r["valid_from"], r["valid_to"]) for r in out.collect()),
        key=repr,
    )
    assert rows == sorted([
        (1, "a", 50.0, "2010-01-01", "2020-01-01"),
        (1, "a", 100.0, "2020-01-01", None),
        (2, "b", 200.0, "2020-01-01", "2024-06-01"),  # closed
        (2, "b", 250.0, "2024-06-01", None),          # new version, name carried
        (3, "c", 300.0, "2020-01-01", None),          # idempotent no-op
        (4, None, 400.0, "2024-06-01", None),         # brand-new key
    ], key=repr)


def test_scd2_rejects_duplicate_update_keys_and_empty_tracked(spark):
    """A batch with two versions of the same key would fan the current
    row into multiple closed/new versions — the lakehouse 'multiple
    source rows matched' error. An empty tracked list has no defined
    change predicate."""
    import pytest

    from agent_data_pipeline_spark.ops.merge import scd2_apply

    dim = spark.createDataFrame(
        [(1, 1.0, "2020-01-01", None)],
        "id int, bal double, valid_from string, valid_to string",
    )
    dup_upd = spark.createDataFrame([(1, 2.0), (1, 3.0)], "id int, bal double")
    with pytest.raises(ValueError, match="multiple rows for key"):
        scd2_apply(dim, dup_upd, "id", ["bal"], "2024-06-01")
    ok_upd = spark.createDataFrame([(1, 2.0)], "id int, bal double")
    with pytest.raises(ValueError, match="non-empty"):
        scd2_apply(dim, ok_upd, "id", [], "2024-06-01")


def test_scd2_null_transitions_count_as_changes(spark):
    """NULL -> value and value -> NULL must both version (null-safe
    comparison), not silently pass through."""
    from agent_data_pipeline_spark.ops.merge import scd2_apply

    dim = spark.createDataFrame(
        [(1, None, "2020-01-01", None), (2, 5.0, "2020-01-01", None)],
        "id int, bal double, valid_from string, valid_to string",
    )
    upd = spark.createDataFrame([(1, 7.0), (2, None)], "id int, bal double")
    out = scd2_apply(dim, upd, "id", ["bal"], "2024-06-01").collect()
    closed = {r["id"] for r in out if r["valid_to"] == "2024-06-01"}
    opened = {(r["id"], r["bal"]) for r in out if r["valid_from"] == "2024-06-01"}
    assert closed == {1, 2}
    assert opened == {(1, 7.0), (2, None)}


def test_snapshot_diff_insert_delete_update_attribution(spark):
    """CDC diff: per-key change_type + per-column attribution; unchanged
    keys drop out; value->NULL counts as a change (null-safe compare)."""
    from agent_data_pipeline_spark.ops.merge import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0), (4, "d", None)],
        "k int, s string, x double",
    )
    new = spark.createDataFrame(
        [(2, "b", 20.0), (3, "C", 31.0), (4, "d", 40.0), (5, "e", 50.0)],
        "k int, s string, x double",
    )
    got = {
        (r["k"], r["change_type"], r["changed_cols"])
        for r in snapshot_diff(old, new, ["k"]).collect()
    }
    assert got == {
        (1, "delete", ""),
        (3, "update", "s,x"),
        (4, "update", "x"),
        (5, "insert", ""),
    }


def test_snapshot_diff_all_null_compare_row_present_both(spark):
    """A key present in both snapshots with all compared columns NULL is
    unchanged — presence must come from the marker, not data columns."""
    from agent_data_pipeline_spark.ops.merge import snapshot_diff

    old = spark.createDataFrame([(1, None)], "k int, v string")
    new = spark.createDataFrame([(1, None)], "k int, v string")
    assert snapshot_diff(old, new, ["k"]).count() == 0


def test_point_in_time_join_picks_version_at_fact_ts(spark):
    """Each fact row lands on the dim version whose interval holds its
    timestamp; facts before the first version or on unknown keys keep
    NULL attributes (left join audit contract)."""
    from pyspark.sql import functions as F

    from agent_data_pipeline_spark.ops.merge import point_in_time_join

    dim = spark.createDataFrame(
        [
            (1, "v1", "2020-01-01", "2020-06-01"),
            (1, "v2", "2020-06-01", None),
            (2, "w1", "2020-03-01", None),
        ],
        "id int, attr string, valid_from string, valid_to string",
    )
    facts = spark.createDataFrame(
        [
            (100, 1, "2020-02-15"),  # v1 window
            (101, 1, "2020-06-01"),  # boundary -> v2 (half-open)
            (102, 1, "2021-01-01"),  # open interval -> v2
            (103, 2, "2020-01-01"),  # before first version -> NULL
            (104, 9, "2020-07-01"),  # unknown key -> NULL
        ],
        "fid int, key int, ts string",
    )
    out = point_in_time_join(
        facts, dim, fact_key="key", fact_ts=F.col("ts"), dim_key="id"
    )
    got = {(r["fid"], r["attr"]) for r in out.collect()}
    assert got == {
        (100, "v1"),
        (101, "v2"),
        (102, "v2"),
        (103, None),
        (104, None),
    }


def test_merge_partial_aggs_equals_full_recompute(spark):
    """Combining per-batch (count, sum) partial states == aggregating
    the union of the raw batches (monoid combine law)."""
    from pyspark.sql import functions as F

    from agent_data_pipeline_spark.ops.merge import merge_partial_aggs

    a = spark.createDataFrame(
        [("x", 1.0), ("x", 2.0), ("y", 3.0)], "g string, v double"
    )
    b = spark.createDataFrame(
        [("x", 4.0), ("z", 5.0)], "g string, v double"
    )

    def partial(df):
        return df.groupBy("g").agg(
            F.count(F.lit(1)).alias("n"), F.sum("v").alias("s")
        )

    merged = merge_partial_aggs(partial(a), partial(b), ["g"], ["n", "s"])
    full = partial(a.unionByName(b))
    assert {tuple(r) for r in merged.collect()} == {
        tuple(r) for r in full.collect()
    }


def test_apply_cdc_insert_update_delete(spark):
    from agent_data_pipeline_spark.ops.merge import apply_cdc

    base = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "k int, v string, x int"
    )
    changes = spark.createDataFrame(
        [(2, "b2", 25, "U"), (3, None, 0, "D"), (4, "d", 40, "I")],
        "k int, v string, x int, op string",
    )
    got = {
        r.k: (r.v, r.x)
        for r in apply_cdc(base, changes, keys=["k"]).collect()
    }
    assert got == {1: ("a", 10), 2: ("b2", 25), 4: ("d", 40)}
