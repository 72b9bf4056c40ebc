"""Bin-packing semantics: check-before-append, ascending sort,
group-exceeds-cap — property-tested against a hand fold, plus a Spark
roundtrip of the grouped-map UDF and of the SQL aggregate() fold.
"""

from __future__ import annotations

import random

from hypothesis import given, settings, strategies as st

from iceberg_diag_spark.functions.cost import MAX_GROUP_BYTE_SIZE
from iceberg_diag_spark.operators.binpack import binpack_groups, pack_sizes

MIB = 1024 * 1024


def reference_fold(sizes, cap):
    """Literal transcription of the reference algorithm's observable
    output (group membership lists) for cross-checking pack_sizes."""
    sorted_sizes = sorted(sizes)
    result, current = [], []
    total = 0
    for s in sorted_sizes:
        if total > cap:
            result.append(current)
            current = []
            total = 0
        current.append(s)
        total += s
    if current:
        result.append(current)
    return result


@given(
    st.lists(st.integers(min_value=0, max_value=2_000 * MIB), max_size=200),
    st.integers(min_value=1, max_value=1_000 * MIB),
)
@settings(max_examples=200, deadline=None)
def test_pack_matches_reference_fold(sizes, cap):
    expected = [(len(g), sum(g)) for g in reference_fold(sizes, cap)]
    assert pack_sizes(sizes, cap) == expected


def test_check_before_append_overflow():
    # 3 files of 400 MiB, cap 750 MiB: group closes only AFTER the
    # running total exceeds the cap → first group holds TWO files
    # (800 MiB > cap), not one.
    groups = pack_sizes([400 * MIB] * 3, 750 * MIB)
    assert groups == [(2, 800 * MIB), (1, 400 * MIB)]


def test_empty_and_single():
    assert pack_sizes([], 10) == []
    assert pack_sizes([5], 1) == [(1, 5)]  # first file always joins group 0


def test_spark_binpack_matches_local(spark):
    rng = random.Random(7)
    rows = [
        (f"p{i % 5}", rng.randint(1 * MIB, 900 * MIB))
        for i in range(500)
    ]
    df = spark.createDataFrame(rows, "partition_key string, file_size_in_bytes long")
    got = {
        (r["partition_key"], r["group_id"]): (r["group_file_count"], r["group_size"])
        for r in binpack_groups(df).collect()
    }
    for p in {f"p{i}" for i in range(5)}:
        local = pack_sizes([s for k, s in rows if k == p])
        for gid, expect in enumerate(local):
            assert got[(p, gid)] == expect
    assert len(got) == sum(
        len(pack_sizes([s for k, s in rows if k == p])) for p in {f"p{i}" for i in range(5)}
    )


_ADVERSARIAL_SIZE = st.one_of(
    st.integers(min_value=0, max_value=2_000 * MIB),
    # adversarial: exact cap multiples and off-by-one sizes
    st.sampled_from(
        [
            0,
            1,
            MAX_GROUP_BYTE_SIZE - 1,
            MAX_GROUP_BYTE_SIZE,
            MAX_GROUP_BYTE_SIZE + 1,
        ]
    ),
)

# Every batch also carries these partitions: all deletes (no DATA file
# to pack), a NULL partition key, one DATA file larger than the cap.
_FIXED_PARTITIONS = {
    "all_deletes": [(MAX_GROUP_BYTE_SIZE + 1, 1), (5, 2)],
    None: [(MAX_GROUP_BYTE_SIZE - 1, 0), (MAX_GROUP_BYTE_SIZE, 0), (3, 1)],
    "one_big": [(3 * MAX_GROUP_BYTE_SIZE, 0)],
}


def test_sql_fold_equals_reference_fold(spark):
    """The diagnostics panel's SQL aggregate() fold (per-partition
    sorted DATA sizes, binpack.pack_fold_sql) must agree with the
    reference check-before-append fold on group count AND total read
    cost for any input, including zero sizes and cap-exact boundaries.
    Each example packs a whole batch of partitions into one DataFrame,
    so the property costs one Spark job per example."""
    from iceberg_diag_spark.functions.cost import FETCH_SIZE, MILLISECONDS_PER_SCAN
    from iceberg_diag_spark.operators.diagnostics import partition_stats_with_after
    from iceberg_diag_spark.sources.data_files import FILES_SCHEMA

    @given(
        st.lists(
            st.lists(
                st.tuples(_ADVERSARIAL_SIZE, st.sampled_from([0, 0, 0, 1, 2])),
                min_size=1,
                max_size=60,
            ),
            min_size=1,
            max_size=25,
        )
    )
    @settings(max_examples=15, deadline=None)
    def check(generated):
        parts = {f"p{i}": files for i, files in enumerate(generated)}
        parts.update(_FIXED_PARTITIONS)
        rows = [(k, size, c) for k, files in parts.items() for size, c in files]
        got = {
            r["partition_key"]: (r["after_file_count"], r["after_scan_overhead"])
            for r in partition_stats_with_after(
                spark.createDataFrame(rows, FILES_SCHEMA)
            ).collect()
        }
        want = {}
        for k, files in parts.items():
            groups = pack_sizes([size for size, c in files if c == 0])
            cost = sum(total // FETCH_SIZE + 2 for _, total in groups)
            want[k] = (len(groups), cost * MILLISECONDS_PER_SCAN)
        assert got == want

    check()
