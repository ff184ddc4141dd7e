"""Bloom build/probe semantics: the spec's hard no-false-negative
invariant, the statistical FP bound, skip-unknown-key behavior, and
the half-up rounding key (SURVEY.md §5)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from mrbf_spark.bloom import build_bloom_filters, fp_report, probe_bloom_filters
from mrbf_spark.bloom.pipeline import bloom_fp_pipeline, half_up_key, train_test_split
from mrbf_spark.tables import load_table

from conftest import SF_SMOKE


@pytest.fixture(scope="module")
def orders(spark):
    return load_table(spark, SF_SMOKE, "orders").cache()


def test_no_false_negatives(spark, orders):
    """Spec: 'there can never be false negatives' — every inserted
    element must probe positive."""
    filters = build_bloom_filters(orders, "o_orderpriority", "o_orderkey", 0.05)
    probed = probe_bloom_filters(orders, "o_orderpriority", "o_orderkey", filters)
    assert probed.filter(F.col("bloom_hit") == 0).count() == 0


def test_fp_rate_within_binomial_bound(spark, orders):
    """Disjoint probe set ⇒ every hit is a false positive; the overall
    rate must be statistically consistent with p (reference report §6
    observed ≈ p ± 15% relative at much larger n; we use a generous
    4-sigma binomial band for the small sf0.001 sample)."""
    p = 0.05
    rep = bloom_fp_pipeline(orders, "o_orderpriority", "o_orderkey", p=p).collect()
    fp = sum(r["false_positives"] for r in rep)
    n = sum(r["total_tests"] for r in rep)
    sigma = (n * p * (1 - p)) ** 0.5
    assert abs(fp - n * p) < 4 * sigma, f"fp={fp}, expected {n * p:.1f} ± {4*sigma:.1f}"


def test_p_sweep_rates_track_each_p(spark, orders):
    """One-app p-sweep (sh-scripts/{2,3}{a,b}.sh loops): each swept p
    must show a measured aggregate fp_rate inside its own 4-sigma
    binomial band — i.e. the per-p filters are really built at that p,
    not sharing geometry."""
    from mrbf_spark.bloom.pipeline import bloom_fp_sweep

    ps = [0.01, 0.05, 0.1]
    rows = bloom_fp_sweep(orders, "o_orderpriority", "o_orderkey", ps).collect()
    assert {r["p"] for r in rows} == set(ps)
    for p in ps:
        fp = sum(r["false_positives"] for r in rows if r["p"] == p)
        n = sum(r["total_tests"] for r in rows if r["p"] == p)
        sigma = (n * p * (1 - p)) ** 0.5
        assert abs(fp - n * p) < 4 * sigma, f"p={p}: fp={fp}, n={n}"


def test_cli_p_sweep_prints_accuracy_table(spark, orders, tmp_path, capsys):
    """`pipeline -p 0.01,0.1` prints the report's §6 table shape: a
    key row per bloom key with one fp_rate column per p, plus avg."""
    from mrbf_spark.__main__ import main

    inp = str(tmp_path / "orders.parquet")
    orders.write.parquet(inp)
    main(
        [
            "pipeline",
            "--input", inp,
            "--key", "o_orderpriority",
            "--value", "o_orderkey",
            "-p", "0.01,0.1",
        ]
    )
    out = capsys.readouterr().out.strip().splitlines()
    assert out[0].split("\t") == ["key", "p=0.01", "p=0.1"]
    assert out[-1].startswith("avg\t")
    # 5 order priorities + header + avg
    assert len(out) == 7


def test_unknown_keys_skipped(spark, orders):
    """Rows whose key has no filter are dropped, not errors
    (BloomFilterMapper.java:89-93 semantics)."""
    filters = build_bloom_filters(
        orders.filter(F.col("o_orderpriority") == "1-URGENT"),
        "o_orderpriority",
        "o_orderkey",
        0.05,
    )
    probed = probe_bloom_filters(orders, "o_orderpriority", "o_orderkey", filters)
    keys = [r["o_orderpriority"] for r in probed.select("o_orderpriority").distinct().collect()]
    assert keys == ["1-URGENT"]


def test_filter_table_shape(spark, orders):
    filters = build_bloom_filters(orders, "o_orderpriority", "o_orderkey", 0.01)
    rows = filters.collect()
    assert {r["key"] for r in rows} == {
        "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"
    }
    for r in rows:
        assert r["k"] == 7
        assert len(r["words"]) == (r["m"] + 63) // 64
        # at least one bit set, never more bits than k*n
        popcount = sum(bin(w & (2**64 - 1)).count("1") for w in r["words"])
        assert 0 < popcount <= r["k"] * r["n"]


def test_empty_input_yields_empty_filters(spark, orders):
    empty = orders.filter(F.lit(False))
    filters = build_bloom_filters(empty, "o_orderpriority", "o_orderkey", 0.01)
    assert filters.count() == 0


def test_half_up_key(spark):
    df = spark.createDataFrame(
        [(1.49,), (1.5,), (2.5,), (3.49,), (10.0,), (-0.5,)], "x double"
    )
    got = [r[0] for r in df.select(half_up_key("x")).collect()]
    # floor(x+0.5): matches int(x+0.5) for non-negative x
    # (bloomfilters_util.py:98) and Java Math.round for all x.
    assert got == [1, 2, 3, 3, 10, 0]


def test_random_split_disjoint_exhaustive(spark, orders):
    train, test = train_test_split(orders)
    n_train, n_test, n_all = train.count(), test.count(), orders.count()
    assert n_train + n_test == n_all
    assert train.join(test, "o_orderkey", "inner").count() == 0
    # roughly 60/40
    assert 0.5 < n_train / n_all < 0.7


def test_sql_build_bit_identical_to_default(spark, orders):
    """The pure-JVM build variant must produce exactly the same
    filters as the mapInPandas fold."""
    from mrbf_spark.bloom.core import build_bloom_filters_sql

    a = {
        r["key"]: (r["n"], r["m"], r["k"], r["words"])
        for r in build_bloom_filters(orders, "o_orderpriority", "o_orderkey", 0.05).collect()
    }
    b = {
        r["key"]: (r["n"], r["m"], r["k"], r["words"])
        for r in build_bloom_filters_sql(orders, "o_orderpriority", "o_orderkey", 0.05).collect()
    }
    assert a == b


def test_sparse_and_dense_builds_bit_identical(spark, orders):
    """Forcing sparse partials, forcing dense partials, and the
    adaptive default must all produce exactly the same filter tables —
    the representation is a shuffle/memory optimization, never a
    semantic one. Run at two p (small m → adaptive goes dense; big m →
    adaptive goes sparse) so both adaptive branches are exercised."""
    for p in (0.05, 0.0001):
        built = {
            rep: {
                r["key"]: (r["n"], r["m"], r["k"], r["words"])
                for r in build_bloom_filters(
                    orders, "o_orderpriority", "o_orderkey", p, representation=rep
                ).collect()
            }
            for rep in ("auto", "dense", "sparse")
        }
        assert built["auto"] == built["dense"] == built["sparse"], f"p={p}"


def test_sparse_partials_shrink_shuffle(spark, orders):
    """At a low fp target (big m) the sparse representation must
    actually be chosen: every partial from the forced-sparse fold must
    carry fewer index entries than the dense word count it replaces."""
    from mrbf_spark.bloom.core import num_bits, num_hashes, _partition_partials

    import pyspark.sql.functions as F

    p = 0.0001
    k = num_hashes(p)
    counts = {
        r["o_orderpriority"]: r["count"]
        for r in orders.groupBy("o_orderpriority").count().collect()
    }
    m_by_key = {kk: num_bits(n, p) for kk, n in counts.items()}
    keyed = orders.select(
        F.col("o_orderpriority").cast("string").alias("__key"),
        F.col("o_orderkey").cast("string").alias("__value"),
    )
    from mrbf_spark.bloom.core import hash_indexes_col

    sizes = spark.createDataFrame(
        [(kk, int(m)) for kk, m in m_by_key.items()], "__key string, m bigint"
    )
    hashed = keyed.join(F.broadcast(sizes), "__key").select(
        "__key", hash_indexes_col(F.col("__value"), F.col("m"), k).alias("__indexes")
    )
    # Sparse wins when a partition's index count for a key is under
    # nwords/2 ≈ 0.15·n_key — i.e. when each partition holds ≪1% of a
    # key's rows, the normal shape on a many-executor cluster. Force
    # that shape here (256 slices of the tiny smoke table).
    hashed = hashed.repartition(256)
    partials = hashed.mapInArrow(
        _partition_partials(m_by_key, k, "auto"),
        "key string, words array<long>, idxs array<long>",
    ).collect()
    assert partials, "no partials produced"
    n_sparse = sum(1 for r in partials if r["idxs"] is not None)
    # the adaptive fold must pick sparse for the overwhelming majority
    # of thin slices (a slice that collects ≥3 rows of one key may
    # legitimately densify — that's the adaptivity working, not a bug)
    assert n_sparse >= 0.9 * len(partials), (n_sparse, len(partials))
    shuffled_cells = sum(
        len(r["idxs"]) if r["idxs"] is not None else len(r["words"]) for r in partials
    )
    dense_cells = sum(((m_by_key[r["key"]] + 63) >> 6) for r in partials)
    # and the partial shuffle must be far below the all-dense cost
    assert shuffled_cells < 0.5 * dense_cells, (shuffled_cells, dense_cells)
    for r in partials:
        if r["idxs"] is not None:
            assert list(r["idxs"]) == sorted(set(r["idxs"]))  # canonical form


def test_build_invariant_to_partitioning_and_representation(spark, orders):
    """The fold and the merge must not change a single bit with the
    input partitioning (1, 4, 200), the forced partial representation
    or the key cardinality (5 priorities, 150 customers): every case
    equals a driver-side numpy OR of the collected per-row hash
    indexes. The Hadoop flavor is checked against the pure-Python
    Hadoop hash the same way."""
    import numpy as np

    from mrbf_spark.bloom.core import hash_indexes_col, num_bits, num_hashes
    from mrbf_spark.bloom.hadoop_flavor import hadoop_hash_indexes

    p = 0.01
    k = num_hashes(p)
    for key_col in ("o_orderpriority", "o_custkey"):
        rows = orders.select(
            F.col(key_col).cast("string").alias("key"),
            F.col("o_orderkey").cast("string").alias("value"),
        ).collect()
        n_by_key: dict[str, int] = {}
        for r in rows:
            n_by_key[r["key"]] = n_by_key.get(r["key"], 0) + 1
        m_by_key = {kk: num_bits(n, p) for kk, n in n_by_key.items()}
        sized = spark.createDataFrame(
            [(r["key"], r["value"], int(m_by_key[r["key"]])) for r in rows],
            "key string, value string, m bigint",
        )
        spark_indexes = sized.select(
            "key", hash_indexes_col(F.col("value"), F.col("m"), k).alias("idx")
        ).collect()
        hadoop_indexes = [
            (r["key"], hadoop_hash_indexes(r["value"], m_by_key[r["key"]], k)) for r in rows
        ]

        def or_table(indexes):
            words = {kk: np.zeros((m + 63) >> 6, dtype=np.int64) for kk, m in m_by_key.items()}
            for kk, idx in indexes:
                idx = np.asarray(idx, dtype=np.int64)
                np.bitwise_or.at(words[kk], idx >> 6, np.int64(1) << (idx & 63))
            return {
                kk: (n_by_key[kk], m_by_key[kk], k, w.tolist()) for kk, w in words.items()
            }

        expected = {
            "spark-murmur3": or_table((r["key"], r["idx"]) for r in spark_indexes),
            "hadoop-murmur2": or_table(hadoop_indexes),
        }
        for parts in (1, 4, 200):
            df = orders.repartition(parts)
            for flavor, rep in (
                ("spark-murmur3", "sparse"),
                ("spark-murmur3", "dense"),
                ("hadoop-murmur2", "auto"),
            ):
                got = {
                    r["key"]: (r["n"], r["m"], r["k"], r["words"])
                    for r in build_bloom_filters(
                        df, key_col, "o_orderkey", p, flavor=flavor, representation=rep
                    ).collect()
                }
                assert got == expected[flavor], (key_col, parts, flavor, rep)


def test_build_job_count(spark, orders):
    """One action over a build starts at most 6 Spark jobs on a
    4-partition input: the per-key counts (shuffle + collect), the
    sizes table for the broadcast join, the guard's repartition, the
    fold with its shuffle by key, and the merge."""
    sc = spark.sparkContext
    four = orders.repartition(4).cache()
    four.count()
    group = "test_build_job_count"
    sc.setJobGroup(group, "bloom build")
    try:
        build_bloom_filters(four, "o_orderpriority", "o_orderkey", 0.01).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        four.unpersist()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= 6, jobs


def test_probe_nonbroadcast_path(spark, orders, monkeypatch):
    """Above the broadcast ceiling the probe must fall back to a plain
    join and still produce identical results."""
    import mrbf_spark.bloom.core as core

    filters = build_bloom_filters(orders, "o_orderpriority", "o_orderkey", 0.05).cache()
    filters.count()
    a = probe_bloom_filters(orders, "o_orderpriority", "o_orderkey", filters, k=5, broadcast=True)
    monkeypatch.setattr(core, "BROADCAST_CEILING_BYTES", 1)  # force fallback
    b = probe_bloom_filters(orders, "o_orderpriority", "o_orderkey", filters, k=5, broadcast="auto")
    ra = {(r["o_orderkey"], r["bloom_hit"]) for r in a.select("o_orderkey", "bloom_hit").collect()}
    rb = {(r["o_orderkey"], r["bloom_hit"]) for r in b.select("o_orderkey", "bloom_hit").collect()}
    assert ra == rb and len(ra) > 0
