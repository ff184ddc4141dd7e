"""The benchmark's workloads: one op each, its output check, and the
traced form of the op that separates its layers.

An op is one call into ``mrbf_spark``'s public API plus the action
that consumes its whole result. The traced form makes the same calls
from the benchmark side, one span per layer, and materializes each
layer's output inside its span so the layer's Spark jobs are its own.

The output checks are plain functions over plain data, so the tests
can hand them corrupted results without a Spark session.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

import gen
from spans import find

FP_SWEEP_PS = (0.01, 0.05, 0.1)
SEMIJOIN_P = 0.01  # the probability bloom_semijoin_prune builds with
URGENT = "1-URGENT"
# fp_rate_over_p only over (key, p) cells expecting at least this many
# false positives: a key with a dozen probes reads 0 or 8p by chance.
MIN_EXPECTED_FP = 10
# A filter sized for p with the paper's formulas, k = ceil(log2 1/p)
# hashes and m = ceil(-n ln p / ln^2 2) bits, has an ideal
# false-positive rate (1 - e^(-kn/m))^k of 1.003p, 1.02p and 1.03p at
# p = 0.01, 0.05 and 0.1. The check allows 5% either side of p.
FP_SLACK = 0.05


def check_fp_sweep(rows: list[dict], census: dict, test_census: dict, ps) -> list[str]:
    """``rows``: the sweep's (key, p, false_positives, total_tests,
    fp_rate). ``census``: rows per key in the whole input (from the
    generator); ``test_census``: rows per key in the test half.

    Every key with rows in both halves has one report row per p; its
    total_tests is the test-half census; its false-positive count is
    within six binomial standard deviations (plus one) of a rate
    between p(1 - FP_SLACK) and p(1 + FP_SLACK). The bound depends on
    p alone, not on the engine's sizing code, so a smaller filter that
    misses p fails here."""
    errors = []
    want = {
        str(k) for k, t in test_census.items() if t > 0 and census.get(k, 0) - t > 0
    }
    for p in ps:
        got = {r["key"]: r for r in rows if abs(r["p"] - p) < 1e-12}
        if set(got) != want:
            errors.append(f"p={p}: report keys {sorted(got)} != {sorted(want)}")
            continue
        for key, r in got.items():
            tests = test_census[int(key)]
            if r["total_tests"] != tests:
                errors.append(f"p={p} key={key}: total_tests {r['total_tests']} != {tests}")
                continue
            fp = r["false_positives"]
            sd = math.sqrt(tests * p * (1 - p))
            lo = tests * p * (1 - FP_SLACK) - 6 * sd - 1
            hi = tests * p * (1 + FP_SLACK) + 6 * sd + 1
            if not lo <= fp <= hi:
                errors.append(
                    f"p={p} key={key}: {fp} false positives in {tests}, "
                    f"outside [{lo:.1f}, {hi:.1f}]"
                )
            if abs(r["fp_rate"] - fp / tests) > 1e-12:
                errors.append(f"p={p} key={key}: fp_rate {r['fp_rate']} != {fp}/{tests}")
    return errors


def check_semijoin(summary: dict, reference: dict, facts: dict) -> list[str]:
    """``summary``: (rows, items, hash) of the op's result; ``reference``:
    the same for a plain ``left_semi`` join over the same inputs;
    ``facts``: the generator's urgent order and line counts."""
    errors = []
    if summary != reference:
        errors.append(f"result {summary} != plain left_semi {reference}")
    if summary.get("rows") != facts["urgent_orders"]:
        errors.append(f"{summary.get('rows')} orders != {facts['urgent_orders']} urgent")
    if summary.get("items") != facts["urgent_lines"]:
        errors.append(f"{summary.get('items')} items != {facts['urgent_lines']} urgent lines")
    return errors


def check_counts(counts: dict, recorded: dict) -> list[str]:
    return [
        f"{key}: {counts.get(key)} rows != recorded {n}"
        for key, n in recorded.items()
        if counts.get(key) != n
    ]


def _semijoin_summary(df) -> dict:
    """Order-independent digest of a (l_orderkey, n_items) result."""
    row = df.agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum("n_items").alias("items"),
        F.sum(F.xxhash64("l_orderkey", "n_items").cast("decimal(38,0)")).alias("hash"),
    ).collect()[0]
    return {"rows": int(row["rows"]), "items": int(row["items"] or 0), "hash": str(row["hash"])}


def _plain_spark_blooms(df, key_col, value_col, n_by_key: dict, p: float) -> None:
    """Spark's own DataFrame.stat.bloomFilter, one per key at the same
    n and p as the engine's filters."""
    for key, n in n_by_key.items():
        sub = df.filter(F.col(key_col).cast("string") == key)
        sub._jdf.stat().bloomFilter(value_col, int(n), float(p))


class RatingsFpSweep:
    """The paper's own experiment: split the ratings 60/40, build one
    filter per half-up rating on the train half, probe the test half,
    report false positives per key, for three p."""

    name = "ratings_fp_sweep"
    engine_op = "bloom_fp_sweep"
    rows = 120_000

    def __init__(self, data_dir: str, seed: int):
        self.facts = gen.ratings(data_dir, seed, self.rows)
        self.test_census: dict = {}

    def _load(self, spark):
        from mrbf_spark.bloom.pipeline import half_up_key

        return spark.read.parquet(self.facts["path"]).withColumn(
            "rating", half_up_key("averageRating")
        )

    def prepare(self, spark) -> None:
        """Test-half key census from a plain groupBy over the same split."""
        from mrbf_spark.bloom.pipeline import train_test_split

        _, test = train_test_split(self._load(spark))
        self.test_census = {
            int(r["rating"]): int(r["count"])
            for r in test.groupBy("rating").count().collect()
        }

    def op(self, spark):
        from mrbf_spark.bloom.pipeline import bloom_fp_sweep

        out = bloom_fp_sweep(self._load(spark), "rating", "tconst", list(FP_SWEEP_PS))
        return [r.asDict() for r in out.collect()]

    def check(self, result) -> list[str]:
        return check_fp_sweep(result, self.facts["census"], self.test_census, FP_SWEEP_PS)

    def traced(self, spark, tr, op_id: int) -> dict:
        """bloom_fp_sweep's calls, one span per layer. Returns the
        layer counts the spans cannot see, and the op's result.

        The engine's functions are called through their modules, so
        that ``tr.op`` records them; run.py fails the run if they are
        not the calls bloom_fp_sweep makes."""
        from mrbf_spark.bloom import core, pipeline, sizing

        rows, filter_bits, n_first = [], 0, {}
        with tr.op(op_id):
            with tr.span("pipeline.split", op_id):
                train, test = pipeline.train_test_split(self._load(spark))
                train, test = train.cache(), test.cache()
                train.count()
                test.count()
            for p in FP_SWEEP_PS:
                with tr.span("build", op_id):
                    with tr.span("build.call", op_id):
                        filters = core.build_bloom_filters(train, "rating", "tconst", p)
                    with tr.span("build.exec", op_id):
                        filters = filters.cache()
                        meta = filters.select("key", "n", "m").collect()
                filter_bits += sum(r["m"] for r in meta)
                n_first = n_first or {r["key"]: r["n"] for r in meta}
                with tr.span("probe", op_id):
                    probed = core.probe_bloom_filters(
                        test, "rating", "tconst", filters, k=sizing.num_hashes(p), broadcast=True
                    )
                    rep = core.fp_report(probed, "rating").withColumn("p", F.lit(float(p)))
                    rows += [r.asDict() for r in rep.collect()]
                filters.unpersist()
        with tr.span("semijoin.plain", op_id):
            exact = test.join(train.select("rating", "tconst"), ["rating", "tconst"], "left_semi")
            n_exact = exact.count()
        with tr.span("build.plain_spark", op_id):
            for p in FP_SWEEP_PS:
                _plain_spark_blooms(train, "rating", "tconst", n_first, p)
        train.unpersist()
        test.unpersist()

        first = [r for r in rows if r["p"] == FP_SWEEP_PS[0]]
        survivors = sum(r["false_positives"] for r in first)
        ratios = [
            r["fp_rate"] / r["p"]
            for r in rows
            if r["total_tests"] * r["p"] >= MIN_EXPECTED_FP
        ]
        return {
            "result": rows,
            "build_rows": sum(n_first.values()) * len(FP_SWEEP_PS),
            "filter_bytes": filter_bits / 8,
            "probe_rows": sum(r["total_tests"] for r in rows),
            "hits": sum(r["false_positives"] for r in rows),
            "fp_rate_over_p": max(ratios, default=0.0),
            "survivors": survivors,
            "probe_rows_first": sum(r["total_tests"] for r in first),
            "exact": n_exact,
            # the Bloom semi-join at p=0.01 is the sweep's first build and probe
            "bloom_path_s": sum(find(tr.spans, n, op_id)[0].seconds for n in ("build", "probe")),
        }


class SemijoinPrune:
    """bloom_semijoin_prune: one filter over the urgent orders, probed
    by every lineitem row, then an exact semi-join of the survivors."""

    name = "semijoin_prune"
    engine_op = "bloom_semijoin_prune"
    rows_orders = 60_000

    def __init__(self, data_dir: str, seed: int):
        self.facts = gen.orders_lineitem(data_dir, seed, self.rows_orders)
        self.rows = self.facts["rows"]
        self.reference: dict = {}

    def _plain(self, spark):
        from mrbf_spark.tables import load_table

        orders = load_table(spark, self.facts["path"], "orders")
        li = load_table(spark, self.facts["path"], "lineitem")
        urgent = orders.filter(F.col("o_orderpriority") == URGENT).select("o_orderkey")
        exact = li.join(urgent, li.l_orderkey == urgent.o_orderkey, "left_semi")
        return exact.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("n_items"))

    def prepare(self, spark) -> None:
        self.reference = _semijoin_summary(self._plain(spark))

    def op(self, spark):
        from mrbf_spark.operators.bloom_queries import bloom_semijoin_prune

        return _semijoin_summary(bloom_semijoin_prune(spark, self.facts["path"]))

    def check(self, result) -> list[str]:
        return check_semijoin(result, self.reference, self.facts)

    def traced(self, spark, tr, op_id: int) -> dict:
        """bloom_semijoin_prune's calls, one span per layer, made
        through the engine's modules as in RatingsFpSweep.traced."""
        from mrbf_spark import tables
        from mrbf_spark.bloom import core, pipeline, sizing

        path = self.facts["path"]
        with tr.op(op_id):
            orders = tables.load_table(spark, path, "orders")
            li = tables.load_table(spark, path, "lineitem")
            urgent = orders.filter(F.col("o_orderpriority") == URGENT)
            with tr.span("build", op_id):
                with tr.span("build.call", op_id):
                    filters = core.build_bloom_filters(
                        urgent.withColumn("__g", F.lit("urgent")), "__g", "o_orderkey", SEMIJOIN_P
                    )
                with tr.span("build.exec", op_id):
                    filters = filters.cache()
                    meta = filters.select("key", "n", "m").collect()
            with tr.span("probe", op_id):
                pruned = core.probe_bloom_filters(
                    li.withColumn("__g", F.lit("urgent")),
                    "__g",
                    "l_orderkey",
                    filters,
                    k=sizing.num_hashes(SEMIJOIN_P),
                    broadcast=True,
                ).filter(F.col("bloom_hit") == 1).cache()
                survivors = pruned.count()
            with tr.span("semijoin.exact", op_id):
                exact = pruned.join(
                    urgent.select("o_orderkey"),
                    pruned.l_orderkey == F.col("o_orderkey"),
                    "left_semi",
                )
                result = _semijoin_summary(
                    exact.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("n_items"))
                )
            pruned.unpersist()
        with tr.span("semijoin.plain", op_id):
            _semijoin_summary(self._plain(spark))
        with tr.span("build.plain_spark", op_id):
            _plain_spark_blooms(
                urgent.withColumn("__g", F.lit("urgent")),
                "__g",
                "o_orderkey",
                {r["key"]: r["n"] for r in meta},
                SEMIJOIN_P,
            )
        filters.unpersist()
        # The op has no split; the split layer is timed on its build table.
        with tr.span("pipeline.split", op_id):
            train, test = pipeline.train_test_split(orders)
            train, test = train.cache(), test.cache()
            train.count()
            test.count()
        train.unpersist()
        test.unpersist()

        items = result["items"]
        n_li = self.rows
        return {
            "result": result,
            "build_rows": sum(r["n"] for r in meta),
            "filter_bytes": sum(r["m"] for r in meta) / 8,
            "probe_rows": n_li,
            "hits": survivors,
            "fp_rate_over_p": (survivors - items) / max(n_li - items, 1) / SEMIJOIN_P,
            "survivors": survivors,
            "probe_rows_first": n_li,
            "exact": items,
            "bloom_path_s": sum(
                find(tr.spans, n, op_id)[0].seconds for n in ("build", "probe", "semijoin.exact")
            ),
        }


WORKLOADS = {w.name: w for w in (RatingsFpSweep, SemijoinPrune)}
