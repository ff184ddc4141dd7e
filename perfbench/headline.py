"""The catalog layer: one pass over the 17 keys of ``bench.HEADLINE``.

The inputs are the schema-compatible TPC-H-shaped tables that
``tools/gen_testdata.py`` writes (fixed seed inside the generator, so
``--seed`` does not apply). Each key runs into the ``noop`` sink with
an ``Observation`` counting its rows; the counts are checked against
``headline_counts.json``, recorded once from this generator and
engine.
"""

from __future__ import annotations

import contextlib
import importlib.util
import json
import os
import sys
import time

from pyspark.sql import Observation, functions as F

import bench

SF = "0.01"
COUNTS_FILE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "headline_counts.json")


def generate(root: str, out_dir: str) -> str:
    """Write the catalog tables with the repository's generator."""
    spec = importlib.util.spec_from_file_location(
        "gen_testdata", os.path.join(root, "tools", "gen_testdata.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    with contextlib.redirect_stdout(sys.stderr):  # stdout carries the result
        mod.generate(float(SF), out_dir, vocab_size=mod.VOCAB_SIZE)
    return out_dir


def builders() -> dict:
    """bench.HEADLINE's builders, resolved the way bench.py resolves
    them: catalog entries first, then its legacy builders."""
    from mrbf_spark import catalog

    qs = {**bench.legacy_builders(), **catalog.queries()}
    return {key: qs[key] for key in bench.HEADLINE}


def run_pass(spark, sf_dir: str, group_prefix: str) -> tuple[dict, dict]:
    """One pass over the headline keys: seconds and result rows per key."""
    from mrbf_spark.registry import release_scoped_caches

    seconds, rows = {}, {}
    sc = spark.sparkContext
    for key, fn in builders().items():
        sc.setJobGroup(f"{group_prefix}-{key}", key)
        obs = Observation(key)
        t = time.perf_counter()
        fn(spark, sf_dir).observe(obs, F.count(F.lit(1)).alias("rows")).write.format(
            "noop"
        ).mode("overwrite").save()
        seconds[key] = time.perf_counter() - t
        rows[key] = int(obs.get["rows"])
        release_scoped_caches()
    sc.setLocalProperty("spark.jobGroup.id", None)
    return seconds, rows


def recorded_counts() -> dict:
    with open(COUNTS_FILE, encoding="utf-8") as fh:
        return json.load(fh)
