"""Every scaling mode of tools/bench_scaling.py is wired: its load step and
outputs build over tiny generated inputs and each output's schema resolves
(analysis only, nothing is written)."""

import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "tools"))

import bench_scaling  # noqa: E402

from fsharp_data_validation_spark.cache import release_caches  # noqa: E402

# rows per input: sem samples 5,120 centroids, so more vectors than that
SIZES = {"turns": 2_000, "docs": 200, "vecs": 6_000}


@pytest.mark.parametrize("mode", list(bench_scaling.MODES))
def test_mode_outputs_resolve(spark, mode):
    m = bench_scaling.MODES[mode]
    df, extras = m.load(m.input.gen(spark, SIZES[m.input.flag]))
    try:
        outs = m.outputs(spark, df, **extras)
        assert outs
        for name, out in outs:
            assert out.schema.fields, (mode, name)
    finally:
        release_caches(spark)
