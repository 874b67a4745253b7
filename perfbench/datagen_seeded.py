#!/usr/bin/env python3
"""Seeded wrapper around tools/datagen_sf.py.

The generator hard-codes `np.random.default_rng(42)`. This wrapper runs
the unmodified script with `default_rng` patched for the duration of the
run, so a call with seed 42 draws from the given seed instead; every
other draw is untouched. Same seed, same bytes.

`fraction` < 1 then keeps a prefix of every table's rows, for inputs
below the generator's smallest scale.

Usage: python3 perfbench/datagen_seeded.py <seed> <scale> <outdir> [fraction]
"""
import contextlib
import io
import os
import runpy
import sys

import numpy as np

SCRIPT = os.path.join("tools", "datagen_sf.py")


def subsample(out, fraction):
    """Keep the first `fraction` of every table's rows (the fixed region
    and nation dimensions stay whole)."""
    import pyarrow.parquet as pq
    for name in sorted(os.listdir(out)):
        if name.endswith(".parquet") and name not in ("region.parquet", "nation.parquet"):
            path = os.path.join(out, name)
            t = pq.read_table(path)
            pq.write_table(t.slice(0, max(1, int(t.num_rows * fraction))), path)


def generate(seed, scale, out, root=".", fraction=1.0):
    script = os.path.join(root, SCRIPT)
    if not os.path.exists(script):
        raise FileNotFoundError(script)
    real = np.random.default_rng

    def seeded(s=None, *a, **k):
        return real(seed if s == 42 else s, *a, **k)

    argv = sys.argv
    np.random.default_rng = seeded
    sys.argv = [script, str(scale), out]
    try:
        with contextlib.redirect_stdout(io.StringIO()):
            runpy.run_path(script, run_name="__main__")
    finally:
        np.random.default_rng = real
        sys.argv = argv
    if fraction < 1.0:
        subsample(out, fraction)


if __name__ == "__main__":
    generate(int(sys.argv[1]), int(sys.argv[2]), sys.argv[3],
             fraction=float(sys.argv[4]) if len(sys.argv) > 4 else 1.0)
