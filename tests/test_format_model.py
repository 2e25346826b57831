"""Model-based randomized walks over the snaptable format, through both
of its front ends.

A seeded random sequence of append / overwrite / checkpoint / read /
vacuum ops runs against the real implementation — the snaptable module
API, and the Spark data source ``format("snaptable")`` from pyds — and
an in-memory model (version -> expected row multiset); after every
op the latest snapshot — and a randomly chosen still-readable
historical version — must match the model exactly.  The walk shape is
what unit tests miss: interleavings like append→overwrite→checkpoint→
append→vacuum→read(old) where state machines usually crack.
"""

from __future__ import annotations

import random

import pytest

from waddleml_spark.sources import pyds
from waddleml_spark.sources import snaptable as st

SCHEMA = "id long, tag string"


def _batch(spark, rng, lo):
    n = rng.randint(1, 6)
    tag = f"t{rng.randint(0, 4)}"
    rows = [(lo + i, tag) for i in range(n)]
    return spark.createDataFrame(rows, SCHEMA), set(rows)


def _collect(df):
    return {(r.id, r.tag) for r in df.collect()}


class _SnapAdapter:
    first_version = 1

    def __init__(self, tbl):
        self.tbl = tbl

    def write(self, df, mode):
        return st.write(df, self.tbl, mode=mode)

    def read(self, spark, version=None):
        return st.read(spark, self.tbl, version=version)

    def checkpoint(self):
        return None  # snaptable manifests are already self-contained

    def vacuum(self):
        st.vacuum(self.tbl, keep_versions=1, retain_minutes=0)


class _PydsAdapter(_SnapAdapter):
    """The same table through Spark's DataFrameReader/Writer surface."""

    def write(self, df, mode):
        df.write.format("snaptable").mode(mode).save(self.tbl)
        return st.current_version(self.tbl)

    def read(self, spark, version=None):
        reader = spark.read.format("snaptable")
        if version is not None:
            reader = reader.option("version", version)
        return reader.load(self.tbl)


@pytest.mark.parametrize("fmt", ["snaptable", "pyds"])
@pytest.mark.parametrize("seed", [11, 23])
def test_random_walk_matches_model(spark, tmp_path, fmt, seed):
    rng = random.Random(seed)
    if fmt == "pyds":
        pyds.register(spark)
    adapter = (_SnapAdapter if fmt == "snaptable" else _PydsAdapter)(
        str(tmp_path / f"{fmt}-{seed}")
    )
    model: dict[int, set] = {}  # version -> expected rows
    readable_from = adapter.first_version
    next_id = 0

    df, rows = _batch(spark, rng, next_id)
    next_id += 100
    v = adapter.write(df, "append")
    model[v] = rows

    for _ in range(10):
        op = rng.choice(["append", "append", "overwrite", "checkpoint", "vacuum"])
        cur = max(model)
        if op == "append":
            df, rows = _batch(spark, rng, next_id)
            next_id += 100
            v = adapter.write(df, "append")
            model[v] = model[cur] | rows
        elif op == "overwrite":
            df, rows = _batch(spark, rng, next_id)
            next_id += 100
            v = adapter.write(df, "overwrite")
            model[v] = rows
        elif op == "checkpoint":
            adapter.checkpoint()
        elif op == "vacuum":
            adapter.vacuum()
            readable_from = max(model)
        cur = max(model)
        assert _collect(adapter.read(spark)) == model[cur]
        historical = [
            h for h in model if readable_from <= h <= cur
        ]
        h = rng.choice(historical)
        assert _collect(adapter.read(spark, version=h)) == model[h], (
            f"{fmt} seed={seed}: version {h} diverged after {op}"
        )
