"""Model-based randomized walks over the snaptable format.

A seeded random sequence of append / overwrite / checkpoint / read /
vacuum / deliver / redeliver ops runs against the real implementation
(the snaptable module API, the format's one way in, and a streaming
snapshot sink) and an in-memory model (version -> expected row
multiset); after every op the latest snapshot — and a randomly chosen
still-readable historical version — must match the model exactly.
``deliver`` commits the sink's next epoch; ``redeliver`` replays an
earlier one, which must leave the table unchanged, also after an
overwrite or a vacuum has dropped the manifest that committed it.  The
walk shape is what unit tests miss: interleavings like
append→overwrite→checkpoint→append→vacuum→read(old) where state
machines usually crack.
"""

from __future__ import annotations

import random

import pytest

from waddleml_spark.sources import snaptable as st
from waddleml_spark.streaming import snapsink

SCHEMA = "id long, tag string"


def _batch(spark, rng, lo):
    n = rng.randint(1, 6)
    tag = f"t{rng.randint(0, 4)}"
    rows = [(lo + i, tag) for i in range(n)]
    return spark.createDataFrame(rows, SCHEMA), set(rows)


def _collect(df):
    return {(r.id, r.tag) for r in df.collect()}


# ids keep the "-snaptable" suffix the walk has always been reported under
@pytest.mark.parametrize("seed", [11, 23], ids=["11-snaptable", "23-snaptable"])
def test_random_walk_matches_model(spark, tmp_path, seed):
    rng = random.Random(seed)
    tbl = str(tmp_path / f"snaptable-{seed}")
    model: dict[int, set] = {}  # version -> expected rows
    readable_from = 1
    next_id = 0

    df, rows = _batch(spark, rng, next_id)
    next_id += 100
    v = st.write(df, tbl, mode="append")
    model[v] = rows
    sink = snapsink.snapshot_sink(tbl, stream_id="walk")
    delivered: list = []  # epoch -> its batch

    for _ in range(14):
        op = rng.choice(["append", "append", "overwrite", "checkpoint", "vacuum",
                         "deliver", "redeliver"])
        cur = max(model)
        if op == "redeliver" and not delivered:
            op = "deliver"
        if op == "deliver":
            df, rows = _batch(spark, rng, next_id)
            next_id += 100
            sink(df, len(delivered))
            delivered.append(df)
            model[st.current_version(tbl)] = model[cur] | rows
        elif op == "redeliver":
            e = rng.randrange(len(delivered))
            sink(delivered[e], e)
            assert st.current_version(tbl) == cur, f"seed={seed}: replay committed"
        elif op == "append":
            df, rows = _batch(spark, rng, next_id)
            next_id += 100
            v = st.write(df, tbl, mode="append")
            model[v] = model[cur] | rows
        elif op == "overwrite":
            df, rows = _batch(spark, rng, next_id)
            next_id += 100
            v = st.write(df, tbl, mode="overwrite")
            model[v] = rows
        elif op == "checkpoint":
            pass  # snaptable manifests are already self-contained
        elif op == "vacuum":
            st.vacuum(tbl, keep_versions=1, retain_minutes=0)
            readable_from = max(model)
        cur = max(model)
        assert _collect(st.read(spark, tbl)) == model[cur]
        historical = [
            h for h in model if readable_from <= h <= cur
        ]
        h = rng.choice(historical)
        assert _collect(st.read(spark, tbl, version=h)) == model[h], (
            f"seed={seed}: version {h} diverged after {op}"
        )

    # whatever the walk drew: one more epoch, then an overwrite and a
    # vacuum that drop every manifest an epoch committed — re-delivering
    # every epoch must still commit nothing
    df, _ = _batch(spark, rng, next_id)
    sink(df, len(delivered))
    delivered.append(df)
    df, rows = _batch(spark, rng, next_id + 100)
    v = st.write(df, tbl, mode="overwrite")
    st.vacuum(tbl, keep_versions=1, retain_minutes=0)
    for e, df in enumerate(delivered):
        sink(df, e)
    assert st.current_version(tbl) == v
    assert _collect(st.read(spark, tbl)) == rows
