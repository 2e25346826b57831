"""SnapTable: versioned commits, time travel, manifest pruning, vacuum."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from waddleml_spark.sources import snaptable as st


def _df(spark, lo, hi, tag):
    return spark.range(lo, hi).select(
        F.col("id"), F.lit(tag).alias("tag"), (F.col("id") * 2).alias("v")
    )


def test_append_read_back_and_history(spark, tmp_path):
    tbl = str(tmp_path / "t1")
    v1 = st.write(_df(spark, 0, 100, "a"), tbl, mode="append")
    v2 = st.write(_df(spark, 100, 150, "b"), tbl, mode="append")
    assert (v1, v2) == (1, 2)
    got = st.read(spark, tbl)
    assert got.count() == 150
    assert got.filter(F.col("tag") == "b").count() == 50
    h = st.history(tbl)
    assert [e["version"] for e in h] == [1, 2]
    assert [e["rows"] for e in h] == [100, 150]
    assert h[1]["operation"] == "append"


def test_overwrite_and_time_travel(spark, tmp_path):
    tbl = str(tmp_path / "t2")
    st.write(_df(spark, 0, 100, "old"), tbl)
    st.write(_df(spark, 0, 10, "new"), tbl, mode="overwrite")
    assert st.read(spark, tbl).count() == 10
    old = st.read(spark, tbl, version=1)
    assert old.count() == 100
    assert old.select(F.collect_set("tag")).first()[0] == ["old"]
    with pytest.raises(FileNotFoundError):
        st.read(spark, tbl, version=9)


def test_append_schema_mismatch_rejected(spark, tmp_path):
    tbl = str(tmp_path / "t3")
    st.write(_df(spark, 0, 10, "a"), tbl)
    widened = _df(spark, 10, 20, "b").withColumn("extra", F.lit(1))
    with pytest.raises(ValueError, match="extra"):
        st.write(widened, tbl, mode="append")
    # overwrite MAY change schema (snapshot replaces the table wholesale)
    st.write(widened, tbl, mode="overwrite")
    assert "extra" in st.read(spark, tbl).columns


def test_manifest_prune_skips_files(spark, tmp_path):
    tbl = str(tmp_path / "t4")
    # three commits with disjoint id ranges -> disjoint footer min/max
    for lo in (0, 1000, 2000):
        st.write(_df(spark, lo, lo + 500, f"r{lo}"), tbl, mode="append")
    files = st.file_list(tbl)
    assert all("id" in f["stats"] for f in files)
    pruned = st._prune(files, "id", 1200, 1300)
    assert 0 < len(pruned) < len(files)
    got = st.read(spark, tbl, prune=("id", 1200, 1300))
    # pruning is a file skip, not the predicate: still filter, same answer
    assert got.filter(F.col("id").between(1200, 1300)).count() == 101
    assert len(got.inputFiles()) < len(st.read(spark, tbl).inputFiles())
    # a prune that excludes every file yields an empty frame, same schema
    empty = st.read(spark, tbl, prune=("id", 10**9, None))
    assert empty.count() == 0 and empty.columns == got.columns


def test_prune_never_skips_without_stats(spark, tmp_path):
    files = [{"path": "p", "rows": 1, "stats": {}}]
    assert st._prune(files, "id", 0, 1) == files


def test_commit_race_append_rebases_overwrite_refuses(spark, tmp_path):
    tbl = str(tmp_path / "t5")
    st.write(_df(spark, 0, 10, "a"), tbl)
    entries = st._collect_entries(tbl, st.file_list(tbl)[0]["path"].rsplit("/", 1)[0])
    # stale parent=0 while v1 exists: append rebases onto the tip -> v2
    v = st._commit(tbl, entries, _df(spark, 0, 10, "a").schema, "append", parent=0)
    assert v == 2
    assert st.read(spark, tbl).count() == 10  # same files, deduped by path
    with pytest.raises(RuntimeError, match="concurrent"):
        st._commit(tbl, entries, _df(spark, 0, 10, "a").schema, "overwrite", parent=0)


def test_vacuum_reclaims_unreferenced_files(spark, tmp_path):
    tbl = str(tmp_path / "t6")
    st.write(_df(spark, 0, 100, "old"), tbl)
    st.write(_df(spark, 0, 10, "new"), tbl, mode="overwrite")
    # crashed-commit orphan: a data dir no manifest references
    orphan = os.path.join(tbl, st._DATA_DIR, "deadbeef")
    os.makedirs(orphan)
    open(os.path.join(orphan, "part-0.parquet"), "wb").close()
    deleted = st.vacuum(tbl, keep_versions=1, retain_minutes=0)
    assert any("deadbeef" in p for p in deleted)
    assert st.read(spark, tbl).count() == 10  # tip intact
    with pytest.raises(FileNotFoundError):
        st.read(spark, tbl, version=1)  # expired by vacuum
    assert st.vacuum(tbl, keep_versions=1, retain_minutes=0) == []  # idempotent


def test_vacuum_removes_multilevel_empty_dirs_in_one_pass(spark, tmp_path):
    # round-7 review find: deleting files bumps the parent dir's mtime
    # and rmdir'ing an emptied subdir bumps the grandparent's, so a
    # during-the-walk mtime check peeled ONE level per vacuum; the
    # pre-deletion mtime snapshot must clear the whole expired tree at
    # once (retain_minutes=0 -> everything is past the grace window)
    tbl = str(tmp_path / "t6b")
    st.write(_df(spark, 0, 10, "x"), tbl)
    deep = os.path.join(tbl, st._DATA_DIR, "orphan", "a=1", "b=2")
    os.makedirs(deep)
    open(os.path.join(deep, "part-0.parquet"), "wb").close()
    st.vacuum(tbl, keep_versions=1, retain_minutes=0)
    assert not os.path.exists(os.path.join(tbl, st._DATA_DIR, "orphan"))


def test_versioned_corpus_with_incremental_dedup(spark, tmp_path):
    """The production loop SnapTable exists for: each crawl batch is
    deduped against the PREVIOUS corpus snapshot (fingerprint anti-join —
    text never rescans), survivors append as a new immutable version, and
    every earlier snapshot stays reproducible for training-run pinning."""
    from waddleml_spark.llmops import dedup
    from waddleml_spark.session import read_table

    tbl = str(tmp_path / "corpus")
    docs = read_table(spark, "/root/testdata/sf0.001", "documents")
    batch1 = docs.filter(F.col("doc_id") % 2 == 0)
    batch2 = docs  # second crawl re-sees ALL of batch1 plus the odd docs

    v1 = st.write(dedup.exact_dedup_keep(batch1), tbl)
    snap1 = st.read(spark, tbl, version=v1)
    keep2 = dedup.incremental_dedup(batch2, snap1)
    fresh = batch2.join(
        keep2.select(F.col("keeper_id").alias("doc_id")), "doc_id", "semi"
    )
    v2 = st.write(fresh, tbl, mode="append")

    n1, n2 = snap1.count(), st.read(spark, tbl, version=v2).count()
    assert n1 > 0 and n2 > n1
    # the combined snapshot has no duplicate content fingerprints
    combined = st.read(spark, tbl)
    n_fp = combined.select(
        dedup.fingerprint(F.col("text")).alias("fp")
    ).distinct().count()
    assert n_fp == n2
    # time travel: v1 is byte-stable after the append
    assert st.read(spark, tbl, version=v1).count() == n1
    assert [h["operation"] for h in st.history(tbl)] == ["append", "append"]


def test_concurrent_appenders_all_land(spark, tmp_path):
    """8 threads race append commits; OCC rebase must lose no batch."""
    from concurrent.futures import ThreadPoolExecutor

    tbl = str(tmp_path / "race")
    st.write(_df(spark, 0, 10, "seed"), tbl)

    def append(i):
        return st.write(_df(spark, 100 * (i + 1), 100 * (i + 1) + 10, f"w{i}"), tbl)

    with ThreadPoolExecutor(max_workers=8) as ex:
        versions = list(ex.map(append, range(8)))
    assert len(set(versions)) == 8  # every commit got its own version
    final = st.read(spark, tbl)
    assert final.count() == 90  # seed + 8 batches of 10, none lost
    assert final.select("tag").distinct().count() == 9


def test_racing_stream_commits_keep_every_mark(tmp_path):
    """Metadata-only stress: more threads than cores race _commit, each
    under its own stream id, with a shortened switch interval.  Every
    rebase must carry the other streams' marks forward, so the tip holds
    each stream's last epoch and every file."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql.types import LongType, StructField, StructType

    tbl = str(tmp_path / "marks")
    schema = StructType([StructField("id", LongType())])
    workers, epochs = 16, 5

    def stream(w):
        for e in range(epochs):
            entry = st.FileEntry(f"data/s{w}-{e}/part-0.parquet", 1, {})
            st._commit(tbl, [entry], schema, f"append-epoch-s{w}-{e}",
                       st.current_version(tbl), stream=(f"s{w}", e))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=workers) as ex:
            futures = [ex.submit(stream, w) for w in range(workers)]
            for f in futures:
                f.result(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert st.current_version(tbl) == workers * epochs
    tip = st._load_manifest(tbl, workers * epochs)
    assert tip["streams"] == {f"s{w}": epochs - 1 for w in range(workers)}
    assert len(tip["files"]) == workers * epochs


def test_date_bounds_normalized_for_prune(spark, tmp_path):
    import datetime as dt

    tbl = str(tmp_path / "t7")
    df = spark.range(0, 10).select(
        F.col("id"), F.date_add(F.lit("2024-01-01").cast("date"), F.col("id").cast("int")).alias("d")
    )
    st.write(df, tbl)
    files = st.file_list(tbl)
    got = st._prune(files, "d", dt.date(2024, 1, 1), dt.date(2024, 1, 5))
    assert got  # date objects compare against ISO-string stats


def test_date_prune_equal_boundary_keeps_file():
    """_canon_stat must NOT inflate date-only stats to midnight datetimes:
    with stats ('2024-01-01','2024-01-05') a bound d <= 2024-01-01 (or an
    EqualTo on it) must keep the file, not drop its rows."""
    import datetime as dt

    files = [{"path": "p", "rows": 1, "stats": {"d": ("2024-01-01", "2024-01-05")}}]
    d1 = dt.date(2024, 1, 1)
    assert st._prune(files, "d", None, d1) == files      # hi == min
    assert st._prune(files, "d", d1, d1) == files        # EqualTo
    assert st._prune(files, "d", dt.date(2024, 1, 5), None) == files  # lo == max
    assert st._prune(files, "d", dt.date(2024, 1, 6), None) == []    # off-range
    # mixed precision: a DATETIME bound against date-only stats — the
    # date-max lifts to its last instant (rows anywhere in that day may
    # match a lo of that day's midnight)
    assert st._prune(files, "d", dt.datetime(2024, 1, 5), None) == files
    assert st._prune(files, "d", dt.datetime(2024, 1, 5, 14, 30), None) == files
    assert st._prune(files, "d", dt.datetime(2024, 1, 6), None) == []
    assert st._prune(files, "d", None, dt.datetime(2024, 1, 1)) == files
    assert st._prune(files, "d", None, dt.datetime(2023, 12, 31, 23, 59)) == []
    # and a DATE bound against datetime stats (cast-to-midnight semantics)
    ts = [{"path": "p", "rows": 1,
           "stats": {"t": ("2024-01-01T00:00:00", "2024-01-01T10:00:00")}}]
    assert st._prune(ts, "t", None, dt.date(2024, 1, 1)) == ts   # midnight row
    assert st._prune(ts, "t", dt.date(2024, 1, 2), None) == []


def test_timestamp_prune_boundary_keeps_file(spark, tmp_path):
    """Pushed timestamp bounds vs footer stats: an equal boundary must
    KEEP the file (the tz-aware-ISO vs naive-ISO string-compare bug made
    mn > hi true at equality and silently dropped the file's rows)."""
    import datetime as dt

    tbl = str(tmp_path / "t_ts")
    df = spark.sql(
        "SELECT id, timestamp'2024-01-01 10:00:00' + make_interval(0,0,0,0,0,0,id) AS ts"
        " FROM range(0, 10)"
    )
    st.write(df, tbl)
    files = st.file_list(tbl)
    assert all("ts" in f["stats"] for f in files)
    # stored stats are canonical naive-UTC ISO (no offset suffix)
    for f in files:
        mn, mx = f["stats"]["ts"]
        assert "+" not in mn and "+" not in mx, (mn, mx)
    # a lo bound EQUAL to a file's max must keep that file (the tz bug
    # dropped it); naive and tz-aware UTC bounds must agree exactly
    for bound in (
        dt.datetime(2024, 1, 1, 10, 0, 9),
        dt.datetime(2024, 1, 1, 10, 0, 9, tzinfo=dt.timezone.utc),
    ):
        kept = st._prune(files, "ts", bound, None)
        assert any(f["stats"]["ts"][1] == "2024-01-01T10:00:09" for f in kept)
        assert kept == st._prune(files, "ts", dt.datetime(2024, 1, 1, 10, 0, 9), None)
    # off-range bounds still prune
    assert st._prune(files, "ts", dt.datetime(2024, 1, 1, 11, 0, 0), None) == []


def test_prune_handles_legacy_tz_aware_stats():
    """Manifests written before canonicalization carry tz-aware ISO stats;
    a temporal bound must still compare correctly — and a STRING column
    whose values merely look like ISO datetimes must never be rewritten."""
    import datetime as dt

    legacy = [
        {
            "path": "p",
            "rows": 1,
            "stats": {"ts": ("2024-01-01T10:00:00+00:00", "2024-01-01T10:00:09+00:00")},
        }
    ]
    # naive bound equal to the max: file must be kept
    assert st._prune(legacy, "ts", dt.datetime(2024, 1, 1, 10, 0, 9), None) == legacy
    # naive bound past the max: pruned
    assert st._prune(legacy, "ts", dt.datetime(2024, 1, 1, 10, 0, 10), None) == []
    # string bound on a string column: raw lexical compare, stats untouched
    s = [{"path": "p", "rows": 1, "stats": {"s": ("a", "b")}}]
    assert st._prune(s, "s", "a", "b") == s
    assert st._prune(s, "s", "c", None) == []


def test_append_race_after_overwrite_never_resurrects(spark, tmp_path):
    # writer A computes its append against v1; a concurrent overwrite
    # wins v2 with a smaller file set.  A's rebased commit must contain
    # v2's files + A's OWN files only — never v1's overwritten files.
    tbl = str(tmp_path / "t_res")
    st.write(_df(spark, 0, 100, "old"), tbl)                      # v1
    a_dir = os.path.join(st._DATA_DIR, "a-batch")
    _df(spark, 1000, 1010, "mine").write.mode("overwrite").parquet(
        os.path.join(tbl, a_dir)
    )
    a_entries = st._collect_entries(tbl, a_dir)
    st.write(_df(spark, 0, 5, "winner"), tbl, mode="overwrite")   # v2
    v = st._commit(tbl, a_entries, _df(spark, 0, 5, "x").schema, "append", parent=1)
    assert v == 3
    got = st.read(spark, tbl)
    assert got.count() == 15  # 5 winner + 10 mine; the 100 stay dead
    assert set(r.tag for r in got.select("tag").distinct().collect()) == {
        "winner", "mine"
    }


def test_append_race_revalidates_schema_against_new_tip(spark, tmp_path):
    # the overwrite that won the race also CHANGED the schema: the
    # rebased append must fail validation, not commit mixed schemas
    tbl = str(tmp_path / "t_reschema")
    st.write(_df(spark, 0, 10, "a"), tbl)                         # v1
    a_dir = os.path.join(st._DATA_DIR, "a2-batch")
    _df(spark, 100, 110, "mine").write.mode("overwrite").parquet(
        os.path.join(tbl, a_dir)
    )
    a_entries = st._collect_entries(tbl, a_dir)
    st.write(
        _df(spark, 0, 5, "w").withColumn("extra", F.lit(1)), tbl, mode="overwrite"
    )                                                             # v2, new schema
    with pytest.raises(ValueError, match="schema mismatch"):
        st._commit(
            tbl, a_entries, _df(spark, 0, 5, "x").schema, "append", parent=1
        )


def test_prune_bound_type_mismatch_is_a_crisp_error(spark, tmp_path):
    # round-6 review find: datetime bounds against a double column died
    # with an opaque TypeError mid-prune
    import datetime

    import pytest

    from waddleml_spark.sources import snaptable as st
    from pyspark.sql import functions as F

    tbl = str(tmp_path / "t_prune_type")
    st.write(spark.range(0, 10).select(F.col("id"), (F.col("id") * 1.0).alias("ts")), tbl)
    with pytest.raises(ValueError, match="prune bounds"):
        st.read(spark, tbl, prune=("ts", datetime.datetime(2024, 1, 5), None)).count()
