"""SparkSession factory.

One place to pin every config that matters for correctness (UTC timestamps
for DuckDB-oracle parity) and for scale (AQE, shuffle partitioning, Arrow).

Scale posture: on a real cluster these settings come from spark-submit; the
factory only sets what is semantically required plus local-mode ergonomics.
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from typing import TYPE_CHECKING
from weakref import WeakKeyDictionary

if TYPE_CHECKING:
    from pyspark.sql import SparkSession

# Local-mode parallelism: the driver benches with SPARK_GRAFT_CPUS.
_DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(
    app_name: str = "waddleml-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    Correctness-critical:
      - session timeZone=UTC: parquet timestamps must round-trip identically
        in Spark and the DuckDB oracle (DuckDB timestamps are UTC-naive).
    Scale-critical:
      - AQE on (runtime coalescing + skew-join splitting; `metrics` skewed by
        chatty runs is the expected hot spot — SURVEY.md §4.2).
      - shuffle partitions ~ cores locally; at cluster scale AQE coalesces
        from a deliberately-high initial number.
      - Arrow for any pandas-exchange path (similarity / multimodal UDFs).
    """
    from pyspark.sql import SparkSession

    cpus = int(_DEFAULT_CPUS)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions if shuffle_partitions is not None else cpus),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # driver testdata writes events.ts as TIMESTAMP(NANOS); Spark can't
        # read nanos natively — read as long, convert in read_table()
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Spark still DEFAULTS to deprecated INT96 timestamps, which carry
        # no parquet footer min/max — killing manifest/row-group pruning
        # on every timestamp column.  TIMESTAMP_MICROS restores stats and
        # matches what pyarrow writers produce.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # the whole-stage-codegen class cache defaults to 100 entries; a
        # wide query mix (the 121-query catalog, a dashboard serving many
        # shapes) evicts and recompiles generated classes continuously —
        # measured 0.35 s/query of recompile churn on a 16-query loop
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        # Catalyst's constraint propagation is quadratic-ish in plan
        # width and runs on every (re)planning, including each write:
        # measured 0.58 s -> 0.31 s planning on the widest catalog plan
        # (profile_columns, 21 aggregates + Expand) with zero plan-shape
        # change across PLANS.md.  The rule only INFERS IsNotNull/
        # transitive predicates; every hot join here filters or
        # aggregates its keys explicitly, so nothing relies on it.
        # Re-enable on null-heavy join keys at cluster scale if needed.
        .config("spark.sql.constraintPropagation.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.legacy.createHiveTableByDefault", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


@contextmanager
def command_spark(app_name: str):
    """A local SparkSession for one command (a CLI catalog command, the
    plan report).  A session the command creates logs at ERROR and is
    stopped on exit; embedded in a host process (tests, notebooks), the
    active session is the host's, so its log level and its life are left
    alone."""
    from pyspark.sql import SparkSession

    preexisting = SparkSession.getActiveSession() is not None
    spark = get_spark(app_name=app_name, master="local[2]", shuffle_partitions=2)
    if not preexisting:
        try:
            spark.sparkContext.setLogLevel("ERROR")
        except Exception:
            pass  # Spark Connect: no SparkContext; log level is server-side
    try:
        yield spark
    finally:
        if not preexisting:
            spark.stop()


def ensure_shipped(spark: SparkSession) -> None:
    """Ship the waddleml_spark package to executors (addPyFile zip).

    Python workers don't inherit the driver's sys.path; any operator whose
    closure references this package (mapInPandas kernels) must call this
    first.  Idempotent per SparkContext; on a real cluster this is the
    same mechanism (--py-files) made automatic.
    """
    try:
        sc = spark.sparkContext
    except Exception:
        # Spark Connect session: no SparkContext; artifacts ship via
        # spark.addArtifacts instead — workers on the same host can also
        # usually import the package directly.  Best-effort no-op here.
        return
    if getattr(sc, "_waddleml_shipped", False):
        return
    import tempfile
    import zipfile
    from pathlib import Path

    pkg_dir = Path(__file__).resolve().parent
    zpath = os.path.join(
        tempfile.gettempdir(), f"waddleml_spark_pkg_{os.getpid()}.zip"
    )
    with zipfile.ZipFile(zpath, "w") as z:
        for p in sorted(pkg_dir.rglob("*.py")):
            z.write(p, arcname=str(Path("waddleml_spark") / p.relative_to(pkg_dir)))
    sc.addPyFile(zpath)
    sc._waddleml_shipped = True


# fan_out's partition probe (df.rdd) forces a full optimize-and-plan pass
# — measured 0.076 s/call vs 0.018 s for the bare repartition (round 7).
# The probe result is deterministic for a given semantic plan over
# immutable files, so memoize it by the ANALYZED plan's semanticHash;
# repeated invocations of the same query shape (every bench pass, every
# catalog re-invocation) then pay one cheap py4j call instead of a
# planning pass.  Staleness risk is confined to the repartition
# HEURISTIC (never correctness) and only if files change between calls.
_FANOUT_MEMO: "WeakKeyDictionary" = WeakKeyDictionary()


def reset_fan_out_memo() -> None:
    """Drop fan_out's partition-count memo for every session.

    The memo keys on the ANALYZED plan's semanticHash, which never
    changes when a table merely GAINS FILES — so a snapsink target or an
    appended store table re-read with the same plan shape would keep the
    stale (smaller) partition count for the life of the session and
    under-parallelize.  Write paths (snaptable publish, store appends)
    call this after committing; it costs one dict clear.
    """
    for memo in _FANOUT_MEMO.values():
        memo.clear()


def fan_out(df, min_partitions: int | None = None):
    """Round-robin repartition when the input has fewer partitions than
    cores — the local/small-file remedy for single-row-group parquet, where
    Spark cannot split the scan.  Use before compute-heavy projections
    (hashing, regex, UDF batches); skip for cheap scans/aggregates where the
    shuffle would cost more than it saves.  At cluster scale inputs arrive
    with thousands of row groups and this is a no-op.
    """
    spark = df.sparkSession
    try:
        target = min_partitions or spark.sparkContext.defaultParallelism
        memo = _FANOUT_MEMO.setdefault(spark, {})
        key = df._jdf.queryExecution().analyzed().semanticHash()
        n = memo.get(key)
        if n is None:
            n = df.rdd.getNumPartitions()
            memo[key] = n
        if n < target:
            return df.repartition(target)
        return df
    except Exception:
        # sparkContext/rdd unavailable (e.g. Spark Connect) — NO-OP.
        # fan_out's contract is "repartition only when the input is
        # under-split"; with no way to probe, forcing a repartition
        # would shuffle a cluster-scale corpus AND collapse its
        # parallelism to a constant at every call site (r11 verdict
        # item 6 / advisor find).  Fail open: the guarded compute still
        # runs with whatever parallelism the scan already has.
        return df


# Per-session memo of normalized driver-table frames: a DataFrame is an
# immutable lazy plan, so reuse is safe, and it saves the ~0.1 s of
# driver-side file listing + footer/schema work EVERY call pays otherwise
# (multi-table TPC-H shapes pay it up to 6x per query).  This mirrors the
# DuckDB oracle harness, which registers each parquet view once per
# connection.  WeakKeyDictionary: entries die with their session.
_TABLE_MEMO: WeakKeyDictionary = WeakKeyDictionary()


# The session confs every driver-table read needs, and the value each must
# hold.  Each is set only when it differs: setting the deprecated
# escapedStringLiterals logs a WARN every time.
_READ_CONFS = (
    ("spark.sql.session.timeZone", "UTC"),
    # plain timestamp[us] (no isAdjustedToUTC) would infer as NTZ, which
    # can't cast to double AND forces a cast-Project over every scan that
    # blocks parquet predicate pushdown on timestamp columns.  Reading it
    # as TIMESTAMP directly (raw micros == UTC instant == DuckDB epoch())
    # keeps filters like `o_orderdate >= lit` in PushedFilters.
    ("spark.sql.parquet.inferTimestampNTZ.enabled", "false"),
    # any driver table's temporal column may drift to TIMESTAMP(NANOS)
    # between rounds (events.ts did in r1); without this runtime-settable
    # conf a nanos column refuses to read at all
    ("spark.sql.legacy.parquet.nanosAsLong", "true"),
    # expr-string plan builds (llmops.sql_str) require the default
    # escape-processing parser; a session with the Hive-compat
    # escapedStringLiterals flag would silently corrupt every embedded
    # regex literal (doubled backslashes kept literally), so reset it
    # here where every catalog query passes through
    ("spark.sql.parser.escapedStringLiterals", "false"),
)


def read_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one driver parquet table, normalizing timestamp physical types.

    The driver testdata writes naive parquet timestamps; depending on the
    writer these surface as TIMESTAMP(NANOS) (older gens — read as long via
    nanosAsLong, truncated to micros like DuckDB does) or plain timestamp[us]
    which Spark 4 reads as TIMESTAMP_NTZ.  NTZ cannot cast to double, so
    every downstream epoch projection would break; normalize all NTZ columns
    to UTC-instant TIMESTAMP here instead.  Session tz is pinned to UTC
    first (runtime-settable — the driver hands us a bare session) so the
    NTZ→LTZ reinterpretation and DuckDB's naive-as-UTC epoch() agree.

    SIDE EFFECT (deliberate, process-wide): every read_table call sets
    the session to `_READ_CONFS` (UTC, inferTimestampNTZ=false, ...) and
    leaves it there — every catalog query requires those semantics, and
    restoring per-call would let a mid-plan conf flip change how a
    lazily-analyzed sibling frame reads.  Co-resident code that needs
    local-time session semantics must use its own SparkSession.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    # repaired on every call, memo hit or not: a conf flipped after a
    # table's first read would otherwise stay flipped for every later read
    for conf, want in _READ_CONFS:
        try:
            if spark.conf.get(conf) != want:
                spark.conf.set(conf, want)
        except Exception:
            pass
    memo = _TABLE_MEMO.setdefault(spark, {})
    key = (os.path.abspath(sf_dir), name)
    if key in memo:
        return memo[key]
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    temporal_cols = {"ts", "o_orderdate", "l_shipdate"}
    for f in df.schema.fields:
        if f.name in temporal_cols and isinstance(f.dataType, T.LongType):
            # nanosAsLong surfaced raw nanos: truncate to micros, exactly
            # like DuckDB's ns→µs read of the same file
            df = df.withColumn(
                f.name, F.timestamp_micros(F.expr(f"{f.name} div 1000"))
            )
    ntz_cols = [
        f.name for f in df.schema.fields if isinstance(f.dataType, T.TimestampNTZType)
    ]
    for c in ntz_cols:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    # same insurance for date32 drift: every temporal column in the driver
    # schema is semantically a timestamp (TESTDATA.md); cast(date as double)
    # would fail exactly like NTZ did, and date→timestamp(midnight UTC)
    # equals DuckDB epoch(DATE)
    for f in df.schema.fields:
        if f.name in temporal_cols and isinstance(f.dataType, T.DateType):
            df = df.withColumn(f.name, F.col(f.name).cast("timestamp"))
    memo[key] = df
    return df

