"""Table registry: parquet directories → DataFrames / temp views.

The engine's "catalog" role (reference keeps one DuckDB file and opens
its ``daily_availability`` table through one handle,
database/availability_db.py:32-47; here a directory of parquet tables).
Every stored-table open in the engine — testdata tables, the
materialized and imported fact tables, the daily-update table, the
public ``Engine(table_path=...)`` — goes through :func:`open_table` and
its ONE handle registry:

- key: (application id, realpath, :func:`dir_fingerprint`, variant). The
  variant names an optional derivation of the plain read (a cast
  projection, a re-sliced ``.cache()``…); ``None`` is the plain handle.
  A fresh ``spark.read.parquet(path)`` re-runs the file listing and
  schema resolution as Spark jobs (one listing job of at most
  ``spark.sql.shuffle.partitions`` tasks — see ``session.py`` — plus one
  schema job), so resolving a path once per session is what any
  engine's catalog does.
- staleness: every committed Spark write rewrites ``_SUCCESS`` and
  replaces the files or partition directories it touches, so the
  fingerprint of the entries directly under the path misses.
- eviction: a miss unpersists every entry of the same path under another
  fingerprint or application — a rewritten table never strands the cached
  blocks of its superseded snapshot.
- non-fingerprintable (remote or unreadable) paths are opened fresh on
  every call: a snapshot we cannot detect going stale is never pinned.
- every memoized handle carries ``_spark_graft_source = (realpath, fp)``,
  the source identity ``index_cache.plan_key`` falls back on when
  ``inputFiles()`` is empty through a cached relation.

Also knows the driver-generated synthetic testdata layout (TESTDATA.md):
``region nation customer supplier part orders lineitem events documents
embeddings`` — one parquet file/dir per table.
"""

from __future__ import annotations

import hashlib
import os
from collections.abc import Callable, Hashable

from pyspark.sql import DataFrame, SparkSession

TESTDATA_TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


#: the stored-table handle registry (see the module docstring)
_HANDLES: dict = {}


def dir_fingerprint(path: str) -> str | None:
    """md5 of (name, size, mtime_ns) of every entry directly under ``path``
    — of ``path`` itself for a single-file table — or None when the path
    cannot be listed locally (remote/unreadable: never memoized)."""
    try:
        if os.path.isdir(path):
            with os.scandir(path) as entries:
                ids = sorted(
                    (e.name, e.stat().st_size, e.stat().st_mtime_ns)
                    for e in entries
                )
        else:
            st = os.stat(path)
            ids = [(os.path.basename(path), st.st_size, st.st_mtime_ns)]
    except OSError:
        return None
    return hashlib.md5(repr(ids).encode()).hexdigest()


def open_table(
    spark: SparkSession,
    path: str,
    variant: Hashable = None,
    derive: Callable[[DataFrame], DataFrame] | None = None,
) -> DataFrame:
    """The session handle for the parquet table at ``path``.

    Plain (``derive=None``): ``spark.read.parquet(path)``. With ``derive``,
    the derivation applied to the plain handle (e.g. cast + ``.cache()``);
    ``variant`` names it (required with ``derive``, distinct per
    derivation of a path). Both are memoized until the directory
    fingerprint changes; a non-fingerprintable path is read (and derived)
    afresh on every call."""
    fp = dir_fingerprint(path)
    if fp is None:
        df = spark.read.parquet(path)
        return derive(df) if derive is not None else df
    app = spark.sparkContext.applicationId
    real = os.path.realpath(path)
    key = (app, real, fp, variant)
    df = _HANDLES.get(key)
    if df is not None:
        return df
    # get/pop-with-default and a snapshot of the keys: concurrent callers
    # may race on a miss (both build; Spark shares the cached plan), but
    # never raise on each other's inserts or evictions
    for old in [k for k in list(_HANDLES) if k[1] == real and k[:3] != key[:3]]:
        stale = _HANDLES.pop(old, None)
        if stale is not None and stale.is_cached:
            try:
                stale.unpersist()
            except Exception:  # noqa: BLE001 — context may already be stopped
                pass
    plain_key = key[:3] + (None,)
    plain = _HANDLES.get(plain_key)
    if plain is None:
        plain = spark.read.parquet(path)
        plain._spark_graft_source = (real, fp)
        _HANDLES[plain_key] = plain
    if derive is None:
        return plain
    df = derive(plain)
    df._spark_graft_source = (real, fp)
    _HANDLES[key] = df
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one table. Column pruning + predicate pushdown happen at the scan
    because callers express projections/filters declaratively on the result."""
    return open_table(spark, table_path(sf_dir, name))


def load_table_hot(
    spark: SparkSession, sf_dir: str, name: str, slices: int = 8
) -> DataFrame:
    """Catalog read pinned in the in-memory columnar cache, re-sliced so
    downstream scans parallelize regardless of the source file's row-group
    layout (a single-row-group parquet file yields ONE input partition —
    every aggregate over it runs single-threaded no matter the core count).
    The buffer-pool analogue for tables whole queries re-scan (the
    warehouse join family re-reads lineitem/orders/customer on every call).

    Scale stance: pin hot DIMENSION tables and repeatedly-scanned working
    sets; a 100 TB fact stream should NOT route through here (Spark's
    storage layer would spill-evict it block by block — harmless but
    pointless). The repartition shuffle is paid once at first touch;
    filters still prune cached batches via per-batch column stats."""
    return open_table(
        spark,
        table_path(sf_dir, name),
        ("hot", slices),
        lambda df: df.repartition(slices).cache(),
    )


def register_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every testdata table as a temp view; returns the DataFrames."""
    out: dict[str, DataFrame] = {}
    for name in TESTDATA_TABLES:
        if os.path.exists(table_path(sf_dir, name)):
            df = load_table(spark, sf_dir, name)
            df.createOrReplaceTempView(name)
            out[name] = df
    return out
