"""Benchmark inputs: the stored fact tables, the rankings archive and the
document shards.

The fact tables are built once per checkout (``build``): a seeded
lineitem-shaped source with the sf0.1 shape (600k rows, 1,000 suppliers,
2,500 ship dates) goes through the engine's own derivation
(``availability.availability_from_lineitem``) and write path
(``writer.write_partitioned``), giving the date-partitioned
``daily_availability`` table the cron maintains (~533k rows, 2,500 dates,
1,000 symbols). A second table holds the newest ``RECENT_DAYS`` dates of
the same derivation, and a rankings archive is built over it. Runs copy
what they need into their own scratch directory; document shards are
generated per run from the workload seed.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
LINEITEM_ROWS = 600_000
N_SYMBOLS = 1_000
N_DATES = 2_500
FIRST_DATE = dt.date(1995, 1, 1)
RECENT_DAYS = 60
GEN_TS = "2026-01-01 00:00:00"

DOC_SHARD_DOCS = 500
DOC_VOCAB = 5_000
DOC_EXACT_DUP_RATE = 0.02
DOC_NEAR_DUP_RATE = 0.03
LANGS = ["en", "de", "fr", "es", "zh"]

_HERE = os.path.dirname(os.path.abspath(__file__))


def symbols() -> list[str]:
    """The derivation's symbol names: 'S' + 4-digit supplier key."""
    return [f"S{k:04d}" for k in range(1, N_SYMBOLS + 1)]


def fixture_key(root: str) -> str:
    """Digest of the sources the built fixtures depend on: this file and
    every module of the engine package, so a change to the derivation or
    the write path rebuilds them."""
    h = hashlib.md5()
    pkg = os.path.join(root, "binance_futures_availability_spark")
    files = [os.path.join(_HERE, "fixtures.py")]
    for dirpath, dirnames, names in os.walk(pkg):
        dirnames.sort()
        files += [os.path.join(dirpath, n) for n in sorted(names) if n.endswith(".py")]
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:12]


def write_lineitem(path: str) -> None:
    """The five lineitem columns the derivation reads, uniform over
    suppliers and ship dates like the sf0.1 testdata."""
    rng = np.random.default_rng(DATA_SEED)
    n = LINEITEM_ROWS
    day = rng.integers(0, N_DATES, n)
    ship = (
        np.datetime64(FIRST_DATE.isoformat(), "us")
        + day.astype("timedelta64[D]").astype("timedelta64[us]")
    )
    table = pa.table(
        {
            "l_suppkey": pa.array(rng.integers(1, N_SYMBOLS + 1, n), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
            "l_quantity": rng.integers(1, 51, n).astype("float64"),
            "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n), 2),
            "l_shipdate": pa.array(ship, pa.timestamp("us")),
        }
    )
    pq.write_table(table, path, row_group_size=128 * 1024)


def dir_stats(path: str) -> dict:
    n_files, n_bytes = 0, 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                n_files += 1
                n_bytes += os.path.getsize(os.path.join(dirpath, n))
    return {"files": n_files, "bytes": n_bytes}


def build(spark, out: str) -> dict:
    """Write every shared fixture under ``out``; returns their sizes."""
    from pyspark.sql import functions as F

    from binance_futures_availability_spark.operators import availability, rankings
    from binance_futures_availability_spark.sources import writer

    src = os.path.join(out, "source")
    os.makedirs(src)
    write_lineitem(os.path.join(src, "lineitem.parquet"))
    da = availability.availability_from_lineitem(spark, src).persist()
    last = FIRST_DATE + dt.timedelta(days=N_DATES - 1)
    recent = da.filter(F.col("date") > F.lit(last - dt.timedelta(days=RECENT_DAYS)))
    meta = {}
    for name, df in (("fact_full", da), ("fact_recent", recent)):
        writer.write_partitioned(df, os.path.join(out, name))
        row = df.agg(
            F.count(F.lit(1)).alias("rows"),
            F.countDistinct("date").alias("dates"),
            F.countDistinct("symbol").alias("symbols"),
            F.max("date").alias("max_date"),
        ).collect()[0]
        meta[name] = {
            "rows": row["rows"],
            "dates": row["dates"],
            "symbols": row["symbols"],
            "max_date": row["max_date"].isoformat(),
            **dir_stats(os.path.join(out, name)),
        }
    rankings.volume_rankings(
        spark.read.parquet(os.path.join(out, "fact_recent")),
        generated_at=GEN_TS,
        sort=False,
    ).write.mode("overwrite").parquet(os.path.join(out, "rankings_recent"))
    meta["rankings_recent"] = dir_stats(os.path.join(out, "rankings_recent"))
    da.unpersist()
    shutil.rmtree(src)
    with open(os.path.join(out, "meta.json"), "w", encoding="utf-8") as fh:
        json.dump(meta, fh, indent=1)
    return meta


def _link_or_copy(src: str, dst: str) -> None:
    """Parquet data files and their checksums are never modified in place
    (writers replace them under new names), so a hard link is a private
    copy; commit markers are rewritten in place and are copied."""
    if src.endswith((".parquet", ".parquet.crc")):
        os.link(src, dst)
    else:
        shutil.copy2(src, dst)


def copy_table(src: str, dst: str) -> None:
    shutil.copytree(src, dst, copy_function=_link_or_copy)


def write_doc_shard(path: str, seed: int, shard: int) -> int:
    """One seeded shard of ``documents`` (the testdata schema): Zipf text
    over a synthetic vocabulary with planted exact and near duplicates so
    every dedup stage has output. Returns the document count."""
    rng = np.random.default_rng([seed, shard])
    n = DOC_SHARD_DOCS
    ranks = np.arange(1, DOC_VOCAB + 1)
    p = 1.0 / ranks**1.07
    p /= p.sum()
    lengths = rng.integers(20, 80, n)
    words = rng.choice(DOC_VOCAB, size=int(lengths.sum()), p=p)
    texts, off = [], 0
    for ln in lengths:
        texts.append(" ".join(f"w{w}" for w in words[off:off + ln]))
        off += ln
    n_near = int(n * DOC_NEAR_DUP_RATE)
    for i in rng.choice(np.arange(1, n), n_near, replace=False):
        toks = texts[int(rng.integers(0, i))].split()
        for j in rng.choice(len(toks), max(1, len(toks) // 10), replace=False):
            toks[j] = f"w{int(rng.integers(0, DOC_VOCAB))}"
        texts[i] = " ".join(toks)
    n_exact = int(n * DOC_EXACT_DUP_RATE)
    for i in rng.choice(np.arange(1, n), n_exact, replace=False):
        texts[i] = texts[int(rng.integers(0, i))]
    base = shard * n
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(base, base + n), pa.int64()),
            "text": texts,
            "lang": [LANGS[k] for k in rng.integers(0, len(LANGS), n)],
            "source": [f"src{k}" for k in rng.integers(0, 10, n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(table, path, row_group_size=1024)
    return n
