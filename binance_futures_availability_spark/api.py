"""Public Python API — engine handle + context-managed query classes.

Parity: the reference exposes query classes that open a DB handle, run
parameterized SQL, and reshape rows to dicts at the boundary
(queries/snapshots.py:116-122 context manager; snapshots.py:66-68 row
shaping). Here the handle is an Engine (SparkSession + fact-table source)
and each method is one DataFrame expression; ``collect``/dict shaping
happens only at this edge.

The Engine also carries the reference's source/sink surfaces:
- S5  ``sql()``        — arbitrary SQL over the registered table
  (availability_db.py:199-217).
- S6  ``to_arrow()``   — Arrow result fetch (generate_volume_rankings.py:
  177-190; Spark 4's native ``DataFrame.toArrow``).
- S9  ``read_remote_parquet()`` — consume a published archive over HTTP
  (docs/guides/using-volume-rankings.md:205-272); plain-HTTPS needs a
  driver-side download, s3a:// URLs stream through Hadoop connectors.
- S10 ``export()``     — CSV/Parquet export of any query result
  (docs/guides/QUERY_EXAMPLES.md:258-271 COPY TO equivalents).
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from pyspark.sql import functions as F

from .catalog import open_table
from .functions import gathered_sort
from .operators import analytics, availability, snapshots, timelines, volume
from .session import get_session


def parse_iso_date(d: dt.date | str | None) -> dt.date | None:
    """F9 — strict ISO-8601 date validation at the API boundary.

    The reference parses string params with ``date.fromisoformat`` and
    lets the ValueError surface (snapshots.py:53-54, analytics.py:91-92);
    same contract here — a malformed date fails fast with a clear error
    instead of an ANSI cast failure deep inside a Spark job.
    """
    if d is None or isinstance(d, dt.date):
        return d
    return dt.date.fromisoformat(d)


class Engine:
    """SparkSession plus the fact-table source.

    ``table_path`` points at a parquet daily_availability table, opened
    through the catalog's handle registry (one partition discovery per
    table version per session: a listing job of at most
    ``spark.sql.shuffle.partitions`` tasks plus a schema job, whatever the
    number of date directories); for the synthetic testdata layout pass
    ``sf_dir`` instead and the table is the materialized derivation
    (operators/availability.availability_fact).
    """

    TABLE_NAME = "daily_availability"

    def __init__(
        self,
        table_path: str | None = None,
        sf_dir: str | None = None,
        spark: SparkSession | None = None,
    ):
        if (table_path is None) == (sf_dir is None):
            raise ValueError("pass exactly one of table_path / sf_dir")
        self.spark = spark or get_session("bfa-engine")
        self._table_path = table_path
        self._sf_dir = sf_dir
        self._matview: DataFrame | None = None

    # ------------------------------------------------------------ table

    def table(self) -> DataFrame:
        if self._table_path is not None:
            return open_table(self.spark, self._table_path)
        return availability.availability_fact(self.spark, self._sf_dir)

    # -------------------------------------- A8 routing: matview analytics

    def refresh_matview(self, path: str | None = None) -> DataFrame:
        """Build/refresh the ``daily_symbol_counts`` summary and ROUTE
        per-date count analytics through it (the reference's ADR-0019 50×
        win: availability_db.py:219-244 refreshes after every batch insert
        and serves trend queries from the summary, never the fact table).

        With ``path`` the summary is written to parquet and served from
        that file (survives the session); without, it is persisted
        in-memory. Either way, ``trend()`` / ``daily_counts()`` stop
        scanning the fact table until ``invalidate_matview()`` — which any
        fact-table write must call, exactly like the reference's
        refresh-after-insert contract.
        """
        from .sources.writer import refresh_symbol_counts

        mv = refresh_symbol_counts(self.table())
        if path is not None:
            mv.write.mode("overwrite").parquet(path)
            self._matview = self.spark.read.parquet(path)
        else:
            self._matview = mv.persist()
        return self._matview

    def invalidate_matview(self) -> None:
        """Drop the routed summary (call after writing to the fact table)."""
        if self._matview is not None:
            try:
                self._matview.unpersist()
            except Exception:  # noqa: BLE001 — file-backed matview: no-op
                pass
        self._matview = None

    def trend(
        self,
        start: dt.date | str | None = None,
        end: dt.date | str | None = None,
    ) -> DataFrame:
        """A1 — per-date available counts, served from the matview when one
        is fresh (cost ∝ #dates) and from the fact table otherwise."""
        if self._matview is None:
            return analytics.availability_trend(self.table(), start, end)
        out = self._matview.select("date", "available_count")
        if start is not None:
            out = out.filter(F.col("date") >= F.lit(start))
        if end is not None:
            out = out.filter(F.col("date") <= F.lit(end))
        return gathered_sort(out, "date")

    def daily_counts(self) -> DataFrame:
        """The ``daily_symbol_counts`` summary itself — matview when fresh,
        recomputed from the fact table otherwise."""
        from .sources.writer import refresh_symbol_counts

        if self._matview is not None:
            return self._matview
        return refresh_symbol_counts(self.table())

    # ------------------------------------------------------- S5: raw SQL

    def sql(self, query: str) -> DataFrame:
        """Arbitrary SQL with ``daily_availability`` registered as a view —
        the engine's SQL passthrough surface (S5). Catalyst replaces
        DuckDB as the executor; same declared semantics."""
        self.table().createOrReplaceTempView(self.TABLE_NAME)
        return self.spark.sql(query)

    # --------------------------------------------------- S6: Arrow fetch

    def to_arrow(self, df: DataFrame):
        """Result set as a pyarrow Table (S6) — zero-copy columnar handoff
        for downstream pandas/polars/duckdb consumers."""
        return df.toArrow()

    # ------------------------------------------------------- S10: export

    def export(self, df: DataFrame, path: str, fmt: str = "parquet") -> None:
        """COPY (SELECT ...) TO equivalent: write a result as one
        CSV-with-header or parquet dataset (S10)."""
        w = df.write.mode("overwrite")
        if fmt == "csv":
            w.option("header", True).csv(path)
        elif fmt == "parquet":
            w.parquet(path)
        else:
            raise ValueError(f"unsupported export format: {fmt!r}")

    # --------------------------------------- S9: remote parquet over HTTP

    def read_remote_parquet(
        self,
        url: str,
        fetch: Callable[[str], bytes] | None = None,
        columns: list[str] | None = None,
    ) -> DataFrame:
        """Read a published parquet archive by URL (S9).

        s3a:///hdfs:// URLs stream through the cluster's Hadoop
        connectors (predicate/column pushdown intact). Plain http(s)
        archives — the GitHub-Releases distribution path — are read
        driver-side and materialized through Arrow into a DataFrame: the
        bytes never touch a path executors would have to share (a lazy
        read of a driver-local temp file breaks on any non-local master),
        and nothing is leaked on disk.

        Servers that advertise ``Accept-Ranges: bytes`` are read with
        HTTP RANGE REQUESTS (footer + metadata first, then only the
        requested column chunks) — the same access pattern the reference
        documents for querying a GitHub-Releases archive in place
        (docs/guides/using-volume-rankings.md:205-272, DuckDB httpfs), so
        ``columns=`` prunes bytes over the wire, not just rows in memory.
        Servers without range support fall back to one whole-file GET.
        Single small files by design (~20 MB rankings archive); bigger
        archives belong on s3a.
        """
        if url.startswith(("s3a://", "s3://", "hdfs://", "file://")):
            df = self.spark.read.parquet(url)
            return df.select(*columns) if columns else df
        import io

        import pyarrow.parquet as pq

        if fetch is not None:
            table = pq.read_table(io.BytesIO(fetch(url)), columns=columns)
            return self.spark.createDataFrame(table.to_pandas())
        f = _HttpRangeFile.open_or_none(url)
        if f is None:  # no range support: one whole-file GET
            import urllib.request

            with urllib.request.urlopen(url, timeout=30) as resp:
                buf = io.BytesIO(resp.read())
            table = pq.read_table(buf, columns=columns)
        else:
            with f:
                table = pq.ParquetFile(f).read(columns=columns)
        return self.spark.createDataFrame(table.to_pandas())

    # ----------------------------------------------------------- cleanup

    def close(self) -> None:
        """No-op by design: the SparkSession is shared/process-wide, unlike
        the reference's per-handle DuckDB connection."""

    def __enter__(self) -> Engine:
        return self

    def __exit__(self, *exc) -> None:
        self.close()


class _HttpRangeFile:
    """Seekable read-only file object over HTTP range requests — the
    transport under ``Engine.read_remote_parquet`` for range-capable
    servers (S9; reference reads release archives in place the same way
    via DuckDB httpfs, docs/guides/using-volume-rankings.md:205-272).

    PyArrow drives it footer-first: ``ParquetFile`` seeks to the magic +
    metadata tail, then issues one coalesced read per needed column
    chunk, so a column-pruned read moves only those byte ranges over the
    wire. Stateless per read (one GET per ``read`` call, standard
    ``Range: bytes=a-b``); pyarrow's own buffering keeps the request
    count to metadata + touched chunks."""

    def __init__(self, url: str, size: int, timeout: int = 30):
        self.url, self._size, self.timeout = url, size, timeout
        self._pos = 0
        self.requests_made = 0  # observability: tests assert the pattern
        self.bytes_fetched = 0

    @classmethod
    def open_or_none(cls, url: str, timeout: int = 30):
        """Probe with HEAD; None when the server lacks range support."""
        import urllib.request

        req = urllib.request.Request(url, method="HEAD")
        try:
            with urllib.request.urlopen(req, timeout=timeout) as resp:
                size = int(resp.headers.get("Content-Length") or 0)
                ranges = (resp.headers.get("Accept-Ranges") or "").lower()
        except Exception:  # noqa: BLE001 — let the GET path surface errors
            return None
        if size <= 0 or ranges != "bytes":
            return None
        return cls(url, size, timeout)

    # ------------------------------------------------ file-object surface
    def size(self) -> int:
        return self._size

    def tell(self) -> int:
        return self._pos

    def seek(self, offset: int, whence: int = 0) -> int:
        base = (0, self._pos, self._size)[whence]
        self._pos = max(0, min(self._size, base + offset))
        return self._pos

    def read(self, n: int = -1) -> bytes:
        import urllib.request

        if n is None or n < 0:
            n = self._size - self._pos
        n = min(n, self._size - self._pos)
        if n <= 0:
            return b""
        req = urllib.request.Request(
            self.url,
            headers={"Range": f"bytes={self._pos}-{self._pos + n - 1}"},
        )
        with urllib.request.urlopen(req, timeout=self.timeout) as resp:
            status = getattr(resp, "status", 206)
            data = resp.read()
        transferred = len(data)
        if status != 206:
            # server advertised Accept-Ranges on HEAD but ignored the
            # Range header (200 full body): slice the requested window
            # instead of handing pyarrow mis-positioned bytes — serving
            # data[pos:] keeps reads correct at the cost of the full
            # transfer the server forced anyway (bytes_fetched records
            # the bytes the server actually sent, not the sliced window,
            # so the efficiency stats stay honest when it misbehaves)
            data = data[self._pos : self._pos + n]
        self._pos += len(data)
        self.requests_made += 1
        self.bytes_fetched += transferred
        return data

    def readable(self) -> bool:
        return True

    def seekable(self) -> bool:
        return True

    def writable(self) -> bool:
        return False

    @property
    def closed(self) -> bool:  # pyarrow probes this as an ATTRIBUTE
        return False

    def close(self) -> None:
        pass

    def __enter__(self):
        return self

    def __exit__(self, *exc) -> None:
        self.close()


class _QueryBase:
    def __init__(self, engine: Engine):
        self.engine = engine

    def close(self) -> None:
        self.engine.close()

    def __enter__(self):
        return self

    def __exit__(self, *exc) -> None:
        self.close()


class SnapshotQueries(_QueryBase):
    """P1/P2 (reference queries/snapshots.py)."""

    def get_available_symbols_on_date(self, date: dt.date | str) -> list[dict]:
        df = snapshots.available_symbols_on_date(self.engine.table(), parse_iso_date(date))
        return [r.asDict() for r in df.collect()]

    def get_symbols_in_date_range(
        self, start: dt.date | str, end: dt.date | str
    ) -> list[str]:
        df = snapshots.symbols_available_in_range(
            self.engine.table(), parse_iso_date(start), parse_iso_date(end)
        )
        return [r["symbol"] for r in df.collect()]


class TimelineQueries(_QueryBase):
    """P3/A2 (reference queries/timelines.py)."""

    def get_symbol_availability_timeline(self, symbol: str) -> list[dict]:
        df = timelines.availability_timeline(self.engine.table(), symbol)
        return [r.asDict() for r in df.collect()]

    def get_symbol_first_listing_date(self, symbol: str) -> dt.date | None:
        row = timelines.first_listing_date(self.engine.table(), symbol).collect()
        return row[0]["first_date"] if row else None

    def get_symbol_last_available_date(self, symbol: str) -> dt.date | None:
        row = timelines.last_available_date(self.engine.table(), symbol).collect()
        return row[0]["last_date"] if row else None


class AnalyticsQueries(_QueryBase):
    """A1/J3/J4/A5/A6 (reference queries/analytics.py + stats scripts)."""

    def detect_new_listings(self, date: dt.date | str) -> list[str]:
        df = analytics.new_listings(self.engine.table(), parse_iso_date(date))
        return [r["symbol"] for r in df.collect()]

    def detect_delistings(self, date: dt.date | str) -> list[str]:
        df = analytics.delistings(self.engine.table(), parse_iso_date(date))
        return [r["symbol"] for r in df.collect()]

    def get_availability_trend(
        self,
        start: dt.date | str | None = None,
        end: dt.date | str | None = None,
    ) -> list[dict]:
        # routed: served from the daily_symbol_counts matview when fresh
        df = self.engine.trend(parse_iso_date(start), parse_iso_date(end))
        return [r.asDict() for r in df.collect()]

    def get_stats(self) -> dict:
        return analytics.availability_stats(self.engine.table()).collect()[0].asDict()


class VolumeQueries(_QueryBase):
    """W1-W3/O2/O3/A3/A4 (reference queries/volume.py)."""

    def get_top_by_volume(
        self,
        date: dt.date | str,
        limit: int = 10,
        min_volume: float | None = None,
    ) -> list[dict]:
        df = volume.top_by_volume(self.engine.table(), date, limit, min_volume)
        return [r.asDict() for r in df.collect()]

    def get_volume_percentile(self, symbol: str, date: dt.date | str) -> dict | None:
        rows = volume.volume_percentile(self.engine.table(), symbol, date).collect()
        return rows[0].asDict() if rows else None

    def get_average_volume(
        self, symbol: str, start: dt.date | str, end: dt.date | str
    ) -> dict:
        return (
            volume.average_volume(self.engine.table(), symbol, start, end)
            .collect()[0]
            .asDict()
        )

    def get_volume_trend(self, symbol: str, days: int = 30) -> list[dict]:
        df = volume.volume_trend(self.engine.table(), symbol, days)
        return [r.asDict() for r in df.collect()]

    def get_market_summary(self, date: dt.date | str) -> dict:
        return (
            volume.market_summary(self.engine.table(), date).collect()[0].asDict()
        )
