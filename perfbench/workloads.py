"""The benchmark's workloads: set-up, one op, and the check of that op.

Each workload is driven by one client thread in a closed loop: the next
op starts when the previous one (and its check) has finished. ``setup``
copies the workload's fixtures into a fresh directory and builds its
handles; ``op`` is the timed call into the engine; ``check`` compares the
op's answer with DuckDB and runs outside the timing.
"""

from __future__ import annotations

import collections
import datetime as dt
import hashlib
import os
import random
import statistics
import time
from email.utils import format_datetime, parsedate_to_datetime

import pyarrow.parquet as pq

import fixtures
from oracle import diff

from binance_futures_availability_spark import update
from binance_futures_availability_spark.api import (
    AnalyticsQueries,
    Engine,
    SnapshotQueries,
    TimelineQueries,
    VolumeQueries,
)
from binance_futures_availability_spark.ingest import probe
from binance_futures_availability_spark.operators import (
    analytics,
    dedup,
    rankings,
    textops,
)
from binance_futures_availability_spark import oracles
from binance_futures_availability_spark.schema import DAILY_AVAILABILITY
from binance_futures_availability_spark.sources import writer

LSH_THRESHOLD = 0.5
LOOKBACK_DAYS = 3


class Workload:
    """Base: ``ctx`` carries spark, tracer, oracle, seed, fixtures, nproc."""

    def __init__(self, ctx):
        self.ctx = ctx

    def count(self, name, value):
        self.ctx.tracer.count(name, value)

    def setup(self, rep_dir: str) -> None:
        raise NotImplementedError

    def prepare_oracle(self) -> None:
        """Untimed: point the oracle at the final set-up's files."""

    def op(self, k: int):
        raise NotImplementedError

    def check(self, k: int, result) -> list[str]:
        raise NotImplementedError


# ------------------------------------------------------------ api_lookups
class ApiLookups(Workload):
    """Seeded public-API lookups on one ``Engine(table_path=...)`` over the
    2,500-date table, from its first lookup on. Kinds cycle in a fixed
    order so a run of any length covers the mix evenly; the seed draws
    every date (80% from the newest 30 days) and symbol (uniform)."""

    KINDS = (
        "snapshot", "top_by_volume", "timeline", "range", "new_listings",
        "market_summary", "first_listing", "percentile", "delistings", "trend",
    )

    def setup(self, rep_dir):
        meta = self.ctx.meta["fact_full"]
        self.fact = os.path.join(rep_dir, "fact")
        fixtures.copy_table(os.path.join(self.ctx.fixtures, "fact_full"), self.fact)
        self.engine = Engine(table_path=self.fact, spark=self.ctx.spark)
        self.max_date = dt.date.fromisoformat(meta["max_date"])
        self.n_dates = meta["dates"]
        self.rng = random.Random(self.ctx.seed)
        self.symbols = fixtures.symbols()

    def prepare_oracle(self):
        self.ctx.oracle.use_fact(self.fact, materialize=True)

    def _date(self) -> dt.date:
        if self.rng.random() < 0.8:
            return self.max_date - dt.timedelta(days=self.rng.randrange(30))
        return self.max_date - dt.timedelta(days=self.rng.randrange(self.n_dates))

    def op(self, k):
        kind = self.KINDS[k % len(self.KINDS)]
        e = self.engine
        d = self._date().isoformat()
        s = self.rng.choice(self.symbols)
        span = self.rng.randrange(1, 31)
        lo = (dt.date.fromisoformat(d) - dt.timedelta(days=span)).isoformat()
        with self.ctx.tracer.span("operators.exec"):
            if kind == "snapshot":
                got = SnapshotQueries(e).get_available_symbols_on_date(d)
                want = ("availability_snapshot", {"date": d})
            elif kind == "top_by_volume":
                got = VolumeQueries(e).get_top_by_volume(d, 10)
                want = ("top_by_volume", {"date": d})
            elif kind == "timeline":
                got = TimelineQueries(e).get_symbol_availability_timeline(s)
                want = ("availability_timeline", {"symbol": s})
            elif kind == "range":
                got = [{"symbol": x} for x in
                       SnapshotQueries(e).get_symbols_in_date_range(lo, d)]
                want = ("availability_range_distinct", {"start": lo, "end": d})
            elif kind == "new_listings":
                got = [{"symbol": x} for x in AnalyticsQueries(e).detect_new_listings(d)]
                want = ("new_listings", {"date": d})
            elif kind == "market_summary":
                got = [VolumeQueries(e).get_market_summary(d)]
                want = ("market_summary", {"date": d})
            elif kind == "first_listing":
                got = [{"first_date": TimelineQueries(e).get_symbol_first_listing_date(s)}]
                want = ("first_listing_date", {"symbol": s})
            elif kind == "percentile":
                row = VolumeQueries(e).get_volume_percentile(s, d)
                got = [] if row is None else [row]
                want = ("volume_percentile", {"date": d, "symbol": s})
            elif kind == "delistings":
                got = [{"symbol": x} for x in AnalyticsQueries(e).detect_delistings(d)]
                want = ("delistings", {"date": d})
            else:
                got = AnalyticsQueries(e).get_availability_trend(lo, d)
                want = ("availability_trend", {"start": lo, "end": d})
        self.count("operators.rows_returned", len(got))
        return kind, got, want

    def check(self, k, result):
        kind, got, (name, params) = result
        problem = diff(got, self.ctx.oracle.entry_query(name, **params))
        return [f"{kind}{params}: {problem}"] if problem else []


# ----------------------------------------------------------- daily_update
class Transport:
    """Deterministic in-process HEAD transport: status and size are md5
    functions of (seed, symbol, date), like the gate's synthetic S3.
    Records every answer so the check can compare the table with it."""

    def __init__(self, seed: int):
        self.seed = seed
        self.answers: dict[tuple[str, str], tuple[int, dict]] = {}

    def __call__(self, url: str, timeout: float):
        name = url.rsplit("/", 1)[-1]  # SYM-1m-YYYY-MM-DD.zip
        sym, _, rest = name.partition("-1m-")
        d = rest[:-4]
        h = int(hashlib.md5(f"{self.seed}:{sym}:{d}".encode()).hexdigest()[:15], 16)
        if h % 10 < 7:
            published = dt.datetime.fromisoformat(d).replace(
                tzinfo=dt.timezone.utc
            ) + dt.timedelta(days=1, seconds=h % 3600)
            answer = (200, {
                "Content-Length": str(h % 100000),
                "Last-Modified": format_datetime(published, usegmt=True),
            })
        else:
            answer = (404, {})
        self.answers[(sym, d)] = answer
        return answer


def _file_map(path: str) -> dict:
    out = {}
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(dirpath, n)
                st = os.stat(p)
                out[p] = (st.st_ino, st.st_mtime_ns, st.st_size)
    return out


class DailyTick(Workload):
    """Sequential ``update.run_daily_update`` ticks on a private copy of
    the 60-date table: each tick advances ``today`` by one day with a
    3-day lookback (one new date, two re-probed), 1,000 symbols, validation
    on, and the rankings append into the archive copied in set-up."""

    def setup(self, rep_dir):
        self.fact = os.path.join(rep_dir, "fact")
        self.archive = os.path.join(rep_dir, "rankings")
        fixtures.copy_table(os.path.join(self.ctx.fixtures, "fact_recent"), self.fact)
        fixtures.copy_table(
            os.path.join(self.ctx.fixtures, "rankings_recent"), self.archive
        )
        self.max_date = dt.date.fromisoformat(self.ctx.meta["fact_recent"]["max_date"])
        self.symbols = fixtures.symbols()

    def op(self, k):
        tracer = self.ctx.tracer
        before = (
            {**_file_map(self.fact), **_file_map(self.archive)}
            if tracer.enabled else None
        )
        transport = Transport(self.ctx.seed)
        today = self.max_date + dt.timedelta(days=2 + k)
        summary = update.run_daily_update(
            self.ctx.spark,
            self.fact,
            self.symbols,
            lookback_days=LOOKBACK_DAYS,
            today=today,
            head=transport,
            rankings_path=self.archive,
            generated_at=fixtures.GEN_TS,
            max_workers=self.ctx.nproc,
            validate=True,
        )
        if tracer.enabled:
            # everything the tick runs after validation is the rankings append
            report = tracer.last("validation.report")
            tracer.add_span("rankings.append", report["end"], time.perf_counter())
            self._writer_counts(before, summary["records"])
            self.count("ingest.probes", summary["records"])
            self.count("ingest.probe_failures", sum(
                1 for status, _ in transport.answers.values()
                if status not in (200, 404)
            ))
        return transport, summary

    def _writer_counts(self, before, records):
        """Files the tick created under the table and archive."""
        fact_after = _file_map(self.fact)
        after = {**fact_after, **_file_map(self.archive)}
        new = [p for p, v in after.items() if before.get(p) != v]
        new_fact = [p for p in new if p in fact_after]
        self.count("writer.files_written", len(new_fact))
        self.count("writer.bytes_written", sum(after[p][2] for p in new_fact))
        self.count("writer.partitions_rewritten",
                   len({os.path.dirname(p) for p in new_fact}))
        per_part = collections.Counter(os.path.dirname(p) for p in fact_after)
        self.count("writer.files_per_partition", statistics.median(per_part.values()))
        self.count("writer.bytes_written_per_record",
                   sum(after[p][2] for p in new) / max(records, 1))

    def check(self, k, result):
        transport, summary = result
        problems = []
        lo, hi = summary["window"]
        want = []
        for (sym, d), (status, headers) in transport.answers.items():
            ok = status == 200
            want.append({
                "date": dt.date.fromisoformat(d),
                "symbol": sym,
                "available": ok,
                "file_size_bytes": int(headers["Content-Length"]) if ok else None,
                "last_modified": (
                    parsedate_to_datetime(headers["Last-Modified"]).replace(tzinfo=None)
                    if ok else None
                ),
                "url": probe.kline_url(sym, dt.date.fromisoformat(d)),
                "status_code": status,
            })
        oracle = self.ctx.oracle
        oracle.use_fact(self.fact)
        got = oracle.rows(
            "SELECT date, symbol, available, file_size_bytes, last_modified, url,"
            f" status_code FROM da WHERE date BETWEEN DATE '{lo}' AND DATE '{hi}'"
        )
        problem = diff(got, want)
        if problem:
            problems.append(f"tick {k} window read-back: {problem}")
        dups = oracle.rows(
            "SELECT COUNT(*) AS n FROM (SELECT date, symbol FROM da"
            " GROUP BY date, symbol HAVING COUNT(*) > 1)"
        )[0]["n"]
        if dups:
            problems.append(f"tick {k}: {dups} (date, symbol) keys with >1 row")
        expected = set(DAILY_AVAILABILITY.fieldNames()) - {"date"}
        narrow = 0
        for p in _file_map(self.fact):
            if not expected <= set(pq.read_schema(p).names):
                narrow += 1
        if narrow:
            problems.append(
                f"tick {k}: {narrow} data files lack some of the "
                f"{len(expected) + 1} fact columns"
            )
        return problems


# ------------------------------------------------------------ offline_batch
class ExportAndCurate(Workload):
    """The rankings export job (open the stored table once, rebuild the
    full rankings archive to parquet, collect availability stats and
    transition events), then one curation pass (exact dedup, MinHash-LSH
    pairs, duplicate clusters, curation pipeline) over a fresh seeded
    document shard. Reads the fact table ``DailyTick`` set up."""

    SHARDS_IN_SETUP = 1

    def setup(self, rep_dir):
        self.rep_dir = rep_dir
        self.fact = os.path.join(rep_dir, "fact")
        self.docs_dir = os.path.join(rep_dir, "docs")
        os.makedirs(self.docs_dir)
        self.shards = [self._shard(i) for i in range(self.SHARDS_IN_SETUP)]

    def _shard(self, i: int) -> tuple[str, int]:
        path = os.path.join(self.docs_dir, f"shard_{i:04d}.parquet")
        n = fixtures.write_doc_shard(path, self.ctx.seed, i)
        return path, n

    def op(self, k):
        tracer, spark = self.ctx.tracer, self.ctx.spark
        if k >= len(self.shards):  # a fast program outruns the set-up shards
            self.shards.append(self._shard(k))
        shard, n_docs = self.shards[k]
        out = {"export": os.path.join(self.rep_dir, f"export_{k}"), "shard": shard}
        da = Engine(table_path=self.fact, spark=spark).table()
        with tracer.span("rankings.rebuild"):
            rankings.volume_rankings(
                da, generated_at=fixtures.GEN_TS, sort=False
            ).write.mode("overwrite").parquet(out["export"])
        with tracer.span("analytics.stats"):
            out["stats"] = [r.asDict() for r in analytics.availability_stats(da).collect()]
        with tracer.span("analytics.transitions"):
            out["transitions"] = [
                r.asDict() for r in analytics.transition_events(da).collect()
            ]
        docs = spark.read.parquet(shard)
        with tracer.span("dedup.exact"):
            out["exact"] = [r.asDict() for r in dedup.exact_duplicates(docs).collect()]
        with tracer.span("dedup.minhash_lsh"):
            pairs = dedup.minhash_lsh_pairs(docs, LSH_THRESHOLD)
            out["pairs"] = [r.asDict() for r in pairs.collect()]
        with tracer.span("dedup.clusters"):
            out["clusters"] = [
                r.asDict() for r in dedup.duplicate_clusters(docs, pairs).collect()
            ]
        with tracer.span("textops.curate"):
            out["curated"] = [r.asDict() for r in textops.curate_corpus(docs).collect()]
        self.count("dedup.pairs_out", len(out["pairs"]))
        self.count("curation.docs", n_docs)
        return out

    def check(self, k, out):
        oracle = self.ctx.oracle
        problems = []
        archive = oracle.rows(f"SELECT * FROM read_parquet('{out['export']}/*.parquet')")
        checks = [
            ("rankings archive", archive, oracle.entry_query("volume_rankings")),
            ("availability_stats", out["stats"],
             oracle.entry_query("availability_stats")),
            ("transition_events", out["transitions"],
             oracle.entry_query("transition_events")),
        ]
        oracle.use_documents(out["shard"])
        checks += [
            ("exact_duplicates", out["exact"],
             oracle.rows(oracles.sql_exact_dup_groups())),
            ("minhash_lsh_pairs", out["pairs"],
             oracle.rows(oracles.sql_minhash_lsh_pairs(LSH_THRESHOLD))),
            ("duplicate_clusters", out["clusters"],
             oracle.rows(oracles.sql_duplicate_clusters(LSH_THRESHOLD))),
            ("curate_corpus", out["curated"],
             oracle.rows(oracles.sql_curate_corpus())),
        ]
        for name, got, want in checks:
            problem = diff(got, want)
            if problem:
                problems.append(f"op {k} {name}: {problem}")
        return problems


class NightlyBatch(Workload):
    """One op is a night of the batch jobs, in order: a cron tick into the
    table, the rankings export over the updated table, and a curation pass
    over the night's document shard."""

    def __init__(self, ctx):
        super().__init__(ctx)
        self.tick = DailyTick(ctx)
        self.export = ExportAndCurate(ctx)

    def setup(self, rep_dir):
        self.tick.setup(rep_dir)
        self.export.setup(rep_dir)

    def prepare_oracle(self):
        self.ctx.oracle.use_fact(self.tick.fact)

    def op(self, k):
        return self.tick.op(k), self.export.op(k)

    def check(self, k, result):
        # the tick check re-points ``da`` at the table the export read
        return self.tick.check(k, result[0]) + self.export.check(k, result[1])


WORKLOADS = {
    "api_lookups": ApiLookups,
    "nightly_batch": NightlyBatch,
}


def install_tracing(tracer, fact_root: str) -> None:
    """Spans around the engine calls the workloads reach only indirectly
    (inside ``Engine.table`` and ``update.run_daily_update``)."""
    from pyspark.sql.readwriter import DataFrameReader

    from binance_futures_availability_spark import session

    tracer.wrap(
        DataFrameReader, "parquet", "catalog.table_open",
        when=lambda _self, *paths, **_kw: any(
            str(p).startswith(fact_root) and str(p).rstrip("/").endswith("/fact")
            for p in paths
        ),
    )
    tracer.wrap(session, "get_session", "session.start")
    tracer.wrap(probe.BatchProber, "probe_date_range", "ingest.probe")
    tracer.wrap(update, "results_to_df", "ingest.to_df")
    tracer.wrap(writer, "upsert_partitioned", "writer.upsert")
    tracer.wrap(update, "validate_report", "validation.report")
