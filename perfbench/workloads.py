"""The benchmark's workloads: ``ingest`` and ``serve``.

Each workload has three parts: ``setup`` (one repetition: generate its
inputs from the seed and build what the timed part needs), ``measure``
(the timed part, for a given number of seconds) and ``check`` (compare
every recorded output with the reference, outside the timed part).

The calls into the program are the ones the rollup job composes
(``jobs/rollup_job.py``): the pages scan, ``RollupPipeline``, and for
late data ``maybe_compact`` → ``build_series`` → ``refresh_cascade``;
reads go through ``api.query_range``; the registry queries are the
callables ``__spark_entry__.queries()`` returns, called as the contract
calls them (``fn(spark, sf_dir)``).
"""

from __future__ import annotations

import dataclasses
import json
import os
import shutil
import threading
import time

import gen
import reference as ref
from harness import Bench, du, median

# Pipeline stages in run order for the job's default options (decimal
# state, string keys, no gap-fill, no histogram or calendar tiers).
STAGES = ("series", "rollup_1m", "rollup_1h", "rollup_1d", "zscore_intervals", "seasonal_intervals", "chunks")
BASE_STAGES = STAGES[:4]  # the tiers serve reads
TIERS = ("1m", "1h", "1d")

SIZES = {
    "full": {
        "ingest": gen.PagesSpec(pages=16000, domains=9, zipf_s=1.1, days=22, spike_pages=200, steady_per_hour=3),
        "store": gen.PagesSpec(pages=6000, domains=40, zipf_s=1.1, days=32, spike_pages=300, steady_per_hour=3),
        "batches": 2,  # per round: a late shard of the last 20 minutes, then a backfill
        "batch_pages": 150,
        "clients": 2,
        "reads": len(gen.OP_CYCLE),  # per round: one refresh period, after the reads of the touched windows
        "ops": 2000,
        # the row count of the sf0.1 events table
        "registry": gen.EventsSpec(events=100000, users=5000, days=30, burst=400, documents=5000, dup_share=0.1),
    },
    "tiny": {
        "ingest": gen.PagesSpec(pages=600, domains=4, zipf_s=1.1, days=22, spike_pages=60, steady_per_hour=3),
        "store": gen.PagesSpec(pages=1500, domains=12, zipf_s=1.1, days=30, spike_pages=60, steady_per_hour=3),
        "batches": 2,
        "batch_pages": 100,  # enough for the backfill to take the span path, as at full size
        "clients": 2,
        "reads": 6,
        "ops": 200,
        "registry": gen.EventsSpec(events=5000, users=500, days=30, burst=200, documents=1000, dup_share=0.1),
    },
}


def job_pages(spark, path: str):
    """The rollup job's page projection (url → domain, html → byte size)."""
    from pyspark.sql import functions as F

    from fischer_spark.functions.urls import with_url_parts
    from fischer_spark.sources.pages import scan_pages

    pages = scan_pages(spark, path, ["url", "warc_ts", "html", "lang"])
    return with_url_parts(pages).select("domain", "warc_ts", F.octet_length("html").alias("page_bytes"), "lang")


def run_stages(b: Bench, store, run_id: str, pages_path: str, stages) -> None:
    """Drive RollupPipeline one stage at a time through its resume
    contract, one span per stage (each stage's cost lands on its commit)."""
    from fischer_spark.plans.pipeline import RollupPipeline

    pipe = RollupPipeline(b.spark, store, run_id)
    pages = job_pages(b.spark, pages_path)
    for stage in stages:
        with b.span(f"stage.{stage}"):
            pipe.run(pages, until=stage)


def chain_len(store, table: str) -> int:
    return len(store.snapshots(table))


def commits(root: str) -> int:
    """Snapshots committed across every table of a warehouse."""
    n = 0
    for table in os.listdir(root):
        path = os.path.join(root, table, "manifest.json")
        if os.path.exists(path):
            with open(path) as f:
                n += len(json.load(f)["snapshots"])
    return n


@dataclasses.dataclass
class Result:
    """What one measured phase recorded."""

    op_ms: list[float] = dataclasses.field(default_factory=list)
    work: float = 0.0  # units of work completed (points, queries, ...)
    wall_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    outputs: list = dataclasses.field(default_factory=list)
    extra: dict = dataclasses.field(default_factory=dict)


def _until(t_end: float):
    """Loop at least once, then while the deadline has not passed."""
    yield
    while time.perf_counter() < t_end:
        yield


def _fail(res: Result, what: str, exc: BaseException) -> None:
    import traceback

    res.failed += 1
    print(f"operation failed: {what}: {exc!r}", flush=True)
    traceback.print_exc()


class Workload:
    name = ""
    setup_reps = 3  # setup_s is the median over these repetitions

    def __init__(self, scale: str, seed: int, work: str):
        self.size = SIZES[scale]
        self.seed = seed
        self.work = os.path.join(work, self.name)
        os.makedirs(self.work, exist_ok=True)

    def setup(self, b: Bench, rep: int) -> None:
        raise NotImplementedError

    def measure(self, b: Bench, seconds: float) -> Result:
        raise NotImplementedError

    def check(self, b: Bench, results: list[Result]) -> list[str]:
        raise NotImplementedError

    def warm_up(self, b: Bench) -> None:
        """Untimed work between set-up and measurement (none by default)."""

    def counts(self, b: Bench, results: list[Result]) -> dict:
        """Per-layer figures read from the stores after the run."""
        raise NotImplementedError


# -- ingest -------------------------------------------------------------------


class Ingest(Workload):
    """One batch job per operation: a RollupPipeline run into a fresh
    warehouse, then one pass over the registry queries."""

    name = "ingest"

    def setup(self, b: Bench, rep: int) -> None:
        d = os.path.join(self.work, f"setup{rep}")
        os.makedirs(d)
        table, self.planted, _ = gen.make_pages(self.size["ingest"], self.seed)
        self.pages_path = os.path.join(d, "pages.parquet")
        gen.write_parquet(table, self.pages_path)
        # landing check; also the session's first job
        with b.span("land.scan"):
            landed = b.spark.read.parquet(self.pages_path).count()
        if landed != table.num_rows:
            raise RuntimeError(f"landed {landed} pages, generated {table.num_rows}")
        self.sf_dir = os.path.join(d, "sf")
        land_registry_tables(b, self.size["registry"], self.seed, self.sf_dir)
        self.runs = 0

    def measure(self, b: Bench, seconds: float) -> Result:
        from fischer_spark.sources.storage import ParquetManifestStore

        res = Result(extra={"batch_ms": [], "module_s": [], "registry": []})
        t_end = time.perf_counter() + seconds
        for _ in _until(t_end):
            self.runs += 1
            root = os.path.join(self.work, f"run{self.runs}")
            store = ParquetManifestStore(b.spark, root)
            res.attempted += 1
            t0 = time.perf_counter()
            try:
                with b.span("ingest.pipeline"):
                    run_stages(b, store, f"run{self.runs}", self.pages_path, STAGES)
            except Exception as e:  # one failed run counts; the loop goes on
                _fail(res, f"pipeline run {self.runs}", e)
                continue
            took = time.perf_counter() - t0
            points = store.read("series").count()
            res.op_ms.append(took * 1000.0)
            res.work += points
            res.wall_s += took
            res.outputs.append(root)
            registry_pass(b, self.sf_dir, res)
        return res

    def check(self, b: Bench, results: list[Result]) -> list[str]:
        from fischer_spark.operators.chunks import decode_chunks
        from fischer_spark.sources.storage import ParquetManifestStore

        r = ref.Reference()
        try:
            r.add_pages(self.pages_path)
            means = ref.hourly_means(r.tier("1h"))
            want_iv = {
                "zscore": ref.intervals(ref.zscore(means)),
                "seasonal": ref.intervals(ref.seasonal(means)),
            }
            errs = planted_errors(self.planted, want_iv)
            for res in results:
                for root in res.outputs:
                    store = ParquetManifestStore(b.spark, root)
                    errs += tier_errors(r, store, root)
                    for det, iv in want_iv.items():
                        if not iv:
                            errs.append(f"reference {det} interval table is empty")
                        errs += interval_errors(store.read(f"{det}_intervals").collect(), iv, f"{root} {det}")
                    # the codec round trip: every series point, bit for bit
                    errs += r.points_errors(decode_chunks(store.read("chunks")).toArrow(), f"{root} chunks")
        finally:
            r.close()
        return errs + registry_errors(self.sf_dir, [o for res in results for o in res.extra["registry"]])

    def counts(self, b: Bench, results: list[Result]) -> dict:
        from fischer_spark.sources.storage import ParquetManifestStore

        root = results[-1].outputs[-1]
        store = ParquetManifestStore(b.spark, root)
        points = store.read("series").count()
        rows_1m = store.read("rollup_1m").count()
        enc = store.read("chunks").selectExpr("sum(octet_length(ts_bytes) + octet_length(val_bytes))").collect()[0][0]
        written, files = du(root)
        return {
            "series.points_out": points,
            "rollup.1m_rows_out": rows_1m,
            "rollup.1m_reduction": points / rows_1m,
            "detect.intervals_out": store.read("zscore_intervals").count() + store.read("seasonal_intervals").count(),
            "chunks.bytes_per_point": enc / points,
            "storage.commits": commits(root),
            "storage.bytes_written": written,
            "storage.files_written": files,
            "storage.read_chain_len": max(chain_len(store, f"rollup_{t}") for t in TIERS),
        }


# -- serve --------------------------------------------------------------------


class Serve(Workload):
    """Dashboard reads while late data keeps arriving.  A round starts from
    a copy of the pristine base store and merges every late batch in order
    through the job's --refresh path; then a fixed number of client threads
    sharing the session run a closed loop over the round's reads: the
    windows the batches touched, then the next slice of the Zipf-drawn
    operation mix.  Whole rounds repeat for the measured time, so every
    round does the same work and snapshot chains grow the same way."""

    name = "serve"

    def setup(self, b: Bench, rep: int) -> None:
        from fischer_spark.sources.storage import ParquetManifestStore

        spec = self.size["store"]
        d = os.path.join(self.work, f"setup{rep}")
        os.makedirs(d)
        table, _, factory = gen.make_pages(spec, self.seed)
        self.pages_path = os.path.join(d, "pages.parquet")
        gen.write_parquet(table, self.pages_path)
        self.batch_paths, self.windows = [], []
        for k, t in enumerate(gen.late_batches(factory, self.seed, self.size["batches"], self.size["batch_pages"])):
            path = os.path.join(d, f"batch{k + 1}.parquet")
            gen.write_parquet(t, path)
            self.batch_paths.append(path)
            self.windows.append(hour_window(t))
        self.pristine = os.path.join(d, "warehouse")
        run_stages(b, ParquetManifestStore(b.spark, self.pristine), "base", self.pages_path, BASE_STAGES)
        self.ops = gen.serve_ops(spec, self.seed, self.size["ops"])
        self.rounds = 0

    def measure(self, b: Bench, seconds: float) -> Result:
        from fischer_spark.sources.storage import ParquetManifestStore

        res = Result(extra={"batch_ms": [], "chain": []})
        t_start = time.perf_counter()
        t_end = t_start + seconds
        for _ in _until(t_end):
            self.rounds += 1
            root = os.path.join(self.work, f"round{self.rounds}")
            shutil.copytree(self.pristine, root)
            store = ParquetManifestStore(b.spark, root)
            applied = 0
            for k, path in enumerate(self.batch_paths, start=1):
                res.attempted += 1
                t0 = time.perf_counter()
                try:
                    merge_batch(b, store, path)
                except Exception as e:  # later batches would merge onto a broken store
                    _fail(res, f"batch {k}", e)
                    break
                res.extra["batch_ms"].append((time.perf_counter() - t0) * 1000.0)
                res.extra["chain"].append(chain_len(store, "rollup_1h"))
                applied = k
            if applied:
                n = self.size["reads"]
                ops = [gen.Op("fresh", "crawl_rate", *w, 3600) for w in self.windows[:applied]]
                ops += [self.ops[((self.rounds - 1) * n + j) % len(self.ops)] for j in range(n)]
                self._read_phase(b, store, applied, ops, res)
            res.outputs.append(("store", applied, root))
        res.wall_s = time.perf_counter() - t_start
        res.work = len(res.op_ms)
        return res

    def warm_up(self, b: Bench) -> None:
        """One read of each kind on the base store, so the measured reads
        do not pay first-use plan compilation.  Merges stay cold: a warm-up
        round would cost as much as the measured one."""
        from fischer_spark.sources.storage import ParquetManifestStore

        first = {op.kind: op for op in reversed(self.ops)}
        self._read_phase(b, ParquetManifestStore(b.spark, self.pristine), 0, list(first.values()), Result())

    def _read_phase(self, b: Bench, store, k: int, ops: list[gen.Op], res: Result) -> None:
        lock = threading.Lock()
        todo = iter(ops)

        def client() -> None:
            while True:
                with lock:
                    op = next(todo, None)
                    if op is None:
                        return
                    res.attempted += 1
                t0 = time.perf_counter()
                try:
                    rows = run_query(b, store, op)
                except Exception as e:  # counted; the client goes on
                    with lock:
                        _fail(res, f"{op}", e)
                    continue
                ms = (time.perf_counter() - t0) * 1000.0
                with lock:
                    res.op_ms.append(ms)
                    res.outputs.append(("read", k, op, rows))

        threads = [threading.Thread(target=client) for _ in range(self.size["clients"])]
        for t in threads:
            t.start()
        for t in threads:
            t.join()

    def check(self, b: Bench, results: list[Result]) -> list[str]:
        from fischer_spark.sources.storage import ParquetManifestStore

        r = ref.Reference()
        errs: list[str] = []
        want: dict = {}
        try:
            r.add_pages(self.pages_path)
            for k, path in enumerate(self.batch_paths, start=1):
                r.add_pages(path, batch=k)
            for res in results:
                for out in res.outputs:
                    if out[0] == "read":
                        _, k, op, rows = out
                        if (op, k) not in want:
                            want[op, k] = reference_answer(r, op, upto=k)
                        errs += answer_errors(op, rows, want[op, k])
                    else:
                        _, applied, root = out
                        store = ParquetManifestStore(b.spark, root)
                        errs += tier_errors(r, store, f"{root} after {applied} batches", upto=applied)
                    if len(errs) > 10:
                        break
        finally:
            r.close()
        return errs

    def counts(self, b: Bench, results: list[Result]) -> dict:
        from fischer_spark.sources.storage import ParquetManifestStore

        res = results[-1]
        store = ParquetManifestStore(b.spark, self.pristine)
        points = store.read("series").count()
        rows_1m = store.read("rollup_1m").count()
        _, _, root = next(o for o in reversed(res.outputs) if o[0] == "store")
        written, files = du(root)
        base_written, base_files = du(self.pristine)
        scores = [len(o[3]) for o in res.outputs if o[0] == "read" and o[2].kind == "score"]
        return {
            "series.points_out": points,
            "rollup.1m_rows_out": rows_1m,
            "rollup.1m_reduction": points / rows_1m,
            "detect.intervals_out": median(scores) if scores else 0,
            "storage.commits": commits(root) - commits(self.pristine),
            "storage.bytes_written": written - base_written,
            "storage.files_written": files - base_files,
            "storage.read_chain_len": max(res.extra["chain"], default=0),
        }


def merge_batch(b: Bench, store, path: str) -> None:
    """The rollup job's --refresh path for string-keyed tiers: compact long
    snapshot chains, build the batch's series, merge it into every tier."""
    from fischer_spark.operators.rollup import refresh_cascade
    from fischer_spark.operators.series import build_series

    with b.span("refresh.batch"):
        with b.span("refresh.compact"):
            for t in TIERS:
                store.maybe_compact(f"rollup_{t}")
        with b.span("refresh.build_series"):
            late = build_series(job_pages(b.spark, path))
        with b.span("refresh.cascade"):
            refresh_cascade(store, late, impl="decimal")


def run_query(b: Bench, store, op: gen.Op):
    """One read: plan (query_range, plus the detector chain for ``score``),
    then execute (collect), each in its own span."""
    from fischer_spark.api import query_range
    from fischer_spark.operators.detect import anomaly_intervals, zscore_window

    with b.span("api.query", kind=op.kind) as s:
        with b.span("api.plan"):
            df = query_range(store, op.metric, op.start, op.end, op.step_s, **op.kwargs())
            if op.kind == "score":
                df = anomaly_intervals(zscore_window(df, w=24, min_periods=8), tau=3.0, tier="1h", detector="zscore")
        with b.span("api.exec"):
            rows = [tuple(r) for r in df.collect()]
        if s is not None:
            s.counts["rows"] = len(rows)
    return rows


def reference_answer(r: ref.Reference, op: gen.Op, upto: int = 0) -> dict:
    rows = r.query_range(op.metric, op.start, op.end, op.step_s, upto=upto, **op.kwargs())
    if op.kind == "score":
        return ref.intervals(ref.zscore(rows))
    return {row[:4]: row[4] for row in rows}


def answer_errors(op: gen.Op, rows: list[tuple], want: dict) -> list[str]:
    if op.kind == "score":
        return interval_errors(rows, want, f"{op}")
    got = {row[:4]: row[4] for row in rows}
    if len(got) != len(rows):
        return [f"{op}: duplicate output keys"]
    return ref.diff_keyed(got, want, ref.close, f"{op}")


def hour_window(table) -> tuple[str, str]:
    """The hour-aligned [lo, hi) window a batch's pages fall in."""
    import numpy as np

    secs = (table["warc_ts"].to_numpy() - np.datetime64(gen.BASE_TS, "us")) // np.timedelta64(1, "s")
    return gen.ts_str(int(secs.min()) // 3600 * 3600), gen.ts_str(int(secs.max()) // 3600 * 3600 + 3600)


# -- output checks ------------------------------------------------------------


def tier_errors(r: ref.Reference, store, what: str, upto: int = 0) -> list[str]:
    errs = []
    for t in TIERS:
        got = store.read(f"rollup_{t}").select("domain", "metric", "tag", "bucket_ts", "cnt", "sum", "min", "max")
        errs += r.tier_errors(t, got.toArrow(), what, upto=upto)
    return errs


def interval_errors(rows, want: dict, what: str) -> list[str]:
    """Spark interval rows (domain, metric, tag, tier, detector, start, end,
    peak, mean, n) against the reference."""
    got = {(r[0], r[1], r[2], r[5], r[6]): (r[7], r[8], r[9]) for r in rows}

    def eq(g, w):
        return g[2] == w[2] and ref.close(g[0], w[0]) and ref.close(g[1], w[1])

    return ref.diff_keyed(got, want, eq, what)


def planted_errors(planted: gen.Planted, want_iv: dict) -> list[str]:
    """The generator's planted anomalies must each show up as a reference
    interval (so the program, which must equal the reference, flags them)."""
    import datetime as dt

    def day(k: int) -> dt.date:
        return (gen.BASE_TS + dt.timedelta(days=k)).date()

    def hit(det: str, domain: int, metric: str, when) -> bool:
        name = gen.domain_name(domain)
        return any(k[0] == name and k[1] == metric and when(k[3], k[4]) for k in want_iv[det])

    errs = []
    spike = gen.BASE_TS + dt.timedelta(days=planted.spike_day, hours=planted.spike_hour)
    if not hit("zscore", gen.SPIKE_DOMAIN, "crawl_rate", lambda s, e: s <= spike <= e):
        errs.append(f"planted crawl spike at {spike} not flagged")
    if not hit("zscore", gen.SHIFT_DOMAIN, "page_size", lambda s, e: s.date() <= day(planted.shift_day) <= e.date()):
        errs.append(f"planted level shift on {day(planted.shift_day)} not flagged")
    if not hit("seasonal", gen.SEASONAL_DOMAIN, "page_size", lambda s, e: s.date() <= day(planted.break_day) <= e.date()):
        errs.append(f"planted seasonal break on {day(planted.break_day)} not flagged")
    return errs



# -- registry queries (part of ingest's batch job) ---------------------------

# The queries one pass runs, in registration order: the eight fischer-core
# queries over ``events`` (in ``queries`` and ``queries_extended``), and one
# from each of the other modules, so every module of the registry is timed.
REGISTRY = (
    ("queries", "rollup_1h_events"),
    ("queries", "gapfill_locf_events"),
    ("queries", "gapfill_linear_events"),
    ("queries", "zscore_events_1h"),
    ("queries", "anomaly_intervals_events"),
    ("queries", "seasonal_profile_events"),
    ("queries_extended", "hist_p95_1d_events"),
    ("queries_extended", "archive_roundtrip_1h_events"),
    ("queries_webtext", "lang_share_documents"),
    ("queries_contract", "distinct_users_per_type"),
)
CORE = tuple(q for m, q in REGISTRY if m in ("queries", "queries_extended"))
MODULES = ("queries", "queries_extended", "queries_webtext", "queries_contract")


def land_registry_tables(b: Bench, spec: gen.EventsSpec, seed: int, sf_dir: str) -> None:
    """Generate and land the ``events`` and ``documents`` tables the
    registry queries read, laid out as a testdata directory."""
    os.makedirs(sf_dir)
    for t, table in (("events", gen.make_events(spec, seed)), ("documents", gen.make_documents(spec, seed))):
        path = os.path.join(sf_dir, f"{t}.parquet")
        gen.write_parquet(table, path)
        with b.span("land.scan"):
            landed = b.spark.read.parquet(path).count()
        if landed != table.num_rows:
            raise RuntimeError(f"landed {landed} {t} rows, generated {table.num_rows}")


def registry_pass(b: Bench, sf_dir: str, res: Result) -> None:
    """One pass over REGISTRY, each query called as the contract calls it
    (``fn(spark, sf_dir)``) and collected; its rows are kept for the check."""
    from fischer_spark.queries import get_queries

    queries = get_queries()
    module_s = dict.fromkeys(MODULES, 0.0)
    t_pass = time.perf_counter()
    for module, name in REGISTRY:
        res.attempted += 1
        t0 = time.perf_counter()
        try:
            with b.span(f"registry.{name}", module=module):
                df = queries[name](b.spark, sf_dir)
                rows = df.collect()
        except Exception as e:  # counted; the pass goes on
            _fail(res, name, e)
            continue
        module_s[module] += time.perf_counter() - t0
        res.extra["registry"].append((name, df.columns, rows))
    res.extra["batch_ms"].append((time.perf_counter() - t_pass) * 1000.0)
    res.extra["module_s"].append(module_s)


def registry_errors(sf_dir: str, outputs: list) -> list[str]:
    """Each query's rows against its ``oracle_sql()`` run in DuckDB over the
    same tables; the oracle must return rows."""
    import duckdb

    from fischer_spark.queries import get_oracles

    oracles = get_oracles()
    con = duckdb.connect()
    errs: list[str] = []
    want: dict = {}
    try:
        for t in ("events", "documents"):
            path = os.path.join(sf_dir, f"{t}.parquet").replace("'", "''")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        for name, cols, rows in outputs:
            if name not in want:
                cur = con.execute(oracles[name])
                want[name] = ([d[0] for d in cur.description], cur.fetchall())
            if not want[name][1]:
                errs.append(f"{name}: the oracle returns no rows on the generated tables")
            errs += ref.diff_rows(cols, [tuple(r) for r in rows], *want[name], name)
    finally:
        con.close()
    return errs


WORKLOADS = {w.name: w for w in (Ingest, Serve)}
