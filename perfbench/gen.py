"""Seeded benchmark inputs, independent of the program's own generators.

Everything here is numpy + pyarrow: the pages the program ingests, the
late batches and the operation mix of the serve workload.  The same seed
always gives the same inputs, and no program change can alter them.

Planted signal (the detectors must flag each of these):

- crawl spike: domain 0 gets ``spike_pages`` extra captures inside ten
  minutes of one hour, so its pages-per-active-minute jumps;
- level shift: domain 1's page size is multiplied by 4 from one day on;
- seasonal break: domain 2 has a steady hour-of-day page-size profile
  (business hours twice as large), inverted on one day.
"""

from __future__ import annotations

import dataclasses
import datetime as dt

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_TS = dt.datetime(2024, 3, 1)
LANGS = ("en", "de", "fr", "es", "ja")
_HTML_HEAD = b"<html><head><title>p</title></head><body><p>"
_HTML_TAIL = b"</p></body></html>"
_MIN_SIZE = len(_HTML_HEAD) + len(_HTML_TAIL) + 1

SPIKE_DOMAIN, SHIFT_DOMAIN, SEASONAL_DOMAIN = 0, 1, 2


@dataclasses.dataclass(frozen=True)
class PagesSpec:
    """Shape of one generated pages table."""

    pages: int  # background captures, Zipf-distributed over domains
    domains: int
    zipf_s: float
    days: int
    spike_pages: int
    steady_per_hour: int  # captures per hour of the spike and seasonal domains


@dataclasses.dataclass(frozen=True)
class Planted:
    spike_day: int
    spike_hour: int
    shift_day: int
    break_day: int


def domain_name(i: int) -> str:
    return f"d{i:03d}.example.org"


def zipf_weights(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


class PageFactory:
    """Turns (domain, timestamp) draws into page rows with the planted
    size/lang rules, so base pages and late batches follow one model."""

    def __init__(self, spec: PagesSpec, planted: Planted, seed: int):
        prof = np.random.default_rng([seed, 1])
        self.spec = spec
        self.planted = planted
        self.base_size = prof.integers(600, 4000, spec.domains)
        self.primary_lang = prof.integers(0, len(LANGS), spec.domains)
        self.weights = zipf_weights(spec.domains, spec.zipf_s)
        self.weights[SEASONAL_DOMAIN] = 0.0  # that domain has its own stream
        self.weights /= self.weights.sum()

    def sizes(self, rng, dom: np.ndarray, sec: np.ndarray) -> np.ndarray:
        day = sec // 86400
        hod = (sec % 86400) // 3600
        noise = rng.lognormal(0.0, 0.25, len(dom))
        factor = np.ones(len(dom))
        factor[(dom == SHIFT_DOMAIN) & (day >= self.planted.shift_day)] = 4.0
        seas = dom == SEASONAL_DOMAIN
        business = (hod >= 9) & (hod < 18)
        broken = day == self.planted.break_day
        factor[seas] = np.where(business[seas] != broken[seas], 2.0, 1.0)
        noise[seas] = rng.lognormal(0.0, 0.05, int(seas.sum()))
        size = (self.base_size[dom] * factor * noise).astype(np.int64)
        return np.maximum(size, _MIN_SIZE)

    def langs(self, rng, dom: np.ndarray) -> np.ndarray:
        noisy = rng.random(len(dom)) < 0.2
        idx = np.where(noisy, rng.integers(0, len(LANGS), len(dom)), self.primary_lang[dom])
        return np.asarray(LANGS, dtype=object)[idx]

    def table(self, rng, dom: np.ndarray, sec: np.ndarray) -> pa.Table:
        """Pages (url, warc_ts, html, text, lang) for the given draws."""
        order = np.lexsort((dom, sec))
        dom, sec = dom[order], sec[order]
        size = self.sizes(rng, dom, sec)
        lang = self.langs(rng, dom)
        page_id = rng.integers(0, 500, len(dom))
        filler = b"x" * int(size.max())
        pad = len(_HTML_HEAD) + len(_HTML_TAIL)
        html = [_HTML_HEAD + filler[: s - pad] + _HTML_TAIL for s in size.tolist()]
        url = [
            f"https://{domain_name(d)}/p/{p}" for d, p in zip(dom.tolist(), page_id.tolist())
        ]
        ts = np.datetime64(BASE_TS, "us") + sec.astype("timedelta64[s]")
        return pa.table(
            {
                "url": pa.array(url, pa.string()),
                "warc_ts": pa.array(ts, pa.timestamp("us")),
                "html": pa.array(html, pa.binary()),
                "text": pa.array([""] * len(url), pa.string()),
                "lang": pa.array(lang.tolist(), pa.string()),
            }
        )

    def background(self, rng, n: int, lo_s: int, hi_s: int) -> tuple[np.ndarray, np.ndarray]:
        dom = rng.choice(self.spec.domains, n, p=self.weights)
        sec = rng.integers(lo_s, hi_s, n)
        return dom, sec


def make_pages(spec: PagesSpec, seed: int) -> tuple[pa.Table, Planted, PageFactory]:
    rng = np.random.default_rng([seed, 0])
    days = spec.days
    planted = Planted(
        spike_day=int(rng.integers(days // 4, days // 2)),
        spike_hour=int(rng.integers(8, 17)),
        shift_day=int(rng.integers(days // 2, days - 3)),
        break_day=int(rng.integers(days // 2 + 7, days - 1)),
    )
    fac = PageFactory(spec, planted, seed)
    dom, sec = fac.background(rng, spec.pages, 0, days * 86400)
    spike_sec = (
        planted.spike_day * 86400
        + planted.spike_hour * 3600
        + rng.integers(600, 1200, spec.spike_pages)
    )
    # steady streams: every hour, captures in its first ten minutes, so
    # pages per active minute vary and the detectors' baselines are not flat
    hours = np.repeat(np.arange(days * 24), spec.steady_per_hour)
    steady = np.concatenate([hours, hours]) * 3600 + rng.integers(0, 600, 2 * len(hours))
    steady_dom = np.repeat([SPIKE_DOMAIN, SEASONAL_DOMAIN], len(hours))
    dom = np.concatenate([dom, np.full(spec.spike_pages, SPIKE_DOMAIN), steady_dom])
    sec = np.concatenate([sec, spike_sec, steady])
    return fac.table(rng, dom, sec), planted, fac


def late_batches(fac: PageFactory, seed: int, n_batches: int, batch_pages: int) -> list[pa.Table]:
    """The fixed late-batch sequence: odd batches are a late crawl shard
    covering the last twenty minutes of the history, even ones a backfill
    scattered over all of it."""
    rng = np.random.default_rng([seed, 2])
    end_s = fac.spec.days * 86400
    out = []
    for i in range(n_batches):
        lo = 0 if i % 2 == 1 else end_s - 20 * 60
        dom, sec = fac.background(rng, batch_pages, lo, end_s)
        out.append(fac.table(rng, dom, sec))
    return out


def write_parquet(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, row_group_size=1 << 16)


# -- serve operation mix ----------------------------------------------------

# The serve mix is the traffic of one stated monitoring set-up in one
# dashboard refresh period (10 reads), interleaved into a fixed order so
# every seed issues the same kinds and only the series and windows vary:
#   panel_1m     4  per-domain drill-down: 4 viewers, each on one domain
#                   (busy domains are watched more: Zipf), last 4 h at 1 min
#   overview_1h  1  fleet overview page: one metric of every series over
#                   the whole history at 1 h
#   agg_by_1d    1  language report: lang mix by domain at 1 d
#   regex_rate   2  crawl-health page: crawl rate of 2 domain groups
#                   (regex over names) as a per-second rate
#   score        2  the anomaly detector re-scoring 2 series at 1 h
# i.e. 40 / 10 / 10 / 20 / 20 %.
OP_CYCLE = (
    "panel_1m", "regex_rate", "score", "panel_1m", "agg_by_1d",
    "panel_1m", "overview_1h", "regex_rate", "panel_1m", "score",
)


@dataclasses.dataclass(frozen=True)
class Op:
    """One query_range call; ``kind`` names its operation type."""

    kind: str
    metric: str
    start: str
    end: str
    step_s: int
    domain: str | None = None
    domain_re: str | None = None
    fn: str | None = None
    by: tuple[str, ...] | None = None

    def kwargs(self) -> dict:
        kw = {"domain": self.domain, "domain_re": self.domain_re, "fn": self.fn, "by": self.by}
        return {k: v for k, v in kw.items() if v is not None}


def ts_str(sec: int) -> str:
    return (BASE_TS + dt.timedelta(seconds=int(sec))).strftime("%Y-%m-%d %H:%M:%S")


def serve_ops(spec: PagesSpec, seed: int, n_ops: int) -> list[Op]:
    """A fixed sequence of serve operations; series and windows are drawn
    by Zipf so repeated reads share work."""
    rng = np.random.default_rng([seed, 3])
    dom_w = zipf_weights(spec.domains, spec.zipf_s)
    end_s = spec.days * 86400
    full = (ts_str(0), ts_str(end_s))
    ops = []
    for i in range(n_ops):
        kind = OP_CYCLE[i % len(OP_CYCLE)]
        d = domain_name(int(rng.choice(spec.domains, p=dom_w)))
        metric = ("crawl_rate", "page_size")[int(rng.integers(0, 2))]
        if kind == "panel_1m":
            hour = int(rng.zipf(1.3)) % (spec.days * 24 - 4)
            lo = end_s - (hour + 4) * 3600
            ops.append(Op(kind, metric, ts_str(lo), ts_str(lo + 4 * 3600), 60, domain=d))
        elif kind == "overview_1h":
            ops.append(Op(kind, metric, *full, 3600))
        elif kind == "agg_by_1d":
            ops.append(Op(kind, "lang_mix", *full, 86400, by=("domain",)))
        elif kind == "regex_rate":
            digit = int(rng.zipf(1.5)) % max(1, spec.domains // 10)
            ops.append(
                Op(kind, "crawl_rate", *full, 3600, domain_re=rf"d0{digit}[0-9]\.example\.org", fn="rate")
            )
        else:
            ops.append(Op(kind, metric, *full, 3600, domain=d))
    return ops


# -- registry tables --------------------------------------------------------

EVENTS_BASE_TS = dt.datetime(2024, 1, 1)
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
EVENT_WEIGHTS = (0.45, 0.30, 0.12, 0.06, 0.07)
SOURCES = 20
DOC_LANGS = ("en", "fr", "es", "zh", "de")


@dataclasses.dataclass(frozen=True)
class EventsSpec:
    """Shape of the generated ``events`` and ``documents`` tables (the
    columns of the testdata tables the registry queries read)."""

    events: int
    users: int
    days: int
    burst: int  # extra ``error`` events inside one hour, for the detectors
    documents: int
    dup_share: float  # share of documents that repeat an earlier text


def make_events(spec: EventsSpec, seed: int) -> pa.Table:
    """events(event_id, ts, user_id, event_type, value, props): Zipf users,
    skewed event types, a daily cycle and one planted error burst."""
    rng = np.random.default_rng([seed, 4])
    n = spec.events
    day = rng.integers(0, spec.days, n)
    # busier in the afternoon: hour of day drawn from a raised cosine
    hod_w = 1.0 + 0.6 * np.cos((np.arange(24) - 15) / 24 * 2 * np.pi)
    hod = rng.choice(24, n, p=hod_w / hod_w.sum())
    sec = day * 86400 + hod * 3600 + rng.integers(0, 3600, n)
    burst_at = int(rng.integers(spec.days // 3, spec.days - 2)) * 86400 + int(rng.integers(9, 18)) * 3600
    sec = np.concatenate([sec, burst_at + rng.integers(0, 3600, spec.burst)])
    etype = np.concatenate([rng.choice(len(EVENT_TYPES), n, p=EVENT_WEIGHTS), np.full(spec.burst, 4)])
    order = np.argsort(sec, kind="stable")
    sec, etype = sec[order], etype[order]
    total = len(sec)
    user = np.minimum(rng.zipf(1.4, total), spec.users)
    value = np.round(rng.lognormal(3.5, 0.8, total), 2)
    k = rng.integers(0, 100, total)
    return pa.table(
        {
            "event_id": pa.array(np.arange(total, dtype=np.int64)),
            "ts": pa.array(np.datetime64(EVENTS_BASE_TS, "us") + sec.astype("timedelta64[s]"), pa.timestamp("us")),
            "user_id": pa.array(user.astype(np.int64)),
            "event_type": pa.array(np.asarray(EVENT_TYPES, dtype=object)[etype].tolist(), pa.string()),
            "value": pa.array(value, pa.float64()),
            "props": pa.array([f'{{"k": {v}}}' for v in k.tolist()], pa.string()),
        }
    )


def make_documents(spec: EventsSpec, seed: int) -> pa.Table:
    """documents(doc_id, text, lang, source, n_chars): word-salad texts
    over a Zipf vocabulary, with a share of exact duplicates."""
    rng = np.random.default_rng([seed, 5])
    syl = ("ka", "lo", "mi", "ne", "ru", "ta", "shi", "po", "ve", "da", "ri", "so")
    vocab = np.asarray(
        ["".join(rng.choice(syl, int(rng.integers(1, 4)))) for _ in range(3000)], dtype=object
    )
    word_w = zipf_weights(len(vocab), 1.05)
    n = spec.documents
    texts: list[str] = []
    for i in range(n):
        if texts and rng.random() < spec.dup_share:
            texts.append(texts[int(rng.integers(0, len(texts)))])
            continue
        words = vocab[rng.choice(len(vocab), int(rng.integers(20, 120)), p=word_w)]
        texts.append(" ".join(words.tolist()) + f". item {i}.")
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(np.asarray(DOC_LANGS, dtype=object)[rng.choice(5, n, p=(0.5, 0.15, 0.15, 0.1, 0.1))].tolist(), pa.string()),
            "source": pa.array([f"src{s}" for s in rng.integers(0, SOURCES, n).tolist()], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
