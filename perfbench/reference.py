"""Reference answers computed without the program under test.

Tier states and query_range answers come from DuckDB over the generated
pages parquet.  The two detectors and their interval assembly are plain
Python that repeats the program's documented arithmetic step by step
(exact decimal window/slot sums, rounded to double the same way), so a
correct program matches them to the last bit and a wrong one does not.

Series points follow the program's refresh contract: each page set
(the base table, then every late batch) turns into series points on its
own, and a tier is the rollup of the union of those points.
"""

from __future__ import annotations

import datetime as dt
import math
import re
from collections import defaultdict
from decimal import ROUND_HALF_UP, Decimal

import duckdb

_Q18 = Decimal(1).scaleb(-18)
_Q12 = Decimal(1).scaleb(-12)
# Spark types the difference of two decimal(38, s) values as
# decimal(38, s - 1) and rounds it half-up: the z-score's window sums are
# differences of cumulative decimal(38,18) and decimal(38,12) sums
_Q17 = Decimal(1).scaleb(-17)
_Q11 = Decimal(1).scaleb(-11)
SD_EPS_ABS = 1e-9
SD_EPS_REL = 1e-7
TIER_S = {"1m": 60, "1h": 3600, "1d": 86400}

_POINTS_SQL = """
WITH p AS (
  SELECT regexp_extract(url, '^[a-z]+://([^/]+)', 1) AS domain,
         warc_ts, octet_length(html) AS bytes, lang,
         make_timestamp(epoch_us(warc_ts) // 60000000 * 60000000) AS m
  FROM read_parquet('{path}')
), per_lang AS (
  SELECT domain, m, lang, count(*) AS n FROM p GROUP BY ALL
)
SELECT domain, 'crawl_rate' AS metric, NULL::VARCHAR AS tag, m AS bucket_ts,
       count(*)::DOUBLE AS value
FROM p GROUP BY domain, m
UNION ALL
SELECT domain, 'page_size', NULL, warc_ts, bytes::DOUBLE FROM p
UNION ALL
SELECT domain, 'lang_mix', lang, m,
       n::DOUBLE / (sum(n) OVER (PARTITION BY domain, m))::DOUBLE
FROM per_lang
"""


def _bucket(col: str, step_s: int) -> str:
    us = step_s * 1_000_000
    return f"make_timestamp(epoch_us({col}) // {us} * {us})"


class Reference:
    """DuckDB-held series points for one store, grown batch by batch."""

    def __init__(self) -> None:
        self.con = duckdb.connect()
        self.con.execute(
            "CREATE TABLE pts (domain VARCHAR, metric VARCHAR, tag VARCHAR, "
            "bucket_ts TIMESTAMP, value DOUBLE, batch INTEGER)"
        )

    def close(self) -> None:
        self.con.close()

    def add_pages(self, path: str, batch: int = 0) -> None:
        """Series points of one page set; ``batch`` 0 is the base table,
        late batch k is k (queries see batches up to ``upto``)."""
        sql = _POINTS_SQL.format(path=path.replace("'", "''"))
        self.con.execute(f"INSERT INTO pts SELECT *, {int(batch)} FROM ({sql})")

    def tier(self, tier: str, upto: int = 0) -> dict[tuple, tuple]:
        """{(domain, metric, tag, bucket_ts): (cnt, sum, min, max)}."""
        rows = self.con.execute(
            f"SELECT domain, metric, tag, {_bucket('bucket_ts', TIER_S[tier])} AS b, "
            "count(value), sum(value::DECIMAL(28,6)), min(value), max(value) "
            "FROM pts WHERE batch <= ? GROUP BY ALL",
            [upto],
        ).fetchall()
        return {r[:4]: r[4:] for r in rows}

    def tier_errors(self, tier: str, got, what: str, upto: int = 0, limit: int = 3) -> list[str]:
        """A Spark tier (an Arrow table with domain, metric, tag, bucket_ts,
        cnt, sum, min, max) against the tier state rebuilt from the points:
        every bucket row equal, sums exactly as decimals, none missing,
        none extra, none repeated."""
        self.con.register("got_tier", got)
        try:
            dup = self.con.execute(
                "SELECT count(*) - count(DISTINCT (domain, metric, tag, bucket_ts)) FROM got_tier"
            ).fetchone()[0]
            want = (
                f"SELECT domain, metric, tag, {_bucket('bucket_ts', TIER_S[tier])} AS b, "
                "count(value)::BIGINT AS cnt, sum(value::DECIMAL(28,6))::DECIMAL(38,6) AS s, "
                f"min(value) AS mn, max(value) AS mx FROM pts WHERE batch <= {int(upto)} GROUP BY ALL"
            )
            have = (
                "SELECT domain, metric, tag, make_timestamp(epoch_us(bucket_ts)) AS b, "
                '"cnt"::BIGINT, "sum"::DECIMAL(38,6), "min", "max" FROM got_tier'
            )
            errs = [f"{what} rollup_{tier}: {dup} repeated bucket rows"] if dup else []
            errs += self._set_diff(want, have, f"{what} rollup_{tier}", limit)
        finally:
            self.con.unregister("got_tier")
        return errs

    def points_errors(self, got, what: str, upto: int = 0, limit: int = 3) -> list[str]:
        """Decoded series points (an Arrow table with domain, metric, tag,
        bucket_ts, value) against the reference points, bit for bit."""
        self.con.register("got_points", got)
        try:
            want = f"SELECT domain, metric, tag, bucket_ts, value FROM pts WHERE batch <= {int(upto)}"
            have = "SELECT domain, metric, tag, make_timestamp(epoch_us(bucket_ts)), value FROM got_points"
            return self._set_diff(want, have, f"{what} points", limit)
        finally:
            self.con.unregister("got_points")

    def _set_diff(self, want: str, have: str, what: str, limit: int) -> list[str]:
        """Rows of one query missing from the other, as multisets (NULLs
        compare equal)."""
        errs = []
        for label, a, b in (("missing", want, have), ("unexpected", have, want)):
            rows = self.con.execute(f"({a}) EXCEPT ALL ({b}) LIMIT {int(limit)}").fetchall()
            errs += [f"{what}: {label} {r}" for r in rows]
        return errs

    def query_range(self, metric, start, end, step_s, domain=None, domain_re=None,
                    fn=None, by=None, upto: int = 0) -> list[tuple]:
        """Rows (domain, metric, tag, bucket_ts, value) of a mean query_range."""
        where = ["batch <= ?", "metric = ?", "bucket_ts >= ?::TIMESTAMP", "bucket_ts < ?::TIMESTAMP"]
        args: list = [upto, metric, start, end]
        if domain is not None:
            where.append("domain = ?")
            args.append(domain)
        labels = ["domain", "metric", "tag"] if by is None else list(by)
        sel = ", ".join(c if c in labels else f"NULL::VARCHAR AS {c}" for c in ("domain", "metric", "tag"))
        rows = self.con.execute(
            f"SELECT {sel}, {_bucket('bucket_ts', step_s)} AS b, "
            "sum(value::DECIMAL(28,6)), count(value) "
            f"FROM pts WHERE {' AND '.join(where)} GROUP BY ALL",
            args,
        ).fetchall()
        if domain_re is not None:
            pat = re.compile(domain_re)
            rows = [r for r in rows if r[0] is not None and pat.fullmatch(r[0])]
        out = [(*r[:4], float(r[4]) / float(r[5])) for r in rows]
        if fn == "rate":
            out = counter_rate(out)
        elif fn is not None:
            raise ValueError(f"no reference for fn={fn!r}")
        return out


# -- per-series transforms and detectors -------------------------------------


def _by_series(rows):
    groups = defaultdict(list)
    for d, m, t, b, v in rows:
        groups[(d, m, t)].append((b, v))
    for key in groups:
        groups[key].sort(key=lambda bv: bv[0])
    return groups


def counter_rate(rows):
    out = []
    for key, pts in _by_series(rows).items():
        prev = None
        for b, v in pts:
            rate = None
            if prev is not None:
                inc = v - prev[1] if v >= prev[1] else v
                dt_s = (b - prev[0]) / dt.timedelta(seconds=1)
                rate = inc / dt_s if dt_s > 0 else None
            out.append((*key, b, rate))
            prev = (b, v)
    return out


def _dec(v: float, q: Decimal) -> Decimal:
    return Decimal(repr(v)).quantize(q, ROUND_HALF_UP)


def _sd_ok(sd, mu) -> bool:
    return sd is not None and sd > SD_EPS_ABS + SD_EPS_REL * abs(mu)


def zscore(rows, w: int = 24, min_periods: int = 8):
    """Trailing, current-exclusive rolling z-score from window sums taken
    as differences of exact cumulative sums, rounded as Spark rounds them."""
    out = []
    for key, pts in _by_series(rows).items():
        cs = [Decimal(0)]
        cq = [Decimal(0)]
        for _, v in pts:
            cs.append(cs[-1] + _dec(v, _Q18))
            cq.append(cq[-1] + _dec(v * v, _Q12))
        for i, (b, v) in enumerate(pts):
            lo = max(0, i - w)
            n = i - lo
            score = None
            if n >= max(min_periods, 2):
                s = float((cs[i] - cs[lo]).quantize(_Q17, ROUND_HALF_UP))
                sq = float((cq[i] - cq[lo]).quantize(_Q11, ROUND_HALF_UP))
                nd = float(n)
                mu = s / nd
                sd = math.sqrt(max((sq - s * s / nd) / (nd - 1.0), 0.0))
                if _sd_ok(sd, mu):
                    score = (v - mu) / sd
            out.append((*key, b, score))
    return out


def seasonal(rows, min_slot_n: int = 3):
    """Leave-one-out hour-of-day/day-of-week slot score from exact slot sums."""
    slots = defaultdict(lambda: [0, Decimal(0), Decimal(0)])
    slot_of = lambda b: (b.hour, (b.weekday() + 1) % 7 + 1)  # noqa: E731  Sunday = 1
    for d, m, t, b, v in rows:
        st = slots[(d, m, t, *slot_of(b))]
        st[0] += 1
        st[1] += _dec(v, _Q18)
        st[2] += _dec(v * v, _Q12)
    out = []
    for d, m, t, b, v in rows:
        n_i, s_d, sq_d = slots[(d, m, t, *slot_of(b))]
        score = None
        if n_i >= max(min_slot_n, 3):
            n, s, sq = float(n_i), float(s_d), float(sq_d)
            mu = (s - v) / (n - 1.0)
            var = (sq - v * v - (s - v) * (s - v) / (n - 1.0)) / (n - 2.0)
            sd = math.sqrt(max(var, 0.0))
            if _sd_ok(sd, mu):
                score = (v - mu) / sd
        out.append((d, m, t, b, score))
    return out


def intervals(scored, tau: float = 3.0):
    """Runs of consecutive |score| > tau rows per series:
    {(domain, metric, tag, start, end): (peak, mean, n_points)}."""
    out = {}
    for key, pts in _by_series(scored).items():
        run: list = []
        for b, s in [*pts, (None, None)]:
            if s is not None and abs(s) > tau:
                run.append((b, abs(s)))
                continue
            if run:
                scores = [a for _, a in run]
                out[(*key, run[0][0], run[-1][0])] = (max(scores), sum(scores) / len(scores), len(run))
                run = []
    return out


def hourly_means(tier_1h: dict[tuple, tuple]):
    return [(*k, float(s) / float(c)) for k, (c, s, _mn, _mx) in tier_1h.items()]


# -- comparisons ----------------------------------------------------------------


def close(a, b, rel: float = 1e-9) -> bool:
    if a is None or b is None:
        return a is None and b is None
    return math.isclose(a, b, rel_tol=rel, abs_tol=1e-12)


def diff_keyed(got: dict, want: dict, eq, what: str, limit: int = 3) -> list[str]:
    """Human-readable differences between two keyed result sets."""
    errs = []
    for k in sorted(set(got) | set(want), key=repr):
        if k not in got:
            errs.append(f"{what}: missing {k} (want {want[k]})")
        elif k not in want:
            errs.append(f"{what}: unexpected {k} = {got[k]}")
        elif not eq(got[k], want[k]):
            errs.append(f"{what}: {k} got {got[k]} want {want[k]}")
        if len(errs) >= limit:
            break
    return errs


def _canon(v):
    """A value as a comparable, sortable key: numbers as floats (so an
    int, a Decimal and a double that agree compare equal), timestamps and
    dates as naive UTC timestamps."""
    if v is None:
        return (0, 0)
    if isinstance(v, bool):
        return (1, float(v))
    if isinstance(v, (int, float, Decimal)):
        f = float(v)
        return (1, f) if f == f else (2, 0)  # NaN sorts and compares as itself
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return (3, v)
    if isinstance(v, dt.date):  # a DATE bucket is its midnight timestamp
        return (3, dt.datetime(v.year, v.month, v.day))
    if isinstance(v, (bytes, bytearray)):
        return (4, bytes(v))
    if isinstance(v, (list, tuple)):
        return (5, tuple(_canon(x) for x in v))
    return (6, str(v))


def _sort_key(row):
    return tuple((k, round(x, 6)) if k == 1 else (k, x) for k, x in row)


def diff_rows(got_cols, got_rows, want_cols, want_rows, what: str, limit: int = 3) -> list[str]:
    """An unordered row set against the oracle's: same column names, same
    number of rows, equal values.  Floats agree to 1e-9, absolute or
    relative, as in the repository's oracle harness: both engines derive a
    standard deviation from sums of squares, whose cancellation leaves
    differences of that size (two values 0.03 apart differ by 2e-9
    relative)."""
    if sorted(got_cols) != sorted(want_cols):
        return [f"{what}: columns {sorted(got_cols)}, oracle {sorted(want_cols)}"]
    if len(got_rows) != len(want_rows):
        return [f"{what}: {len(got_rows)} rows, oracle {len(want_rows)}"]
    order = [want_cols.index(c) for c in got_cols]
    got = sorted((tuple(_canon(v) for v in r) for r in got_rows), key=_sort_key)
    want = sorted((tuple(_canon(r[i]) for i in order) for r in want_rows), key=_sort_key)
    errs = []
    for i, (g, w) in enumerate(zip(got, want)):
        ok = all(
            (gk == wk == 1 and math.isclose(gv, wv, rel_tol=1e-9, abs_tol=1e-9)) or (gk, gv) == (wk, wv)
            for (gk, gv), (wk, wv) in zip(g, w)
        )
        if not ok:
            errs.append(f"{what}: row {i} got {g} want {w}")
            if len(errs) >= limit:
                break
    return errs
