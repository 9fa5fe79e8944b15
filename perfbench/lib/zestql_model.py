"""An independent model of ZestQL reads over numeric and blob series.

The model answers path-encoded GETs (`/ts/<ids>/<selector>[/filter/<tag>/
equals|contains/<v>][/<agg>]`, `/ts/<ids>/length`, `/ts/blob/<ids>/...`)
from plain Python rows, with the reference semantics the program documents:

* `last/n`, `first/n`, `latest`, `earliest` take n rows PER SERIES by
  (timestamp, event id), then merge;
* `since`/`range` bounds are inclusive;
* Last-family, `since` and `range` results sort descending, First-family
  ascending, ties broken by event id;
* the tag filter applies after the selection, the aggregate after the
  filter; an aggregate over no rows (or `sd` over one) is `{}`, `count`
  is a float, `sd` is the sample standard deviation, `median` interpolates.

It shares no code with the program's `TsOps`, `Compiler` or `Aggregates`.
"""
import json
import math
import re

AGGS = ("sum", "count", "min", "max", "mean", "median", "sd")


class Series:
    """Rows of one series as (t_ms, event_id, value, tag) tuples, where tag
    is a (name, value) pair or None; blob series keep the payload text in
    place of value and tag."""

    def __init__(self):
        self.rows = []

    def add(self, t, event_id, value, tag=None):
        self.rows.append((t, event_id, value, tag))


class Store:
    def __init__(self):
        self.numeric = {}
        self.blob = {}

    def series(self, sid, blob=False):
        m = self.blob if blob else self.numeric
        return m.setdefault(sid, Series())


K_RE = re.compile(r'"k"\s*:\s*(\d+)')


def store_from_events(table, blob_series):
    """Model store for a bulk load of `events` (a pyarrow table): numeric
    series per event_type with tag k from props, plus `blob_series` as a
    blob series carrying the raw props JSON."""
    st = Store()
    d = table.to_pydict()
    ts_us = table.column("ts").cast("int64").to_pylist()
    for eid, tus, et, v, props in zip(d["event_id"], ts_us, d["event_type"],
                                      d["value"], d["props"]):
        t = tus // 1000
        m = K_RE.search(props)
        st.series(et).add(t, eid, v, ("k", m.group(1) if m else ""))
        if et == blob_series:
            st.series(et, blob=True).add(t, eid, props)
    return st


class Query:
    def __init__(self, ids, selector, args, filt, agg, blob):
        self.ids, self.selector, self.args = ids, selector, args
        self.filt, self.agg, self.blob = filt, agg, blob


def parse(path):
    segs = path.strip("/").split("/")
    assert segs[0] == "ts", path
    blob = len(segs) > 1 and segs[1] == "blob"
    rest = segs[2:] if blob else segs[1:]
    ids, sel, rest = rest[0].split(","), rest[1], rest[2:]
    nargs = {"latest": 0, "earliest": 0, "length": 0, "last": 1, "first": 1,
             "since": 1, "range": 2}[sel]
    args, rest = [int(a) for a in rest[:nargs]], rest[nargs:]
    filt = agg = None
    if rest[:1] == ["filter"]:
        filt, rest = (rest[1], rest[2], rest[3]), rest[4:]
    if rest:
        agg = rest[0]
        assert agg in AGGS and len(rest) == 1, path
    return Query(ids, sel, args, filt, agg, blob)


def _select(rows, sel, args):
    asc = sorted(rows, key=lambda r: (r[0], r[1]))
    if sel in ("latest", "last"):
        n = 1 if sel == "latest" else args[0]
        return asc[::-1][:n] if n > 0 else []
    if sel in ("earliest", "first"):
        n = 1 if sel == "earliest" else args[0]
        return asc[:n] if n > 0 else []
    if sel == "since":
        return [r for r in asc if r[0] >= args[0]]
    if sel == "range":
        return [r for r in asc if args[0] <= r[0] <= args[1]]
    raise ValueError(sel)


def _tag_ok(row, filt):
    name, op, v = filt
    tag = row[3]
    if tag is None or tag[0] != name:
        return False
    return tag[1] == v if op == "equals" else v in tag[1]


def aggregate(values, fn):
    """The seven aggregates, `None` where the program answers `{}`."""
    n = len(values)
    if n == 0:
        return None
    if fn == "count":
        return float(n)
    if fn == "sum":
        return math.fsum(values)
    if fn == "min":
        return min(values)
    if fn == "max":
        return max(values)
    if fn == "mean":
        return math.fsum(values) / n
    if fn == "median":
        s = sorted(values)
        return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2
    if fn == "sd":
        if n < 2:
            return None
        mu = math.fsum(values) / n
        return math.sqrt(math.fsum((x - mu) ** 2 for x in values) / (n - 1))
    raise ValueError(fn)


def answer(store, path):
    """The expected response of a GET, as a parsed-JSON value."""
    q = parse(path)
    src = store.blob if q.blob else store.numeric
    per = [src[i].rows if i in src else [] for i in q.ids]
    if q.selector == "length":
        return {"length": sum(len(r) for r in per)}
    picked = [r for rows in per for r in _select(rows, q.selector, q.args)]
    if q.filt:
        picked = [r for r in picked if _tag_ok(r, q.filt)]
    if q.agg:
        res = aggregate([r[2] for r in picked], q.agg)
        return {} if res is None else {"result": res}
    desc = q.selector not in ("earliest", "first")
    picked.sort(key=lambda r: (r[0], r[1]), reverse=desc)
    if q.blob:
        return [{"timestamp": r[0], "data": json.loads(r[2])} for r in picked]
    out = []
    for r in picked:
        data = {"value": r[2]}
        if r[3] is not None and r[3][1] != "":
            data[r[3][0]] = r[3][1]
        out.append({"timestamp": r[0], "data": data})
    return out


def close(a, b, rel=1e-9):
    return a == b or abs(a - b) <= rel * max(abs(a), abs(b), 1e-300)


def matches(expected, got):
    """Structural equality; aggregate results compare to 1e-9 relative
    (sums and means depend on the summation order)."""
    if isinstance(expected, dict) and "result" in expected:
        return (isinstance(got, dict) and set(got) == {"result"}
                and close(float(expected["result"]), float(got["result"])))
    return expected == got
