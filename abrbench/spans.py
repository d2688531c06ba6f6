"""Span arithmetic for the traced run.

A span is a dict with ``id``, ``parent`` (0 for a root), ``name``, ``op``,
``start_ms`` and ``end_ms``. A span's self time is its duration minus the
part of its interval that its children cover (children clipped to the
parent, overlaps counted once).
"""


def union_ms(intervals, lo=None, hi=None):
    """Total length of the union of ``(start, end)`` intervals, each first
    clipped to ``[lo, hi]`` when those are given."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    clipped.sort()
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def with_self_times(spans):
    """Return copies of ``spans`` with ``dur_ms`` and ``self_ms`` added."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = []
    for s in spans:
        dur = s["end_ms"] - s["start_ms"]
        covered = union_ms([(c["start_ms"], c["end_ms"])
                            for c in kids.get(s["id"], [])],
                           s["start_ms"], s["end_ms"])
        out.append(dict(s, dur_ms=dur, self_ms=dur - covered))
    return out


def innermost(spans, t_ms):
    """The deepest span whose interval contains ``t_ms`` (None if none).
    Depth is the length of the parent chain."""
    by_id = {s["id"]: s for s in spans}

    def depth(s):
        d = 0
        while s["parent"] in by_id:
            s = by_id[s["parent"]]
            d += 1
        return d

    best, best_d = None, -1
    for s in spans:
        if s["start_ms"] <= t_ms <= s["end_ms"]:
            d = depth(s)
            if d > best_d:
                best, best_d = s, d
    return best


def week_spans(tracer_spans, events, op):
    """Spans of one traced ``Pipeline.run``: the benchmark's own spans
    (``killswitch``, ``week``, ``delta``) plus spans cut from the run-log
    event timestamps (``extract``, ``ingest``, ``cleanup`` under ``week``;
    ``msck``, ``updated``, ``added`` under ``delta``)."""
    mine = [s for s in tracer_spans if s["op"] == op]
    week = next(s for s in mine if s["name"] == "week")
    delta = next((s for s in mine if s["name"] == "delta"), None)

    def at(prefix, after=float("-inf")):
        return next((t for t, m in events
                     if m.startswith(prefix) and t >= after), None)

    out = list(mine)

    def add(name, parent, start, end):
        if start is None or end is None or end < start:
            return
        out.append(dict(id=f"{op}.{name}", parent=parent["id"], name=name,
                        op=op, start_ms=start, end_ms=end))

    started = at("Starting ABR ETL Process")
    extracted = at("Extracted ")
    loaded = at("Loaded ", extracted or float("-inf"))
    add("extract", week, started, extracted)
    add("ingest", week, extracted, loaded)
    if delta:
        change = at("Running Delta Query (Change)", delta["start_ms"])
        new = at("Running Delta Query (New)", delta["start_ms"])
        written_upd = at("Delta written", change) if change else None
        written_add = at("Delta written", new) if new else None
        add("msck", delta, delta["start_ms"], change)
        add("updated", delta, change, written_upd)
        add("added", delta, new, written_add)
        add("cleanup", week, delta["end_ms"], at("Cleaned up",
                                                 delta["end_ms"]))
    return out


def coverage(spans, root_name="week"):
    """Share of each root span's duration covered by its direct children,
    as a list (one value per root span)."""
    out = []
    for r in spans:
        if r["name"] != root_name:
            continue
        kids = [(c["start_ms"], c["end_ms"]) for c in spans
                if c["parent"] == r["id"]]
        dur = r["end_ms"] - r["start_ms"]
        if dur > 0:
            out.append(union_ms(kids, r["start_ms"], r["end_ms"]) / dur)
    return out
