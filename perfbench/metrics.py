"""The benchmark's arithmetic: percentiles, interval unions, driver gap,
span self time and result fingerprints. Pure functions, covered by
`test_metrics.py`."""
import hashlib
import math

# Percentiles the tail rule may choose from, highest last.
TAIL_CANDIDATES = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
TAIL_MIN_BEYOND = 10


def percentile(values, p):
    """Linear-interpolation percentile (numpy's default rule)."""
    xs = sorted(values)
    if not xs:
        return float("nan")
    k = (len(xs) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def median(values):
    return percentile(values, 50.0)


def tail_percentile(n, candidates=TAIL_CANDIDATES):
    """The highest percentile with at least TAIL_MIN_BEYOND of `n` samples
    beyond it, or None when even the median has fewer."""
    best = None
    for p in candidates:
        if n * (100.0 - p) / 100.0 >= TAIL_MIN_BEYOND - 1e-9:
            best = p
    return best


def union_length(intervals, lo=-math.inf, hi=math.inf):
    """Total length covered by the union of (start, end) intervals,
    clipped to [lo, hi]."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def driver_gap(start, end, job_intervals):
    """Wall time of [start, end] not covered by any running job."""
    return (end - start) - union_length(job_intervals, start, end)


def attach(spans, events):
    """Give each listener-derived event span (no parent yet) the innermost
    span that contains its start, so it joins the tree. Mutates and
    returns `events`."""
    ordered = sorted(spans, key=lambda s: (s["start"], -s["end"]))
    for ev in events:
        best = None
        for s in ordered:
            if s["start"] > ev["start"]:
                break
            if s["end"] >= ev["start"] and s is not ev and (
                    best is None or s["end"] - s["start"]
                    <= best["end"] - best["start"]):
                best = s
        ev["parent"] = best["id"] if best else 0
        ev["exec"] = best["exec"] if best else -1
    return events


def self_times(spans):
    """{span id: duration minus the part covered by its children}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"]) - union_length(
        children.get(s["id"], []), s["start"], s["end"]) for s in spans}


def _cell(v):
    """Canonical text of one result cell: floats to 9 significant digits
    (so last-bit noise of a parallel sum does not count), containers
    element-wise, everything else by its repr."""
    if v is None:
        return "null"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return "%.9g" % (v + 0.0)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{_cell(k)}:{_cell(x)}"
                              for k, x in sorted(v.items())) + "}"
    if hasattr(v, "tolist"):  # numpy scalars and arrays
        return _cell(v.tolist())
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return repr(v)


def fingerprint(columns, rows):
    """Order-independent digest of a result: columns are taken in name
    order and rows as a multiset, so neither column nor row order
    matters. `rows` is an iterable of tuples aligned with `columns`."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    acc = 0
    n = 0
    for r in rows:
        h = hashlib.sha256("\x1f".join(_cell(r[i]) for i in order)
                           .encode()).digest()
        acc = (acc + int.from_bytes(h[:16], "big")) % (1 << 128)
        n += 1
    head = ",".join(columns[i] for i in order)
    return f"{n}:{hashlib.sha256(head.encode()).hexdigest()[:8]}:{acc:032x}"
