"""Arithmetic shared by the benchmark and its self-tests: percentiles,
open-loop latency, backlog and span self time."""


def percentile(values, q):
    """Nearest-rank percentile (q in 0..100) of a non-empty sample."""
    if not values:
        raise ValueError("percentile of an empty sample")
    s = sorted(values)
    rank = max(1, -(-len(s) * q // 100))  # ceil(n * q / 100), at least 1
    return s[min(len(s), int(rank)) - 1]


def latency_summary(samples_ms):
    """p50/p99 of arrival-to-emission latencies, with the sample count."""
    return {"p50_ms": percentile(samples_ms, 50), "p99_ms": percentile(samples_ms, 99),
            "samples": len(samples_ms)}


def open_loop_latencies_ms(emissions, t0_ns):
    """Latency of each emission in the open-loop phase, in ms.

    `emissions` holds (due_ns, emitted_ns) pairs: due_ns is the stamp the
    generator put on the triggering arrival, which is the time the row
    was DUE on the fixed-rate schedule, not the time it was sent. Rows
    before `t0_ns` belong to the drain phase and are skipped.
    """
    return [(e - d) / 1e6 for d, e in emissions if d >= t0_ns]


def backlog_max(left_dues, left_emits, batch_emits):
    """Largest number of lefts due but not yet emitted, seen at any sink
    batch: at batch time b, (#lefts due <= b) - (#lefts emitted <= b).
    Every left of the open-loop phase emits exactly once on arrival."""
    dues, emits = sorted(left_dues), sorted(left_emits)
    worst = i = j = 0
    for b in sorted(batch_emits):
        while i < len(dues) and dues[i] <= b:
            i += 1
        while j < len(emits) and emits[j] <= b:
            j += 1
        worst = max(worst, i - j)
    return worst


def _union_length(intervals, lo, hi):
    total, end = 0, lo
    for s, e in sorted(intervals):
        s, e = max(s, end), min(e, hi)
        if e > s:
            total += e - s
            end = e
    return total


EXTERNAL = ("job", "trigger")
TOLERANCE_NS = 1_000_000  # listener event times have millisecond resolution


def resolve_parents(spans):
    """Gives each listener-reported span (a stream trigger or a Spark
    job, reported with parent -1) the innermost span containing it as
    parent, and that span's attempt id; triggers may hold jobs. Returns
    new dicts."""
    spans = [dict(s) for s in spans]
    for layer, inner in (("trigger", ()), ("job", ("trigger",))):
        hosts = sorted((c for c in spans if c["layer"] not in EXTERNAL or c["layer"] in inner),
                       key=lambda c: c["end_ns"] - c["start_ns"])
        for s in spans:
            if s["layer"] != layer:
                continue
            host = next((c for c in hosts
                         if c["start_ns"] - TOLERANCE_NS <= s["start_ns"]
                         and s["end_ns"] <= c["end_ns"] + TOLERANCE_NS), None)
            if host is not None:
                s["parent"], s["attempt"] = host["id"], host["attempt"]
    return spans


def self_times(spans):
    """Self time of each span (its length minus the union of its
    children, clipped to it), summed per layer, in seconds."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start_ns"], s["end_ns"]))
    per_layer = {}
    for s in spans:
        lo, hi = s["start_ns"], s["end_ns"]
        own = (hi - lo) - _union_length(kids.get(s["id"], []), lo, hi)
        per_layer[s["layer"]] = per_layer.get(s["layer"], 0.0) + own / 1e9
    return per_layer

