"""Pure computations over a run's raw record: percentiles, open-loop
freshness, batch mapping and span self time.  Unit-tested in tests/."""
import math
import statistics


def percentile(values, p):
    """Nearest-rank percentile ``p`` (0-100) of ``values``, or None when
    fewer than ten samples lie beyond it (the ≥10-samples-beyond rule:
    p90 needs ≥100 samples, p95 ≥200, the median ≥20)."""
    n = len(values)
    if n == 0 or n * (100 - p) / 100 < 10:
        return None
    xs = sorted(values)
    return xs[max(0, math.ceil(p / 100 * n) - 1)]


def median(values):
    return statistics.median(values) if values else None


def batch_of_offset(progress):
    """Function mapping a source offset to the id of the batch that read it.

    MemoryStream offsets are consecutive longs, one per append; a batch
    reads appends in (start_offset, end_offset]."""
    spans = []
    for p in progress:
        start = -1 if p["start_offset"] is None else int(p["start_offset"])
        end = -1 if p["end_offset"] is None else int(p["end_offset"])
        if end > start:
            spans.append((start, end, p["batch"]))
    spans.sort()

    def find(offset):
        for start, end, batch in spans:
            if start < offset <= end:
                return batch
        return None
    return find


def freshness_ms(chunks, progress, batches, tail_start_ns, rate):
    """Per-event freshness of the open-loop tail, in ms.

    Event ``i`` of the tail is due at ``tail_start_ns + i / rate`` seconds,
    its scheduled creation time.  Its freshness ends when the sink write of
    the batch that read it ends.  Counting from the due time, not from
    when the generator got to send it, keeps a generator or driver stall
    visible as latency.  Returns ``(freshness, unmapped_events)``."""
    find = batch_of_offset(progress)
    write_end = {b["batch"]: b["write_end_ns"] for b in batches}
    out, unmapped = [], 0
    for c in chunks:
        batch = find(c["offset"])
        end_ns = write_end.get(batch)
        for i in range(c["first"], c["end"]):
            if end_ns is None:
                unmapped += 1
                continue
            due = tail_start_ns + i * 1e9 / rate
            out.append((end_ns - due) / 1e6)
    return out, unmapped


def generator_lag_ms(chunks, tail_start_ns, rate):
    """How late the generator sent each event after its due time, in ms."""
    return [(c["send_ns"] - (tail_start_ns + i * 1e9 / rate)) / 1e6
            for c in chunks for i in range(c["first"], c["end"])]


def self_time(spans):
    """Per-span self time: its duration minus the union of the intervals
    its direct children cover (clipped to the span).  Returns {id: ns}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        ivs = sorted((max(c["start_ns"], s["start_ns"]), min(c["end_ns"], s["end_ns"]))
                     for c in children.get(s["id"], []))
        covered, cur_s, cur_e = 0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[s["id"]] = (s["end_ns"] - s["start_ns"]) - covered
    return out
