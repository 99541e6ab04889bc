"""Statistics of the benchmark: pure functions over the raw observations the
JVM harness writes (operation timings, spans, Spark jobs, streaming
progress). Unit-tested by perfbench/test_stats.py."""
import json
import statistics


def percentile(values, q):
    """q-th percentile (0..100) with linear interpolation between closest
    ranks (numpy's default 'linear' method). None for an empty input."""
    xs = sorted(values)
    if not xs:
        return None
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def quartile_spread(values):
    """(Q3 - Q1) / median, quartiles as statistics.quantiles(n=4) gives them."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def union_length(intervals):
    """Total length covered by possibly overlapping [start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Self time per span name: each span's duration minus the part of it
    covered by its children (clipped to the span; overlapping children from
    concurrent threads count once). spans: (id, parent, name, start, end)."""
    children = {}
    for sid, parent, _, s, e in spans:
        children.setdefault(parent, []).append((s, e))
    out = {}
    for sid, _, name, s, e in spans:
        kids = [(max(cs, s), min(ce, e)) for cs, ce in children.get(sid, [])]
        covered = union_length([k for k in kids if k[1] > k[0]])
        out[name] = out.get(name, 0.0) + max(e - s - covered, 0.0)
    return out


def fill_ratio(input_rows, batchsize, shards):
    """Share of a trigger's capacity (batchsize records from each shard)
    that the trigger actually read."""
    return input_rows / float(batchsize * shards)


def complete_groups(pairs, group_size):
    """Groups a view read shows whole: its count equals the group size. A
    partly visible group (some shards' records not yet committed) is not."""
    return {g for g, n in pairs if n == group_size}


def freshness_ms(puts, reads, group_size, window):
    """Per put group due inside window=(start, end): completion time of the
    first successful view read that shows the whole group, minus the time the
    group was due. puts: (group, due, put_start, put_end); reads, in the
    order they were made: (start, end, status, [[group, count], ...]). Returns (list of
    freshness values, number of groups never seen whole)."""
    due = {g: d for g, d, _, _ in puts if window[0] <= d < window[1]}
    seen = {}
    for _, end, status, pairs in reads:
        if status != "ok":
            continue
        for g in complete_groups(pairs, group_size):
            if g in due and g not in seen:
                seen[g] = end - due[g]
    return [seen[g] for g in sorted(seen)], len(due) - len(seen)


def visible_after_ms(commits, total, q):
    """Time until q percent of `total` records are visible, from commits =
    [(ms since the drain started, records the commit made visible)] of one
    view: the end of the commit that holds the ceil(q% * total)-th record.
    None if the commits never reach it."""
    need = -(-total * q // 100)
    seen = 0
    for t, n in sorted(commits):
        seen += n
        if seen >= need:
            return t
    return None


def parse_progress(raw):
    """Progress events (JSON strings or dicts) -> dicts, oldest first."""
    evs = [json.loads(p) if isinstance(p, str) else p for p in raw]
    return sorted(evs, key=lambda p: (p.get("timestamp", ""), p.get("batchId", 0)))


def trigger_stats(events, batchsize, shards):
    """Per-trigger phase statistics of one group of streaming queries."""
    def phase(k):
        return [p["durationMs"].get(k, 0) for p in events]
    rows = [p.get("numInputRows", 0) for p in events]
    return {
        "triggers": len(events),
        "trigger_ms_p50": percentile(phase("triggerExecution"), 50) or 0.0,
        "trigger_ms_p90": percentile(phase("triggerExecution"), 90) or 0.0,
        "planning_ms": percentile(phase("queryPlanning"), 50) or 0.0,
        "add_batch_ms": percentile(phase("addBatch"), 50) or 0.0,
        "wal_ms": percentile(phase("walCommit"), 50) or 0.0,
        "commit_ms": percentile(phase("commitOffsets"), 50) or 0.0,
        "fill_ratio": (statistics.fmean(fill_ratio(r, batchsize, shards) for r in rows)
                       if rows else 0.0),
        "empty_trigger_frac": (sum(1 for r in rows if r == 0) / len(rows)) if rows else 0.0,
    }
