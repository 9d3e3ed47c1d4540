"""Pure helpers of the benchmark runner: statistics, the open-loop
latency and backlog analysis, result fingerprints, the seeded document
corpus, and the result line. Nothing here starts a process or reads the
clock, so all of it is unit-tested (test_benchlib.py).
"""
import bisect
import hashlib
import json
import math
import random
from datetime import datetime


# ---------------------------------------------------------------- statistics

def percentile(values, q):
    """Linear-interpolated percentile (q in [0, 1]) of a non-empty list."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values):
    return percentile(values, 0.5)


def weighted_percentile(pairs, q):
    """Percentile of samples given as (value, weight) pairs: the smallest
    value whose cumulative weight reaches q of the total."""
    pairs = sorted(p for p in pairs if p[1] > 0)
    total = sum(w for _, w in pairs)
    if total <= 0:
        raise ValueError("weighted percentile of no samples")
    need = q * total
    acc = 0
    for v, w in pairs:
        acc += w
        if acc >= need:
            return v
    return pairs[-1][0]


def slope(points):
    """Least-squares slope of (x, y) points; 0 for fewer than two xs."""
    n = len(points)
    if n < 2:
        return 0.0
    mx = sum(x for x, _ in points) / n
    my = sum(y for _, y in points) / n
    sxx = sum((x - mx) ** 2 for x, _ in points)
    if sxx == 0:
        return 0.0
    return sum((x - mx) * (y - my) for x, y in points) / sxx


# ------------------------------------------------------ streaming progress

def progress_ts_us(p):
    """Trigger start time of a StreamingQueryProgress JSON, epoch µs."""
    ts = p["timestamp"].replace("Z", "+00:00")
    return int(round(datetime.fromisoformat(ts).timestamp() * 1e6))


def end_offsets(p):
    """Partition -> end offset of the (single) source of a progress report."""
    end = p["sources"][0]["endOffset"]
    if isinstance(end, str):
        end = json.loads(end)
    return {int(k): int(v) for k, v in end.items()}


def batches(progress):
    """(commit_us, {partition: end offset}, rows) per micro-batch that read
    data, in batch order. A batch commits when its trigger ends."""
    out = []
    for p in sorted(progress, key=lambda p: p["batchId"]):
        if p.get("numInputRows", 0) <= 0:
            continue
        commit = progress_ts_us(p) + int(p["durationMs"].get("triggerExecution", 0)) * 1000
        out.append((commit, end_offsets(p), p.get("numInputRows", 0)))
    return out


def covered(ends, need):
    return all(ends.get(p, 0) >= o for p, o in need.items())


def tick_latencies(ticks, batch_list):
    """Event-to-result latency of each generator tick, in µs, with the
    tick's message count as weight. A tick's messages are counted by the
    first micro-batch whose end offsets reach the tick's end offsets; the
    latency runs from the tick's due time to that batch's commit. Ticks no
    batch covered are returned as (None, weight)."""
    out = []
    j = 0
    for due, _start, n, ends in ticks:
        if n <= 0:
            continue
        need = {p: o for p, o in enumerate(ends)}
        while j < len(batch_list) and not covered(batch_list[j][1], need):
            j += 1
        if j == len(batch_list):
            out.append((None, n))
        else:
            out.append((batch_list[j][0] - due, n))
    return out


def after_warmup(ticks, warmup_us):
    """The ticks due at least `warmup_us` after the first one."""
    if not ticks:
        return []
    return [t for t in ticks if t[0] >= ticks[0][0] + warmup_us]


def lateness_us(ticks):
    """How late the generator started each tick, µs (never negative)."""
    return [max(0, start - due) for due, start, _n, _ends in ticks]


def backlog_points(ticks, batch_list):
    """(seconds since the first tick, messages appended but not yet
    committed) at each batch commit while the generator was running."""
    if not ticks:
        return []
    t0 = ticks[0][0]
    starts = [t[1] for t in ticks]
    pts = []
    for commit, ends, _rows in batch_list:
        if commit < starts[0] or commit > starts[-1]:
            continue
        i = bisect.bisect_right(starts, commit) - 1
        pts.append(((commit - t0) / 1e6, sum(ticks[i][3]) - sum(ends.values())))
    return pts


def sustained_rate(rungs, limit_ms, flat_share):
    """Highest ladder rate whose backlog stays flat and whose p99 latency
    stays within `limit_ms`. A rung is (rate, backlog slope in msgs/s,
    p99 ms); flat means the slope is at most `flat_share` of the rate.
    Returns 0 when no rung qualifies."""
    ok = [r for r, s, p99 in rungs
          if p99 is not None and p99 <= limit_ms and s <= flat_share * r]
    return max(ok) if ok else 0


# ------------------------------------------------------------------ spans

def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
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


def attach_orphans(spans):
    """Give each span whose parent is None the innermost span of the
    engine's own tree (no `process` key) that contains its interval, or -1.
    Spans measured elsewhere, such as triggers read off progress reports,
    join the tree this way."""
    tree = [s for s in spans if s["parent"] is not None and "process" not in s]
    for s in spans:
        if s["parent"] is not None:
            continue
        best = None
        for t in tree:
            if t["start_us"] <= s["start_us"] and s["end_us"] <= t["end_us"]:
                inner = best is None or (t["start_us"] >= best["start_us"]
                                         and t["end_us"] <= best["end_us"])
                if inner:
                    best = t
        s["parent"] = best["id"] if best else -1


def self_times(spans):
    """Self time per span name, µs: each span's duration minus the part of
    it that its children cover, summed by name."""
    by_id = {s["id"]: s for s in spans}
    children = {}
    for s in spans:
        if s["parent"] is not None and s["parent"] in by_id:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_us"], s["end_us"]
        kids = [(max(lo, c["start_us"]), min(hi, c["end_us"])) for c in children.get(s["id"], [])]
        covered = union_length([k for k in kids if k[0] < k[1]])
        out[s["name"]] = out.get(s["name"], 0) + (hi - lo) - covered
    return out


# ------------------------------------------------------------ correctness

def count_diff(expected, got):
    """Sum over keys of |expected - got| between two count maps."""
    keys = set(expected) | set(got)
    return sum(abs(expected.get(k, 0) - got.get(k, 0)) for k in keys)


def canon_rows(rows, cols):
    """Rows with columns put in name order and values rendered exactly
    (floats by repr), sorted: equal results give equal lists whatever
    their row and column order."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                vals.append("NaN" if math.isnan(v) else repr(v))
            else:
                vals.append(str(v))
        out.append(tuple(vals))
    out.sort()
    return out


def fingerprint(rows, cols):
    """Order-independent fingerprint of a full result: row count plus a
    digest of the sorted canonical rows and the column names."""
    h = hashlib.sha256()
    h.update("\x1f".join(sorted(cols)).encode())
    canon = canon_rows(rows, cols)
    for r in canon:
        h.update(b"\x1e")
        h.update("\x1f".join(r).encode())
    return {"rows": len(canon), "digest": h.hexdigest()}


def same_result(a, b):
    return a["rows"] == b["rows"] and a["digest"] == b["digest"]


# ------------------------------------------------------------ input data

STOP = ["the", "a", "of", "and", "is", "to"]
WORDS = ["key", "agg", "row", "scan", "slow", "fast", "table", "value", "part",
         "hash", "merge", "batch", "spark", "line", "sort", "window", "order",
         "data", "column", "join", "small", "big", "customer", "query", "stream",
         "filter", "group", "vector", "index", "shard", "token", "model", "cache",
         "plan", "stage", "task", "offset", "topic", "queue", "state"]
LANGS = [("en", 0.4), ("de", 0.15), ("fr", 0.15), ("es", 0.15), ("zh", 0.15)]


def documents(seed, n):
    """A seeded `documents` table shaped like the registry's input:
    (doc_id, text, lang, source, n_chars). Texts are 10-100 words; about
    one in twelve is an exact copy or a one-word extension of an earlier
    text of 40+ words, so near-duplicate pairs have Jaccard >= 0.9 and
    unrelated pairs stay near 0."""
    rnd = random.Random(seed)
    pool = STOP * 3 + WORDS
    langs = [l for l, _ in LANGS]
    lw = [w for _, w in LANGS]
    texts, long_ids, rows = [], [], []
    for i in range(n):
        r = rnd.random()
        if long_ids and r < 0.02:
            text = texts[rnd.choice(long_ids)]
        elif long_ids and r < 0.08:
            text = texts[rnd.choice(long_ids)] + " " + rnd.choice(WORDS)
        else:
            text = " ".join(rnd.choice(pool) for _ in range(rnd.randint(10, 100)))
        texts.append(text)
        if len(text.split(" ")) >= 40:
            long_ids.append(i)
        rows.append((i, text, rnd.choices(langs, lw)[0], f"src{i % 20}", len(text)))
    return rows


# ------------------------------------------------------------ result line

def render_line(correct, attempted, failed, metrics):
    """The benchmark's one-line result: `metrics` maps a name to
    (value, unit)."""
    return json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }, separators=(", ", ": "))
