"""Pure functions that turn the harness's event log into metrics.

Kept free of I/O so `test_perfbench.py` can check them directly.
"""
import hashlib

# Per-layer measures taken from the Spark listener, per call of a layer.
SPARK_MEASURES = ("s", "jobs", "stages", "tasks", "exec_run_s", "exec_cpu_s",
                  "gc_s", "driver_gap_s", "shuffle_mb", "spill_mb")
MB = 1e6


def tail(values, beyond=10):
    """Tail latency: the highest order statistic that still has `beyond`
    samples above it. Below 4 * beyond samples the requirement shrinks to
    a quarter of the samples, so a short run still reports a tail above
    its median. Returns (value, percentile, samples beyond)."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    k = min(beyond, n // 4)
    i = n - 1 - k
    return xs[i], 100.0 * (i + 1) / n, k


def attribute(spans, jobs):
    """Map each job to the span it started in.

    `spans`: dicts with `i`, `ms0`, `ms1`, in start order, not
    overlapping. `jobs`: dicts with `job` and `ms` (start). A job that
    starts outside every span (between calls) maps to None. Returns
    {job id: span index or None}."""
    out = {}
    ordered = sorted(spans, key=lambda s: s["ms0"])
    for j in jobs:
        owner = None
        for s in ordered:
            if s["ms0"] <= j["ms"] <= s["ms1"]:
                owner = s["i"]
            if s["ms0"] > j["ms"]:
                break
        out[j["job"]] = owner
    return out


def _covered(intervals, lo, hi):
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    total, end = 0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def span_measures(span, jobs, stages):
    """Spark measures of one span from its attributed `jobs` (each with
    `ms`, `end_ms`, `stages`) and the completed-stage records by id."""
    done = [stages[s] for j in jobs for s in j["stages"] if s in stages]
    busy = _covered([(j["ms"], j["end_ms"]) for j in jobs],
                    span["ms0"], span["ms1"])
    return {
        "s": span["ns"] / 1e9,
        "jobs": len(jobs),
        "stages": len(done),
        "tasks": sum(s["tasks"] for s in done),
        "exec_run_s": sum(s["run_ms"] for s in done) / 1e3,
        "exec_cpu_s": sum(s["cpu_ns"] for s in done) / 1e9,
        "gc_s": sum(s["gc_ms"] for s in done) / 1e3,
        "driver_gap_s": (span["ms1"] - span["ms0"] - busy) / 1e3,
        "shuffle_mb": sum(s["shuffle_bytes"] for s in done) / MB,
        "spill_mb": sum(s["spill_bytes"] for s in done) / MB,
    }


def call_measures(spans, job_starts, job_ends, stages):
    """[(span, Spark measures)] for every timed span, in order."""
    timed = [s for s in spans if s["kind"] in ("op", "write", "build")]
    owner = attribute(timed, job_starts)
    ends = {e["job"]: e["ms"] for e in job_ends}
    by_span, claimed = {}, set()
    for j in sorted(job_starts, key=lambda j: j["job"]):
        # a stage shared with an earlier job ran (and is counted) there
        own = [s for s in j["stages"] if s not in claimed]
        claimed.update(own)
        if owner[j["job"]] is not None:
            by_span.setdefault(owner[j["job"]], []).append(
                dict(j, stages=own, end_ms=ends.get(j["job"], j["ms"])))
    return [(s, span_measures(s, by_span.get(s["i"], []), stages))
            for s in timed]


def per_layer(spans, job_starts, job_ends, stages):
    """Per-call means of every Spark measure, keyed `<layer>.<measure>`,
    plus `spark.<measure>` totals over all timed spans."""
    calls = {}
    for s, m in call_measures(spans, job_starts, job_ends, stages):
        calls.setdefault(s["layer"], []).append(m)
    out = {}
    for layer, ms in calls.items():
        for k in SPARK_MEASURES:
            out[f"{layer}.{k}"] = sum(m[k] for m in ms) / len(ms)
    every = [m for ms in calls.values() for m in ms]
    for k in ("jobs", "exec_cpu_s", "driver_gap_s", "gc_s"):
        out[f"spark.{k}"] = sum(m[k] for m in every)
    return out


def oracle_key(sql, input_files):
    """Cache key of an oracle result: the SQL text and the bytes of every
    input it reads, so a change to either invalidates the cache."""
    h = hashlib.sha256(sql.encode("utf-8"))
    for path in sorted(input_files):
        h.update(b"\0" + path.rsplit("/", 1)[-1].encode("utf-8") + b"\0")
        with open(path, "rb") as f:
            for block in iter(lambda: f.read(1 << 20), b""):
                h.update(block)
    return h.hexdigest()


def canon(rows, cols):
    """The oracle compare's canonical form: columns sorted by name,
    values as `repr`, rows in emitted order."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return ([cols[i] for i in order],
            [tuple(repr(r[i]) for i in order) for r in rows])
