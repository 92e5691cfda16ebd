"""The benchmark's arithmetic: end-to-end and per-layer metrics computed
from the raw records one harness run writes (see `src/Harness.scala`).

Times in the records are epoch milliseconds; every metric is reported in
the unit named in BENCHMARK.json.
"""
import statistics

MB = 1024.0 * 1024.0
TAIL_BEYOND = 10


def union_length(intervals):
    """Total length covered by a set of [start, end] intervals; overlapping
    intervals are counted once."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    s0, s1 = span
    clipped = [(max(s, s0), min(e, s1)) for s, e in children]
    return (s1 - s0) - union_length(clipped)


def tail(samples, beyond=TAIL_BEYOND):
    """The highest percentile of `samples` that has at least `beyond`
    samples above it: the (beyond+1)-th largest sample. Returns
    (value, percentile, sample count), or None with too few samples."""
    n = len(samples)
    if n <= beyond:
        return None
    xs = sorted(samples)
    return xs[n - beyond - 1], 100.0 * (n - beyond) / n, n


def median(xs, default=0.0):
    return statistics.median(xs) if xs else default


def durations(rec, kind):
    """Seconds of each successful query execution in passes of `kind`; a
    failed execution is counted by `fail_counts`, never timed."""
    return [(e["t"][3] - e["t"][0]) / 1000.0
            for e in rec["executions"] if e["kind"] == kind and "error" not in e]


def typical_query(rec, kind):
    """Median over the queries of each query's median execution seconds.
    A pooled median of a mix of a few queries falls between the slowest
    run of one query and the fastest of the next, so it would follow one
    outlier; this follows none while at most half a query's runs are."""
    per_query = {}
    for e in rec["executions"]:
        if e["kind"] == kind and "error" not in e:
            per_query.setdefault(e["query"], []).append((e["t"][3] - e["t"][0]) / 1000.0)
    return median([median(xs) for xs in per_query.values()])


def fail_counts(rec, checks):
    """(attempted, failed) over the run: every execution that threw or
    timed out, plus every result that did not match its reference or had
    none. A missing result is already counted as its failed execution."""
    failed = len(rec["failures"]) + sum(1 for c in checks if c[2] in ("mismatch", "unverified"))
    return rec["attempted"], failed


def end_to_end(rec):
    """Metrics of the measured passes of an untraced run, plus the tail's
    percentile and sample count for the summary line."""
    passes = [p for p in rec["passes"] if not p["traced"]]
    secs = durations(rec, "measured")
    t = tail(secs)
    m = {
        "pass_s": median([p["wall_ms"] / 1000.0 for p in passes]),
        "job_s_p50": typical_query(rec, "measured"),
        "job_s_tail": t[0] if t else max(secs, default=0.0),
        "cpu_s": median([p["cpu_s"] for p in passes]),
        "heap_peak_mb": max((p["heap_old_bytes"] for p in passes), default=0) / MB,
        "setup_s": median(rec["setup_s"]),
    }
    return m, t


def _pass_layers(rec, p, cores):
    """Per-layer figures of one traced pass."""
    n = p["pass"]
    start, wall = p["start"], p["wall_ms"]
    end = start + wall
    execs = [e for e in rec["executions"] if e["pass"] == n and "t" in e]
    jobs = [j for j in rec["jobs"] if j[0] == n]
    tasks = [t for t in rec["tasks"] if t[0] == n]
    m = {}
    for i, phase in enumerate(("build", "plan", "exec")):
        m[f"{phase}_s"] = sum(e["t"][i + 1] - e["t"][i] for e in execs) / 1000.0
    m["build_jobs"] = sum(1 for j in jobs if j[5] == "build")
    m["exec_jobs"] = sum(1 for j in jobs if j[5] == "exec")
    m["build_self_s"] = sum(
        self_time((e["t"][0], e["t"][1]),
                  [(j[2], j[3]) for j in jobs if j[4] == e["query"] and j[5] == "build"])
        for e in execs) / 1000.0
    m["jobs"] = len(jobs)
    m["stages"] = sum(1 for s in rec["stages"] if s[0] == n)
    m["tasks"] = len(tasks)
    busy = union_length([(max(t[2], start), min(t[3], end)) for t in tasks])
    m["driver_only_s"] = (wall - busy) / 1000.0
    run_ms = sum(t[4] for t in tasks)
    m["slot_util"] = run_ms / (wall * cores) if wall > 0 else 0.0
    m["task_run_s"] = run_ms / 1000.0
    m["task_cpu_s"] = sum(t[5] for t in tasks) / 1e9
    m["task_wait_s"] = m["task_run_s"] - m["task_cpu_s"]
    m["task_gc_s"] = sum(t[6] for t in tasks) / 1000.0
    m["task_deser_s"] = sum(t[7] for t in tasks) / 1000.0
    by_stage = {}
    for t in tasks:
        by_stage.setdefault(t[1], []).append(t[4])
    m["task_skew"] = max((max(v) / max(statistics.median(v), 1.0)
                          for v in by_stage.values() if len(v) > 1), default=1.0)
    m["failed_tasks"] = sum(1 for t in tasks if not t[15])
    m["shuffle_write_mb"] = sum(t[8] for t in tasks) / MB
    m["shuffle_read_mb"] = sum(t[9] for t in tasks) / MB
    m["shuffle_fetch_wait_s"] = sum(t[10] for t in tasks) / 1000.0
    m["spill_mb"] = sum(t[11] for t in tasks) / MB
    m["peak_exec_mem_mb"] = max((t[12] for t in tasks), default=0) / MB
    m["input_mb"] = sum(t[13] for t in tasks) / MB
    m["output_mb"] = sum(t[14] for t in tasks) / MB
    cache = [c for c in rec["cache"] if c[0] == n]
    m["cached_mb_peak"] = max((c[1] for c in cache), default=0) / MB
    m["cached_frames"] = max((c[2] for c in cache), default=0)
    batches = [b for b in rec["batches"] if b[0] == n]
    m["batches"] = len(batches)
    m["batch_s"] = sum(b[1] for b in batches) / 1000.0
    m["state_commit_s"] = sum(b[2] for b in batches) / 1000.0
    m["wal_s"] = sum(b[3] for b in batches) / 1000.0
    m["state_rows"] = max((b[4] for b in batches), default=0)
    m["state_mem_mb"] = max((b[5] for b in batches), default=0) / MB
    return m


def per_layer(rec):
    """Median over the traced passes of each per-layer figure, plus
    trace_overhead: traced over untraced median pass time in the same run."""
    cores = rec["cores"]
    traced = [p for p in rec["passes"] if p["traced"]]
    rows = [_pass_layers(rec, p, cores) for p in traced]
    out = {k: median([r[k] for r in rows]) for k in (rows[0] if rows else {})}
    untraced = [p["wall_ms"] for p in rec["passes"] if not p["traced"]]
    # classes compiled while setting up, the cost setup_s covers
    out["codegen_compiles"] = median(rec["setup_codegen_compiles"])
    out["trace_overhead"] = (median([p["wall_ms"] for p in traced]) / median(untraced)
                             if traced and untraced else 1.0)
    return out


def leaks(rec):
    """Describe every scratch area that grew from pass to pass: replay
    `graft_*` temp dirs and staging must never gain entries; their bytes and
    those of the Spark local dirs must not grow by more than a megabyte from
    the first measured pass to the last without ever shrinking."""
    passes = rec["passes"]
    found = []
    if len(passes) >= 2:
        first, last = passes[0], passes[-1]
        for key in ("tmp_graft", "staging"):
            if last[key][1] > first[key][1]:
                found.append(f"{key} entries {first[key][1]} -> {last[key][1]}")
    for key, sel in (("tmp_graft", lambda p: p["tmp_graft"][0]),
                     ("staging", lambda p: p["staging"][0]),
                     ("local_dirs", lambda p: p["local_dirs_bytes"])):
        xs = [sel(p) for p in passes]
        if xs and all(b >= a for a, b in zip(xs, xs[1:])) and xs[-1] - xs[0] > MB:
            found.append(f"{key} bytes grew from pass to pass: {xs}")
    return found
