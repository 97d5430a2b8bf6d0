"""Arithmetic of the benchmark: percentiles and the tail rule, interval
unions, span self time, metric names, and the layer metrics derived from
a traced run's spans. Pure functions over plain data, tested by
tests/test_stats.py."""

import math
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

# Percentiles a tail may be taken at, highest first, and how many
# samples must lie above the one taken.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
TAIL_BEYOND = 10


def valid_name(name):
    """A metric or workload name: a letter or digit, then at most 63 of
    letters, digits, `_`, `.` and `-`."""
    return bool(NAME_RE.match(name))


def percentile(values, p):
    """The p-th percentile (0-100) with linear interpolation between
    closest ranks, as numpy's default."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def beyond(n, p):
    """How many of n samples lie above the p-th percentile's rank."""
    return n - 1 - int((n - 1) * p / 100.0)


def tail_percentile(n):
    """The highest percentile of the ladder that still has at least
    TAIL_BEYOND of n samples above it, or None when n is too small for
    any."""
    for p in TAIL_LADDER:
        if beyond(n, p) >= TAIL_BEYOND:
            return p
    return None


def tail(values):
    """(p, p-th percentile) for p = tail_percentile(len(values));
    (None, None) when there are too few samples for any."""
    p = tail_percentile(len(values))
    if p is None:
        return None, None
    return p, percentile(values, p)


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
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


def clip(intervals, lo, hi):
    """Intervals cut to [lo, hi]; empty ones dropped."""
    out = []
    for s, e in intervals:
        s, e = max(s, lo), min(e, hi)
        if e > s:
            out.append((s, e))
    return out


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    t0, t1 = span
    return max(0.0, (t1 - t0) - union_length(clip(children, t0, t1)))


def typical_latency(groups):
    """Geometric mean, over groups of latencies (one group per op kind),
    of each group's median. Every kind weighs the same whatever its
    share of a run, so the mix a run happened to complete does not move
    it; with one kind it is that kind's median."""
    meds = [statistics.median(g) for g in groups if g]
    if not meds:
        return float("nan")
    return math.exp(sum(math.log(m) for m in meds) / len(meds))


def halves(samples):
    """Medians of the first and second half of (time, value) samples,
    ordered by time; (None, None) with fewer than two samples."""
    xs = [v for _, v in sorted(samples)]
    if len(xs) < 2:
        return None, None
    h = len(xs) // 2
    return statistics.median(xs[:h]), statistics.median(xs[h:])


def spread(values):
    """(median, q1, q3, (q3 - q1) / median) as statistics.quantiles
    gives them."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    share = (q3 - q1) / med if med else float("inf")
    return med, q1, q3, share


# ---------------------------------------------------------------------------
# Layer metrics of a traced run
# ---------------------------------------------------------------------------

FAMILIES = ("dedup", "sim", "text", "governance")


class Tree:
    """Spans of one run indexed by id, parent and op."""

    def __init__(self, spans):
        self.spans = spans
        self.by_id = {s["id"]: s for s in spans}
        self.children = {}
        for s in spans:
            self.children.setdefault(s["parent"], []).append(s)

    def kids(self, s):
        return self.children.get(s["id"], [])

    def descendants(self, s):
        out, todo = [], list(self.kids(s))
        while todo:
            x = todo.pop()
            out.append(x)
            todo.extend(self.kids(x))
        return out


def _iv(s):
    return (s["t0"], s["t1"])


def _dur(s):
    return s["t1"] - s["t0"]


def _mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _jobs(tree, s):
    return [d for d in tree.descendants(s) if d["name"] == "job"]


def _attr(spans, key):
    return sum(x["attrs"].get(key, 0.0) for x in spans)


def call_profile(tree, call):
    """Wall, job wall, driver and task CPU of one call span."""
    jobs = _jobs(tree, call)
    job_wall = union_length(clip([_iv(j) for j in jobs], *_iv(call)))
    return {"call_s": _dur(call), "jobs": float(len(jobs)),
            "job_s": job_wall, "driver_s": _dur(call) - job_wall,
            "task_cpu_s": _attr(jobs, "task_cpu_s")}


def layer_metrics(run):
    """Per-layer metrics of one traced run (see README.md for each)."""
    tree = Tree(run["spans"])
    ops = [s for s in run["spans"] if s["layer"] == "op"]
    calls = [s for s in run["spans"] if s["parent"] in tree.by_id
             and tree.by_id[s["parent"]]["layer"] == "op"]
    by = {}
    for c in calls:
        by.setdefault((c["layer"], c["name"]), []).append(c)
    m = {}

    # ingest
    ing = by.get(("ingest", "CsvIngest.ingest"), [])
    prof = [call_profile(tree, c) for c in ing]
    for k in ("call_s", "jobs", "job_s", "driver_s", "task_cpu_s"):
        m["ingest." + k] = _mean(p[k] for p in prof)
    m["ingest.files"] = _mean(c["attrs"].get("files", 0) for c in ing)
    m["ingest.input_bytes"] = _mean(c["attrs"].get("input_bytes", 0) for c in ing)

    # catalog: commit
    app = by.get(("catalog", "append"), [])
    prof = [call_profile(tree, c) for c in app]
    m["catalog.append_s"] = _mean(p["call_s"] for p in prof)
    m["catalog.append_job_s"] = _mean(p["job_s"] for p in prof)
    m["catalog.append_driver_s"] = _mean(p["driver_s"] for p in prof)
    m["catalog.append_task_cpu_s"] = _mean(p["task_cpu_s"] for p in prof)
    for k in ("files_added", "bytes_added", "log_bytes_added"):
        m["catalog." + k] = _mean(c["attrs"].get(k, 0) for c in app)

    # catalog: scan (every call that planned a manifest scan)
    scans = [c for c in calls if "scans" in c["attrs"]]
    total = sum(c["attrs"]["scan_files_total"] for c in scans)
    kept = sum(c["attrs"]["scan_files_kept"] for c in scans)
    m["catalog.scan_files_total"] = _mean(c["attrs"]["scan_files_total"] for c in scans)
    m["catalog.scan_files_kept"] = _mean(c["attrs"]["scan_files_kept"] for c in scans)
    m["catalog.scan_kept_ratio"] = kept / total if total else 0.0
    reads = [c for c in calls if c["layer"] == "sql"]
    m["catalog.metadata_answers"] = _mean(
        1.0 if _attr(_jobs(tree, c), "input_bytes") == 0 else 0.0 for c in reads)

    # catalog: row-level
    dml = []
    for kind in ("delete", "update", "merge"):
        cs = by.get(("catalog", "dml." + kind), [])
        dml += cs
        m["catalog.dml_%s_s" % kind] = _mean(_dur(c) for c in cs)
    m["catalog.dml_files_removed"] = _mean(c["attrs"].get("files_removed", 0) for c in dml)
    m["catalog.dml_files_added"] = _mean(c["attrs"].get("files_added", 0) for c in dml)
    m["catalog.dml_bytes_rewritten"] = _mean(c["attrs"].get("bytes_added", 0) for c in dml)

    # catalog: maintenance
    maint = by.get(("catalog", "maint.compact"), []) + by.get(("catalog", "maint.expire"), [])
    compact = by.get(("catalog", "maint.compact"), [])
    m["catalog.maint_s"] = _mean(_dur(c) for c in maint)
    m["catalog.maint_bytes_rewritten"] = _mean(c["attrs"].get("bytes_added", 0) for c in compact)
    m["catalog.maint_files_before"] = _mean(c["attrs"].get("files_before", 0) for c in compact)
    m["catalog.maint_files_after"] = _mean(c["attrs"].get("files_after", 0) for c in compact)

    # table state at run end
    st = run.get("state", {})
    for k in ("catalog.files_live", "catalog.rows_per_file", "catalog.versions",
              "catalog.delete_files_live", "schema.columns",
              "schema.columns_added", "schema.widenings"):
        m[k] = float(st.get(k, 0.0))

    # plans, exec, driver: per op
    n = max(1, len(ops))
    phase_s = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    ex = {k: 0.0 for k in ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s",
                           "gc_s", "input_bytes", "input_records",
                           "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")}
    gap = 0.0
    result_rows = 0.0
    for op in ops:
        desc = tree.descendants(op)
        phases = [d for d in desc if d["layer"] == "plans"]
        jobs = [d for d in desc if d["name"] == "job"]
        for p in phases:
            if p["name"] in phase_s:
                phase_s[p["name"]] += _dur(p)
        ex["jobs"] += len(jobs)
        for k in ex:
            if k != "jobs":
                ex[k] += _attr(jobs, k)
        gap += self_time(_iv(op), [_iv(x) for x in phases + jobs])
        result_rows += _attr([d for d in desc if d["layer"] == "sql"], "result_rows")
    for k, v in phase_s.items():
        m["plans.%s_s" % k] = v / n
    for k, v in ex.items():
        m["exec." + k] = v / n
    m["exec.records_per_result_row"] = (ex["input_records"] / result_rows
                                        if result_rows else 0.0)
    m["driver.gap_s"] = gap / n

    # operators, per family
    for fam in FAMILIES:
        cs = by.get(("operators", fam), [])
        jobs = [j for c in cs for j in _jobs(tree, c)]
        k = max(1, len(cs))
        m["operators.%s_s" % fam] = _mean(_dur(c) for c in cs)
        m["operators.%s_task_cpu_s" % fam] = _attr(jobs, "task_cpu_s") / k
        m["operators.%s_shuffle_bytes" % fam] = (
            _attr(jobs, "shuffle_read_bytes") + _attr(jobs, "shuffle_write_bytes")) / k
        m["operators.%s_spill_bytes" % fam] = _attr(jobs, "spill_bytes") / k

    # jvm
    m["jvm.gc_s"] = run["gc_s"] / n
    m["jvm.heap_after_gc_mb"] = run["heap_peak_mb"]

    # self time per layer: each span minus what its children cover
    selfs = {}
    for s in run["spans"]:
        if s["op"] < 0:
            continue
        layer = "driver" if s["layer"] == "op" else s["layer"]
        selfs[layer] = selfs.get(layer, 0.0) + self_time(
            _iv(s), [_iv(k) for k in tree.kids(s)])
    for layer in ("driver", "ingest", "catalog", "sql", "operators", "plans", "exec"):
        m["self.%s_s" % layer] = selfs.get(layer, 0.0) / n
    return m
