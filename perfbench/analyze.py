"""Metrics from the spans one harness run wrote.

Operation spans (`op.*`) give the end-to-end metrics; layer spans,
listener spans and notes give the per-layer metrics of the traced run.
A span's operation and parent are the smallest operation or span whose
interval contains it.
"""
import statistics

# listener times have millisecond resolution
TOL_MS = 1.0
INGEST_OPS = ("op.ingest", "op.wave")
OPS = INGEST_OPS + ("op.read", "op.query")


def dur(s):
    return s["end"] - s["start"]


def median(xs):
    return statistics.median(xs) if xs else 0.0


TAIL_PCT = 90


def tail(xs):
    """The 90th percentile, interpolated between the two samples around it.

    Returns (value, percentile, samples). Unlike "the highest percentile
    with at least 10 samples above it", this is the same statistic at
    every sample count, so a run that fits one more operation does not
    jump from the maximum to the minimum at 11 samples. With 100 samples
    or more the two agree."""
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    if n == 1:
        return xs[0], TAIL_PCT, 1
    return statistics.quantiles(xs, n=100, method="inclusive")[TAIL_PCT - 1], TAIL_PCT, n


def contains(outer, inner):
    return (outer is not inner and outer["start"] - TOL_MS <= inner["start"]
            and inner["end"] <= outer["end"] + TOL_MS)


def build_tree(spans):
    """Gives every span an `id`, a `parent` (the smallest span containing
    it; an operation wins a tie) and an `op` (its operation), and returns
    the spans with a duration."""
    for i, s in enumerate(spans):
        s["id"] = i
    for s in spans:
        key = (dur(s), s["name"] in OPS)
        outer = [p for p in spans if contains(p, s) and (dur(p), p["name"] in OPS) > key]
        s["parent"] = min(outer, key=dur, default=None)
        s["op"] = s if s["name"] in OPS else min(
            (p for p in outer if p["name"] in OPS), key=dur, default=None)
    return [s for s in spans if dur(s) > 0]


def trace_records(spans):
    """The spans as written out: ids in place of the parent and op links."""
    return [dict(s, parent=s["parent"] and s["parent"]["id"], op=s["op"] and s["op"]["id"])
            for s in spans]


def union_ms(intervals, lo, hi):
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def self_times(timed):
    """Per span name: count, total and self milliseconds."""
    kids = {}
    for s in timed:
        if s["parent"] is not None:
            kids.setdefault(id(s["parent"]), []).append(s)
    out = {}
    for s in timed:
        cover = union_ms([(c["start"], c["end"]) for c in kids.get(id(s), [])], s["start"], s["end"])
        e = out.setdefault(s["name"], {"count": 0, "total_ms": 0.0, "self_ms": 0.0})
        e["count"] += 1
        e["total_ms"] += dur(s)
        e["self_ms"] += dur(s) - cover
    return out, kids


def coverage(ops, kids):
    """Share of the operations' wall time that their child spans cover."""
    total = sum(dur(o) for o in ops)
    covered = sum(union_ms([(c["start"], c["end"]) for c in kids.get(id(o), [])],
                           o["start"], o["end"]) for o in ops)
    return covered / total if total else 0.0


def kind(s):
    return (s["name"], s.get("row"))


def typical_pass_ms(spans):
    """The time of a typical pass: over the kinds of operation a pass runs
    (ingest or wave, read, each query row), the sum of each kind's median."""
    by = {}
    for s in spans:
        if s["name"] in OPS:
            by.setdefault(kind(s), []).append(dur(s))
    return sum(median(v) for v in by.values())


def n_passes(spans):
    return len({s["pass"] for s in spans if s["name"] in OPS})


def window(spans, result):
    """The spans of the measured window (set-up comes before it)."""
    return [s for s in spans if result["run_start"] <= s["start"] <= result["run_end"]]


def end_to_end(spans, result):
    spans = window(spans, result)
    ingest = [dur(s) for s in spans if s["name"] in INGEST_OPS]
    reads = [dur(s) for s in spans if s["name"] == "op.read"]
    tables = [s for s in spans if s["name"] == "table"]
    rows = sum(t["rows"] for t in tables)
    it, ip, in_ = tail(ingest)
    rt, rp, rn = tail(reads)
    metrics = {
        "setup_s": (median(result["setup_s"]), "s"),
        "rows_per_s": (rows / (sum(ingest) / 1e3) if ingest else 0.0, "1/s"),
        "ingest_p50_ms": (median(ingest), "ms"),
        "ingest_tail_ms": (it, "ms"),
        "read_p50_ms": (median(reads), "ms"),
        "read_tail_ms": (rt, "ms"),
        "mix_s": (typical_pass_ms(spans) / 1e3, "s"),
        "stored_bytes_ratio": (median([t["stored_bytes"] / t["input_bytes"] for t in tables]), "ratio"),
        "files_per_commit": (median([t["live_files"] / t["snapshots"] for t in tables]), "count"),
        "live_mem_mb": (result["live_heap_mb"] + result["non_heap_mb"], "MB"),
    }
    info = {"ingest_tail": {"percentile": ip, "samples": in_},
            "read_tail": {"percentile": rp, "samples": rn},
            "passes": n_passes(spans), "committed_rows": rows,
            "memory_mb": {k: result[k] for k in ("peak_heap_after_gc_mb", "live_heap_mb", "non_heap_mb")}}
    return metrics, info


def per_layer(spans, result, query_rows):
    spans = window(spans, result)
    timed = build_tree(spans)
    stats, kids = self_times(timed)
    ops = [s for s in timed if s["name"] in OPS]
    cores = result["cores"]

    def durs(name):
        return [dur(s) for s in timed if s["name"] == name]

    def notes(name, key):
        return [s[key] for s in spans if s["name"] == name]

    def jobs_in(span):
        return [j for j in timed if j["name"] == "spark.job" and contains(span, j)]

    decode = durs("probe.decode")
    bare = durs("probe.read")
    appends = [s for s in timed if s["name"] == "sink.append"]
    job_ms, post_ms = [], []
    for a in appends:
        js = jobs_in(a)
        if js:
            job_ms.append(max(j["end"] for j in js) - min(j["start"] for j in js))
            post_ms.append(a["end"] - max(j["end"] for j in js))
    delete_ms = [o["end"] - a["end"] for o in ops if o["name"] == "op.ingest"
                 for a in appends if a["op"] is o]
    tables = [s for s in spans if s["name"] == "table"]
    triggers = [s for s in timed if s["name"] == "streaming.trigger" and s["op"] is not None]
    op_jobs = [j for j in timed if j["name"] == "spark.job" and j["op"] is not None]
    by_op = {}
    for x in op_jobs + triggers:
        by_op.setdefault(id(x["op"]), []).append(x)

    def per_pass(f, name="spark.job"):
        """A typical pass's total of f over its operations' children named
        `name`: per kind of operation the median, summed over the kinds."""
        by_kind = {}
        for o in ops:
            by_kind.setdefault(kind(o), []).append(
                sum(f(x) for x in by_op.get(id(o), []) if x["name"] == name))
        return sum(median(v) for v in by_kind.values())

    op_ms = sum(dur(o) for o in ops)

    def trig(key):
        return median([t.get(key, 0) for t in triggers])

    m = {
        "ingest.list_ms": (median(durs("probe.list")), "ms"),
        "ingest.decode_ms": (median(decode), "ms"),
        "ingest.ledger_ms": (median(durs("probe.ledger")), "ms"),
        "ingest.input_bytes": (median([t["op_bytes"] for t in tables]), "bytes"),
        "ingest.malformed_rows": (median([t["lines"] - t["rows"] for t in tables]), "count"),
        "transform.ms": (median([d - b for d, b in zip(decode, bare)]), "ms"),
        "sink.append_ms": (median([dur(a) for a in appends]), "ms"),
        "sink.job_ms": (median(job_ms), "ms"),
        "sink.post_job_ms": (median(post_ms), "ms"),
        "sink.files_written": (median(notes("sink.commit", "files")), "count"),
        "sink.bytes_written": (median(notes("sink.commit", "bytes")), "bytes"),
        "sink.delete_ms": (median(delete_ms), "ms"),
        "log.records_ms": (median(durs("log.records")), "ms"),
        "log.snapshots": (median(notes("log.snapshots", "n")), "count"),
        "read.plan_ms": (median(durs("read.plan")), "ms"),
        "read.exec_ms": (median(durs("read.exec")), "ms"),
        "read.jobs": (median([len(jobs_in(o)) for o in ops if o["name"] == "op.read"]), "count"),
        "read.files": (median(notes("read.files", "n")), "count"),
        "streaming.start_ms": (median(durs("streaming.start")), "ms"),
        "streaming.trigger_ms": (trig("triggerExecution"), "ms"),
        "streaming.add_batch_ms": (trig("addBatch"), "ms"),
        "streaming.wal_commit_ms": (trig("walCommit"), "ms"),
        "streaming.planning_ms": (trig("queryPlanning"), "ms"),
        "streaming.latest_offset_ms": (trig("latestOffset"), "ms"),
        "streaming.batches": (per_pass(lambda t: 1, "streaming.trigger"), "count"),
        "spark.jobs": (per_pass(lambda j: 1), "count"),
        "spark.stages": (per_pass(lambda j: j["stages"]), "count"),
        "spark.task_cpu_s": (per_pass(lambda j: j["cpu_ns"]) / 1e9, "s"),
        "spark.gc_s": (per_pass(lambda j: j["gc_ms"]) / 1e3, "s"),
        "spark.shuffle_write_bytes": (per_pass(lambda j: j["shuffle_write"]), "bytes"),
        "spark.spill_bytes": (per_pass(lambda j: j["spill"]), "bytes"),
        "spark.busy_ratio": (sum(j["run_ms"] for j in op_jobs) / (op_ms * cores) if op_ms else 0.0,
                             "ratio"),
        "trace.ingest_coverage": (coverage([o for o in ops if o["name"] in INGEST_OPS], kids), "ratio"),
        "trace.read_coverage": (coverage([o for o in ops if o["name"] == "op.read"], kids), "ratio"),
    }
    for r in query_rows:
        runs = [o for o in ops if o["name"] == "op.query" and o["row"] == r]
        js = [jobs_in(o) for o in runs]
        m[f"queries.{r}_ms"] = (median([dur(o) for o in runs]), "ms")
        m[f"queries.{r}_cpu_s"] = (median([sum(j["cpu_ns"] for j in x) / 1e9 for x in js]), "s")
        m[f"queries.{r}_jobs"] = (median([len(x) for x in js]), "count")
        m[f"queries.{r}_shuffle_bytes"] = (median([sum(j["shuffle_write"] for j in x) for x in js]),
                                           "bytes")
    return m, stats, trace_records(spans)
