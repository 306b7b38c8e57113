#!/usr/bin/env python3
"""Ingest-first benchmark: one closed-loop client driving the engine's
public calls on one seeded workload, then checking the outputs.

    python3 perfbench/run.py --workload bulk_load --seed 1 --seconds 20 --trace 0

Run it from the repo root. It builds the program from source, generates the
workload's inputs from the seed, measures for --seconds, and prints one
JSON line last: end-to-end metrics with --trace 0, per-layer metrics from
a traced run with --trace 1. The full artifact (run conditions, tails,
span self times, tracing overhead) goes to .bench_out/. See README.md.
"""
import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import time  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import analyze  # noqa: E402
import build  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("bulk_load", "stream_trickle", "query_mix")
HEAP = "2g"
# query rows of query_mix: both MinHash near-dup builders (the batch
# band self-join and the streaming band keys), a lake row on a query path,
# and a control. All have an oracle entry. The other rows of the repo's
# bench list were left out to keep a pass short.
MIX_ROWS = ("q_minhash_dup", "stream_neardup_e2e", "lake_incremental_e2e", "q_sql_q2")
JVM_TIMEOUT_S = 150


def cpu_sample():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    idle = v[3] + (v[4] if len(v) > 4 else 0)
    return sum(v) - idle, sum(v)


def load_state(window_s=0.1):
    """Load averages and CPU busy percent over a short window."""
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    b0, t0 = cpu_sample()
    time.sleep(window_s)
    b1, t1 = cpu_sample()
    return {"loadavg": load, "cpu_busy_pct": 100.0 * (b1 - b0) / max(t1 - t0, 1)}


def git_sha():
    try:
        return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def oracle_check(out_dir, tables_dir):
    """Compares each row with an oracle entry against DuckDB running it.

    Same rule as the repo's correctness gate: columns sorted by name,
    equal row counts, values equal as strings in row order."""
    import duckdb
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    checked, bad = 0, []
    for name, sql in sorted(oracle.items()):
        checked += 1
        con = duckdb.connect()
        con.execute(f"SET temp_directory='{out_dir}/duckdb_tmp'")
        con.execute("SET threads=2")
        for p in os.listdir(tables_dir):
            if p.endswith(".parquet"):
                con.execute(f"CREATE VIEW {p[:-8]} AS SELECT * FROM "
                            f"read_parquet('{os.path.join(tables_dir, p)}')")
        try:
            exp = con.execute(sql).fetchdf()
            got = duckdb.connect().execute(
                f"SELECT * FROM read_parquet('{out_dir}/rows/{name}/*.parquet')").fetchdf()
        except Exception as e:  # noqa: BLE001 - any oracle error is a failed check
            bad.append(f"{name}: {e}")
            continue
        finally:
            con.close()
        exp, got = exp[sorted(exp.columns)], got[sorted(got.columns)]
        if list(exp.columns) != list(got.columns) or len(exp) != len(got) or any(
                (exp[c].astype(str).values != got[c].astype(str).values).any() for c in exp.columns):
            bad.append(f"{name}: output differs from the oracle")
    return checked, bad


def harness(cp, flags, workload, seconds, trace, cores, work, out_dir):
    """The command line of one harness JVM over the inputs under `work`."""
    return (["java"] + build.ADD_OPENS +
            [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss16m", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={work}/tmp"] + flags +
            ["-cp", cp, "perfbench.Main",
             "--workload", workload, "--seconds", str(seconds),
             "--trace", str(trace), "--cores", str(cores), "--rows", ",".join(MIX_ROWS),
             "--manifest", os.path.join(work, "manifest.json"), "--work", work, "--out", out_dir])


def make_archive(a, cp, jsa, cores, log):
    """Records the classes a run of the workload loads into a class-data
    archive, which later JVMs map instead of loading the classes again.

    Without it every run spends about 4 s more starting the JVM and Spark
    and another 4 s loading classes in its first set-up repetition (4
    vCPUs). The archive belongs to the jar it was made from (build.py
    drops it with the jar), so it is made once per build, by a run of its
    own on its own inputs, and no measured run dumps it. If making it
    fails, runs go on without it.
    """
    work = os.path.join(ROOT, ".bench_work", f"archive-{os.getpid()}")
    try:
        gen.generate(a.workload, a.seed, work, 0)
        os.makedirs(os.path.join(work, "tmp"))
        r = subprocess.run(
            harness(cp, [f"-XX:ArchiveClassesAtExit={jsa}.tmp"], a.workload, 0, 0, cores,
                    work, os.path.join(work, "out")),
            stdout=log, stderr=subprocess.STDOUT, timeout=JVM_TIMEOUT_S + 60, cwd=work)
        if r.returncode == 0 and os.path.isfile(jsa + ".tmp"):
            os.replace(jsa + ".tmp", jsa)
    except subprocess.TimeoutExpired:
        pass
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if os.path.exists(jsa + ".tmp"):
            os.remove(jsa + ".tmp")


def generated_sizes(man):
    """Files, rows, malformed lines and bytes per kind of generated batch."""
    out = {}
    for kind, batches in man.items():
        if isinstance(batches, list) and batches:
            unique = {b["dir"]: b for b in batches}.values()  # set-up may re-offer one batch
            out[kind] = {k: sum(len(b["files"]) if k == "files" else b[k] for b in unique)
                         for k in ("files", "rows", "malformed", "bytes")}
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    main_src, harness_src = build.sources(ROOT)
    if not main_src or not harness_src:
        print("perfbench: no program sources here; run from the repo root", file=sys.stderr)
        return 2
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", os.path.join(ROOT, ".bench_build")))
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    out_dir = os.path.join(ROOT, ".bench_out", tag)
    work = os.path.join(ROOT, ".bench_work", f"{tag}-{os.getpid()}")
    for d in (build_dir, work):
        os.makedirs(d, exist_ok=True)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)

    before = load_state()
    cores = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    jsa = build.archive_path(build_dir)
    with open(os.path.join(out_dir, "build.log"), "w") as log:
        cp = build.build(ROOT, build_dir, log)
        if not os.path.isfile(jsa):
            make_archive(a, cp, jsa, cores, log)
    archived = os.path.isfile(jsa)
    try:
        t0 = time.time()
        man = gen.generate(a.workload, a.seed, work, int(a.seconds))
        gen_s = time.time() - t0
        cmd = harness(cp, [f"-XX:SharedArchiveFile={jsa}"] if archived else [],
                      a.workload, a.seconds, a.trace, cores, work, out_dir)
        os.makedirs(os.path.join(work, "tmp"))
        with open(os.path.join(out_dir, "jvm.log"), "w") as log:
            subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, timeout=JVM_TIMEOUT_S,
                           check=True, cwd=work)
        with open(os.path.join(out_dir, "result.json")) as f:
            result = json.load(f)
        with open(os.path.join(out_dir, "spans.jsonl")) as f:
            spans = [json.loads(line) for line in f]
        attempted, failed = result["attempted"], result["failed"]
        failures = list(result["failures"]) + ([result["error"]] if result["error"] else [])
        if a.workload == "query_mix":
            n, bad = oracle_check(out_dir, man["tables"])
            attempted += n
            failed += len(bad)
            failures += bad
    finally:
        shutil.rmtree(work, ignore_errors=True)
    after = load_state()

    e2e, e2e_info = analyze.end_to_end(spans, result)
    artifact = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "error_rate": failed / max(attempted, 1), "failures": failures[:20],
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        "end_to_end_info": e2e_info,
        "conditions": {
            "nproc": os.cpu_count(), "cores_used": cores,
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "shuffle_partitions": result["shuffle_partitions"], "heap": HEAP,
            "max_heap_mb": result["max_heap_mb"], "git_sha": git_sha(),
            "source_stamp": open(os.path.join(build_dir, "perfbench.stamp")).read(),
            "class_data_archive": archived,
            "spark_version": result["spark_version"], "seed": a.seed,
            "generated": generated_sizes(man),
            "generate_s": gen_s, "warm_up_s": result["warm_s"],
            "before": before, "after": after,
        },
    }
    if a.trace:
        layer, self_ms, trace = analyze.per_layer(spans, result, MIX_ROWS)
        with open(os.path.join(out_dir, "trace.jsonl"), "w") as f:
            f.writelines(json.dumps(t) + "\n" for t in trace)
        metrics = layer
        artifact["per_layer"] = {k: {"value": v, "unit": u} for k, (v, u) in layer.items()}
        artifact["span_self_ms"] = self_ms
        last = os.path.join(ROOT, ".bench_out", f"last-{a.workload}-trace0.json")
        if os.path.isfile(last):
            with open(last) as f:
                base = json.load(f)["end_to_end"]
            artifact["tracing_overhead"] = {
                k: {"traced": e2e[k][0], "untraced": base[k]["value"],
                    "diff": e2e[k][0] - base[k]["value"]} for k in e2e if k in base}
    else:
        metrics = e2e
    with open(os.path.join(out_dir, "artifact.json"), "w") as f:
        json.dump(artifact, f, indent=1)
    if not a.trace:
        shutil.copy(os.path.join(out_dir, "artifact.json"),
                    os.path.join(ROOT, ".bench_out", f"last-{a.workload}-trace0.json"))
    for k, (v, u) in metrics.items():
        print(f"{a.workload} {k} = {v:.6g} {u}")
    for f in failures[:20]:
        print(f"FAILED: {f}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
