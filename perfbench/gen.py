"""Seeded input generator for the ingest benchmark.

Everything the program under test reads is written here from one seed:
JSON-lines source files for the ingest workloads (with the per-partition
row counts the checks expect) and the parquet tables the query rows scan.
The same seed always gives byte-identical inputs.
"""
import json
import os
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_DAY = np.datetime64("2024-03-01")
DAY_S = 86_400
CATEGORIES = [f"c{k:02d}" for k in range(24)]


def java_long_bucket(v, n):
    """`bucket[n]` of a long: (Long.hashCode(v) & Integer.MAX_VALUE) % n."""
    u = int(v) & 0xFFFFFFFFFFFFFFFF
    return ((u ^ (u >> 32)) & 0x7FFFFFFF) % n


def zipf_choice(rng, n_values, size, s=1.1):
    p = 1.0 / np.arange(1, n_values + 1) ** s
    return rng.choice(n_values, size=size, p=p / p.sum())


def _ts_text(rng, epoch_s):
    """A TIMESTAMP value in either accepted form: ISO text or epoch seconds."""
    if rng.random() < 0.5:
        return str(int(epoch_s))
    t = np.datetime64(int(epoch_s), "s").astype(object)
    return '"' + t.strftime("%Y-%m-%d %H:%M:%S") + '"'


def event_lines(rng, next_id, n, day_offsets, n_categories, malformed_frac, no_category):
    """`n` JSON lines of the benchmark table's shape.

    Returns (lines, partition counts of the well-formed lines, malformed
    line count, next unused id). Partition keys are
    `<event_date>|<user_id bucket[16]>|<category or null>`, the value
    rendering the table's directory layout uses.
    """
    users = rng.integers(0, 1_000_000, n)
    users[rng.random(n) < 0.01] *= -1
    cats = zipf_choice(rng, n_categories, n)
    no_cat = rng.random(n) < no_category
    bad = rng.random(n) < malformed_frac
    secs = rng.integers(0, DAY_S, n)
    micros = rng.integers(0, 1_000_000, n)
    lines, parts, malformed = [], {}, 0
    for i in range(n):
        day = BASE_DAY + int(day_offsets[i])
        day_s = str(day)
        epoch = (day - np.datetime64("1970-01-01")).astype(int) * DAY_S + int(secs[i])
        s = int(secs[i])
        cat = None if no_cat[i] else CATEGORIES[cats[i]]
        fields = [
            f'"id":{next_id + i}',
            f'"event_date":"{day_s}"',
            f'"event_time":"{s // 3600:02d}:{s // 60 % 60:02d}:{s % 60:02d}.{int(micros[i]):06d}"',
            f'"event_ts":{_ts_text(rng, epoch)}',
            f'"user_id":{int(users[i])}',
        ]
        if cat is not None:
            fields.append(f'"category":"{cat}"')
        a = int(rng.integers(-1000, 1000))
        fields += [
            f'"amount":{rng.integers(0, 10_000_000) / 100:.2f}',
            f'"score":{rng.random():.6f}',
            f'"ratio":{rng.random() * 2:.3f}',
            f'"count":{int(rng.integers(0, 1000))}',
            f'"flag":{"true" if rng.random() < 0.5 else "false"}',
            '"payload":{'
            f'"a":{a},"b":"p{a % 97}",'
            f'"c":[{rng.random():.4f},{rng.random():.4f}],'
            f'"d":{{"k":{a % 13},"m":{a % 7}}},'
            f'"ts_list":[{_ts_text(rng, epoch)},{_ts_text(rng, epoch + 60)}]}}',
            f'"tags":["t{a % 5}","t{a % 11}"]',
            f'"attrs":{{"src":"s{a % 3}","env":"prod"}}',
        ]
        line = "{" + ",".join(fields) + "}"
        if bad[i]:
            malformed += 1
            line = line[: len(line) // 2]  # torn JSON: dropped by the reader
        else:
            key = f"{day_s}|{java_long_bucket(users[i], 16)}|{cat or 'null'}"
            parts[key] = parts.get(key, 0) + 1
        lines.append(line)
    return lines, parts, malformed, next_id + n


def write_batch(rng, root, next_id, n_files, rows_per_file, day_offsets_fn,
                n_categories, malformed_frac=0.01, no_category=0.02):
    """One batch of `<root>/<uuid>.json` files; returns (batch record, next id)."""
    os.makedirs(root, exist_ok=True)
    files, parts, malformed, rows, nbytes = [], {}, 0, 0, 0
    for _ in range(n_files):
        n = rows_per_file
        lines, p, m, next_id = event_lines(
            rng, next_id, n, day_offsets_fn(n), n_categories, malformed_frac, no_category)
        name = f"{uuid.UUID(int=int(rng.integers(0, 2**63)) << 64 | int(rng.integers(0, 2**63)), version=4)}.json"
        data = ("\n".join(lines) + "\n").encode()
        with open(os.path.join(root, name), "wb") as f:
            f.write(data)
        files.append(name)
        nbytes += len(data)
        malformed += m
        rows += n - m
        for k, v in p.items():
            parts[k] = parts.get(k, 0) + v
    return {"dir": root, "files": files, "rows": rows, "malformed": malformed,
            "bytes": nbytes, "parts": parts}, next_id


def query_tables(rng, out):
    """The tables the query rows scan, at a small fixed scale (about
    0.01 of the TPC-H-ish unit used by the repo's test data)."""
    os.makedirs(out, exist_ok=True)

    def write(name, **cols):
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))

    n_supp, n_part, n_ord, n_ev, n_doc, n_emb = 100, 2000, 15000, 10000, 500, 500
    write("nation", n_nationkey=pa.array(range(25), pa.int32()),
          n_name=[f"NATION_{i}" for i in range(25)],
          n_regionkey=pa.array([i % 5 for i in range(25)], pa.int32()))
    write("supplier", s_suppkey=pa.array(np.arange(n_supp), pa.int64()),
          s_name=[f"Supplier#{i:09d}" for i in range(n_supp)],
          s_nationkey=pa.array(rng.integers(0, 25, n_supp), pa.int32()),
          s_acctbal=np.round(rng.uniform(-1000, 10000, n_supp), 2))
    adjs, nouns = ["cold", "hot", "blue", "red", "small", "old"], ["ring", "bolt", "gear", "rod"]
    write("part", p_partkey=pa.array(np.arange(n_part), pa.int64()),
          p_name=[f"{adjs[a]} {nouns[b]}" for a, b in zip(
              rng.integers(0, len(adjs), n_part), rng.integers(0, len(nouns), n_part))],
          p_brand=[f"Brand#{b}" for b in rng.integers(0, 25, n_part)],
          p_type=np.array(["ECONOMY", "SMALL", "PROMO", "LARGE"])[rng.integers(0, 4, n_part)],
          p_size=pa.array(rng.integers(1, 51, n_part), pa.int32()),
          p_retailprice=np.round(900.0 + 0.1 * rng.integers(0, 1000, n_part), 1))
    n_li = 4 * n_ord
    lo = np.sort(rng.integers(0, n_ord, n_li))
    ship = (BASE_DAY - np.datetime64("1995-01-01")).astype(int)
    write("lineitem", l_orderkey=pa.array(lo, pa.int64()),
          l_partkey=pa.array(rng.integers(0, n_part, n_li), pa.int64()),
          l_suppkey=pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
          l_linenumber=pa.array(np.arange(n_li) - np.searchsorted(lo, lo) + 1, pa.int32()),
          l_quantity=rng.integers(1, 51, n_li).astype(np.float64),
          l_extendedprice=np.round(rng.uniform(900, 105000, n_li), 2),
          l_discount=rng.integers(0, 11, n_li) / 100.0,
          l_tax=rng.integers(0, 9, n_li) / 100.0,
          l_returnflag=np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
          l_linestatus=np.array(["O", "F"])[rng.integers(0, 2, n_li)],
          l_shipdate=pa.array((np.datetime64("1995-01-01") + rng.integers(0, ship, n_li))
                              .astype("datetime64[us]"), pa.timestamp("us")))
    ev_us = (np.datetime64("2024-01-01").astype("datetime64[us]").astype(np.int64)
             + np.sort(rng.integers(0, 30 * DAY_S * 1_000_000, n_ev)))
    write("events", event_id=pa.array(np.arange(n_ev), pa.int64()),
          ts=pa.array(ev_us, pa.timestamp("us")),
          user_id=pa.array(rng.integers(0, 150, n_ev), pa.int64()),
          event_type=np.array(["view", "click", "purchase", "signup", "error"])[rng.integers(0, 5, n_ev)],
          value=np.round(np.minimum(rng.exponential(50, n_ev), 490.0) + 0.01, 2),
          props=[f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])
    vocab = np.array(["a", "agg", "batch", "big", "column", "customer", "data", "dup",
                      "fast", "filter", "group", "hash", "join", "key", "line", "merge",
                      "order", "part", "query", "row", "scan", "slow", "small", "sort",
                      "spark", "stream", "table", "the", "value", "vector", "window"])
    texts = [" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))])
             for _ in range(n_doc)]
    for i in rng.choice(np.arange(10, n_doc), n_doc // 60, replace=False):  # near-dups
        words = texts[rng.integers(0, i)].split(" ")
        for j in rng.integers(0, len(words), max(len(words) // 20, 1)):
            words[j] = vocab[rng.integers(0, len(vocab))]
        texts[i] = " ".join(words)
    for i in rng.choice(np.arange(10, n_doc), n_doc // 200, replace=False):  # exact dups
        texts[i] = texts[rng.integers(0, i)]
    write("documents", doc_id=pa.array(np.arange(n_doc), pa.int64()), text=texts,
          lang=np.array(["en", "zh", "es", "fr", "de"])[
              rng.choice(5, n_doc, p=[0.4, 0.15, 0.15, 0.15, 0.15])],
          source=[f"src{s}" for s in rng.integers(0, 20, n_doc)],
          n_chars=pa.array([len(t) for t in texts], pa.int64()))
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 1, (10, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    noise = rng.normal(0, 1, (n_emb, 64))
    noise /= np.linalg.norm(noise, axis=1, keepdims=True)
    vecs = 0.6 * centers[labels] + 0.8 * noise
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    write("embeddings", vec_id=pa.array(np.arange(n_emb), pa.int64()),
          embedding=pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
          label=pa.array(labels, pa.int32()))


# Workload sizes. A bulk batch is a hundred and more medium files spread
# over 2 days x bucket[16] x a Zipf category (about 128 output files); a
# stream wave is a few hundred tiny files of the next day (time-ordered,
# little decode work). Set-up batches are small ones of the same kind (the
# bulk one with few output files: the sink's cost is per output file).
# The query mix's probe is a tiny ingest of one category and no null
# ones, so that, like the others, its output file count does not depend
# on the seed (every partition key gets rows).
BULK = dict(n_files=160, rows_per_file=60, days=2, categories=3)
BULK_SETUP = dict(BULK, n_files=16, days=1, categories=1)
BULK_WARM = dict(BULK, days=1)  # same files, half the output files
STREAM = dict(n_files=200, rows_per_file=4, categories=8)
STREAM_SETUP = dict(STREAM, n_files=50)
PROBE = dict(n_files=2, rows_per_file=60, days=1, categories=1, no_category=0.0)
SETUP_REPS = 3
PROBE_POOL = 4  # one probe before each query row


def _batch(rng, root, next_id, spec, day_offsets_fn=None):
    days = spec.get("days", 1)
    fn = day_offsets_fn or (lambda n: rng.integers(0, days, n))
    return write_batch(rng, root, next_id, spec["n_files"], spec["rows_per_file"],
                       fn, spec["categories"], no_category=spec.get("no_category", 0.02))


def generate(workload, seed, work, seconds):
    """Write the workload's inputs under `work` and return its manifest.

    `setup` holds one batch per set-up repetition: small ops of the
    workload's own kind, so the set-up also warms the measured path."""
    rng = np.random.default_rng(seed)
    next_id = 0
    man = {"workload": workload, "seed": seed, "setup": [], "warm": [], "bulk": [],
           "stream": [], "probe": [], "tables": None}
    if workload == "bulk_load":
        b, next_id = _batch(rng, f"{work}/pool/setup", next_id, BULK_SETUP)
        man["setup"] = [b] * SETUP_REPS  # re-offered by hard links into fresh tables
        b, next_id = _batch(rng, f"{work}/pool/warm", next_id, BULK_WARM)
        man["warm"].append(b)
        b, next_id = _batch(rng, f"{work}/pool/bulk", next_id, BULK)
        man["bulk"].append(b)
    elif workload == "stream_trickle":
        for r in range(SETUP_REPS):
            b, next_id = _batch(rng, f"{work}/pool/setup{r}", next_id, STREAM_SETUP,
                                day_offsets_fn=lambda n: np.zeros(n, int))
            b["day"] = str(BASE_DAY)
            man["setup"].append(b)
        b, next_id = _batch(rng, f"{work}/pool/warm", next_id, STREAM,
                            day_offsets_fn=lambda n: np.zeros(n, int))
        b["day"] = str(BASE_DAY)
        man["warm"] = [b]
        # more waves than the loop can drain: a wave plus its read takes
        # more than two seconds, and the window closes at most two waves
        # after its time is up
        for w in range(seconds // 2 + 4):
            b, next_id = _batch(rng, f"{work}/pool/wave{w}", next_id, STREAM,
                                day_offsets_fn=lambda n, d=w: np.full(n, d))
            b["day"] = str(BASE_DAY + w)
            man["stream"].append(b)
    elif workload == "query_mix":
        for r in range(SETUP_REPS):
            b, next_id = _batch(rng, f"{work}/pool/setup{r}", next_id, PROBE)
            man["setup"].append(b)
        for k in range(PROBE_POOL):
            b, next_id = _batch(rng, f"{work}/pool/probe{k}", next_id, PROBE)
            man["probe"].append(b)
        query_tables(rng, f"{work}/tables")
        man["tables"] = f"{work}/tables"
    else:
        raise ValueError(f"unknown workload {workload!r}")
    with open(f"{work}/manifest.json", "w") as f:
        json.dump(man, f)
    return man
