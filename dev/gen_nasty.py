#!/usr/bin/env python3
"""Degenerate-input fixtures (r15): documents the standard corpora never
exercise — empty/whitespace-only text, empty tokens from doubled spaces,
single chars, unicode (multi-byte upper/lower + symbols), and a 520-byte
blob token. Regenerate with:

    python3 dev/gen_nasty.py /tmp/fix_nasty /tmp/fix_emptytok

then drive the WHOLE battery via `graft.Verify <dir> <out> --tolerant`
+ selfcheck.py — the tolerant dump (r16) attempts every declared query
and lists in oracle_sql.json only the ones the fixture's documents-only
table set can serve, so the doc-only list
is discovered, never hand-maintained (the r15 hand list silently
missed the multimodal family). The r15 sweep ran the hand-listed
doc-only battery over fix_nasty and the tokenizer/paragraph rows over
fix_emptytok; bugs it caught and fixed:
ANSI element_at on empty WordPiece segs, q_unigram_encode empty-word
fallback parity, NormalizeText oracle unicode lower() drift, byte- vs
codepoint-levenshtein in q_fuzzy_match, and the unbounded deletion-
variant fan-out on blob tokens (the 24-byte word cap). The r16
tolerant sweep (113 runnable rows per fixture, ALL OK after fixes)
additionally caught: q_mm_meta/q_mm_byte_stats oracles using codepoint
ascii() where Spark reads UTF-8 bytes (now hex(encode(text))),
stat.bloomFilter NPE on an empty build side (q_triangles' empty
support-filtered edge table; ScaleOps.bloomPrune now prunes
everything, exactly), and q_unigram_train seeding phantom '' pieces
from empty words (Spark sequence(1,0) DESCENDS while DuckDB range(1,1)
is empty — the trainer now drops the empty word, matching the oracle
and the r15 encode-side semantics).
"""
import sys
import duckdb

NASTY = """
  (0, '', 'en', 'src0'),
  (1, ' ', 'en', 'src0'),
  (2, 'x', 'en', 'src0'),
  (3, 'ünïcode ☃ 日本語 text blob', 'zh', 'src1'),
  (4, repeat('verylongtoken', 40), 'en', 'src1'),
  (5, 'normal words here for a control document with several tokens', 'en', 'src0'),
  (6, 'normal words here for a control document with several tokens', 'en', 'src1'),
  (7, 'a b c d e f g h i j k l m n o p q r s t', 'de', 'src2')"""

EMPTYTOK = """
  (0, 'hello  world', 'en', 'src0'),
  (1, ' leading space', 'en', 'src0'),
  (2, 'trailing space ', 'en', 'src0'),
  (3, 'hello world plain text here', 'en', 'src0'),
  (4, 'a  b  c', 'en', 'src0')"""


def write(rows, outdir):
    duckdb.sql(
        f"""COPY (SELECT CAST(c0 AS BIGINT) AS doc_id, c1 AS text,
        c2 AS lang, c3 AS source, CAST(length(c1) AS BIGINT) AS n_chars
        FROM (VALUES {rows}) t(c0,c1,c2,c3))
        TO '{outdir}/documents.parquet' (FORMAT parquet)""")


# ---------------------------------------------------------------------------
# r17: FULL-table degenerate fixtures. The r15/r16 sweeps covered only the
# documents-only battery (113 rows) and found 3-5 real parity bugs each;
# the other ~128 rows (TPC-H, windows, profiling, streaming, multimodal,
# similarity) had never seen a degenerate corpus. Three fixtures, each a
# complete 10-table set with the shipped physical schemas:
#   fix_fullnasty — hand-crafted hostile values: unicode/empty strings,
#     negative/extreme numerics, non-2-decimal money, ties everywhere,
#     FK orphans, duplicate dimension names, single-partition timestamps
#     (all events in ONE hour, most at ONE instant), a NaN measure,
#     malformed JSON props, NULL text/lang documents, zero/dup/antipodal
#     embeddings.
#   fix_single — exactly one row per table (windows/stats over n=1).
#   fix_empty — zero rows per table (schema-only).
# Drive each through `graft.Verify <dir> <out> --tolerant` + dev/selfcheck.py.

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def _w(out, name, **cols):
    pq.write_table(pa.table(dict(cols)), f"{out}/{name}.parquet")


def _ts(*iso):
    return pa.array([np.datetime64(s, "us") if s is not None else None
                     for s in iso], pa.timestamp("us"))


def _emb(vals):
    return pa.array(vals, pa.list_(pa.float32()))


def full(out):
    _w(out, "region",
       r_regionkey=pa.array([0, 1, 2, 3, 4], pa.int32()),
       r_name=["", "ASIA", "ünïcode ☃", "MIDDLE EAST", "ASIA"])
    _w(out, "nation",
       n_nationkey=pa.array([0, 1, 2, 3, 4, 5], pa.int32()),
       n_name=["", "NATION_1", "日本", "NATION_3", "NATION_1", "GERMANY"],
       n_regionkey=pa.array([0, 2, 99, 4, 1, 3], pa.int32()))  # 99 = orphan
    _w(out, "customer",
       c_custkey=pa.array(range(12), pa.int64()),
       c_name=["", "Customer#1", "Customer#1", "客户#3", "Customer#4",
               "Customer#5", "Customer#6", "Customer#7", "Customer#8",
               "Customer#9", "Customer#10", "Customer#11"],
       c_nationkey=pa.array([0, 1, 2, 3, 4, 5, 99, 0, 1, 2, 3, 4], pa.int32()),
       c_acctbal=[-999.99, 0.0, 1e12, -1e12, 0.01, 0.01, 123.456789,
                  -0.005, 9999.99, 9999.99, 42.0, -42.0],
       c_mktsegment=["", "AUTOMOBILE", "AUTOMOBILE", "BUILDING", "MACHINERY",
                     "HOUSEHOLD", "FURNITURE", "BUILDING", "MACHINERY",
                     "AUTOMOBILE", "HOUSEHOLD", "FURNITURE"])
    _w(out, "supplier",
       s_suppkey=pa.array(range(5), pa.int64()),
       s_name=["", "Supplier#1", "供应商#2", "Supplier#3", "Supplier#1"],
       s_nationkey=pa.array([0, 99, 2, 3, 4], pa.int32()),
       s_acctbal=[-1e9, 0.0, 0.005, 8888.88, 8888.88])
    _w(out, "part",
       p_partkey=pa.array(range(8), pa.int64()),
       p_name=["", "cold widget", "cold widget", "ünïcode bolt", "large rod",
               "small gear", "hot plate", "old anvil"],
       p_brand=["Brand#0", "Brand#0", "Brand#1", "", "Brand#2", "Brand#3",
                "Brand#4", "Brand#5"],
       p_type=["", "ECONOMY", "ECONOMY", "PROMO", "LARGE", "STANDARD",
               "SMALL", "MEDIUM"],
       p_size=pa.array([0, -5, 1000000, 1, 1, 2, 3, 50], pa.int32()),
       p_retailprice=[0.0, -1.0, 1e9, 900.1, 900.1, 123.456, 999.9, 0.01])
    # orders: 20 on ONE day (single partition), 2 at the epoch, 2 far
    # future; orphan custkeys; an out-of-domain status; '' priority
    n_ord = 24
    odates = (["1997-07-01"] * 20 + ["1970-01-01", "1969-06-15"]
              + ["2099-12-31"] * 2)
    _w(out, "orders",
       o_orderkey=pa.array(range(n_ord), pa.int64()),
       o_custkey=pa.array([i % 12 if i % 7 else 999 for i in range(n_ord)],
                          pa.int64()),
       o_orderstatus=[["O", "P", "F", "X"][i % 4] for i in range(n_ord)],
       o_totalprice=[0.0, -1.0, 999999999.99] + [1000.5] * 20 + [1000.5],
       o_orderdate=_ts(*odates),
       o_orderpriority=[["1-URGENT", "", "5-LOW", "2-HIGH", "高-PRIORITÉ",
                         "3-MEDIUM"][i % 6] for i in range(n_ord)])
    # lineitem: 2 sequential lines per order 0..23 + 2 orphan lines
    lo = [k for k in range(n_ord) for _ in (1, 2)] + [999, 999]
    ln = [1, 2] * n_ord + [1, 2]
    n_li = len(lo)
    qty = [0.0, -5.0, 1e6, 1.0, 1.0] + [float(3 + i % 7) for i in range(n_li - 5)]
    _w(out, "lineitem",
       l_orderkey=pa.array(lo, pa.int64()),
       l_partkey=pa.array([i % 8 if i % 5 else 888 for i in range(n_li)],
                          pa.int64()),
       l_suppkey=pa.array([i % 5 if i % 6 else 777 for i in range(n_li)],
                          pa.int64()),
       l_linenumber=pa.array(ln, pa.int32()),
       l_quantity=qty,
       l_extendedprice=[0.0, -10.0, 1e9, 0.01, 0.01]
       + [float(900 + 10 * (i % 11)) + 0.123 for i in range(n_li - 5)],
       l_discount=[0.0, 1.0, -0.1, 0.5, 0.05] + [0.05] * (n_li - 5),
       l_tax=[0.0, 1.0, 0.08, 0.0, 0.0] + [0.04] * (n_li - 5),
       l_returnflag=[["A", "N", "R", ""][i % 4] for i in range(n_li)],
       l_linestatus=[["O", "F"][i % 2] for i in range(n_li)],
       l_shipdate=_ts(*(["1997-07-02"] * (n_li - 4)
                        + ["1970-01-01", "1969-06-15",
                           "2099-12-31", "2099-12-31"])))
    # events: ALL within one hour; 30 at one instant (total ties), the
    # rest clustered; one NaN measure; skewed users; malformed JSON props
    base = "2024-01-01T00:00:00"
    ets = ([base] * 30
           + [f"2024-01-01T00:0{i}:30" for i in range(1, 9)]
           + ["2024-01-01T00:59:59.999999"] * 2
           # pre-epoch (r17): negative epoch seconds — integer floor-vs-
           # truncate divergence bait for epoch-bucketing rows
           + ["1969-12-31T23:59:59", "1969-06-15T00:00:01.5"])
    n_ev = len(ets)
    props = ["not json", "", '{"k":', '{"k": null}', '{"k": {"x": 1}}',
             '{"k": "12"}', '{"K": 5}', '{"k": 1e400}'] + \
            ['{"k": %d}' % (i % 9) for i in range(n_ev - 8)]
    _w(out, "events",
       event_id=pa.array(range(n_ev), pa.int64()),
       ts=_ts(*ets),
       user_id=pa.array([0] * 35 + [1] * 5 + [2] * (n_ev - 40), pa.int64()),
       event_type=[["view", "click", "", "クリック", "purchase", "signup",
                    "error"][i % 7] for i in range(n_ev)],
       value=[float("nan"), -1e12, 0.0, 0.0, 999.0]
       + [float(i % 13) * 1.5 for i in range(n_ev - 5)],
       props=props)
    # documents: the NASTY rows + NULL text / NULL lang + an exact-dup
    # pair + a long repetitive doc
    texts = ["", " ", "x", "ünïcode ☃ 日本語 text blob",
             "verylongtoken" * 40,
             "normal words here for a control document with several tokens",
             "normal words here for a control document with several tokens",
             "a b c d e f g h i j k l m n o p q r s t",
             None,
             "null lang row with plain text",
             "spark row " * 400,
             "the quick brown fox jumps over the lazy dog"]
    langs = ["en", "en", "en", "zh", "en", "en", "en", "de",
             "en", None, "es", ""]
    srcs = ["src0", "src0", "src0", "src1", "src1", "src0", "src1",
            "src2", "src0", "src2", "срц", ""]
    _w(out, "documents",
       doc_id=pa.array(range(12), pa.int64()),
       text=texts, lang=langs, source=srcs,
       n_chars=pa.array([len(t) if t is not None else None for t in texts],
                        pa.int64()))
    # embeddings: dense ids, dim 64; zero vector, exact dup, antipodal,
    # huge/tiny magnitudes, deterministic tail, and (r17) NON-FINITE
    # vectors — one NaN component, one +Inf component, all-NaN — the
    # corrupt-embedding class real fp16 pipelines emit
    rng = np.random.default_rng(7)
    def unit(v):
        v = np.asarray(v, np.float64)
        n = np.linalg.norm(v)
        return (v / n if n else v).astype(np.float32).tolist()
    e0 = [0.0] * 64
    e1 = [1.0] + [0.0] * 63
    nanv = unit(rng.standard_normal(64)); nanv[3] = float("nan")
    infv = unit(rng.standard_normal(64)); infv[0] = float("inf")
    vecs = [e0, e1, list(e1), [-x for x in e1],
            [1e10] * 64, [1e-20] * 64] + \
           [unit(rng.standard_normal(64)) for _ in range(6)] + \
           [nanv, infv, [float("nan")] * 64]
    _w(out, "embeddings",
       vec_id=pa.array(range(15), pa.int64()),
       embedding=_emb(vecs),
       label=pa.array([0] * 9 + [1, 2, -1, 0, 0, 0], pa.int32()))


def single(out):
    _w(out, "region", r_regionkey=pa.array([0], pa.int32()), r_name=["ASIA"])
    _w(out, "nation", n_nationkey=pa.array([0], pa.int32()),
       n_name=["NATION_0"], n_regionkey=pa.array([0], pa.int32()))
    _w(out, "customer", c_custkey=pa.array([0], pa.int64()),
       c_name=["Customer#0"], c_nationkey=pa.array([0], pa.int32()),
       c_acctbal=[100.25], c_mktsegment=["AUTOMOBILE"])
    _w(out, "supplier", s_suppkey=pa.array([0], pa.int64()),
       s_name=["Supplier#0"], s_nationkey=pa.array([0], pa.int32()),
       s_acctbal=[5.5])
    _w(out, "part", p_partkey=pa.array([0], pa.int64()),
       p_name=["cold widget"], p_brand=["Brand#1"], p_type=["ECONOMY"],
       p_size=pa.array([10], pa.int32()), p_retailprice=[900.1])
    _w(out, "orders", o_orderkey=pa.array([0], pa.int64()),
       o_custkey=pa.array([0], pa.int64()), o_orderstatus=["O"],
       o_totalprice=[1000.5], o_orderdate=_ts("1997-07-01"),
       o_orderpriority=["1-URGENT"])
    _w(out, "lineitem", l_orderkey=pa.array([0], pa.int64()),
       l_partkey=pa.array([0], pa.int64()), l_suppkey=pa.array([0], pa.int64()),
       l_linenumber=pa.array([1], pa.int32()), l_quantity=[5.0],
       l_extendedprice=[950.25], l_discount=[0.05], l_tax=[0.04],
       l_returnflag=["N"], l_linestatus=["O"], l_shipdate=_ts("1997-07-02"))
    _w(out, "events", event_id=pa.array([0], pa.int64()),
       ts=_ts("2024-01-01T00:09:58.778549"), user_id=pa.array([0], pa.int64()),
       event_type=["view"], value=[42.5], props=['{"k": 7}'])
    _w(out, "documents", doc_id=pa.array([0], pa.int64()),
       text=["one plain control document with several normal words"],
       lang=["en"], source=["src0"],
       n_chars=pa.array([52], pa.int64()))
    _w(out, "embeddings", vec_id=pa.array([0], pa.int64()),
       embedding=_emb([[1.0] + [0.0] * 63]),
       label=pa.array([0], pa.int32()))


def empty(out):
    _w(out, "region", r_regionkey=pa.array([], pa.int32()),
       r_name=pa.array([], pa.string()))
    _w(out, "nation", n_nationkey=pa.array([], pa.int32()),
       n_name=pa.array([], pa.string()), n_regionkey=pa.array([], pa.int32()))
    _w(out, "customer", c_custkey=pa.array([], pa.int64()),
       c_name=pa.array([], pa.string()), c_nationkey=pa.array([], pa.int32()),
       c_acctbal=pa.array([], pa.float64()),
       c_mktsegment=pa.array([], pa.string()))
    _w(out, "supplier", s_suppkey=pa.array([], pa.int64()),
       s_name=pa.array([], pa.string()), s_nationkey=pa.array([], pa.int32()),
       s_acctbal=pa.array([], pa.float64()))
    _w(out, "part", p_partkey=pa.array([], pa.int64()),
       p_name=pa.array([], pa.string()), p_brand=pa.array([], pa.string()),
       p_type=pa.array([], pa.string()), p_size=pa.array([], pa.int32()),
       p_retailprice=pa.array([], pa.float64()))
    _w(out, "orders", o_orderkey=pa.array([], pa.int64()),
       o_custkey=pa.array([], pa.int64()),
       o_orderstatus=pa.array([], pa.string()),
       o_totalprice=pa.array([], pa.float64()),
       o_orderdate=pa.array([], pa.timestamp("us")),
       o_orderpriority=pa.array([], pa.string()))
    _w(out, "lineitem", l_orderkey=pa.array([], pa.int64()),
       l_partkey=pa.array([], pa.int64()), l_suppkey=pa.array([], pa.int64()),
       l_linenumber=pa.array([], pa.int32()),
       l_quantity=pa.array([], pa.float64()),
       l_extendedprice=pa.array([], pa.float64()),
       l_discount=pa.array([], pa.float64()), l_tax=pa.array([], pa.float64()),
       l_returnflag=pa.array([], pa.string()),
       l_linestatus=pa.array([], pa.string()),
       l_shipdate=pa.array([], pa.timestamp("us")))
    _w(out, "events", event_id=pa.array([], pa.int64()),
       ts=pa.array([], pa.timestamp("us")), user_id=pa.array([], pa.int64()),
       event_type=pa.array([], pa.string()), value=pa.array([], pa.float64()),
       props=pa.array([], pa.string()))
    _w(out, "documents", doc_id=pa.array([], pa.int64()),
       text=pa.array([], pa.string()), lang=pa.array([], pa.string()),
       source=pa.array([], pa.string()), n_chars=pa.array([], pa.int64()))
    _w(out, "embeddings", vec_id=pa.array([], pa.int64()),
       embedding=pa.array([], pa.list_(pa.float32())),
       label=pa.array([], pa.int32()))


if __name__ == "__main__":
    import os
    nasty = sys.argv[1] if len(sys.argv) > 1 else "/tmp/fix_nasty"
    etok = sys.argv[2] if len(sys.argv) > 2 else "/tmp/fix_emptytok"
    os.makedirs(nasty, exist_ok=True)
    os.makedirs(etok, exist_ok=True)
    write(NASTY, nasty)
    write(EMPTYTOK, etok)
    for gen, d in ((full, "/tmp/fix_fullnasty"), (single, "/tmp/fix_single"),
                   (empty, "/tmp/fix_empty")):
        os.makedirs(d, exist_ok=True)
        gen(d)
    print(f"wrote {nasty} {etok} /tmp/fix_fullnasty /tmp/fix_single /tmp/fix_empty")
