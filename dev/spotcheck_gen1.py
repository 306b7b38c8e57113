#!/usr/bin/env python3
"""r10 spot-check (VERDICT r9 next-#4): close the gen-sf1 verification
residual for q_triangles / q_pagerank3 WITHOUT DuckDB running the
corpus-scale naive oracles (which it provably cannot — 76 GB spill /
50 GB temp-cap kill, dev/bench_r9/verify_gen1.json).

The corpus→edge derivation is already gen-sf1-verified by DuckDB
hash-matches of q_pagerank_iter and q_degree_dist (same shared
support-≥3 edge rule). What remained unverified AT gen-sf1 was the
computation ON the edge frame — triangle counting (incl. the bloom
prefilter argued result-invisible) and the 3-step iteration. Since r10
the edge frame is MATERIALIZED as parquet (GraphQueries.undEdges),
vocabulary-pair-sized (~2.9M rows at gen-sf1) — small enough for DuckDB
to consume directly. So this script:
  1. runs q_triangles + q_pagerank3 via SPARK_GRAFT_ONLY + graft.Verify
     on the gen corpus
     (which also [re]builds the materialized edge table),
  2. locates the edge table via the same identity key the library uses
     (md5 of "abspath:size:mtime_ms", first 16 hex chars),
  3. recomputes in DuckDB (a) the FULL 3-step pagerank from the edge
     table and (b) exact triangle counts + clustering for SAMPLE_N
     hash-sampled vertices via the independent neighbor-set formulation
     (no degree ordering, no bloom — a genuinely different algorithm),
  4. compares row-for-row and writes dev/bench_r10/spotcheck_gen1.json.

Usage: dev/spotcheck_gen1.py [gendir] [outjson]
"""
import hashlib
import json
import os
import subprocess
import sys
import tempfile
import time

import duckdb

GEN = sys.argv[1] if len(sys.argv) > 1 else "/tmp/gen/heaps1"
OUTJ = sys.argv[2] if len(sys.argv) > 2 else "dev/bench_r10/spotcheck_gen1.json"
SAMPLE_N = 100
RUNDIR = tempfile.mkdtemp(prefix="spotcheck_")

ADDOPENS = " ".join(
    f"--add-opens java.base/{p}=ALL-UNNAMED"
    for p in ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
              "java.net", "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar"])


# r17: the library's default table store is per-process (deleted on JVM
# exit), so pin an explicit store dir for the subprocess and read the
# edge table back from there.
TABLE_DIR = os.path.join(RUNDIR, "corpus_tables")


def edge_table_path(gendir):
    src = os.path.abspath(os.path.join(gendir, "documents.parquet"))
    st = os.stat(src)
    ident = f"{src}:{st.st_size}:{int(st.st_mtime * 1000)}"
    key = hashlib.md5(ident.encode()).hexdigest()[:16]
    return os.path.join(TABLE_DIR, f"graft_edges_{key}")


t0 = time.time()
subprocess.run(
    f"SPARK_GRAFT_ONLY=q_triangles,q_pagerank3 "
    f"java {ADDOPENS} -Xmx24g -Dspark.ui.enabled=false "
    f"-Dspark.sql.session.timeZone=UTC "
    f"-Dspark.graft.corpusTableDir={TABLE_DIR} "
    f"-cp '/root/repo/target/scala-2.13/classes:/opt/spark/jars/*' "
    f"graft.Verify {GEN} {RUNDIR}",
    shell=True, check=True)
spark_sec = time.time() - t0

edges = edge_table_path(GEN)
assert os.path.exists(os.path.join(edges, "_SUCCESS")), \
    f"materialized edge table not found at {edges}"

con = duckdb.connect()
con.execute("SET temp_directory='/tmp/duckdb_spill'")
con.execute(f"CREATE VIEW und AS SELECT w1, w2 FROM read_parquet('{edges}/*.parquet')")
con.execute(f"CREATE VIEW tri_got AS SELECT * FROM read_parquet('{RUNDIR}/q_triangles/*.parquet')")
con.execute(f"CREATE VIEW pr3_got AS SELECT * FROM read_parquet('{RUNDIR}/q_pagerank3/*.parquet')")

report = {
    "corpus": GEN,
    "edge_table": edges,
    "edge_rows": con.execute("SELECT COUNT(*) FROM und").fetchone()[0],
    "spark_run_sec": round(spark_sec, 1),
}

# --- (a) full pagerank3 recheck from the materialized edge table -------
t0 = time.time()
steps = []
for i in (1, 2, 3):
    prev = "r0" if i == 1 else f"r{i-1}"
    steps.append(f"""c{i} AS (
      SELECT p.node AS src, p.r // deg.outdeg AS c
      FROM {prev} p JOIN deg ON p.node = deg.src),
    m{i} AS (
      SELECT e.dst AS node, SUM(c.c) AS m
      FROM e JOIN c{i} c ON e.src = c.src GROUP BY e.dst),
    r{i} AS (
      SELECT deg.src AS node,
        15000000000 // (n.n_nodes * 100) + (COALESCE(m{i}.m, 0) * 85) // 100 AS r
      FROM deg CROSS JOIN n LEFT JOIN m{i} ON m{i}.node = deg.src)""")
pr3_sql = f"""WITH e AS (SELECT w1 AS src, w2 AS dst FROM und
                UNION ALL SELECT w2 AS src, w1 AS dst FROM und),
    deg AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_nodes FROM deg),
    r0 AS (SELECT src AS node, 1000000000 // n_nodes AS r FROM deg, n),
    {','.join(steps)}
    SELECT node AS token, CAST(r AS BIGINT) AS pr3_e9
    FROM r3 ORDER BY pr3_e9 DESC, token"""
exp = con.execute(pr3_sql).fetchall()
got = con.execute("SELECT token, pr3_e9 FROM pr3_got ORDER BY pr3_e9 DESC, token").fetchall()
report["pagerank3_full"] = {
    "rows": len(got),
    "rows_match": len(exp) == len(got),
    "all_rows_equal": exp == got,
    "duckdb_sec": round(time.time() - t0, 1),
}

# --- (b) sampled-vertex exact triangle recheck ------------------------
# Independent formulation: tri(v) = #edges(a,b) with a,b ∈ N(v).
# No degree ordering, no bloom, no wedge stream — if the query's
# bloom prefilter dropped a real triangle or double-counted one, the
# per-vertex counts here would disagree.
t0 = time.time()
con.execute(f"""CREATE TABLE sample AS
  SELECT w FROM (SELECT w1 AS w FROM und UNION SELECT w2 FROM und)
  ORDER BY md5(w) LIMIT {SAMPLE_N}""")
con.execute("""CREATE TABLE nbr AS
  SELECT s.w AS v, CASE WHEN e.w1 = s.w THEN e.w2 ELSE e.w1 END AS u
  FROM und e JOIN sample s ON e.w1 = s.w OR e.w2 = s.w""")
exp_tri = con.execute("""
  WITH t AS (
    SELECT a.v, COUNT(*) AS n_tri
    FROM und e
    JOIN nbr a ON a.u = e.w1
    JOIN nbr b ON b.v = a.v AND b.u = e.w2
    GROUP BY a.v),
  d AS (SELECT v, COUNT(*) AS deg FROM nbr GROUP BY v)
  SELECT d.v AS token, d.deg,
    COALESCE(t.n_tri, 0) AS n_tri,
    CAST(CASE WHEN d.deg >= 2
      THEN (COALESCE(t.n_tri, 0) * 20000) // (d.deg * (d.deg - 1))
      ELSE 0 END AS BIGINT) AS clust_e4
  FROM d LEFT JOIN t ON t.v = d.v
  ORDER BY token""").fetchall()
got_tri = con.execute("""
  SELECT token, deg, n_tri, clust_e4 FROM tri_got
  WHERE token IN (SELECT w FROM sample) ORDER BY token""").fetchall()
mismatches = [
    {"expected": e, "got": g} for e, g in zip(exp_tri, got_tri) if e != g
]
report["triangles_sampled"] = {
    "sample_n": len(exp_tri),
    "rows_match": len(exp_tri) == len(got_tri),
    "all_rows_equal": exp_tri == got_tri,
    "mismatches": mismatches[:5],
    "sampled_triangle_mass": sum(r[2] for r in exp_tri),
    "duckdb_sec": round(time.time() - t0, 1),
}

ok = (report["pagerank3_full"]["all_rows_equal"]
      and report["pagerank3_full"]["rows_match"]
      and report["triangles_sampled"]["all_rows_equal"]
      and report["triangles_sampled"]["rows_match"])
report["ok"] = ok
os.makedirs(os.path.dirname(OUTJ), exist_ok=True)
with open(OUTJ, "w") as f:
    json.dump(report, f, indent=1, default=str)
print(json.dumps(report, indent=1, default=str))
sys.exit(0 if ok else 1)
