"""Correctness gate: replays what the engine returned against
independent answers, after the timed window.

- report_mix: each sampled request against `SparkEntry.oracleSql` of
  its template, with the same predicate on top, in DuckDB.
- ingest_migrate: the final mart against a latest-wins-plus-tombstone
  replay of the processed batches in DuckDB (the per-batch row counts
  and rejected counts are checked inside the run against the
  generator's own replay).
- vector_search: every probe against brute-force cosine top-k over the
  vectors live at the maintenance version the probe saw; exact probes
  must match, approximate probes score their recall@k.

Each check returns (checked, wrong, live_bytes, disk_bytes): live_bytes
is the Arrow in-memory size of the workload's live rows, which the
space_amp metric divides the on-disk bytes by (for report_mix, which
keeps nothing, both are the generated input tables'). vector_search also
leaves its recall per probe kind in the window.
"""
import datetime
import decimal
import glob
import math
import os

import duckdb
import numpy as np
import pyarrow.parquet as pq


def _con(work):
    con = duckdb.connect()
    con.execute("SET threads=4")
    os.makedirs(os.path.join(work, "duckdb-tmp"), exist_ok=True)
    con.execute(f"SET temp_directory='{os.path.join(work, 'duckdb-tmp')}'")
    return con


def _norm(v):
    if isinstance(v, datetime.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=datetime.timezone.utc)
        d = v - datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
        return (d.days * 86400 + d.seconds) * 1_000_000 + d.microseconds
    if isinstance(v, datetime.date):
        return (v - datetime.date(1970, 1, 1)).days
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, bool):
        return v
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _same(a, b):
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b or abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
    return a == b


def _rows_equal(cols, got, exp_cols, exp):
    if sorted(c.lower() for c in cols) != sorted(c.lower() for c in exp_cols):
        return False
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    eorder = sorted(range(len(exp_cols)), key=lambda i: exp_cols[i].lower())
    g = sorted((tuple(_norm(r[i]) for i in order) for r in got), key=repr)
    e = sorted((tuple(_norm(r[i]) for i in eorder) for r in exp), key=repr)
    return len(g) == len(e) and all(
        all(_same(x, y) for x, y in zip(a, b)) for a, b in zip(g, e))


def report(data, work, window):
    con = _con(work)
    tables = ["region", "nation", "customer", "orders", "lineitem"]
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    oracle = window["extra"]["oracle"]
    wrong = 0
    for c in window["checks"]:
        sql = f"SELECT * FROM ({oracle[c['template']]}) AS t WHERE {c['pred']}"
        res = con.execute(sql)
        exp_cols = [d[0] for d in res.description]
        exp = res.fetchall()
        if not _rows_equal(c["cols"], c["rows"], exp_cols, exp):
            wrong += 1
            window.setdefault("wrong_detail", []).append(
                {"template": c["template"], "pred": c["pred"], "got": c["rows"][:5],
                 "expected": [[str(x) for x in r] for r in exp[:5]]})
    n = len(window["checks"])
    live = sum(pq.read_table(f"{data}/{t}.parquet").nbytes for t in tables)
    disk = sum(os.path.getsize(f"{data}/{t}.parquet") for t in tables)
    return n, wrong, live, disk


def ingest(data, work, window):
    con = _con(work)
    done = int(window["extra"].get("batches_done", 0))
    files = sorted(glob.glob(f"{data}/batches/*.csv"))[:done]
    if not files:
        return 0, 0, 1, 1
    listing = ", ".join(f"'{f}'" for f in files)
    # valid rows: every numeric field parses (an empty score is a
    # tombstone's); latest by (updated_at, seq) per exam; tombstones out
    con.execute(f"""CREATE TABLE live AS
      WITH raw AS (SELECT * FROM read_csv([{listing}], header = true, all_varchar = true)),
      valid AS (
        SELECT CAST(exam_id AS BIGINT) exam_id, CAST(student_id AS BIGINT) student_id,
          CAST(asmt_id AS INTEGER) asmt_id, CAST(school_year AS INTEGER) school_year,
          TRY_CAST(score AS DOUBLE) score, CAST(updated_at AS BIGINT) updated_at,
          CAST(seq AS BIGINT) seq, deleted = 'true' AS deleted, CAST(batch AS INTEGER) batch
        FROM raw
        WHERE TRY_CAST(seq AS BIGINT) IS NOT NULL
          AND (score = '' OR score IS NULL OR TRY_CAST(score AS DOUBLE) IS NOT NULL)),
      ranked AS (SELECT *, row_number() OVER (PARTITION BY exam_id
                   ORDER BY updated_at DESC, seq DESC) rn FROM valid)
      SELECT * EXCLUDE (rn) FROM ranked WHERE rn = 1 AND NOT deleted""")
    exp = set(con.execute("SELECT exam_id, seq FROM live").fetchall())
    out = window["extra"]["final_mart_csv"]
    parts = glob.glob(f"{out}/*.csv")
    got = set()
    for p in parts:
        with open(p) as f:
            for line in f:
                if line.strip():
                    a, b = line.strip().split(",")
                    got.add((int(a), int(b)))
    live = con.execute("SELECT * FROM live").arrow().nbytes
    ok = got == exp
    return 1, 0 if ok else 1, live, int(window["extra"]["mart_bytes"])


def _unit(v):
    v = np.asarray(v, dtype=np.float64)
    return v / np.linalg.norm(v, axis=-1, keepdims=True)


def vector(data, work, window, k=10):
    base = pq.read_table(f"{data}/embeddings.parquet")
    app = pq.read_table(f"{data}/appends.parquet")
    ids = np.concatenate([base["vec_id"].to_numpy(), app["vec_id"].to_numpy()])
    vecs = np.concatenate([np.stack(base["embedding"].to_numpy(zero_copy_only=False)),
                           np.stack(app["embedding"].to_numpy(zero_copy_only=False))])
    units = _unit(vecs)
    row_of = {int(v): i for i, v in enumerate(ids)}
    maint = []
    with open(f"{data}/maintenance.tsv") as f:
        for line in f:
            _, add, dead = line.rstrip("\n").split("\t")
            maint.append(([int(x) for x in add.split(",")], [int(x) for x in dead.split(",")]))
    n_base = base.num_rows

    def live_rows(version):
        alive = np.zeros(len(ids), dtype=bool)
        alive[:n_base] = True
        for add, dead in maint[:version]:
            alive[[row_of[x] for x in add]] = True
            alive[[row_of[x] for x in dead]] = False
        return np.nonzero(alive)[0]

    qt = pq.read_table(f"{data}/queries.parquet")
    qvec = _unit(np.stack(qt["q_vec"].to_numpy(zero_copy_only=False)))
    qrow = {int(q): i for i, q in enumerate(qt["q_id"].to_numpy())}
    cache = {}
    checked = wrong = 0
    for c in window["checks"]:
        v = c["version"]
        if v not in cache:
            cache[v] = live_rows(v)
        rows = cache[v]
        bad = False
        for res in c["results"]:
            cos = units[rows] @ qvec[qrow[res["q"]]]
            order = np.lexsort((ids[rows], -cos))[:k]
            truth = [int(x) for x in ids[rows][order]]
            got = [int(x) for x in res["ids"]]
            hit = len(set(got) & set(truth)) / k
            if c["kind"] == "topk_exact":
                kth = cos[order[-1]]
                pos = {int(x): i for i, x in enumerate(ids[rows])}
                # equal cosines at the k-th place may tie-break differently
                same = len(got) == k and all(
                    g == t or (g in pos and abs(cos[pos[g]] - kth) < 1e-12)
                    for g, t in zip(got, truth))
                bad = bad or not same
                hit = 1.0 if same else hit
            by_kind = window.setdefault("recall_by_kind", {})
            r, n = by_kind.get(c["kind"], (0.0, 0))
            by_kind[c["kind"]] = (r + hit, n + 1)
        checked += 1
        wrong += bad
    final = live_rows(int(window["extra"].get("maintenance_done", 0)))
    live = int(len(final) * (8 + 4 * vecs.shape[1] + 4 + 4))
    return checked, wrong, live, int(window["extra"]["index_bytes"])


GATES = {"report_mix": report, "ingest_migrate": ingest, "vector_search": vector}
