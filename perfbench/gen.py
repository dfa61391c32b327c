"""Seeded input generators for the benchmark workloads.

Every generator takes the seed as an argument and writes under the
directory it is given (the benchmark passes a per-run directory under
`.bench_build/` in the checkout). The same seed always gives the same
bytes. `PARAMS` holds every generator parameter; `run.py` copies it,
with the seed, into each result.

Tables follow the sf0.1 star schema of the engine's test data
(org hierarchy = region/nation, students = customer, assessments =
part, exam results = orders/lineitem), with the same column types and
value ranges, drawn afresh from the seed.

The traffic shares below are assumptions, not measurements. SURVEY.md
ties each request and row kind to the RDW service that produces it
(reporting and aggregate requests, latest-wins re-submissions in the
migrate runbook, tombstones in the bulk-delete runbook, rejected rows
in the exam processor's validation), but nothing in the repository
gives how often each occurs. The Zipf exponent, the request cycle, the
malformed / re-submit / tombstone shares and the maintenance rate are
therefore unverified; README.md lists which metrics depend on each.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# every share and exponent here is an unverified assumption (see above)
PARAMS = {
    "tables": {"customers": 15000, "orders": 150000, "lineitems": 600000,
               "parts": 20000, "suppliers": 1000, "nations": 25, "regions": 5},
    "report": {"zipf_s": 1.2, "ops_per_client": 2000},
    "ingest": {"batches": 60, "rows_per_batch": 2000, "students": 15000,
               "exams_per_student": 4, "malformed_share": 0.02,
               "resubmit_share": 0.25, "tombstone_share": 0.05},
    "vector": {"vectors": 2000, "dim": 64, "clusters": 32, "noise": 0.35,
               "queries_per_probe": 16, "probe_sets": 400,
               "maintenance_steps": 40, "append_size": 20, "delete_size": 10},
}

EPOCH_1995 = np.datetime64("1995-01-01", "us")
DAY_US = 86_400_000_000


def _rng(seed, stream):
    # one independent stream per input kind, so adding a generator
    # never shifts the bytes of another
    return np.random.default_rng([seed, stream])


def _write(path, cols):
    pq.write_table(pa.table(cols), path)


def _days(rng, n, lo_days, hi_days):
    return (EPOCH_1995 + rng.integers(lo_days, hi_days, n) * np.int64(DAY_US)
            .astype("timedelta64[us]"))


def star_tables(seed, out):
    """region, nation, customer, orders, lineitem."""
    p = PARAMS["tables"]
    rng = _rng(seed, 1)
    os.makedirs(out, exist_ok=True)
    _write(f"{out}/region.parquet", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    nk = np.arange(p["nations"], dtype=np.int32)
    _write(f"{out}/nation.parquet", {
        "n_nationkey": pa.array(nk), "n_name": [f"NATION_{i}" for i in nk],
        "n_regionkey": pa.array(nk % 5)})
    nc = p["customers"]
    ck = np.arange(nc, dtype=np.int64)
    _write(f"{out}/customer.parquet", {
        "c_custkey": pa.array(ck), "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": pa.array(rng.integers(0, p["nations"], nc).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, nc), 2)),
        "c_mktsegment": pa.array(rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], nc))})
    npart = p["parts"]
    no = p["orders"]
    _write(f"{out}/orders.parquet", {
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nc, no).astype(np.int64)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], no)),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, no), 2)),
        "o_orderdate": pa.array(_days(rng, no, 0, 2404)),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], no))})
    nl = p["lineitems"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    _write(f"{out}/lineitem.parquet", {
        "l_orderkey": pa.array(rng.integers(0, no, nl).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, npart, nl).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, p["suppliers"], nl).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, nl), 2)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], nl)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], nl)),
        "l_shipdate": pa.array(_days(rng, nl, 1, 2499))})


class _Zipf:
    """Zipf(s)-skewed draws over n items, item 0 the hottest. The hot
    items are the same for every seed, so every seed's window reuses
    the same share of work."""

    def __init__(self, rng, n, s):
        w = 1.0 / np.arange(1, n + 1) ** s
        self.p = w / w.sum()
        self.rng = rng

    def draw(self):
        return int(self.rng.choice(len(self.p), p=self.p))


# report request kinds -> registered query
REPORT_TEMPLATES = {
    "student_exams": "q17_running_total",
    "org_rollup": "q09_rollup",
    "student_top_results": "q19_topk_per_group",
    "pct_at_level": "q13_conditional_rates",
    "student_with_results": "q14_semi_join",
    "students_tested": "q12_distinct_count",
    "student_without_urgent": "q15_anti_join",
    "norms_lookup": "q31_norms_lookup",
    "school_year_results": "q03_star_join",
    "year_over_year": "q07_longitudinal",
}


def report_params(seed, clients, out):
    """One request list per client: kind, template, predicate SQL.

    Individual requests draw students (and a school's org and year)
    uniformly; aggregate requests draw orgs, performance levels and
    norms blocks Zipf-skewed, so hot aggregate requests repeat."""
    p = PARAMS["report"]
    t = PARAMS["tables"]
    rng = _rng(seed, 2)
    nations = [f"NATION_{i}" for i in range(t["nations"])]
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    z_region = _Zipf(rng, len(regions), p["zipf_s"])
    z_nation = _Zipf(rng, len(nations), p["zipf_s"])
    z_level = _Zipf(rng, 3, p["zipf_s"])
    z_block = _Zipf(rng, t["orders"] // 1000, p["zipf_s"])
    # one cycle: individual and aggregate kinds alternating, the
    # org rollup and year-over-year aggregates twice (an assumed mix)
    kinds_all = ["student_exams", "org_rollup", "student_top_results", "pct_at_level",
                 "student_with_results", "year_over_year", "students_tested",
                 "student_without_urgent", "org_rollup", "norms_lookup",
                 "school_year_results", "year_over_year"]
    with open(out, "w") as f:
        for c in range(clients):
            # every client runs the cycle from its own offset: each window
            # runs the same mix whatever the seed, heavy kinds spread
            # over the clients
            start = c * len(kinds_all) // clients
            kinds = [kinds_all[(start + j) % len(kinds_all)]
                     for j in range(p["ops_per_client"])]
            for i, kind in enumerate(kinds):
                if kind in ("student_exams", "student_top_results"):
                    pred = f"o_custkey = {int(rng.integers(0, t['customers']))}"
                elif kind in ("student_with_results", "student_without_urgent"):
                    pred = f"c_custkey = {int(rng.integers(0, t['customers']))}"
                elif kind == "school_year_results":
                    pred = (f"n_name = '{nations[int(rng.integers(0, len(nations)))]}'"
                            f" AND o_year = {int(rng.integers(1995, 2002))}")
                elif kind == "org_rollup":
                    pred = f"r_name = '{regions[z_region.draw()]}'"
                elif kind == "pct_at_level":
                    pred = f"l_returnflag = '{'ANR'[z_level.draw()]}'"
                elif kind == "norms_lookup":
                    lo = 1000 * z_block.draw()
                    pred = f"o_orderkey BETWEEN {lo} AND {lo + 99}"
                else:  # students_tested, year_over_year
                    pred = f"n_name = '{nations[z_nation.draw()]}'"
                f.write(f"{c}\t{i}\t{kind}\t{REPORT_TEMPLATES[kind]}\t{pred}\n")


def ingest_batches(seed, out):
    """Exam-result CSV batches for the migrate path, plus the replay.

    Columns: exam_id, student_id, asmt_id, school_year, score, updated_at,
    seq, deleted, batch. Each batch mixes first submissions,
    re-submissions of earlier exams with a newer `updated_at`, tombstones
    of earlier exams, and malformed rows (a non-numeric score or seq) at
    the shares in PARAMS. An independent latest-wins-plus-tombstone
    replay writes `expected.tsv`: per batch, the live mart rows after it,
    its malformed rows, its total rows and the bytes of its valid lines
    (the input side of write amplification)."""
    p = PARAMS["ingest"]
    rng = _rng(seed, 3)
    os.makedirs(f"{out}/batches", exist_ok=True)
    n_exams = p["students"] * p["exams_per_student"]
    exam_order = rng.permutation(n_exams)
    next_new = 0
    seq = 0
    latest = {}  # exam_id -> (seq, deleted)
    bad_share, tomb_share = p["malformed_share"], p["tombstone_share"]
    old_share = bad_share + tomb_share + p["resubmit_share"]
    expected = []
    header = "exam_id,student_id,asmt_id,school_year,score,updated_at,seq,deleted,batch\n"
    for b in range(p["batches"]):
        n = p["rows_per_batch"]
        kind = rng.random(n)
        pick = rng.random(n)
        scores = np.round(rng.uniform(2000, 3000, n), 1)
        lines = [header]
        bad = 0
        valid_bytes = 0
        for i in range(n):
            seq += 1
            k = kind[i]
            if next_new == 0 or k >= old_share:
                ex = int(exam_order[next_new % n_exams])
                next_new += 1
            else:
                ex = int(exam_order[int(pick[i] * min(next_new, n_exams))])
            ts = 1_600_000_000 + seq
            key = f"{ex},{ex // p['exams_per_student']},{1 + ex * 7919 % 40},{2015 + ex * 104729 % 8}"
            if k < bad_share:
                bad += 1
                if k < bad_share / 2:
                    lines.append(f"{key},n/a,{ts},{seq},false,{b}\n")
                else:
                    lines.append(f"{key},{scores[i]},{ts},oops,false,{b}\n")
            elif k < bad_share + tomb_share:
                lines.append(f"{key},,{ts},{seq},true,{b}\n")
                valid_bytes += len(lines[-1])
                latest[ex] = (seq, True)
            else:
                lines.append(f"{key},{scores[i]},{ts},{seq},false,{b}\n")
                valid_bytes += len(lines[-1])
                latest[ex] = (seq, False)
        with open(f"{out}/batches/batch_{b:05d}.csv", "w") as f:
            f.writelines(lines)
        live = sum(1 for _, d in latest.values() if not d)
        expected.append((b, live, bad, n, valid_bytes))
    with open(f"{out}/expected.tsv", "w") as f:
        f.writelines("\t".join(map(str, e)) + "\n" for e in expected)


def _embeddings(rng, n, centers, noise, first_id, path):
    """n vectors around the given cluster centers, ids from first_id."""
    clusters, dim = centers.shape
    cl = rng.integers(0, clusters, n)
    vecs = (centers[cl] + noise * rng.standard_normal((n, dim))).astype(np.float32)
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    _write(path, {
        "vec_id": pa.array(ids),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.reshape(-1), pa.float32()), dim).cast(pa.list_(pa.float32())),
        "label": pa.array((cl % 10).astype(np.int32))})


def vectors(seed, out):
    """Base embeddings, probe query sets and the maintenance stream.

    Corpus ids start at 10 (the index builders keep ids below 10 for
    their own query sets). Probe queries are fresh points near the same
    cluster centers. Each maintenance step appends vectors with ids above
    the base range and deletes vectors drawn from the ids live before it."""
    p = PARAMS["vector"]
    rng = _rng(seed, 5)
    os.makedirs(out, exist_ok=True)
    n, dim, qn = p["vectors"], p["dim"], p["queries_per_probe"]
    # the topic structure (cluster centers) is the same for every seed;
    # the seed draws the vectors, queries and maintenance around it
    centers = np.random.default_rng(0).standard_normal((p["clusters"], dim))
    _embeddings(rng, n, centers, p["noise"], 10, f"{out}/embeddings.parquet")

    def near(m):
        cl = rng.integers(0, p["clusters"], m)
        return (centers[cl] + p["noise"] * rng.standard_normal((m, dim))).astype(np.float32)

    def vec_col(v):
        return pa.FixedSizeListArray.from_arrays(
            pa.array(v.reshape(-1), pa.float32()), dim).cast(pa.list_(pa.float32()))

    sets = p["probe_sets"]
    q = near(sets * qn)
    _write(f"{out}/queries.parquet", {
        "q_set": pa.array(np.repeat(np.arange(sets, dtype=np.int32), qn)),
        "q_id": pa.array(np.arange(sets * qn, dtype=np.int64)),
        "q_vec": vec_col(q)})
    # maintenance stream: each step appends fresh vectors, then deletes
    # vectors live before it
    live = list(range(10, 10 + n))
    next_id = 10 + n
    app_ids, app_vecs = [], []
    with open(f"{out}/maintenance.tsv", "w") as f:
        for m in range(p["maintenance_steps"]):
            add = list(range(next_id, next_id + p["append_size"]))
            next_id += p["append_size"]
            app_ids.extend(add)
            app_vecs.append(near(len(add)))
            pick = rng.choice(len(live), p["delete_size"], replace=False)
            dead = sorted(live[i] for i in pick)
            gone = set(dead)
            live = [x for x in live if x not in gone] + add
            f.write(f"{m}\t{','.join(map(str, add))}\t{','.join(map(str, dead))}\n")
    av = np.concatenate(app_vecs)
    _write(f"{out}/appends.parquet", {
        "vec_id": pa.array(np.array(app_ids, dtype=np.int64)), "embedding": vec_col(av),
        "label": pa.array(np.zeros(len(app_ids), dtype=np.int32))})
