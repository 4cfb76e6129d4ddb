"""Seeded input generators for the three benchmark workloads.

Each generator writes its inputs into a fresh directory and returns a
manifest of the sizes and the counts it injected (duplicates, missing
values, bad dates, near duplicates, ...), which the output checks in
``workloads.py`` compare against. The same (workload, seed, size) always
produces the same bytes; ``ensure_inputs`` caches them under
``.perfbench/inputs`` so generation never lands in a timed region.

    python3 perfbench/gen.py --workload payroll_etl --seed 1 --size full

generates (once) in a process of its own and prints the input directory,
so the benchmark process never carries the generator's memory.
"""

from __future__ import annotations

import argparse
import csv
import hashlib
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {
    "payroll_etl": {
        "full": {"pua_keys": 12000, "cpa_keys": 4000, "dims": 400},
        "tiny": {"pua_keys": 300, "cpa_keys": 120, "dims": 40},
    },
    # one embedding per document for the similarity-search phase
    "corpus_curation": {
        "full": {"docs": 1500, "vocab": 4000, "dim": 32, "clusters": 8,
                 "queries": 400, "add_batches": 32, "add_size": 8},
        "tiny": {"docs": 300, "vocab": 800, "dim": 16, "clusters": 4,
                 "queries": 40, "add_batches": 8, "add_size": 4},
    },
    "event_stream": {
        # live files: enough for an open loop of 60 s at the fixed file
        # interval below
        "full": {"files": 430, "events_per_file": 40, "backlog_files": 8,
                 "backlog_events_per_file": 3000, "drain_files_per_batch": 4, "users": 500},
        "tiny": {"files": 20, "events_per_file": 10, "backlog_files": 4,
                 "backlog_events_per_file": 200, "drain_files_per_batch": 2, "users": 50},
    },
}

# FIXTURES.md §1: the raw PUA columns, with the reason-code header
# picked per seed from the variants the pipeline must tolerate.
PUA_HEADER = [
    "UIN", "Year", "Pay ID", "Pay #", "Seq #", "POSN", "SUFF", "TS COA",
    "TS ORG", "DEPT Code", "Department Name", "ECLS", "ECLS DESC", "TE M",
    "College Code", "College Name", "Earn Code", "DESCRIPTION",
    "ADJ Reason Code", "ADJ Reason DESC", "Calc Date",
]
REASON_CODE_VARIANTS = ["ADJ Reason Code", "ADj Reason Code", "Adj Reason Code"]
MISSING_FORMS = ["", " ", "nan", "NaN"]
BAD_DATES = ["N/A", "2024-13-45", "yesterday", "31/31/2024"]
FISCAL_YEAR_END = 2025
# event_stream's open loop writes one live file every FILE_INTERVAL_S
# seconds (40 events per full-size file: about 290 events/s)
FILE_INTERVAL_S = 0.14
# corpus_curation's serving script: single searches between its writes
SEARCH_RUN = 1
CPA_ACTIONS_DROPPED = ["1 - Route", "2 - Return", "4 - Cancel"]
ECLASSES = ["AA", "BA", "BC", "HA", "SA", "GA"]
PAY_IDS = ["BW", "MN"]
TE_CODES = ["E", "T", "X", "W"]
COLLEGES = [("KV", "Engineering"), ("KP", "Liberal Arts"), ("NB", "Business"),
            ("LP", "Law"), ("KL", "Media")]
EN_STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "that"]
ES_STOPWORDS = ["el", "la", "de", "y", "que", "en", "un", "es"]


def ensure_inputs(root: str, workload: str, seed: int, size: str) -> tuple[str, dict]:
    """Generate (once) and return (input dir, manifest). The cache key
    includes this file's digest, so a changed generator never reuses
    inputs an older one wrote."""
    with open(__file__, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    out = os.path.join(root, ".perfbench", "inputs", f"{workload}-s{seed}-{size}-{version}")
    manifest_path = os.path.join(out, "manifest.json")
    if not os.path.exists(manifest_path):
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        manifest = GENERATORS[workload](tmp, seed, SIZES[workload][size])
        manifest.update(workload=workload, seed=seed, size=size)
        with open(os.path.join(tmp, "manifest.json"), "w") as f:
            json.dump(manifest, f, indent=1, sort_keys=True)
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)
    with open(manifest_path) as f:
        return out, json.load(f)


def _rng(seed: int, workload: str) -> np.random.Generator:
    return np.random.default_rng([seed, sum(map(ord, workload))])


def _write_csv(path: str, header: list[str], rows: list[list[str]]) -> None:
    with open(path, "w", newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(header)
        w.writerows(rows)


def _pick(rng: np.random.Generator, seq, n: int) -> list:
    return [seq[i] for i in rng.integers(0, len(seq), n)]


# ---------------------------------------------------------------- payroll

def gen_payroll(out: str, seed: int, size: dict) -> dict:
    """Messy PUA + CPA (BW/MN) CSVs and the four lookup CSVs."""
    rng = _rng(seed, "payroll_etl")
    n, n_dims = size["pua_keys"], size["dims"]
    coas = [str(c) for c in range(1, 10)]
    orgs = [f"{o:06d}" for o in rng.choice(1_000_000, n_dims, replace=False)]
    depts = [f"{d:03d}" for d in rng.choice(1000, min(n_dims, 900), replace=False)]

    # -- lookups: duplicate keys and unmatched codes on purpose --
    ts_org = [[f"{coas[i % 9]}-{orgs[i]}", f"Org {orgs[i]}"] for i in range(n_dims)]
    ts_org += ts_org[: n_dims // 20]
    _write_csv(f"{out}/ts_org.csv", ["TS-Org Code", "TS-Org Title"], ts_org)
    ts_dept = [[f"{coas[i % 9]}-{d}", f"Dept {d}"] for i, d in enumerate(depts)]
    _write_csv(f"{out}/ts_dept.csv", ["TS-Org Dept Code", "TS-Org Dept Title"], ts_dept)
    overtime = [[e, p, "Y" if (i + j) % 2 else "N", f"{e} long desc"]
                for i, e in enumerate(ECLASSES) for j, p in enumerate(PAY_IDS)]
    _write_csv(f"{out}/overtime_eclass.csv",
               ["Job Eclass", "Pay ID", "Overtime FLSA", "Job Detail E-Class Long Desc"],
               overtime)

    # -- PUA facts: unique business keys by construction (fixed-width
    # parts, so the concatenated Pay Event cannot collide) --
    uin = 100_000_000 + np.arange(n) // 4
    seq = np.arange(n) % 4
    year = rng.integers(2023, 2026, n)
    pay_nbr = rng.integers(1, 27, n)
    posn = rng.integers(100_000, 999_999, n)
    suff = rng.integers(0, 10, n)
    org_i = rng.integers(0, n_dims, n)
    dept_i = rng.integers(0, len(depts), n)
    dot0 = rng.random((n, 3)) < 0.15  # POSN, SUFF, DEPT Code as "x.0"
    miss_code = rng.random(n) < 0.1
    miss_desc = rng.random(n) < 0.1
    bad_date = rng.random(n) < 0.05
    reason_header = REASON_CODE_VARIANTS[seed % len(REASON_CODE_VARIANTS)]
    rows = []
    for i in range(n):
        coa = coas[org_i[i] % 9]
        college = COLLEGES[i % len(COLLEGES)]
        rows.append([
            str(uin[i]), str(year[i]), PAY_IDS[i % 2], f"{pay_nbr[i]:02d}", str(seq[i]),
            f"{posn[i]}.0" if dot0[i, 0] else f" {posn[i]} ",
            f"{suff[i]}.0" if dot0[i, 1] else str(suff[i]),
            coa, orgs[org_i[i]],
            f"{depts[dept_i[i]]}.0" if dot0[i, 2] else depts[dept_i[i]],
            f"Department {dept_i[i]}",
            ECLASSES[i % len(ECLASSES)], f"E-class {ECLASSES[i % len(ECLASSES)]}",
            TE_CODES[i % len(TE_CODES)], college[0], college[1],
            f"E{i % 50:02d}", f"Earn code {i % 50}",
            MISSING_FORMS[i % 4] if miss_code[i] else f"R{i % 9}",
            MISSING_FORMS[(i + 1) % 4] if miss_desc[i] else f"Reason {i % 9}",
            BAD_DATES[i % 4] if bad_date[i] else f"{year[i]}-{1 + i % 12:02d}-{1 + i % 28:02d}",
        ])
    dup_idx = rng.choice(n, n // 12, replace=False)
    pua_rows = rows + [rows[i] for i in dup_idx]
    order = rng.permutation(len(pua_rows))
    header = [reason_header if h == "ADJ Reason Code" else h for h in PUA_HEADER]
    _write_csv(f"{out}/pua.csv", header, [pua_rows[i] for i in order])

    # -- CPA BW/MN: 34-column contract --
    from uofi_payroll_etl_main_demo_spark.pipelines.cpa import CPA_EXPECTED_COLUMNS

    m = size["cpa_keys"]
    kept_total, cpa_files, te_rows = 0, {}, []
    for part, prefix in (("bw", 1), ("mn", 2)):
        base, dropped = [], []
        for j in range(m):
            tid = prefix * 10_000_000 + j
            keep_kind = rng.random()
            coa = coas[j % 9]
            org = orgs[int(rng.integers(0, n_dims))]
            uin_c, job = 200_000_000 + prefix * 1_000_000 + j, f"J{j:06d}"
            if keep_kind < 0.85:
                created, action = f"2024-{7 + j % 6:02d}-{1 + j % 28:02d} 10:00:00", "3 - Apply"
            elif keep_kind < 0.93:
                created, action = f"2024-{7 + j % 6:02d}-{1 + j % 28:02d} 10:00:00", CPA_ACTIONS_DROPPED[j % 3]
            else:  # before the window, but after the freshness floor
                created, action = f"2024-0{1 + j % 6}-{1 + j % 28:02d} 09:00:00", "3 - Apply"
            college = COLLEGES[j % len(COLLEGES)]
            rec = {
                "UIN": str(uin_c), "PAY_YEAR": "2025", "PAY_ID": PAY_IDS[j % 2],
                "PAY_NBR": f"{1 + j % 26}", "PAY_SEQ": "0", "TRAN_ID": str(tid),
                "TRAN_COMPNT": "1", "ADJ_REASON": f"R{j % 9}",
                "TRAN_CREATE_DT": created, "TRAN_CLOSED_DT": created.replace("10:00", "16:00"),
                "JOB": job, "JOB_TITLE": f"Title {j % 37}", "JOB_TS_COAS": coa,
                "JOB_TS_ORGN": org, "JOB_ECLS": ECLASSES[j % len(ECLASSES)],
                "COLLEGE": f"{college[0]}-{college[1]}" if j % 17 else college[0],
                "OWNING_UIN": str(uin_c + 7), "LAST_NAME": f"Last{j % 101}",
                "FIRST_NAME": f"First{j % 89}", "UI_ENTERPRISE_ID": f"u{j}",
                "EMAIL_ADDR": f"u{j}@example.edu", "HRLY_RATE": f"{15 + j % 30}.0",
                "RT_LEAVE_DT": "", "RT_ENTER_DT": "", "RT_CREATE_DT": "",
                "LVL": str(j % 3), "ROLE": "APPROVER", "ACTION": action,
                "ROUTED_BY_UIN": str(uin_c + 11), "RETURNED_FLAG": "N",
                "TRAN_ROUTE_DT": "", "ELAPSED_WORK_TIME": f"{j % 40}.0",
                "ROUTE_STOP_TIME": "", "ELAPSED_TRAN_TIME": f"{j % 90}",
            }
            row = [rec[c] for c in CPA_EXPECTED_COLUMNS]
            (base if keep_kind < 0.85 else dropped).append(row)
            te_rows.append([TE_CODES[j % len(TE_CODES)], ["Web", "Web", "Paper"][j % 3],
                            "Hourly", f"{uin_c}-{job}"])
        kept_total += len(base)
        dups = [base[i] for i in rng.choice(len(base), len(base) // 10, replace=False)]
        allrows = base + dropped + dups
        order = rng.permutation(len(allrows))
        _write_csv(f"{out}/cpa_cert_{part}.csv", CPA_EXPECTED_COLUMNS, [allrows[i] for i in order])
        cpa_files[part] = len(allrows)
    _write_csv(f"{out}/te_m.csv", ["TE M", "Time Entry Method", "Time Entry Type", "UIN Job"], te_rows)

    return {
        "pua_rows": len(pua_rows),
        "pua_distinct_keys": n,
        "pua_duplicate_rows": len(dup_idx),
        "pua_reason_header": reason_header,
        "pua_dot0_codes": int(dot0.sum()),
        "pua_missing_reason_code": int(miss_code.sum()),
        "pua_missing_reason_desc": int(miss_desc.sum()),
        "pua_bad_dates": int(bad_date.sum()),
        "cpa_rows": cpa_files["bw"] + cpa_files["mn"],
        "cpa_distinct_keys": kept_total,
        "fiscal_year_end": FISCAL_YEAR_END,
    }


# ---------------------------------------------------------------- corpus

def _vocab(rng: np.random.Generator, n: int) -> list[str]:
    syll = ["ka", "lo", "mi", "ne", "ru", "ta", "vo", "shi", "qu", "ber",
            "dan", "el", "fo", "gri", "hal", "jo", "pan", "sel", "tor", "win"]
    words = set()
    while len(words) < n:
        k = int(rng.integers(2, 5))
        words.add("".join(syll[i] for i in rng.integers(0, len(syll), k)))
    return sorted(words)


def gen_corpus(out: str, seed: int, size: dict) -> dict:
    """Documents with exact and near duplicates injected at known rates,
    plus junk and non-English documents the quality filter drops."""
    rng = _rng(seed, "corpus_curation")
    vocab = _vocab(rng, size["vocab"])
    zipf = 1.0 / np.arange(1, len(vocab) + 1) ** 1.05
    zipf /= zipf.sum()
    n = size["docs"]
    texts, kind, origin = [], [], []

    def english(k: int) -> list[str]:
        toks = [vocab[i] for i in rng.choice(len(vocab), k, p=zipf)]
        for pos in rng.choice(k, k // 6, replace=False):
            toks[pos] = EN_STOPWORDS[int(rng.integers(0, 8))]
        return toks

    for _ in range(n):
        texts.append(" ".join(english(int(rng.integers(60, 140)))))
        kind.append("orig")
        origin.append(-1)
    n_junk, n_es = n // 25, n // 25
    for _ in range(n_junk):
        texts.append(" ".join(["!!", "##", "...", "$$"][int(i)] for i in rng.integers(0, 4, 6)))
        kind.append("junk")
        origin.append(-1)
    for _ in range(n_es):
        k = int(rng.integers(60, 140))
        toks = [vocab[i] for i in rng.integers(0, len(vocab), k)]
        for pos in rng.choice(k, k // 4, replace=False):
            toks[pos] = ES_STOPWORDS[int(rng.integers(0, 8))]
        texts.append(" ".join(toks))
        kind.append("es")
        origin.append(-1)
    n_exact, n_near = n // 20, n // 20
    srcs = rng.choice(n, n_exact + n_near, replace=False)
    for s in srcs[:n_exact]:
        texts.append(texts[s])
        kind.append("exact")
        origin.append(int(s))
    for s in srcs[n_exact:]:
        toks = texts[s].split(" ")
        for pos in rng.choice(len(toks), max(1, len(toks) // 40), replace=False):
            toks[pos] = vocab[int(rng.integers(0, len(vocab)))]
        texts.append(" ".join(toks))
        kind.append("near")
        origin.append(int(s))
    # ids: originals keep the lowest ids so every duplicate cluster's
    # min-id survivor is the original; shuffled row order in the file
    ids = np.arange(len(texts), dtype=np.int64) + 1
    order = rng.permutation(len(texts))
    table = pa.table({
        "doc_id": pa.array(ids[order]),
        "text": pa.array([texts[i] for i in order]),
        "lang": pa.array(["en" if kind[i] != "es" else "es" for i in order]),
        "source": pa.array([f"src{i % 7}" for i in order]),
    })
    pq.write_table(table, f"{out}/documents.parquet", row_group_size=2000)
    kinds = np.array(kind)
    ann = gen_ann(out, rng, ids, size)
    return {
        **ann,
        "docs": len(texts),
        "orig_ids": (ids[kinds == "orig"]).tolist(),
        "exact_dup_ids": (ids[kinds == "exact"]).tolist(),
        "near_dup_pairs": [[origin[i] + 1, int(ids[i])] for i in np.flatnonzero(kinds == "near")],
        "junk_docs": n_junk,
        "non_english_docs": n_es,
        "quality_floor": 0.5,
        "near_dup_recall_floor": 0.9,
    }


# ---------------------------------------------------------------- ann

def _unit_mixture(rng, centers, n, spread):
    lab = rng.integers(0, len(centers), n)
    x = centers[lab] + spread * rng.standard_normal((n, centers.shape[1]))
    return x / np.linalg.norm(x, axis=1, keepdims=True)


def gen_ann(out: str, rng: np.random.Generator, ids: np.ndarray, size: dict) -> dict:
    """Gaussian-mixture unit vectors, one per document id, query vectors,
    add batches and a seeded op script (search / batch search / add /
    delete) for the similarity-search phase."""
    d, n = size["dim"], len(ids)
    centers = rng.standard_normal((size["clusters"], d))
    base = _unit_mixture(rng, centers, n, 0.35)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.sort(ids)),
        "embedding": pa.array(list(base), type=pa.list_(pa.float64())),
    }), f"{out}/embeddings.parquet")
    queries = _unit_mixture(rng, centers, size["queries"], 0.35)
    adds = _unit_mixture(rng, centers, size["add_batches"] * size["add_size"], 0.35)
    np.save(f"{out}/queries.npy", queries)
    np.save(f"{out}/adds.npy", adds)
    # One fixed script, the same in every run: runs of single searches
    # with one batch search, one add and one delete between them (each
    # write followed by the full-probe check search of the written store).
    run = ["search"] * SEARCH_RUN
    ops = run + ["batch"] + run + ["add"] + run + ["delete"] + run
    return {
        "vectors": n,
        "next_vec_id": int(ids.max()) + 1,
        "dim": d,
        "clusters": size["clusters"],
        "queries": size["queries"],
        "add_size": size["add_size"],
        "add_batches": size["add_batches"],
        "kmeans_iters": 2,
        "delete_size": 4,
        "batch_queries": 8,
        "warmup_searches": 2,
        "ops": ops,
        "op_seed": int(rng.integers(0, 2**31)),
    }


# ---------------------------------------------------------------- events

def _events_table(ids, ts_us, users, rng):
    n = len(ids)
    return pa.table({
        "event_id": pa.array(ids, type=pa.int64()),
        "ts": pa.array(ts_us, type=pa.timestamp("us")),
        "user_id": pa.array(users, type=pa.int64()),
        "event_type": pa.array(_pick(rng, ["view", "click", "cart", "buy"], n)),
        "value": pa.array(np.round(rng.random(n) * 100, 2)),
        "props": pa.array([f'{{"k":{int(u) % 13}}}' for u in users]),
    })


def gen_events(out: str, seed: int, size: dict) -> dict:
    """Open-loop event files (with duplicates re-sent within the
    watermark), a drain backlog, and the user dimension."""
    rng = _rng(seed, "event_stream")
    t0 = 1_704_067_200_000_000  # 2024-01-01 UTC, microseconds
    os.makedirs(f"{out}/live")
    os.makedirs(f"{out}/backlog")
    n_users = size["users"]
    pq.write_table(pa.table({
        "user_id": pa.array(np.arange(n_users, dtype=np.int64)),
        "segment": pa.array([f"seg{u % 5}" for u in range(n_users)]),
    }), f"{out}/users.parquet")

    def write_files(sub, n_files, per_file, id_base):
        dups, pending = 0, []
        for f in range(n_files):
            ids = id_base + f * per_file + np.arange(per_file, dtype=np.int64)
            ts = t0 + (id_base + f * per_file + np.arange(per_file)) * 1000
            users = rng.integers(0, n_users, per_file)
            tbl = _events_table(ids, ts, users, rng)
            if pending:  # duplicates of the previous file's events
                tbl = pa.concat_tables([tbl, pending.pop()])
            pick = rng.choice(per_file, max(1, per_file // 20), replace=False)
            if f + 1 < n_files:
                pending.append(tbl.take(pa.array(pick)))
                dups += len(pick)
            pq.write_table(tbl, f"{out}/{sub}/part-{f:05d}.parquet")
        return dups

    live_dups = write_files("live", size["files"], size["events_per_file"], 0)
    backlog_base = 10_000_000
    backlog_dups = write_files("backlog", size["backlog_files"],
                               size["backlog_events_per_file"], backlog_base)
    return {
        "live_files": size["files"],
        "file_interval_s": FILE_INTERVAL_S,
        "events_per_file": size["events_per_file"],
        "live_duplicate_events": live_dups,
        "backlog_files": size["backlog_files"],
        "drain_files_per_batch": size["drain_files_per_batch"],
        "backlog_rows": size["backlog_files"] * size["backlog_events_per_file"] + backlog_dups,
        "backlog_distinct_events": size["backlog_files"] * size["backlog_events_per_file"],
        "backlog_duplicate_events": backlog_dups,
        "users": n_users,
    }


GENERATORS = {
    "payroll_etl": gen_payroll,
    "corpus_curation": gen_corpus,
    "event_stream": gen_events,
}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description="Generate a workload's inputs once.")
    p.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--size", choices=["full", "tiny"], default="full")
    args = p.parse_args(argv)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, root)  # the CPA contract columns come from the engine
    print(ensure_inputs(root, args.workload, args.seed, args.size)[0])
    return 0


if __name__ == "__main__":
    sys.exit(main())
