"""Seeded input generator for the three workloads.

Every file is a pure function of (workload, seed): the same seed gives
byte-identical inputs. The program under test receives only these files.

    python3 perfbench/gen.py <workload> <seed> <out_dir>

Sizes, with the reason for each choice, are the `sizes` of each workload in
perfbench/workloads.json; SIZES is read from there.
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                       "workloads.json")) as _f:
    SIZES = {k: v["sizes"] for k, v in json.load(_f)["workloads"].items()}

STATES = ["AK", "AL", "AR", "AZ", "CA", "CO", "CT", "DC", "DE", "FL", "GA",
          "HI", "IA", "ID", "IL", "IN", "KS", "KY", "LA", "MA", "MD", "ME",
          "MI", "MN", "MO", "MS", "MT", "NC", "ND", "NE", "NH", "NJ", "NM",
          "NV", "NY", "OH", "OK", "OR", "PA", "RI", "SC", "SD", "TN", "TX",
          "UT", "VA", "VT", "WA", "WI", "WV", "WY"]
STOP = ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"]
CONTENT = [f"{a}{b}" for a in ["data", "scan", "join", "sort", "hash", "row",
                                 "page", "node", "key", "file", "task", "plan",
                                 "care", "home", "staff", "nurse", "claim",
                                 "fine", "state", "query"]
           for b in ["", "s", "er", "ing", "ed", "ly", "al", "ion", "ness",
                     "ful", "ity", "ic"]]


def csv_cell(v):
    if v is None:
        return ""
    s = str(v)
    return '"' + s.replace('"', '""') + '"' if ("," in s or '"' in s) else s


def write_csv(path, header, rows):
    with open(path, "w", newline="") as f:
        f.write(",".join(csv_cell(h) for h in header) + "\n")
        for r in rows:
            f.write(",".join(csv_cell(v) for v in r) + "\n")


# ---- etl_reference ---------------------------------------------------------

def gen_etl(rng, out):
    z = SIZES["etl_reference"]
    csv_dir = os.path.join(out, "csv")
    pbj_dir = os.path.join(out, "pbj")
    os.makedirs(csv_dir)
    os.makedirs(pbj_dir)
    nfac = z["facilities"]
    ccns = [f"{v:06d}" for v in rng.choice(999999, nfac, replace=False)]
    fac_state = [STATES[i] for i in rng.integers(0, len(STATES), nfac)]

    def date_str(i):
        y, m, d = 2019 + i % 6, 1 + (i // 7) % 12, 1 + (i // 3) % 28
        return f"{m:02d}/{d:02d}/{y}" if i % 5 else f"{y}-{m:02d}-{d:02d}"

    # B1 penalties: several files per glob, duplicate natural keys,
    # unparseable dates and numbers, null fine amounts.
    prow = z["penalty_rows_per_file"]
    header = ["CMS Certification Number (CCN)", "Penalty Date", "Penalty Type",
              "Fine Amount", "Payment Denial Length in Days", "State",
              "Provider Name"]
    prev = []
    for fi in range(z["penalty_files"]):
        rows = []
        fac = rng.integers(0, nfac, prow)
        dates = rng.integers(0, 4000, prow)
        fine = rng.integers(50000, 25000000, prow)
        kind = rng.random(prow)
        bad = rng.random(prow)
        for j in range(prow):
            if prev and bad[j] < z["dup_key_frac"]:
                rows.append(list(prev[int(rng.integers(0, len(prev)))]))
                continue
            f = int(fac[j])
            is_fine = kind[j] < 0.7
            d = date_str(int(dates[j]))
            if bad[j] > 1 - z["bad_date_frac"]:
                d = ["13/45/2023", "unknown", "2023-02-30"][j % 3]
            amt = f"{fine[j] / 100:.2f}" if is_fine else None
            days = None if is_fine else str(int(fine[j]) % 90 + 1)
            if z["dup_key_frac"] < bad[j] < z["dup_key_frac"] + z["bad_number_frac"]:
                amt, days = "N/A", "--"
            rows.append([ccns[f], d, "Fine" if is_fine else "Payment Denial",
                         amt, days, fac_state[f], f"Facility {f} Care Center"])
        prev = rows
        write_csv(os.path.join(csv_dir, f"NH_Penalties_{2022 + fi}.csv"),
                  header, rows)

    # B2 quality measures (second configured dataset).
    qrow = z["quality_rows_per_file"]
    header = ["ccn", "measure_code", "period_start", "period_end",
              "score_value", "numerator", "denominator"]
    for fi in range(z["quality_files"]):
        fac = rng.integers(0, nfac, qrow)
        code = rng.integers(400, 480, qrow)
        num = rng.integers(0, 500, qrow)
        den = rng.integers(0, 800, qrow)
        rows = []
        for j in range(qrow):
            y = 2021 + (j + fi) % 3
            sv = f"{(num[j] / den[j] if den[j] else 0):.4f}" if j % 13 else "NA"
            rows.append([ccns[int(fac[j])], str(int(code[j])), f"01/01/{y}",
                         f"12/31/{y}", sv, str(int(num[j])),
                         str(int(den[j])) if j % 17 else ""])
        write_csv(os.path.join(csv_dir, f"NH_QualityMsr_Claims_{fi}.csv"),
                  header, rows)

    # B3 PBJ staffing: three quarterly sources joined on (PROVNUM, CY_Qtr).
    # Quarter labels vary in format; the contract file covers only part of
    # the quarters (partly overlapping keys); zeros hit the critical set.
    quarters = [f"2024Q{q}" for q in range(1, z["quarters"] + 1)]
    alt = {q: q.replace("Q", " Q") for q in quarters}
    base, ctr, emp = [], [], []
    for f in range(nfac):
        for qi, q in enumerate(quarters):
            label = alt[q] if (f + qi) % 11 == 0 else q
            if (f * 7 + qi) % 97 == 0:
                label = "unknown"
            census = int(rng.integers(0, 200)) if (f + qi) % 41 else 0
            h = rng.random(9) * 400
            base.append([ccns[f], fac_state[f], label, str(census),
                         f"{h[0]:.2f}", f"{h[1]:.2f}", f"{h[2]:.2f}"])
            if rng.random() < z["ctr_quarter_overlap"]:
                ctr.append([ccns[f], label, f"{h[3]:.2f}", f"{h[4]:.2f}",
                            f"{h[5]:.2f}"])
            e = [f"{h[6]:.2f}", f"{h[7]:.2f}", f"{h[8]:.2f}"]
            if (f + 3 * qi) % 53 == 0:
                e = ["0", "0", "0"]
            emp.append([ccns[f], label] + e)
    write_csv(os.path.join(pbj_dir, "PBJ_Daily_Nurse_Staffing_base.csv"),
              ["PROVNUM", "STATE", "CY_Qtr", "MDScensus", "Hrs_RN", "Hrs_LPN",
               "Hrs_CNA"], base)
    write_csv(os.path.join(pbj_dir, "PBJ_Daily_Nurse_Staffing_ctr.csv"),
              ["PROVNUM", "CY_Qtr", "Hrs_RN_ctr", "Hrs_LPN_ctr", "Hrs_CNA_ctr"],
              ctr)
    write_csv(os.path.join(pbj_dir, "PBJ_Daily_Nurse_Staffing_emp.csv"),
              ["PROVNUM", "CY_Qtr", "Hrs_RN_emp", "Hrs_LPN_emp", "Hrs_CNA_emp"],
              emp)
    # a file without the join keys: discovery must skip it
    write_csv(os.path.join(pbj_dir, "PBJ_notes.csv"), ["note"],
              [["no join keys here"]])
    with open(os.path.join(out, "datasets.yml"), "w") as f:
        f.write(DATASETS_YML)


DATASETS_YML = """datasets:
  penalties:
    filename_pattern: "NH_Penalties_*.csv"
    staging_table: staging_penalties
    natural_key: [cms_certification_number_ccn, penalty_date, penalty_type]
    columns:
      cms_certification_number_ccn: {type: string}
      penalty_date: {type: date}
      penalty_type: {type: string}
      fine_amount: {type: numeric, nullable: true}
      payment_denial_length_in_days: {type: int, nullable: true}
      state: {type: string}
      provider_name: {type: string}
  quality_measures:
    filename_pattern: "NH_QualityMsr_Claims_*.csv"
    staging_table: staging_quality_measures
    natural_key: [ccn, measure_code, period_start, period_end]
    columns:
      ccn: {type: string}
      measure_code: {type: string}
      period_start: {type: date}
      period_end: {type: date}
      score_value: {type: numeric, nullable: true}
      numerator: {type: numeric, nullable: true}
      denominator: {type: numeric, nullable: true}
"""


# ---- text corpora ----------------------------------------------------------

def make_vocab_sampler(rng):
    words = STOP + CONTENT
    w = 1.0 / np.arange(1, len(words) + 1) ** 0.9
    w[: len(STOP)] *= 0.5
    w /= w.sum()
    return words, w


def random_docs(rng, n, lo, hi, tag=""):
    words, w = make_vocab_sampler(rng)
    lens = rng.integers(lo, hi, n)
    idx = rng.choice(len(words), size=int(lens.sum()), p=w)
    docs, pos = [], 0
    for ln in lens:
        toks = [words[i] for i in idx[pos:pos + ln]]
        pos += ln
        if tag:
            toks = [t + tag if k % 4 == 0 else t for k, t in enumerate(toks)]
        docs.append(toks)
    return docs


def gen_corpus(rng, n):
    """Documents with planted exact duplicates, disjoint near-duplicate
    families, a shared boilerplate passage, and empty / junk documents."""
    z = SIZES["text_curation"]
    docs = random_docs(rng, n, 10, 95)
    n_exact = int(n * z["exact_dup_frac"])
    fam = max(1, int(z["near_dup_families"] * n / z["docs"]))
    fsize = z["near_dup_family_size"]
    boiler = "terms of service apply to every page of this site".split()
    slot = 0
    # near-dup families: one base doc, (fsize-1) variants with one token
    # edit; each family's base is a distinct random doc, so families are
    # disjoint and near-dup pairs grow linearly with corpus size.
    for f in range(fam):
        if len(docs[slot]) < 40:
            docs[slot] = random_docs(rng, 1, 40, 70)[0]
        base = docs[slot]
        for v in range(1, fsize):
            var = list(base)
            var[int(rng.integers(0, len(var)))] = f"edit{f}x{v}"
            docs[slot + v] = var
        slot += fsize
    # exact duplicates of random earlier docs
    for j in range(n_exact):
        docs[slot + j] = list(docs[int(rng.integers(0, slot + j))])
    slot += n_exact
    texts = []
    r = rng.random(n)
    for i, toks in enumerate(docs):
        t = " ".join(toks)
        if r[i] < z["boilerplate_frac"]:
            t = t + " " + " ".join(boiler)
        elif r[i] > 1 - z["empty_frac"]:
            t = ["", "   ", "\n"][i % 3]
        elif r[i] > 1 - 2 * z["empty_frac"]:
            t = "!!! ?? ... ;; " * 10 + t  # punctuation soup
        elif r[i] > 1 - 3 * z["empty_frac"]:
            line = " ".join(toks[:8])
            t = "\n".join([line] * 6)  # repeated lines
        texts.append(t)
    # shuffle so planted structure is spread over ids
    perm = rng.permutation(n)
    return [texts[p] for p in perm]


def write_docs(path, texts, id0=0):
    n = len(texts)
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(id0, id0 + n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(["en"] * n),
        "source": pa.array([f"src{i % 7}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), path)


def gen_text(rng, out):
    z = SIZES["text_curation"]
    n = z["docs"]
    texts = gen_corpus(rng, n)
    held = [" ".join(t) for t in random_docs(rng, z["heldout_docs"], 30, 60, tag="q")]
    # contaminate a slice of training docs with a 10-token span of a
    # held-out doc
    for i in rng.choice(n, int(n * z["contaminated_frac"]), replace=False):
        h = held[int(rng.integers(0, len(held)))].split()
        if texts[i].strip():
            texts[i] = texts[i] + " " + " ".join(h[5:15])
    write_docs(os.path.join(out, "documents.parquet"), texts)
    write_docs(os.path.join(out, "heldout.parquet"), held, id0=10_000_000)


# ---- serve_mixed -----------------------------------------------------------

def interaction(i, state, provnums):
    """One dashboard interaction, the reference dashboard's rerun
    (SURVEY.md 3.3): state options, facility options of the chosen state,
    then three charts over the chosen facilities of that state."""
    chart = {"interaction": i, "state": state, "provnums": provnums}
    return [{"kind": "options_state", "interaction": i},
            {"kind": "options_provnum", "interaction": i, "state": state},
            dict(chart, kind="grouped_mean", metric="nurse_to_patient_ratio"),
            dict(chart, kind="pivot"),
            dict(chart, kind="grouped_mean", metric="contract_vs_employed_ratio")]


INTERACTION_KINDS = [r["kind"] for r in interaction(0, "", [])]


def serve_block_counts():
    """Requests of each kind in one block of the serve_mixed mix."""
    z = SIZES["serve_mixed"]["block"]
    counts = {k: n for k, n in z.items() if k != "interaction"}
    for k in INTERACTION_KINDS:
        counts[k] = counts.get(k, 0) + z["interaction"]
    return counts


def gen_serve(rng, out):
    z = SIZES["serve_mixed"]
    n = z["metric_rows"]
    nfac = n // 4
    provs = np.array([f"{v:06d}" for v in rng.choice(999999, nfac, replace=False)])
    fac_state = np.array(STATES)[rng.integers(0, len(STATES), nfac)]
    fi = np.repeat(np.arange(nfac), 4)
    pq.write_table(pa.table({
        "PROVNUM": pa.array(provs[fi]),
        "STATE": pa.array(fac_state[fi]),
        "CY_Qtr": pa.array([f"2024-Q{q}" for q in np.tile(np.arange(1, 5), nfac)]),
        "nurse_to_patient_ratio": pa.array(rng.random(n) * 6 + 0.5),
        "contract_vs_employed_ratio": pa.array(rng.random(n) * 0.8),
        "total_nurse_hours": pa.array(np.round(rng.random(n) * 50000, 2)),
    }), os.path.join(out, "metrics.parquet"))
    write_docs(os.path.join(out, "documents.parquet"),
               [" ".join(t) for t in random_docs(rng, z["docs"], 20, 90)])
    dim = z["dim"]
    emb = rng.standard_normal((z["embeddings"], dim)).astype(np.float32)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(z["embeddings"], dtype=np.int64)),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 8, z["embeddings"]).astype(np.int32)),
    }), os.path.join(out, "embeddings.parquet"))
    qv = rng.standard_normal((z["sim_queries"], dim)).astype(np.float32)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(z["sim_queries"], dtype=np.int64) + 900000),
        "embedding": pa.array(list(qv), pa.list_(pa.float32())),
    }), os.path.join(out, "sim_queries.parquet"))
    words, w = make_vocab_sampler(rng)
    content = words[len(STOP):]
    bm25 = [[content[i] for i in rng.choice(len(content), 3, replace=False)]
            for _ in range(z["bm25_queries"])]
    # upsert batches: each carries fresh keys plus re-sent keys from
    # earlier batches (the probable-duplicate share the Bloom sketch
    # routes to the exact anti-join)
    bdir = os.path.join(out, "batches")
    os.makedirs(bdir)
    sent = np.empty(0, dtype=np.int64)
    next_key = 1
    for b in range(z["upsert_batches"]):
        m = z["upsert_rows"]
        n_dup = int(m * z["upsert_dup_frac"]) if len(sent) else 0
        fresh = np.arange(next_key, next_key + m - n_dup, dtype=np.int64) * 7919 % 1_000_000_007
        next_key += m - n_dup
        dup = rng.choice(sent, n_dup) if n_dup else np.empty(0, dtype=np.int64)
        keys = np.concatenate([fresh, dup])
        rng.shuffle(keys)
        sent = np.concatenate([sent, fresh])
        pq.write_table(pa.table({
            "doc_key": pa.array(keys),
            "state": pa.array(np.array(STATES)[keys % len(STATES)]),
            "value": pa.array((keys % 1000).astype(np.float64) / 10.0),
            "batch": pa.array(np.full(len(keys), b, dtype=np.int32)),
        }), os.path.join(bdir, f"batch_{b:04d}.parquet"))
    # the mix is a fixed block composition; the seed orders each block and
    # picks every request's parameters
    by_state = {s: provs[fac_state == s] for s in np.unique(fac_state)}
    states = sorted(by_state)
    block = [k for k, n in z["block"].items() for _ in range(n)]
    reqs = []
    for _ in range(z["blocks"]):
        for k in [block[j] for j in rng.permutation(len(block))]:
            if k != "interaction":
                r = {"kind": k}
                if k == "bm25":
                    q = int(rng.integers(0, len(bm25)))
                    r["query_id"], r["words"] = q, bm25[q]
                reqs.append(r)
                continue
            i = len(reqs)
            st = states[int(rng.integers(0, len(states)))]
            pick = rng.choice(by_state[st], min(z["interaction_provnums"],
                                                len(by_state[st])), replace=False)
            reqs += interaction(i, st, [str(p) for p in pick])
    with open(os.path.join(out, "requests.json"), "w") as f:
        json.dump(reqs, f)


def generate(workload, seed, out):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    if workload == "etl_reference":
        gen_etl(rng, out)
    elif workload == "text_curation":
        gen_text(rng, out)
    elif workload == "serve_mixed":
        gen_serve(rng, out)
    else:
        raise SystemExit(f"unknown workload {workload}")


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
