"""DuckDB twins: the expected output of each workload, computed from the
same generated files, and the same fingerprints over what a job wrote.

Fingerprints are integers or md5 digests so they compare exactly across
engines: doubles enter them only as floor(x * 10^k + 0.5).
"""
import hashlib
import os

import duckdb


def _csv(path):
    return f"read_csv('{path}', header=true, all_varchar=true, quote='\"')"


def etl(data):
    """Expected fact / state-view / published-metrics fingerprints, duplicate
    audit counts and completeness non-null counts."""
    con = duckdb.connect()
    con.execute(f"""CREATE VIEW pen AS SELECT
        trim("CMS Certification Number (CCN)") AS ccn,
        coalesce(try_strptime("Penalty Date", '%m/%d/%Y')::DATE,
                 try_cast("Penalty Date" AS DATE)) AS penalty_date,
        trim("Penalty Type") AS penalty_type,
        try_cast("Fine Amount" AS DOUBLE) AS fine_amount,
        try_cast("Payment Denial Length in Days" AS BIGINT) AS denial_days,
        trim("State") AS state, trim("Provider Name") AS provider_name
      FROM {_csv(data + '/csv/NH_Penalties_*.csv')}""")
    con.execute(f"""CREATE VIEW qm AS SELECT
        trim(ccn) AS ccn, trim(measure_code) AS measure_code,
        coalesce(try_strptime(period_start, '%m/%d/%Y')::DATE,
                 try_cast(period_start AS DATE)) AS period_start,
        coalesce(try_strptime(period_end, '%m/%d/%Y')::DATE,
                 try_cast(period_end AS DATE)) AS period_end
      FROM {_csv(data + '/csv/NH_QualityMsr_Claims_*.csv')}""")
    fact = con.execute("""SELECT count(*), count(penalty_date),
        CAST(coalesce(sum(floor(coalesce(fine_amount, 0) * 100 + 0.5)), 0) AS BIGINT),
        CAST(coalesce(sum(denial_days), 0) AS BIGINT), count(DISTINCT ccn)
      FROM pen""").fetchone()
    state = [list(r) for r in con.execute("""SELECT state, count(*),
        sum(coalesce(fine_amount, 0)),
        sum(CASE WHEN coalesce(fine_amount, 0) > 0 THEN 1 END),
        avg(coalesce(fine_amount, 0))
      FROM pen GROUP BY state ORDER BY state""").fetchall()]
    dups = {
        "penalties": con.execute("""SELECT count(*) FROM (SELECT 1 FROM pen
            GROUP BY ccn, penalty_date, penalty_type HAVING count(*) > 1)""").fetchone()[0],
        "quality_measures": con.execute("""SELECT count(*) FROM (SELECT 1 FROM qm
            GROUP BY ccn, measure_code, period_start, period_end
            HAVING count(*) > 1)""").fetchone()[0],
    }
    nn = con.execute("""SELECT count(ccn), count(penalty_date), count(penalty_type),
        count(fine_amount), count(denial_days), count(state), count(provider_name)
      FROM pen""").fetchone()
    non_null = dict(zip(["cms_certification_number_ccn", "penalty_date",
                         "penalty_type", "fine_amount",
                         "payment_denial_length_in_days", "state",
                         "provider_name"], nn))
    p = data + "/pbj/PBJ_Daily_Nurse_Staffing_"
    crit = ["MDScensus", "Hrs_RN", "Hrs_LPN", "Hrs_CNA"]
    any_zero = " OR ".join(f"try_cast({c} AS DOUBLE) = 0" for c in crit)
    metrics = con.execute(f"""
      WITH j AS (
        SELECT * FROM {_csv(p + 'base.csv')} b
        JOIN {_csv(p + 'ctr.csv')} c USING (PROVNUM, CY_Qtr)
        JOIN {_csv(p + 'emp.csv')} e USING (PROVNUM, CY_Qtr)),
      q AS (
        SELECT PROVNUM, STATE,
          CASE WHEN regexp_extract(CY_Qtr, '(20\\d{{2}}).*?(\\d)', 1) = ''
                 OR regexp_extract(CY_Qtr, '(20\\d{{2}}).*?(\\d)', 2) = ''
               THEN NULL
               ELSE regexp_extract(CY_Qtr, '(20\\d{{2}}).*?(\\d)', 1) || '-Q' ||
                    regexp_extract(CY_Qtr, '(20\\d{{2}}).*?(\\d)', 2) END AS CY_Qtr,
          {", ".join(f"CASE WHEN {any_zero} THEN NULL ELSE try_cast({c} AS DOUBLE) END AS {c}" for c in crit)},
          {", ".join(f"try_cast({c} AS DOUBLE) AS {c}" for c in
                     ["Hrs_RN_ctr", "Hrs_LPN_ctr", "Hrs_CNA_ctr",
                      "Hrs_RN_emp", "Hrs_LPN_emp", "Hrs_CNA_emp"])}
        FROM j),
      c AS (
        SELECT * FROM q WHERE MDScensus IS NOT NULL AND Hrs_RN IS NOT NULL
          AND Hrs_LPN IS NOT NULL AND Hrs_CNA IS NOT NULL AND STATE IS NOT NULL
          AND CY_Qtr IS NOT NULL AND PROVNUM IS NOT NULL),
      a AS (
        SELECT STATE, PROVNUM, CY_Qtr,
          sum(coalesce(Hrs_RN, 0.0) + coalesce(Hrs_LPN, 0.0) + coalesce(Hrs_CNA, 0.0)) AS tnh,
          sum(MDScensus) AS census,
          sum(coalesce(Hrs_RN_ctr, 0.0) + coalesce(Hrs_LPN_ctr, 0.0) + coalesce(Hrs_CNA_ctr, 0.0)) AS ctr,
          sum(coalesce(Hrs_RN_emp, 0.0) + coalesce(Hrs_LPN_emp, 0.0) + coalesce(Hrs_CNA_emp, 0.0)) AS emp
        FROM c GROUP BY STATE, PROVNUM, CY_Qtr),
      r AS (
        SELECT PROVNUM, tnh,
          tnh / CASE WHEN census = 0 THEN NULL ELSE census END AS ntp,
          ctr / CASE WHEN emp = 0 THEN NULL ELSE emp END AS cve
        FROM a)
      SELECT count(*),
        CAST(coalesce(sum(floor(ntp * 10000 + 0.5)), 0) AS BIGINT),
        CAST(coalesce(sum(floor(cve * 10000 + 0.5)), 0) AS BIGINT),
        CAST(coalesce(sum(floor(tnh * 10000 + 0.5)), 0) AS BIGINT),
        count(DISTINCT PROVNUM)
      FROM r WHERE ntp IS NOT NULL AND cve IS NOT NULL""").fetchone()
    return {"fact": list(fact), "state": state,
            "metrics": list(metrics), "dup_groups": dups, "non_null": non_null}


def etl_output(job_dir):
    """The same fingerprints over one job's written output (fact parquet,
    state-view CSV, published metrics CSV)."""
    con = duckdb.connect()
    fact = con.execute(f"""SELECT count(*), count(penalty_date),
        CAST(coalesce(sum(floor(fine_amount * 100 + 0.5)), 0) AS BIGINT),
        CAST(coalesce(sum(denial_days), 0) AS BIGINT), count(DISTINCT ccn)
      FROM read_parquet('{job_dir}/fact_penalty/*.parquet')""").fetchone()
    state = [list(r) for r in con.execute(f"""SELECT state,
        CAST(penalty_events AS BIGINT), CAST(total_fines AS DOUBLE),
        CAST(fine_count AS BIGINT), CAST(avg_fine AS DOUBLE)
      FROM {_csv(job_dir + '/by_state/part-*.csv')} ORDER BY state""").fetchall()]
    metrics = con.execute(f"""SELECT count(*),
        CAST(coalesce(sum(floor(CAST(nurse_to_patient_ratio AS DOUBLE) * 10000 + 0.5)), 0) AS BIGINT),
        CAST(coalesce(sum(floor(CAST(contract_vs_employed_ratio AS DOUBLE) * 10000 + 0.5)), 0) AS BIGINT),
        CAST(coalesce(sum(floor(CAST(total_nurse_hours AS DOUBLE) * 10000 + 0.5)), 0) AS BIGINT),
        count(DISTINCT PROVNUM)
      FROM {_csv(job_dir + '/metrics/part-*.csv')}""").fetchone()
    return {"fact": list(fact), "state": state, "metrics": list(metrics)}


def shards(job_dir):
    """Rows, distinct ids, token total, packed end, shard count and the id
    digest of one job's sharded export."""
    con = duckdb.connect()
    src = f"read_parquet('{job_dir}/*/*.parquet', hive_partitioning=true)"
    n, nd, tokens, end, nshards = con.execute(f"""SELECT count(*), count(DISTINCT doc_id),
        coalesce(sum(n_tokens), 0), coalesce(max(tok_offset + n_tokens), 0),
        count(DISTINCT shard) FROM {src}""").fetchone()
    ids = [r[0] for r in con.execute(f"SELECT doc_id FROM {src} ORDER BY doc_id").fetchall()]
    return {"rows": n, "distinct": nd, "tokens": tokens, "end": end, "shards": nshards,
            "ids_md5": hashlib.md5(",".join(map(str, ids)).encode()).hexdigest()}


def text(data):
    """Stage counts of the text_curation_funnel oracle over the corpus
    (the SQL is the program's own oracle, exported by the harness)."""
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet("
                f"'{data}/documents.parquet')")
    with open(os.path.join(data, "funnel_oracle.sql")) as f:
        rows = con.execute(f.read()).fetchall()
    return {stage: n for _, stage, n in rows}


def _flist(files):
    return "[" + ",".join(f"'{x}'" for x in files) + "]"


def serve_reads(data, reads, batch_files):
    """Expected rows of each service read, from the same query over the
    inputs (the target as of the batches landed when it was asked)."""
    con = duckdb.connect()
    con.execute(f"CREATE VIEW metrics AS SELECT * FROM read_parquet('{data}/metrics.parquet')")
    out = []
    for r, landed in reads:
        k = r["kind"]
        if k in ("grouped_mean", "pivot"):
            provs = ",".join(f"'{p}'" for p in r["provnums"])
            chosen = f"FROM metrics WHERE STATE = '{r['state']}' AND PROVNUM IN ({provs})"
        if k == "options_state":
            sql = "SELECT DISTINCT STATE FROM metrics WHERE STATE IS NOT NULL"
        elif k == "options_provnum":
            sql = (f"SELECT DISTINCT PROVNUM FROM metrics WHERE STATE = '{r['state']}' "
                   f"AND PROVNUM IS NOT NULL")
        elif k == "grouped_mean":
            sql = f"SELECT PROVNUM, avg({r['metric']}) {chosen} GROUP BY PROVNUM"
        elif k == "pivot":
            cols = ", ".join(f"sum(CASE WHEN PROVNUM = '{p}' THEN total_nurse_hours END)"
                             for p in r["provnums"])
            sql = f"SELECT CY_Qtr, {cols} {chosen} GROUP BY CY_Qtr"
        else:  # target_mean: one row per key; state and value follow the key
            sql = (f"SELECT state, avg(value) FROM (SELECT DISTINCT doc_key, state, value "
                   f"FROM read_parquet({_flist(batch_files[:landed])})) GROUP BY state")
        out.append([list(x) for x in con.execute(sql).fetchall()])
    return out


def target_keys_match(files, batch_files):
    """The upsert target's files hold the distinct keys of every batch
    landed, each once."""
    con = duckdb.connect()
    if not files or not batch_files:
        return False
    tl, bl = _flist(files), _flist(batch_files)
    n, nd = con.execute(f"SELECT count(*), count(DISTINCT doc_key) FROM read_parquet({tl})").fetchone()
    diff = con.execute(f"""SELECT count(*) FROM (
        (SELECT DISTINCT doc_key FROM read_parquet({tl})
         EXCEPT SELECT DISTINCT doc_key FROM read_parquet({bl}))
        UNION ALL
        (SELECT DISTINCT doc_key FROM read_parquet({bl})
         EXCEPT SELECT DISTINCT doc_key FROM read_parquet({tl})))""").fetchone()[0]
    return n == nd and diff == 0
