"""Output checks, run after the JVM has exited, against answers DuckDB
computes independently of the code under test:

- catalog rows: the first output of each row against its DuckDB oracle
  (SparkEntry.oracleSql) over the same generated tables; rows without an
  oracle are held to the same hash on every repeat (done in the harness);
  q224's oracle has its near-dup pairs cut to the MinHash-LSH candidates;
- silver templates: the same SQL run by DuckDB over the written silver zone;
- Runner.run: its Result against the bronze/silver/audit rules re-derived
  in DuckDB from the raw CSV, and every written zone against that.
"""
import glob
import json
import os

import duckdb
import numpy as np
import pandas as pd

CURRENCIES = ("USD", "EUR", "GBP", "JPY", "AUD", "CAD")
STATUSES = ("AUTHORISED", "SETTLED", "REFUNDED", "CHARGEBACK", "DECLINED",
            "PENDING", "SUCCESS", "FAILED")


def _in(values):
    return "(" + ", ".join(f"'{v}'" for v in values) + ")"


def connect(tables_dir=None):
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    if tables_dir:
        for p in glob.glob(os.path.join(tables_dir, "*.parquet")):
            name = os.path.basename(p)[:-len(".parquet")]
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    return con


# ── catalog rows ─────────────────────────────────────────────────────────

def _norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: str(v) if v is not None else None)
    key = df.copy()
    for c in key.columns:
        if np.issubdtype(key[c].dtype, np.floating):
            key[c] = key[c].round(6)
    return df.loc[key.sort_values(by=list(key.columns)).index].reset_index(drop=True)


def compare_frames(got, want):
    """None when equal (floats within 1e-9), else the reason."""
    a, b = _norm(got), _norm(want)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} != oracle {list(b.columns)}"
    if len(a) != len(b):
        return f"{len(a)} rows != oracle {len(b)}"
    for c in a.columns:
        kinds = {np.dtype(a[c].dtype).kind, np.dtype(b[c].dtype).kind}
        if kinds & {"f"} and kinds & {"i", "u"}:
            return f"column {c}: int vs float"
        if kinds & {"f"}:
            av = pd.to_numeric(a[c], errors="coerce").to_numpy(float)
            bv = pd.to_numeric(b[c], errors="coerce").to_numpy(float)
            if not np.allclose(av, bv, rtol=0, atol=1e-9, equal_nan=True):
                return f"column {c}: values differ"
        else:
            av = a[c].astype(str).where(a[c].notna(), None)
            bv = b[c].astype(str).where(b[c].notna(), None)
            if not av.equals(bv):
                return f"column {c}: {int((av != bv).sum())} values differ"
    return None


def check_catalog(con, path, oracle, name=""):
    files = glob.glob(os.path.join(path, "*.parquet"))
    got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True) if files \
        else pd.DataFrame()
    if name in LSH_TWIN_ROWS:
        try:
            oracle = lsh_restricted(con, oracle)
        except ValueError as e:
            return str(e)
    return compare_frames(got, con.execute(oracle).fetchdf())


# ── MinHash-LSH near-dup stage (q224) ────────────────────────────────────
#
# q224's oracle drops a kept page when ANY earlier page reaches trigram
# Jaccard >= 0.6 (all pairs), while CorpusCurate verifies only the pairs
# MinHash-LSH proposes (DedupQueries: 16 xxhash64 minhashes, 4 bands of 4).
# On the catalog's own fixture every such pair is proposed; on a seeded
# corpus a pair at Jaccard ~0.8 is missed about one time in ten, so the
# check restricts the oracle's pair join to the LSH candidates, computed
# here from the oracle's own pages with the same hash function.

LSH_TWIN_ROWS = {"q224_web_curate_e2e"}
ALL_PAIRS = "FROM g a JOIN g b ON a.page_id < b.page_id"
MINHASHES, BANDS, MAX_BUCKET_REPS = 16, 4, 64
_M64 = (1 << 64) - 1
_P1, _P2, _P3, _P4, _P5 = (0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9,
                           0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5)


def _rotl(x, r):
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc, lane):
    return (_rotl((acc + lane * _P2) & _M64, 31) * _P1) & _M64


def xxh64(data, seed):
    """XXH64 of `data` as a signed long, the value Spark's xxhash64 gives
    (seed 42 for the first argument, each result the seed of the next)."""
    seed &= _M64
    n, i = len(data), 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M64, (seed + _P2) & _M64, seed, (seed - _P1) & _M64]
        while i + 32 <= n:
            v = [_round(v[k], int.from_bytes(data[i + 8 * k:i + 8 * k + 8], "little"))
                 for k in range(4)]
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M64
        for x in v:
            h = ((h ^ _round(0, x)) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        h = (_rotl(h ^ _round(0, int.from_bytes(data[i:i + 8], "little")), 27) * _P1
             + _P4) & _M64
        i += 8
    if i + 4 <= n:
        h = (_rotl(h ^ (int.from_bytes(data[i:i + 4], "little") * _P1 & _M64), 23) * _P2
             + _P3) & _M64
        i += 4
    while i < n:
        h = (_rotl(h ^ (data[i] * _P5 & _M64), 11) * _P1) & _M64
        i += 1
    h = ((h ^ (h >> 33)) * _P2) & _M64
    h = ((h ^ (h >> 29)) * _P3) & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >> 63 else h


def _band_keys(text):
    """(band, band hash) keys of a text's word-trigram minhash signature."""
    toks = text.split(" ")
    grams = {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}
    if not grams:
        return []
    first = [xxh64(g.encode(), 42) for g in grams]
    sig = [min(xxh64(j.to_bytes(4, "little"), h) for h in first) for j in range(MINHASHES)]
    rows = MINHASHES // BANDS
    keys = []
    for b in range(BANDS):
        h = 42
        for v in sig[b * rows:(b + 1) * rows]:
            h = xxh64(v.to_bytes(8, "little", signed=True), h)
        keys.append((b, h))
    return keys


def lsh_candidates(docs):
    """(a, b) pairs, a < b, sharing a band bucket in which a ranks among
    the first MAX_BUCKET_REPS ids; `docs` is a list of (id, text)."""
    buckets = {}
    for doc_id, text in docs:
        for key in _band_keys(text):
            buckets.setdefault(key, []).append(doc_id)
    pairs = set()
    for ids in buckets.values():
        ids.sort()
        for r, a in enumerate(ids[:MAX_BUCKET_REPS]):
            pairs.update((a, b) for b in ids[r + 1:])
    return sorted(pairs)


def lsh_restricted(con, oracle):
    """The oracle with its all-pairs near-dup join cut to the LSH candidates
    (held in a temporary table of this connection)."""
    if oracle.count(ALL_PAIRS) != 1:
        raise ValueError("oracle has no single all-pairs near-dup join to restrict")
    head = oracle[:oracle.rfind("SELECT")]
    docs = con.execute(head + "SELECT page_id, ctext FROM exact").fetchall()
    con.execute("CREATE OR REPLACE TEMP TABLE lsh_pairs (a BIGINT, b BIGINT)")
    pairs = lsh_candidates(docs)
    if pairs:
        con.executemany("INSERT INTO lsh_pairs VALUES (?, ?)", pairs)
    return oracle.replace(ALL_PAIRS, ALL_PAIRS +
                          " JOIN lsh_pairs p ON p.a = a.page_id AND p.b = b.page_id")


# ── silver templates ─────────────────────────────────────────────────────

def register_lake(con, root, view="silver_transactions", temp=""):
    con.execute(f"""CREATE OR REPLACE {temp} VIEW {view} AS SELECT * FROM
        read_parquet('{root}/silver/transactions_parquet/*/*.parquet', hive_partitioning = 1)""")


GOLD_KPIS = """SELECT merchant_id, CAST(txn_date AS VARCHAR) AS txn_date,
    COUNT(*) AS txn_count, SUM(amount) AS gross_amount,
    COUNT(DISTINCT user_id) AS distinct_users,
    SUM(CASE WHEN status_curated = 'SUCCESS' THEN amount ELSE 0 END) AS success_amount
    FROM silver_transactions WHERE merchant_id = '{merchant_id}'
    GROUP BY merchant_id, txn_date"""


def _cell(v):
    return None if v is None else str(v)


def check_template(con, op):
    p = op["params"]
    sql = GOLD_KPIS.format(**p) if op["name"] == "gold_merchant_kpis" else p["sql"]
    want = sorted(tuple(_cell(v) for v in r) for r in con.execute(sql).fetchall())
    got = sorted(tuple(r) for r in op["result"])
    if got != want:
        return f"{len(got)} rows differ from DuckDB's {len(want)} (first {got[:1]} vs {want[:1]})"
    return None


# ── medallion Runner ─────────────────────────────────────────────────────

def expected_lake(con, raw_dir):
    """Runner.Result and zone totals re-derived from the raw CSV."""
    con.execute(f"""CREATE OR REPLACE VIEW raw AS SELECT * FROM read_csv(
        '{raw_dir}/*/*.csv', header = true, all_varchar = true, hive_partitioning = false)""")
    con.execute(f"""CREATE OR REPLACE VIEW bronze AS
        SELECT upper(trim(txn_id)) AS txn_id, upper(trim(user_id)) AS user_id,
               upper(trim(currency)) AS currency, upper(trim(status)) AS status,
               try_cast(amount AS DECIMAL(12,2)) AS amount,
               try_cast(txn_ts AS TIMESTAMP) AS txn_ts
        FROM raw QUALIFY row_number() OVER (PARTITION BY upper(trim(txn_id))
                                            ORDER BY try_cast(txn_ts AS TIMESTAMP) DESC) = 1""")
    con.execute(f"""CREATE OR REPLACE VIEW tagged AS SELECT *,
        CASE WHEN amount IS NULL OR amount <= 0 THEN 'amount'
             WHEN currency IS NULL OR currency NOT IN {_in(CURRENCIES)} THEN 'currency'
             WHEN status IS NULL OR status NOT IN {_in(STATUSES)} THEN 'status' END AS reason
        FROM bronze""")
    raw_rows = con.execute("SELECT count(*) FROM raw").fetchone()[0]
    r = con.execute("""SELECT count(*), count(*) FILTER (reason IS NULL),
        count(reason), count(*) FILTER (user_id IS NULL OR trim(user_id) = ''),
        count(*) FILTER (reason = 'amount'), count(*) FILTER (reason = 'currency'),
        count(*) FILTER (reason = 'status'),
        CAST(sum(amount) FILTER (reason IS NULL) AS VARCHAR) FROM tagged""").fetchone()
    return {
        "result": {"raw_rows": raw_rows, "bronze_rows": r[0], "silver_rows": r[1],
                   "invalid_rows": r[2]},
        "dq": {"input_rows": r[0], "valid_rows": r[1], "invalid_rows": r[2],
               "blank_user_rows": r[3], "n_bad_amount": r[4], "n_bad_currency": r[5],
               "n_bad_status": r[6], "run_date": "2025-08-03"},
        "silver_amount": r[7],
    }


def check_lake(con, root, result, expected):
    """None when Runner.Result and every zone match the CSV-derived answer."""
    exp = expected["result"]
    got = {k: result[k] for k in exp}
    if got != exp:
        return f"Runner.Result {got} != expected {exp}"
    dq = json.loads(result["dq_summary"])
    if dq != expected["dq"]:
        return f"DQ summary {dq} != expected {expected['dq']}"

    def count(zone):
        return con.execute(f"""SELECT count(*) FROM read_parquet(
            '{root}/{zone}/*/*.parquet', hive_partitioning = 1)""").fetchone()[0]
    for zone, key in (("bronze/transactions_parquet", "bronze_rows"),
                      ("silver/transactions_parquet", "silver_rows"),
                      ("audit/invalid_records", "invalid_rows")):
        if count(zone) != exp[key]:
            return f"zone {zone} holds {count(zone)} rows, expected {exp[key]}"
    register_lake(con, root, "lake_silver", temp="TEMP")  # this connection only
    amount = con.execute(
        "SELECT CAST(sum(amount) AS VARCHAR) FROM lake_silver").fetchone()[0]
    if amount != expected["silver_amount"]:
        return f"silver amount total {amount} != expected {expected['silver_amount']}"
    gold = con.execute(f"""SELECT merchant_id, CAST(txn_date AS VARCHAR), txn_count,
        CAST(gross_amount AS VARCHAR), distinct_users, CAST(success_amount AS VARCHAR)
        FROM read_parquet('{root}/gold/merchant_daily_kpis/*.parquet')
        ORDER BY 1, 2""").fetchall()
    want = con.execute(f"""SELECT merchant_id, CAST(txn_date AS VARCHAR), count(*),
        CAST(sum(amount) AS VARCHAR), count(DISTINCT user_id),
        CAST(sum(CASE WHEN status_curated = 'SUCCESS' THEN amount ELSE 0 END) AS VARCHAR)
        FROM lake_silver GROUP BY 1, 2 ORDER BY 1, 2""").fetchall()
    if gold != want:
        return f"gold merchant_daily_kpis: {len(gold)} rows differ from DuckDB's {len(want)}"
    return None
