"""Inputs and oracles that live outside the program.

- `make_deliveries`: the seeded crawl deliveries of `lakehouse_ingest`.
- `check_query_mix`: compares each query's checked result with DuckDB
  running the query's `SparkEntry.oracleSql`, normalized the way
  `scripts/check.py` does (columns sorted by name, exact values).
- `check_lakehouse`: replays the deliveries and deletes in a DuckDB model
  with the keep-min rule of `rl_stream_dedup_ingest`'s oracle (fingerprint
  = md5-60 of the text, the smallest doc_id wins) and compares each
  read-back digest, of the crawl table after an append and of the clean
  table after an ingest or a delete, with the model's.
"""
import glob
import json
import os
import random

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

VARIANT_OFFSET = 5_000_000
REDELIVERY_OFFSET = 10_000_000
DELETE_MOD = 101
REDELIVER_SHARE = 0.3
# A fixed number, so that every seed's MERGE replaces rows (keep-min) from
# the second cycle on; a random draw from all earlier documents would hit
# a variant in only some seeds, and the merge-on-read work downstream
# (delete vectors, compaction's purge) would come and go with the seed.
TRUE_ID_ARRIVALS = 3


def make_deliveries(data, seed, cycles):
    """Cycle 0 delivers 40% of the documents; every later cycle delivers
    the next 1% (half under a larger variant id) plus, 30% of the cycle's
    size, the true ids of TRUE_ID_ARRIVALS documents so far delivered only
    under a variant id and re-deliveries of seeded earlier documents under
    new, larger ids. Writes `deliveries/cNNNNN.parquet` and `plan.json`
    (the seeded delete slice of each cycle)."""
    rng = random.Random(seed * 7919 + 17)
    con = duckdb.connect()
    docs = con.execute(f"SELECT doc_id, text, n_chars FROM '{data}/documents.parquet' ORDER BY doc_id").df()
    n = len(docs)
    base = int(n * 0.4)
    step = max(1, n // 100)
    out_dir = os.path.join(data, "deliveries")
    os.makedirs(out_dir)
    delivered = list(range(base))      # documents delivered under their true id
    variant_only = []                  # delivered under the variant id only
    next_new = base
    total = 0
    for c in range(cycles + 1):
        if c == 0:
            rows = [(d, "c0") for d in range(base)]
        else:
            new = list(range(next_new, min(n, next_new + step)))
            next_new += len(new)
            k = int(round(step * REDELIVER_SHARE))
            arrive = rng.sample(variant_only, min(TRUE_ID_ARRIVALS, len(variant_only)))
            again = rng.sample(delivered, max(0, min(k - len(arrive), len(delivered))))
            rows = []
            for d in arrive:
                variant_only.remove(d)
                delivered.append(d)
                rows.append((d, f"c{c}t"))
            for d in again:
                rows.append((d + REDELIVERY_OFFSET * (c + 1), f"c{c}r"))
            for d in new:
                if rng.random() < 0.5:
                    variant_only.append(d)
                    rows.append((d + VARIANT_OFFSET, f"c{c}v"))
                else:
                    delivered.append(d)
                    rows.append((d, f"c{c}"))
        ids = pd.DataFrame(rows, columns=["doc_id", "src"])
        ids["base"] = ids["doc_id"] % VARIANT_OFFSET
        df = ids.merge(docs.rename(columns={"doc_id": "base"}), on="base")
        df = df[["doc_id", "text", "n_chars", "src"]].sort_values("doc_id")
        con.register("d", df)
        con.execute(f"COPY (SELECT CAST(doc_id AS BIGINT) AS doc_id, text, CAST(n_chars AS BIGINT) AS n_chars, "
                    f"src FROM d) TO '{out_dir}/c{c:05d}.parquet' (FORMAT PARQUET)")
        con.unregister("d")
        total += len(df)
    plan = {"cycles": cycles, "delete_mod": DELETE_MOD}
    plan.update({f"delete_rem_{c}": rng.randrange(DELETE_MOD) for c in range(1, cycles + 1)})
    with open(os.path.join(data, "plan.json"), "w") as f:
        json.dump(plan, f)
    con.close()
    return {"deliveries": total}


def _norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: str(v) if v is not None else None)
    return df.reset_index(drop=True)


def compare(spark_df, duck_df):
    """None when equal, else the first difference."""
    a, b = _norm(spark_df), _norm(duck_df)
    if list(a.columns) != list(b.columns):
        return f"SCHEMA cols {list(a.columns)} vs {list(b.columns)}"
    if len(a) != len(b):
        return f"ROWS {len(a)} vs {len(b)}"
    for c in a.columns:
        av, bv = a[c].values, b[c].values
        a_f = np.issubdtype(a[c].dtype, np.floating)
        b_f = np.issubdtype(b[c].dtype, np.floating)
        if a_f != b_f and not (a[c].dtype == object or b[c].dtype == object):
            return f"DTYPE col {c}: {a[c].dtype} vs {b[c].dtype}"
        if a_f or b_f:
            af = pd.to_numeric(a[c], errors="coerce").values.astype(float)
            bf = pd.to_numeric(b[c], errors="coerce").values.astype(float)
            eq = np.where(np.isnan(af), np.isnan(bf), af == bf)
        else:
            eq = (pd.Series(av).astype(str).fillna("NULL").values ==
                  pd.Series(bv).astype(str).fillna("NULL").values)
        if not eq.all():
            i = int(np.argmin(eq))
            return f"VALUE col {c} row {i}: {av[i]!r} vs {bv[i]!r}"
    return None


def check_query_mix(data, check_dir, ops):
    """{op index: reason} for every timed run of a query whose checked
    result disagrees with the DuckDB oracle."""
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    for t in TABLES:
        p = os.path.join(data, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    with open(os.path.join(check_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    bad = {}
    for q, sql in oracles.items():
        files = sorted(glob.glob(os.path.join(check_dir, q, "*.parquet")))
        try:
            got = pd.concat([pd.read_parquet(f) for f in files]) if files else None
            err = "no checked result" if got is None else compare(got, con.execute(sql).df())
        except Exception as e:  # an oracle that cannot run is a failed check
            err = f"oracle error: {e}"
        if err:
            bad[q] = err
    con.close()
    return {o["idx"]: f"{o['op']}: {bad[o['op']]}" for o in ops if o["op"] in bad}


def check_lakehouse(data, info):
    """{op index: reason} for every read-back whose digest differs from the
    DuckDB model of the same cycle."""
    with open(os.path.join(data, "plan.json")) as f:
        plan = json.load(f)
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    con.execute("CREATE TABLE m (fp BIGINT, doc_id BIGINT, src VARCHAR, n_chars BIGINT)")
    con.execute("CREATE TABLE crawl (doc_id BIGINT, src VARCHAR, n_chars BIGINT, text VARCHAR)")
    want = {}
    last = info["last_cycle"]

    def digest():
        n, h = con.execute("""SELECT count(*), coalesce(sum(CAST('0x' || substr(md5(concat_ws('|', fp, doc_id,
            src, n_chars)), 1, 11) AS BIGINT)), 0) FROM m""").fetchone()
        return int(n), int(h)

    for c in range(last + 1):
        p = os.path.join(data, "deliveries", f"c{c:05d}.parquet")
        con.execute(f"INSERT INTO crawl SELECT doc_id, src, n_chars, text FROM '{p}'")
        want[(c, "append")] = tuple(int(x) for x in con.execute("""SELECT count(*),
            coalesce(sum(CAST('0x' || substr(md5(concat_ws('|', doc_id, src, n_chars, text)), 1, 11)
            AS BIGINT)), 0) FROM crawl""").fetchone())
        con.execute(f"""CREATE OR REPLACE TABLE w AS
            SELECT fp, min(doc_id) AS doc_id, arg_min(src, doc_id) AS src,
                   arg_min(n_chars, doc_id) AS n_chars
            FROM (SELECT CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) AS fp, doc_id, src, n_chars
                  FROM '{p}' WHERE text IS NOT NULL)
            GROUP BY fp""")
        con.execute("""CREATE OR REPLACE TABLE m AS
            SELECT coalesce(w.fp, m.fp) AS fp,
                   CASE WHEN w.fp IS NOT NULL AND (m.fp IS NULL OR w.doc_id < m.doc_id)
                        THEN w.doc_id ELSE m.doc_id END AS doc_id,
                   CASE WHEN w.fp IS NOT NULL AND (m.fp IS NULL OR w.doc_id < m.doc_id)
                        THEN w.src ELSE m.src END AS src,
                   CASE WHEN w.fp IS NOT NULL AND (m.fp IS NULL OR w.doc_id < m.doc_id)
                        THEN w.n_chars ELSE m.n_chars END AS n_chars
            FROM m FULL OUTER JOIN w ON m.fp = w.fp""")
        want[(c, "ingest")] = digest()
        if c >= 1:
            con.execute(f"DELETE FROM m WHERE doc_id % {plan['delete_mod']} = {plan[f'delete_rem_{c}']}")
        want[(c, "delete")] = digest()
    con.close()
    bad = {} if info["read_backs"] else {-1: "no read-back was checked"}
    for rb in info["read_backs"]:
        fp = rb["fp"] or {}
        got = (fp.get("n"), fp.get("h"))
        key = (rb["cycle"], rb["after"])
        if got != want[key]:
            bad[rb["idx"]] = f"read-back after the {key[1]} of cycle {key[0]}: got {got}, model {want[key]}"
    return bad
