"""Output checks, run after the timed region: every distinct cell's
result against its DuckDB oracle SQL (`SparkEntry.oracleSql`) over the same
generated input, and ingest's final tables against a DuckDB replay of the
arrival files."""
import math

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _rows(con, sql):
    """Rows with columns in name order, sorted, for an order-free compare."""
    rel = con.sql(sql)
    cols = rel.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [tuple(_norm(r[i]) for i in order) for r in rel.fetchall()]
    return [cols[i] for i in order], sorted(rows, key=repr)


def _same(a, b):
    if len(a) != len(b):
        return False
    for x, y in zip(a, b):
        for u, v in zip(x, y):
            if isinstance(u, float) or isinstance(v, float):
                if u != v:
                    return False
            elif str(u) != str(v):
                return False
    return True


def check_cells(raw, work):
    """Returns (cells whose result mismatched the oracle, messages)."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{raw['input_dir']}/{t}.parquet')")
    bad, msgs, expected = [], [], {}
    cells = sorted({o["cell"] for o in raw["ops"]})
    for c in cells:
        sql = raw["oracle_sql"].get(c)
        if sql is None:
            bad.append(c)
            msgs.append(f"{c}: no oracle SQL")
            continue
        try:
            gc, got = _rows(con, f"SELECT * FROM read_parquet('{work}/results/{c}/*.parquet')")
            if sql not in expected:  # cells may share one oracle
                expected[sql] = _rows(con, sql)
            ec, exp = expected[sql]
        except Exception as e:  # a broken oracle or result fails the cell
            bad.append(c)
            msgs.append(f"{c}: {type(e).__name__}: {e}")
            continue
        if gc != ec or not _same(got, exp):
            bad.append(c)
            msgs.append(f"{c}: result differs from the oracle ({len(got)} vs {len(exp)} rows)")
    return bad, msgs


REPLAY = """
WITH e AS (
  SELECT user_id, event_id, CAST(round(value * 100) AS BIGINT) AS cents,
         epoch_us(ts) AS us, CAST(regexp_extract(filename, 'batch(\\d+)', 1) AS BIGINT) AS batch,
         regexp_extract(filename, '[^/]+$') AS file
  FROM read_parquet('{drop}/batch*.parquet', filename = true))
"""


def check_ingest(raw, work):
    """Returns (arrival files whose rows the final tables got wrong,
    messages). Samples must hold each user's latest row (last batch, then
    latest ts, then highest event id); datasets every row exactly once."""
    con = duckdb.connect()
    replay = REPLAY.format(drop=raw["dropbox"])
    res = f"{work}/results"
    bad_files, msgs = set(), []
    # datasets: every arrival row exactly once
    rows = con.sql(replay + f"""
        , got AS (SELECT event_id, user_id, cents, count(*) AS n
                  FROM read_parquet('{res}/ingest_datasets/*.parquet') GROUP BY ALL)
        SELECT e.file, count(*) FROM e LEFT JOIN got USING (event_id, user_id, cents)
        WHERE got.n IS NULL OR got.n <> 1 GROUP BY 1""").fetchall()
    for f, n in rows:
        bad_files.add(f)
        msgs.append(f"ingest: {n} rows of {f} missing or repeated in datasets")
    extra = con.sql(replay + f"""
        SELECT count(*) FROM read_parquet('{res}/ingest_datasets/*.parquet') d
        WHERE d.event_id NOT IN (SELECT event_id FROM e)""").fetchone()[0]
    if extra:
        msgs.append(f"ingest: {extra} dataset rows match no arrival")
    # samples: the latest row per user
    rows = con.sql(replay + f"""
        , want AS (SELECT user_id, event_id, cents, file FROM e
                   QUALIFY row_number() OVER (PARTITION BY user_id
                                              ORDER BY batch DESC, us DESC, event_id DESC) = 1)
        , got AS (SELECT user_id, event_id, cents
                  FROM read_parquet('{res}/ingest_samples/*.parquet'))
        SELECT coalesce(want.file, '?'), count(*) FROM want FULL JOIN got USING (user_id)
        WHERE want.event_id IS DISTINCT FROM got.event_id
           OR want.cents IS DISTINCT FROM got.cents GROUP BY 1""").fetchall()
    for f, n in rows:
        if f != "?":
            bad_files.add(f)
        msgs.append(f"ingest: {n} sample rows from {f} disagree with the replay")
    return sorted(bad_files), msgs
