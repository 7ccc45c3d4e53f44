"""Correctness checks on a run's outputs, made with DuckDB and pandas over the
files on disk. Nothing here calls engine code; every check returns a list of
problems (empty = correct).
"""
import glob
import os

import duckdb
import pandas as pd


def _current(wh: str, rel: str):
    pointer = os.path.join(wh, rel, "_CURRENT")
    if not os.path.exists(pointer):
        return None
    with open(pointer) as f:
        return os.path.join(wh, rel, f.read().strip())


def _view(con, name: str, version_dir, empty_sql: str) -> None:
    if version_dir and glob.glob(f"{version_dir}/*.parquet"):
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{version_dir}/*.parquet')")
    else:
        con.execute(f"CREATE VIEW {name} AS {empty_sql}")


# courier_ledger_update.sql: monthly payout per (courier, settlement year,
# month of the ORDER's timestamp); rate_avg over ratings 1-5 only; tier share
# and per-order floor by rate_avg; money exact until the final cast
LEDGER_SQL = """
WITH f AS (
  SELECT f.courier_id, c.courier_name, t.year AS settlement_year,
         t.month AS settlement_month, f.order_sum, f.rating, f.tips
  FROM fct f
  JOIN dm_couriers c ON f.courier_id = c.id
  JOIN dm_orders o ON f.order_id = o.id
  JOIN dm_timestamps t ON o.timestamp_id = t.id),
g AS (
  SELECT courier_id, courier_name, settlement_year, settlement_month,
         count(order_sum) AS orders_count, sum(order_sum) AS total,
         avg(rating) FILTER (WHERE rating BETWEEN 1 AND 5) AS rate_avg,
         sum(tips) AS tips
  FROM f GROUP BY ALL),
p AS (
  SELECT *,
    CASE WHEN rate_avg < 4 THEN 0.05 WHEN rate_avg < 4.5 THEN 0.07
         WHEN rate_avg < 4.9 THEN 0.08 WHEN rate_avg >= 4.9 THEN 0.10 END AS share,
    CASE WHEN rate_avg < 4 THEN 100 WHEN rate_avg < 4.5 THEN 150
         WHEN rate_avg < 4.9 THEN 175 WHEN rate_avg >= 4.9 THEN 200 END AS floor_rate
  FROM g),
q AS (
  SELECT *, CASE WHEN total * share < floor_rate * orders_count
                 THEN CAST(floor_rate * orders_count AS DOUBLE)
                 ELSE CAST(total * share AS DOUBLE) END AS courier_order_sum
  FROM p)
SELECT courier_id, courier_name, settlement_year, settlement_month,
       orders_count,
       CAST(total AS DOUBLE) AS orders_total_sum,
       rate_avg,
       CAST(total * 0.25 AS DOUBLE) AS order_processing_fee,
       courier_order_sum,
       CAST(tips AS DOUBLE) AS courier_tips_sum,
       courier_order_sum + CAST(tips * 0.95 AS DOUBLE) AS courier_reward_sum
FROM q
"""


def dag(wh: str, data: str, days: list) -> list:
    """The delivery DAG's invariants after a run over the `days` sources."""
    problems = []
    con = duckdb.connect()
    srcs = ", ".join(f"'{data}/{d}/deliveries/*.parquet'" for d in days)
    con.execute(f"""CREATE VIEW src AS SELECT
        json_extract_string(json_response, '$.delivery_id') AS k, delivery_ts
        FROM read_parquet([{srcs}])""")
    _view(con, "fct", _current(wh, "dds/fct_deliveries"), "SELECT NULL::VARCHAR AS delivery_key WHERE false")
    _view(con, "quarantine", _current(wh, "dds/quarantine"),
          "SELECT NULL::VARCHAR AS delivery_key, NULL::VARCHAR[] AS _violations WHERE false")
    for t in ("dm_couriers", "dm_orders", "dm_timestamps"):
        _view(con, t, _current(wh, f"dds/{t}"), "SELECT NULL::INT AS id WHERE false")
    _view(con, "ledger", _current(wh, "cdm/ledger"), "SELECT NULL::INT AS courier_id WHERE false")
    _view(con, "wf", _current(wh, "state/wf"),
          "SELECT NULL::VARCHAR AS workflow_key, NULL::TIMESTAMP AS last_loaded_ts WHERE false")

    def scalar(sql):
        return con.execute(sql).fetchone()[0]

    # every rendered delivery key lands exactly once in fct ∪ quarantine
    landed = "SELECT delivery_key AS k FROM fct UNION ALL SELECT delivery_key FROM quarantine"
    dup = scalar(f"SELECT count(*) FROM (SELECT k FROM ({landed}) GROUP BY k HAVING count(*) <> 1)")
    missing = scalar(f"SELECT count(*) FROM (SELECT k FROM src EXCEPT SELECT k FROM ({landed}))")
    extra = scalar(f"SELECT count(*) FROM (SELECT k FROM ({landed}) EXCEPT SELECT k FROM src)")
    if dup or missing or extra:
        problems.append(f"delivery keys: {dup} landed more than once, {missing} never landed, "
                        f"{extra} landed but never rendered")
    bare = scalar("SELECT count(*) FROM quarantine WHERE coalesce(len(_violations), 0) = 0")
    if bare:
        problems.append(f"{bare} quarantined rows carry no reason")

    wm = con.execute("SELECT epoch_us(last_loaded_ts) FROM wf "
                     "WHERE workflow_key = 'deliveries_stg_to_dds'").fetchall()
    top = scalar("SELECT epoch_us(max(delivery_ts)) FROM src")
    if [r[0] for r in wm] != [top]:
        problems.append(f"watermark {wm} != max loaded delivery_ts {top}")

    key = ["courier_id", "settlement_year", "settlement_month"]
    want = con.execute(LEDGER_SQL).df()
    got = con.execute("SELECT * FROM ledger").df()
    problems += frame_diff("cdm/ledger", got[list(want.columns)] if set(want.columns) <= set(got.columns)
                           else got, want, sort_by=key)
    return problems


def frame_diff(name: str, got: pd.DataFrame, want: pd.DataFrame, sort_by=None) -> list:
    """Exact comparison: same columns, same row count, equal values after a
    sort on every column; a column that is integer on one side and float on
    the other is a mismatch even when the numbers agree.
    """
    if sorted(got.columns) != sorted(want.columns):
        return [f"{name}: columns {sorted(got.columns)} != {sorted(want.columns)}"]
    if len(got) != len(want):
        return [f"{name}: {len(got)} rows != {len(want)} expected"]
    cols = sorted(got.columns)
    order = sort_by or cols
    g = got[cols].sort_values(order, ignore_index=True)
    w = want[cols].sort_values(order, ignore_index=True)
    problems = []
    for c in cols:
        a, b = g[c], w[c]
        if (pd.api.types.is_integer_dtype(a) and pd.api.types.is_float_dtype(b)) or \
                (pd.api.types.is_float_dtype(a) and pd.api.types.is_integer_dtype(b)):
            problems.append(f"{name}.{c}: dtype {a.dtype} vs {b.dtype}")
            continue
        if pd.api.types.is_float_dtype(a) or pd.api.types.is_float_dtype(b):
            a, b = a.astype(float), b.astype(float)
            bad = ~((a == b) | (a.isna() & b.isna()))
        else:
            a = a.astype(object).where(pd.notna(a), None)
            b = b.astype(object).where(pd.notna(b), None)
            bad = pd.Series([x != y for x, y in zip(a, b)])
        if bad.any():
            i = int(bad.idxmax())
            problems.append(f"{name}.{c}: {int(bad.sum())} rows differ, first "
                            f"{a.iloc[i]!r} != {b.iloc[i]!r}")
    return problems


def ann(corpus: str, out: str, oracles: dict) -> list:
    """Each query's materialized result against its registry DuckDB oracle."""
    problems = []
    con = duckdb.connect()
    for f in glob.glob(f"{corpus}/*.parquet"):
        t = os.path.basename(f)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{f}')")
    for q, sql in sorted(oracles.items()):
        if not sql:
            problems.append(f"{q}: no oracle")
            continue
        got = pd.read_parquet(f"{out}/{q}")
        problems += frame_diff(q, got, con.execute(sql).df())
    return problems
