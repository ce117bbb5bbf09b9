"""Output gate: reference checksums computed in DuckDB, outside the timed runs.

The consume workloads use the repo's own oracle SQL for `pipe_consume_e2e`
(exported from `SparkEntry.oracleSql` at build time) with one rewrite: its
CDC-repair range join (`v.ts <= d.ts`, quadratic on hot keys) becomes the
equivalent `ASOF JOIN`. The rewrite is exact on the generated inputs, where
no two versions of a key share a timestamp. The corpus workload uses the
generator's planted ground truth.

The checksum is (rows, sum of md5 bits 0-31, sum of bits 32-63) over a
canonical text form of each row; `perfbench.Workloads.checksum` computes the
same form in Spark.
"""

import gzip
import glob
import os

import duckdb

RANGE_JOIN = ("    JOIN (SELECT user_id, ts, event_id, value FROM events",
              "      ON d.user_id = v.user_id AND v.ts <= d.ts")
ASOF_JOIN = ("    ASOF JOIN (SELECT user_id, ts, event_id, value FROM events",
             "      ON d.user_id = v.user_id AND d.ts >= v.ts")
MONTH = "2024-01"  # the month the daily job replaces
SEEDED_MONTHS = ["2023-10", "2023-11", "2023-12"]
# the consume pipeline's result columns (`perfbench.Workloads.ConsumeCols`)
CONSUME_COLS = ["user_id", "event_type", "ts", "value", "last_signup_value", "n_clicks",
                "click_value", "n_views", "c_name", "c_mktsegment", "price_src", "geoid",
                "n_name", "partition_month", "iteration"]


def connect(tmp_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET enable_progress_bar = false")
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    return con


def _canon(con, relation):
    cols = con.execute(f"DESCRIBE SELECT * FROM ({relation})").fetchall()
    parts = []
    for name, typ, *_ in sorted(cols):
        c = f'"{name}"'
        if typ.startswith("TIMESTAMP"):
            s = f"CAST(epoch_us({c}) AS VARCHAR)"
        elif typ in ("DOUBLE", "FLOAT", "REAL"):
            s = f"CAST(CAST(round({c} * 1000) AS BIGINT) AS VARCHAR)"
        else:
            s = f"CAST({c} AS VARCHAR)"
        parts.append(f"coalesce({s}, '~')")
    return "md5(concat_ws('|', " + ", ".join(parts) + "))"


def checksum(con, relation):
    """[rows, sum32a, sum32b] of a SQL relation, as the harness computes it."""
    h = _canon(con, relation)
    row = con.execute(f"""
        SELECT count(*),
               coalesce(sum(('0x' || substr(h, 1, 8))::BIGINT), 0),
               coalesce(sum(('0x' || substr(h, 9, 8))::BIGINT), 0)
        FROM (SELECT {h} AS h FROM ({relation}))""").fetchone()
    return [int(x) for x in row]


def consume_oracle(oracle_sql):
    sql = oracle_sql
    for old, new in zip(RANGE_JOIN, ASOF_JOIN):
        if sql.count(old) != 1:
            raise SystemExit("perfbench: the pipe_consume_e2e oracle changed shape; "
                             "update the ASOF rewrite in perfbench/gate.py")
        sql = sql.replace(old, new)
    return sql


def register(con, data_dir, tables):
    for t in tables:
        con.execute(f"CREATE OR REPLACE VIEW {t} AS "
                    f"SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")


def reference(con, workload, data_dir, oracle_dir):
    """Reference checksums for one (workload, seed) input."""
    if workload == "corpus_neardup":
        return {"result": checksum(con, f"SELECT * FROM read_parquet('{data_dir}/expected_kept.parquet')")}
    register(con, data_dir, ["events", "customer", "orders", "nation"])
    with open(os.path.join(oracle_dir, "pipe_consume_e2e.sql")) as f:
        sql = consume_oracle(f.read())
    con.execute(f"CREATE OR REPLACE TABLE expected AS {sql}")
    ref = {"result": checksum(con, "SELECT * FROM expected")}
    if workload == "consume_daily":
        months = [m for (m,) in con.execute("SELECT DISTINCT partition_month FROM expected").fetchall()]
        if months != [MONTH]:
            raise SystemExit(f"perfbench: daily input spans months {months}, expected only {MONTH}")
        ref["iteration_rows"] = dict(con.execute(
            "SELECT iteration, count(*) FROM expected GROUP BY 1").fetchall())
        ref["seeded"] = {}
    return ref


def preseed(con, table_dir, ref):
    """Lay down older month partitions plus a stale copy of the replaced
    month before a daily run: the run must replace the latter and keep the
    former byte-for-byte.
    """
    for i, month in enumerate(SEEDED_MONTHS + [MONTH]):
        part = os.path.join(table_dir, f"partition_month={month}")
        os.makedirs(part, exist_ok=True)
        rows = f"""SELECT * EXCLUDE (partition_month, iteration),
                          '{"stale" if month == MONTH else "seeded"}' AS iteration
                   FROM expected ORDER BY user_id, ts, iteration LIMIT 500 OFFSET {i * 500}"""
        con.execute(f"COPY ({rows}) TO '{part}/part-seed.parquet' (FORMAT PARQUET)")
        if month != MONTH:
            ref["seeded"][month] = checksum(con, f"SELECT *, '{month}' AS partition_month FROM ({rows})")


def _partition(table_dir, month):
    return (f"SELECT *, '{month}' AS partition_month FROM "
            f"read_parquet('{table_dir}/partition_month={month}/*.parquet', hive_partitioning = false)")


def _gz_lines(pattern):
    n = 0
    for path in glob.glob(pattern):
        with gzip.open(path, "rt") as f:
            n += sum(1 for _ in f)
    return n


def check_daily(con, out_dir, ref):
    """Problems found in a daily run's committed output; empty when it passes."""
    problems = []
    table = os.path.join(out_dir, "table")
    months = sorted(d.split("=", 1)[1] for d in os.listdir(table) if d.startswith("partition_month="))
    if months != sorted(SEEDED_MONTHS + [MONTH]):
        problems.append(f"table months {months}")
    cols = ", ".join(f'"{c}"' for c in CONSUME_COLS)
    got = checksum(con, f"SELECT {cols} FROM ({_partition(table, MONTH)})")
    if got != ref["result"]:
        problems.append(f"month {MONTH}: checksum {got} != reference {ref['result']}")
    for month, want in ref["seeded"].items():
        got = checksum(con, _partition(table, month))
        if got != want:
            problems.append(f"seeded month {month} changed: {got} != {want}")
    for it, want in ref["iteration_rows"].items():
        n_json = _gz_lines(os.path.join(out_dir, "json", it, "*.json.gz"))
        n_csv = _gz_lines(os.path.join(out_dir, "csv", it, "*.csv.gz")) - 1
        if (n_json, n_csv) != (want, want):
            problems.append(f"{it} export rows json={n_json} csv={n_csv}, expected {want}")
    return problems


def check_result(got, ref):
    if got != ref["result"]:
        return [f"checksum {got} != reference {ref['result']}"]
    return []
