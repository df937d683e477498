"""Independent DuckDB reference for the benchmark's output checks.

The expected per-sink results are recomputed from `events.parquet` with SQL
that mirrors `graft.Oracles` (turnsCte, routedCte, limitCtes), with the
workload's own rate-limit thresholds in place of the oracle's fixed ones.
The committed sink files of a `Pipeline.run` output are read back with
DuckDB and compared sink by sink on rows, bytes, distinct conversations and
an order-independent hash of (conv_id, turn_idx, text).
"""
import glob
import json
import os

import duckdb

# Oracles.turnsCte, verbatim in meaning.
TURNS = """
  SELECT
    'conv-' || lpad(cast(user_id AS varchar), 5, '0') AS conv_id,
    cast(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS int) AS turn_idx,
    CASE event_type WHEN 'click' THEN 'user' WHEN 'view' THEN 'assistant'
      WHEN 'signup' THEN 'user' WHEN 'purchase' THEN 'assistant'
      WHEN 'error' THEN 'tool' END AS role,
    CASE WHEN event_id % 17 = 0 THEN '?raw? ' || props
      ELSE '[' || CASE WHEN event_type = 'error' THEN 'ERROR'
                       WHEN event_type = 'signup' THEN 'WARN' ELSE 'INFO' END
        || '] tool=' || CASE event_type WHEN 'click' THEN 'none' WHEN 'view' THEN 'search'
                          WHEN 'signup' THEN 'edit' WHEN 'purchase' THEN 'bash'
                          WHEN 'error' THEN 'bash' END
        || ' dur=' || cast(cast(floor(value * 10) AS bigint) AS varchar)
        || 'ms status=' || CASE WHEN value >= 50 THEN 'ok' ELSE 'err' END
        || ' ' || props END AS text,
    CASE event_type WHEN 'click' THEN 'none' WHEN 'view' THEN 'search'
      WHEN 'signup' THEN 'edit' WHEN 'purchase' THEN 'bash'
      WHEN 'error' THEN 'bash' END AS tool,
    ts,
    CASE WHEN event_id % 17 = 0 THEN NULL
      ELSE CASE WHEN event_type = 'error' THEN 'ERROR'
                WHEN event_type = 'signup' THEN 'WARN' ELSE 'INFO' END END AS level
  FROM events"""

# Oracles.routedCte (Router.defaultRules plus the dead-letter complement).
ROUTED = """
  SELECT *, 'sink_a' AS sink FROM turns
    WHERE level IS NOT NULL AND tool = 'bash' AND role = 'assistant'
  UNION ALL
  SELECT *, 'sink_b' AS sink FROM turns WHERE level IS NOT NULL AND role = 'tool'
  UNION ALL
  SELECT *, 'sink_err' AS sink FROM turns
    WHERE level IS NOT NULL AND level IN ('ERROR', 'WARN')
  UNION ALL
  SELECT *, 'sink_search' AS sink FROM turns WHERE level IS NOT NULL AND tool = 'search'
  UNION ALL
  SELECT *, 'dead_letter' AS sink FROM turns
    WHERE level IS NULL OR NOT ((tool = 'bash' AND role = 'assistant')
      OR role = 'tool' OR level IN ('ERROR', 'WARN') OR tool = 'search')"""

# Oracles.limitCtes with the thresholds as parameters: sink_search breaches
# reroute to sink_fallback, sink_fallback breaches are discarded.
LIMITS = """
  bb1 AS (
    SELECT date_trunc('hour', ts) AS bucket, sum(strlen(text)) AS bucket_bytes
    FROM routed WHERE sink = 'sink_search' GROUP BY 1),
  v1 AS (
    SELECT bucket FROM (
      SELECT bucket, avg(bucket_bytes) OVER
        (ORDER BY bucket ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS a
      FROM bb1) WHERE a > {search}),
  r1 AS (
    SELECT r.conv_id, r.turn_idx, r.role, r.text, r.tool, r.ts,
      CASE WHEN r.sink = 'sink_search' AND v1.bucket IS NOT NULL
           THEN 'sink_fallback' ELSE r.sink END AS sink,
      r.sink AS orig_sink
    FROM routed r LEFT JOIN v1
      ON r.sink = 'sink_search' AND date_trunc('hour', r.ts) = v1.bucket),
  bb2 AS (
    SELECT date_trunc('hour', ts) AS bucket, sum(strlen(text)) AS bucket_bytes
    FROM r1 WHERE sink = 'sink_fallback' GROUP BY 1),
  v2 AS (
    SELECT bucket FROM (
      SELECT bucket, avg(bucket_bytes) OVER
        (ORDER BY bucket ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS a
      FROM bb2) WHERE a > {fallback}),
  r2 AS (
    SELECT r.* FROM r1 r LEFT JOIN v2
      ON r.sink = 'sink_fallback' AND date_trunc('hour', r.ts) = v2.bucket
    WHERE v2.bucket IS NULL),
  d2 AS (
    SELECT r.* FROM r1 r JOIN v2
      ON r.sink = 'sink_fallback' AND date_trunc('hour', r.ts) = v2.bucket)"""

SINK_STATS = """
  SELECT sink, count(*) AS rows, cast(sum(strlen(text)) AS bigint) AS bytes,
    count(DISTINCT conv_id) AS convs,
    cast(sum(hash(conv_id, turn_idx, text)::hugeint) AS varchar) AS hash
  FROM {src} GROUP BY sink ORDER BY sink"""


def _connect(work_dir):
    con = duckdb.connect()
    tmp = os.path.join(work_dir, "duckdb_tmp")
    os.makedirs(tmp, exist_ok=True)
    con.execute(f"SET temp_directory = '{tmp}'")
    con.execute("SET memory_limit = '1GB'")
    con.execute("SET threads = 4")
    con.execute("SET TimeZone = 'UTC'")
    return con


def _rows(con, sql):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return [dict(zip(cols, r)) for r in cur.fetchall()]


def expected(input_dir, search_limit, fallback_limit, work_dir):
    """Expected pipeline output of one (workload, seed): per-final-sink stats,
    routed (fan-out) rows, limiter cells, breached cells, rerouted and
    dropped rows."""
    con = _connect(work_dir)
    con.execute(f"CREATE VIEW events AS SELECT * FROM "
                f"read_parquet('{input_dir}/events.parquet')")
    limits = LIMITS.format(search=float(search_limit), fallback=float(fallback_limit))
    con.execute(f"CREATE TEMP TABLE turns AS {TURNS}")
    con.execute(f"CREATE TEMP TABLE routed AS {ROUTED}")
    pre = f"WITH {limits} "
    sinks = {r["sink"]: r for r in _rows(con, pre + SINK_STATS.format(src="r2"))}
    one = lambda sql: con.execute(pre + sql).fetchone()[0]
    out = {
        "sinks": sinks,
        "turns": con.execute("SELECT count(*) FROM turns").fetchone()[0],
        "routed_rows": con.execute("SELECT count(*) FROM routed").fetchone()[0],
        "cells": con.execute(
            "SELECT count(DISTINCT (sink, date_trunc('hour', ts))) FROM routed").fetchone()[0],
        "rerouted_cells": one("SELECT count(*) FROM v1"),
        "breached_cells": one("SELECT (SELECT count(*) FROM v1) + (SELECT count(*) FROM v2)"),
        "rerouted_rows": one("SELECT count(*) FROM r1 WHERE orig_sink <> sink"),
        "dropped_rows": one("SELECT count(*) FROM d2"),
        "text_bytes": con.execute("SELECT sum(strlen(text)) FROM turns").fetchone()[0],
    }
    con.close()
    return out


def check_pipeline_output(out_root, run_id, want, work_dir):
    """Compares one Pipeline.run output directory with `expected`. Returns
    (list of mismatch strings, facts about the output)."""
    errors = []
    con = _connect(work_dir)
    got = {}
    for sink_dir in sorted(glob.glob(os.path.join(out_root, "sinks", "*"))):
        sink = os.path.basename(sink_dir)
        files = glob.glob(os.path.join(sink_dir, "**", "*.parquet"), recursive=True)
        if not files:
            got[sink] = {"rows": 0}
            continue
        src = f"(SELECT '{sink}' AS sink, * FROM read_parquet({files!r}, hive_partitioning = false))"
        got[sink] = _rows(con, SINK_STATS.format(src=src))[0]
    con.close()
    exp = want["sinks"]
    for sink in sorted(set(exp) | set(got)):
        e, g = exp.get(sink), got.get(sink)
        if e is None or g is None:
            errors.append(f"{sink}: present in {'output' if e is None else 'reference'} only")
            continue
        for k in ("rows", "bytes", "convs", "hash"):
            if e[k] != g.get(k):
                errors.append(f"{sink}: {k} {g.get(k)} != expected {e[k]}")

    manifest = os.path.join(out_root, "_manifest")
    for sink, e in exp.items():
        try:
            with open(os.path.join(manifest, f"{sink}.json")) as f:
                m = json.load(f)
        except (OSError, ValueError) as ex:
            errors.append(f"{sink}: manifest entry unreadable ({ex})")
            continue
        for k, mk in (("rows", "row_count"), ("bytes", "bytes"), ("convs", "convs")):
            if m.get(mk) != e[k]:
                errors.append(f"{sink}: manifest {mk} {m.get(mk)} != expected {e[k]}")
    metrics = {}
    try:
        with open(os.path.join(manifest, f"_metrics_{run_id}.json")) as f:
            metrics = json.load(f)
        if metrics.get("routed_rows") != want["routed_rows"]:
            errors.append(f"routed_rows {metrics.get('routed_rows')} != {want['routed_rows']}")
    except (OSError, ValueError) as ex:
        errors.append(f"metrics record unreadable ({ex})")

    files = glob.glob(os.path.join(out_root, "sinks", "**", "*.parquet"), recursive=True)
    facts = {"metrics": metrics, "sink_files": len(files),
             "sink_bytes": sum(os.path.getsize(p) for p in files)}
    return errors, facts


def check_query_results(input_dir, results_dir, work_dir):
    """Compares each query result Spark wrote under `results_dir` with its
    `SparkEntry.oracleSql` text run in DuckDB, as multisets over the columns
    in name order. Returns (mismatch strings, result bytes on disk)."""
    errors = []
    con = _connect(work_dir)
    con.execute(f"CREATE VIEW events AS SELECT * FROM "
                f"read_parquet('{input_dir}/events.parquet')")
    with open(os.path.join(results_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    size = 0
    for name, sql in sorted(oracle.items()):
        files = glob.glob(os.path.join(results_dir, name, "*.parquet"))
        size += sum(os.path.getsize(p) for p in files)
        con.execute(f"CREATE OR REPLACE TEMP TABLE want AS {sql}")
        if not files:
            errors.append(f"{name}: no Spark output")
            continue
        con.execute(f"CREATE OR REPLACE TEMP TABLE got AS SELECT * FROM read_parquet({files!r})")
        cols = lambda t: sorted(r[0] for r in con.execute(f"DESCRIBE {t}").fetchall())
        if cols("got") != cols("want"):
            errors.append(f"{name}: columns {cols('got')} != {cols('want')}")
            continue
        sel = ", ".join(f'"{c}"' for c in cols("want"))
        n_got = con.execute("SELECT count(*) FROM got").fetchone()[0]
        n_want = con.execute("SELECT count(*) FROM want").fetchone()[0]
        diff = con.execute(
            f"SELECT count(*) FROM ((SELECT {sel} FROM got EXCEPT ALL SELECT {sel} FROM want) "
            f"UNION ALL (SELECT {sel} FROM want EXCEPT ALL SELECT {sel} FROM got))").fetchone()[0]
        if n_got != n_want or diff:
            errors.append(f"{name}: {n_got} rows vs {n_want} expected, {diff} differ")
    con.close()
    return errors, size
