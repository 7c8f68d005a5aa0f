"""Output checks of a benchmark run against DuckDB.

Every checked output is compared with the repo's canonical compare
(`canon` in `tools/check.py`: columns sorted by name, rows sorted, floats
rounded to 9 digits) after the same pandas dtype-kind check `check.py`
makes. The outputs of the cold pass and of the warm-up pass are both
checked, since a warm call may serve an artifact the cold call built.
Returns one message per wrong output; an empty list means correct.
"""
import importlib.util
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

DEDUP = """SELECT * EXCLUDE (rn) FROM (SELECT *, row_number() OVER (
  PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) AS rn
  FROM {src}) WHERE rn = 1"""


def _canon():
    spec = importlib.util.spec_from_file_location(
        "repo_check", os.path.join(os.getcwd(), "tools", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.canon


def connect(data_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    return con


def same(canon, got_df, want_df):
    """None when equal under the canonical compare, else the reason."""
    kinds = {c: k.kind for c, k in got_df.dtypes.items()}
    want = {c: k.kind for c, k in want_df.dtypes.items()}
    diff = {c for c in set(kinds) | set(want)
            if kinds.get(c) != want.get(c) and {kinds.get(c), want.get(c)} & {"f"}}
    if diff:
        return f"dtype kind mismatch {sorted(diff)}"
    gc, gr = canon(list(got_df.itertuples(index=False, name=None)), list(got_df.columns))
    ec, er = canon(list(want_df.itertuples(index=False, name=None)), list(want_df.columns))
    if gc != ec:
        return f"columns {gc} != {ec}"
    if gr != er:
        return f"{len(gr)} vs {len(er)} rows differ"
    return None


def check(checks, data_dir, results_dir):
    canon = _canon()
    con = connect(data_dir)
    errors = _setup(con, checks["setup_counts"])
    want = dict(checks.get("queries", {}))
    if "merge" in checks:
        union = (f"SELECT * FROM events UNION ALL "
                 f"SELECT * FROM read_parquet('{checks['merge']['slice']}')")
        want["merge"] = DEDUP.format(src=f"({union})")
    for phase in ("cold", "warm"):
        for name, sql in sorted(want.items()):
            path = os.path.join(results_dir, phase, name)
            if not os.path.isdir(path):
                # the op failed and is counted there
                errors.append(f"{phase} {name}: no output")
                continue
            try:
                got = con.execute(f"SELECT * FROM read_parquet('{path}/*.parquet')").df()
                bad = same(canon, got, con.execute(sql).df())
            except Exception as e:  # noqa: BLE001 - any DuckDB error is a failed check
                bad = str(e).splitlines()[0]
            if bad:
                errors.append(f"{phase} {name}: {bad}")
    if "dashboard" in checks:
        errors += _dashboard(con, checks["dashboard"])
    return errors


def _dashboard(con, responses):
    con.execute(f"CREATE TEMP TABLE fact AS {DEDUP.format(src='events')}")
    errors = []
    for i, r in enumerate(responses):
        types = ", ".join(f"'{t}'" for t in r["types"])
        where = (f"CAST(ts AS DATE) BETWEEN DATE '{r['from']}' AND DATE '{r['to']}'"
                 f" AND value >= {r['min']}" + (f" AND event_type IN ({types})" if types else ""))
        buckets = con.execute(f"""
            SELECT b.lo, b.hi, count(f.event_id) AS n_events
            FROM (SELECT CAST(range AS INT) AS lo, CAST(range + 50 AS INT) AS hi
                  FROM range(0, 500, 50)) b
            LEFT JOIN (SELECT * FROM fact WHERE {where}) f
              ON f.value >= b.lo AND f.value < b.hi
            GROUP BY b.lo, b.hi ORDER BY b.lo""").fetchall()
        metrics = con.execute(f"""
            SELECT count(*), round(1e-9 + avg(value), 4), round(1e-9 + median(value), 4)
            FROM fact WHERE {where}""").fetchall()
        if _rows(r["buckets"]) != _rows(buckets) or _rows(r["metrics"]) != _rows(metrics):
            errors.append(f"dashboard request {i} {r['from']}..{r['to']}: "
                          f"{r['metrics']} != {metrics}")
    return errors


def _rows(rows):
    return [tuple(round(v, 9) if isinstance(v, float) else v for v in row)
            for row in rows]


def _setup(con, counts):
    """The row counts `Engine.runEtl` verified in the last set-up."""
    want = dict(zip(("daily", "fact", "events"), con.execute(f"""
        SELECT (SELECT count(DISTINCT CAST(ts AS DATE)) FROM events),
               (SELECT count(*) FROM ({DEDUP.format(src='events')})),
               (SELECT count(*) FROM events)""").fetchone()))
    return [] if counts == want else [f"runEtl counts {counts} != {want}"]
