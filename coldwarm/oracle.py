"""DuckDB correctness checks for one benchmark run.

Compares the outputs of the run's first pass, left under
`<work>/out/pass-0`, with DuckDB over the same generated inputs. Outputs
that have a `SparkEntry` oracle are compared the way `tools/compare.py`
does: columns sorted by name, rows sorted, exact value hash. The report
text, which has no oracle entry, is parsed and checked against DuckDB
aggregates over the same run records.
"""
import glob
import hashlib
import json
import math
import os
import re

import duckdb

# Outputs whose oracle covers only some of their columns.
PROJECTED = {"sales_data"}

REPORT_RUNS_SQL = """
WITH r AS (
  SELECT event_id, user_id, event_type,
    CAST(round(value * 100, 0) AS BIGINT) AS value_c,
    CAST(json_extract_string(props, '$.iteration') AS BIGINT) AS iteration,
    CAST(json_extract_string(props, '$.stage') AS BIGINT) AS stage
  FROM events WHERE event_type <> 'error')
SELECT * FROM r
QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY event_id) = 1
"""


def norm(df):
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def cell(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return str(v)


def frame_hash(df):
    h = hashlib.sha256()
    for row in df.itertuples(index=False):
        h.update(("\x1f".join(cell(v) for v in row) + "\n").encode())
    return h.hexdigest()


def split_ctes(sql):
    """([(name, column list or None, body)], final statement) of a
    `WITH [RECURSIVE]` query."""
    m = re.match(r"\s*WITH\s+(RECURSIVE\s+)?", sql, re.I)
    if not m:
        return [], sql
    head = re.compile(r"\s*([A-Za-z_]\w*)\s*(\([^)]*\))?\s+AS\s*\(", re.I)
    ctes, i = [], m.end()
    while True:
        h = head.match(sql, i)
        j, depth, quote = h.end(), 1, None
        while depth:
            c = sql[j]
            if quote:
                quote = None if c == quote else quote
            elif c in "'\"":
                quote = c
            else:
                depth += {"(": 1, ")": -1}.get(c, 0)
            j += 1
        ctes.append((h.group(1), h.group(2), sql[h.end():j - 1]))
        rest = sql[j:].lstrip()
        if not rest.startswith(","):
            return ctes, rest
        i = len(sql) - len(rest) + 1


def evaluate(con, sql):
    """Runs an oracle query with each CTE materialized in order. Same
    result as running the statement; DuckDB inlines CTEs that are read
    twice, and on the keep-list chain that needs gigabytes."""
    ctes, final = split_ctes(sql)
    for name, cols, body in ctes:
        if re.search(rf"\b{name}\b", body):
            con.execute(f"CREATE TEMP TABLE {name} AS WITH RECURSIVE "
                        f"{name}{cols or ''} AS ({body}) SELECT * FROM {name}")
        else:
            con.execute(f"CREATE TEMP TABLE {name} AS {body}")
    return con.sql(final).df()


def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET memory_limit = '1GB'")
    for f in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(f)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{f}')")
    return con


def compare_entry(con, sql, out_dir, name):
    """Problems found comparing output `name` with its oracle SQL."""
    want = evaluate(con, sql)
    files = sorted(glob.glob(os.path.join(out_dir, name, "*.parquet")))
    if not files:
        return [f"{name}: no output files"]
    got = con.sql(f"SELECT * FROM read_parquet({files!r})").df()
    if name in PROJECTED:
        missing = set(want.columns) - set(got.columns)
        if missing:
            return [f"{name}: missing columns {sorted(missing)}"]
        got = got[list(want.columns)]
    want, got = norm(want), norm(got)
    if list(want.columns) != list(got.columns):
        return [f"{name}: columns want={list(want.columns)} got={list(got.columns)}"]
    if len(want) != len(got):
        return [f"{name}: rows want={len(want)} got={len(got)}"]
    if frame_hash(want) != frame_hash(got):
        bad = [c for c in want.columns if (want[c].astype(str) != got[c].astype(str)).any()]
        return [f"{name}: hash mismatch in columns {bad}"]
    return []


def digest(pass_dir, name):
    """Order-insensitive digest of one pass output: sorted lines of a text
    output, or row count and row-hash aggregates of a parquet output."""
    text = os.path.join(pass_dir, f"{name}.txt")
    if os.path.exists(text):
        with open(text) as f:
            return hashlib.sha256("\n".join(sorted(f.read().split("\n"))).encode()).hexdigest()
    files = sorted(glob.glob(os.path.join(pass_dir, name, "*.parquet")))
    if not files:
        return None
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    row = con.sql(f"SELECT * FROM read_parquet({files!r})")
    cols = ", ".join(f'"{c}"' for c in row.columns)
    n, x, s = con.sql(f"""SELECT count(*), bit_xor(h), sum(h % 1000000007)
        FROM (SELECT hash({cols}) AS h FROM read_parquet({files!r}))""").fetchone()
    return f"{n}:{x}:{s}"


def report_sections(text):
    """Blank-line-separated sections of the report, as lists of lines."""
    sections, cur = [], []
    for line in text.split("\n"):
        if line.strip():
            cur.append(line)
        elif cur:
            sections.append(cur)
            cur = []
    if cur:
        sections.append(cur)
    return sections


def check_report(con, out_dir):
    """Problems found in the report text and the successful-run count."""
    runs = con.sql(REPORT_RUNS_SQL).df()
    problems = []
    with open(os.path.join(out_dir, "successful_runs.txt")) as f:
        if int(f.read()) != len(runs):
            problems.append(f"successful runs: want {len(runs)}")
    with open(os.path.join(out_dir, "report.txt")) as f:
        text = f.read()
    if f"Successful Runs: {len(runs)}" not in text:
        problems.append("report: wrong 'Successful Runs' line")
    sections = report_sections(text)
    raw = next((s for s in sections if s[0] == "Raw results of each run:"), None)
    if raw is None:
        return problems + ["report: no raw section"]
    header = raw[1].split(",")
    rows = [r.split(",") for r in raw[2:] if not r.startswith("Successful Runs:")]
    ids = sorted(int(r[header.index("event_id")]) for r in rows)
    if ids != sorted(runs["event_id"].tolist()):
        problems.append(f"report: raw section has {len(ids)} runs, want {len(runs)}")
    for cat in ("event_type", "iteration", "stage"):
        sec = next((s for s in sections if s[0] == f"Category {cat}:"), None)
        if sec is None:
            problems.append(f"report: no section for {cat}")
            continue
        cols = sec[1].split(",")
        got = {r.split(",")[0]: dict(zip(cols, r.split(",")))
               for r in sec[2:] if not r.startswith("Total number")}
        want = runs.groupby(cat)
        if sorted(got) != sorted(str(k) for k in want.groups):
            problems.append(f"report: {cat} groups {sorted(got)}")
            continue
        for key, g in want:
            row = got[str(key)]
            if int(row["uses"]) != len(g) or int(row["sum_value_c"]) != int(g["value_c"].sum()):
                problems.append(f"report: {cat}={key} uses/sum mismatch")
            for c in ("iteration", "stage"):
                if f"avg_{c}" in row and abs(float(row[f"avg_{c}"]) - g[c].mean()) > 0.0051:
                    problems.append(f"report: {cat}={key} avg_{c} mismatch")
            if "stage_list" in row:
                want_list = ";".join(sorted({str(v) for v in g["stage"]}))
                if row["stage_list"] != want_list:
                    problems.append(f"report: {cat}={key} stage_list mismatch")
    return problems


def check(workload, data_dir, work_dir):
    """Runs every check; returns [(check name, [problems])]."""
    out_dir = os.path.join(work_dir, "out", "pass-0")
    with open(os.path.join(work_dir, "oracle.json")) as f:
        oracle = json.load(f)
    oracle_sql, outputs = oracle["sql"], oracle["outputs"]
    results = []
    for name, entry in sorted(outputs.items()):
        try:
            results.append((name, compare_entry(connect(data_dir), oracle_sql[entry],
                                                out_dir, name)))
        except Exception as e:  # a failing check is a failed operation
            results.append((name, [f"{name}: {e!r}"]))
    if workload == "tlq_report":
        try:
            results.append(("report", check_report(connect(data_dir), out_dir)))
        except Exception as e:
            results.append(("report", [f"report: {e!r}"]))
    return results
