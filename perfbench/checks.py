"""Output checks: the program's outputs against values computed
independently with DuckDB.

lab2: accuracy, plus the Task-1 matches and the nonzero cells of the
Task-2 category matrix, compared as sets keyed by id pair. The Task-1
SQL is the program's own oracle (`Lab2Queries.q54Sql`/`q55Sql`) pointed
at the generated file; Task 2 is re-derived here in plain SQL. Values
are rounded to 6 decimals on both sides, from floating sums whose order
differs between engines and between Spark runs; a sum that lands on a
rounding tie (0.5171875) then rounds either way, so a value may differ
by one unit in the 6th decimal and no more.

lifecycle: each query's parquet output against the registry's oracle
SQL, both canonicalized the way `tools/local_verify.py` does (columns
sorted by name, rows sorted, doubles rounded to 1e-9).
"""
import csv
import glob
import hashlib
import os
import re

import duckdb

PAPERS_COLUMNS = ("columns={'id':'VARCHAR','title':'VARCHAR',"
                  "'abstract':'VARCHAR','categories':'VARCHAR'}")


# one unit in the 6th decimal, plus the error of printing and parsing it
TOLERANCE = 1e-6 + 1e-9


def keyed(rows):
    """(a, b, value) rows as sorted [[a, b, value]] lists (JSON-friendly)."""
    return sorted([str(a), str(b), float(v)] for a, b, v in rows)


def nonzero(cells):
    return [c for c in cells if float(c[2]) != 0.0]


def same_values(want, got, missing=None):
    """True when two keyed() row lists hold the same id pairs, each once,
    with values within TOLERANCE. With `missing` set, an id pair present
    on one side only compares as that value (a matrix cell that rounds
    to 0 on one side)."""
    w = {(a, b): v for a, b, v in want}
    g = {(a, b): v for a, b, v in got}
    if len(w) != len(want) or len(g) != len(got):
        return False
    if missing is None and w.keys() != g.keys():
        return False
    return all(abs(w.get(k, missing) - g.get(k, missing)) <= TOLERANCE
               for k in w.keys() | g.keys())


def _sql_str(s):
    return s.replace("'", "''")


def task2_sql(papers_path, stopwords):
    """Task 2 of Lab2Pipeline.run: per-category L2-normalized raw TF over
    abstract tokens, category key = lowercase + right-trim, cosine of
    every pair of categories with a shared word."""
    stop = ", ".join(f"'{_sql_str(w)}'" for w in stopwords)
    return f"""
WITH papers AS (
  SELECT * FROM read_json('{_sql_str(papers_path)}', format='newline_delimited', {PAPERS_COLUMNS})),
p AS (SELECT regexp_replace(lower(categories), '\\s+$', '') AS cat, abstract FROM papers),
toks AS (
  SELECT cat, word FROM (
    SELECT cat, unnest(string_split(trim(regexp_replace(lower(abstract), '(\\d|\\W)+', ' ', 'g')), ' ')) AS word
    FROM p)
  WHERE word <> '' AND word NOT IN ({stop})),
tf AS (SELECT cat, word, CAST(count(*) AS DOUBLE) AS w FROM toks GROUP BY cat, word),
vec AS (SELECT cat, word, w / sqrt(sum(w * w) OVER (PARTITION BY cat)) AS w FROM tf)
SELECT a.cat AS l_id, b.cat AS r_id, round(sum(a.w * b.w), 6) AS sim
FROM vec a JOIN vec b USING (word)
GROUP BY a.cat, b.cat"""


def task2_keys_sql(papers_path):
    return f"""SELECT count(DISTINCT regexp_replace(lower(categories), '\\s+$', ''))
FROM read_json('{_sql_str(papers_path)}', format='newline_delimited', {PAPERS_COLUMNS})"""


def lab2_expected(sql_template, papers_path):
    """Expected lab2 outputs for one generated file, computed with DuckDB."""
    placeholder = sql_template["papers_path"]
    q54 = sql_template["q54"].replace(placeholder, papers_path)
    q55 = sql_template["q55"].replace(placeholder, papers_path)
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    acc, n_matched, n = con.execute(q55).fetchone()
    matches = con.execute(q54).fetchall()
    cells = con.execute(task2_sql(papers_path, sql_template["stopwords"])).fetchall()
    keys = con.execute(task2_keys_sql(papers_path)).fetchone()[0]
    con.close()
    return {
        "accuracy": f"{acc:.6f}",
        "n_matched": n_matched,
        "n": n,
        "matches": keyed(matches),
        "cells": keyed(nonzero(cells)),
        "keys": keys,
    }


def _one(path_glob):
    files = sorted(glob.glob(path_glob))
    if len(files) != 1:
        raise ValueError(f"expected one file for {path_glob}, found {len(files)}")
    return files[0]


def lab2_observed(out_dir):
    """One operation's sink outputs, in the form of lab2_expected."""
    with open(_one(os.path.join(out_dir, "accuracy", "part-*")), encoding="utf-8") as f:
        m = re.fullmatch(r"\(accuracy, ([0-9.Ee+-]+)\)\s*", f.read())
    if not m:
        raise ValueError("accuracy output is not an ('accuracy', x) tuple")
    con = duckdb.connect()
    matches = con.execute(
        "SELECT title_id, abstract_id, cosine FROM read_parquet(?)",
        [_one(os.path.join(out_dir, "matches", "part-*.parquet"))]).fetchall()
    con.close()
    with open(_one(os.path.join(out_dir, "heatmap", "part-*.csv")), newline="",
              encoding="utf-8") as f:
        rows = csv.reader(f)
        header = next(rows)
        keys = header[1:]
        cells = []
        n_rows = 0
        for row in rows:
            n_rows += 1
            cells.extend((row[0], r, v) for r, v in zip(keys, row[1:]))
    cells = keyed(nonzero(cells))
    return {
        "accuracy": f"{float(m.group(1)):.6f}",
        "n_matched": len(matches),
        "matches": keyed(matches),
        "cells": cells,
        "keys": len(keys) if n_rows == len(keys) else -1,
        "nonzero_cells": len(cells),
    }


def lab2_mismatches(want, got):
    """Names of the checked values that differ (empty when they agree):
    expected against observed, or one run's outputs against another's."""
    bad = [k for k in ("accuracy", "n_matched", "keys") if want[k] != got[k]]
    if not same_values(want["matches"], got["matches"]):
        bad.append("matches")
    if not same_values(want["cells"], got["cells"], missing=0.0):
        bad.append("matrix")
    return bad


# ---------------------------------------------------------------- lifecycle

def canon_hash(df):
    """tools/local_verify.py's canonical form, hashed."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype in ("float64", "float32"):
            df[c] = df[c].astype("float64").round(9)
        if str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        if df[c].dtype == object:
            df[c] = df[c].apply(
                lambda v: tuple(v) if isinstance(v, list) or
                type(v).__name__ == "ndarray" else v)
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    body = df.to_csv(index=False, float_format="%.9f")
    return f"{len(df)}:{hashlib.sha256(body.encode()).hexdigest()[:16]}"


def oracle_connection(data_dir):
    """DuckDB with one view per `<table>.parquet` of data_dir."""
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for p in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        t = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{_sql_str(p)}')")
    return con


def query_output_hash(out_dir):
    import pyarrow.parquet as pq
    return canon_hash(pq.read_table(out_dir).to_pandas())
