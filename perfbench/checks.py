"""Output checks, run outside the timed region. Expected values come from
DuckDB over the generated inputs, never from graft. Each check returns a
list of problems for one op; an empty list means the op answered right.
"""
import glob
import json
import math
import os

import duckdb
import pandas as pd

import gen


def connect(threads):
    con = duckdb.connect()
    con.execute(f"SET threads={threads}")
    con.execute("SET TimeZone='UTC'")
    return con


# --------------------------------------------------------------- pipeline

def _ok_predicate():
    regex = gen.EMAIL_REGEX.replace("'", "''")
    return f"""session_id IS NOT NULL
      AND NOT coalesce(trim(country) = '', false)
      AND NOT coalesce(NOT regexp_matches(email, '{regex}'), false)
      AND NOT coalesce(amount < 0, false)"""


class PipelineExpect:
    """Per-batch OK/KO counts and the keep-newest rows after each prefix
    of the batch sequence, computed from the generated JSON batches."""

    def __init__(self, con, pool, dates):
        self.con, self.dates = con, dates
        files = ", ".join(f"'{pool}/batch-{d}/part-00000.json'" for d in dates)
        con.execute(f"""CREATE TABLE src AS
          SELECT *, CAST(regexp_extract(filename, 'batch-([0-9-]+)', 1) AS DATE) AS batch_date
          FROM read_json([{files}], filename=true, format='newline_delimited', columns={{
            event_id: 'BIGINT', user_key: 'VARCHAR', session_id: 'VARCHAR', email: 'VARCHAR',
            country: 'VARCHAR', amount: 'DOUBLE', event_ts: 'VARCHAR'}})""")
        con.execute(f"CREATE TABLE ok AS SELECT * FROM src WHERE {_ok_predicate()}")
        self.counts = {str(d): (int(n), int(k)) for d, n, k in con.execute(
            f"""SELECT batch_date, count(*), count(*) FILTER (WHERE NOT ({_ok_predicate()}))
                FROM src GROUP BY 1""").fetchall()}
        self.rows = {d: self.counts[d][0] for d in dates}
        self.input_bytes = {d: os.path.getsize(f"{pool}/batch-{d}/part-00000.json") for d in dates}

    def ok_rows(self, date):
        n, k = self.counts[date]
        return n - k

    def check(self, op):
        """Problems with one pipeline op's outputs."""
        problems = []
        landed = op["landed"]
        cdir, root = op["check_dir"], op["root"]
        last = self.dates[landed - 1]
        mode = "full" if op["kind"] == "backfill" else "incremental"
        if not (op["consolidation"] or "").startswith(mode):
            problems.append(f"consolidation ran as {op['consolidation']}, want {mode}")
        if op["processed"] != op["batches"]:
            problems.append(f"processed {op['processed']}, want {op['batches']}")
        with open(os.path.join(cdir, "manifest.json")) as f:
            man = json.load(f)
        if man.get("last_processed_batch") != last:
            problems.append(f"manifest watermark {man.get('last_processed_batch')} != {last}")
        if len(man.get("processed_batches", [])) != landed:
            problems.append(f"manifest lists {len(man.get('processed_batches', []))} batches, want {landed}")
        for d in op["batches"]:
            n, k = self.counts[d]
            got_ok = self._count(f"{root}/out/ok/batch-{d}")
            got_ko = self._count(f"{root}/out/ko/batch-{d}")
            if (got_ok, got_ko) != (n - k, k):
                problems.append(f"batch {d}: ok/ko {got_ok}/{got_ko}, want {n - k}/{k}")
        want = f"""SELECT user_key, event_id, batch_date, amount, email FROM (
              SELECT *, row_number() OVER (PARTITION BY user_key
                ORDER BY batch_date DESC, event_id DESC) AS rn
              FROM ok WHERE batch_date <= DATE '{last}') WHERE rn = 1"""
        got = f"""SELECT user_key, event_id, batch_date, amount, email
                  FROM read_parquet('{cdir}/snapshot/*.parquet')"""
        n_want, n_got, extra, missing = self.con.execute(f"""
            WITH w AS ({want}), g AS ({got})
            SELECT (SELECT count(*) FROM w), (SELECT count(*) FROM g),
                   (SELECT count(*) FROM (SELECT * FROM g EXCEPT ALL SELECT * FROM w)),
                   (SELECT count(*) FROM (SELECT * FROM w EXCEPT ALL SELECT * FROM g))""").fetchone()
        if (n_got, extra, missing) != (n_want, 0, 0):
            problems.append(f"snapshot after {last}: {n_got} rows, want {n_want} "
                            f"({extra} unexpected, {missing} missing)")
        return problems

    def _count(self, path):
        files = glob.glob(f"{path}/*.parquet")
        if not files:
            return 0
        return self.con.execute(f"SELECT count(*) FROM read_parquet('{path}/*.parquet')").fetchone()[0]


def files_written(root, date):
    return sum(len(glob.glob(f"{root}/out/{side}/batch-{date}/*.parquet")) for side in ("ok", "ko"))


# --------------------------------------------------------------- curation

class CurationExpect:
    """Raw and exact-dedup survivor counts per source; the funnel's later
    stages are checked for monotone counts and a stable report."""

    def __init__(self, con, corpus):
        rows = con.execute(f"""
            WITH d AS (SELECT * FROM read_parquet('{corpus}')),
                 keep AS (SELECT min(doc_id) AS doc_id FROM d GROUP BY md5(text))
            SELECT source, count(*), count(*) FILTER (WHERE doc_id IN (SELECT doc_id FROM keep))
            FROM d GROUP BY source""").fetchall()
        self.raw = {s: int(n) for s, n, _ in rows}
        self.exact = {s: int(e) for s, _, e in rows}
        self.docs = sum(self.raw.values())

    def check(self, op, stages, digest_ref):
        report = op.get("report") or []
        problems = []
        by_src = {r["source"]: r for r in report}
        if set(by_src) != set(self.raw):
            return [f"report sources {sorted(by_src)} != {sorted(self.raw)}"]
        for s, r in by_src.items():
            if r["n_raw"] != self.raw[s]:
                problems.append(f"{s}: n_raw {r['n_raw']} != {self.raw[s]}")
            first = f"n_{stages[0]}"
            if r[first] != self.exact[s]:
                problems.append(f"{s}: {first} {r[first]} != {self.exact[s]}")
            chain = [r["n_raw"]] + [r[f"n_{st}"] for st in stages]
            if any(b > a for a, b in zip(chain, chain[1:])):
                problems.append(f"{s}: stage counts increase along the funnel {chain}")
        if digest_ref is not None and report_digest(report) != digest_ref:
            problems.append("report differs from the run's first report")
        return problems


def report_digest(report):
    return repr(sorted(tuple(sorted(r.items())) for r in report))


# --------------------------------------------------------------- loops

def _normalize(df):
    """tools/check.py's comparison rules: columns sorted by name, nested
    values as strings, rows sorted by every column. Kept here so that the
    benchmark does not change when that tool does."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: str(v.tolist()) if hasattr(v, "tolist")
                              else str(v) if isinstance(v, (list, dict)) else v)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def _same_cell(a, b):
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float):
        return (math.isnan(a) and math.isnan(b)) or a == b
    try:
        if pd.isna(a) and pd.isna(b):
            return True
    except (TypeError, ValueError):
        pass
    return a == b


def oracle_diff(con, tables, sql, output):
    """None if the Spark output dir equals the DuckDB oracle exactly."""
    for t in ("orders", "lineitem", "events"):
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{tables}/{t}.parquet')")
    files = glob.glob(f"{output}/*.parquet")
    if not files:
        return "no output"
    got = _normalize(pd.concat([pd.read_parquet(p) for p in files]))
    want = _normalize(con.execute(sql).fetchdf())
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} vs {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} vs {len(want)}"
    kinds = [c for c in got.columns if got[c].dtype.kind != want[c].dtype.kind]
    if kinds:
        return f"dtype mismatch in {kinds}"
    for c in got.columns:
        for i, (a, b) in enumerate(zip(got[c], want[c])):
            if not _same_cell(a, b):
                return f"cell {c}[{i}]: {a!r} vs {b!r}"
    return None
