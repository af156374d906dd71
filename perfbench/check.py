"""Untimed output checks: which operations of a run produced wrong output.

- Queries and jobs with a graft oracle (`SparkEntry.oracleSql`) are
  replayed in DuckDB over the same input files and compared the way
  graft's own DuckDB comparison does: same row count and column names,
  and equal cells after sorting the raw rows by every column (floats
  rounded to 9 digits). A float cell that differs may instead equal the
  oracle evaluated in exact decimal arithmetic, rounded half up or half
  down: an oracle that rounds a float sum with FLOOR(x * 10^d + 0.5)
  sends an exact tie either way depending on summation order, which
  neither engine defines (see README.md).
- Curation chains must export exactly their semantic-dedup survivors,
  and every chain over the same input must keep the same set of
  documents: a digest of the kept ids, stored per seed and input digest
  inside the benchmark's work directory, so later runs of the seed in
  the same checkout are held to it.
- Streams are compared with their batch twins inside the JVM; their
  mismatch counts arrive in the result file.

Each function returns {operation name: reason} for the failing ones.
"""
import decimal
import glob
import hashlib
import json
import math
import os
import re

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _norm(df):
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)

    def cell(x):
        if isinstance(x, float):
            return "NaN" if math.isnan(x) else repr(round(x, 9))
        return repr(x)
    return df.apply(lambda c: c.map(cell))


def _connect(data_dir, exact):
    """A DuckDB connection with a view per input table; with `exact`, every
    DOUBLE column is cast to DECIMAL(18, 6), which holds the generator's
    values (at most two decimals) exactly, so sums are exact."""
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        if not os.path.exists(path):
            continue
        cols = "*"
        if exact:
            cols = ", ".join(
                f"CAST({c} AS DECIMAL(18, 6)) AS {c}" if ty == "DOUBLE" else c
                for c, ty, *_ in con.execute(
                    f"DESCRIBE SELECT * FROM '{path}'").fetchall())
        con.execute(f"CREATE VIEW {t} AS SELECT {cols} FROM '{path}'")
    return con


def _floats(df):
    return df.apply(lambda c: c.map(
        lambda x: float(x) if isinstance(x, decimal.Decimal) else x))


def _within_rounding_order(got, want, sql, exact_con):
    """True when every cell of `got` equals `want`'s or the exact-decimal
    oracle's, rounded half up (the SQL as written) or half down (its
    `+ 0.5)` made `+ 0.499999999)`, which moves only exact ties)."""
    try:
        alts = [_norm(_floats(exact_con.execute(q).df())) for q in
                (sql, re.sub(r"\+ 0\.5\)", "+ 0.499999999)", sql))]
    except Exception:  # an oracle DuckDB cannot run over decimals
        return False
    a, b = _norm(got), _norm(want)
    if any(x.shape != a.shape or list(x.columns) != list(a.columns)
           for x in alts):
        return False
    ok = a == b
    for x in alts:
        ok |= a == x
    return bool(ok.values.all())


def oracle_mismatches(out_dir, data_dir):
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    con = _connect(data_dir, exact=False)
    exact_con = None
    bad = {}
    for name, sql in sorted(oracles.items()):
        try:
            got = con.execute(f"SELECT * FROM "
                              f"'{out_dir}/outputs/{name}/*.parquet'").df()
            want = con.execute(sql).df()
        except Exception as e:  # a missing output or a failing oracle
            bad[name] = f"{type(e).__name__}: {str(e)[:200]}"
            continue
        if len(got) != len(want):
            bad[name] = f"rows {len(got)} vs oracle {len(want)}"
        elif sorted(got.columns) != sorted(want.columns):
            bad[name] = f"columns {sorted(got.columns)} vs {sorted(want.columns)}"
        elif len(got) == 0:
            bad[name] = "empty output"
        elif not _norm(got).equals(_norm(want)):
            exact_con = exact_con or _connect(data_dir, exact=True)
            if not _within_rounding_order(got, want, sql, exact_con):
                bad[name] = "values differ from the oracle"
    return bad


def kept_digest(export_dir):
    """(row count, sha256 of the sorted exported doc ids) of one chain."""
    files = glob.glob(os.path.join(export_dir, "**", "*.json*"), recursive=True)
    if not files:
        return 0, None
    ids = duckdb.sql(
        "SELECT doc_id FROM read_json_auto(?, union_by_name = true)",
        params=[files]).fetchall()
    ids = sorted(r[0] for r in ids)
    return len(ids), hashlib.sha256(
        ",".join(map(str, ids)).encode()).hexdigest()


def chain_mismatches(chains, digest_file):
    """Every chain must export its semdedup survivors, non-empty, and all
    chains (of this run and, via `digest_file`, earlier runs over the same
    input) must keep the same documents."""
    digests = set()
    reasons = []
    for c in chains:
        n, digest = kept_digest(c["dir"])
        surv = c["survivors"]
        if n == 0 or n != surv.get("semdedup") or n != surv.get("split_export"):
            reasons.append(f"exported {n} rows, semdedup kept "
                           f"{surv.get('semdedup')}")
        digests.add(digest)
    if os.path.exists(digest_file):
        with open(digest_file) as f:
            digests.add(f.read().strip())
    elif len(digests) == 1:
        os.makedirs(os.path.dirname(digest_file), exist_ok=True)
        with open(digest_file, "w") as f:
            f.write(next(iter(digests)))
    if len(digests) > 1:
        reasons.append(f"{len(digests)} different kept sets for one seed")
    return {"curate_chain": "; ".join(reasons)} if reasons else {}


def stream_mismatches(checks):
    """Both streams are fed by one operation, `ingest`: it fails when
    either stream's output differs from its batch twin or is empty."""
    reasons = []
    for name, n in sorted(checks["mismatches"].items()):
        if n:
            reasons.append(f"{name}: {n} rows differ from the batch twin")
        elif not checks["rows"][name]:
            reasons.append(f"{name}: empty output")
    return {"ingest": "; ".join(reasons)} if reasons else {}
