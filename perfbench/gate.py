"""Correctness gate, run after the timed region.

Registry queries: each result (parquet written by the harness) against
its `SparkEntry.oracleSql` entry evaluated by DuckDB over the same
tables, compared cell by cell after sorting columns by name and rows by
all columns. denorm_stream: the compacted output (latest emission per
out_key) against the inner join of the final lefts with the final
customer versions, both rebuilt from the topic files themselves.
"""
import glob
import json
import math
import os

LEFT_FIELDS = ("event_id", "user_id", "event_type", "value", "tie", "due_ns")
RIGHT_FIELDS = ("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment",
                "tie", "due_ns")


def _cells_equal(a, b):
    def missing(x):
        return x is None or (isinstance(x, float) and math.isnan(x))
    if missing(a) and missing(b):
        return True
    if isinstance(a, float) and isinstance(b, float):
        return a == b or abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
    return str(a) == str(b)


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), na_position="last").reset_index(drop=True)


def _first_mismatch(want, got):
    """(column, row) of the first unequal cell, or None. Cells equal
    under `==` (or both missing) pass in bulk; only the rest go through
    the tolerant per-cell comparison."""
    for c in want.columns:
        a, b = want[c].reset_index(drop=True), got[c].reset_index(drop=True)
        try:
            same = ((a == b) | (a.isna() & b.isna())).to_numpy(dtype=bool)
        except (TypeError, ValueError):  # incomparable dtypes: compare cell by cell
            same = [False] * len(a)
        for i in (i for i, ok in enumerate(same) if not ok):
            if not _cells_equal(a[i], b[i]):
                return c, i
    return None


def check_registry(data_dir, oracles, outputs):
    """{query: (ok, rows, detail)} for every query in `outputs`
    ({query: (parquet dir, harness error or None)})."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for f in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(f)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{f}')")
    results = {}
    for q, (path, error) in outputs.items():
        if error:
            results[q] = (False, 0, f"query failed: {error}")
            continue
        if q not in oracles:
            results[q] = (False, 0, "no oracle")
            continue
        files = sorted(glob.glob(os.path.join(path, "*.parquet")))
        try:
            want = _canon(con.execute(oracles[q]).df())
            got = _canon(pd.concat([pd.read_parquet(f) for f in files])) if files else None
        except Exception as e:  # an oracle or read error fails the check
            results[q] = (False, 0, f"{type(e).__name__}: {e}")
            continue
        if got is None:
            results[q] = (False, 0, "no output")
        elif list(want.columns) != list(got.columns):
            results[q] = (False, len(got), f"columns {list(got.columns)} != {list(want.columns)}")
        elif len(want) != len(got):
            results[q] = (False, len(got), f"rows {len(got)} != {len(want)}")
        else:
            bad = _first_mismatch(want, got)
            results[q] = (bad is None, len(got), "ok" if bad is None else f"cell {bad}")
    return results


def _latest(rows, key):
    out = {}
    for r in rows:
        k = r.get(key)
        if k is not None and (k not in out or (r["due_ns"], r["tie"]) > (out[k]["due_ns"], out[k]["tie"])):
            out[k] = r
    return out


def _read_topic(d):
    rows = []
    for f in sorted(glob.glob(os.path.join(d, "*.json"))):
        with open(f) as fh:
            rows.extend(json.loads(line) for line in fh if line.strip())
    return rows


def expected_join(lefts, rights):
    """{out_key: (left, right)} for the inner join of the final versions."""
    final_rights = _latest(rights, "c_custkey")
    return {str(k): (l, final_rights[l["user_id"]])
            for k, l in _latest(lefts, "event_id").items()
            if l.get("user_id") in final_rights}


def diff_compacted(expected, compacted):
    """Number of out_keys missing, extra, or carrying different values."""
    def same(a, b, fields):
        x, y = [a.get(f) for f in fields], [b.get(f) for f in fields]
        # exact equality settles almost every row; the tolerant per-cell
        # comparison runs only on the rest
        return x == y or all(_cells_equal(p, q) for p, q in zip(x, y))
    bad = len(expected.keys() ^ compacted.keys())
    for k in expected.keys() & compacted.keys():
        (el, er), (gl, gr) = expected[k], compacted[k]
        if not (same(el, gl, LEFT_FIELDS) and same(er, gr, RIGHT_FIELDS)):
            bad += 1
    return bad


def check_denorm(topics_dir, compacted_path):
    """(mismatched out_keys, expected out_keys)."""
    expected = expected_join(_read_topic(os.path.join(topics_dir, "lefts")),
                             _read_topic(os.path.join(topics_dir, "rights")))
    compacted = {}
    with open(compacted_path) as fh:
        for line in fh:
            if line.strip():
                r = json.loads(line)
                compacted[r["k"]] = (json.loads(r["l"]), json.loads(r["r"]))
    return diff_compacted(expected, compacted), len(expected)
