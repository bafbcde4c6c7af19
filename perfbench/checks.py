"""Output checks for the benchmark, independent of the engine: each
takes what the engine wrote plus what the generator says it should be,
and returns a list of failure messages (empty when the output is right).
"""
import glob
import json
import os

import duckdb
import pandas as pd
import pyarrow.dataset as ds

# recovered price coefficients, after undoing the scaler (coef / sd),
# must fall within these relative tolerances of the generator's formula
COEF_TOLERANCE = {"sqft": 0.10, "bed": 0.25}
# MinHash LSH (q53, Jaccard >= 0.6) must find this share of the planted
# exact and one-word-changed pairs
Q53_MIN_RECALL = 0.90


def _row_key(r):
    def num(x):
        return None if x is None or (isinstance(x, float) and x != x) else round(float(x), 3)
    return (r["name"], r["address"], r["unit"], num(r["sqft"]), num(r["bed"]),
            num(r["bath"]), num(r["price"]), r["city"], r["state"], num(r["zipcode"]),
            r["description"], r["details"], r["page"], str(r["date"]))


def read_store(store):
    """The daily store (parquet, partitioned by city and date) as row dicts."""
    t = ds.dataset(store, format="parquet", partitioning="hive").to_table()
    rows = t.to_pylist()
    for r in rows:
        r["page"] = os.path.basename(r.pop("url") or "")
    return rows


def read_expected(in_dir):
    with open(os.path.join(in_dir, "expected.jsonl")) as f:
        return [json.loads(line) for line in f]


def store_rows(got, expected):
    """Cleaned rows in the store equal the generator's expected rows."""
    g = sorted(map(_row_key, got), key=repr)
    e = sorted(map(_row_key, expected), key=repr)
    if g == e:
        return []
    extra = len(set(g) - set(e))
    missing = len(set(e) - set(g))
    return [f"store: {len(g)} rows vs {len(e)} expected ({extra} unexpected, {missing} missing)"]


def json_lines(json_dir, expected_rows):
    """The JSON-lines sink holds one document per expected row."""
    n = 0
    for p in glob.glob(os.path.join(json_dir, "part-*")):
        with open(p) as f:
            n += sum(1 for line in f if line.strip())
    return [] if n == expected_rows else [f"json lines: {n} documents, expected {expected_rows}"]


def price_model(r2, coefs, expected, truth):
    """R^2 within the generator's margin of the formula's own, and the
    scaled coefficients back to the formula's dollars per unit within
    COEF_TOLERANCE."""
    out = []
    want = truth["r2_formula"]
    margin = want - truth["r2_min"]
    if not (r2 == r2 and abs(r2 - want) <= margin):
        out.append(f"price model: r2 {r2} not within {margin:.2f} of {want:.4f}")
    fit = pd.DataFrame([e for e in expected if e["price"] is not None])
    coef = {c["feature"]: c["coef"] for c in coefs}
    for feat, tol in COEF_TOLERANCE.items():
        beta = coef.get(feat, float("nan")) / fit[feat].std()
        target = truth["formula"][feat]
        if not abs(beta - target) <= tol * abs(target):
            out.append(f"price model: {feat} {beta:.3f} per unit, formula {target} (tol {tol:.0%})")
    return out


def jdbc_appends(appended_total, pulled_rows, round_trips):
    """Every round trip appended exactly twice the rows it pulled."""
    want = 2 * pulled_rows * round_trips
    return [] if appended_total == want else [
        f"jdbc: {appended_total} rows appended over {round_trips} round trips, expected {want}"]


def oracle_reference(sf_dir, queries, threads=2):
    """DuckDB's answer to each query's oracle SQL over the sf tables:
    {query: DataFrame, or the exception it raised}."""
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    con.execute(f"SET threads = {threads}")
    for p in glob.glob(os.path.join(sf_dir, "*.parquet")):
        name = os.path.basename(p)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    refs = {}
    for name, sql in sorted(queries.items()):
        try:
            refs[name] = con.sql(sql).df()
        except Exception as e:  # noqa: BLE001 - reported as a failed check
            refs[name] = e
    return refs


def oracle_compare(results_dir, refs):
    """Each query's parquet result equals its oracle reference: columns
    compared by name, rows in order, nulls equal. Returns {query:
    [failures]} for the ones that differ."""
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    bad = {}
    for name, want in sorted(refs.items()):
        if isinstance(want, Exception):
            bad[name] = [f"{name}: oracle failed: {want}"]
            continue
        try:
            got = con.sql(f"SELECT * FROM read_parquet('{results_dir}/{name}/*.parquet')").df()
        except Exception as e:  # noqa: BLE001 - any failure is a failed check
            bad[name] = [f"{name}: {e}"]
            continue
        msg = frames_equal(got, want)
        if msg:
            bad[name] = [f"{name}: {msg}"]
    return bad


def oracle(sf_dir, results_dir, queries):
    return oracle_compare(results_dir, oracle_reference(sf_dir, queries))


def frames_equal(got, want):
    """None when equal, else the first difference."""
    got = got[sorted(got.columns)].reset_index(drop=True)
    want = want[sorted(want.columns)].reset_index(drop=True)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    for c in got.columns:
        a, b = got[c], want[c]
        if pd.api.types.is_float_dtype(a) != pd.api.types.is_float_dtype(b):
            return f"{c}: dtype {a.dtype} != {b.dtype}"
        eq = (a == b) | (a.isna() & b.isna())
        if not eq.all():
            i = int((~eq).idxmax())
            return f"{c}[{i}]: {a.iloc[i]!r} != {b.iloc[i]!r}"
    return None


def pair_recall(pairs, planted):
    """Share of planted (original, copy) pairs found, in either order."""
    found = {(min(a, b), max(a, b)) for a, b in pairs}
    hit = sum((min(a, b), max(a, b)) in found for a, b in planted)
    return hit / max(1, len(planted))


def result_pairs(results_dir, name, a, b):
    t = ds.dataset(os.path.join(results_dir, name), format="parquet").to_table(columns=[a, b])
    return list(zip(t.column(a).to_pylist(), t.column(b).to_pylist()))


def dedup_recall(results_dir, truth):
    """Planted-pair recall of q53 (MinHash LSH) and q554 (blocked set
    join, Jaccard >= 0.9, so it need find only the exact copies)."""
    planted = truth["exact_pairs"] + truth["near_pairs"]
    q53 = result_pairs(results_dir, "q53_near_dup_pairs", "a", "b")
    q554 = result_pairs(results_dir, "q554_blocked_set_join", "doc_id_1", "doc_id_2")
    out = {
        "q53_recall": pair_recall(q53, planted),
        "q554_recall": pair_recall(q554, planted),
        "q554_exact_recall": pair_recall(q554, truth["exact_pairs"]),
        "pairs": len(q53) + len(q554),
    }
    failures = {}
    if out["q53_recall"] < Q53_MIN_RECALL:
        failures["q53_near_dup_pairs"] = [
            f"q53: planted recall {out['q53_recall']:.3f} < {Q53_MIN_RECALL}"]
    if out["q554_exact_recall"] < 1.0:
        failures["q554_blocked_set_join"] = [
            f"q554: exact-copy recall {out['q554_exact_recall']:.3f} < 1"]
    return out, failures
