#!/usr/bin/env python3
"""Self-test of the benchmark itself (no engine needed):

  1. the same seed gives byte-identical inputs, another seed different ones;
  2. every output check rejects a deliberately corrupted output, so no
     check passes vacuously;
  3. every metric the runs report is named in BENCHMARK.json, and the
     committed traced records carry every per-layer metric.

    python3 perfbench/selftest.py
"""
import copy
import hashlib
import json
import os
import shutil
import statistics
import sys

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCRATCH = os.path.join(ROOT, ".bench_build", "selftest")

import checks  # noqa: E402
import gen_corpus  # noqa: E402
import gen_housing  # noqa: E402

failures = []


def expect(cond, what):
    print(("ok   " if cond else "FAIL ") + what)
    if not cond:
        failures.append(what)


def tree_hash(d):
    h = hashlib.sha256()
    for base, _, files in sorted(os.walk(d)):
        for f in sorted(files):
            p = os.path.join(base, f)
            h.update(os.path.relpath(p, d).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def fresh(name):
    d = os.path.join(SCRATCH, name)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    return d


def determinism():
    for name, gen in (("housing", gen_housing.generate), ("corpus", gen_corpus.generate)):
        a, b, c = fresh(f"{name}-a"), fresh(f"{name}-b"), fresh(f"{name}-c")
        gen(a, 5)
        gen(b, 5)
        gen(c, 6)
        expect(tree_hash(a) == tree_hash(b), f"{name}: same seed, byte-identical inputs")
        expect(tree_hash(a) != tree_hash(c), f"{name}: another seed, different inputs")


def housing_checks():
    in_dir = os.path.join(SCRATCH, "housing-a")
    with open(os.path.join(in_dir, "truth.json")) as f:
        truth = json.load(f)
    expected = checks.read_expected(in_dir)
    expect(not checks.store_rows(copy.deepcopy(expected), expected), "store check accepts the expected rows")
    bad = copy.deepcopy(expected)
    bad[len(bad) // 2]["price"] = (bad[len(bad) // 2]["price"] or 0) + 1
    expect(bool(checks.store_rows(bad, expected)), "store check rejects one changed price")
    expect(bool(checks.store_rows(expected[:-1], expected)), "store check rejects a missing row")

    jd = fresh("json")
    with open(os.path.join(jd, "part-00000.json"), "w") as f:
        f.write("{}\n" * len(expected))
    expect(not checks.json_lines(jd, len(expected)), "json-lines check accepts the full count")
    expect(bool(checks.json_lines(jd, len(expected) + 1)), "json-lines check rejects a short count")

    fit = [e for e in expected if e["price"] is not None]
    sd = {k: statistics.stdev([e[k] for e in fit]) for k in ("sqft", "bed")}
    coefs = [{"feature": k, "coef": truth["formula"][k] * sd[k]} for k in sd]
    r2 = truth["r2_formula"]
    expect(not checks.price_model(r2, coefs, expected, truth), "price-model check accepts the formula")
    skew = [dict(c, coef=c["coef"] * 1.3) if c["feature"] == "sqft" else c for c in coefs]
    expect(bool(checks.price_model(r2, skew, expected, truth)), "price-model check rejects sqft off by 30%")
    expect(bool(checks.price_model(r2 - 0.2, coefs, expected, truth)), "price-model check rejects a low R^2")

    expect(not checks.jdbc_appends(24, 4, 3), "jdbc check accepts 2x pulled per trip")
    expect(bool(checks.jdbc_appends(23, 4, 3)), "jdbc check rejects a lost row")


def corpus_checks():
    in_dir = os.path.join(SCRATCH, "corpus-a")
    with open(os.path.join(in_dir, "truth.json")) as f:
        truth = json.load(f)
    sf, res = fresh("oracle-sf"), fresh("oracle-results")
    pq.write_table(pa.table({"k": [1, 2, 3], "v": [0.5, None, 2.0]}), os.path.join(sf, "t.parquet"))
    os.makedirs(os.path.join(res, "q_ok"))
    os.makedirs(os.path.join(res, "q_bad"))
    pq.write_table(pa.table({"v": [0.5, None, 2.0], "k": [1, 2, 3]}),
                   os.path.join(res, "q_ok", "part-0.parquet"))
    pq.write_table(pa.table({"v": [0.5, None, 2.5], "k": [1, 2, 3]}),
                   os.path.join(res, "q_bad", "part-0.parquet"))
    sql = "SELECT k, v FROM t ORDER BY k"
    bad = checks.oracle(sf, res, {"q_ok": sql, "q_bad": sql})
    expect("q_ok" not in bad, "oracle check accepts an equal result (columns by name)")
    expect("q_bad" in bad, "oracle check rejects one changed value")

    planted = truth["exact_pairs"] + truth["near_pairs"]
    expect(checks.pair_recall(planted, planted) == 1.0, "recall is 1 when every planted pair is found")
    expect(checks.pair_recall(planted[::2], planted) < 0.6, "recall drops when half the pairs are lost")
    dd = fresh("dedup-results")

    def write_pairs(name, a, b, pairs):
        os.makedirs(os.path.join(dd, name))
        pq.write_table(pa.table({a: [p[0] for p in pairs], b: [p[1] for p in pairs]}),
                       os.path.join(dd, name, "part-0.parquet"))
    write_pairs("q53_near_dup_pairs", "a", "b", planted)
    write_pairs("q554_blocked_set_join", "doc_id_1", "doc_id_2", truth["exact_pairs"])
    _, f_ok = checks.dedup_recall(dd, truth)
    expect(not f_ok, "dedup check accepts full planted recall")
    shutil.rmtree(os.path.join(dd, "q53_near_dup_pairs"))
    write_pairs("q53_near_dup_pairs", "a", "b", planted[: len(planted) // 2])
    _, f_bad = checks.dedup_recall(dd, truth)
    expect("q53_near_dup_pairs" in f_bad, "dedup check rejects q53 losing half the pairs")
    shutil.rmtree(os.path.join(dd, "q554_blocked_set_join"))
    write_pairs("q554_blocked_set_join", "doc_id_1", "doc_id_2", truth["exact_pairs"][1:])
    _, f_bad = checks.dedup_recall(dd, truth)
    expect("q554_blocked_set_join" in f_bad, "dedup check rejects q554 missing an exact copy")


def metric_names():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"] for m in spec["end_to_end"]}
    layer = {m["name"] for m in spec["per_layer"]}
    seen = set()
    for name in ("housing", "corpus"):
        path = os.path.join(HERE, "records", f"{name}.json")
        if not os.path.exists(path):
            expect(False, f"committed traced record {name}.json exists")
            continue
        with open(path) as f:
            rec = json.load(f)
        expect(set(rec["end_to_end_untraced"]) == e2e,
               f"{name}: end-to-end metrics are exactly BENCHMARK.json's")
        extra = set(rec["per_layer"]) - layer
        expect(not extra, f"{name}: every per-layer metric is in BENCHMARK.json {sorted(extra)}")
        expect("trace.overhead_s" in rec["per_layer"], f"{name}: record carries its tracing overhead")
        seen |= set(rec["per_layer"])
    expect(layer <= seen, f"every per-layer metric is measured on some workload {sorted(layer - seen)}")


if __name__ == "__main__":
    determinism()
    housing_checks()
    corpus_checks()
    metric_names()
    shutil.rmtree(SCRATCH, ignore_errors=True)
    print(f"{len(failures)} failed")
    sys.exit(1 if failures else 0)
