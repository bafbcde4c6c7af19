#!/usr/bin/env python3
"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload housing|corpus --seed N \\
        --seconds S --trace 0|1

Builds the engine and the benchmark's JVM main with sbt on first use (into
perfbench/target, keyed by a hash of the sources), generates the
workload's inputs from the seed (three times; the median counts towards
set-up), runs one benchmark JVM at local[nproc], checks every output
against the generator's truth and the DuckDB oracle, and prints one
JSON line last: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones in BENCHMARK.json, with
--trace 1 the per-layer ones; the traced run's full record (spans, self
times, counts, host context) is written to .bench_build/records/.
Everything it writes stays under .bench_build/ and perfbench/target/.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE = os.path.join(ROOT, "src", "main")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
HEAP = "2g"
GEN_REPEATS = 3
# JDK 17 module opens Spark needs outside spark-submit
OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash():
    h = hashlib.sha256()
    roots = [ENGINE, os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for root in roots:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile with sbt unless the classes match the sources."""
    if not os.path.isdir(os.path.join(ENGINE, "scala")):
        fail(f"engine sources not found under {ENGINE}")
    if not os.path.isdir(SPARK_JARS):
        fail(f"Spark jars not found at {SPARK_JARS}")
    stamp_file = os.path.join(BUILD, "build.stamp")
    stamp = source_hash()
    main_class = os.path.join(CLASSES, "perfbench", "Main.class")
    if os.path.exists(main_class) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx3g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as f:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                            cwd=HERE, env=env, stdout=f, stderr=subprocess.STDOUT,
                            timeout=850).returncode
    if rc != 0 or not os.path.exists(main_class):
        fail(f"build failed (sbt exit {rc}); see {log}")
    with open(stamp_file, "w") as f:
        f.write(stamp)


def generator(workload):
    if workload == "housing":
        import gen_housing
        return gen_housing.generate
    import gen_corpus
    return gen_corpus.generate


def generate(workload, seed, dest):
    """Generate the inputs GEN_REPEATS times; returns the seconds each took."""
    gen = generator(workload)
    times = []
    for _ in range(GEN_REPEATS):
        shutil.rmtree(dest, ignore_errors=True)
        os.makedirs(dest)
        t0 = time.perf_counter()
        gen(dest, seed)
        times.append(time.perf_counter() - t0)
    return times


def run_jvm(args, in_dir, work, out, log, deadline):
    """Run the benchmark JVM. While it sets up, compute the oracle reference
    for the queries it announces in out/oracle.json, then let it start
    timing by creating out/go. Returns (run record, oracle reference)."""
    import checks
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", *OPENS, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dderby.system.home={work}", f"-Dderby.stream.error.file={work}/derby.log",
           "-cp", f"{CLASSES}{os.pathsep}{SPARK_JARS}/*", "perfbench.Main",
           "--workload", args.workload, "--input", in_dir, "--work", work,
           "--out", out, "--seconds", str(args.seconds), "--trace", str(args.trace)]
    announced = os.path.join(out, "oracle.json")
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    with open(log, "w") as f:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=f, stderr=subprocess.STDOUT)
        try:
            queries = None
            while queries is None and proc.poll() is None and time.time() < deadline:
                try:
                    with open(announced) as fh:
                        queries = json.load(fh)
                except (OSError, ValueError):
                    time.sleep(0.05)
            refs = checks.oracle_reference(os.path.join(in_dir, "sf"), queries or {})
            open(os.path.join(out, "go"), "w").close()
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0:
        fail(f"benchmark JVM {'timed out' if rc is None else f'exited {rc}'}; see {log}")
    with open(os.path.join(out, "record.json")) as f:
        return json.load(f), refs


def check_housing(rec, in_dir, refs):
    """{op group: failures} for the housing outputs, and no details."""
    import checks
    with open(os.path.join(in_dir, "truth.json")) as f:
        truth = json.load(f)
    c = rec["check"]
    expected = checks.read_expected(in_dir)
    return {
        "scrape": checks.store_rows(checks.read_store(c["store"]), expected),
        "config": checks.json_lines(c["json_dir"], len(expected)),
        "analyze": checks.price_model(c["r2"], c["coefficients"], expected, truth),
        "sql": checks.jdbc_appends(c["appended_total"], c["pulled_rows"], c["sql_trips"]),
    }, {}


def check_corpus(rec, in_dir, refs):
    """{query: failures} for the corpus outputs, and the recall figures."""
    import checks
    with open(os.path.join(in_dir, "truth.json")) as f:
        truth = json.load(f)
    c = rec["check"]
    bad = checks.oracle_compare(c["results"], refs)
    for name, err in c["result_errors"].items():
        bad.setdefault(name, []).append(f"{name}: {err}")
    recall, recall_failures = checks.dedup_recall(c["results"], truth)
    for name, msgs in recall_failures.items():
        bad.setdefault(name, []).extend(msgs)
    return bad, recall


def metric_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return spec["end_to_end"], spec["per_layer"]


def main():
    started = time.time()
    load_before = os.getloadavg()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["housing", "corpus"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    end_to_end, per_layer = metric_spec()
    t_build = time.time()
    build()
    started += time.time() - t_build  # a one-off compile is not set-up
    in_dir = os.path.join(BUILD, "in", args.workload)
    work = os.path.join(BUILD, "work", args.workload)
    out = os.path.join(BUILD, "out", args.workload)
    for d in (work, out):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    gen_times = generate(args.workload, args.seed, in_dir)
    # set-up before the JVM, counting one generation (the median) once
    pre_jvm = time.time() - started - sum(gen_times) + statistics.median(gen_times)
    log = os.path.join(BUILD, f"{args.workload}.log")
    rec, refs = run_jvm(args, in_dir, work, out, log, started + 170)

    check = check_housing if args.workload == "housing" else check_corpus
    found, extra = check(rec, in_dir, refs)
    failures = [m for msgs in found.values() for m in msgs]
    # a wrong output fails its op in every pass (they all compute it)
    wrong = [o for o in rec["passes"][0]
             if found.get(o["group"]) or found.get(o["name"])]
    failed = rec["failed"] + len(wrong) * rec["passes_run"]
    values = dict(rec["end_to_end"])
    values["setup_s"] = pre_jvm + values["setup_s"]
    layer = dict(rec["per_layer"])
    if args.trace:
        layer.update(layer_from_checks(args.workload, rec, extra))
    if args.trace:
        # a layer this workload does not exercise reads 0
        metrics = {m["name"]: {"value": float(layer.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in per_layer}
    else:
        missing = [m["name"] for m in end_to_end if m["name"] not in values]
        if missing:
            fail(f"metrics missing from the run: {missing}")
        metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
                   for m in end_to_end}
    if args.trace:
        save_record(args, rec, values, layer, failures, extra, load_before)
    for m in failures:
        print(f"perfbench: check failed: {m}", file=sys.stderr)
    print(json.dumps({"correct": not failures and failed == 0,
                      "attempted": rec["attempted"], "failed": failed,
                      "metrics": metrics}))


def layer_from_checks(workload, rec, extra):
    """Per-layer numbers that need the generator's truth."""
    if workload != "corpus":
        return {}
    traced = {o["name"]: o for o in rec.get("traced_pass", [])}
    cand = sum(traced.get(n, {}).get("counters", {}).get("join_rows", 0)
               for n in ("q53_near_dup_pairs", "q554_blocked_set_join"))
    return {
        "dedup.candidates": cand,
        "dedup.pairs": extra["pairs"],
        "dedup.pairs_per_candidate": extra["pairs"] / cand if cand else 0.0,
        "dedup.planted_recall": extra["q53_recall"],
    }


def save_record(args, rec, values, layer, failures, extra, load_before):
    d = os.path.join(BUILD, "records")
    os.makedirs(d, exist_ok=True)
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "host": {"nproc": os.cpu_count(), "load_before": load_before,
                 "load_after": os.getloadavg()},
        "inputs": rec["facts"], "end_to_end_untraced": values,
        "per_layer": layer, "tracing_overhead_s": layer.get("trace.overhead_s"),
        "check_failures": failures, "check_details": extra,
        "span_summary": rec["span_summary"], "spans": rec["spans"],
        "traced_pass": rec.get("traced_pass", []),
    }
    with open(os.path.join(d, f"{args.workload}-seed{args.seed}.json"), "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
