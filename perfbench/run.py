#!/usr/bin/env python3
"""Migration benchmark: one command per workload run.

    python3 perfbench/run.py --workload many_tables --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --selfcheck

Builds the program and the benchmark from source (perfbench/build.py), runs
one JVM that sets up the workload from the seed and measures it for
--seconds, checks the outputs, prints the metrics by name and unit and, as
the last line, one JSON object: end-to-end metrics with --trace 0, per-layer
metrics with --trace 1. Exits non-zero if the correctness check fails.
See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # no __pycache__ next to the sources
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("bulk_copy", "many_tables", "parity_queries")
TIMEOUT_S = 170  # the whole run must end within 180 s


def cpus():
    """Spark task threads and maxParallel: two at most. The JIT compiler, GC
    and Derby threads keep busy the CPUs the tasks leave; with four task
    threads on four CPUs, runs of the same code spread several times wider."""
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(2, n))


def run_jvm(built, work, jvm_args):
    os.makedirs(os.path.join(work, "tmp"))
    cmd = build.java_command(*built) + [
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-Dderby.stream.error.file=" + os.path.join(work, "derby.log"),
        "perfbench.Main"] + jvm_args
    log_path = os.path.join(build.build_dir(), "last-run.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = "timeout after %d s" % TIMEOUT_S
    if rc != 0:
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-6000:])
        raise SystemExit("perfbench: benchmark JVM failed (%s); log: %s" % (rc, log_path))


# ---- parity-query content check ------------------------------------------

def _cell(v):
    """Canonical text of one result cell; numbers to 10 significant digits,
    since the two engines round a double's last bit differently."""
    import datetime
    import decimal
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, (int, float, decimal.Decimal)):
        return "%.10g" % float(v)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def _rows(table):
    cols = sorted(table.column_names)
    data = table.select(cols).to_pylist()
    return cols, sorted(tuple(_cell(r[c]) for c in cols) for r in data)


def check_parity(work):
    """Run each query's oracle SQL in DuckDB over the same generated tables
    and compare with Spark's output; return the failures."""
    import duckdb
    import pyarrow.parquet as pq
    con = duckdb.connect()
    data = os.path.join(work, "parity")
    for t in sorted(os.listdir(data)):
        name = t.split(".")[0]
        con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s/%s/*.parquet')"
                    % (name, data, t))
    with open(os.path.join(work, "parity_oracle.json")) as fh:
        oracle = json.load(fh)
    failures = []
    for name, sql in sorted(oracle.items()):
        out = os.path.join(work, "parity_out", name)
        try:
            ocols, orows = _rows(con.execute(sql).arrow())
            files = [os.path.join(out, f) for f in os.listdir(out) if f.endswith(".parquet")]
            if files:
                scols, srows = _rows(pq.ParquetDataset(files).read())
            else:
                scols, srows = ocols, []
        except Exception as e:  # a query that cannot be checked fails the check
            failures.append("%s: %s" % (name, str(e).splitlines()[0]))
            continue
        if ocols != scols:
            failures.append("%s: columns %s vs oracle %s" % (name, scols, ocols))
        elif srows != orows:
            diff = next((i for i, (a, b) in enumerate(zip(srows, orows)) if a != b),
                        min(len(srows), len(orows)))
            failures.append("%s: %d rows vs oracle %d, first difference at row %d"
                            % (name, len(srows), len(orows), diff))
    return failures


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selfcheck", action="store_true")
    a = ap.parse_args()
    if not a.selfcheck and not a.workload:
        ap.error("--workload is required")

    built = build.build()
    work = os.path.join(build.build_dir(), "work-%d" % os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    try:
        jvm_args = ["--work", work, "--out", out, "--cpus", str(cpus()),
                    "--seed", str(a.seed), "--seconds", str(a.seconds),
                    "--trace", str(a.trace)]
        jvm_args += ["--selfcheck"] if a.selfcheck else ["--workload", a.workload]
        t0 = time.time()
        run_jvm(built, work, jvm_args)
        with open(out) as fh:
            res = json.load(fh)
        spans = os.path.join(work, "spans.jsonl")
        if os.path.exists(spans):  # keep the traced run's spans past the work dir
            kept = os.path.join(build.build_dir(), "spans-%s-seed%d.jsonl" % (a.workload, a.seed))
            shutil.copyfile(spans, kept)
            res["lines"].append("spans: " + kept)
        if a.workload == "parity_queries":
            failures = check_parity(work)
            for f in failures:
                res["lines"].append("CHECK FAILED: " + f)
            if failures:
                res["correct"] = False
                res["failed"] = res["attempted"]  # every pass ran the same queries
                res["end_to_end"]["ok_share"]["value"] = 1.0 - len(failures) / 19.0
    finally:
        shutil.rmtree(work, ignore_errors=True)

    label = "selfcheck" if a.selfcheck else a.workload
    print("perfbench %s seed=%d seconds=%d trace=%d cpus=%d (%.1f s)"
          % (label, a.seed, a.seconds, a.trace, cpus(), time.time() - t0))
    for line in res["lines"]:
        print("  " + line)
    metrics = res["per_layer"] if a.trace else res["end_to_end"]
    for name, m in metrics.items():
        print("  %-40s %14.6g %s" % (name, m["value"], m["unit"]))
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    sys.exit(0 if res["correct"] else 1)


if __name__ == "__main__":
    main()
