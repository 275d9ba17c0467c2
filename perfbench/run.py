#!/usr/bin/env python3
"""Repository benchmark: one workload, one seed, one run.

Usage (from the repository root):
  python3 perfbench/run.py --workload ingest|skew_resume
      --seed N --seconds S --trace 0|1

It builds the program and the benchmark harness (perfbench/build.py), runs
the workload in a JVM at local[4] (plus a local[1] JVM for `ingest`),
checks every output against the repository's DuckDB oracles, and prints
one report line with the workload's named metrics, then as the last line
a JSON object {"correct", "attempted", "failed", "metrics"}: the
end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
See perfbench/README.md for what each metric means.
"""
import argparse
import glob
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

CORES = 4
CORES_1C = 1
RUN_TIMEOUT_S = 170

WORKLOADS = ["ingest", "skew_resume"]

# The figures of the report line, with their units; null where a figure
# does not apply to the workload. The gated metrics and their units are
# the ones BENCHMARK.json lists.
REPORT_UNITS = {"setup_s": "s", "ingest_docs_per_s": "docs/s",
                "ingest_docs_per_s_1c": "docs/s", "noop_rerun_s": "s",
                "store_bytes_per_input_byte": "ratio", "resume_s": "s",
                "lookup_p50_ms": "ms", "lookup_p90_ms": "ms",
                "queue_scan_s": "s", "curate_suite_s": "s",
                "failed_frac": "ratio", "peak_rss_mb": "MB"}


def declared_metrics():
    """(end-to-end, per-layer) metric units from BENCHMARK.json."""
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    sys.stderr.write(f"[perfbench] {msg}\n")
    sys.stderr.flush()


def run_jvm(args, work, log_name, deadline):
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", build.classpath(), "graft.perfbench.Main"] + args
    with open(os.path.join(work, log_name), "w") as fh:
        proc = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise RuntimeError(f"{log_name}: JVM timed out")
    if rc != 0:
        tail = open(os.path.join(work, log_name)).read()[-3000:]
        raise RuntimeError(f"{log_name}: JVM exited {rc}\n{tail}")


# ------------------------------------------------------------------ oracles

# Docs above this many chars (the heavy and giant docs) are left out of the
# DuckDB extraction oracle, which repeats a doc's word list on every span
# row; the harness checks them against the unsalted kernel path instead.
ORACLE_MAX_CHARS = 20000


def duck(corpus_dir, work):
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET memory_limit = '2GB'")
    con.execute(f"SET temp_directory = '{work}/duckdb_tmp'")
    con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet("
                f"'{corpus_dir}/documents.parquet/*.parquet') "
                f"WHERE n_chars <= {ORACLE_MAX_CHARS}")
    return con


def materialize_extract_oracle(con, extract_sql):
    con.execute(f"CREATE TABLE ox AS {extract_sql}")
    con.execute("CREATE TABLE oracle_ids AS SELECT 'doc-' || "
                "lpad(CAST(doc_id AS VARCHAR), 8, '0') AS doc_id FROM documents")


def store_mismatches(con, store, n_docs):
    """Docs whose stored span sequence differs from ExtractOracle.sql(None)
    on (kind, text, media_ref, order), plus docs missing or duplicated."""
    data = f"read_parquet('{store}/data/*/*.parquet')"
    sx = ("SELECT doc_id, s.kind AS kind, s.text AS text, s.media_ref AS "
          f"media_ref, s.\"offset\" AS \"offset\" FROM (SELECT doc_id, "
          f"unnest(spans) AS s FROM {data} "
          "WHERE doc_id IN (SELECT doc_id FROM oracle_ids))")
    diff = con.execute(
        f"WITH sx AS ({sx}) SELECT count(DISTINCT doc_id) FROM ("
        "(SELECT * FROM sx EXCEPT ALL SELECT * FROM ox) UNION ALL "
        "(SELECT * FROM ox EXCEPT ALL SELECT * FROM sx))").fetchone()[0]
    rows, distinct = con.execute(
        f"SELECT count(*), count(DISTINCT doc_id) FROM {data}").fetchone()
    return diff + abs(rows - n_docs) + (rows - distinct)


def store_differences(con, store, ref):
    """Docs whose stored row differs between two stores of the same input,
    compared by a hash of (doc_id, spans, n_dead)."""
    def rows(st):
        return ("SELECT doc_id, hash(spans) AS h, n_dead FROM "
                f"read_parquet('{st}/data/*/*.parquet')")
    return con.execute(
        f"SELECT count(DISTINCT doc_id) FROM (({rows(store)} EXCEPT ALL "
        f"{rows(ref)}) UNION ALL ({rows(ref)} EXCEPT ALL {rows(store)}))"
    ).fetchone()[0]


def norm(v):
    """Value normalisation of tools/check_oracle.py."""
    import decimal
    import numpy as np
    if v is None:
        return None
    if isinstance(v, float):
        return None if v != v else round(v, 9)
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return tuple(norm(x) for x in v)
    if isinstance(v, np.integer):
        return int(v)
    if isinstance(v, np.floating):
        return round(float(v), 9)
    if isinstance(v, np.bool_):
        return bool(v)
    if isinstance(v, decimal.Decimal):
        return str(v.normalize())
    if isinstance(v, dict):
        return tuple((k, norm(x)) for k, x in v.items())
    return v


def frame_mismatch(sdf, ddf):
    """Row-order-sensitive value compare, as tools/check_oracle.py does.
    Returns None when equal, else a short description."""
    scols, dcols = sorted(sdf.columns), sorted(ddf.columns)
    if scols != dcols:
        return f"schema spark={scols} duck={dcols}"
    if len(sdf) != len(ddf):
        return f"rows spark={len(sdf)} duck={len(ddf)}"
    for c in scols:
        a = sdf[c].astype(object).where(sdf[c].notna(), None).tolist()
        b = ddf[c].astype(object).where(ddf[c].notna(), None).tolist()
        for i, (x, y) in enumerate(zip(a, b)):
            if norm(x) != norm(y):
                return f"value col={c} row={i} spark={x!r:.80} duck={y!r:.80}"
    return None


def read_spark_parquet(d):
    import pandas as pd
    files = sorted(glob.glob(f"{d}/*.parquet"))
    if not files:
        return pd.DataFrame()
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def check(res, workload, work, findings, child=None):
    """Runs the DuckDB oracle checks; returns the number of failed ops."""
    con = duck(res["corpus_dir"], work)
    bad = 0
    t0 = time.time()
    materialize_extract_oracle(con, res["extract_sql"])
    log(f"extraction oracle materialized in {time.time() - t0:.1f} s")
    # the last store against the oracle, every other store against that one
    stores = res["stores"] + (child["stores"] if child else [])
    ref = stores[-1]
    t0 = time.time()
    m = store_mismatches(con, ref, res["n_docs"])
    log(f"oracle compare of one store in {time.time() - t0:.1f} s")
    if m:
        bad += 1
        findings.append(f"{ref}: {m} docs differ from ExtractOracle.sql")
    t0 = time.time()
    for store in stores[:-1]:
        m = store_differences(con, store, ref)
        if m:
            bad += 1
            findings.append(f"{store}: {m} docs differ from {ref}")
    log(f"{len(stores) - 1} stores compared with it in {time.time() - t0:.1f} s")
    if "lookups" in res:
        sub = "SELECT * FROM ox"
        tmpl = res["lookup_sql"].replace(res["extract_sql"], sub)
        for lk in res["lookups"]:
            got = [tuple(norm(x) for x in row) for row in lk["rows"]]
            want = [tuple(norm(x) for x in row) for row in
                    con.execute(tmpl.replace("__ID__", lk["id"])).fetchall()]
            if got != want:
                bad += 1
                findings.append(f"lookup {lk['id']}: spark={got!r:.120} oracle={want!r:.120}")
        ids = {r[0] for r in con.execute("SELECT doc_id FROM oracle_ids").fetchall()}
        queue = read_spark_parquet(res["queue_out"])
        queue = queue[queue["doc_id"].isin(ids)].reset_index(drop=True)
        m = frame_mismatch(queue, con.execute(
            res["queue_sql"].replace(res["extract_sql"], sub)).fetchdf())
        if m:
            bad += 1
            findings.append(f"queue scan: {m}")
    con.close()
    if "curate_out" in res:
        con = duck(res["curate_corpus"], work)
        for q in res["curate_sql"]:
            m = frame_mismatch(read_spark_parquet(res["curate_out"][q]),
                               con.execute(res["curate_sql"][q]).fetchdf())
            if m:
                bad += 1
                findings.append(f"{q}: {m}")
        con.close()
    return bad


# ------------------------------------------------------------------ metrics

def median(xs):
    return statistics.median(xs) if xs else float("nan")


def tail(xs):
    """Highest percentile with at least ten samples beyond it."""
    n = len(xs)
    if n < 11:
        return None, max(xs) if xs else None
    q = max(0.5, 1.0 - 10.0 / n)
    s = sorted(xs)
    pos = q * (n - 1)
    lo = int(pos)
    hi = min(lo + 1, n - 1)
    return q, s[lo] + (s[hi] - s[lo]) * (pos - lo)


def report(workload, res, child, e2e, attempted, failed):
    """The report line: the named figures, null where they do not apply."""
    call_s = e2e["call_ms"] / 1000.0
    r = dict.fromkeys(REPORT_UNITS)
    r["setup_s"] = e2e["setup_s"]
    r["failed_frac"] = failed / attempted
    r["peak_rss_mb"] = e2e["peak_rss_mb"]
    extra = {"samples": len(res["call_ms"]), "call_ms": res["call_ms"],
             "aux_ms": res["aux_ms"], "call_cpu_s": res["call_cpu_s"],
             "setup_s": res["setup_s"]}
    if res.get("input_text_bytes"):
        r["store_bytes_per_input_byte"] = res["store_bytes"] / res["input_text_bytes"]
    r["noop_rerun_s"] = e2e["aux_ms"] / 1000.0
    if workload == "ingest":
        r["ingest_docs_per_s"] = res["n_docs"] / call_s
        if child:
            r["ingest_docs_per_s_1c"] = res["n_docs"] / (median(child["call_ms"]) / 1000.0)
            extra["samples_1c"] = len(child["call_ms"])
    elif workload == "skew_resume":
        r["resume_s"] = call_s
        extra["prepopulate_s"] = res["prepopulate_s"]
    if "layer" in res:
        r["curate_suite_s"] = res["layer"]["curate.suite_s"]
        r["lookup_p50_ms"] = res["layer"]["serve.lookup_p50_ms"]
        r["queue_scan_s"] = res["layer"]["serve.queue_scan_s"]
        q, v = tail(res["lookup_ms"])
        if q is not None and q >= 0.9:
            r["lookup_p90_ms"] = v
        extra["lookup_samples"] = len(res["lookup_ms"])
        extra["lookup_tail_quantile"] = q
        extra["lookup_tail_ms"] = v
    return {"report": workload,
            "metrics": {k: {"value": v, "unit": REPORT_UNITS[k]} for k, v in r.items()},
            **extra}


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except Exception:  # noqa: BLE001
        pass
    return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    deadline = time.time() + RUN_TIMEOUT_S
    end_to_end, per_layer = declared_metrics()

    t_build = time.time()
    stamp = build.build()
    deadline += time.time() - t_build  # the first run in a checkout builds

    root = os.path.abspath(".bench_work")
    work = os.path.join(root, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        common = ["--workload", a.workload, "--seed", str(a.seed),
                  "--trace", str(a.trace)]
        run_jvm(common + ["--seconds", str(a.seconds), "--work", work,
                          "--cores", str(CORES), "--out", f"{work}/main.json"],
                work, "main.log", deadline)
        res = json.load(open(f"{work}/main.json"))
        child = None
        if a.workload == "ingest" and a.trace:
            # the single-core level, in its own JVM, untraced
            cwork = os.path.join(work, "c1")
            os.makedirs(os.path.join(cwork, "tmp"))
            run_jvm(["--workload", a.workload, "--seed", str(a.seed), "--trace", "0",
                     "--seconds", str(a.seconds), "--work", cwork,
                     "--cores", str(CORES_1C), "--corpus", res["corpus_dir"],
                     "--min-iters", "1",
                     "--out", f"{cwork}/main.json"], cwork, "main.log", deadline)
            child = json.load(open(f"{cwork}/main.json"))

        findings = list(res["failures"]) + (list(child["failures"]) if child else [])
        attempted = res["attempted"] + (child["attempted"] if child else 0)
        failed = res["failed"] + (child["failed"] if child else 0)
        t_check = time.time()
        failed = min(attempted, failed + check(res, a.workload, work, findings, child))
        check_s = time.time() - t_check

        e2e = {"setup_s": median(res["setup_s"]),
               "call_ms": median(res["call_ms"]),
               "aux_ms": median(res["aux_ms"]),
               "call_cpu_s": median(res["call_cpu_s"]),
               "peak_rss_mb": res["peak_rss_mb"]}
        rep = report(a.workload, res, child, e2e, attempted, failed)
        rep["record"] = {
            "nproc": os.cpu_count(), "core_pair": [CORES_1C, CORES],
            "cores": CORES, "seed": a.seed, "seconds": a.seconds,
            "trace": a.trace, "git_commit": git_commit(), "source_stamp": stamp,
            "python": platform.python_version(), **res["record"],
            "params": res["params"]}
        rep["findings"] = findings
        rep["phase_s"] = dict(res["phase_s"], check=check_s)
        if a.trace:
            layer = dict(res["layer"])
            if child:
                d1 = rep["metrics"]["ingest_docs_per_s_1c"]["value"]
                d4 = rep["metrics"]["ingest_docs_per_s"]["value"]
                layer["pipeline.docs_per_s_1c"] = d1
                layer["pipeline.docs_per_s_4c"] = d4
                layer["pipeline.scaling_eff_1v4"] = d4 / (CORES / CORES_1C * d1)
            else:
                for k in ("pipeline.docs_per_s_1c", "pipeline.docs_per_s_4c",
                          "pipeline.scaling_eff_1v4"):
                    layer[k] = 0.0
            rep["self_s"] = res["self_s"]
            rep["spans"] = res["spans"]
            metrics = {k: {"value": layer[k], "unit": u} for k, u in per_layer.items()}
        else:
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in end_to_end.items()}
        print(json.dumps(rep))
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(root)
        except OSError:
            pass


if __name__ == "__main__":
    try:
        main()
    except Exception as e:  # noqa: BLE001
        log(f"failed: {e}")
        sys.exit(1)
