#!/usr/bin/env python3
"""Benchmark runner for the graft engine.

    python3 perfbench/run.py --workload serve|maintain \
        --seed N --seconds S --trace 0|1

Builds the engine with the benchmark harness (sbt, cached by a hash of the
sources), generates the workload's inputs from the seed, runs the harness
JVM on `local[nproc]` with a fresh warehouse and local dirs, checks every
output, prints a human-readable report and, as the last line, one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones.
See NOTES.md for the workloads and the meaning of every metric.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import stats  # noqa: E402

ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSPATH = os.path.join(HERE, "target", "bench.classpath")
SETUPS = 3
JVM_TIMEOUT_S = 150
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
PRIMARY = {"serve": "request", "maintain": "micro-batch ingest"}


def log(msg):
    print(f"[perfbench] {msg}", flush=True)


def source_stamp():
    h = hashlib.sha256()
    files = []
    for base in (ENGINE_SRC, os.path.join(HERE, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names]
    files += [os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + harness unless the cached classpath matches the
    current sources; returns the classpath."""
    stamp = source_stamp()
    if os.path.exists(CLASSPATH):
        with open(CLASSPATH) as f:
            cached_stamp, cp = f.read().split("\n", 1)
        if cached_stamp == stamp:
            return cp.strip()
    log("building engine and harness with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    p = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], cwd=HERE, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    lines = [ln for ln in p.stdout.splitlines()
             if ln.startswith("/") and "classes" in ln]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit(f"build failed (sbt exit {p.returncode})")
    with open(CLASSPATH, "w") as f:
        f.write(stamp + "\n" + lines[-1])
    return lines[-1]


def load1():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def run_jvm(cp, workload, inputs, work, seconds, trace, cpus, seed):
    out = os.path.join(work, "result.json")
    for d in ("tmp", "local", "warehouse", "out"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # a fixed, pre-touched heap: peak memory then does not depend on when
    # G1 grows the heap or first touches its regions
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch",
           f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main", workload, inputs, work,
            str(seconds), str(trace), str(cpus), str(SETUPS), str(seed), out]
    errlog = os.path.join(work, "jvm.log")
    oracle = os.path.join(work, "oracle.json")
    checks = []
    checker = None
    deadline = time.time() + JVM_TIMEOUT_S
    with open(errlog, "w") as fe:
        proc = subprocess.Popen(cmd, stdout=fe, stderr=subprocess.STDOUT,
                                cwd=work)
        while proc.poll() is None:
            if time.time() > deadline:
                proc.kill()
                proc.wait()
                raise SystemExit("harness JVM timed out")
            # the JVM writes the oracle SQL once every checked output is
            # written and the timed window is over; DuckDB then runs beside
            # the JVM's own checks, which are not timed
            if checker is None and os.path.exists(oracle):
                checker = threading.Thread(target=oracle_into,
                                           args=(checks, oracle, inputs, work))
                checker.start()
            time.sleep(0.1)
    if checker is None and os.path.exists(oracle):
        oracle_into(checks, oracle, inputs, work)
    elif checker is not None:
        checker.join()
    with open(errlog, errors="replace") as f:
        text = f.read()
    errors = [ln for ln in text.splitlines() if " ERROR " in ln]
    if proc.returncode != 0 or not os.path.exists(out):
        sys.stderr.write(text[-4000:])
        raise SystemExit(f"harness JVM failed (exit {proc.returncode})")
    with open(out) as f:
        res = json.load(f)
    res["log_errors"] = len(errors)
    res["error_lines"] = errors[:3]
    res["oracle_checks"] = checks
    return res


def oracle_into(checks, oracle, inputs, work):
    try:
        checks.extend(oracle_checks(oracle, inputs, work))
    except Exception as e:  # a failed oracle run is a failed check
        checks.append({"name": "oracle", "ok": False, "detail": repr(e)})


def oracle_checks(oracle, inputs, work):
    """Every written query result against DuckDB running the engine's
    oracle SQL (`oracle`: a JSON file, query -> SQL) over the generated
    tables."""
    import duckdb
    with open(oracle) as f:
        sqls = json.load(f)
    con = duckdb.connect()
    for p in glob.glob(os.path.join(inputs, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    checks = []
    for name, sql in sorted(sqls.items()):
        want = con.sql(sql)
        wcols = [c.lower() for c in want.columns]
        wtypes = [str(t) for t in want.types]
        wrows = sorted(want.fetchall(), key=repr)
        outs = sorted(glob.glob(os.path.join(work, "out", name, "*")))
        if not outs:
            checks.append({"name": name, "ok": False, "detail": "no output"})
        for d in outs:
            got = con.sql(f"SELECT * FROM '{d}/*.parquet'")
            gcols = [c.lower() for c in got.columns]
            ok = sorted(gcols) == sorted(wcols)
            detail = "columns differ"
            if ok:
                gtypes = dict(zip(gcols, (str(t) for t in got.types)))
                perm = [gcols.index(c) for c in wcols]
                grows = sorted((tuple(r[i] for i in perm)
                                for r in got.fetchall()), key=repr)
                ok = grows == wrows and [gtypes[c] for c in wcols] == wtypes
                detail = f"{len(grows)} rows, oracle {len(wrows)}"
            checks.append({"name": f"{name}/{os.path.basename(d)}", "ok": ok,
                           "detail": detail})
    return checks


def end_to_end(res, gen_s):
    ops = [o for o in res["ops"] if o["primary"]]
    good = [o["ms"] for o in ops if o["ok"]]
    window_s = res["window_s"]
    t, pct, n = stats.tail(good)
    info = {"samples": len(good), "tail": (t, pct),
            "setup_passes_s": res["setup_s"], "session_s": res["session_s"],
            "gen_s": gen_s}
    metrics = {
        "setup_s": (gen_s + res["session_s"] + res["prepare_s"] +
                    stats.median(res["setup_s"]) + res["warm_s"], "s"),
        "p50_ms": (stats.median(good), "ms"),
        "ops_per_s": (len(good) / window_s, "1/s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
    }
    return metrics, info


SPAN_METRICS = [
    "search.bm25", "search.rrf_fuse", "similarity.ivfpq",
    "similarity.filtered", "streaming.bm25_batch", "streaming.neardup_batch",
    "streaming.read", "streaming.compact", "classify.gate",
    "langmodel.filter", "dedup.lsh_pairs", "dedup.cc",
    "cleancorpus.keepbest", "decont", "prep.budget", "materialize.seal",
    "relational.q01", "relational.q03", "relational.q04", "relational.q10",
    "graphs.edges", "graphs.triangles",
]


def span_metric(name):
    return name + (".ms" if "." not in name else "_ms")


def per_layer(res, cpus):
    ops = [o for o in res["ops"] if o["primary"]]
    n = max(1, len(ops))
    cen = res["census"]
    tot = {}
    for fields in cen["by_span"].values():
        for k, v in fields.items():
            tot[k] = tot.get(k, 0.0) + v
    g = lambda k: tot.get(k, 0.0)  # noqa: E731
    w0, w1 = res["window_ms"]
    jobs = [(j[1], j[2]) for j in cen["jobs"]]
    wall_ms = w1 - w0
    # postings and vectors scanned by search requests per hit returned
    search = {str(s["id"]) for s in res["spans"]
              if s["name"].split(".")[0] in ("search", "similarity")}
    search_rows = sum(f["input_rows"] for k, f in cen["by_span"].items()
                      if k in search)
    results = sum(o["results"] for o in ops)
    m = {
        "driver.jobs": g("jobs") / n,
        "driver.stages": g("stages") / n,
        "driver.tasks": g("tasks") / n,
        "driver.dead_gap_ms": stats.dead_gap((w0, w1), jobs) / n,
        "driver.plan_ms": cen["plan_ms"] / n,
        "driver.aqe_updates": cen["aqe_updates"] / n,
        "driver.unattributed_jobs":
            cen["by_span"].get("0", {}).get("jobs", 0.0) / n,
        "exec.task_run_ms": g("task_run_ms") / n,
        "exec.task_cpu_ms": g("task_cpu_ms") / n,
        "exec.gc_ms": g("gc_ms") / n,
        "exec.cpu_util": g("task_cpu_ms") / (wall_ms * cpus),
        "exec.spill_bytes": g("spill_bytes") / n,
        "shuffle.write_bytes": g("shuffle_write_bytes") / n,
        "shuffle.read_bytes": g("shuffle_read_bytes") / n,
        "shuffle.fetch_wait_ms": g("fetch_wait_ms") / n,
        "scan.input_bytes": g("input_bytes") / n,
        "scan.input_rows": g("input_rows") / n,
        "scan.rows_per_result": search_rows / results if results else 0.0,
    }
    selfs = stats.self_times(res["spans"])
    by_name = {}
    for s in res["spans"]:
        by_name.setdefault(s["name"], []).append(selfs[s["id"]])
    for name in SPAN_METRICS:
        m[span_metric(name)] = stats.median(by_name.get(name, [])) \
            if name in by_name else 0.0
    c = res.get("counters", {})
    mt = res.get("maintain", {})
    inb = mt.get("input_bytes", 0.0)
    # write counts per batch of the traced window, state files per batch
    # delivered: a faster engine ingests more batches in the window
    nb = max(1.0, mt.get("batches", 0.0))
    nd = max(1.0, mt.get("delivered", 0.0))
    m.update({
        "streaming.compact_bytes_rewritten":
            mt.get("compact_bytes_written", 0.0) / nb,
        "streaming.cluster_fold_ms": mt.get("cluster_fold_ms", 0.0),
        "streaming.files_written": mt.get("files_written", 0.0) / nb,
        "streaming.bytes_written": mt.get("bytes_written", 0.0) / nb,
        "streaming.state_files": mt.get("state_files", 0.0) / nd,
        "streaming.seen_drop_ratio":
            mt["resent_dropped"] / mt["resent"] if mt.get("resent") else 0.0,
        "streaming.write_amp": mt.get("bytes_written", 0.0) / inb if inb else 0.0,
        "streaming.space_amp": mt["state_bytes"] / mt["delivered_bytes"]
            if mt.get("delivered_bytes") else 0.0,
        "dedup.candidates": c.get("dedup.candidates", 0.0),
        "dedup.pairs": c.get("dedup.pairs", 0.0),
        "dedup.pair_yield": c["dedup.pairs"] / c["dedup.candidates"]
            if c.get("dedup.candidates") else 0.0,
        "dedup.cc_rounds": c.get("dedup.cc_rounds", 0.0),
        "decont.dropped": c.get("decont.dropped", 0.0),
        "graphs.edges": c.get("graphs.edges", 0.0),
        "graphs.triangles": c.get("graphs.triangles", 0.0),
        "log.errors": float(res["log_errors"]),
        "trace.overhead_ms":
            stats.median([o["ms"] for o in ops]) -
            stats.median([o["ms"] for o in res["untraced_ops"] if o["primary"]]),
    })
    # the funnel counters are of its one run; the graph counters
    # accumulate over the traced triangle requests
    ntri = sum(1 for o in ops if o["kind"] == "q151_triangles")
    for k in ("graphs.edges", "graphs.triangles"):
        m[k] /= max(1, ntri)
    return {k: (v, unit_of(k)) for k, v in m.items()}


UNITS = {"ms": "ms", "util": "ratio", "ratio": "ratio", "amp": "ratio",
         "result": "ratio", "yield": "ratio"}


def unit_of(name):
    last = name.rsplit(".", 1)[-1]
    if "bytes" in last:
        return "bytes"
    return UNITS.get(last.split("_")[-1], "count")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        raise SystemExit(f"engine sources not found under {ENGINE_SRC}")
    cp = build()
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(HERE, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "in")
    try:
        t0 = time.time()
        manifest = gen.generate(a.workload, a.seed, inputs)
        gen_s = time.time() - t0
        load_before = load1()
        res = run_jvm(cp, a.workload, inputs, work, a.seconds, a.trace, cpus,
                      a.seed)
        load_after = load1()
        checks = res["checks"] + res["oracle_checks"]
        if a.trace:
            os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
            with open(os.path.join(HERE, "out",
                      f"{a.workload}-s{a.seed}-spans.jsonl"), "w") as f:
                selfs = stats.self_times(res["spans"])
                for s in res["spans"]:
                    f.write(json.dumps(dict(s, self_ms=selfs[s["id"]])) + "\n")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    ops = [o for o in res["ops"] if o["primary"]]
    failed = sum(1 for o in ops if not o["ok"]) + \
        sum(1 for c in checks if not c["ok"])
    attempted = max(1, len(ops))
    failed = min(failed, attempted)
    correct = failed == 0 and len(ops) > 0
    e2e, info = end_to_end(res, gen_s)
    print(f"workload {a.workload} seed {a.seed}: primary operation = "
          f"{PRIMARY[a.workload]}; cpus {cpus}, nproc {os.cpu_count()}, "
          f"spark parallelism {res['default_parallelism']}")
    print(f"load1 before {load_before:.2f} after {load_after:.2f}; "
          f"stale warehouse files at start {res['stale_files']}; "
          f"input bytes {sum(manifest.values())}")
    for ln in res["error_lines"]:
        print(f"log ERROR (of {res['log_errors']}): {ln[:300]}")
    for c in checks:
        print(f"check {'PASS' if c['ok'] else 'FAIL'} {c['name']}: {c['detail']}")
    print(f"correct {correct}: attempted {attempted}, failed {failed}, "
          f"failed_ratio {failed / attempted:.4f}")
    kinds = {}
    for o in res["ops"]:
        kinds.setdefault(o["kind"], []).append(o["ms"])
    print("  per kind: " + ", ".join(
        f"{k} p50 {stats.median(v):.1f} ms (n={len(v)})"
        for k, v in sorted(kinds.items())))
    for k, (v, u) in e2e.items():
        print(f"  {k} = {v:.4f} {u}" + (f" (n={info['samples']})"
                                         if k == "p50_ms" else ""))
    t, pct = info["tail"]
    print(f"  tail (not gated) = {t:.4f} ms at p{pct:.0f} (n={info['samples']})")
    print(f"  one-shot job {res['prepare_s']:.2f} s, set-up passes "
          f"{['%.2f' % s for s in info['setup_passes_s']]} s, "
          f"warm-up {res['warm_s']:.2f} s, session {info['session_s']:.2f} s, "
          f"generation {info['gen_s']:.2f} s, checks {res['check_s']:.2f} s")
    if a.trace:
        metrics = per_layer(res, cpus)
        for k, (v, u) in metrics.items():
            print(f"  {k} = {v:.4f} {u}")
    else:
        metrics = e2e
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed,
                      "metrics": {k: {"value": v, "unit": u}
                                  for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
