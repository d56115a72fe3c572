#!/usr/bin/env python3
"""The graft benchmark: builds the engine and the harness from source,
runs one workload for one seed in a fresh JVM, checks the outputs, and
prints the result.

    python3 perfbench/run.py --workload feed_requests --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 20

Workloads: feed_requests, ingest_serve, catalog_sample (see NOTE.md).
`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
metrics of a traced run. `all` runs every workload untraced and traced.

The last line of standard output is one JSON object with the keys
correct, attempted, failed and metrics. The lines before it name every
metric with its unit and sample count. The full result, with its
provenance (and a traced run's spans), is kept under <build dir>/results/.

Run from the root of a checkout. The build goes to $CARGO_TARGET_DIR
(default .bench_build) and is reused while the sources are unchanged.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["feed_requests", "ingest_serve", "catalog_sample"]
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
HEAP = "2g"
# Lower JIT thresholds: C2 still compiles the hot paths, but the
# per-request latency levels off within the warm-up instead of drifting
# down through the timed phase, which made runs disagree.
JIT_SCALING = "-XX:CompileThresholdScaling=0.2"
# Spark on JDK 17 outside spark-submit needs these (as the engine's own build sets them)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def source_digest():
    """Hash of every file the build reads, so a stale build is never reused."""
    h = hashlib.sha256()
    paths = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
                os.path.join(HERE, "src"), os.path.join(HERE, "project")]:
        for dirpath, dirnames, files in os.walk(top):
            dirnames[:] = sorted(d for d in dirnames if d != "target")
            paths += [os.path.join(dirpath, f) for f in sorted(files)]
    for p in paths:
        if os.path.isfile(p):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def run_bounded(cmd, timeout, **kw):
    """Runs cmd in its own process group and returns its exit code; kills
    the whole group on timeout or interrupt."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        p.communicate(timeout=timeout)
        return p.returncode
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def ensure_built(bdir, digest):
    """Compiles engine + harness with sbt once per source digest; returns the classpath."""
    cp_file = os.path.join(bdir, "classpath.txt")
    stamp = os.path.join(bdir, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp) and open(stamp).read() == digest:
        return open(cp_file).read().strip()
    os.makedirs(bdir, exist_ok=True)
    log = os.path.join(bdir, "build.log")
    env = dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"))
    with open(log, "w") as lf:
        rc = run_bounded(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "export perfbench/Runtime/fullClasspath"],
            BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=lf, stderr=subprocess.STDOUT)
    lines = open(log).read().splitlines()
    cps = [l for l in lines if "scala-2.13/classes" in l and not l.startswith("[")]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (rc={rc}); log in {log}")
    with open(cp_file, "w") as f:
        f.write(cps[-1].strip())
    with open(stamp, "w") as f:
        f.write(digest)
    return cps[-1].strip()


def git_commit():
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def work_dir(bdir, workload, seed, trace):
    return os.path.join(bdir, "work", f"{workload}-s{seed}-t{trace}-{os.getpid()}")


def run_jvm(cp, bdir, work, workload, seed, seconds, trace, extra):
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(bdir, "tmp")
    for d in (work, tmp):
        os.makedirs(d, exist_ok=True)
    out = os.path.join(work, "result.json")
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", JIT_SCALING]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", f"-Dspark.local.dir={tmp}", f"-Djava.io.tmpdir={tmp}",
              f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
              "-cp", cp, "perfbench.Main",
              "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
              "--trace", "1" if trace else "0", "--work", work, "--out", out] + extra)
    t0 = time.time()
    with open(os.path.join(work, "jvm.log"), "w") as lf:
        rc = run_bounded(cmd, RUN_TIMEOUT_S, cwd=work, stdout=lf, stderr=subprocess.STDOUT)
    if rc != 0 or not os.path.exists(out):
        sys.stderr.write(open(os.path.join(work, "jvm.log")).read()[-6000:])
        fail(f"{workload}: JVM exited with {rc}")
    res = json.load(open(out))
    res["provenance"]["run_wall_s"] = time.time() - t0
    return res


def oracle_checks(res):
    """Compares each catalog key's Spark result with its DuckDB oracle over
    the same generated tables: same columns, rows and cell reprs (NULL and
    NaN distinct, ints distinct from floats, decimals read as float)."""
    if not res.get("oracle_checks"):
        return []
    import duckdb
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    import pyarrow.types as pt

    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    data = res["data_dir"]
    for t in ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
              "events", "documents", "embeddings"]:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet/*.parquet')")

    def cells(tbl, name):
        df = tbl.to_pandas()
        col = df[name].astype("float64") if pt.is_decimal(tbl.schema.field(name).type) else df[name]
        nulls = pc.is_null(tbl[name]).to_pylist()
        out = []
        for v, isnull in zip(col.tolist(), nulls):
            if isnull or v is None:
                out.append("∅")
            elif isinstance(v, float) and v != v:
                out.append("nan")
            else:
                out.append(repr(v))
        return out

    errors = []
    for c in res["oracle_checks"]:
        key = c["key"]
        try:
            files = sorted(f for f in os.listdir(c["dir"]) if f.endswith(".parquet"))
            got = pq.read_table(os.path.join(c["dir"], files[0]))
            exp = con.sql(c["sql"]).arrow()
            if hasattr(exp, "read_all"):
                exp = exp.read_all()
            gc, ec = sorted(got.column_names), sorted(exp.column_names)
            if gc != ec:
                errors.append(f"{key}: columns {gc} vs oracle {ec}")
            elif got.num_rows != exp.num_rows:
                errors.append(f"{key}: {got.num_rows} rows vs oracle {exp.num_rows}")
            else:
                bad = [n for n in gc if cells(got, n) != cells(exp, n)]
                if bad:
                    errors.append(f"{key}: values differ from the oracle in {bad}")
                else:
                    errors.append(None)
        except Exception as e:  # a failed comparison is a failed check, not a crashed run
            errors.append(f"{key}: oracle check error: {e}")
    return errors


def finish(res, trace, bdir, digest, work):
    checks = oracle_checks(res)
    res["attempted"] += len(checks)
    res["failed"] += sum(1 for e in checks if e)
    res["failures"] += [e for e in checks if e]
    prov = res["provenance"]
    prov.update(seed=res["seed"], source_digest=digest, git_commit=git_commit(), heap=HEAP)
    os.makedirs(os.path.join(bdir, "results"), exist_ok=True)
    stem = os.path.join(bdir, "results", f"{res['workload']}-seed{res['seed']}-trace{int(trace)}")
    with open(stem + ".json", "w") as f:
        json.dump(res, f, indent=1)
    if trace and os.path.exists(os.path.join(work, "spans.jsonl")):
        shutil.copy(os.path.join(work, "spans.jsonl"), stem + ".spans.jsonl")
    w = res["workload"]
    print(f"# {w} seed={res['seed']} sf={prov['sf']} cores={prov['cores']} heap={HEAP} "
          f"spark={prov['spark']} source={digest} commit={prov['git_commit']}")
    for name, m in res["report"].items():
        print(f"{w} {name} = {m['value']:.6g} {m['unit']} (n={m['n']})")
    fail_frac = res["failed"] / max(1, res["attempted"])
    print(f"{w} fail_frac = {fail_frac:.6g} ratio (n={res['attempted']})")
    for e in res["failures"]:
        print(f"{w} FAILED {e}")
    if trace:
        for name, m in res["layers"].items():
            print(f"{w} {name} = {m['value']:.6g} {m['unit']}")
        base = stem[:-1] + "0.json"
        if os.path.exists(base):
            b = json.load(open(base))
            if b["provenance"].get("source_digest") == digest:
                for name, m in res["metrics"].items():
                    print(f"{w} tracing overhead {name} = {m['value'] - b['metrics'][name]['value']:+.6g} {m['unit']}")
    metrics = res["layers"] if trace else res["metrics"]
    return {
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v["value"], "unit": v["unit"]} for k, v in metrics.items()},
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--sf", type=float, help="scale factor (default: per workload, see NOTE.md)")
    ap.add_argument("--max-ops", type=int, help="stop the timed phase after this many steps")
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        fail(f"no engine sources under {ROOT}: run from a full checkout")
    bdir = build_dir()
    digest = source_digest()
    cp = ensure_built(bdir, digest)
    extra = (["--sf", str(a.sf)] if a.sf else []) + (["--max-ops", str(a.max_ops)] if a.max_ops else [])

    runs = [(w, t) for w in WORKLOADS for t in (0, 1)] if a.workload == "all" else [(a.workload, a.trace)]
    lines = []
    for w, t in runs:
        # the work directory (inputs, JVM log) goes with the run, also a
        # failed one: its log tail is printed on failure
        work = work_dir(bdir, w, a.seed, t)
        try:
            res = run_jvm(cp, bdir, work, w, a.seed, a.seconds, t, extra)
            lines.append((w, t, finish(res, t, bdir, digest, work)))
        finally:
            shutil.rmtree(work, ignore_errors=True)
    if len(lines) == 1:
        print(json.dumps(lines[0][2]))
    else:
        print(json.dumps({
            "correct": all(r["correct"] for _, _, r in lines),
            "attempted": sum(r["attempted"] for _, _, r in lines),
            "failed": sum(r["failed"] for _, _, r in lines),
            "metrics": {f"{w}.{k}": v for w, t, r in lines if t == 0 for k, v in r["metrics"].items()},
        }))


if __name__ == "__main__":
    main()
