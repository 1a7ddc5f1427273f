#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

Usage (from the repository root):
    python3 perfbench/run.py --workload egv_live --seed 1 --seconds 10 --trace 0

The first run in a checkout builds the harness (perfbench/build.sbt, which
compiles the engine sources with it) under $CARGO_TARGET_DIR, default
.bench_build. Each run then starts one JVM that sets the workload up,
measures it, checks its outputs, and writes a raw result file. This script
adds the DuckDB oracle check for catalog workloads, computes error_rate,
runs the consistency checks (traced layers cover the wall, an open-loop
stream keeps up with its rate; a failed one makes the run not correct),
writes results/<workload>-s<seed>-t<trace>.json under the build directory,
and prints `name value unit` lines followed by the result line last:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones.
A run that fails, or misses a metric BENCHMARK.json declares for an active
layer, exits non-zero without a result line.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_TIMEOUT_S = 170
# Per-layer self times of a traced run, the harness's own left out, must
# add up to its wall within this.
SELF_SUM_TOLERANCE = 0.10
# An open-loop stream must sustain its offered rate within this, or its
# backlog grew during the window.
RATE_TOLERANCE = 0.05
BUILD_TIMEOUT_S = 840
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def error_rate(attempted, failed):
    """Failed operations over attempted ones; a run that attempted nothing is broken."""
    if attempted <= 0:
        raise ValueError("error rate of a run that attempted nothing")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed {failed} of {attempted}")
    return failed / attempted


def count_failures(raw, oracle_failures):
    """(attempted, failed, named failures): the JVM's own count plus every
    timed execution of a query whose result missed its oracle."""
    failed = raw["failed"]
    named = list(raw["failures"])
    executions = (raw.get("oracle") or {}).get("executions", {})
    for name, why in sorted(oracle_failures.items()):
        failed += executions.get(name, 1)
        named.append(f"{name}: {why}")
    return raw["attempted"], min(failed, raw["attempted"]), named


def select_metrics(got, declared, idle_layers):
    """The declared metrics, by name, from what the run emitted. A metric
    of a layer the workload does not exercise (`idle_layers`, by name
    prefix) reads an explicit 0 if the run left it out; any other missing
    metric is an error, so a metric cannot silently turn into "no work"."""
    out, missing = {}, []
    for m in declared:
        name = m["name"]
        if name in got:
            out[name] = got[name]
        elif name.split(".")[0] in idle_layers:
            out[name] = {"value": 0.0, "unit": m["unit"]}
        else:
            missing.append(name)
    if missing:
        raise ValueError(f"run did not report {', '.join(missing)}")
    return out


def failed_checks(raw, spec, trace):
    """Names of the run's consistency checks that failed: per-layer self
    times must cover the traced wall, and an open-loop stream must keep
    up with its offered rate."""
    bad = []
    if trace:
        share = raw["per_layer"]["trace.self_sum_share"]["value"]
        if abs(share - 1) > SELF_SUM_TOLERANCE:
            bad.append(f"per-layer self times cover {share:.3f} of the traced wall")
    if "rate_per_s" in spec:
        got, want = raw["info"]["sustained_rps"], spec["rate_per_s"]
        if abs(got / want - 1) > RATE_TOLERANCE:
            bad.append(f"sustained {got:.1f} records/s against {want} offered")
    return bad


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def source_hash():
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        files += sorted(glob.glob(os.path.join(base, "**", "*.*"), recursive=True))
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def ensure_built(bdir):
    """Compile the harness once per source state; returns the classpath."""
    stamp = os.path.join(bdir, "classpath.json")
    want = source_hash()
    if os.path.exists(stamp):
        with open(stamp) as fh:
            got = json.load(fh)
        if got.get("hash") == want:
            return got["classpath"]
    os.makedirs(bdir, exist_ok=True)
    env = dict(os.environ, CARGO_TARGET_DIR=bdir)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "") + " -Dsbt.server.autostart=false"
    env["SBT_OPTS"] = opts.strip()
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
           "export Runtime/fullClasspath"]
    p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=BUILD_TIMEOUT_S)
    with open(os.path.join(bdir, "build.log"), "w") as fh:
        fh.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    with open(stamp, "w") as fh:
        json.dump({"hash": want, "classpath": lines[-1]}, fh)
    return lines[-1]


def oracle_check(oracle, tables):
    """Strict DuckDB comparison, the one scripts/check.py --strict makes:
    same columns, same DuckDB types, and every cell rendered as VARCHAR
    equal after sorting. Returns {query: reason} for each mismatch."""
    import duckdb
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{tables}/events.parquet')")
    bad = dict(oracle.get("dumpErrors", {}))

    def types(sql):
        return {r[0]: r[1] for r in con.execute(f"DESCRIBE {sql}").fetchall()}

    def rows(sql, cols):
        sel = ", ".join(f"COALESCE(CAST(\"{c}\" AS VARCHAR), '<NULL>')" for c in cols)
        return sorted(con.execute(f"SELECT {sel} FROM ({sql}) t").fetchall())

    for name, sql in sorted(oracle["sql"].items()):
        files = glob.glob(os.path.join(oracle["dumpDir"], name, "*.parquet"))
        if not files:
            bad[name] = "no result written"
            continue
        got_sql = f"SELECT * FROM read_parquet({files!r})"
        try:
            st, ot = types(got_sql), types(f"({sql})")
            if st != ot:
                bad[name] = f"schema {st} != oracle {ot}"
                continue
            cols = sorted(st)
            got, exp = rows(got_sql, cols), rows(sql, cols)
            if got != exp:
                diff = next((g, e) for g, e in zip(got + [None] * len(exp), exp + [None] * len(got))
                            if g != e)
                bad[name] = f"{len(got)} rows vs {len(exp)}; first difference {diff}"
        except Exception as e:  # a broken oracle query is a failed check, not a crash
            bad[name] = f"{type(e).__name__}: {e}"
    return bad


def jvm_command(classpath, spec, args, work, out):
    # The parallel collector gave steadier run-to-run figures than G1. The
    # catalog's generated classes otherwise trigger full collections at
    # metaspace thresholds (about 0.2 s each) inside the timed passes.
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-XX:MetaspaceSize=512m",
           "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--kind", spec["kind"], "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--out", out]
    if spec["kind"] == "live":
        cmd += ["--events", os.path.join(ROOT, spec["events"]), "--rate", str(spec["rate_per_s"])]
    else:
        cmd += ["--queries", ",".join(spec["queries"]),
                "--tables", os.path.join(ROOT, spec["tables"]),
                "--warm_tables", os.path.join(ROOT, spec["warm_tables"])]
    return cmd


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    with open(os.path.join(HERE, "workloads.json")) as fh:
        spec = json.load(fh)["workloads"].get(args.workload)
    if spec is None:
        raise SystemExit(f"perfbench: unknown workload {args.workload}")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = json.load(fh)
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("perfbench: run from the root of the repository (no src/main/scala)")

    bdir = build_dir()
    classpath = ensure_built(bdir)
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = os.path.join(bdir, "runs", f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "raw.json")
    log_path = os.path.join(bdir, "logs", f"{tag}.log")
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    try:
        with open(log_path, "w") as log:
            p = subprocess.run(jvm_command(classpath, spec, args, work, out), cwd=ROOT,
                               stdout=log, stderr=subprocess.STDOUT, timeout=RUN_TIMEOUT_S)
        if p.returncode != 0 or not os.path.exists(out):
            with open(log_path) as fh:
                sys.stderr.write(fh.read()[-4000:])
            raise SystemExit(f"perfbench: run failed (exit {p.returncode}); log in {log_path}")
        with open(out) as fh:
            raw = json.load(fh)
        bad = oracle_check(raw["oracle"], os.path.join(ROOT, spec["tables"])) if raw["oracle"] else {}
        spans = raw.pop("spans", [])
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted, failed, named = count_failures(raw, bad)
    rate = error_rate(attempted, failed)
    checks = failed_checks(raw, spec, args.trace)
    kind = "per_layer" if args.trace else "end_to_end"
    got = dict(raw[kind], error_rate={"value": rate, "unit": "ratio"}) if args.trace else raw[kind]
    try:
        metrics = select_metrics(got, declared[kind], spec["idle_layers"])
    except ValueError as e:
        raise SystemExit(f"perfbench: {e}")
    result = {"correct": failed == 0 and not checks, "attempted": attempted, "failed": failed,
              "metrics": metrics}

    record = dict(result, workload=args.workload, seed=args.seed, seconds=args.seconds,
                  trace=args.trace, error_rate=rate, failures=named, failed_checks=checks,
                  info=raw["info"], oracle_checked=sorted((raw["oracle"] or {}).get("sql", {})),
                  all_per_layer=raw["per_layer"], all_end_to_end=raw["end_to_end"])
    rdir = os.path.join(bdir, "results")
    os.makedirs(rdir, exist_ok=True)
    with open(os.path.join(rdir, f"{tag}.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    if args.trace:
        with open(os.path.join(rdir, f"{tag}.spans.json"), "w") as fh:
            json.dump(spans, fh)

    print(f"perfbench workload={args.workload} seed={args.seed} trace={args.trace} "
          f"error_rate={rate:.6g} samples={raw['info'].get('latency_samples')}")
    if args.trace:
        print(f"perfbench check per-layer self times cover "
              f"{raw['per_layer']['trace.self_sum_share']['value']:.4f} of the traced wall; "
              f"tracing overhead {raw['per_layer']['trace.overhead_share']['value']:+.3f}")
    if "catalog_s" in raw["info"]:
        print(f"perfbench catalog_s {raw['info']['catalog_s']} s (median pass wall)")
    if "sustained_rps" in raw["info"]:
        print(f"perfbench check sustained {raw['info']['sustained_rps']:.1f} records/s")
    for name in checks:
        print(f"perfbench check FAILED: {name}")
    for name in named[:20]:
        print(f"perfbench failure: {name}")
    for name, m in metrics.items():
        print(f"perfbench {name} {m['value']} {m['unit']}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
