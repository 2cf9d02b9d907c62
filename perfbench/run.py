#!/usr/bin/env python3
"""graft benchmark: one workload, one JVM, one JSON result line.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. The first run builds the program
and the benchmark from source with sbt (perfbench/build.sbt) and keeps the
runtime classpath in perfbench/.build; later runs reuse it while the
sources are unchanged. Every scratch file of a run lives under
perfbench/.work and is removed when the run ends, except the JVM's log
(perfbench/.work/jvm.log, overwritten by the next run).

The last line of standard output is
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
holding the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1) of BENCHMARK.json; the lines before it are a readable report.
See perfbench/README.md.
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
# ops_suite input: copies of the repository's fixed test tables at scale
# factor 0.1 (TESTDATA.md) that its eight queries read; the seed does not
# apply to them
OPS_DATA = os.path.join(HERE, "data", "sf0.1")
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
RUN_LIMIT_S = 175        # a run must end within 180 s (the build excepted)
CHECK_RESERVE_S = 10     # kept back for the output checks after the JVM
BUILD_LIMIT_S = 840
HEAP = "4g"

WORKLOADS = ("kg_build", "ops_suite")
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def bench_spec():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        return json.load(f)


def source_files(root):
    """Every file the build reads: the program's sources and build
    definition, and the benchmark's own."""
    files = [os.path.join(root, "build.sbt"),
             os.path.join(root, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(root, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def build(root):
    """Compile if the sources changed; return (runtime classpath, compiled)."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(root, need)):
            raise SystemExit(f"[perfbench] no {need} in {root}: run from the "
                             "root of a graft source checkout")
    h = hashlib.sha256()
    for f in source_files(root):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f1, open(cp_file) as f2:
            cp = f2.read().strip()
            if f1.read().strip() == stamp and all(
                    os.path.exists(p) for p in cp.split(os.pathsep)):
                return cp, False
    os.makedirs(BUILD, exist_ok=True)
    log("building with sbt (first run in this checkout)")
    t0 = time.time()
    # the build resolves nothing over the network: offline, from the local
    # caches, as the repository's own test command runs sbt
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx4g")
    with open(os.path.join(BUILD, "sbt.log"), "w") as out:
        p = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out, text=True,
            timeout=BUILD_LIMIT_S, stdin=subprocess.DEVNULL)
        out.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l.startswith(os.sep)]
    if p.returncode != 0 or not lines:
        raise SystemExit("[perfbench] sbt build failed; see "
                         + os.path.join(BUILD, "sbt.log"))
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return cp, True


def run_jvm(cp, args, work, deadline):
    """Run perfbench.Main to completion (or kill it at the deadline)."""
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp"]
           + [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main"] + args)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    with open(os.path.join(WORK, "jvm.log"), "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, env=env,
                             start_new_session=True)
        try:
            return p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def oracle_check(data_dir, out_dir):
    """DuckDB oracle on the first pass (normalised as tools/check_oracle.py
    does); every later pass must equal it. Returns error strings."""
    import duckdb
    import pandas as pd

    def norm(df):
        df = df.reindex(sorted(df.columns), axis=1)
        return df.sort_values(by=list(df.columns)).reset_index(drop=True).astype(str)

    def read(qdir):
        files = sorted(f for f in os.listdir(qdir) if f.endswith(".parquet"))
        if not files:
            raise ValueError("no output")
        return norm(pd.concat([pd.read_parquet(os.path.join(qdir, f)) for f in files]))

    tables = sorted(f for f in os.listdir(data_dir) if f.endswith(".parquet"))
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{os.path.join(out_dir, 'duckdb-tmp')}'")
    data = hashlib.sha256()
    for f in tables:
        con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                    f"'{os.path.join(data_dir, f)}'")
        with open(os.path.join(data_dir, f), "rb") as fh:
            data.update(f.encode() + fh.read())

    def oracle_answer(name, sql):
        # the tables are fixed, so DuckDB's normalised answer is kept, keyed
        # by the SQL text and the tables' bytes, and recomputed when either
        # changes (the q23 SimHash oracle alone takes ~18 s at sf0.1)
        key = hashlib.sha256(sql.encode() + data.digest()).hexdigest()[:32]
        path = os.path.join(BUILD, "oracle", f"{name}-{key}.parquet")
        if os.path.exists(path):
            return pd.read_parquet(path)
        want = norm(con.sql(sql).df())
        os.makedirs(os.path.dirname(path), exist_ok=True)
        want.to_parquet(path + ".tmp")
        os.replace(path + ".tmp", path)
        return want

    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    errors = []
    passes = sorted((d for d in os.listdir(out_dir) if d.startswith("pass-")),
                    key=lambda d: int(d[len("pass-"):]))
    first = os.path.join(out_dir, passes[0])
    for name in sorted(os.listdir(first)):
        try:
            got = read(os.path.join(first, name))
            if name in oracle:
                want = oracle_answer(name, oracle[name])
                if list(got.columns) != list(want.columns) or not got.equals(want):
                    errors.append(f"{name}: result differs from the DuckDB oracle")
            for p in passes[1:]:
                again = read(os.path.join(out_dir, p, name))
                if not again.equals(got):
                    errors.append(f"{name}: {p} differs from {passes[0]}")
        except Exception as e:  # noqa: BLE001 -- any failure is a failed check
            errors.append(f"{name}: {type(e).__name__}: {e}")
    return errors


def kg_store_check(store, snapshot, oracle_sql):
    """A committed KG store is whole and its triples are right: every stage
    committed under `snapshot`, the PROJECT root stamped with it, and the
    committed triples equal (as a multiset) DuckDB's re-derivation from
    the committed extracted/linked/canon tables. Returns error strings."""
    import duckdb
    errors = []
    name = os.path.basename(store)
    for stage in sorted(os.listdir(store)):
        if not os.path.isdir(os.path.join(store, stage, "data")):
            continue
        try:
            with open(os.path.join(store, stage, "_graft_manifest.json")) as f:
                sid = json.load(f)["snapshot_id"]
        except (OSError, ValueError, KeyError):
            sid = None
        if sid != snapshot:
            errors.append(f"{name}: stage {stage} not committed under {snapshot}")
    con = duckdb.connect()
    want = oracle_sql.replace("__STORE__", store)
    got = ("SELECT subj, pred, obj FROM read_parquet("
           f"'{store}/triples/data/*/*/*.parquet', hive_partitioning = true)")
    missing = con.sql(f"SELECT count(*) FROM (({want}) EXCEPT ALL ({got}))").fetchone()[0]
    extra = con.sql(f"SELECT count(*) FROM (({got}) EXCEPT ALL ({want}))").fetchone()[0]
    if missing or extra:
        errors.append(f"{name}: triples differ from the DuckDB re-derivation "
                      f"({missing} missing, {extra} extra)")
    roots = con.sql(
        "SELECT count(*) FROM read_parquet("
        f"'{store}/nodes/data/*/*.parquet', hive_partitioning = true) "
        f"WHERE label = 'PROJECT' AND map_extract(props, 'snapshot_id') = ['{snapshot}']"
    ).fetchone()[0]
    if roots != 1:
        errors.append(f"{name}: PROJECT root not stamped with {snapshot}")
    return errors


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()
    root = os.path.dirname(HERE)
    spec = bench_spec()
    cp, compiled = build(root)
    # a run that compiled may take longer; its clock starts after the build
    deadline = (time.time() if compiled else t_start) + RUN_LIMIT_S - CHECK_RESERVE_S

    work = os.path.join(WORK, a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        extra = [OPS_DATA] if a.workload == "ops_suite" else []
        result_file = os.path.join(work, "result.json")
        rc = run_jvm(cp, [a.workload, str(a.seed), str(a.seconds), str(a.trace),
                          work, result_file] + extra, work, deadline)
        if rc != 0 or not os.path.exists(result_file):
            with open(os.path.join(WORK, "jvm.log"), errors="replace") as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            raise SystemExit(f"[perfbench] JVM {'timed out' if rc is None else f'exited {rc}'}")
        with open(result_file) as f:
            r = json.load(f)
        errors = list(r["errors"])
        failed = r["failed"]
        if a.workload == "ops_suite":
            check_errors = oracle_check(OPS_DATA, os.path.join(work, "ops-out"))
        else:
            with open(os.path.join(work, "triples_oracle.sql")) as f:
                sql = f.read()
            check_errors = [e for store, sid in r["stores"]
                            for e in kg_store_check(store, sid, sql)]
        errors += check_errors
        # one failed operation per query or store, however many checks it failed
        failed = min(r["attempted"],
                     failed + len({e.split(":")[0] for e in check_errors}))
        m = dict(r["metrics"])
        m["failed_ratio"] = failed / r["attempted"]
    finally:
        shutil.rmtree(work, ignore_errors=True)

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    for k, v in sorted(r["info"].items()):
        print(f"{a.workload} {k}: {v}")
    for k, v in sorted(m.items()):
        print(f"{a.workload} {k}: {v:.6g}" if v is not None else f"{a.workload} {k}: -")
    for e in errors:
        print(f"{a.workload} FAILED {e}")
    print(f"{a.workload} run_s: {time.time() - t_start:.1f}")
    metrics = {}
    for w in wanted:
        # a layer this workload never enters reads 0
        v = m.get(w["name"], 0.0)
        metrics[w["name"]] = {"value": v, "unit": w["unit"]}
    correct = failed == 0 and all(
        x["value"] is not None for x in metrics.values())
    print(json.dumps({"correct": correct, "attempted": r["attempted"],
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
