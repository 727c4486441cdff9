#!/usr/bin/env python3
"""The repository's benchmark of record (see lakebench/README.md).

    python3 lakebench/run.py --workload {lifecycle,analytics} \
        --seed N --seconds S --trace {0,1} [--smoke 1] [--corrupt 1]

Run from the root of a checkout. Builds the benchmark together with the
checkout's program sources (sbt, offline) when they changed, generates the
workload's inputs from the seed, runs the workload in a fresh JVM with its
own scratch lake root under lakebench/.work (deleted afterwards), checks
the outputs, and prints two JSON lines: the full report (every figure with
unit and sample count, generated sizes, failures), then the result line.
"""
import argparse
import hashlib
import json
import math
import os
import re
import shutil
import signal
import subprocess
import sys
import time


HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "lakebench.stamp")
DEADLINE_S = 175
# The analytics documents count is held apart from the scale factor:
# `doc_len_quantile_sketch` matches its exact oracle only while its KLL
# sketch never compacts, which holds up to about a thousand documents.
ANALYTICS_SF, ANALYTICS_DOCS = 0.02, 500
SMOKE_SF, SMOKE_DOCS = 0.001, 100
GEN_REPS = 3

END_TO_END = {"setup_s": "s", "wall_s": "s"}

ADD_OPENS = [f"--add-opens={p}=ALL-UNNAMED" for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar")]


def die(msg: str) -> None:
    print(f"lakebench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp() -> str:
    """Digest of every input of the build: the program's main sources and
    build file (its jar directory) and the benchmark's own sources and
    build files."""
    h = hashlib.sha1()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
             os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def spark_jars() -> str:
    """The jar directory the program's own build compiles against (the
    `unmanagedBase` of the checkout's build.sbt)."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        die("the checkout's build.sbt names no unmanagedBase jar directory")
    return m.group(1)


def build() -> None:
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        die(f"no program sources under {ROOT}/src/main/scala; run from a checkout root")
    stamp = source_stamp()
    if os.path.exists(STAMP) and open(STAMP).read() == stamp and os.path.isdir(CLASSES):
        return
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=800)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        die("build failed")
    with open(STAMP, "w") as f:
        f.write(stamp)
    print(f"lakebench: built in {time.time() - t0:.1f}s", file=sys.stderr)


# ---------------------------------------------------------------- oracle

def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def _equal(a, b) -> bool:
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float):
        return (math.isnan(a) and math.isnan(b)) or a == b
    return a == b or str(a) == str(b)


def oracle_failures(data_dir: str, work: str) -> list:
    """Each analytics result of every timed pass against its SQL twin in
    DuckDB: sorted columns, sorted rows, exact values."""
    import duckdb
    import pandas as pd
    with open(os.path.join(work, "oracle.json")) as f:
        oracle = json.load(f)
    con, out = duckdb.connect(), []
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    for r in oracle["results"]:
        name = r["query"]
        s = _canon(pd.read_parquet(r["result"]))
        try:
            d = _canon(con.execute(oracle["sql"][name]).fetchdf())
        except Exception as e:  # noqa: BLE001 - report any oracle error
            out.append(f"analytics {name}: oracle SQL error {e}")
            continue
        if list(s.columns) != list(d.columns):
            out.append(f"analytics {name}: columns {list(s.columns)} vs oracle {list(d.columns)}")
        elif len(s) != len(d):
            out.append(f"analytics {name}: {len(s)} rows vs oracle {len(d)}")
        else:
            bad = next(((c, i, a, b) for c in s.columns
                        for i, (a, b) in enumerate(zip(s[c].tolist(), d[c].tolist()))
                        if not _equal(a, b)), None)
            if bad:
                out.append(f"analytics {name}: col={bad[0]} row={bad[1]} got={bad[2]!r} oracle={bad[3]!r}")
    return out


# ------------------------------------------------------------------ run

def run(args) -> dict:
    build()
    start = time.time()  # the deadline covers the run, not a first build
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        gen_s, data, rows = [], "", {}
        if args.workload == "analytics":
            import gen_tables
            data = os.path.join(work, "data")
            sf, docs = (SMOKE_SF, SMOKE_DOCS) if args.smoke else (ANALYTICS_SF, ANALYTICS_DOCS)
            for r in range(1 if args.smoke else GEN_REPS):
                shutil.rmtree(data, ignore_errors=True)
                os.makedirs(data)
                t0 = time.time()
                rows = gen_tables.write(data, args.seed, sf, docs)
                gen_s.append(time.time() - t0)
        cpus = str(os.cpu_count() or 1)
        try:
            cpus = str(len(os.sched_getaffinity(0)))
        except AttributeError:
            pass
        env = dict(os.environ, LANG="C.UTF-8", LC_ALL="C.UTF-8", SPARK_GRAFT_CPUS=cpus)
        cmd = ["java", "-Xms3g", "-Xmx3g", *ADD_OPENS, "-Dspark.ui.enabled=false",
               "-Dspark.sql.session.timeZone=UTC", "-Dfile.encoding=UTF-8",
               "-Dsun.jnu.encoding=UTF-8", f"-Djava.io.tmpdir={work}/tmp",
               "-cp", f"{CLASSES}:{spark_jars()}/*", "lakebench.Main",
               "--workload", args.workload, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace),
               "--work", work, "--data", data,
               "--gen-s", ",".join(f"{g:.6f}" for g in gen_s),
               "--smoke", str(args.smoke), "--corrupt", str(args.corrupt),
               "--t0-ms", str(int(time.time() * 1000))]
        log_path = os.path.join(work, "jvm.log")
        with open(log_path, "w") as log:
            t_jvm = time.time()
            p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env, cwd=work)
            try:
                p.wait(timeout=max(10, DEADLINE_S - (time.time() - start)))
            except subprocess.TimeoutExpired:
                die("the workload overran its deadline")
            finally:
                if p.poll() is None:
                    p.kill()
                    p.wait()
        if p.returncode != 0 or not os.path.exists(os.path.join(work, "result.json")):
            with open(log_path) as f:
                sys.stderr.write(f.read()[-6000:])
            die(f"the workload JVM exited with {p.returncode}")
        with open(os.path.join(work, "result.json")) as f:
            res = json.load(f)
        res["sizes"].update({f"{t}_rows": n for t, n in rows.items()})
        res["run_s"] = {"jvm": time.time() - t_jvm}
        with open(log_path) as f:
            for line in f:
                if line.startswith("[lakebench]"):
                    sys.stderr.write(line)
        if args.workload == "analytics":
            t_oracle = time.time()
            bad = oracle_failures(data, work)
            res["run_s"]["oracle_check"] = time.time() - t_oracle
            res["failed"] += len(bad)
            res["failures"] += bad
        if args.trace:
            out = os.path.join(HERE, "out")
            os.makedirs(out, exist_ok=True)
            shutil.copy(os.path.join(work, "spans.json"),
                        os.path.join(out, f"spans-{args.workload}-{args.seed}.json"))
        return res
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _terminate(signum, _frame):
    raise SystemExit(128 + signum)


def main() -> None:
    # a terminated run still stops its JVM and removes its scratch root
    signal.signal(signal.SIGTERM, _terminate)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["lifecycle", "analytics"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", type=int, choices=[0, 1], default=0)
    ap.add_argument("--corrupt", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    res = run(args)
    e2e = res["end_to_end"]
    e2e["error_rate"]["value"] = res["failed"] / max(1, res["attempted"])
    report = {k: res[k] for k in ("workload", "seed", "trace", "sizes", "setup",
                                  "pass_s", "run_s", "failures")}
    report["end_to_end"] = e2e
    print(json.dumps(report))
    if args.trace:
        metrics = res["per_layer"]
    else:
        metrics = {n: {"value": e2e[n]["value"], "unit": u} for n, u in END_TO_END.items()}
    print(json.dumps({"correct": res["failed"] == 0 and res["attempted"] > 0,
                      "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
