#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the repository. One run:

1. builds the engine and the harness with sbt, unless the build stamp
   matches the sources;
2. generates the workload's input corpus from the seed (cached per seed);
3. runs the harness in one JVM (see Harness.scala): set-up and warm-up,
   then timed passes with tracing off, or, with --trace 1, the same
   passes untraced and then traced;
4. checks every member's output: members with an oracle against
   `SparkEntry.oracleSql` in DuckDB using the comparison rules of
   `tools/compare.py`; members without one for a non-empty output whose
   fingerprint is the same in two passes;
5. prints one line per metric, the check verdict, and as the last line a
   JSON object with `correct`, `attempted`, `failed` and `metrics`.

Workloads and fixed settings live in perfbench/config.json.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
CONFIG = json.loads((HERE / "config.json").read_text())
METRICS = json.loads((ROOT / "BENCHMARK.json").read_text())
BUILD_SOURCES = [HERE / "src", HERE / "build.sbt", HERE / "project" / "build.properties",
                 ROOT / "src" / "main" / "scala"]
CLASSES = HERE / "target" / "scala-2.13" / "classes"
STAMP = HERE / "target" / "perfbench.stamp"
DATA = ROOT / ".bench_data"
WORK = ROOT / ".bench_work"
CACHED_SEEDS = 3  # corpora kept per workload input shape
JVM_TIMEOUT_S = 150  # leaves room for generation and the check in a 180 s run
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def spark_home():
    return os.environ.get("SPARK_HOME") or die("set SPARK_HOME to the Spark installation")


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run(cmd, cwd, log, timeout, env=None):
    """Runs cmd in its own process group, output to log; kills the group
    and waits for it on timeout."""
    with open(log, "ab") as out:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT, env=env,
                             start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise


def source_digest():
    h = hashlib.sha1()
    for base in BUILD_SOURCES:
        for f in sorted([base] if base.is_file() else base.rglob("*.scala")):
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def build(log):
    digest = source_digest()
    if CLASSES.is_dir() and STAMP.is_file() and STAMP.read_text() == digest:
        return 0.0
    env = dict(os.environ, SPARK_HOME=spark_home())
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    t0 = time.time()
    rc = run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], HERE, log, 840, env)
    if rc != 0:
        die(f"build failed (exit {rc}); see {log}")
    STAMP.write_text(digest)
    return time.time() - t0


def inputs(wl, seed, log):
    """The workload's corpus for this seed, generated once and cached;
    returns (dir, seconds spent generating, 0 when cached)."""
    key = f"sf{wl['sf']}x{wl['replicas']}"
    out = DATA / key / str(seed)
    if (out / "done").is_file():
        return out, 0.0
    shutil.rmtree(out, ignore_errors=True)
    t0 = time.time()
    rc = run([sys.executable, str(HERE / "gen.py"), str(out), str(wl["sf"]), str(seed),
              str(wl["replicas"])], ROOT, log, 300)
    if rc != 0:
        die(f"input generation failed (exit {rc}); see {log}")
    (out / "done").write_text("")
    # keep the newest few seeds per corpus
    old = sorted((d for d in (DATA / key).iterdir() if d.is_dir()), key=lambda d: d.stat().st_mtime)
    for d in old[:-CACHED_SEEDS]:
        shutil.rmtree(d, ignore_errors=True)
    return out, time.time() - t0


def fingerprint(df):
    """Order-insensitive digest of a result frame."""
    rows = sorted(df.astype(str).itertuples(index=False, name=None))
    return hashlib.sha1(repr((list(df.columns), rows)).encode()).hexdigest()


def check(members, failures, data, work):
    """Returns {member: reason} for every member whose output is wrong."""
    import duckdb
    import pandas as pd
    sys.path.insert(0, str(ROOT / "tools"))
    sys.dont_write_bytecode = True
    import compare  # the oracle gate's comparison rules

    oracle = json.loads((work / "oracle_sql.json").read_text())
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    for t in compare.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")

    def read(d):
        files = sorted(Path(d).glob("*.parquet"))
        return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True) if files else None

    bad = dict(failures)
    for m in members:
        if m in bad:
            continue
        out = read(work / "out" / m)
        if out is None:
            bad[m] = "no output"
        elif m in oracle:
            try:
                diff = compare.compare(m, out, con.execute(oracle[m]).df())
            except Exception as e:  # an oracle that cannot run is a failed check
                diff = f"oracle error: {str(e)[:200]}"
            if diff:
                bad[m] = diff
        else:
            again = read(work / "out2" / m)
            if len(out) == 0:
                bad[m] = "empty output"
            elif again is None or fingerprint(out) != fingerprint(again):
                bad[m] = "output fingerprint differs between passes"
    return bad


def nearest_rank(xs, p):
    xs = sorted(xs)
    return xs[max(0, math.ceil(p * len(xs)) - 1)]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, help="input seed (default: the workload's default_seed)")
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    wl = CONFIG["workloads"].get(a.workload) or die(f"unknown workload {a.workload}")
    if a.seed is None:
        a.seed = wl["default_seed"]
    for need in [ROOT / "src" / "main" / "scala" / "graft" / "SparkEntry.scala",
                 ROOT / "tools" / "compare.py"]:
        if not need.is_file():
            die(f"{need.relative_to(ROOT)} not found: run from the root of a checkout of the repository")

    work = WORK / f"{a.workload}-{a.seed}-{a.trace}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    log = work / "run.log"
    build_s = build(log)
    data, gen_s = inputs(wl, a.seed, log)

    fixed = CONFIG["fixed"]
    cmd = (["java", f"-Xms{fixed['heap']}", f"-Xmx{fixed['heap']}",
            f"-Djava.io.tmpdir={work / 'tmp'}"]
           + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{CLASSES}:{spark_home()}/jars/*", "perfbench.Harness",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--data", str(data), "--work", str(work),
              "--slots", str(fixed["slots"]), "--select", wl["select"],
              "--sample-seed", str(wl.get("sample_seed", 0)),
              "--exclude", ",".join(CONFIG["exclude"]),
              "--min-samples", str(wl["min_samples"]), "--modules", str(HERE / "modules.tsv")])
    rc = run(cmd, work, log, JVM_TIMEOUT_S)
    if rc != 0 or not (work / "result.json").is_file():
        die(f"harness failed (exit {rc}); see {log}")
    r = json.loads((work / "result.json").read_text())

    members = r["members"]
    bad = check(members, r["failures"], data, work)
    attempted, failed = len(members), len(bad)
    samples = [s["build_s"] + s["action_s"] for s in r["samples"]]
    p = wl["tail_percentile"] / 100
    beyond = len(samples) - math.ceil(p * len(samples))

    print(f"workload {a.workload} seed {a.seed}: {attempted} members, {r['passes']} timed passes, "
          f"{len(samples)} timed samples ({beyond} beyond p{wl['tail_percentile']:g})")
    input_mb = sum(f.stat().st_size for f in data.glob("*.parquet")) / 2**20
    print(f"inputs: {input_mb:.1f} MB of parquet ({data.relative_to(ROOT)}), "
          f"Spark storage memory {r['storage_mb']:.0f} MB; generated in {gen_s:.2f} s "
          f"({'cached' if gen_s == 0 else 'fresh'}), not part of setup_s; build {build_s:.1f} s")
    print(f"output check: {attempted - failed}/{attempted} members correct, failed_frac {failed / attempted:.4f}")
    for m, why in sorted(bad.items()):
        print(f"  FAILED {m}: {why}")
    for m, why in CONFIG["exclude"].items():
        print(f"  EXCLUDED from every workload: {m}: {why}")

    if a.trace == 0:
        values = {
            "setup_s": r["setup_s"],
            "query_p50_s": statistics.median(samples),
            "query_tail_s": nearest_rank(samples, p),
            "throughput_qps": len(samples) / r["timed_s"],
            "pass_frac": (attempted - failed) / attempted,
            "peak_rss_mb": r["peak_rss_mb"],
        }
        metrics = {m["name"]: (values[m["name"]], m["unit"]) for m in METRICS["end_to_end"]}
    else:
        layers = dict(r["layers"])
        mods = dict(line.split("\t") for line in (HERE / "modules.tsv").read_text().split("\n") if line)
        wall = sum(samples)
        for m in set(mods.values()):
            layers[f"module.{m}.wall_frac"] = sum(
                s["build_s"] + s["action_s"] for s in r["samples"]
                if mods.get(s["member"], "operators") == m) / wall
        layers["trace.overhead_frac"] = r["traced_s"] / r["timed_s"] - 1
        metrics = {m["name"]: (layers.get(m["name"], 0.0), m["unit"]) for m in METRICS["per_layer"]}
        for x in r["member_layers"]:
            print(f"  {x['member']}: {x['bound']}-bound, overhead share {x['overhead_share']:.3f} "
                  f"(wall {x['wall_s']:.3f} s, task run {x['task_run_s']:.3f} s)")
    for name, (v, unit) in metrics.items():
        print(f"  {name} = {v:.6g} {unit}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
