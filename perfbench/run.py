#!/usr/bin/env python3
"""The repository benchmark: one command, run from the root of a checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see perfbench/README.md for why each exists):
  flight_ingest           E1 import + versioned-table E2 reload cycles
  lakehouse_stream_sf01   fixed-cost lakehouse/streaming registry rows, sf0.1
  analyst_sf1             data-bound TPC-H/join registry rows, sf0.25

It builds the engine and the benchmark's JVM runner from source (cached in
.bench_build/ by a hash of the sources), generates the seed's inputs
(cached per seed and scale in .bench_data/), runs the JVM runner, checks
every output (registry rows against DuckDB oracle digests, the flight
pipeline against gen_flight.py's model), prints every metric by name with
its unit and sample count, and ends stdout with one JSON result line.
With --trace 1 the result carries the per-layer metrics of a traced run
instead of the end-to-end ones; the span tree is written to .bench_out/.
"""
import sys

sys.dont_write_bytecode = True

import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

# The TPC-H tables and events: every table a benchmarked row reads (no
# benchmarked row reads documents or embeddings).
TPCH_EVENTS = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
               "events")
# workload -> (input kind, TPC-H scale factor, tables to generate, passes).
# A run measures at least `passes` whole passes. analyst_sf1 measures two:
# a pass is only 6 ops, and one pass's op times moved with the host's speed
# too much for its bounds (see perfbench/README.md).
WORKLOADS = {
    "flight_ingest": ("flight", None, None, 1),
    "lakehouse_stream_sf01": ("tpch", 0.1, TPCH_EVENTS, 1),
    "analyst_sf1": ("tpch", 0.25, TPCH_EVENTS, 2),
}
# A fixed, pre-touched heap: G1 then never resizes it mid-run, which made
# peak RSS and op latencies bimodal from run to run (whether the heap grew
# or not), and no op pays for first-touch page faults. Peak RSS so reads the
# heap plus everything off-heap; peak_old_gen_mb is the heap's own figure.
JVM_HEAP = ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch"]
RUN_LIMIT_S = 175
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg: str, code: int = 2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_bounded(cmd, cwd, env, log_path, deadline):
    """Runs cmd in its own process group, output to log_path; kills the
    whole group if it outlives the deadline. Returns the exit code."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return -9
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def sources_hash(root: Path) -> str:
    h = hashlib.sha256()
    files = sorted(list((root / "src" / "main").rglob("*")) +
                   list((HERE / "src").rglob("*")) +
                   [HERE / "build.sbt", HERE / "project" / "build.properties"])
    for f in files:
        if f.is_file():
            h.update(str(f.relative_to(root)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def build(root: Path, deadline: float) -> str:
    """Compiles engine + runner with sbt (offline); returns the classpath."""
    out = root / ".bench_build"
    out.mkdir(exist_ok=True)
    stamp, cp_file = out / "stamp", out / "classpath.txt"
    want = sources_hash(root)
    if stamp.exists() and cp_file.exists() and stamp.read_text() == want:
        return cp_file.read_text().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    log = out / "build.log"
    rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                      "export Runtime/fullClasspath"], HERE, env, log, deadline)
    lines = [l.strip() for l in log.read_text(errors="replace").splitlines()]
    cps = [l for l in lines if ".jar" in l and not l.startswith("[")]
    if rc != 0 or not cps:
        fail(f"build failed (exit {rc}); see {log}", 3)
    cp_file.write_text(cps[-1])
    stamp.write_text(want)
    return cps[-1]


def ensure_data(root: Path, kind: str, sf, tables, seed: int) -> Path:
    """Generates the seed's inputs once; later runs reuse them (the
    directory name carries a hash of the generator and the table list, so
    editing either regenerates)."""
    base = root / ".bench_data"
    gen = HERE / ("gen_flight.py" if kind == "flight" else "gen_tpch.py")
    ver = hashlib.sha256(gen.read_bytes() + repr(tables).encode()).hexdigest()[:8]
    name = f"flight-s{seed}-{ver}" if kind == "flight" else f"sf{sf}-s{seed}-{ver}"
    d = base / name
    if (d / "_DONE").exists():
        return d
    tmp = base / (name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    if kind == "flight":
        import gen_flight
        gen_flight.main(seed, str(tmp))
    else:
        import gen_tpch
        gen_tpch.main(seed, sf, str(tmp), tables or gen_tpch.ALL_TABLES)
    (tmp / "_DONE").write_text("ok\n")
    shutil.rmtree(d, ignore_errors=True)
    tmp.rename(d)
    return d


def percentile(xs, q):
    """Linear-interpolated percentile, q in [0, 1]."""
    s = sorted(xs)
    if not s:
        return 0.0
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(len(s) - 1, lo + 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def tail_k(n):
    """How many samples form the tail: the ten beyond the highest
    percentile with at least ten samples beyond it, but never more than
    the slowest quarter (runs with fewer than 40 samples)."""
    return min(10, math.ceil(n / 4)) if n else 0


def tail_mean(xs):
    """Mean of the slowest tail_k(n) samples. With the 6-28 samples of a
    run, one interpolated percentile hinges on one or two ops and moved
    with the host's speed far more than this mean of the whole tail."""
    k = tail_k(len(xs))
    return statistics.fmean(sorted(xs)[-k:]) if k else 0.0


def flight_metrics(ops, rows_per_pass, passes):
    """The flight pipeline's own figures: commit and read latency (p50 and
    tail) and flight instances landed per second of import and commit."""
    ok = [o for o in ops if not (o["failure"] or o["mismatch"])]
    commits = [o["wall_ms"] for o in ok if o["kind"] == "commit"]
    reads = [o["wall_ms"] for o in ok if o["kind"] == "read"]
    ingest_s = sum(o["wall_ms"] for o in ok if o["kind"] in ("commit", "import")) / 1000.0
    return {
        "flight.commit_p50_ms": percentile(commits, 0.5),
        "flight.commit_tail_ms": tail_mean(commits),
        "flight.read_p50_ms": percentile(reads, 0.5),
        "flight.read_tail_ms": tail_mean(reads),
        "flight.ingest_rows_per_s": rows_per_pass * passes / ingest_s if ingest_s else 0.0,
    }


def check_oracle(root: Path, workload: str, data: Path, fixtures: Path, ops):
    """Marks each registry op whose digest differs from the DuckDB oracle.
    Oracle digests are cached per (workload, generated data set) and SQL
    text."""
    import oracle
    cache_file = root / ".bench_data" / "oracle" / f"{workload}-{data.name}.json"
    cache = json.loads(cache_file.read_text()) if cache_file.exists() else {}

    def key(sql):
        return hashlib.sha256(sql.replace(str(fixtures), "<fixtures>").encode()).hexdigest()

    need = {o["name"]: o["oracle_sql"] for o in ops if o["oracle_sql"]
            and cache.get(o["name"], {}).get("sql") != key(o["oracle_sql"])}
    if need:
        for name, (dg, n) in oracle.oracle_digests(str(data), need).items():
            cache[name] = {"sql": key(need[name]), "digest": dg, "rows": n}
        cache_file.parent.mkdir(parents=True, exist_ok=True)
        cache_file.write_text(json.dumps(cache, indent=1, sort_keys=True))
    for o in ops:
        if o["failure"] or o["mismatch"] or o["kind"] != "query":
            continue
        if not o["oracle_sql"]:
            o["mismatch"] = "no oracle SQL registered for this row"
            continue
        want = cache[o["name"]]
        if want["digest"] != o["digest"]:
            o["mismatch"] = (f"result digest differs from the DuckDB oracle "
                             f"(spark {o['rows']} rows, oracle {want['rows']} rows"
                             + (f"; {want['digest']}" if want["rows"] < 0 else "") + ")")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    t_start = time.monotonic()
    root = Path.cwd().resolve()
    if not (root / "src" / "main" / "scala" / "graft").is_dir() or \
            not (HERE / "build.sbt").is_file():
        fail(f"{root} is not a checkout of the engine (no src/main/scala/graft); "
             "run from the repository root")
    cp_cached = (root / ".bench_build" / "stamp").exists()
    cp = build(root, t_start + (850 if not cp_cached else RUN_LIMIT_S - 60))
    deadline = time.monotonic() + RUN_LIMIT_S - 5 if cp_cached else t_start + 890

    # metric names and units: BENCHMARK.json is the one list of them
    spec = json.loads((root / "BENCHMARK.json").read_text())
    e2e_units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer_units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    kind, sf, tables, passes = WORKLOADS[a.workload]
    t_data = time.monotonic()
    data = ensure_data(root, kind, sf, tables, a.seed)
    t_jvm = time.monotonic()
    fixtures = root / ".bench_data" / "fx" / f"{a.workload}-s{a.seed}"
    work = root / ".bench_data" / "work"
    outdir = root / ".bench_out"
    for d in (fixtures, work / "tmp", outdir):
        d.mkdir(parents=True, exist_ok=True)
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    report_path, log_path = outdir / f"{tag}.report.json", outdir / f"{tag}.jvm.log"
    report_path.unlink(missing_ok=True)
    cpus = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    env = dict(os.environ, SPARK_GRAFT_FIXTURE_ROOT=str(fixtures))
    cmd = (["java", *JVM_HEAP, "-XX:-UsePerfData", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.ui.enabled=false"]
           + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace), "--data", str(data),
              "--fixtures", str(fixtures), "--out", str(report_path), "--work", str(work),
              "--cpus", str(cpus), "--passes", str(passes)])
    rc = run_bounded(cmd, root, env, log_path, deadline)
    t_check = time.monotonic()
    if rc != 0 or not report_path.exists():
        tail = log_path.read_text(errors="replace").splitlines()[-30:]
        fail(f"JVM runner failed (exit {rc}); last log lines:\n" + "\n".join(tail), 4)
    rep = json.loads(report_path.read_text())
    ops, checks = rep["ops"], rep["checks"]
    if kind == "tpch":
        check_oracle(root, a.workload, data, fixtures, ops)
    t_end = time.monotonic()

    failed = [o for o in ops + checks if o["failure"] or o["mismatch"]]
    walls = [o["wall_ms"] for o in ops]
    e2e = {
        "setup_s": statistics.median(rep["setup_s"]),
        # ops per second spent inside ops: untimed checks are excluded
        "ops_per_s": len(ops) / (sum(walls) / 1000.0),
        "op_p50_ms": percentile(walls, 0.5),
        "op_tail_ms": tail_mean(walls),
        "peak_rss_mb": rep["peak_rss_mb"],
        "peak_old_gen_mb": rep["peak_old_gen_mb"],
        "retained_heap_mb": rep["retained_heap_mb"],
    }
    # one cold JVM start per run is too noisy on a shared host to carry a
    # bound, so it is a per-layer figure (and a detail line on every run)
    rep["extra"]["setup.cold_start_s"] = rep["cold_start_s"]
    rep["layer"]["setup.cold_start_s"] = rep["cold_start_s"]
    if kind == "flight":
        fm = flight_metrics(ops, rep["extra"].pop("flight.rows_landed_per_pass"), rep["passes"])
        rep["extra"].update(fm)
        rep["layer"].update(fm)
    samples = {"setup_s": len(rep["setup_s"]), "ops_per_s": len(ops), "op_p50_ms": len(walls),
               "op_tail_ms": len(walls)}
    print(f"workload {a.workload} seed {a.seed} trace {a.trace}: {len(ops)} ops in "
          f"{rep['passes']} passes, {rep['measured_s']:.2f} s measured; "
          f"op_tail_ms is the mean of the slowest {tail_k(len(walls))}")
    print("env " + json.dumps(rep["env"], sort_keys=True))
    print(f"wall build {t_data - t_start:.1f} s, inputs {t_jvm - t_data:.1f} s, "
          f"runner {t_check - t_jvm:.1f} s, oracle check {t_end - t_check:.1f} s")
    for k, u in e2e_units.items():
        print(f"metric {k} = {e2e[k]:.6g} {u} (n={samples.get(k, 1)})")
    for k, v in sorted(rep["extra"].items()):
        print(f"detail {k} = {v:.6g}")
    for o in failed:
        f = o["failure"]
        why = f"{f['class']}: {f['message']} at {' | '.join(f['frames'][:3])}" if f \
            else o["mismatch"]
        print(f"FAILED op {o['name']} (pass {o['pass']}, seq {o['seq']}): {why}")

    if a.trace:
        layer = rep["layer"]
        metrics = {k: {"value": layer.get(k, 0.0), "unit": u} for k, u in layer_units.items()}
        for k, m in metrics.items():
            print(f"layer {k} = {m['value']:.6g} {m['unit']}")
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in e2e_units.items()}
    result = {"correct": not failed, "attempted": len(ops) + len(checks),
              "failed": len(failed), "metrics": metrics}
    (outdir / f"{tag}.result.json").write_text(json.dumps(
        dict(result, env=rep["env"], setup_runs_s=rep["setup_s"], tail_k=tail_k(len(walls)),
             failures=[{k: o[k] for k in ("name", "pass", "seq", "failure", "mismatch")}
                       for o in failed]), indent=1))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
