#!/usr/bin/env python3
"""Compare two traced benchmark runs, per workload, layer and op.

    python3 perfbench/profile_diff.py <before> <after>
    python3 perfbench/profile_diff.py --self-test

<before> and <after> are traced-run reports (.bench_out/*-t1.report.json)
or directories holding them; reports are paired by workload. Structural
counts (jobs, stages, tasks, SQL executions, exchanges, broadcasts, files
scanned, shuffle bytes, microbatches, commits, log files) are listed apart
from times: a count that moves is FLAGGED, since for the same inputs it
should repeat exactly (byte totals are flagged past a 5% change). Times are
shown as ratios and never flagged; host speed swings make them context,
not evidence. Exit status is 0 when nothing structural moved, 1 otherwise.
"""
import copy
import json
import sys
from pathlib import Path

STRUCTURAL = [
    "spark.jobs", "spark.stages", "spark.tasks", "sql.executions", "plan.exchanges",
    "plan.broadcasts", "scan.files", "scan.records", "shuffle.write_bytes",
    "shuffle.read_bytes", "spill.bytes", "output.records", "stream.queries",
    "stream.microbatches", "vt.commits", "vt.log_files", "vt.live_files",
    "vt.bytes_written"]
BYTE_TOLERANCE = 0.05


def load(path: Path) -> dict:
    """{workload: report} from a report file or a directory of them."""
    files = sorted(path.glob("*-t1.report.json")) if path.is_dir() else [path]
    out = {}
    for f in files:
        r = json.loads(f.read_text())
        if r.get("trace") is not True:
            raise SystemExit(f"{f}: not a traced run (run with --trace 1)")
        out[r["workload"]] = r
    return out


def per_op(report: dict) -> dict:
    """Structural counts per op name, per traced pass."""
    passes = max(1, len(report.get("traced_passes", [])))
    acc = {}
    for o in report["ops"]:
        if not o.get("traced"):
            continue
        d = acc.setdefault(o["name"], {})
        for k, v in (o.get("stats") or {}).items():
            if k in STRUCTURAL:
                d[k] = d.get(k, 0.0) + v / passes
    return acc


def moved(key: str, a: float, b: float) -> bool:
    if "bytes" in key:
        return abs(b - a) > BYTE_TOLERANCE * max(abs(a), abs(b), 1.0)
    return abs(b - a) > 1e-9


def diff(before: dict, after: dict) -> list:
    """Lines of the report; flagged lines start with 'FLAG'."""
    lines = []
    for w in sorted(set(before) | set(after)):
        if w not in before or w not in after:
            lines.append(f"== {w}: only in {'after' if w in after else 'before'}")
            continue
        a, b = before[w], after[w]
        lines.append(f"== {w} (seed {a['seed']} -> {b['seed']})")
        la, lb = a["layer"], b["layer"]
        lines.append("-- structural counts, per traced pass")
        for k in STRUCTURAL:
            x, y = la.get(k, 0.0), lb.get(k, 0.0)
            tag = "FLAG" if moved(k, x, y) else "    "
            lines.append(f"{tag} {k:24s} {x:14.6g} -> {y:14.6g}  ({y - x:+.6g})")
        oa, ob = per_op(a), per_op(b)
        for op in sorted(set(oa) | set(ob)):
            for k in STRUCTURAL:
                x, y = oa.get(op, {}).get(k, 0.0), ob.get(op, {}).get(k, 0.0)
                if moved(k, x, y):
                    lines.append(f"FLAG   op {op}: {k} {x:.6g} -> {y:.6g} ({y - x:+.6g})")
        lines.append("-- times (context only: host speed varies between runs)")
        for k in sorted(set(la) | set(lb)):
            if k.endswith("_ms"):
                x, y = la.get(k, 0.0), lb.get(k, 0.0)
                ratio = f"x{y / x:.3f}" if x else "n/a"
                lines.append(f"     {k:28s} {x:12.1f} -> {y:12.1f}  {ratio}")
        ha, hb = a["env"].get("host_probe_start_ms"), b["env"].get("host_probe_start_ms")
        lines.append(f"     host probe (ms, start of run)  {ha} -> {hb}")
    return lines


def self_test() -> int:
    """A planted extra exchange and an extra job must be flagged; a pure
    time change must not."""
    def op(seq, name, stats):
        return {"seq": seq, "pass": 1, "traced": True, "name": name, "stats": stats}
    base = {
        "workload": "analyst_sf1", "seed": 1, "trace": True, "traced_passes": [1],
        "env": {"host_probe_start_ms": "100.0"},
        "layer": {"spark.jobs": 4.0, "spark.stages": 6.0, "plan.exchanges": 2.0,
                  "scan.files": 3.0, "shuffle.write_bytes": 1000.0, "spark.job_ms": 50.0},
        "ops": [op(1, "tpch_q3_shipping", {"spark.jobs": 3.0, "plan.exchanges": 2.0}),
                op(2, "tpch_q6_forecast", {"spark.jobs": 1.0, "plan.exchanges": 0.0})]}
    after = copy.deepcopy(base)
    after["layer"]["plan.exchanges"] += 1
    after["layer"]["spark.jobs"] += 1
    after["layer"]["spark.job_ms"] *= 1.7            # noise, never flagged
    after["ops"][0]["stats"]["plan.exchanges"] += 1  # planted exchange
    after["ops"][1]["stats"]["spark.jobs"] += 1      # planted job
    flagged = [l for l in diff({"analyst_sf1": base}, {"analyst_sf1": after})
               if l.startswith("FLAG")]
    want = ["plan.exchanges", "spark.jobs", "op tpch_q3_shipping: plan.exchanges",
            "op tpch_q6_forecast: spark.jobs"]
    missing = [w for w in want if not any(w in l for l in flagged)]
    extra = [l for l in flagged if not any(w in l for w in want)]
    if missing or extra or len(flagged) != len(want):
        print("self-test FAILED", {"missing": missing, "unexpected": extra})
        return 1
    print(f"self-test ok: {len(flagged)} planted structural changes flagged, "
          "time-only change not flagged")
    return 0


def main(argv) -> int:
    if argv[1:] == ["--self-test"]:
        return self_test()
    if len(argv) != 3:
        print(__doc__)
        return 2
    lines = diff(load(Path(argv[1])), load(Path(argv[2])))
    print("\n".join(lines))
    return 1 if any(l.startswith("FLAG") for l in lines) else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
