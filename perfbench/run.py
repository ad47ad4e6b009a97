#!/usr/bin/env python3
"""graft's gated benchmark. Run from the root of a checkout:

    python3 perfbench/run.py --workload trend-query --seed 1 --seconds 6 --trace 0

Builds the harness (perfbench/build.sbt) on first use, generates the
workload's inputs from the seed (perfbench/gen.py), runs one measured
window in a fresh JVM, checks the outputs, and prints the workload's
metrics. The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics
are the gated end-to-end metrics of BENCHMARK.json, with --trace 1 its
per-layer metrics (the traced pass runs after an untraced pass on the same
inputs, and the difference between the two is the tracing overhead).
See perfbench/README.md.
"""
import argparse
import contextlib
import io
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

import layers

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORKLOADS = ("trend-query", "view-maintain", "stream-ingest")
JVM_TIMEOUT_S = 150
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def die(msg: str, code: int = 2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def cpu_count() -> int:
    """Engine cores: PERFBENCH_CPUS when set, else 4 (the box the
    benchmark is sized for). A value that is not a positive integer is a
    usage error, never passed on to Spark's master URL."""
    raw = os.environ.get("PERFBENCH_CPUS", "4").strip()
    if not raw.isdigit() or int(raw) < 1:
        die(f"PERFBENCH_CPUS must be a positive integer, got {raw!r}")
    return int(raw)


def build_dir() -> Path:
    return Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build")).resolve() / "perfbench"


def ensure_built(bdir: Path) -> str:
    """Compile the harness and the engine it depends on (once per
    checkout, again when a source is newer than the build) and return the
    runtime classpath."""
    stamp = bdir / "classpath.txt"
    sources = [p for d in (ROOT / "src" / "main", BENCH / "src") for p in d.rglob("*")
               if p.is_file()]
    sources += [ROOT / "build.sbt", BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    if stamp.exists() and stamp.stat().st_mtime >= max(p.stat().st_mtime for p in sources):
        return stamp.read_text().strip()
    bdir.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", PERFBENCH_TARGET=str(bdir / "target"))
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=BENCH, env=env, capture_output=True, text=True,
                       stdin=subprocess.DEVNULL)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip() and not ln.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        die("harness build failed", 3)
    stamp.write_text(lines[-1].strip())
    print(f"[perfbench] built harness in {time.time() - t0:.0f} s", file=sys.stderr)
    return lines[-1].strip()


def generate(workload: str, seed: int, seconds: float, out: Path) -> float:
    """Generate the inputs (in-process, timed) at the sizes gen.py sets and
    return the seconds taken."""
    import gen
    if out.exists():
        shutil.rmtree(out)
    return gen.generate(workload, seed, out, gen.WORKLOAD_SIZES[workload], seconds)["gen_s"]


def run_jvm(cp: str, workload: str, seed: int, seconds: float, trace: bool,
            inputs: Path, work: Path, cpus: int):
    """Run the harness JVM; its result, or None when it failed or wrote
    none."""
    if work.exists():
        shutil.rmtree(work)
    (work / "tmp").mkdir(parents=True)
    out = work / "result.json"
    # A fixed-size heap, touched in full at start: the JVM's resident set
    # during the window then moves with what the process holds outside the
    # heap, not with which heap pages G1 happened to touch first (the heap's
    # own use is jvm.heap_peak_bytes).
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:+UseG1GC",
           f"-Djava.io.tmpdir={work / 'tmp'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for o in JDK17_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Harness", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", "1" if trace else "0",
            "--cpus", str(cpus), "--inputs", str(inputs), "--work", str(work),
            "--out", str(out), "--python", sys.executable,
            "--publisher", str(BENCH / "publish.py")]
    # Spark must keep its scratch files under the work directory.
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    log = open(work / "jvm.log", "w")
    # its own process group, so a timeout also stops the stream generator
    p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                         env=env, start_new_session=True)
    try:
        rc = p.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        rc = -1
    finally:
        log.close()
    if rc != 0 or not out.exists():
        sys.stderr.write((work / "jvm.log").read_text()[-3000:])
        print(f"[perfbench] harness JVM failed (exit {rc})", file=sys.stderr)
        return None
    return json.loads(out.read_text())


def q(values, p):
    """Percentile p (0-100) by linear interpolation; None when empty."""
    if not values:
        return None
    v = sorted(values)
    k = (len(v) - 1) * p / 100.0
    lo, hi = int(k), min(int(k) + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


def by_kind(ops) -> dict:
    """Operation kind (query, serve shape, delta kind) → its durations."""
    kinds = {}
    for o in ops:
        kinds.setdefault(o["name"], []).append(o["s"])
    return kinds


def mix_q(kinds: dict, p):
    """Percentile p of a mix of operation kinds: the mean over the kinds of
    each kind's own percentile; None when there are no samples. Pooled
    percentiles of a mix whose kinds take very different times land on the
    tail of one kind or another, and which one moves from run to run."""
    vals = [q(v, p) for v in kinds.values() if v]
    return sum(vals) / len(vals) if vals else None


def timing(out: dict, name: str, kinds: dict, unit="s"):
    n = sum(len(v) for v in kinds.values())
    out[f"{name}_p50"] = {"value": mix_q(kinds, 50), "unit": unit, "samples": n,
                          "kinds": len(kinds)}
    out[f"{name}_p90"] = {"value": mix_q(kinds, 90), "unit": unit, "samples": n,
                          "kinds": len(kinds),
                          "beyond": sum(len(v) - int(len(v) * 0.9) for v in kinds.values())}


def oracle_check(out_dir: str, sf_dir: Path) -> set:
    """tools/check.py's comparison over one result directory; returns the
    names of the results that do not match their oracle SQL."""
    sys.path.insert(0, str(ROOT / "tools"))
    import check
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        check.main(out_dir, str(sf_dir))
    bad = set()
    for ln in buf.getvalue().splitlines():
        if ln.startswith("[FAIL] "):
            bad.add(ln[7:].split(":", 1)[0])
            print(f"[perfbench] check {ln}", file=sys.stderr)
    return bad


def evaluate(workload: str, res: dict, inputs: Path, gen_s: float, pass_: int = 0):
    """One measured pass of a run → (report, gated metrics). The report
    carries the workload's own metric names, units and sample counts."""
    ops = [dict(zip(("id", "kind", "name", "start", "end", "ok", "rows", "pass"), o))
           for o in res["ops"]]
    ops = [o for o in ops if o["pass"] == pass_]
    for o in ops:
        o["s"] = (o["end"] - o["start"]) / 1000.0
    w = res["windows"][pass_]
    window_s = (w["end_ms"] - w["start_ms"]) / 1000.0
    setup = res["setup"]
    setup_s = gen_s + (setup["measure_start_ms"] - setup["jvm_start_ms"]) / 1000.0
    rep = {"setup_s": {"value": setup_s, "unit": "s", "parts": setup["parts_s"]},
           "peak_rss_mb": {"value": res["rss_peak_kb"] / 1024.0, "unit": "MB"}}
    if workload == "trend-query":
        prim = by_kind(o for o in ops if o["ok"])
        timing(rep, "query_s", prim)
        n = sum(len(v) for v in prim.values())
        thr = rep["queries_per_s"] = {"value": n / window_s, "unit": "1/s"}
    elif workload == "view-maintain":
        deltas = [o for o in ops if o["ok"] and o["kind"] == "delta"]
        timing(rep, "freshness_s", by_kind(deltas))
        # the gated latency is the reader's: a window holds one or two whole
        # cycles of three deltas, too few for a percentile
        prim = by_kind(o for o in ops if o["ok"] and o["kind"] == "serve")
        timing(rep, "serve_s", prim)
        # per second of maintainer time: the window also holds the reader's
        # last serve
        rows = sum(o["rows"] for o in deltas)
        thr = rep["delta_rows_per_s"] = {
            "value": rows / max(1e-9, sum(o["s"] for o in deltas)), "unit": "1/s"}
    else:
        st = layers.stream_events(res, inputs, pass_)
        prim = {"event": st["latency"]}
        timing(rep, "event_latency_s", prim)
        thr = rep["drain_events_per_s"] = {"value": st["drain_per_s"], "unit": "1/s"}
    gated = {
        "setup_s": setup_s,
        "latency_s_p50": mix_q(prim, 50),
        "latency_s_p90": mix_q(prim, 90),
        "throughput_per_s": thr["value"],
        "peak_rss_mb": rep["peak_rss_mb"]["value"],
    }
    return rep, gated


def check(workload: str, res: dict, inputs: Path):
    """Output checks of a whole run → (attempted, failed): failed or
    incorrect operations against all operations attempted."""
    ops = [dict(zip(("id", "kind", "name", "start", "end", "ok", "rows", "pass"), o))
           for o in res["ops"]]
    extra = res["extra"]
    if workload == "stream-ingest":
        st = layers.stream_events(res, inputs, None)
        for k, v in st["checks"].items():
            if v is not True and v != 0:
                print(f"[perfbench] check {k}: {v}", file=sys.stderr)
        return st["attempted"], st["failed"]
    attempted = len(ops)
    failed = sum(1 for o in ops if not o["ok"])
    bad = set().union(*(oracle_check(d, inputs) for d in extra["oracle_dirs"]))
    if workload == "trend-query":
        # every execution of a query kind whose result is wrong is wrong
        failed += sum(1 for o in ops if o["ok"] and o["name"] in bad)
    else:
        checks = extra["checkpoints"]
        attempted += len(checks)
        failed += sum(1 for c in checks if not c["ok"] or c["name"] in bad)
    for e in res.get("errors", []):
        print(f"[perfbench] error: {e}", file=sys.stderr)
    return attempted, failed


# The gated end-to-end metrics (BENCHMARK.json "end_to_end"), per workload:
# latency = query / freshness / event latency, throughput = queries /
# delta rows / drained events per second.
GATED_UNITS = {"setup_s": "s", "latency_s_p50": "s", "latency_s_p90": "s",
               "throughput_per_s": "1/s", "peak_rss_mb": "MB"}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.seconds <= 0:
        die("--seconds must be positive")
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir() or \
            not (ROOT / "tools" / "check.py").is_file():
        die(f"no graft checkout around {BENCH}: perfbench must sit in the "
            "root of the repository it measures")
    cpus = cpu_count()
    bdir = build_dir()
    cp = ensure_built(bdir)
    run_dir = bdir / "runs" / a.workload
    inputs = run_dir / "inputs"
    gen_s = generate(a.workload, a.seed, a.seconds, inputs)
    res = run_jvm(cp, a.workload, a.seed, a.seconds, bool(a.trace), inputs,
                  run_dir / "work", cpus)
    if res is None or "fatal" in res:
        # The workload did not run to its end: every operation it attempted
        # counts as failed, and no metric is reported.
        for e in (res or {}).get("errors", []) + [(res or {}).get("fatal", "")]:
            if e:
                print(f"[perfbench] error: {e}", file=sys.stderr)
        n = max(1, len((res or {}).get("ops", [])))
        print(json.dumps({"correct": False, "attempted": n, "failed": n, "metrics": {}}))
        return 1
    attempted, failed = check(a.workload, res, inputs)
    rep, gated = evaluate(a.workload, res, inputs, gen_s)
    rep["error_ratio"] = {"value": failed / attempted, "unit": "ratio",
                          "failed": failed, "attempted": attempted}
    if a.trace:
        _, traced = evaluate(a.workload, res, inputs, gen_s, pass_=1)
        metrics = layers.derive(a.workload, res, inputs)
        overhead = None if None in (traced["latency_s_p50"], gated["latency_s_p50"]) \
            else traced["latency_s_p50"] - gated["latency_s_p50"]
        metrics["trace.overhead_s"] = {"value": overhead, "unit": "s"}
    else:
        metrics = {k: {"value": v, "unit": GATED_UNITS[k]} for k, v in gated.items()}
    print(json.dumps({"workload": a.workload, "seed": a.seed, "report": rep}))
    ok = failed == 0 and all(m["value"] is not None for m in metrics.values())
    print(json.dumps({"correct": ok, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
