"""Per-layer metrics of a traced pass, derived from what the harness JVM
recorded: benchmark-side spans around every call into an engine layer,
Spark's planning phases, the job listener's jobs, and the streaming
queries' progress reports. Also the stream-ingest event accounting, which
the untraced pass needs too (event latency, drain rate, output checks).

Self time of a span = its duration minus what its child spans cover. Each
span's self time splits into the part covered by its operation's Spark
jobs and the rest; summed over an operation's spans the first part is its
job time and the second its driver gap, so that for every operation
  sum(layer self times) = sum(layer job time) + spark.driver_gap_s = wall.
On stream-ingest the operation is a live trigger, rooted at the trigger's
own span and its progress phases (trigger_roots), so wall is the trigger's.
"""
import json
import statistics
from collections import defaultdict
from decimal import Decimal
from pathlib import Path

# Query kinds of the trend-query mix (TrendQuery.Mix); each gets an
# operators.<query>.s metric.
MIX = ["a2_banded_extents", "f1_decimate", "s1_bounded_scan", "m3_retention",
       "pipeline_cold_start"]
VIEW_KINDS = ["rollup", "join", "agg_join", "multi_agg_join", "quantile"]
STREAM_PHASES = {"latest_offset_s": "latestOffset", "get_batch_s": "getBatch",
                 "query_planning_s": "queryPlanning", "add_batch_s": "addBatch",
                 "wal_commit_s": "walCommit", "commit_offsets_s": "commitOffsets"}
# The phases of a micro-batch trigger, in the order the engine runs them;
# addBatch is the one that calls the foreachBatch sink.
TRIGGER_PHASES = ["latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
                  "commitOffsets"]
# The operations whose latency each workload's spark.* figures explain:
# queries, deltas, and the live minute-tier query's triggers (rooted at the
# trigger by trigger_roots).
PRIMARY = {"trend-query": ("query", ""), "view-maintain": ("delta", ""),
           "stream-ingest": ("sink", "tier:")}


def med(xs):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else 0.0


def mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def union(iv):
    """Merge intervals; returns a sorted disjoint list."""
    out = []
    for a, b in sorted(iv):
        if b <= a:
            continue
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return out


def measure(iv):
    return sum(b - a for a, b in iv)


def intersect(xs, ys):
    out, i, j = [], 0, 0
    while i < len(xs) and j < len(ys):
        a, b = max(xs[i][0], ys[j][0]), min(xs[i][1], ys[j][1])
        if a < b:
            out.append([a, b])
        if xs[i][1] < ys[j][1]:
            i += 1
        else:
            j += 1
    return out


def subtract(base, cut):
    """base minus the union `cut` (both disjoint, sorted)."""
    out = []
    for a, b in base:
        cur = a
        for c, d in cut:
            if d <= cur or c >= b:
                continue
            if c > cur:
                out.append([cur, c])
            cur = max(cur, d)
        if cur < b:
            out.append([cur, b])
    return out


def layer_of(name: str) -> str:
    """Span name → the layer it measures."""
    if name.startswith("op."):
        return "bench"
    if name.startswith("operators."):
        return "operators"
    if name.startswith("sources.views."):
        return "sources.views"
    for p in ("sources.store", "sources.topiclog", "plans", "streaming", "spark"):
        if name.startswith(p):
            return p
    return name.split(".")[0]


def span_tree(res):
    """Per operation: its spans (dicts) with parents resolved, phase spans
    nested under the innermost benchmark span that contains them."""
    by_op = defaultdict(list)
    for sid, parent, op, name, start, end, phase in res["spans"]:
        by_op[op].append({"id": sid, "parent": parent, "name": name,
                          "start": start, "end": end, "phase": phase})
    by_op.pop(0, None)  # spans outside any operation (warm-up)
    for op, spans in by_op.items():
        real = [s for s in spans if not s["phase"]]
        for s in spans:
            if not s["phase"]:
                continue
            mid = (s["start"] + s["end"]) / 2
            inside = [r for r in real if r["start"] <= mid <= r["end"]]
            if inside:
                host = min(inside, key=lambda r: r["end"] - r["start"])
                s["parent"] = host["id"]
                s["start"], s["end"] = max(s["start"], host["start"]), min(s["end"], host["end"])
            else:
                s["end"] = s["start"]  # outside the operation: ignored
    return by_op


def trigger_roots(res) -> dict:
    """A copy of `res` in which each live tier trigger is the root of its
    sink operation: a `streaming.trigger` span over the trigger's wall
    (triggerExecution), with one span per `durationMs` phase under it, laid
    out in run order, and the benchmark's sink call under `addBatch`. The
    progress report gives only each phase's length, so addBatch is placed
    around the sink call, and every span is clipped to its parent, which
    keeps the self times of an operation summing to the trigger's wall."""
    spans = [list(s) for s in res["spans"]]
    name_of = {o[0]: o[2] for o in res["ops"]}
    sink_root = {name_of.get(s[2]): s for s in spans if s[1] == 0 and s[3] == "op.sink"}
    by_op = defaultdict(list)
    for s in spans:
        by_op[s[2]].append(s)
    next_id = -1
    for p in res["extra"].get("progress", []):
        root = sink_root.get(f"tier:{p['batch']}") if p["query"] == "tier" else None
        if root is None:
            continue
        op, d = root[2], p["duration_ms"]
        t0 = float(p["start_ms"])
        t1 = t0 + d.get("triggerExecution", 0)
        made = []

        def add(name, a, b, parent):
            nonlocal next_id
            made.append([next_id, parent, op, name, a, max(a, b), False])
            next_id -= 1
            return made[-1]

        trig = add("streaming.trigger", t0, t1, 0)
        cur = t0
        for ph in TRIGGER_PHASES:
            n = d.get(ph, 0)
            if ph == "addBatch":
                a = max(cur, min(root[4], t1))
                b = min(t1, max(a + n, root[5]))
                batch = add(f"streaming.{ph}", a, b, trig[0])
            else:
                a = cur
                b = min(t1, a + n)
                add(f"streaming.{ph}", a, b, trig[0])
            cur = b
        for s in by_op[op]:
            s[4], s[5] = min(max(s[4], batch[4]), batch[5]), min(max(s[5], batch[4]), batch[5])
        root[1] = batch[0]
        spans += made
    return dict(res, spans=spans)


def self_times(res):
    """Per operation: wall, job union, per-layer (self, job part) and the
    accounting error of the identity in the module doc."""
    jobs_by_op = defaultdict(list)
    for j in res["jobs"]:
        jid, span, op, start, end = j[:5]
        if op and end >= start:
            jobs_by_op[op].append([float(start), float(end)])
    out = {}
    for op, spans in span_tree(res).items():
        root = [s for s in spans if s["parent"] == 0 and not s["phase"]]
        if not root:
            continue
        root = root[0]
        wall = root["end"] - root["start"]
        jobs = intersect(union(jobs_by_op.get(op, [])), [[root["start"], root["end"]]])
        kids = defaultdict(list)
        for s in spans:
            if s is not root and s["end"] > s["start"]:
                kids[s["parent"]].append([s["start"], s["end"]])
        per_layer = defaultdict(lambda: [0.0, 0.0])
        for s in spans:
            if s["end"] <= s["start"]:
                continue
            own = subtract([[s["start"], s["end"]]], union(kids.get(s["id"], [])))
            lay = per_layer[layer_of(s["name"])]
            lay[0] += measure(own)
            lay[1] += measure(intersect(own, jobs))
        total = sum(v[0] for v in per_layer.values())
        job_s = measure(jobs)
        gap = sum(v[0] - v[1] for v in per_layer.values())
        out[op] = {"wall": wall / 1000, "job": job_s / 1000, "gap": gap / 1000,
                   "layers": {k: (v[0] / 1000, v[1] / 1000) for k, v in per_layer.items()},
                   "err": abs(total - wall) / 1000 + abs(gap + job_s - wall) / 1000}
    return out


def derive(workload: str, res: dict, inputs: Path) -> dict:
    """Per-layer metrics of the traced pass (pass 1) of a traced run."""
    if workload == "stream-ingest":
        res = trigger_roots(res)
    ops = {o[0]: {"kind": o[1], "name": o[2], "s": (o[4] - o[3]) / 1000, "ok": o[5]}
           for o in res["ops"] if o[7] == 1}
    traced = set(ops)
    spans = [dict(zip(("id", "parent", "op", "name", "start", "end", "phase"), s))
             for s in res["spans"]]
    w = res["windows"][1]
    in_window = lambda t: w["start_ms"] <= t <= w["end_ms"]
    for s in spans:
        s["s"] = (s["end"] - s["start"]) / 1000
    jobs = [dict(zip(("id", "span", "op", "start", "end", "tasks", "cpu_ns", "in",
                      "shw", "spill"), j)) for j in res["jobs"]]
    extra = res["extra"]
    st = self_times(res)
    m = {}

    def put(name, value, unit):
        m[name] = {"value": float(value), "unit": unit}

    # operators: per query kind, median wall of that kind's queries
    for qn in MIX:
        put(f"operators.{qn}.s",
            med([o["s"] for o in ops.values() if o["kind"] == "query" and o["name"] == qn]), "s")

    # spark: per primary operation (query / delta / trigger)
    kind, prefix = PRIMARY[workload]
    prim = [i for i, o in ops.items() if o["kind"] == kind and o["name"].startswith(prefix)]
    jb = defaultdict(list)
    for j in jobs:
        jb[j["op"]].append(j)
    n = max(1, len(prim))
    put("spark.jobs", sum(len(jb[i]) for i in prim) / n, "count")
    put("spark.tasks", sum(j["tasks"] for i in prim for j in jb[i]) / n, "count")
    put("spark.job_s", mean(st[i]["job"] for i in prim if i in st), "s")
    put("spark.driver_gap_s", mean(st[i]["gap"] for i in prim if i in st), "s")
    put("spark.executor_cpu_s", sum(j["cpu_ns"] for i in prim for j in jb[i]) / 1e9 / n, "s")
    put("spark.input_bytes", sum(j["in"] for i in prim for j in jb[i]) / n, "bytes")
    put("spark.shuffle_write_bytes", sum(j["shw"] for i in prim for j in jb[i]) / n, "bytes")
    put("spark.spill_bytes", sum(j["spill"] for i in prim for j in jb[i]) / n, "bytes")

    # plans: planning-tracker phases per evaluated query / serve
    for ph in ("analysis", "optimization", "planning"):
        per_op = defaultdict(float)
        for s in spans:
            if s["phase"] and s["name"] == f"plans.{ph}":
                per_op[s["op"]] += s["s"]
        put(f"plans.{ph}_s", mean(per_op.values()), "s")
    serves = extra.get("serves", [])
    put("plans.serve_hit_ratio", mean(1.0 if h else 0.0 for h, _ in serves), "ratio")
    put("plans.compensated_ratio", mean(1.0 if c else 0.0 for _, c in serves), "ratio")

    # sources.store: benchmark-side commit calls (maintainer / history sink)
    commits = [s["s"] for s in spans if s["name"] == "sources.store.commit"
               and s["op"] in traced]
    put("sources.store.commit_s", med(commits), "s")
    put("sources.store.commits", len(commits), "count")
    store = extra.get("store", {})
    for k, unit in (("files_per_commit", "count"), ("bytes_written_per_delta_byte", "ratio"),
                    ("space_per_live_byte", "ratio")):
        put(f"sources.store.{k}", store.get(k, 0.0), unit)

    # sources.views: refresh calls per view kind
    refresh_ids = set()
    for vk in VIEW_KINDS:
        rs = [s for s in spans if s["name"] == f"sources.views.{vk}.refresh"]
        refresh_ids |= {s["id"] for s in rs}
        put(f"sources.views.{vk}.refresh_s", med([s["s"] for s in rs]), "s")
    rjobs = defaultdict(list)
    for j in jobs:
        if j["span"] in refresh_ids:
            rjobs[j["span"]].append([float(j["start"]), float(j["end"])])
    rspans = [s for s in spans if s["id"] in refresh_ids]
    put("sources.views.refresh_jobs", mean(len(rjobs[s["id"]]) for s in rspans), "count")
    put("sources.views.refresh_driver_gap_s", mean(
        s["s"] - measure(intersect(union(rjobs[s["id"]]), [[s["start"], s["end"]]])) / 1000
        for s in rspans), "s")
    views = extra.get("views", {})
    put("sources.views.bytes_written_per_delta_byte",
        views.get("bytes_written_per_delta_byte", 0.0), "ratio")
    put("sources.views.noop_refresh_ratio", views.get("noop_refresh_ratio", 0.0), "ratio")

    # sources.topiclog and streaming: the live tier query's progress
    prog = [p for p in extra.get("progress", [])
            if p["query"] == "tier" and in_window(p["start_ms"])]
    full = [p for p in prog if p["rows"] > 0]
    put("sources.topiclog.lag_bytes", med([p["lag_bytes"] for p in full]), "bytes")
    put("sources.topiclog.rows_per_trigger", med([p["rows"] for p in full]), "count")
    put("streaming.trigger_s", med([p["duration_ms"].get("triggerExecution", 0) / 1000
                                    for p in full]), "s")
    for k, key in STREAM_PHASES.items():
        put(f"streaming.{k}", med([p["duration_ms"].get(key, 0) / 1000 for p in full]), "s")
    put("streaming.state_commit_s", med([p["state_commit_ms"] / 1000 for p in full]), "s")
    put("streaming.state_rows", max([p["state_rows"] for p in prog], default=0), "count")
    put("streaming.state_memory_bytes",
        max([p["state_memory_bytes"] for p in prog], default=0), "bytes")
    put("streaming.triggers", len(prog), "count")
    put("streaming.empty_trigger_ratio", (len(prog) - len(full)) / max(1, len(prog)), "ratio")
    put("streaming.sink_s", med([s["s"] for s in spans if s["name"] == "streaming.sink"]), "s")
    pubs = extra.get("publish_logs", [])
    lags = [t - d for _, _, d, t in json.loads(Path(pubs[1]).read_text())] \
        if len(pubs) > 1 else []
    put("streaming.generator_lag_s", med(lags), "s")

    # jvm, over the traced pass
    put("jvm.gc_s", w["gc_s"], "s")
    put("jvm.heap_peak_bytes", w["heap_peak_bytes"], "bytes")

    # trace accounting: worst violation of the self-time identity
    put("trace.identity_max_err_s", max([v["err"] for v in st.values()], default=0.0), "s")
    # share of the primary latency spent in the layer the workload loads:
    # Spark jobs per query; store commits plus view refreshes per delta;
    # trigger time per event latency
    if workload == "trend-query":
        share = mean(st[i]["job"] / st[i]["wall"] for i in prim if i in st and st[i]["wall"] > 0)
    elif workload == "view-maintain":
        share = mean(sum(v[0] for k, v in st[i]["layers"].items()
                         if k in ("sources.store", "sources.views")) / st[i]["wall"]
                     for i in prim if i in st and st[i]["wall"] > 0)
    else:
        lat = med(stream_events(res, inputs, 1)["latency"])
        share = m["streaming.trigger_s"]["value"] / lat if lat else 0.0
    put("trace.target_layer_share", share, "ratio")
    return m


def stream_events(res: dict, inputs: Path, pass_) -> dict:
    """Event latency (due time → end of the tier trigger whose end offset
    covers the message) of one measured pass (None: all of them), drain
    rate, and the output checks: the minute tier and the history store
    against a recomputation from the messages the generator published."""
    extra = res["extra"]
    sched = [json.loads(ln) for ln in (inputs / "schedule.jsonl").read_text().splitlines()]
    logs = [json.loads(Path(f).read_text()) if Path(f).exists() else []
            for f in extra.get("publish_logs", [])]
    published = sum(len(x) for x in logs)
    pub = [m for i, x in enumerate(logs) if pass_ in (None, i) for m in x]
    prog = sorted((p for p in extra.get("progress", []) if p["query"] == "tier"),
                  key=lambda p: p["batch"])
    ends = []
    for p in prog:
        off = json.loads(p["end_offset"]) if p["end_offset"] else {}
        chans = off.get("channels", off) if isinstance(off, dict) else {}
        ends.append((p["start_ms"] + p["duration_ms"].get("triggerExecution", 0), chans))
    latency, unconsumed = [], 0
    for ch, offset, due, _ in pub:
        t = next((e for e, c in ends if int(c.get(ch, 0)) > offset), None)
        if t is None:
            unconsumed += 1
        else:
            latency.append(t / 1000 - due)
    warm = [json.loads(ln)["msg"] for ln in (inputs / "warmup.jsonl").read_text().splitlines()]
    live = warm + [s["msg"] for s in sched][:published]
    backlog = backlog_messages(inputs)
    bad = 0
    checks = {}
    for phase, msgs in (("live", live), ("drain", backlog)):
        want = tier_of(msgs)
        got = {(r[0], r[1]): tuple(r[2:]) for r in extra.get(f"tier_{phase}", [])}
        wrong = {k for k in want.keys() | got.keys() if want.get(k) != got.get(k)}
        checks[phase] = len(wrong)
        # every event of a wrong (metric, minute) counts as incorrect
        bad += sum(want[k][0] if k in want else got[k][0] for k in wrong)
    hist = extra.get("history_rows", -1)
    live_samples = sum(v[0] for v in tier_of(live).values())
    checks["history"] = hist == live_samples
    if hist != live_samples:
        bad += abs(live_samples - max(hist, 0))
    attempted = len(pub) + len(backlog)
    if not pub or not prog:
        bad = max(bad, 1)  # an empty stream or a run without triggers fails
    drain = extra.get("drain_s", 0.0)
    return {"latency": latency, "attempted": max(1, attempted), "failed": unconsumed + bad,
            "drain_per_s": len(backlog) / drain if drain > 0 else None,
            "checks": checks}


def backlog_messages(inputs: Path):
    msgs = []
    for f in sorted((inputs / "backlog").glob("*.log")):
        msgs += [ln for ln in f.read_text().splitlines() if ln]
    return msgs


def tier_of(msgs):
    """(metric, minute start epoch s) → (n, exact sum as 2-decimal string,
    min, max) over reference-shaped messages, as minuteTierStream defines
    the 1-minute tier."""
    acc = {}
    for raw in msgs:
        m = json.loads(raw, parse_float=Decimal)
        minute = int(m["ts"] // 60) * 60
        for metric, v in m["value"].items():
            k = (metric, minute)
            n, sv, mn, mx = acc.get(k, (0, Decimal(0), None, None))
            fv = float(v)
            acc[k] = (n + 1, sv + v, fv if mn is None else min(mn, fv),
                      fv if mx is None else max(mx, fv))
    return {k: (n, f"{sv:.2f}", mn, mx) for k, (n, sv, mn, mx) in acc.items()}
