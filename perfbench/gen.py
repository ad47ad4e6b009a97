#!/usr/bin/env python3
"""Seeded input generator for the perfbench workloads.

The generator is separate from the system under test: it writes plain
parquet files, a delta stream and a message schedule, and the engine only
ever sees those files. The same seed gives byte-identical inputs.

run.py calls `generate(workload, seed, out, sizes, seconds)` with
`WORKLOAD_SIZES[workload]`; every input size is set there and nowhere
else. Each call writes properties.json next to the inputs: the input
properties the engine's behaviour depends on (rows, metrics, span in days
relative to the banded-extents day bins, delta size, churn share, skew).

The stream generator process that publishes a schedule is publish.py.

  gen.py --self-test
      checks, at small sizes, that one seed reproduces its inputs and
      another seed does not.
"""
import hashlib
import json
import sys
import tempfile
import time
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DAY_BINS = [1, 3, 5, 7]  # TrendParams.dayBins (graft/Params.scala)
EPOCH0 = 1704067200  # 2024-01-01T00:00:00Z, the harness events' first day
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
# Series values live in [0, VALUE_MAX]; every metric's bootstrap rows hold
# both ends, so later deltas never escape a quantile view's frozen range.
VALUE_MAX = 999.99

# Every input size of every workload. The source of each figure:
#   [T] the harness test data (TESTDATA.md), whose events table the
#       trend-query inputs reproduce: at sf0.1, 100 000 events over 30 days,
#       1 500 users drawn uniformly (the top 1 % of users hold 1.3 % of the
#       events), 5 event types, values exponential with mean 50;
#   [R] the reference's capacity parameters (TrendParams in
#       graft/Params.scala; SURVEY.md section 6): 1 retained sample per
#       minute per series, history scans bounded at 14 400 samples, a 7-day
#       horizon (the largest day bin);
#   [H] TPC-H: 150 000 customers and 1 500 000 orders per scale factor,
#       4 lines per order on average, o_custkey drawn uniformly; refresh
#       function RF1 inserts 0.1 % of the orders with their lines;
#   [I] the benchmark's own requirements (perfbench/README.md);
#   [A] an assumption: no source gives this figure.
WORKLOAD_SIZES = {
    "trend-query": {
        # [I] many more rows than sf0.1's 100 000 events, so that Spark job
        # time rather than driver overhead is most of each query: 5x sf0.1
        "rows": 500_000,
        "span_days": 30,   # [T]
        "users": 1500,     # [T]
        "user_skew": 1.0,  # [T] uniform
    },
    "view-maintain": {
        # [H] at sf0.01, the harness's correctness scale; sf0.1 does not fit
        # the run budget (README, "Run budget and spread")
        "scale": 0.01,
        "lines_per_order": 4,           # [H]
        "customer_key_skew": 1.0,       # [H] uniform
        "series_per_metric": 14_400,    # [R] one full bounded scan
        "series_step_s": 60,            # [R] 1 retained sample per minute
        "series_delta_s": 3600,         # [A] an append brings one hour
        "lineitem_delta_share": 0.001,  # [H] RF1: 0.1 % of the orders
        "churn_upserts": 20,            # [A]
        "churn_deletes": 5,             # [A]
        # [I] length of the stream; a window uses far fewer
        "deltas": 120,
    },
    "stream-ingest": {
        "rate": 200.0,          # [A] messages per second, all channels
        "channels": 4,          # [A]
        "max_metrics": 3,       # [A] 1 to 3 metrics per message
        # [I] five seconds of live traffic before the window: trigger times
        # fall by a third over the first few triggers, as the JIT compiles
        # the query's hot paths
        "warmup_messages": 1000,
        "backlog": 20_000,      # [A] messages drained after the window
    },
}


def write_parquet(table: pa.Table, path: Path, row_groups: int = 1) -> None:
    """Deterministic bytes for a given table. Large tables get several row
    groups so the engine can split a scan across its cores."""
    pq.write_table(table, path, compression="snappy",
                   row_group_size=max(1, -(-table.num_rows // row_groups)))


def skewed_keys(rng, n: int, keys: int, skew: float) -> np.ndarray:
    """Power-law key draw: key = floor(keys * u**skew). skew=1 is uniform;
    larger values concentrate rows on the low keys."""
    return np.minimum((keys * rng.random(n) ** skew).astype(np.int64), keys - 1)


def top_share(keys: np.ndarray, frac: float = 0.01) -> float:
    counts = np.sort(np.bincount(keys))[::-1]
    k = max(1, int(len(counts) * frac))
    return round(float(counts[:k].sum() / max(1, counts.sum())), 4)


def events_table(rng, rows: int, span_days: int, users: int, skew: float) -> pa.Table:
    """Rows in the harness events schema: event_id, ts (micros, naive),
    user_id, event_type, value (2 decimals), props ('{"k": n}')."""
    offs = np.sort(rng.integers(0, span_days * 86400 * 1_000_000, rows))
    ts = (EPOCH0 * 1_000_000 + offs).astype("datetime64[us]")
    etype = rng.integers(0, len(EVENT_TYPES), rows)
    value = np.round(np.minimum(rng.exponential(50.0, rows), VALUE_MAX), 2)
    k = rng.integers(0, 100, rows)
    return pa.table({
        "event_id": pa.array(np.arange(rows, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(skewed_keys(rng, rows, users, skew)),
        "event_type": pa.array(np.array(EVENT_TYPES, dtype=object)[etype]),
        "value": pa.array(value),
        "props": pa.array([f'{{"k": {x}}}' for x in k.tolist()]),
    })


def gen_trend(seed: int, out: Path, z: dict) -> dict:
    rng = np.random.default_rng([seed, 1])
    t = events_table(rng, z["rows"], z["span_days"], z["users"], z["user_skew"])
    write_parquet(t, out / "events.parquet", row_groups=8)
    return {"workload": "trend-query", "rows": z["rows"],
            "metrics": len(EVENT_TYPES), "span_days": z["span_days"],
            "span_over_max_day_bin": z["span_days"] / max(DAY_BINS),
            "users": z["users"], "user_skew": z["user_skew"],
            "top1pct_user_share": top_share(t.column("user_id").to_numpy())}


def gen_view(seed: int, out: Path, z: dict) -> dict:
    rng = np.random.default_rng([seed, 2])
    n_cust, n_ord = int(150_000 * z["scale"]), int(1_500_000 * z["scale"])
    lines_per_order, cust_skew = z["lines_per_order"], z["customer_key_skew"]
    write_parquet(pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS)}), out / "region.parquet")
    write_parquet(pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)}),
        out / "nation.parquet")

    def customers(keys: np.ndarray) -> pa.Table:
        m = len(keys)
        return pa.table({
            "c_custkey": pa.array(keys.astype(np.int64)),
            "c_nationkey": pa.array(rng.integers(0, 25, m).astype(np.int32)),
            "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, m), 2)),
            "c_mktsegment": pa.array(np.array(SEGMENTS, dtype=object)[
                rng.integers(0, len(SEGMENTS), m)]),
        })

    def orders(m: int) -> pa.Table:
        return pa.table({
            "o_orderkey": pa.array(np.arange(m, dtype=np.int64)),
            "o_custkey": pa.array(skewed_keys(rng, m, n_cust, cust_skew)),
            "o_totalprice": pa.array(np.round(rng.uniform(100, 500_000, m), 2)),
            "o_orderpriority": pa.array(np.array(PRIORITIES, dtype=object)[
                rng.integers(0, len(PRIORITIES), m)]),
        })

    def lineitems(order_keys: np.ndarray) -> pa.Table:
        ok = np.repeat(order_keys, lines_per_order)
        m = len(ok)
        return pa.table({
            "l_orderkey": pa.array(ok.astype(np.int64)),
            "l_linenumber": pa.array(np.tile(np.arange(1, lines_per_order + 1,
                                                        dtype=np.int32), len(order_keys))),
            "l_quantity": pa.array(rng.integers(1, 51, m).astype(np.float64)),
            "l_extendedprice": pa.array(np.round(rng.uniform(900, 100_000, m), 2)),
        })

    step, metrics = z["series_step_s"], len(EVENT_TYPES)

    def series(first_id: int, first_e: int, per_metric: int, anchors: bool) -> pa.Table:
        """Retained series samples as events rows, one per metric every
        `step` seconds (the store keeps the canonical (metric, e, value)
        projection of them)."""
        etype = np.tile(np.arange(metrics), per_metric)
        e = first_e + np.repeat(np.arange(per_metric) * step, metrics)
        value = np.round(rng.uniform(0.0, VALUE_MAX, len(e)), 2)
        if anchors:  # pin every metric's envelope to [0, VALUE_MAX]
            etype = np.concatenate([np.tile(np.arange(metrics), 2), etype])
            e = np.concatenate([np.full(2 * metrics, first_e), e])
            value = np.concatenate([np.repeat([0.0, VALUE_MAX], metrics), value])
        n = len(e)
        ts = (e * 1_000_000 + rng.integers(0, 1_000_000, n)).astype("datetime64[us]")
        return pa.table({
            "event_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 1000, n)),
            "event_type": pa.array(np.array(EVENT_TYPES, dtype=object)[etype]),
            "value": pa.array(value),
            "props": pa.array(['{"k": 0}'] * n),
        })

    write_parquet(customers(np.arange(n_cust)), out / "customer.parquet")
    o = orders(n_ord)
    write_parquet(o, out / "orders.parquet", row_groups=4)
    write_parquet(lineitems(o.column("o_orderkey").to_numpy()), out / "lineitem.parquet",
                  row_groups=8)
    boot = series(0, EPOCH0, z["series_per_metric"], True)
    write_parquet(boot, out / "events.parquet")

    # The delta stream: mostly appends, some dimension churn. A fixed
    # cycle of kinds (contents are seeded), so every run's window sees the
    # same mix whatever its seed:
    #   append_series    the next series_delta_s of retained samples
    #   append_lineitem  new lines for existing orders (RF1-sized)
    #   churn_customer   dimension churn: segment/nation changes (upsert)
    #                    and closed accounts (deleteWhere)
    # Rows of each delta table land in one file per table, tagged delta_id.
    kinds = ["append_series", "append_lineitem", "churn_customer"]
    table_of = {"append_series": "events", "append_lineitem": "lineitem",
                "churn_customer": "customer"}
    per_delta = z["series_delta_s"] // step
    deltas = z["deltas"]
    manifest, parts = [], {t: [] for t in table_of.values()}
    next_e, next_id = EPOCH0 + z["series_per_metric"] * step, boot.num_rows
    for i in range(deltas):
        kind = kinds[i % len(kinds)]
        d = {"id": i, "kind": kind}
        if kind == "append_lineitem":
            picked = rng.integers(0, n_ord, max(1, round(n_ord * z["lineitem_delta_share"])))
            t = lineitems(np.unique(picked))
            # line numbers above the bootstrap's keep (order, line) unique
            t = t.set_column(1, "l_linenumber", pa.array(
                np.full(t.num_rows, lines_per_order + 1 + i, dtype=np.int32)))
        elif kind == "append_series":
            t = series(next_id, next_e, per_delta, False)
            next_e, next_id = next_e + per_delta * step, next_id + t.num_rows
        else:
            n_del = z["churn_deletes"]
            keys = np.unique(skewed_keys(rng, z["churn_upserts"] + n_del, n_cust, cust_skew))
            t = customers(keys[n_del:])
            d["delete_keys"] = keys[:n_del].tolist()
        d["rows"] = t.num_rows + len(d.get("delete_keys", []))
        parts[table_of[kind]].append(
            t.append_column("delta_id", pa.array(np.full(t.num_rows, i, dtype=np.int32))))
        manifest.append(d)
    ddir = out / "deltas"
    ddir.mkdir()
    for t, ts in parts.items():
        if ts:
            write_parquet(pa.concat_tables(ts), ddir / f"{t}.parquet")
    (out / "deltas.json").write_text(json.dumps({"cycle": len(kinds), "deltas": manifest}))
    churn = sum(1 for d in manifest if d["kind"] == "churn_customer")
    series_days = z["series_per_metric"] * step / 86400
    return {"workload": "view-maintain", "customers": n_cust, "orders": n_ord,
            "lineitems": n_ord * lines_per_order, "series_rows": boot.num_rows,
            "metrics": metrics, "series_step_s": step, "span_days": series_days,
            "span_over_max_day_bin": series_days / max(DAY_BINS), "deltas": deltas,
            "delta_rows": {k: float(np.median([d["rows"] for d in manifest if d["kind"] == k]))
                           for k in kinds},
            "churn_share": round(churn / deltas, 4), "cycle": kinds,
            "customer_key_skew": cust_skew,
            "top1pct_customer_share": top_share(o.column("o_custkey").to_numpy())}


def message(rng, ts: float, source: str, max_metrics: int) -> str:
    k = int(rng.integers(1, max_metrics + 1))
    names = rng.choice(len(EVENT_TYPES), size=k, replace=False)
    vals = np.round(rng.uniform(0, 100, k), 2)
    body = ",".join(f'"{EVENT_TYPES[j]}":{v:.2f}' for j, v in zip(names.tolist(), vals.tolist()))
    return f'{{"ts":{ts:.3f},"source":"{source}","value":{{{body}}}}}'


def gen_stream(seed: int, out: Path, z: dict, seconds: float) -> dict:
    """Live schedule: messages due every 1/rate seconds for `seconds`;
    `ts` is the due offset on a fixed base, so message bytes depend only on
    the seed. The warm-up messages precede it in event time. Backlog: one log
    file per channel, published before the drain starts."""
    rng = np.random.default_rng([seed, 3])
    sources = [f"sensor{i}" for i in range(z["channels"])]

    def pick() -> str:
        return sources[int(rng.integers(0, len(sources)))]

    def schedule(path: Path, n: int, t0: float, step: float) -> None:
        with open(path, "w") as f:
            for i in range(n):
                src = pick()
                f.write(json.dumps({"due": i * step, "channel": src,
                                    "msg": message(rng, t0 + i * step, src,
                                                   z["max_metrics"])}) + "\n")

    warmup, rate = z["warmup_messages"], z["rate"]
    schedule(out / "warmup.jsonl", warmup, EPOCH0 - 20, 1 / rate)
    n = int(seconds * rate)
    schedule(out / "schedule.jsonl", n, EPOCH0, 1 / rate)
    bdir = out / "backlog"
    bdir.mkdir()
    per = {s: [] for s in sources}
    for i in range(z["backlog"]):
        src = pick()
        per[src].append(message(rng, EPOCH0 + i * 0.01, src, z["max_metrics"]))
    for s, msgs in per.items():
        (bdir / f"{s}.log").write_text("".join(m + "\n" for m in msgs))
    return {"workload": "stream-ingest", "live_messages": n, "rate_per_s": rate,
            "warmup_messages": warmup, "channels": len(sources),
            "metrics": len(EVENT_TYPES), "metrics_per_message": f"1-{z['max_metrics']}",
            "backlog_messages": z["backlog"], "span_days": round(seconds / 86400, 6)}


def digest(d: Path) -> str:
    h = hashlib.sha256()
    for p in sorted(d.rglob("*")):
        if p.is_file():
            h.update(p.relative_to(d).as_posix().encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def generate(workload: str, seed: int, out: Path, sizes: dict, seconds: float) -> dict:
    """Write `workload`'s inputs for `seed` under `out`; returns their
    properties plus `gen_s`, the seconds generation took."""
    out.mkdir(parents=True, exist_ok=True)
    t0 = time.perf_counter()
    if workload == "trend-query":
        props = gen_trend(seed, out, sizes)
    elif workload == "view-maintain":
        props = gen_view(seed, out, sizes)
    else:
        props = gen_stream(seed, out, sizes, seconds)
    props["seed"] = seed
    (out / "properties.json").write_text(json.dumps(props, indent=1, sort_keys=True))
    props["gen_s"] = time.perf_counter() - t0
    return props


def self_test() -> int:
    small = {
        "trend-query": dict(WORKLOAD_SIZES["trend-query"], rows=20_000),
        "view-maintain": dict(WORKLOAD_SIZES["view-maintain"], scale=0.001,
                              series_per_metric=600, deltas=12),
        "stream-ingest": dict(WORKLOAD_SIZES["stream-ingest"], warmup_messages=20,
                              backlog=500),
    }
    ok = True
    with tempfile.TemporaryDirectory() as tmp:
        for workload, sizes in small.items():
            a, b, c = (Path(tmp) / f"{workload}{i}" for i in range(3))
            generate(workload, 7, a, sizes, 2.0)
            generate(workload, 7, b, sizes, 2.0)
            generate(workload, 8, c, sizes, 2.0)
            same, diff = digest(a) == digest(b), digest(a) != digest(c)
            print(f"[gen self-test] {workload}: same seed identical={same}, "
                  f"other seed differs={diff}")
            ok &= same and diff
    print("[gen self-test]", "PASS" if ok else "FAIL")
    return 0 if ok else 1


def main(argv) -> int:
    if argv != ["--self-test"]:
        print("usage: gen.py --self-test", file=sys.stderr)
        return 2
    return self_test()


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
