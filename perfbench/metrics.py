"""Output checks, end-to-end metrics, per-layer metrics and trace spans of
one benchmark run, computed from what the run left on disk: the streaming
checkpoint (offsets/ and commits/), the Kafka-shaped sink's parquet files,
the generator's report and, in traced runs, the engine's events.json.

Frame i of a run is source offset i: there is one FIFO connection and the
checks below prove nothing was shed, so offsets/<n> tells which frames epoch
n held and the mtime of commits/<n> tells when that epoch committed.
"""

import datetime
import json
import os
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.dataset as ds

import frames

SPEC = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
E2E = tuple(m["name"] for m in SPEC["end_to_end"])
UNITS = {m["name"]: m["unit"] for m in SPEC["end_to_end"] + SPEC["per_layer"]}
LAYER_OF_PHASE = {  # micro-batch progress phase -> layer doing the work
    "latestOffset": "websocket", "getBatch": "websocket",
    "walCommit": "microbatch", "queryPlanning": "microbatch", "commitOffsets": "microbatch",
    "addBatch": "kafkashape",
}
PHASE_ORDER = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
               "commitOffsets")
LAYERS = ("websocket", "microbatch", "kafkashape", "streaming", "session")


def end_offset(path):
    """Source end offset recorded in a checkpoint offsets/<n> file."""
    lines = [ln for ln in Path(path).read_text().splitlines() if ln.strip()]
    return int(lines[-1])


def epochs(checkpoint):
    """Committed epochs: ids, end offsets and commit times (epoch seconds)."""
    ids = sorted(int(n) for n in os.listdir(checkpoint / "commits") if n.isdigit())
    ends = np.array([end_offset(checkpoint / "offsets" / str(n)) for n in ids], dtype=np.int64)
    commit = np.array([os.stat(checkpoint / "commits" / str(n)).st_mtime_ns / 1e9 for n in ids])
    return np.array(ids), ends, commit


def pct(xs, q):
    return float(np.percentile(np.asarray(xs, dtype=float), q)) if len(xs) else 0.0


def read_sink(path, columns):
    return ds.dataset(str(path), format="parquet", partitioning="hive").to_table(columns=columns)


# -- output checks -----------------------------------------------------------

def _seq(value):
    try:
        return int(value[7:value.index(",", 7)])
    except (ValueError, TypeError):
        return -1


def check_ingest(run, sched, epoch_of):
    """Every frame exactly once, payload intact, partition = pmod(murmur3(key), n),
    and in the epoch its offset says. Returns (failed frames, receipt micros)."""
    total = len(sched)
    bodies, _ = run["expected"]
    t = read_sink(run["sink"], ["key", "value", "partition", "epoch", "recv_ts"])
    values = t.column("value").to_pylist()
    seq = np.array([_seq(v) for v in values], dtype=np.int64)
    ok = (seq >= 0) & (seq < total)
    keys = t.column("key").to_pylist()
    want = {k: frames.kafka_partition(k, run["partitions"]) for k in set(keys)}
    ok &= t.column("partition").to_numpy() == np.array([want[k] for k in keys])
    ok &= t.column("epoch").to_numpy() == epoch_of[np.clip(seq, 0, total - 1)]
    sent, seqs = sched.tolist(), seq.tolist()
    for r in np.flatnonzero(ok).tolist():
        i = seqs[r]
        ok[r] = values[r] == frames.payload(i, sent[i], bodies[i])
    seen = np.bincount(seq[seq >= 0], minlength=total)[:total]
    intact = np.bincount(seq[ok], minlength=total)[:total]
    recv_us = np.zeros(total, dtype=np.int64)
    recv = t.column("recv_ts").cast(pa.timestamp("us")).cast(pa.int64()).to_numpy()
    recv_us[seq[ok]] = recv[ok]
    return int(np.count_nonzero((seen != 1) | (intact != 1))), recv_us


def check_orderbook(run):
    """Final top-of-book of every market equals OrderBook.batchReference over
    the generated stream (NaN equal to NaN); one row per market per epoch;
    partition = pmod(murmur3(market), n). Returns (failed markets, markets)."""
    ref = {}
    with open(run["rundir"] / "reference.jsonl") as f:
        for line in f:
            o = json.loads(line)
            ref[o["market"]] = o
    t = read_sink(run["sink"], ["key", "value", "partition", "epoch"])
    final, rows, bad = {}, set(), set()
    for k, v, p, e in zip(t.column("key").to_pylist(), t.column("value").to_pylist(),
                          t.column("partition").to_pylist(), t.column("epoch").to_pylist()):
        if (k, e) in rows or p != frames.kafka_partition(k, run["partitions"]):
            bad.add(k)
        rows.add((k, e))
        if k not in final or e > final[k][0]:
            final[k] = (e, json.loads(v))

    def same(a, b):
        for f in ("n_updates", "bid_depth", "ask_depth"):
            if a[f] != b[f]:
                return False
        for f in ("best_bid", "best_ask"):
            x, y = float(a[f]), float(b[f])
            if not (x == y or (x != x and y != y)):
                return False
        return True

    failed = set(bad) | (set(final) - set(ref))
    for m, want in ref.items():
        if m not in final or not same(final[m][1], want):
            failed.add(m)
    return len(failed), len(ref)


# -- evaluation --------------------------------------------------------------

def evaluate(run, trace):
    g = run["gen"]
    rate, n1, burst = run["rate"], g["n1"], run["burst"]
    total = n1 + run["bursts"] * burst
    warm = int(rate * run["warmup"])
    idx = np.arange(total, dtype=np.int64)
    burst_us = np.asarray(g["bursts_us"], dtype=np.int64)
    sched = np.where(idx < n1, g["t0_us"] + idx * 1_000_000 // rate,
                     burst_us[np.clip((idx - n1) // burst, 0, len(burst_us) - 1)])
    ids, ends, commit = epochs(run["checkpoint"])
    pos = np.searchsorted(ends, idx, side="right")  # epoch position of each frame
    received = int(ends[-1]) if len(ends) else 0
    if received < total:
        raise RuntimeError(f"only {received} of {total} frames committed")

    if run["workload"] == "ingest":
        failed, recv_us = check_ingest(run, sched, ids[pos])
        attempted = total
        lat_frames = idx[warm:n1]
    else:
        failed, attempted = check_orderbook(run)
        recv_us = None
        # per epoch, the last update of each market it holds
        m = np.asarray(run["expected"][1][warm:n1], dtype=np.int64)
        key = pos[warm:n1] * frames.MARKETS + m
        _, last = np.unique(key[::-1], return_index=True)
        lat_frames = np.sort(warm + (len(key) - 1 - last))
    latency = (commit[pos[lat_frames]] - sched[lat_frames] / 1e6) * 1000
    last_of_burst = n1 + burst * np.arange(1, len(burst_us) + 1) - 1
    drain_s = commit[pos[last_of_burst]] - burst_us / 1e6
    e2e = {
        "latency_p50_ms": pct(latency, 50),
        "latency_p90_ms": pct(latency, 90),
        "drain_fps": float(np.median(burst / drain_s)),
        "setup_s": float(np.median(run["setups"])),
    }
    valid = g["late_max_ms"] < e2e["latency_p50_ms"]
    if not valid:
        print(f"[perfbench] invalid run: generator ran {g['late_max_ms']:.1f} ms late",
              file=sys.stderr)
    result = {"correct": failed == 0 and valid, "attempted": attempted, "failed": failed,
              "e2e": e2e, "samples": int(len(latency))}
    if not trace:
        result["metrics"] = {k: {"value": v, "unit": UNITS[k]} for k, v in e2e.items()}
        return result
    layer, spans, self_ms = per_layer(run, sched, ids, ends, commit, recv_us, warm)
    result["metrics"] = layer
    result["spans"] = spans
    result["self_ms"] = self_ms
    return result


def _ts(iso):
    return datetime.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def per_layer(run, sched, ids, ends, commit, recv_us, warm):
    ev = json.loads((run["rundir"] / "events.json").read_text())
    g = run["gen"]
    n1 = g["n1"]
    t_meas = g["t0_us"] / 1e6 + run["warmup"]
    t_p1 = g["t0_us"] / 1e6 + run["warmup"] + run["seconds"]
    t_end = run["end"]
    prog = [p for p in ev["progress"] if p["numInputRows"] > 0]
    for p in prog:
        src = p["sources"][0]
        p["_start"], p["_from"], p["_to"] = _ts(p["timestamp"]), int(src["startOffset"] or 0), \
            int(src["endOffset"])
        p["_latest"] = int(src.get("latestOffset") or src["endOffset"])
    p1 = [p for p in prog if p["_from"] >= warm and p["_to"] <= n1]
    bst = [p for p in prog if p["_to"] > n1]
    meas = [p for p in prog if p["_from"] >= warm]

    def dur(ps, key):
        return [p["durationMs"].get(key, 0) for p in ps]

    def state(ps, key):
        return [sum(op.get(key, 0) for op in p.get("stateOperators", [])) for p in ps]

    stages = [s for s in ev["stages"] if t_meas * 1000 <= s["start"] <= t_end * 1000]
    jobs = [j for j in ev["jobs"] if t_meas * 1000 <= j["start"] <= t_end * 1000]
    p1_stages = [s for s in stages if s["start"] <= t_p1 * 1000]
    wall = t_end - t_meas

    m = {}
    if recv_us is not None:
        f = np.arange(warm, n1)
        recv = (recv_us[f] - sched[f]) / 1000
        start_of = {p["batchId"]: p["_start"] for p in prog}
        pos = np.searchsorted(ends, f, side="right")
        bstart = np.array([start_of.get(int(ids[q]), np.nan) for q in pos])
        wait = bstart * 1000 - recv_us[f] / 1000
        m["websocket.recv_p50_ms"] = pct(recv, 50)
        m["websocket.recv_p90_ms"] = pct(recv, 90)
        m["websocket.wait_p50_ms"] = pct(wait[~np.isnan(wait)], 50)
    else:  # receipt stamps do not survive the stateful operator
        m["websocket.recv_p50_ms"] = m["websocket.recv_p90_ms"] = 0.0
        m["websocket.wait_p50_ms"] = 0.0
    m["websocket.backlog_max_rows"] = max((p["_latest"] - p["_to"] for p in meas), default=0)
    m["websocket.frames_received"] = int(ends[-1])
    m["websocket.frames_shed"] = g["frames_sent"] - int(ends[-1])
    m["microbatch.batches"] = len(meas)
    m["microbatch.rows_per_batch_p50"] = pct([p["numInputRows"] for p in p1], 50)
    m["microbatch.trigger_ms_p50"] = pct(dur(p1, "triggerExecution"), 50)
    m["microbatch.trigger_ms_p90"] = pct(dur(p1, "triggerExecution"), 90)
    m["microbatch.planning_ms_p50"] = pct(dur(p1, "queryPlanning"), 50)
    m["microbatch.log_ms_p50"] = pct([a + b for a, b in zip(dur(p1, "walCommit"),
                                                           dur(p1, "commitOffsets"))], 50)
    m["kafkashape.epoch_ms_p50"] = pct(dur(p1, "addBatch"), 50)
    m["kafkashape.epoch_ms_p90"] = pct(dur(p1, "addBatch"), 90)
    files = {}
    nbytes = 0
    for root, _, names in os.walk(run["sink"]):
        for n in names:
            if n.endswith(".parquet"):
                files[root] = files.get(root, 0) + 1
                nbytes += os.path.getsize(os.path.join(root, n))
    m["kafkashape.files_per_epoch"] = pct(list(files.values()), 50)
    m["kafkashape.bytes_written"] = nbytes
    rows = sum(p["numInputRows"] for p in bst)
    m["kafkashape.us_per_row"] = sum(dur(bst, "addBatch")) * 1000 / rows if rows else 0.0
    last = prog[-1].get("stateOperators", []) if prog else []
    m["streaming.state_rows"] = sum(op.get("numRowsTotal", 0) for op in last)
    m["streaming.state_bytes"] = sum(op.get("memoryUsedBytes", 0) for op in last)
    m["streaming.rows_updated_p50"] = pct(state(p1, "numRowsUpdated"), 50)
    m["streaming.update_ms_p50"] = pct(state(p1, "allUpdatesTimeMs"), 50)
    m["streaming.commit_ms_p50"] = pct(state(p1, "commitTimeMs"), 50)
    m["streaming.shuffle_bytes"] = (sum(s["shuffle_write"] for s in p1_stages) / len(p1)
                                    if p1 else 0.0)
    m["streaming.emitted_rows"] = read_sink(run["sink"], ["partition"]).num_rows
    m["session.jobs"] = len(jobs)
    m["session.stages"] = len(stages)
    m["session.tasks"] = sum(s["tasks"] for s in stages)
    m["session.busy_share"] = sum(s["run_ms"] for s in stages) / (wall * 1000 * run["cores"])
    m["session.gc_ms"] = sum(s["gc_ms"] for s in stages)
    m["session.shuffle_write_bytes"] = sum(s["shuffle_write"] for s in stages)
    m["session.shuffle_read_bytes"] = sum(s["shuffle_read"] for s in stages)
    m["session.spill_bytes"] = sum(s["spill"] for s in stages)
    m["session.scan_bytes"] = sum(s["scan"] for s in stages)
    m["session.setup_cold_s"] = run["setups"][0]
    m["gen.frames_sent"] = g["frames_sent"]
    m["gen.late_p99_ms"] = g["late_p99_ms"]
    m["gen.late_max_ms"] = g["late_max_ms"]

    spans = build_spans(run, prog, ev)
    self_ms = self_time(spans, t_meas, t_end)
    for layer in LAYERS:
        m[f"{layer}.self_ms_per_batch"] = self_ms.get(layer, 0.0) / max(1, len(meas))
    return ({k: {"value": v, "unit": UNITS[k]} for k, v in m.items()}, spans, self_ms)


# -- spans -------------------------------------------------------------------

def build_spans(run, prog, ev):
    """Run → micro-batches → progress phases → (under addBatch) jobs → stages
    → (under a batch's last stage, where the state operator runs) state-store
    timings. Times are epoch milliseconds. Phases are laid end to end in the
    order the micro-batch loop runs them. State timings are sums over the
    state-store instances, so each is divided by their number and laid end
    to end from the stage's start, clipped to its end."""
    spans = [dict(id=0, parent=None, layer="benchmark", name="run",
                  start=run["spawn"] * 1000, end=run["end"] * 1000)]

    def add(parent, layer, name, start, end):
        spans.append(dict(id=len(spans), parent=parent, layer=layer, name=name,
                          start=start, end=end))
        return len(spans) - 1

    jobs = sorted(ev["jobs"], key=lambda j: j["start"])
    for p in prog:
        t = p["_start"] * 1000
        d = p["durationMs"]
        mb = add(0, "microbatch", f"batch {p['batchId']}", t, t + d.get("triggerExecution", 0))
        for ph in PHASE_ORDER:
            if ph not in d:
                continue
            sid = add(mb, LAYER_OF_PHASE[ph], ph, t, t + d[ph])
            t += d[ph]
            if ph != "addBatch":
                continue
            last = None
            for j in jobs:
                if spans[sid]["start"] <= j["start"] <= spans[sid]["end"]:
                    jid = add(sid, "session", f"job {j['job']}", j["start"], j["end"])
                    for st in ev["stages"]:
                        if j["start"] <= st["start"] <= j["end"]:
                            last = add(jid, "session", f"stage {st['stage']}",
                                       st["start"], st["end"])
            if last is None:
                continue
            a, end = spans[last]["start"], spans[last]["end"]
            for op in p.get("stateOperators", []):
                n = max(1, op.get("numStateStoreInstances", 1))
                for key in ("allUpdatesTimeMs", "allRemovalsTimeMs", "commitTimeMs"):
                    ms = op.get(key, 0) / n
                    if ms > 0 and a < end:
                        add(last, "streaming", f"state {key}", a, min(end, a + ms))
                        a += ms
    return spans


def self_time(spans, t_from, t_to):
    """Per layer: span duration minus the part its children cover, summed over
    spans that start inside [t_from, t_to] (epoch seconds). Milliseconds."""
    kids = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        if s["parent"] is None or not t_from * 1000 <= s["start"] <= t_to * 1000:
            continue
        covered, cur_a, cur_b = 0.0, None, None
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
            a, b = max(c["start"], s["start"]), min(c["end"], s["end"])
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        out[s["layer"]] = out.get(s["layer"], 0.0) + (s["end"] - s["start"]) - covered
    return out


def report_trace(run, result, work):
    """Write the spans and a per-layer summary, and state the tracing overhead
    against the newest untraced run of the same workload."""
    traces = work / "traces"
    traces.mkdir(exist_ok=True)
    stem = f"{run['workload']}-seed{run['seed']}"
    (traces / f"{stem}.spans.json").write_text(json.dumps(result["spans"]))
    summary = {"self_ms": result["self_ms"], "e2e_traced": result["e2e"]}
    base = work / f"last-{run['workload']}.json"
    if base.exists():
        untraced = json.loads(base.read_text())["e2e"]
        summary["e2e_untraced"] = untraced
        summary["overhead_pct"] = {k: 100.0 * (result["e2e"][k] - untraced[k]) / untraced[k]
                                   for k in E2E if untraced.get(k)}
    (traces / f"{stem}.summary.json").write_text(json.dumps(summary, indent=1))
    print("[perfbench] self time per layer (ms): "
          + ", ".join(f"{k} {v:.0f}" for k, v in sorted(result["self_ms"].items())),
          file=sys.stderr)
    if "overhead_pct" in summary:
        print("[perfbench] tracing overhead vs last untraced run: "
              + ", ".join(f"{k} {v:+.1f}%" for k, v in summary["overhead_pct"].items()),
              file=sys.stderr)
    else:
        print("[perfbench] no untraced run of this workload to compare; run --trace 0 first",
              file=sys.stderr)
