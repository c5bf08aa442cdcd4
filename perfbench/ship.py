"""The two agent workloads: inputs, output checks and metrics.

ship_trickle closes files into the watched dir on an open-loop schedule;
ship_backlog stages a settled corpus and times whole drains. Both run the
agent with the reference's shipped settings on the parquet mirror sink.
"""
import glob
import os
import re
import time

import pyarrow.parquet as pq

import gen_audit
from stats import mean, median, pct, self_times, tail

AGENT_CONF = """a2.target.broker=mirror
a2.worker.count=32
a2.locked.file.query.interval=512
"""
RATE = 20.0          # trickle arrival rate, files/s
WARM_S = 3.0         # trickle warm-up before the timed window, s
CORPUS_FILES = 512   # backlog drain size: one full batch at a2.worker.count=32
PHASES = ["latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit",
          "commitOffsets", "triggerExecution"]
NEWLINES = re.compile(r"\r?\n")


def prepare(work, workload, seed, seconds):
    """Write the agent conf and the seeded audit files; return the expected
    outcome per file name: (truncated, path) and the harness options."""
    old = time.time() - 3600  # settled long ago, as after an outage
    live = os.getpid()
    with open(os.path.join(work, "agent.conf"), "w") as f:
        f.write(AGENT_CONF)
    files = {}

    def add(sub, made):
        for name, trunc, _ in made:
            files[name] = (trunc, os.path.join(work, sub, name))

    add("prime", gen_audit.generate(os.path.join(work, "prime"), seed * 7 + 1, 3, live,
                                    prefix="p", trunc_frac=0.0, mtime=old))
    add("flush", gen_audit.generate(os.path.join(work, "flush"), seed * 7 + 2, 1, live,
                                    prefix="f", trunc_frac=0.0, mtime=old))
    opts = {}
    if workload == "ship_trickle":
        warm = int(WARM_S * RATE)
        n = warm + int(round(seconds * RATE))
        add("stage", gen_audit.generate(os.path.join(work, "stage"), seed * 7 + 3, n, live,
                                        prefix="t"))
        opts = {"rate": RATE, "warm": warm}
    else:
        add("corpus", gen_audit.generate(os.path.join(work, "corpus"), seed * 7 + 4, CORPUS_FILES,
                                         live, prefix="b", big_frac=0.01, mtime=old))
    return files, opts


def _partitions(root, cols):
    """{batch id: [row dicts]} from a batch=N partitioned parquet dir."""
    out = {}
    for path in glob.glob(os.path.join(root, "batch=*", "*.parquet")):
        bid = int(path.split("batch=")[1].split(os.sep)[0])
        out.setdefault(bid, []).extend(pq.read_table(path, columns=cols).to_pylist())
    return out


def _listdir(d):
    return sorted(os.listdir(d)) if os.path.isdir(d) else []


def check_run(run, files):
    """Check one agent run; return (attempted, failures, {name: batch id})."""
    expected = list(run["closes"].keys())
    mirror = _partitions(run["mirror"], ["src_file", "value"])
    dlq = _partitions(run["dlq"], ["src_file", "reason"])
    seen_m, seen_d, batch_of = {}, {}, {}
    for bid, rows in mirror.items():
        for r in rows:
            name = os.path.basename(r["src_file"])
            seen_m.setdefault(name, []).append(r["value"])
            batch_of[name] = bid
    for bid, rows in dlq.items():
        for r in rows:
            name = os.path.basename(r["src_file"])
            seen_d.setdefault(name, []).append(r["reason"])
            batch_of[name] = bid
    failures = []
    for name in expected:
        trunc, path = files[name]
        ms, ds = seen_m.get(name, []), seen_d.get(name, [])
        if trunc:
            if len(ds) != 1 or ms or not ds[0]:
                failures.append(f"{name}: truncated file in mirror {len(ms)}x, dlq {len(ds)}x")
        elif len(ms) != 1 or ds:
            failures.append(f"{name}: complete file in mirror {len(ms)}x, dlq {len(ds)}x")
        else:
            with open(path, encoding="ascii", newline="") as f:
                if ms[0] != NEWLINES.sub("", f.read()):
                    failures.append(f"{name}: mirrored value differs from the file")
    for name in set(seen_m) | set(seen_d):
        if name not in run["closes"]:
            failures.append(f"{name}: shipped but never closed")
    for name in _listdir(run["watched"]):
        failures.append(f"{name}: left in the watched dir")
    last = expected[-1:]  # the last batch's files are deleted by the next batch only
    for name in _listdir(run["settled"]):
        if name not in last:
            failures.append(f"{name}: left in the settled dir")
    if not run.get("ok"):
        failures.append(f"{run['id']}: agent did not finish in time")
    return len(expected), failures, batch_of


def _layer_metrics(run, spans, batch_of):
    """Per-layer numbers of one traced agent run, without the flush batch."""
    ticks = [(s[4] - s[3]) / 1000.0 for s in spans if s[1] == "tick"]
    locks = [(s[4] - s[3]) for s in spans if s[1] == "isLocked"]
    closes, moved = run["closes"], run["moved"]
    flush_batch = batch_of.get(list(closes)[-1])
    data = [p for p in run["progress"] if p["rows"] > 0 and p["batch"] != flush_batch]
    t_first = min(a for _, a in closes.values())
    t_last = max(run["commits"].values())
    window = max(1.0, t_last - t_first)
    tick_busy = sum((s[4] - s[3]) / 1000.0 for s in spans
                    if s[1] == "tick" and t_first * 1000 <= s[3] <= t_last * 1000)
    start_of = {p["batch"]: p["ts_ms"] for p in data}
    m = {
        "ingest.SettleGate.tick_p50_ms": median(ticks),
        "ingest.SettleGate.tick_p99_ms": pct(ticks, 99),
        "ingest.SettleGate.lockcheck_p50_us": median(locks),
        "ingest.SettleGate.wait_p50_ms": median(
            [moved[n] - closes[n][1] for n in moved if n in closes]),
        "ingest.SettleGate.busy_frac": tick_busy / window,
        "ingest.AuditIngest.batches": len(data),
        "ingest.AuditIngest.files_per_batch_p50": median([p["rows"] for p in data]),
        "ingest.AuditIngest.queue_wait_p50_ms": median(
            [start_of[batch_of[n]] - moved[n] for n in moved
             if batch_of.get(n) in start_of]),
        "ingest.AuditIngest.idle_frac": max(0.0, 1.0 - sum(
            p["durations"].get("triggerExecution", 0) for p in data) / window),
    }
    for ph in PHASES:
        m[f"ingest.AuditIngest.{ph}_p50_ms"] = median(
            [p["durations"].get(ph, 0) for p in data])
    return m


def stream_spans(run, next_id):
    """Spans for the micro-batches of a traced run, rebuilt from
    StreamingQueryProgress: one batch span and its phases laid end to end
    in execution order. Returns (spans, {batch id: addBatch span id})."""
    spans, add_ids = [], {}
    for p in run["progress"]:
        if p["rows"] <= 0:
            continue
        d, t0 = p["durations"], p["ts_ms"] * 1000
        bid = next_id()
        spans.append((bid, "batch", "ingest.AuditIngest", t0,
                      t0 + d.get("triggerExecution", 0) * 1000, 0, str(p["batch"])))
        t = t0
        for ph in ["latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
                   "commitOffsets"]:
            sid = next_id()
            spans.append((sid, ph, "ingest.AuditIngest", t, t + d.get(ph, 0) * 1000, bid,
                          str(p["batch"])))
            if ph == "addBatch":
                add_ids[str(p["batch"])] = sid
            t += d.get(ph, 0) * 1000
    return spans, add_ids


def evaluate(workload, out, files, traced):
    """Check every agent run; return (attempted, failures, metrics, summary)."""
    flush_name = next(n for n, (_, p) in files.items() if os.sep + "flush" + os.sep in p)
    attempted, failures, checked = 0, [], []
    for run in out["runs"]:
        a, f, batch_of = check_run(run, files)
        attempted += a
        failures += f
        checked.append((run, batch_of))
    setup_s = out["session_s"] + median(out["prime_s"])
    timed = [(r, b) for r, b in checked if r["kind"] in ("trickle", "drain")]
    plain = [(r, b) for r, b in timed if not r["traced"]]
    tr = [(r, b) for r, b in timed if r["traced"]]

    def op_times(runs):
        """Trickle: (per-file lags ms, files/s, MB/s). Backlog: (per-drain
        p50 ms, per-drain tail ms, files/s, MB/s)."""
        if workload == "ship_trickle":
            lags, span_s, nbytes = [], 0.0, 0
            for run, batch_of in runs:
                names = list(run["closes"])[run["warm"]:-1]  # timed, without the flush
                done = {n: run["commits"][str(batch_of[n])] for n in names
                        if str(batch_of.get(n)) in run["commits"]}
                lags += [t - run["closes"][n][0] for n, t in done.items()]
                nbytes += sum(os.path.getsize(files[n][1]) for n in done)
                if done:
                    span_s += (max(done.values()) - run["timed_start_ms"]) / 1000.0
            return lags, len(lags) / max(span_s, 1e-9), nbytes / 1e6 / max(span_s, 1e-9)
        # drains: per-drain file times averaged over drains, so the
        # trigger-alignment jitter of each drain start averages out
        p50s, tails, files_n, secs, nbytes = [], [], 0, 0.0, 0
        for run, batch_of in runs:
            names = list(run["closes"])[:-1]  # without the flush file
            times = [run["commits"][str(batch_of[n])] - run["start_ms"] for n in names
                     if str(batch_of.get(n)) in run["commits"]]
            p50s.append(median(times))
            tails.append(tail(times)[0])
            files_n += len(names)
            secs += run["drain_s"]
            nbytes += sum(os.path.getsize(files[n][1]) for n in names)
        return p50s, tails, files_n / max(secs, 1e-9), nbytes / 1e6 / max(secs, 1e-9)

    if workload == "ship_trickle":
        ops, ops_s, mb_s = op_times(plain)
        p50, (t_ms, t_pct), n_ops = median(ops), tail(ops), len(ops)
    else:
        p50s, tails, ops_s, mb_s = op_times(plain)
        p50, t_ms, t_pct = mean(p50s), mean(tails), tail(range(CORPUS_FILES))[1]
        n_ops = CORPUS_FILES * len(plain)
    metrics = {"setup_s": setup_s, "op_p50_ms": p50, "op_tail_ms": t_ms, "ops_per_s": ops_s}
    prefix = "ship.lag" if workload == "ship_trickle" else "ship.drain_lag"
    summary = (f"{workload}: {prefix}_p50_ms={p50:.1f} "
               f"{prefix}_p{t_pct:.1f}_ms={t_ms:.1f} (n={n_ops}) "
               f"ship.files_per_s={ops_s:.2f} ship.mb_per_s={mb_s:.2f} "
               f"setup_s={setup_s:.3f} mem.peak_rss_mb={out['vmhwm_mb']:.0f} "
               f"host.other_cores={median([r['host']['other_cores'] for r, _ in plain]):.2f} "
               f"host.steal_pct={median([r['host']['steal_pct'] for r, _ in plain]):.1f} "
               f"ops.failed_frac={len(failures) / max(1, attempted):.4f}")
    if not traced:
        return attempted, failures, metrics, summary

    # ---- traced run: per-layer numbers from the traced runs ----
    ids = iter(range(10**9, 2 * 10**9))
    recorded = [tuple(s) for s in out.get("spans", [])]
    spans = [s for s in recorded if s[1] not in ("tick", "isLocked", "ship")]
    per_run = []
    for run, batch_of in tr:
        lo, hi = run["start_ms"] * 1000, (max(run["commits"].values()) + 5000) * 1000
        mine = [s for s in recorded if s[1] in ("tick", "isLocked", "ship") and lo <= s[3] <= hi]
        per_run.append(_layer_metrics(run, mine, batch_of))
        sspans, add_ids = stream_spans(run, lambda: next(ids))
        spans += sspans + [s[:5] + (add_ids.get(s[6], s[5]),) + s[6:] if s[1] == "ship" else s
                           for s in mine]
    lm = {k: median([r[k] for r in per_run]) for k in per_run[0]}
    selfs = self_times(spans)
    for layer in ("ingest.SettleGate", "ingest.AuditIngest", "ingest.AuditModel"):
        lm[f"{layer}.self_s"] = selfs.get(layer, 0.0) / len(tr)
    if "envelope_s" in out:
        corpus = [p for n, (_, p) in files.items() if os.sep + "corpus" + os.sep in p]
        mb = sum(os.path.getsize(p) for p in corpus) / 1e6
        lm["ingest.AuditModel.envelope_mb_per_s"] = mb / median(out["envelope_s"])
    else:
        lm["ingest.AuditModel.envelope_mb_per_s"] = 0.0
    host = [r["host"] for r, _ in tr]
    lm["jvm.gc_ms"] = median([h["jvm_gc_ms"] for h in host])
    lm["jvm.cpu_s"] = median([h["jvm_cpu_s"] for h in host])
    lm["host.other_cores"] = median([h["other_cores"] for h in host])
    lm["host.steal_pct"] = median([h["steal_pct"] for h in host])
    lm["jvm.peak_rss_mb"] = out["vmhwm_mb"]
    late = [a - s for r, _ in tr if r["kind"] == "trickle"
            for n, (s, a) in r["closes"].items() if n != flush_name]
    lm["ship.generator_late_p99_ms"] = pct(late, 99) if workload == "ship_trickle" else 0.0
    if workload == "ship_trickle":
        base, with_trace = p50, median(op_times(tr)[0])
    else:
        base, with_trace = 1.0 / max(ops_s, 1e-9), 1.0 / max(op_times(tr)[2], 1e-9)
    lm["trace.overhead_pct"] = 100.0 * (with_trace - base) / max(base, 1e-9)
    return attempted, failures, lm, summary
