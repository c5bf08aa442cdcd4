"""The catalog workload: seeded tables, DuckDB oracle checks and metrics."""
import glob
import os

import duckdb
import pandas as pd

import gen_tables
from stats import median, self_times, tail

SCALE = 0.5  # gen_tables scale: 1.0 = the sf0.01 row counts
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]
MODULES = ["Relational", "Windowed", "AuditOps", "Dedup", "Similarity", "TextAnalysis",
           "Pipeline"]
# One headline entry per query family (two of them carry a fit/probe
# split), plus the two entries over the audit-record parse (AuditOps).
# The whole headline set (29 entries) takes ~60 s cold + warm per run,
# more than the run budget allows.
ENTRIES = [
    "q04_join_sortmerge", "q32_session_window", "q41_dedup_minhash", "q52_ann_lsh",
    "q125_bm25", "q97_incremental_dedup", "q87_xml_envelope", "q88_failed_actions",
]


def prepare(work, seed):
    gen_tables.generate(os.path.join(work, "tables"), seed, SCALE)
    return {"entries": ",".join(ENTRIES)}


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: v.decode() if isinstance(v, bytes) else v)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def compare(spark_df, duck_df):
    """None when equal: same column names, row count and values, rows in
    any order (floats compared exactly, everything else as rendered)."""
    a, b = _canon(spark_df), _canon(duck_df)
    if list(a.columns) != list(b.columns):
        return f"columns spark={list(a.columns)} duckdb={list(b.columns)}"
    if len(a) != len(b):
        return f"rows spark={len(a)} duckdb={len(b)}"
    for c in a.columns:
        av, bv = a[c], b[c]
        if (av.dtype.kind in "iu") != (bv.dtype.kind in "iu") and {av.dtype.kind, bv.dtype.kind} & {"f"}:
            return f"column {c}: spark {av.dtype} vs duckdb {bv.dtype}"
        if av.dtype.kind == "f" or bv.dtype.kind == "f":
            ok = ((av.isna() & bv.isna()) | (av == bv)).all()
        else:
            ok = (av.astype(str).fillna("<null>") == bv.astype(str).fillna("<null>")).all()
        if not ok:
            return f"column {c}: values differ"
    return None


def oracle_failures(work, oracle_sql):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{work}/tables/{t}.parquet'")
    fails = []
    for name, sql in sorted(oracle_sql.items()):
        parts = glob.glob(os.path.join(work, "results", name, "*.parquet"))
        if not parts:
            fails.append(f"{name}: no result written")
            continue
        try:
            err = compare(pd.concat([pd.read_parquet(p) for p in parts], ignore_index=True),
                          con.sql(sql).df())
        except Exception as e:  # an oracle that cannot run counts as a mismatch
            err = f"oracle error {str(e)[:200]}"
        if err:
            fails.append(f"{name}: {err}")
    return fails


def evaluate(work, out, traced):
    """Check the catalog outputs; return (attempted, failures, metrics, summary)."""
    failures = []
    ran = out["warmup"] + out["passes"]
    for r in ran:
        if r["error"]:
            failures.append(f"{r['name']} pass {r['pass']}: {r['error']}")
    names = [r["name"] for r in out["warmup"]]
    missing = sorted(set(ENTRIES) - set(names))
    failures += [f"{n}: not in the catalog" for n in missing]
    failures += oracle_failures(work, out["oracle_sql"])
    attempted = len(ran) + len(missing)

    def per_entry(passes):
        by = {}
        for r in passes:
            by.setdefault(r["name"], []).append(r["s"])
        return {n: min(v) for n, v in by.items()}

    plain = per_entry([r for r in out["passes"] if not r["traced"]])
    ms = [s * 1000.0 for s in plain.values()]
    total = sum(plain.values())
    t_ms, t_pct = tail(ms)
    setup_s = out["session_s"] + out["warmup_s"]
    metrics = {
        "setup_s": setup_s,
        "op_p50_ms": median(ms),
        "op_tail_ms": t_ms,
        "ops_per_s": len(plain) / max(total, 1e-9),
    }
    n_pass = len({r["pass"] for r in out["passes"] if not r["traced"]})
    summary = (f"catalog: catalog.total_s={total:.3f} (fastest of {n_pass} passes per entry, "
               f"{len(plain)} entries) entry_p50_ms={metrics['op_p50_ms']:.1f} "
               f"entry_p{t_pct:.0f}_ms={t_ms:.1f} setup_s={setup_s:.3f} "
               f"mem.peak_rss_mb={out['vmhwm_mb']:.0f} "
               f"host.other_cores={out['host']['other_cores']:.2f} "
               f"host.steal_pct={out['host']['steal_pct']:.1f} "
               f"ops.failed_frac={len(failures) / max(1, attempted):.4f}")
    if not traced:
        return attempted, failures, metrics, summary

    # ---- traced run: per-layer numbers from the traced passes ----
    tr_passes = [r for r in out["passes"] if r["traced"]]
    tr = per_entry(tr_passes)
    n_tr = max(1, len({r["pass"] for r in tr_passes}))
    lm = {f"catalog.{n}_s": tr.get(n, 0.0) for n in ENTRIES}
    tasks = {}
    for key, (run_ms, shuffle_b, spill_b, gc_ms) in out.get("tasks", {}).items():
        m = next((r["module"] for r in tr_passes if r["name"] == key.split("#")[0]), None)
        t = tasks.setdefault(m, [0, 0, 0, 0])
        for i, v in enumerate((run_ms, shuffle_b, spill_b, gc_ms)):
            t[i] += v
    for mod in MODULES:
        rows = [r for r in tr_passes if r["module"] == mod]
        t = tasks.get(mod, [0, 0, 0, 0])
        lm[f"queries.{mod}.build_s"] = sum(r["build_s"] for r in rows) / n_tr
        lm[f"queries.{mod}.exec_s"] = sum(r["s"] - r["build_s"] for r in rows) / n_tr
        lm[f"queries.{mod}.executor_run_s"] = t[0] / 1000.0 / n_tr
        lm[f"queries.{mod}.shuffle_mb"] = t[1] / 1e6 / n_tr
        lm[f"queries.{mod}.spill_mb"] = t[2] / 1e6 / n_tr
        lm[f"queries.{mod}.gc_ms"] = t[3] / n_tr
    probes = [p for p in out.get("probes", []) if "fit_s" in p]
    failures += [f"{p['name']} probe: {p['error']}" for p in out.get("probes", []) if "error" in p]
    lm["catalog.fit_s"] = sum(p["fit_s"] for p in probes)
    lm["catalog.serve_s"] = sum(p["serve_s"] for p in probes)
    spans = [tuple(s) for s in out.get("spans", [])]
    entry_spans = [s for s in spans if s[1] != "probe" and s[1] not in ("fit", "serve")]
    selfs = self_times(entry_spans)
    lm["catalog.self_s"] = selfs.get("catalog", 0.0) / n_tr
    for mod in MODULES:
        lm[f"queries.{mod}.self_s"] = selfs.get(f"queries.{mod}", 0.0) / n_tr
    h = out["host"]
    lm["jvm.gc_ms"] = h["jvm_gc_ms"]
    lm["jvm.cpu_s"] = h["jvm_cpu_s"]
    lm["host.other_cores"] = h["other_cores"]
    lm["host.steal_pct"] = h["steal_pct"]
    lm["jvm.peak_rss_mb"] = out["vmhwm_mb"]
    lm["ship.generator_late_p99_ms"] = 0.0
    traced_total = sum(tr.values())
    lm["trace.overhead_pct"] = 100.0 * (traced_total - total) / max(total, 1e-9)
    return attempted, failures, lm, summary
