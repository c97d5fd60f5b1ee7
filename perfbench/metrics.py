"""Metric assembly: end-to-end figures from the untraced op ledger,
per-layer figures from spans joined with Spark's event log, and the
report files a run leaves in ``.perfbench_run/``."""

from __future__ import annotations

import json
import os
import sys

from ledger import all_jobs, parse_event_log, quantile, union_ms
from workloads import FAMILIES, QUERIES

IO_LAYER_VERBS = (
    "upsert", "merge_when", "delete_where", "append", "reload_partitions",
    "overwrite_keyed", "compact", "vacuum", "lookup", "read_key",
    "read_point", "count_where", "read_version", "max_value",
)


def _ms(recs) -> list[float]:
    return [r["dur"] * 1000 for r in recs]


def end_to_end(ledger, wl, facts):
    """Returns ``(metrics, counts)``; metrics map name -> (value, unit).
    Every op (warm-up included) and every table check is one attempt."""
    checks = facts.checks
    ops = ledger.ops("timed")
    all_ops = [s for s in ledger.spans if s["kind"]]
    counts = {
        "attempted": len(all_ops) + len(checks),
        "failed": sum(not s["ok"] for s in all_ops) + sum(not ok for ok in checks.values()),
        "samples": len(ops),
        "tail_pct": round(wl.tail_q * 100),
        "op_ms": {n: [round(r["dur"] * 1000) for r in ops if r["name"] == n]
                  for n in sorted({r["name"] for r in ops})},
        "failures": [f"{s['name']}: {s.get('error')}" for s in all_ops if not s["ok"]]
        + [k for k, ok in checks.items() if not ok],
    }
    # the gated time is CPU seconds per cycle, not wall time: on a shared
    # host a run's wall time follows the host's load (the quartile spread
    # of ten analytics runs reached 0.39 of the median), while CPU time
    # leaves out the time the host gives to other guests. The JIT
    # compiler threads' share (about half of a cycle's CPU right after
    # warm-up) is left out too: how much they compile during a cycle
    # depends on timing, and it spread more than the rest. Wall figures
    # stay in the diagnostics (untraced) and the per-layer metrics
    # (traced), the JIT share in cpu.jit_s
    counts["cycle_s"] = quantile(facts.cycles, 0.5)
    counts["ops_per_s"] = len(ops) / facts.wall_s
    counts["cycle_cpu"] = facts.cycles_cpu
    metrics = {
        "setup_s": (facts.session_s + quantile(facts.builds, 0.5) + facts.warm_s, "s"),
        "cycle_cpu_s": (quantile([sum(v for k, v in c.items() if k != "jit") for c in facts.cycles_cpu], 0.5), "s"),
        "driver_rss_mb": (facts.rss_mb, "MB"),
    }
    return metrics, counts


def per_layer(ledger, wl, facts, layer: dict, log_dir: str, counts: dict) -> tuple[dict, dict]:
    """Per-layer metrics, and the event log's jobs by id. Every workload
    reports every name, with 0 where it does not exercise that layer."""
    jobs = parse_event_log(log_dir)
    by_group: dict[str, list[int]] = {}
    for jid, j in jobs.items():
        by_group.setdefault(j["group"], []).append(jid)

    def span_jobs(rec) -> list[int]:
        # stream jobs run under the query's run id, not the span's group
        out = all_jobs(rec)
        run_id = rec["info"].get("run_id")
        return out + (by_group.get(run_id, []) if run_id else [])

    def driver_ms(rec) -> float:
        iv = [(jobs[j]["start"], jobs[j]["end"]) for j in span_jobs(rec) if j in jobs]
        return rec["dur"] * 1000 - union_ms(iv, rec["start"] * 1000, rec["end"] * 1000)

    def job_sum(recs, key) -> float:
        return sum(jobs[j].get(key, 0) for r in recs for j in span_jobs(r) if j in jobs)

    m: dict[str, tuple] = {}
    for verb in IO_LAYER_VERBS:
        # tables are created only while setting up
        recs = ledger.named(f"io.{verb}", "setup" if verb == "overwrite_keyed" else "timed")
        m[f"io.{verb}.p50_ms"] = (quantile(_ms(recs), 0.5), "ms")
        m[f"io.{verb}.calls"] = (len(recs), "count")
        m[f"io.{verb}.jobs"] = (quantile([len(span_jobs(r)) for r in recs], 0.5), "count")
        m[f"io.{verb}.driver_ms"] = (quantile([driver_ms(r) for r in recs], 0.5), "ms")

    ops = ledger.ops("timed")
    writes = [r for r in ops if r["kind"] == "write"]
    reads = [r for r in ops if r["kind"] == "read"]
    committed = sum(r["rows"] for r in writes)
    m["io.bytes_written_per_row"] = (job_sum(writes, "bytes_written") / committed if committed else 0.0, "B")
    m["io.files_on_disk"] = (layer.get("io.files_on_disk", 0), "count")
    store_reads = [r for r in reads if r["name"].startswith("io.")]
    result_rows = sum(r["rows"] for r in store_reads)
    m["io.scan_rows_per_result_row"] = (
        job_sum(store_reads, "records_read") / result_rows if result_rows else 0.0, "ratio")

    # pipelines differ by source (the weather gate reads a watermark,
    # the hits gate is constant), so phases are means per pipeline run
    pipes = ledger.named("plans.pipeline")
    for phase in ("gate", "extract", "load"):
        total = sum(_ms(ledger.named(f"plans.pipeline.{phase}")))
        m[f"plans.pipeline.{phase}_ms"] = (total / len(pipes) if pipes else 0.0, "ms")
    m["plans.pipeline.jobs"] = (quantile([len(span_jobs(r)) for r in pipes], 0.5), "count")
    for k, unit in (("sources.fetch_skip_frac", "ratio"), ("sources.rows_extracted", "rows"),
                    ("streaming.drain_ms", "ms"), ("streaming.add_batch_ms", "ms"),
                    ("streaming.planning_ms", "ms"), ("streaming.wal_commit_ms", "ms"),
                    ("streaming.rows_per_s", "1/s")):
        m[k] = (layer.get(k, 0.0), unit)
    queries = [r for r in ledger.ops() if r["name"].startswith("registry.")]
    for fam, qs in FAMILIES.items():
        fam_ms = _ms(r for r in queries if r["name"][len("registry."):] in qs)
        m[f"operators.{fam}.p50_ms"] = (quantile(fam_ms, 0.5), "ms")
    for q in QUERIES:
        m[f"registry.{q}.ms"] = (quantile(_ms(r for r in queries if r["name"] == f"registry.{q}"), 0.5), "ms")

    lo, hi = facts.window
    timed_jobs = [j for j in jobs.values() if lo <= j["start"] <= hi]
    n = len(facts.cycles)
    m["spark.jobs"] = (len(timed_jobs) / n, "count")
    for key, name, unit in (("tasks", "spark.tasks", "count"), ("run_ms", "spark.executor_run_ms", "ms"),
                            ("shuffle_read", "spark.shuffle_read_bytes", "B"),
                            ("shuffle_write", "spark.shuffle_write_bytes", "B"),
                            ("spill", "spark.spill_bytes", "B")):
        m[name] = (sum(j.get(key, 0) for j in timed_jobs) / n, unit)
    busy = union_ms([(j["start"], j["end"]) for j in timed_jobs], lo, hi)
    m["spark.driver_only_frac"] = (1 - busy / (hi - lo), "ratio")
    m["session.get_spark_ms"] = (facts.session_s * 1000, "ms")

    m["op_p50_ms"] = (quantile(_ms(ops), 0.5), "ms")
    m["op_tail_ms"] = (quantile(_ms(ops), wl.tail_q), "ms")
    m["read_p50_ms"] = (quantile(_ms(reads), 0.5), "ms")
    m["read_tail_ms"] = (quantile(_ms(reads), wl.tail_q), "ms")
    m["write_p50_ms"] = (quantile(_ms(writes), 0.5), "ms")
    m["write_tail_ms"] = (quantile(_ms(writes), wl.tail_q), "ms")
    m["rows_per_s"] = (committed / facts.wall_s, "1/s")
    m["space_amp"] = (layer.get("space_amp", 0.0), "ratio")
    m["failed_frac"] = (counts["failed"] / counts["attempted"], "ratio")
    m["trace.cycle_s"] = (quantile(facts.cycles, 0.5), "s")
    m["ops_per_s"] = (len(ops) / facts.wall_s, "1/s")
    for part in facts.cycles_cpu[0]:
        m[f"cpu.{part}_s"] = (quantile([c[part] for c in facts.cycles_cpu], 0.5), "s")
    return m, jobs


def write_reports(out_dir: str, a, ledger, metrics: dict, diag: dict, jobs: dict) -> None:
    """The job ledger (every op and nested span with its exact job count,
    in order) and, for traced runs, the span report."""
    os.makedirs(out_dir, exist_ok=True)
    stem = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    ledger_rows = [
        [s["phase"], s["name"], len(all_jobs(s))] for s in sorted(ledger.spans, key=lambda s: s["id"])
    ]
    with open(os.path.join(out_dir, f"ledger-{stem}.json"), "w") as fh:
        json.dump({"workload": a.workload, "seed": a.seed, "trace": a.trace, "spans": ledger_rows}, fh)
    result = {"metrics": {k: v[0] for k, v in metrics.items()}, "diagnostics": diag}
    with open(os.path.join(out_dir, f"result-{stem}.json"), "w") as fh:
        json.dump(result, fh, default=str, indent=1)
    if not a.trace:
        return
    untraced = os.path.join(out_dir, f"result-{a.workload}-seed{a.seed}-trace0.json")
    overhead = None
    if os.path.exists(untraced):
        with open(untraced) as fh:
            base = json.load(fh)["diagnostics"].get("cycle_s")
        if base:
            overhead = {"untraced_cycle_s": base, "traced_cycle_s": metrics["trace.cycle_s"][0],
                        "overhead_frac": metrics["trace.cycle_s"][0] / base - 1}
    spans = []
    for s in sorted(ledger.spans, key=lambda s: s["id"]):
        child_s = sum(c["dur"] for c in s["children"])
        own = [jobs[j] for j in s["self_jobs"] if j in jobs]
        spans.append({
            "id": s["id"], "name": s["name"], "parent": s["parent"], "phase": s["phase"],
            "start": s["start"], "end": s["end"], "self_ms": (s["dur"] - child_s) * 1000,
            "jobs": len(all_jobs(s)), "self_jobs": len(s["self_jobs"]),
            "stage_metrics": {k: sum(j.get(k, 0) for j in own)
                              for k in ("tasks", "run_ms", "shuffle_read", "shuffle_write", "spill",
                                        "records_read", "bytes_written")},
            "ok": s["ok"],
        })
    report = {"workload": a.workload, "seed": a.seed, "tracing_overhead": overhead, "spans": spans}
    with open(os.path.join(out_dir, f"trace-{a.workload}-seed{a.seed}.json"), "w") as fh:
        json.dump(report, fh, default=str)
    if overhead:
        print(f"perfbench: tracing overhead {overhead['overhead_frac']:+.1%} on cycle_s", file=sys.stderr)
