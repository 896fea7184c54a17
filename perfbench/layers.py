"""Per-layer metrics of the traced run, computed from one iteration's spans.

Layer names are the engine's module names. Every workload reports every
metric; a layer the workload does not call reads 0. Which end-to-end metric
each layer metric should move, on which workload, is recorded in
``perfbench/README.md``.
"""

from __future__ import annotations

import os
import statistics

import gen
from spans import self_times

#: (name, unit, better) of every per-layer metric, in report order
METRICS = [
    ("session.start_s", "s", "lower"),
    ("sources.catalog.read_calls", "count", "lower"),
    ("sources.catalog.read_s", "s", "lower"),
    ("sources.catalog.read_jobs", "count", "lower"),
    ("sources.catalog.list_s", "s", "lower"),
    ("operators.fanout.self_s", "s", "lower"),
    ("operators.fanout.attempted", "count", "higher"),
    ("operators.fanout.succeeded", "count", "higher"),
    ("plans.openmrs_pipelines.plan_s", "s", "lower"),
    ("plans.openmrs_pipelines.exec_s", "s", "lower"),
    ("plans.dqa.plan_s", "s", "lower"),
    ("plans.dqa.exec_s", "s", "lower"),
    ("operators.checks.exec_s", "s", "lower"),
    ("operators.rules.exec_s", "s", "lower"),
    ("operators.profile.exec_s", "s", "lower"),
    ("operators.text.exec_s", "s", "lower"),
    ("operators.dedup.exact_s", "s", "lower"),
    ("operators.dedup.minhash_s", "s", "lower"),
    ("operators.dedup.pairs_verified", "count", "higher"),
    ("operators.dedup.recall", "ratio", "higher"),
    ("operators.cluster.exec_s", "s", "lower"),
    ("operators.similarity.exec_s", "s", "lower"),
    ("operators.similarity.recall_at_k", "ratio", "higher"),
    ("sources.sinks.write_s", "s", "lower"),
    ("sources.sinks.bytes_written", "bytes", "lower"),
    ("sources.sinks.audit_ok", "ratio", "higher"),
    ("streaming.epoch_s.first", "s", "lower"),
    ("streaming.epoch_s.last", "s", "lower"),
    ("streaming.epochs", "count", "higher"),
    ("streaming.state_bytes", "bytes", "lower"),
    ("streaming.bytes_written_per_epoch", "bytes", "lower"),
    ("spark.jobs", "count", "lower"),
    ("spark.stages", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.tasks_failed", "count", "lower"),
    ("spark.input_bytes", "bytes", "lower"),
    ("spark.shuffle_write_bytes", "bytes", "lower"),
    ("spark.executor_run_s", "s", "lower"),
]

#: layers whose self times add up to the traced iteration time
LAYERS = [
    "bench", "sources.catalog", "operators.fanout", "operators.checks", "operators.rules",
    "operators.profile", "operators.text", "operators.dedup", "operators.cluster",
    "operators.similarity", "plans.openmrs_pipelines", "plans.dqa", "sources.sinks",
    "streaming", "streaming.ingest_dedup", "streaming.cdc_apply",
]
METRICS += [(f"self_s.{layer}", "s", "lower") for layer in LAYERS]
METRICS += [
    ("trace.accounted_share", "ratio", "higher"),
    ("trace.iter_s.p50", "s", "lower"),
    ("trace.untraced_iter_s.p50", "s", "lower"),
    ("trace.overhead", "ratio", "lower"),
]
UNITS = {n: u for n, u, _ in METRICS}


def _layer_of(name: str) -> str:
    return "bench" if name == "iteration" or name.startswith("bench") else name


def iteration_metrics(run, rec: dict) -> dict:
    spans, root, res = rec["spans"], rec["root"], rec["res"]
    st = self_times(spans)

    def total(pred, what="self") -> float:
        """Sum over the spans ``pred`` selects: self time, duration
        (``"dur"``) or another span field."""
        def value(s):
            if what == "self":
                return st[s["id"]]
            return s["end"] - s["start"] if what == "dur" else s[what]
        return sum(value(s) for s in spans if pred(s))

    m = dict.fromkeys(UNITS, 0.0)
    m["session.start_s"] = run.session_s
    reads = [s for s in spans if s["name"] == "sources.catalog" and s["kind"] == "read"]
    m["sources.catalog.read_calls"] = len(reads)
    m["sources.catalog.read_s"] = sum(s["end"] - s["start"] for s in reads)
    m["sources.catalog.read_jobs"] = sum(s["jobs"] for s in reads)
    m["sources.catalog.list_s"] = total(lambda s: s["name"] == "sources.catalog" and s["kind"] in ("list", "exists"), "dur")
    m["operators.fanout.self_s"] = total(lambda s: s["name"] == "operators.fanout")
    for fan in res.get("fanouts", []):
        m["operators.fanout.attempted"] += fan.attempted
        m["operators.fanout.succeeded"] += fan.succeeded
    for layer in ("plans.openmrs_pipelines", "plans.dqa"):
        m[f"{layer}.plan_s"] = total(lambda s: s["name"] == layer and s["kind"] == "call")
        m[f"{layer}.exec_s"] = total(lambda s: s["name"] == layer and s["kind"] == "exec")
    for layer in ("checks", "rules", "profile", "text", "cluster", "similarity"):
        kinds = ("exec",) if layer in ("checks", "rules", "profile") else ("call", "exec", "collect")
        m[f"operators.{layer}.exec_s"] = total(lambda s: s["name"] == f"operators.{layer}" and s["kind"] in kinds)
    m["operators.dedup.exact_s"] = total(lambda s: s["name"] == "operators.dedup" and s.get("fn") == "dedup_exact")
    m["operators.dedup.minhash_s"] = total(lambda s: s["name"] == "operators.dedup" and s.get("fn") != "dedup_exact")
    wl = run.wl
    if wl.name == "corpus_curation":
        m["operators.dedup.pairs_verified"] = len(res["pairs"])
        m["operators.dedup.recall"], m["operators.similarity.recall_at_k"] = wl.recalls(res)
        ep = res["epochs"]
        m["streaming.epoch_s.first"] = sum(e[0] for e in ep)
        m["streaming.epoch_s.last"] = sum(e[-1] for e in ep)
        m["streaming.epochs"] = sum(len(e) for e in ep)
        m["streaming.state_bytes"] = _latest_version_bytes(res["dirs"]["ledger"]) + _latest_version_bytes(res["dirs"]["cdc_state"])
        m["streaming.bytes_written_per_epoch"] = total(lambda s: s["name"] == "streaming", "bytes_written") / m["streaming.epochs"]
    m["sources.sinks.write_s"] = total(lambda s: s["name"] == "sources.sinks", "dur")
    m["sources.sinks.bytes_written"] = total(lambda s: s["name"] == "sources.sinks", "bytes_written")
    audits = [a for a in res.get("audits", []) if a is not None]
    m["sources.sinks.audit_ok"] = sum(a.ok for a in audits) / len(audits) if audits else 0.0
    for k in ("jobs", "stages", "tasks", "tasks_failed"):
        m[f"spark.{k}"] = root[k]
    for k, v in (root.get("rest") or {}).items():
        m[f"spark.{k}"] = v
    for s in spans:
        m[f"self_s.{_layer_of(s['name'])}"] += st[s["id"]]
    dur = root["end"] - root["start"]
    # share of the iteration inside engine-layer spans; the rest, in
    # self_s.bench, is the benchmark's own code plus untraced engine work
    m["trace.accounted_share"] = 1.0 - m["self_s.bench"] / dur
    return m


def _latest_version_bytes(root: str) -> int:
    vs = sorted((int(d[1:]) for d in os.listdir(root) if d.startswith("v")), reverse=True) if os.path.isdir(root) else []
    return gen.tree_bytes(os.path.join(root, f"v{vs[0]}")) if vs else 0


def per_layer(traced: list[dict], plain: list[dict]) -> dict:
    per = [r["metrics"] for r in traced if "metrics" in r] or [dict.fromkeys(UNITS, 0.0)]
    out = {n: (statistics.median(m[n] for m in per), UNITS[n]) for n in UNITS}
    t50 = statistics.median(r["seconds"] for r in traced)
    u50 = statistics.median(r["seconds"] for r in plain)
    out["trace.iter_s.p50"] = (t50, "s")
    out["trace.untraced_iter_s.p50"] = (u50, "s")
    out["trace.overhead"] = (t50 / u50, "ratio")
    return out


def print_breakdown(run, traced: list[dict], metrics: dict, span_file: str) -> None:
    w = run.args.workload
    print(f"[{w}] spans: {span_file}")
    print(f"[{w}] traced iter_s.p50 {metrics['trace.iter_s.p50'][0]:.4f} s vs untraced "
          f"{metrics['trace.untraced_iter_s.p50'][0]:.4f} s (overhead x{metrics['trace.overhead'][0]:.3f})")
    print(f"[{w}] sources.catalog.read_jobs {metrics['sources.catalog.read_jobs'][0]:.0f} "
          f"for read_calls {metrics['sources.catalog.read_calls'][0]:.0f}")
    print(f"[{w}] self time by layer (median over {len(traced)} traced iterations):")
    for layer in LAYERS:
        v = metrics[f"self_s.{layer}"][0]
        if v:
            print(f"[{w}]   {layer:<26} {v:>9.4f} s")
    for name, (v, u) in metrics.items():
        if not name.startswith("self_s.") and v:
            print(f"[{w}] {name:<36} {v:>14.4f} {u}")
