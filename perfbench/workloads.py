"""The benchmark workloads: one timed iteration each, plus the output
check that compares the iteration's results with the generator's truth.

An iteration receives only the generated files. It calls the engine's public
functions through a :class:`~trace.Tracer`, which is a pass-through in the
untraced run and records layer spans in the traced one.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from data_quality_checks_in_relational_database_spark.operators import rules as R
from data_quality_checks_in_relational_database_spark.operators.checks import FreshnessSpec, reconcile
from data_quality_checks_in_relational_database_spark.operators.cluster import dedup_clusters, removal_list
from data_quality_checks_in_relational_database_spark.operators.dedup import dedup_exact, minhash_lsh_pairs
from data_quality_checks_in_relational_database_spark.operators.similarity import ann_topk_ivf, cosine_topk
from data_quality_checks_in_relational_database_spark.operators.text import text_quality_report
from data_quality_checks_in_relational_database_spark.plans import dqa, openmrs_pipelines as omp
from data_quality_checks_in_relational_database_spark.sources.catalog import FleetCatalog, ParquetDirCatalog
from data_quality_checks_in_relational_database_spark.sources.sinks import write_report
from data_quality_checks_in_relational_database_spark.streaming import cdc as s_cdc
from data_quality_checks_in_relational_database_spark.streaming import dedup as s_dedup
from data_quality_checks_in_relational_database_spark.streaming import quality as s_quality

import gen

#: a found near-duplicate pair set must hold at least this share of the
#: planted pairs (MinHash banding at r=4, b=8 finds a Jaccard-0.8 pair
#: with probability 0.99)
MIN_DEDUP_RECALL = 0.95
#: IVF top-k must hold at least this share of the exact top-k
MIN_ANN_RECALL = 0.8


def _read(path: str) -> list[dict]:
    return pq.read_table(path).to_pylist()


def _today_ok(d) -> bool:
    today = dt.datetime.now(dt.timezone.utc).date()
    return d in (today, today - dt.timedelta(days=1))


class Workload:
    name = ""
    patches: list = []

    def __init__(self, spark, data_dir: str, tracer):
        self.spark = spark
        self.data = data_dir
        self.truth = gen.load_truth(data_dir)
        self.tr = tracer

    @property
    def input_rows(self) -> int:
        return self.truth["input_rows"]

    @property
    def input_bytes(self) -> int:
        return self.truth["input_bytes"]

    def p(self, *parts) -> str:
        return os.path.join(self.data, *parts)

    def run(self, out: str) -> dict:
        with self.tr.patched(self.patches):
            return self.iterate(out)


# ---------------------------------------------------------------------------


class TracedCatalog(FleetCatalog):
    """Records a ``sources.catalog`` span around every catalog call."""

    def __init__(self, inner: FleetCatalog, tracer):
        self.inner, self.tr = inner, tracer

    def list_sources(self, prefix: str = "") -> list[str]:
        with self.tr.span("sources.catalog", "list"):
            return self.inner.list_sources(prefix)

    def table_exists(self, source: str, table: str) -> bool:
        with self.tr.span("sources.catalog", "exists"):
            return self.inner.table_exists(source, table)

    def read(self, source: str, table: str):
        with self.tr.span("sources.catalog", "read"):
            return self.inner.read(source, table)


class FleetAudit(Workload):
    """loading_status_check -> schema_consistency_report, and
    etl_reconciliation_check, both reports written with an expected count."""

    name = "fleet_audit"
    patches = [
        (omp, "run_fanout", "operators.fanout", False),
        # the per-source checks get no exec span: one per source would
        # double the traced iteration, and the plan-level exec covers them
        (omp, "freshness_audit", "operators.checks", False),
        (omp, "volume_audit", "operators.checks", False),
        (omp, "consistency_score", "operators.checks", True),
        (omp, "reconcile", "operators.checks", True),
    ]

    def iterate(self, out):
        tr, t = self.tr, self.truth
        catalog = ParquetDirCatalog(self.spark, {k: self.p(v) for k, v in t["sources"].items()})
        if tr.enabled:
            catalog = TracedCatalog(catalog, tr)
        with tr.span("bench.read_warehouse"):
            warehouse = {k: self.spark.read.parquet(self.p(v)) for k, v in t["warehouse"].items()}
        fan = tr.call("plans.openmrs_pipelines", omp.loading_status_check, catalog)
        schema = tr.call("plans.openmrs_pipelines", omp.schema_consistency_report, fan.report)
        report, efan = tr.call("plans.openmrs_pipelines", omp.etl_reconciliation_check, catalog, warehouse)
        audits = [
            tr.call("sources.sinks", write_report, schema, os.path.join(out, "schema_consistency"),
                    expected_count=len(t["schema_report"]), exec_result=False),
            tr.call("sources.sinks", write_report, report, os.path.join(out, "etl_reconciliation"),
                    expected_count=len(t["etl_report"]), exec_result=False),
        ]
        return {"out": out, "audits": audits, "fanouts": [fan, efan]}

    def check(self, res) -> list[str]:
        t, errs = self.truth, []
        for a in res["audits"]:
            if not a.ok:
                errs.append(f"write audit {a.target}: {a.rows_written} != {a.expected_rows}")
        for fan, key in zip(res["fanouts"], ("loading", "etl")):
            got = {"attempted": fan.attempted, "succeeded": fan.succeeded, "skipped": [list(s) for s in fan.skipped]}
            if got != t[key]:
                errs.append(f"{key} fanout {got} != {t[key]}")
        rows = _read(os.path.join(res["out"], "schema_consistency"))
        got = {}
        for r in rows:
            if not _today_ok(r.pop("date_created")):
                errs.append("schema report date_created is not today")
            got[r["facility_id"]] = {k: (v.isoformat() if isinstance(v, dt.date) else v) for k, v in r.items()}
        want = {r["facility_id"]: r for r in t["schema_report"]}
        if got != want:
            bad = sorted(k for k in set(got) | set(want) if got.get(k) != want.get(k))
            errs.append(f"schema report differs for facilities {bad[:5]}")
        rows = _read(os.path.join(res["out"], "etl_reconciliation"))
        got = {}
        for r in rows:
            if not _today_ok(r.pop("date_created")):
                errs.append("etl report date_created is not today")
            got[(r["site_id"], r["table_name"])] = r
        want = {(r["site_id"], r["table_name"]): r for r in t["etl_report"]}
        if got != want:
            bad = sorted(k for k in set(got) | set(want) if got.get(k) != want.get(k))
            errs.append(f"etl report differs for {len(bad)} keys, e.g. {bad[:3]}")
        return errs


# ---------------------------------------------------------------------------


class TableAudit(Workload):
    """run_dqa (volume, freshness, six rule kinds, every column profiled)
    with an audited sink, plus one control-total reconcile."""

    name = "table_audit"
    patches = [
        (dqa, "volume_audit", "operators.checks", True),
        (dqa, "freshness_audit", "operators.checks", True),
        (dqa, "evaluate_rules", "operators.rules", True),
        (dqa, "profile_table", "operators.profile", True),
        (dqa, "write_report", "sources.sinks", False),
    ]
    RULES = [
        R.not_null("orders", "o_custkey"),
        R.unique_key("orders", "o_orderkey"),
        R.accepted_values("orders", "o_orderstatus", ["F", "O", "P"]),
        R.matches_regex("orders", "o_orderpriority", gen.PRIORITY_RE),
        R.in_range("lineitem", "l_quantity", 1.0, 50.0),
        R.in_range("lineitem", "l_discount", 0.0, 0.1),
        R.referential_integrity("lineitem", "l_orderkey", "orders", "o_orderkey"),
        R.not_null("events", "user_id"),
        R.unique_key("events", "event_id"),
        R.accepted_values("events", "event_type", gen.EVENT_TYPES),
    ]
    TS = {"orders": "o_orderdate", "lineitem": "l_shipdate", "events": "ts"}

    def iterate(self, out):
        tr, s = self.tr, self.spark
        tables = {n: s.read.parquet(self.p(n)) for n in ("orders", "lineitem", "events")}
        fresh = [FreshnessSpec(n, df, self.TS[n]) for n, df in tables.items()]
        res = tr.call("plans.dqa", dqa.run_dqa, tables, rules=self.RULES, freshness=fresh,
                      profile=list(tables), sink_path=os.path.join(out, "dqa"))
        src = tables["orders"].groupBy(F.to_date("o_orderdate").alias("day")).agg(F.count(F.lit(1)).alias("record_count"))
        ctrl = s.read.parquet(self.p("daily_control.parquet"))
        rec = tr.call("operators.checks", reconcile, src, ctrl, keys=["day"])
        audit = tr.call("sources.sinks", write_report, rec, os.path.join(out, "reconcile"),
                        expected_count=len(self.truth["reconcile"]), exec_result=False)
        return {"out": out, "audits": [res.audit, audit]}

    def check(self, res) -> list[str]:
        t, errs = self.truth, []
        for a in res["audits"]:
            if not a.ok or a.rows_written <= 0:
                errs.append(f"write audit {a.target}: {a.rows_written} != {a.expected_rows}")
        got = {(r["section"], r["table_name"], r["item"]): r for r in _read(os.path.join(res["out"], "dqa"))}
        want_keys = (
            {("volume", n, "record_count") for n in t["volume"]}
            | {("freshness", n, self.TS[n]) for n in t["freshness"]}
            | {("rule", r.table, r.name) for r in self.RULES}
            | {("profile", *k.split(".", 1)) for k in t["profile"]}
        )
        if set(got) != want_keys:
            errs.append(f"dqa report keys differ: {sorted(set(got) ^ want_keys)[:4]}")
            return errs
        for n, c in t["volume"].items():
            if got[("volume", n, "record_count")]["value_str"] != str(c):
                errs.append(f"volume {n}")
        for n, d in t["freshness"].items():
            if got[("freshness", n, self.TS[n])]["value_str"] != d:
                errs.append(f"freshness {n}")
        for r in self.RULES:
            row, v = got[("rule", r.table, r.name)], t["violations"][r.name]
            if row["value_str"] != str(v) or row["passed"] != (v == 0):
                errs.append(f"rule {r.name}: {row['value_str']} != {v}")
        for k, p in t["profile"].items():
            nn, nd, mn, mx = got[("profile", *k.split(".", 1))]["value_str"].split("|")
            if (int(nn), int(nd)) != (p["n_nulls"], p["n_distinct"]) or not (
                _same(mn, p["min"]) and _same(mx, p["max"])
            ):
                errs.append(f"profile {k}: {nn}|{nd}|{mn}|{mx} != {p}")
        rec = {r["day"].isoformat(): [r["record_count_source"], r["record_count_ohdl"], r["variance"]]
               for r in _read(os.path.join(res["out"], "reconcile"))}
        if rec != t["reconcile"]:
            errs.append("reconcile report differs")
        return errs


def _same(got: str, want) -> bool:
    if isinstance(want, float):
        return abs(float(got) - want) <= 1e-9 * max(1.0, abs(want))
    return got == str(want)


# ---------------------------------------------------------------------------


def _components(pairs) -> dict[int, int]:
    """Union-find over pairs: node -> smallest id in its component."""
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def _pair_recall(found: set, want: set) -> tuple[float, set]:
    return (len(found & want) / len(want) if want else 1.0), found - want


DOCS_SCHEMA = "doc_id long, text string, lang string, source string"
OPS_SCHEMA = "k long, ts long, seq long, op string, v double, note string"
MONITOR_RULES = [
    R.not_null("ops", "note"),
    R.accepted_values("ops", "op", ["upsert", "delete"]),
    R.in_range("ops", "v", 0.0, 1000.0),
]


class CorpusCuration(Workload):
    """Batch curation of a corpus snapshot: quality report, exact dedup,
    MinHash-LSH near-dup pairs -> clusters -> removal list, exact and IVF
    top-k for a query batch, and a data-scale audited write of the
    deduplicated corpus. Then the incremental side: a fresh availableNow
    pass of the ingest-dedup ledger over the same corpus as micro-batch
    files, the CDC state apply and the rule monitor over an op stream."""

    name = "corpus_curation"
    patches = [
        (s_dedup, "apply_ingest_batch", "streaming.ingest_dedup", False),
        (s_cdc, "apply_cdc_batch", "streaming.cdc_apply", False),
        (s_quality, "evaluate_rules", "operators.rules", False),
    ]

    def __init__(self, spark, data_dir, tracer):
        super().__init__(spark, data_dir, tracer)
        with open(self.p("cosines.json")) as fh:
            c = json.load(fh)
        self.cos = {q: dict(zip(c["vec_ids"], v)) for q, v in c["cos"].items()}

    def iterate(self, out):
        tr, s, k = self.tr, self.spark, self.truth["k"]
        docs = s.read.parquet(self.p("documents.parquet"))
        report = tr.call("operators.text", text_quality_report, docs)
        with tr.span("operators.text", "collect"):
            quality = report.collect()
        kept = tr.call("operators.dedup", dedup_exact, docs)
        pairs = tr.call("operators.dedup", minhash_lsh_pairs, kept, threshold=0.5).persist()
        try:
            with tr.span("operators.dedup", "collect", fn="minhash_lsh_pairs"):
                pair_rows = pairs.collect()
            clusters = tr.call("operators.cluster", dedup_clusters, pairs)
            removal = tr.call("operators.cluster", removal_list, clusters)
            with tr.span("operators.cluster", "collect"):
                removed = [r["doc_id"] for r in removal.collect()]
        finally:
            pairs.unpersist()
        emb = s.read.parquet(self.p("embeddings.parquet"))
        queries = s.read.parquet(self.p("queries.parquet"))
        top = tr.call("operators.similarity", cosine_topk, emb, queries, k=k)
        with tr.span("operators.similarity", "collect", fn="cosine_topk"):
            exact = top.collect()
        top = tr.call("operators.similarity", ann_topk_ivf, emb, queries, k=k)
        with tr.span("operators.similarity", "collect", fn="ann_topk_ivf"):
            ann = top.collect()
        keep = kept.join(s.createDataFrame([(int(x),) for x in removed] or [(-1,)], "doc_id long"), "doc_id", "left_anti")
        expected = len(self.truth["kept_exact"]) - len(set(removed))
        audit = tr.call("sources.sinks", write_report, keep, os.path.join(out, "corpus"),
                        expected_count=expected, exec_result=False)
        res = {"out": out, "quality": quality, "pairs": pair_rows, "removed": removed,
               "exact": exact, "ann": ann, "audits": [audit]}
        res.update(self.stream(os.path.join(out, "stream")))
        return res

    def _query(self, start, stream, *args, **kwargs):
        with self.tr.span("streaming", "query", fn=start.__name__):
            q = start(stream, *args, **kwargs)
            q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"{start.__name__}: {q.exception()}")
        return [p["durationMs"]["triggerExecution"] / 1000.0 for p in q.recentProgress if p["numInputRows"] > 0]

    def stream(self, out) -> dict:
        def source(schema, path):
            return self.spark.readStream.option("maxFilesPerTrigger", 1).schema(schema).parquet(path)

        d = {n: os.path.join(out, n) for n in ("ledger", "cdc_state", "monitor", "ckpt_dedup", "ckpt_cdc", "ckpt_monitor")}
        epochs = [
            self._query(s_dedup.streaming_ingest_dedup, source(DOCS_SCHEMA, self.p("docs_stream")), d["ledger"], d["ckpt_dedup"]),
            self._query(s_cdc.streaming_cdc_apply, source(OPS_SCHEMA, self.p("ops")), d["cdc_state"], d["ckpt_cdc"],
                        key_col="k", ts_col="ts", seq_col="seq", op_col="op"),
            self._query(s_quality.streaming_rule_monitor, source(OPS_SCHEMA, self.p("ops")), "ops", MONITOR_RULES,
                        d["monitor"], d["ckpt_monitor"]),
        ]
        return {"dirs": d, "epochs": epochs}

    def stream_pairs(self, res) -> set:
        rows = s_dedup.read_pairs(self.spark, res["dirs"]["ledger"]).collect()
        return {(min(r["new_id"], r["corpus_id"]), max(r["new_id"], r["corpus_id"])) for r in rows}

    def recalls(self, res) -> tuple[float, float]:
        found = {(min(r["doc_id_a"], r["doc_id_b"]), max(r["doc_id_a"], r["doc_id_b"])) for r in res["pairs"]}
        dedup_recall, _ = _pair_recall(found, {tuple(p) for p in self.truth["near_pairs"]})
        topk = self.truth["topk"]
        hits = sum(1 for r in res["ann"] if r["neighbor_id"] in set(topk[str(r["query_id"])]["ids"]))
        return dedup_recall, hits / (len(topk) * self.truth["k"])

    def check(self, res) -> list[str]:
        t, errs = self.truth, []
        got = {r["lang"]: {c: r[c] for c in ("n_docs", "total_chars", "total_tokens")} for r in res["quality"]}
        want = {lang: {c: v[c] for c in ("n_docs", "total_chars", "total_tokens")} for lang, v in t["text_report"].items()}
        if got != want:
            errs.append("text quality report differs")
        for r in res["quality"]:
            w = t["text_report"][r["lang"]]
            if abs(r["punct_ratio"] - w["total_punct"] / w["total_chars"]) > 1e-12 or abs(
                r["stopword_ratio"] - w["total_stopwords"] / w["total_tokens"]
            ) > 1e-12:
                errs.append(f"text ratios differ for {r['lang']}")
        found = {(min(r["doc_id_a"], r["doc_id_b"]), max(r["doc_id_a"], r["doc_id_b"])) for r in res["pairs"]}
        recall, extra = _pair_recall(found, {tuple(p) for p in t["near_pairs"]})
        if extra or recall < MIN_DEDUP_RECALL:
            errs.append(f"near-dup pairs: recall {recall:.3f}, {len(extra)} unplanted")
        comp = _components(found)
        want_removed = sorted(n for n, c in comp.items() if n != c)
        if sorted(res["removed"]) != want_removed:
            errs.append("removal list differs from the clusters of the found pairs")
        k = t["k"]
        by_q: dict[str, list] = {}
        for r in res["exact"]:
            by_q.setdefault(str(r["query_id"]), []).append(r)
        for q, tk in t["topk"].items():
            rows = by_q.get(q, [])
            kth = tk["cos"][-1]
            if len(rows) != k or any(self.cos[q][r["neighbor_id"]] < kth - 1e-6 for r in rows):
                errs.append(f"exact top-{k} wrong for query {q}")
            if any(abs(r["cosine"] - self.cos[q][r["neighbor_id"]]) > 2e-6 for r in rows):
                errs.append(f"top-{k} cosines wrong for query {q}")
        _, ann_recall = self.recalls(res)
        if ann_recall < MIN_ANN_RECALL:
            errs.append(f"ann recall@{k} {ann_recall:.3f} < {MIN_ANN_RECALL}")
        for a in res["audits"]:
            if not a.ok:
                errs.append(f"write audit {a.target}: {a.rows_written} != {a.expected_rows}")
        ids = {r["doc_id"] for r in _read(os.path.join(res["out"], "corpus"))}
        if ids != set(t["kept_exact"]) - set(want_removed):
            errs.append("written corpus ids differ")
        return errs + self.check_stream(res)

    def check_stream(self, res) -> list[str]:
        t, errs, d = self.truth, [], res["dirs"]
        if any(len(e) != t["batches"] for e in res["epochs"]):
            errs.append(f"epochs {[len(e) for e in res['epochs']]} != {t['batches']}")
        recall, extra = _pair_recall(self.stream_pairs(res), {tuple(p) for p in t["stream_dup_pairs"]})
        if extra or recall < MIN_DEDUP_RECALL:
            errs.append(f"stream dup pairs: recall {recall:.3f}, {len(extra)} unplanted")
        live = {str(r["k"]): [r["ts"], r["seq"], r["v"]] for r in s_cdc.read_state(self.spark, d["cdc_state"], "op").collect()}
        if live != t["cdc_state"]:
            errs.append("cdc state differs")
        got = {}
        for r in _read(d["monitor"]):
            b = got.setdefault(r["batch_id"], {"n_rows": r["n_rows"]})
            b[r["rule_name"]] = r["n_violations"]
        if [got.get(i) for i in range(t["batches"])] != t["monitor"]:
            errs.append("rule monitor reports differ")
        return errs


WORKLOADS = {w.name: w for w in (FleetAudit, TableAudit, CorpusCuration)}
