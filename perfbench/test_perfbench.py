"""Self-tests of the benchmark: ``python3 -m pytest perfbench -q``.

They cover the benchmark's own machinery, not the engine: seeded
generators, the output check, the Spark job and write counters and span
self times.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import shutil
import sys
import types

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import gen  # noqa: E402
import spans  # noqa: E402


def _digest(root: str) -> dict[str, str]:
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


@pytest.mark.parametrize("workload", sorted(gen.SIZES))
def test_generators_identical_for_same_seed(tmp_path, workload):
    a = gen.ensure(str(tmp_path / "a"), workload, 7)
    b = gen.ensure(str(tmp_path / "b"), workload, 7)
    c = gen.ensure(str(tmp_path / "c"), workload, 8)
    assert _digest(a) == _digest(b)
    assert _digest(a) != _digest(c)
    assert gen.ensure(str(tmp_path / "a"), workload, 7) == a  # cached, not regenerated
    assert a.endswith(gen.SOURCE_HASH)  # a changed generator gets a new cache entry


def _fleet_outputs(truth: dict, out: str) -> dict:
    """What a correct fleet_audit iteration leaves behind, built from the
    truth itself."""
    today = dt.datetime.now(dt.timezone.utc).date()
    rows = [{**r, **{k: dt.date.fromisoformat(r[k]) for k in r if k.endswith("_max_date")}, "date_created": today}
            for r in truth["schema_report"]]
    pq.write_table(pa.Table.from_pylist(rows), os.path.join(out, "schema_consistency", "part-0.parquet"))
    rows = [{**r, "date_created": today} for r in truth["etl_report"]]
    schema = pa.schema([("site_id", pa.int64()), ("table_name", pa.string()), ("site_name", pa.string()),
                        ("record_count_source", pa.int64()), ("record_count_ohdl", pa.int64()),
                        ("variance", pa.int64()), ("date_created", pa.date32())])
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), os.path.join(out, "etl_reconciliation", "part-0.parquet"))
    fans = [types.SimpleNamespace(attempted=t["attempted"], succeeded=t["succeeded"], skipped=[tuple(s) for s in t["skipped"]])
            for t in (truth["loading"], truth["etl"])]
    audit = types.SimpleNamespace(ok=True, target="", rows_written=1, expected_rows=1)
    return {"out": out, "audits": [audit, audit], "fanouts": fans}


def test_output_check_rejects_one_corrupted_value(tmp_path):
    workloads = pytest.importorskip("workloads")
    data = gen.ensure(str(tmp_path / "data"), "fleet_audit", 3)
    wl = workloads.FleetAudit(None, data, spans.Tracer("t", enabled=False))
    for d in ("schema_consistency", "etl_reconciliation"):
        os.makedirs(tmp_path / "out" / d)
    res = _fleet_outputs(wl.truth, str(tmp_path / "out"))
    assert wl.check(res) == []

    path = tmp_path / "out" / "etl_reconciliation" / "part-0.parquet"
    rows = pq.read_table(path).to_pylist()
    victim = next(r for r in rows if r["variance"] is not None)
    victim["variance"] += 1
    pq.write_table(pa.Table.from_pylist(rows, schema=pq.read_schema(path)), path)
    errs = wl.check(res)
    assert len(errs) == 1 and "etl report differs" in errs[0]


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    pyspark = pytest.importorskip("pyspark")
    s = (pyspark.sql.SparkSession.builder.master("local[1]").appName("perfbench-selftest")
         .config("spark.ui.enabled", "false").config("spark.ui.retainedJobs", "5")
         .config("spark.sql.warehouse.dir", str(tmp_path_factory.mktemp("wh"))).getOrCreate())
    yield s
    s.stop()


def test_job_counter_matches_known_actions(spark):
    jc = spans.JobCounter(spark)
    # more actions than the tracker retains: counting by the highest
    # job id must not stop at the list's cap
    for _ in range(3):
        spark.range(4).collect()
    j0 = jc.high_job_id()
    for _ in range(12):
        spark.range(8).collect()  # no exchange: exactly one job each
    j1 = jc.high_job_id()
    assert j1 - j0 == 12
    assert len(jc.tracker.getJobIdsForGroup()) <= 5
    c = jc.counts(j0, j1, {})
    assert c["jobs"] == 12 and c["tasks_failed"] == 0


def test_write_counter_counts_deleted_files(spark, tmp_path):
    wc = spans.WriteCounter(spark)
    b0 = wc.written()
    first, second = str(tmp_path / "first"), str(tmp_path / "second")
    spark.range(1000).write.parquet(first)
    on_disk = gen.tree_bytes(first)
    shutil.rmtree(first)  # written then deleted, like a temp table
    spark.range(500).write.parquet(second)
    assert on_disk > 0
    assert wc.written() - b0 == on_disk + gen.tree_bytes(second)
    # a streaming query's checkpoint goes through FileContext, not FileSystem
    b1 = wc.written()
    ckpt, sink = str(tmp_path / "ckpt"), str(tmp_path / "sink")
    q = (spark.readStream.schema("id long").parquet(second).writeStream.format("parquet")
         .option("checkpointLocation", ckpt).trigger(availableNow=True).start(sink))
    q.awaitTermination()
    assert wc.written() - b1 == gen.tree_bytes(ckpt) + gen.tree_bytes(sink)


def _span(i, start, end, parent=None):
    return {"id": i, "start": start, "end": end, "parent": parent}


def test_self_time_is_duration_minus_child_coverage():
    root = _span(1, 0.0, 10.0)
    kids = [
        _span(2, 1.0, 3.0, 1),
        _span(3, 2.0, 4.0, 1),   # overlaps the first child: covered once
        _span(4, 6.0, 7.0, 1),
        _span(5, 9.5, 12.0, 1),  # runs past the parent: clipped at 10
    ]
    grandchild = _span(6, 1.5, 2.5, 2)
    st = spans.self_times([root, *kids, grandchild])
    assert st[1] == pytest.approx(10.0 - (3.0 + 1.0 + 0.5))
    assert st[2] == pytest.approx(2.0 - 1.0)
    assert st[6] == pytest.approx(1.0)
    # self times of a fully nested tree add up to the root's duration
    nested = [root, _span(2, 1.0, 3.0, 1), _span(3, 4.0, 8.0, 1), _span(4, 5.0, 6.0, 3)]
    assert sum(spans.self_times(nested).values()) == pytest.approx(10.0)
