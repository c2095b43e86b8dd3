"""Tests of the benchmark itself: run with ``python3 -m pytest perfbench``
from the root of a checkout. The Spark-backed tests start one local
session; the smoke tests run each workload end to end in a subprocess."""

from __future__ import annotations

import json
import os
import random
import shutil
import subprocess
import sys
from datetime import datetime

import pandas as pd
import pytest

from perfbench import analytics, gen, run
from perfbench.spans import Span, Tracer, self_time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CLOCK = datetime(2026, 1, 2, 3, 4, 5)


# --- generator -------------------------------------------------------------

def _backfill_bytes(seed):
    data = gen.backfill(seed, 250)
    pages = [data.page_xml(i, CLOCK) for i in range(len(data.pages))]
    docs = {k: m.document() for k, m in sorted(data.mets.items())}
    return pages, docs, data.expected


def test_same_seed_gives_identical_pages_and_documents():
    assert _backfill_bytes(7) == _backfill_bytes(7)
    assert _backfill_bytes(7)[0] != _backfill_bytes(8)[0]


def test_cdc_pages_repeat_for_a_seed():
    def pages(seed):
        g = gen.CdcGenerator(seed, 1000)
        out = []
        for _ in range(3):
            changes = g.next_page(CLOCK, 0.0)
            out.append((gen.render_page([c.header for c in changes], CLOCK,
                                        None),
                        [c.mets.document() for c in changes]))
            g.commit(changes)
        return out, g.report_counts
    assert pages(3) == pages(3)


def test_backfill_pages_chain_tokens_and_cover_every_input_kind():
    data = gen.backfill(1, 400)
    assert data.tokens[-1] == "" and all(data.tokens[:-1])
    first = data.page_xml(0, CLOCK)
    assert "expirationDate=" in first and "<responseDate>2026-01-02T03:04:05Z" in first
    headers = [h for p in data.pages for h in p]
    assert any(h.local_id in gen.SYSTEM_IDS for h in headers)
    assert any(h.deleted for h in headers)
    ids = [h.local_id for h in headers if h.local_id not in gen.SYSTEM_IDS]
    assert len(ids) > len(set(ids)) == data.kept_records == 400
    assert {m.reject for m in data.mets.values()} >= set(gen.REJECT_KINDS)
    assert len(data.expected.documents) + len(data.expected.quarantine) == 400


def test_cdc_counts_follow_updates():
    g = gen.CdcGenerator(5, 500)
    assert sum(g.report_counts.values()) == 500
    changes = g.next_page(CLOCK, 0.0)
    g.commit(changes)
    valid_new = sum(1 for c in changes if c.mets.reject is None
                    and int(c.header.local_id.split(":")[1]) >= 500)
    assert sum(g.report_counts.values()) == 500 + valid_new
    for k in range(0, 500, 97):
        m, d, off = gen.seed_row(k, 5)
        assert g.current(f"{gen.HOST_PREFIX}qucosa:{k}")[1:3] in (
            (m, d), g.expected.documents.get(
                f"{gen.HOST_PREFIX}qucosa:{k}", (None,) * 3)[1:3])


# --- spans ---------------------------------------------------------------

def test_self_time_subtracts_the_union_of_child_intervals():
    spans = {
        0: Span(0, "merge_keyed", 0.0, 10.0, children=[1, 2, 3]),
        1: Span(1, "read", 1.0, 2.0, parent=0),
        2: Span(2, "overwrite", 3.0, 8.0, parent=0, children=[4]),
        3: Span(3, "overlap", 7.0, 9.0, parent=0),
        4: Span(4, "inner", 4.0, 5.0, parent=2),
    }
    assert self_time(spans[0], spans) == pytest.approx(10 - 1 - 6)
    assert self_time(spans[2], spans) == pytest.approx(4.0)
    assert self_time(spans[4], spans) == pytest.approx(1.0)


def test_tracer_nests_wrapped_calls_and_can_pause():
    ticks = iter(range(100))
    tracer = Tracer(clock=lambda: float(next(ticks)))

    class Store:
        def read(self):
            return 1

        def merge(self):
            return self.read() + 1

    store = Store()
    tracer.wrap(store, "read", "tables.read")
    tracer.wrap(store, "merge", "tables.merge_keyed",
                annotate=lambda r: {"result": r})
    tracer.op = "op-1"
    assert store.merge() == 2
    tracer.enabled = False
    store.merge()
    assert len(tracer.spans) == 2
    merge, read = tracer.spans[0], tracer.spans[1]
    assert (merge.name, read.name) == ("tables.merge_keyed", "tables.read")
    assert read.parent == merge.id and merge.children == [read.id]
    assert merge.attrs == {"result": 2} and read.op == "op-1"
    assert self_time(merge, tracer.spans) == merge.duration - read.duration


# --- CPU accounting --------------------------------------------------------

def test_cpu_seconds_counts_live_and_exited_children():
    from perfbench.core import cpu_seconds
    burn = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.5: pass\n"
    before = cpu_seconds()
    subprocess.run([sys.executable, "-c", burn], check=True)
    exited = cpu_seconds()
    child = subprocess.Popen([sys.executable, "-c",
                              burn + "print(flush=True)\ntime.sleep(30)"],
                             stdout=subprocess.PIPE, text=True)
    try:
        child.stdout.readline()
        live = cpu_seconds()
    finally:
        child.kill()
        child.wait()
    assert exited - before >= 0.45
    assert live - exited >= 0.45


# --- fingerprints ----------------------------------------------------------

def test_fingerprint_ignores_row_order_but_not_values():
    pdf = pd.DataFrame({"a": [1, 2, 3], "b": ["x", None, "z"],
                        "c": [0.5, 1.25, float("nan")]})
    rows = list(range(3))
    random.Random(1).shuffle(rows)
    shuffled = pdf.iloc[rows][["c", "a", "b"]].reset_index(drop=True)
    assert analytics.fingerprint(pdf) == analytics.fingerprint(shuffled)
    changed = pdf.copy()
    changed.loc[1, "c"] = 1.26
    assert analytics.fingerprint(pdf) != analytics.fingerprint(changed)
    as_float = pdf.assign(a=pdf["a"].astype(float))
    assert analytics.fingerprint(pdf) != analytics.fingerprint(as_float)


def test_every_mix_query_has_a_recorded_fingerprint():
    assert set(analytics.load_fingerprints()) == {n for _, n in analytics.MIX}


# --- BENCHMARK.json --------------------------------------------------------

def test_benchmark_json_matches_the_reported_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [(m["name"], m["unit"], m["better"]) for m in spec["end_to_end"]] \
        == run.END_TO_END
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] \
        == run.per_layer_spec()
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)


# --- end to end ----------------------------------------------------------

def _run(cwd, *args, timeout=600):
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=timeout)


def test_refuses_to_run_outside_a_checkout(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    out = _run(str(tmp_path), "--workload", "analytics_mix", "--seed", "1",
               "--seconds", "1", timeout=60)
    assert out.returncode != 0
    assert '"correct"' not in out.stdout


@pytest.mark.parametrize("workload", run.WORKLOADS)
@pytest.mark.parametrize("trace", ["0", "1"])
def test_smoke_run(workload, trace):
    out = _run(ROOT, "--workload", workload, "--seed", "3", "--seconds", "1",
               "--trace", trace, "--smoke")
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, out.stderr[-3000:]
    names = ([n for n, _, _ in run.END_TO_END] if trace == "0"
             else [n for n, _, _ in run.per_layer_spec()])
    assert list(result["metrics"]) == names
    if trace == "0":
        assert all(m["value"] > 0 for m in result["metrics"].values())
    elif workload != "analytics_mix":
        metrics = {k: v["value"] for k, v in result["metrics"].items()}
        assert metrics["mets.fetch.calls_per_record"] == 1.0
        assert metrics["spark.harvest_once.jobs"] > 0
        assert metrics["trace.overhead_ratio"] > 0
    else:
        metrics = {k: v["value"] for k, v in result["metrics"].items()}
        assert metrics["shape.minhash_lsh.candidate_pairs"] > 0
        assert metrics["shape.jaccard_pairs"] > 0


def test_traced_runs_alternate_which_side_goes_first():
    from perfbench.core import OpResult, Workload

    class Instant(Workload):
        def setup(self):
            pass

        def run_op(self):
            return OpResult(seconds=0.0, items=1, latencies=[], problems=[])

    class Flags:
        enabled, op = False, ""

    def traced_flags(seed):
        _, _, warm = run.measure(Instant(None, seed, ""), Flags(), 0.0, [])
        return [r.traced for r in warm]

    assert traced_flags(2) == [True, False]
    assert traced_flags(3) == [False, True]


# --- injected wrong results ------------------------------------------------

@pytest.fixture(scope="module")
def spark():
    from qucosa_fcrepo_reportingdb_spark.session import get_spark
    session = get_spark("perfbench-test", cpus=2)
    session.sparkContext.setLogLevel("ERROR")
    yield session


def test_backfill_catches_a_mutated_expected_document(spark, tmp_path):
    from perfbench.pipeline_wl import Backfill
    wl = Backfill(spark, 11, str(tmp_path), records=20)
    wl.setup()
    rid, row = next(iter(wl.data.expected.documents.items()))
    wl.data.expected.documents[rid] = (*row[:1], "wrong", *row[2:])
    result = wl.run_op()
    assert any("reporting_documents" in p for p in result.problems)
    wl.setup()
    assert wl.run_op().problems == []


def test_cdc_catches_a_mutated_served_document(spark, tmp_path):
    from perfbench.pipeline_wl import CdcIncremental
    wl = CdcIncremental(spark, 12, str(tmp_path), base_rows=300)
    wl.setup()
    assert wl.run_op().problems == []
    publish = wl.oai.publish

    def publish_with_one_wrong_document(changes):
        c = next(c for c in changes if c.mets.reject is None)
        wl.mets.docs[c.header.local_id] = c.mets.document().replace(
            f"<mets:name>{c.mets.mandator}</mets:name>",
            "<mets:name>zzz</mets:name>")
        publish(changes)

    wl.oai.publish = publish_with_one_wrong_document
    problems = wl.run_op().problems
    assert any("reporting_documents" in p for p in problems)
    assert any("report" in p for p in problems)


def test_analytics_catches_a_changed_fingerprint(spark, tmp_path):
    from perfbench.analytics import MIX, AnalyticsMix
    expected = dict(analytics.load_fingerprints())
    name = MIX[0][1]
    expected[name] = "0" * 64
    wl = AnalyticsMix(spark, 1, str(tmp_path), mix=MIX[:2], expected=expected)
    wl.setup()
    problems = wl.run_op().problems
    assert len(problems) == 1 and problems[0].startswith(name)


def test_tail_is_the_highest_percentile_with_ten_samples_beyond():
    from perfbench.stats import tail
    values = [float(v) for v in range(1, 101)]
    assert tail(values) == (90.0, 90.0, 100)
    assert tail(values[:12]) == (12.0, 100.0, 12)
    assert tail([]) == (0.0, 0.0, 0)
