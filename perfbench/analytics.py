"""The ``analytics_mix`` workload: a fixed list of registry queries over a
generated dataset. Each result is collected to the driver with
``toPandas()``, which materializes every output column, and that same
result is checked against a recorded order-insensitive fingerprint.

The dataset is generated from a fixed seed (``DATA_SEED``), so its
fingerprints could be recorded once (``record_fingerprints.py``, which
cross-checks every query against its DuckDB oracle). The run's ``--seed``
sets the order of the queries in each pass.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import math
import os
import random
import time
from decimal import Decimal

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench.core import OpResult, Workload, cpu_seconds
from perfbench.stats import mean, median, median_and_tail
from qucosa_fcrepo_reportingdb_spark.functions import text
from qucosa_fcrepo_reportingdb_spark.operators import (
    corpus,
    dedup,
    multimodal,
    similarity,
    skew,
)
from qucosa_fcrepo_reportingdb_spark.plans import advanced, events, reporting, tpch
from qucosa_fcrepo_reportingdb_spark.session import load_tables

DATA_SEED = 20261017
FINGERPRINTS = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "fingerprints.json")

# (module, query): one query per query module, and for the dedup family
# the banded batch and incremental forms over the minhash, phash and audio
# signatures.
MIX = [
    ("plans.tpch", "q1_pricing_summary"),
    ("plans.events", "sessionize_events"),
    ("plans.reporting", "monthly_distribution"),
    ("plans.advanced", "value_percentiles_by_type"),
    ("operators.dedup", "dedup_minhash_lsh"),
    ("operators.dedup", "dedup_image_phash_incremental"),
    ("operators.dedup", "dedup_audio_fingerprint"),
    ("operators.similarity", "ann_lsh_topk"),
    ("functions.text", "text_quality_score"),
    ("operators.multimodal", "multimodal_decode_stats"),
    ("operators.corpus", "dedup_keep_canonical"),
    ("operators.skew", "skew_salted_brand_revenue"),
]
_MODULES = [tpch, events, reporting, advanced, dedup, similarity, text,
            multimodal, corpus, skew]

# Banded dedup families whose band-join fan-out the traced run reports
# (``band_skew_audit`` rows), next to the jaccard pair and hot-shingle
# counts: the data shapes that decide which path the dedup, similarity and
# corpus operators take on the generated dataset.
SHAPE_FAMILIES = ("minhash_lsh", "image_phash", "audio_afp")


def registry() -> dict:
    out = {}
    for m in _MODULES:
        out.update(m.QUERIES)
    return out


def oracles() -> dict:
    out = {}
    for m in _MODULES:
        out.update(m.ORACLES)
    return out


# --- dataset -------------------------------------------------------------

WORDS = ("a the data spark table query row column key value join merge "
         "scan filter group sort hash window stream batch agg order part "
         "line customer vector fast slow big small").split()


def generate_dataset(out_dir: str, seed: int = DATA_SEED) -> None:
    """The ten tables the registry reads, with the testdata schemas: 150
    customers, 1,500 orders, 6,000 lineitems, 1,000 events, 500 documents
    (a tenth of them near-duplicates) and 500 embeddings.

    Only the schemas follow the testdata. The value distributions (a
    28-word vocabulary, planted near-duplicates, ten Gaussian embedding
    clusters, uniform events and lineitems) are unverified guesses; the
    traced run reports the shapes they produce (``shape_metrics``)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part, n_ord = 150, 10, 200, 1500
    n_line, n_ev, n_doc, n_emb = 6000, 1000, 500, 500
    day0 = np.datetime64("1995-01-01T00:00:00", "us")

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    write("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                         "MACHINERY"])
    write("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": money(-999, 9999, n_cust),
        "c_mktsegment": segments[rng.integers(0, 5, n_cust)]})
    write("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": money(-999, 9999, n_supp)})
    adjectives = np.array(["small", "red", "blue", "hot", "old", "large",
                           "green", "cold"])
    nouns = np.array(["ring", "widget", "bolt", "gear", "plate", "rod",
                      "nut", "pipe"])
    price = np.round(900 + (np.arange(n_part) % 1000) / 10, 2)
    write("part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(adjectives[rng.integers(0, 8, n_part)],
                                          " "),
                              nouns[rng.integers(0, 8, n_part)]),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                            "STANDARD"])[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": price})
    order_days = rng.integers(0, 2404, n_ord)
    write("orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": money(1000, 500000, n_ord),
        "o_orderdate": day0 + order_days.astype("timedelta64[D]"),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"])[
            rng.integers(0, 5, n_ord)]})
    part_of_line = rng.integers(0, n_part, n_line)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    write("lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": part_of_line,
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price[part_of_line], 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": day0 + (1 + rng.integers(0, 2498, n_line)).astype(
            "timedelta64[D]")})
    ev_ts = (np.datetime64("2024-01-01T00:00:00", "us")
             + np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev)).astype(
                 "timedelta64[us]"))
    write("events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ev_ts,
        "user_id": rng.integers(0, 150, n_ev),
        "event_type": np.array(["click", "error", "purchase", "signup",
                                "view"])[rng.integers(0, 5, n_ev)],
        "value": money(0.01, 490, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_doc):
        if i >= 10 and rng.random() < 0.1:
            # near-duplicate of an earlier document: one word replaced
            words = texts[rng.integers(0, i)].split()
            words[rng.integers(0, len(words))] = WORDS[rng.integers(0, len(WORDS))]
        else:
            words = [WORDS[w] for w in rng.integers(0, len(WORDS),
                                                    rng.integers(8, 90))]
        texts.append(" ".join(words))
    write("documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(["de", "en", "es", "fr", "zh"])[
            rng.integers(0, 5, n_doc)],
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 0.15, (10, 64))
    vecs = (centers[labels] + rng.normal(0, 0.05, (n_emb, 64))).astype(np.float32)
    write("embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32)})


# --- fingerprints ----------------------------------------------------------

def _canonical(v):
    """A cell as a (type, value) pair, so int/float divergence shows."""
    if isinstance(v, (list, tuple, np.ndarray)):
        return ("list", tuple(_canonical(x) for x in v))
    if v is None:
        return ("none", None)
    try:
        if pd.isna(v):
            return ("none", None)
    except (TypeError, ValueError):
        pass
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, pd.Timestamp):
        v = v.to_pydatetime()
    if isinstance(v, Decimal):
        return ("float", repr(float(v)))
    if isinstance(v, bool):
        return ("bool", v)
    if isinstance(v, int):
        return ("int", v)
    if isinstance(v, float):
        return ("float", "NaN" if math.isnan(v) else repr(v + 0.0))
    if isinstance(v, dt.datetime):
        return ("ts", v.replace(tzinfo=None).isoformat())
    if isinstance(v, dt.date):
        return ("date", v.isoformat())
    if isinstance(v, bytes):
        return ("bytes", v.hex())
    return (type(v).__name__, str(v))


def fingerprint(pdf: pd.DataFrame) -> str:
    """Order-insensitive digest of a result: sorted column names, then the
    sorted list of canonical rows."""
    cols = sorted(pdf.columns)
    rows = sorted(repr(tuple(_canonical(v) for v in row))
                  for row in pdf[cols].itertuples(index=False, name=None))
    h = hashlib.sha256(repr(cols).encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()


def load_fingerprints() -> dict[str, str]:
    with open(FINGERPRINTS) as fh:
        return json.load(fh)["queries"]


# --- workload --------------------------------------------------------------

class AnalyticsMix(Workload):
    """Passes over ``MIX`` in a seeded order. The first pass of the session
    is the cold pass; the passes after it are the warm steady state."""

    name = "analytics_mix"

    def __init__(self, spark, seed, work_dir,
                 mix: list[tuple[str, str]] = MIX,
                 expected: dict[str, str] | None = None):
        super().__init__(spark, seed, work_dir)
        self.mix = list(mix)
        self.queries = registry()
        self.expected = expected if expected is not None else load_fingerprints()
        self.order = random.Random(f"analytics:{seed}")
        self.n_setups = 0

    def setup(self) -> None:
        """Write the dataset and open its tables (``load_tables`` lists the
        files and reads the parquet footers)."""
        self.n_setups += 1
        self.data_dir = os.path.join(self.work_dir, f"data-{self.n_setups}")
        generate_dataset(self.data_dir)
        load_tables(self.spark, self.data_dir)

    def run_op(self) -> OpResult:
        order = list(self.mix)
        self.order.shuffle(order)
        latencies, problems = [], []
        total = cpu_s = 0.0
        with self.span("analytics.pass"):
            for _, name in order:
                with self.span(f"analytics.{name}"):
                    c0 = cpu_seconds()
                    t0 = time.perf_counter()
                    result = self.queries[name](self.spark,
                                                self.data_dir).toPandas()
                    seconds = time.perf_counter() - t0
                    cpu_s += cpu_seconds() - c0
                latencies.append(seconds)
                total += seconds
                got = fingerprint(result)
                if got != self.expected.get(name):
                    problems.append(f"{name}: fingerprint {got[:12]} != "
                                    f"{str(self.expected.get(name))[:12]}")
        return OpResult(seconds=total, items=len(order), cpu_s=cpu_s,
                        latencies=latencies, problems=problems)

    def named_metrics(self, cold: OpResult, warm: list[OpResult]) -> list:
        busy = sum(r.seconds for r in warm)
        return [
            ("pass_p50_s", median([r.seconds for r in warm]), "s", ""),
            ("cold_pass_s", cold.seconds, "s", ""),
            *median_and_tail("query", [x for r in warm for x in r.latencies]),
            ("queries_per_s", sum(r.items for r in warm) / busy if busy else 0.0,
             "1/s", ""),
        ]

    def layer_metrics(self, cold: OpResult, traced: list[OpResult]) -> dict:
        spans = self.tracer.spans.values()
        warm = {r.label for r in traced}
        out = {}
        module_s = {}
        for module, name in self.mix:
            runs = [s.duration for s in spans
                    if s.name == f"analytics.{name}" and s.op in warm]
            out[f"analytics.{name}.s"] = mean(runs)
            out[f"analytics.{name}.cold_s"] = mean(
                [s.duration for s in spans
                 if s.name == f"analytics.{name}" and s.op == cold.label])
            module_s[module] = module_s.get(module, 0.0) + mean(runs)
        for module, seconds in module_s.items():
            out[f"analytics.{module}.s"] = seconds
        out["memo.cold_extra_s"] = cold.seconds - median(
            [r.seconds for r in traced])
        out.update(self.shape_metrics())
        queries = [s for s in spans
                   if s.name.startswith("analytics.") and s.name != "analytics.pass"
                   and s.op in warm]
        for what in ("jobs", "stages", "tasks"):
            out[f"spark.query.{what}"] = mean([getattr(s, what) for s in queries])
        return out

    def shape_metrics(self) -> dict:
        """Counts that set the dedup paths on this dataset: candidate pairs
        and the largest bucket of each banded family's band join, verified
        jaccard pairs, and shingles over the document-frequency cap. Run
        after the measured operations, untraced."""
        with self.checking():
            skew = self.queries["band_skew_audit"](
                self.spark, self.data_dir).toPandas().set_index("family")
            out = {}
            for family in SHAPE_FAMILIES:
                out[f"shape.{family}.candidate_pairs"] = int(
                    skew.at[family, "candidate_pairs"])
                out[f"shape.{family}.max_bucket"] = int(
                    skew.at[family, "max_bucket"])
            out["shape.jaccard_pairs"] = self.queries["dedup_ngram_jaccard"](
                self.spark, self.data_dir).count()
            out["shape.hot_shingles"] = dedup._hot_shingles(
                self.spark, self.data_dir).count()
        return out
