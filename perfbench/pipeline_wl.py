"""The two pipeline workloads: ``backfill`` and ``cdc_incremental``.

Both drive ``ReportingPipeline.run_until_idle`` over the in-process
endpoints in ``fetchers`` and check the resulting tables against the
generator's expected tables after every operation.
"""

from __future__ import annotations

import os
import shutil
import time
from collections import Counter

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from perfbench import fetchers, gen
from perfbench.core import OpResult, Workload, cpu_seconds
from perfbench.spans import self_time
from perfbench.stats import mean, median, median_and_tail
from qucosa_fcrepo_reportingdb_spark import schemas
from qucosa_fcrepo_reportingdb_spark.pipeline import ReportingPipeline
from qucosa_fcrepo_reportingdb_spark.sources.mets import (
    QUARANTINE_SCHEMA,
    QUARANTINE_TABLE,
    REPORTING_DOCUMENTS_TABLE,
)
from qucosa_fcrepo_reportingdb_spark.tables import TableStore

STORE_METHODS = ("read", "append", "overwrite", "merge_keyed",
                 "delete_keyed", "compact")
_DOC_TS = ("distribution_date", "header_last_modified")


def table_rows(df: DataFrame, ts_cols: tuple[str, ...]) -> dict[str, tuple]:
    """Rows keyed by their first column, timestamps rendered as text in the
    session time zone (UTC)."""
    cols = [F.date_format(c, "yyyy-MM-dd HH:mm:ss").alias(c)
            if c in ts_cols else F.col(c) for c in df.columns]
    return {r[0]: tuple(r) for r in df.select(*cols).collect()}


def report_frame(store: TableStore) -> DataFrame:
    """The reporting consumer's aggregation: documents per mandator x
    document type x distribution year over the live fact table."""
    return (store.read(REPORTING_DOCUMENTS_TABLE,
                       schemas.REPORTING_DOCUMENTS_SCHEMA)
            .groupBy("mandator", "document_type",
                     F.year("distribution_date").alias("year"))
            .agg(F.count(F.lit(1)).alias("documents")))


def diff(what: str, actual: dict, expected: dict) -> list[str]:
    if actual == expected:
        return []
    wrong = sorted(k for k in set(actual) | set(expected)
                   if actual.get(k) != expected.get(k))
    return [f"{what}: {len(wrong)} rows differ, e.g. {wrong[0]}: "
            f"{actual.get(wrong[0])} != {expected.get(wrong[0])}"]


class PipelineWorkload(Workload):
    """Shared wiring: a store under the work directory, the METS server
    whose calls are counted per record, the checks every operation runs,
    and the wrapped public calls for the traced run."""

    def __init__(self, spark, seed: int, work_dir: str):
        super().__init__(spark, seed, work_dir)
        self.mets_calls = spark.sparkContext.accumulator(
            Counter(), fetchers.CounterParam())
        self.mets = fetchers.MetsServer(self.mets_calls)
        self.store: TableStore | None = None
        self.pipeline: ReportingPipeline | None = None
        self.n_stores = 0
        self.bytes_written = 0

    def new_store(self, oai_fetch) -> None:
        if self.store is not None:
            shutil.rmtree(self.store.root, ignore_errors=True)
        self.n_stores += 1
        self.store = TableStore(
            self.spark, os.path.join(self.work_dir, f"store-{self.n_stores}"))
        self.pipeline = ReportingPipeline(self.spark, self.store, oai_fetch,
                                          self.mets)
        if self.tracer is not None:
            self._wrap_store_and_pipeline()

    def cycle(self, oai, expected_fetches: set[str]):
        """One ``run_until_idle``: (stats, seconds, commit wall-clock time,
        counters, problems). ``counters["cpu_s"]`` holds its CPU seconds.
        The problems cover the queue, the checkpoint, the OAI request
        sequence and the one-fetch-per-record METS politeness invariant."""
        before = Counter(self.mets_calls.value)
        oai_calls = oai.calls
        written = self.bytes_written
        c0 = cpu_seconds()
        t0 = time.perf_counter()
        stats = self.pipeline.run_until_idle()
        seconds = time.perf_counter() - t0
        committed = time.time()
        cpu_s = cpu_seconds() - c0
        calls = Counter(self.mets_calls.value)
        calls.subtract(before)
        calls = +calls

        problems = list(oai.violations)
        oai.violations.clear()
        with self.checking():
            depth = self.pipeline.queue_depth()
            state = self.pipeline.harvester.load_state()
        if depth:
            problems.append(f"oai_header holds {depth} rows")
        if state.has_resumption_token:
            problems.append(f"checkpoint holds live token "
                            f"{state.resumption_token!r}")
        if set(calls) != expected_fetches:
            problems.append(f"METS fetched {len(calls)} records, expected "
                            f"{len(expected_fetches)}")
        repeated = sum(1 for n in calls.values() if n != 1)
        if repeated:
            problems.append(f"{repeated} records fetched more than once")
        counters = Counter(
            processed=stats["processed"], rejected=stats["rejected"],
            mets_calls=sum(calls.values()), mets_records=len(calls),
            oai_fetch_calls=oai.calls - oai_calls, queue_depth_after=depth,
            cpu_s=cpu_s,
            bytes_written=self.bytes_written - written,
            files_current=self.store.file_count(REPORTING_DOCUMENTS_TABLE))
        return stats, seconds, committed, counters, problems

    def check_tables(self, documents: dict, quarantine: dict,
                     only: list[str] | None = None) -> list[str]:
        with self.checking():
            return self._check_tables(documents, quarantine, only)

    def _check_tables(self, documents, quarantine, only) -> list[str]:
        docs = self.store.read(REPORTING_DOCUMENTS_TABLE)
        if only is not None:
            docs = docs.filter(F.col("record_identifier").isin(only))
        quar = self.store.read(QUARANTINE_TABLE, QUARANTINE_SCHEMA)
        return (diff("reporting_documents", table_rows(docs, _DOC_TS),
                     documents)
                + diff("quarantine",
                       table_rows(quar, ("header_last_modified",)),
                       quarantine))

    # -- tracing -------------------------------------------------------------
    def instrument(self, tracer) -> None:
        super().instrument(tracer)
        import qucosa_fcrepo_reportingdb_spark.pipeline as pipeline_mod
        tracer.wrap(pipeline_mod, "enrich_once", "mets.enrich_once",
                    annotate=lambda r: {"processed": r["processed"]})

    def _wrap_store_and_pipeline(self) -> None:
        t = self.tracer
        for m in STORE_METHODS:
            t.wrap(self.store, m, f"tables.{m}")
        self._count_bytes()
        h = self.pipeline.harvester
        for m, name in (("harvest_once", "oai.harvest_once"),
                        ("load_state", "oai.load_state"),
                        ("store_state", "oai.store_state"),
                        ("_compact_staging", "oai.compact_staging"),
                        ("fetch", "oai.fetch")):
            t.wrap(h, m, name)
        t.wrap(self.pipeline, "run_until_idle", "pipeline.run_until_idle")

    def _count_bytes(self) -> None:
        """Add the size of the parquet files each overwrite, append and
        compact adds under its table to ``bytes_written``. A write nested in
        another (an append that creates or compacts its table) is counted
        by the outer one."""
        store = self.store
        nested = [False]

        def files(name):
            out = {}
            for root, _, names in os.walk(store._table_dir(name)):
                for f in names:
                    if f.endswith(".parquet"):
                        path = os.path.join(root, f)
                        out[path] = os.path.getsize(path)
            return out

        for m in ("overwrite", "append", "compact"):
            inner = getattr(store, m)

            def counted(name, *args, _inner=inner, **kwargs):
                if nested[0] or not self.tracer.enabled:
                    return _inner(name, *args, **kwargs)
                before = files(name)
                nested[0] = True
                try:
                    out = _inner(name, *args, **kwargs)
                finally:
                    nested[0] = False
                self.bytes_written += sum(
                    size for path, size in files(name).items()
                    if path not in before)
                return out

            setattr(store, m, counted)

    op_name = "op"

    def named_metrics(self, cold: OpResult, warm: list[OpResult]) -> list:
        busy = sum(r.seconds for r in warm)
        return [
            ("records_per_s", sum(r.items for r in warm) / busy if busy else 0.0,
             "1/s", ""),
            *median_and_tail("freshness", [x for r in warm for x in r.latencies]),
            (f"cold_{self.op_name}_s", cold.seconds, "s", ""),
            (f"{self.op_name}_p50_s", median([r.seconds for r in warm]), "s", ""),
        ]

    def layer_metrics(self, cold: OpResult, traced: list[OpResult]) -> dict:
        labels = {r.label for r in traced}
        spans = [s for s in self.tracer.spans.values() if s.op in labels]
        n_ops = max(len(traced), 1)
        total = Counter()
        for r in traced:
            total.update(r.counters)

        def named(name):
            return [s for s in spans if s.name == name]

        def per_call(name):
            return mean([s.duration for s in named(name)])

        def ratio(a, b):
            return total[a] / total[b] if total[b] else 0.0

        enrich = named("mets.enrich_once")
        busy = [s for s in enrich if s.attrs.get("processed")]
        empty = [s for s in enrich if not s.attrs.get("processed")]
        out = {
            "oai.harvest_once.calls": len(named("oai.harvest_once")) / n_ops,
            "oai.harvest_once.self_s": mean(
                [self_time(s, self.tracer.spans)
                 for s in named("oai.harvest_once")]),
            "oai.load_state.s": per_call("oai.load_state"),
            "oai.store_state.s": per_call("oai.store_state"),
            "oai.compact_staging.s": per_call("oai.compact_staging"),
            "oai.fetch.calls": total["oai_fetch_calls"] / n_ops,
            "oai.headers_kept_ratio": ratio("processed", "headers_served"),
            "mets.enrich_once.calls": len(enrich) / n_ops,
            "mets.enrich_once.self_s": mean(
                [self_time(s, self.tracer.spans) for s in busy]),
            "mets.enrich_once.empty_calls": len(empty) / n_ops,
            "mets.fetch.calls_per_record": ratio("mets_calls", "mets_records"),
            "mets.rejected_ratio": ratio("rejected", "processed"),
            "tables.bytes_written_per_record": ratio("bytes_written",
                                                     "processed"),
            "tables.files_current": traced[-1].counters["files_current"]
            if traced else 0,
            "pipeline.cycle_s": per_call("pipeline.run_until_idle"),
            "pipeline.queue_depth_after": total["queue_depth_after"] / n_ops,
            "report.s": per_call("report"),
        }
        for m in STORE_METHODS:
            out[f"tables.{m}.calls"] = len(named(f"tables.{m}")) / n_ops
            out[f"tables.{m}.s"] = per_call(f"tables.{m}")
        for key, group in (("harvest_once", named("oai.harvest_once")),
                           ("enrich_once", busy), ("enrich_empty", empty),
                           ("report", named("report"))):
            for what in ("jobs", "stages", "tasks"):
                out[f"spark.{key}.{what}"] = mean(
                    [getattr(s, what) for s in group])
        return out


class Backfill(PipelineWorkload):
    """First harvest into an empty store: one ``run_until_idle`` over
    ``records`` generated records in pages of 100 chained by resumption
    tokens. Every operation starts from a fresh store and fresh inputs."""

    name = "backfill"
    op_name = "backfill"
    setup_per_op = True

    def __init__(self, spark, seed, work_dir, records: int):
        super().__init__(spark, seed, work_dir)
        self.records = records
        self.ops = 0

    def setup(self) -> None:
        self.data = gen.backfill(self.seed * 1000 + self.ops, self.records)
        self.mets.docs = {k: m.document() for k, m in self.data.mets.items()}
        self.oai = fetchers.BackfillOai(self.data)
        self.new_store(self.oai)
        self.pipeline.queue_depth()

    def run_op(self) -> OpResult:
        self.ops += 1
        data = self.data
        created = time.time()
        stats, seconds, committed, counters, problems = self.cycle(
            self.oai, {h.identifier for p in data.pages for h in p
                       if h.local_id not in gen.SYSTEM_IDS})
        if self.oai.served != len(data.pages):
            problems.append(f"served {self.oai.served} of "
                            f"{len(data.pages)} pages")
        problems += self.check_tables(data.expected.documents,
                                      data.expected.quarantine)
        counters["headers_served"] = sum(map(len, data.pages))
        n = data.kept_records
        return OpResult(seconds=seconds, items=n, cpu_s=counters["cpu_s"],
                        latencies=[committed - created] * n,
                        problems=problems, counters=counters)


class CdcIncremental(PipelineWorkload):
    """Steady state over a seeded fact table: each cycle publishes one page
    of 100 changed records (about 60 updates, 40 new ids, ~5% METS rejects),
    runs ``run_until_idle``, then the reporting aggregation over the live
    table. Freshness runs from a record's creation stamp to the commit of
    ``run_until_idle``."""

    name = "cdc_incremental"
    op_name = "cycle"

    def __init__(self, spark, seed, work_dir, base_rows: int):
        super().__init__(spark, seed, work_dir)
        self.base_rows = base_rows

    def named_metrics(self, cold: OpResult, warm: list[OpResult]) -> list:
        return super().named_metrics(cold, warm) + median_and_tail(
            "report", [r.counters["report_s"] for r in warm])

    def setup(self) -> None:
        self.oai = fetchers.CdcOai()
        self.new_store(self.oai)
        cols = gen.seed_columns(self.seed)
        self.store.overwrite(
            REPORTING_DOCUMENTS_TABLE,
            self.spark.range(self.base_rows).select(
                *[F.expr(e).alias(c) for c, e in cols.items()]))
        self.pipeline.queue_depth()
        self.gen = gen.CdcGenerator(self.seed, self.base_rows)

    def run_op(self) -> OpResult:
        created_dt, created = fetchers.wall_clock()
        changes = self.gen.next_page(created_dt, created)
        self.mets.docs = {c.header.local_id: c.mets.document() for c in changes}
        self.oai.publish(changes)
        stats, seconds, committed, counters, problems = self.cycle(
            self.oai, {c.header.identifier for c in changes})
        c0 = cpu_seconds()
        t0 = time.perf_counter()
        with self.span("report"):
            report = {(r.mandator, r.document_type, r.year): r.documents
                      for r in report_frame(self.store).collect()}
        report_s = time.perf_counter() - t0
        report_cpu_s = cpu_seconds() - c0

        self.gen.commit(changes)
        ids = [c.header.identifier for c in changes]
        want = {rid: self.gen.current(rid) for rid in ids}
        problems += self.check_tables({k: v for k, v in want.items() if v},
                                      self.gen.expected.quarantine, only=ids)
        # the report's counts sum to the table's row count, so this also
        # checks that no row was lost or duplicated
        problems += diff("report", report, self.gen.report_counts)
        counters["headers_served"] = len(changes)
        counters["report_s"] = report_s
        return OpResult(seconds=seconds + report_s, items=len(changes),
                        cpu_s=counters["cpu_s"] + report_cpu_s,
                        latencies=[committed - c.created for c in changes],
                        problems=problems, counters=counters)
