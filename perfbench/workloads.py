"""The benchmark workloads: one job per call, output checks, trace hooks.

Each workload generates its own seeded inputs (untimed), runs one *job*
per :meth:`job` call (the unit the closed loop times), checks that job's
outputs against expectations recorded outside the program (untimed) and,
in a traced run, names the package calls to wrap and the per-layer numbers
to report. Checks return a list of failure strings; any failure counts the
job as failed.
"""

from __future__ import annotations

import glob
import json
import math
import os
import random
import shutil
import statistics
import time
from collections import Counter

import gen
from spans import catalyst_phases, iter_seq

AS_OF = "2025-12-01"  # pinned 'today' for the shipment delay/status logic
CAP_BYTES = 12 * 1024 * 1024  # the reference's JSONL file cap


def _part_files(out_dir: str) -> list[str]:
    return sorted(glob.glob(os.path.join(out_dir, "**", "part-*.json"), recursive=True))


def _read_jsonl(out_dir: str, failures: list[str]):
    """Yield (file, parsed object) for every line of every part file."""
    for path in _part_files(out_dir):
        with open(path, encoding="utf-8") as fh:
            for n, line in enumerate(fh, 1):
                try:
                    yield path, json.loads(line)
                except ValueError:
                    failures.append(f"{os.path.basename(path)}:{n} is not JSON")


class JsonlWorkload:
    """A workload whose job ends in ``sources.jsonl.write_documents``.

    ``cold_s`` is the first job's wall time, ``run_s`` (run.py) the summed
    wall time of all the run's jobs and ``out_bytes_per_row`` the JSONL
    bytes written per output document.
    """

    pass_len = 1
    E2E = {
        "setup_s": "s",
        "cold_s": "s",
        "run_s": "s",
        "cpu_s": "s",
        "peak_rss_mb": "MB",
        "out_bytes_per_row": "B",
    }
    LAYERS = {
        "catalyst.reanalysis_s": "s",
        "catalyst.optimization_s": "s",
        "catalyst.planning_s": "s",
        "sources.jsonl.write_s": "s",
        "sources.jsonl.write.exec_s": "s",
        "sources.jsonl.write.jobs": "count",
        "sources.jsonl.write.stages": "count",
        "sources.jsonl.write.tasks": "count",
        "sources.jsonl.files": "count",
        "sources.jsonl.max_file_bytes": "B",
    }

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self.out_bytes = 0
        self.out_docs = 0
        self.files: list[int] = []
        self.max_file_bytes = 0
        self.sink_frames: list = []

    def out_dir(self, i: int) -> str:
        return os.path.join(self.work, f"out{i}")

    def record_output(self, i: int, docs: int) -> list[str]:
        """Account job ``i``'s output files, check the cap, delete them."""
        sizes = [os.path.getsize(f) for f in _part_files(self.out_dir(i))]
        self.out_bytes += sum(sizes)
        self.out_docs += docs
        self.files.append(len(sizes))
        self.max_file_bytes = max([self.max_file_bytes, *sizes])
        shutil.rmtree(self.out_dir(i), ignore_errors=True)
        if any(s > CAP_BYTES for s in sizes):
            return [f"a file exceeds the 12 MB cap: {max(sizes)} bytes"]
        return []

    def e2e(self, walls: list, rows: list) -> dict:
        return {
            "cold_s": walls[0],
            "out_bytes_per_row": self.out_bytes / max(self.out_docs, 1),
            "out_files": sum(self.files),
            "max_file_bytes": self.max_file_bytes,
        }

    def wrap_sink(self, tracer) -> None:
        from jsonl_dataingestion_pipeline_spark.sources import jsonl

        tracer.wrap(
            jsonl, "write_documents", "sources.jsonl.write",
            on_result=lambda rec, args, kw, out: self.sink_frames.append(args[0]),
        )

    def sink_layers(self, tracer, jobs: int) -> dict:
        """Per-job numbers of the JSONL sink, plus the Catalyst phases of
        the last frame handed to it."""
        write: Counter = Counter()
        for s in tracer.spans:
            if s["name"] == "sources.jsonl.write":
                write.update(tracer.inclusive(s))
        return {
            **catalyst_phases(self.sink_frames[-1]),
            "sources.jsonl.write_s": tracer.total_s("sources.jsonl.write") / jobs,
            "sources.jsonl.write.exec_s": write["executor_run_s"] / jobs,
            "sources.jsonl.write.jobs": write["jobs"] / jobs,
            "sources.jsonl.write.stages": write["stages"] / jobs,
            "sources.jsonl.write.tasks": write["tasks"] / jobs,
            "sources.jsonl.files": sum(self.files) / jobs,
            "sources.jsonl.max_file_bytes": self.max_file_bytes,
        }


class ShipmentIngest(JsonlWorkload):
    """Daily shipment CSVs through ``plans.shipment.run_batch``.

    A run is one cold batch, as the reference runs one file per process, so
    ``cold_s`` and ``run_s`` are both that batch's wall time.
    """

    name = "shipment_ingest"
    min_jobs = 1

    def __init__(self, work: str, seed: int):
        super().__init__(work, seed)
        self._days: dict[int, dict] = {}

    def prepare(self, i: int) -> None:
        """Write day ``i``'s CSV (untimed)."""
        self._days[i] = gen.write_shipment_day(
            os.path.join(self.work, f"in{i}"), self.seed * 1000 + i
        )

    def rows(self, i: int) -> int:
        return self._days[i]["rows"]

    def job(self, spark, i: int) -> None:
        from jsonl_dataingestion_pipeline_spark.plans import shipment

        shipment.run_batch(spark, self._days[i]["path"], self.out_dir(i), as_of=AS_OF)

    def check(self, i: int) -> list[str]:
        failures: list[str] = []
        ids: Counter = Counter()
        for path, doc in _read_jsonl(self.out_dir(i), failures):
            if not isinstance(doc, dict) or not {"document_id", "content", "metadata"} <= doc.keys():
                failures.append(f"{os.path.basename(path)}: document lacks a required key")
                continue
            if not isinstance(doc["content"], str) or not doc["content"].strip():
                failures.append(f"document {doc['document_id']!r} has empty content")
            ids[doc["document_id"]] += 1
        expected = Counter(self._days[i]["ids"])
        if sum(ids.values()) != self.rows(i):
            failures.append(f"{sum(ids.values())} documents for {self.rows(i)} input rows")
        if ids != expected:
            diff = (ids - expected) + (expected - ids)
            failures.append(f"document_id set differs from the expected chain: {list(diff)[:5]}")
        return failures + self.record_output(i, sum(ids.values()))

    # -- traced run -----------------------------------------------------------

    def wrap(self, tracer) -> None:
        from jsonl_dataingestion_pipeline_spark.plans import shipment
        from jsonl_dataingestion_pipeline_spark.sources import csv

        tracer.wrap(csv, "read_shipment_csv", "sources.csv.read")
        tracer.wrap(shipment, "transform_shipments", "plans.shipment.transform")
        tracer.wrap(shipment, "normalize_documents", "operators.docs.normalize")
        self.wrap_sink(tracer)

    def layers(self, spark, tracer, jobs: int) -> dict:
        """Per-layer numbers, per job unless noted."""
        read = [s for s in tracer.spans if s["name"] == "sources.csv.read"]
        out = self.sink_layers(tracer, jobs)
        out.update({
            "sources.csv.read_s": tracer.total_s("sources.csv.read") / jobs,
            "sources.csv.scan_tasks": sum(tracer.inclusive(s)["tasks"] for s in read) / jobs,
            "plans.shipment.plan_s": tracer.total_s("plans.shipment.transform") / jobs,
            "operators.docs.plan_s": tracer.total_s("operators.docs.normalize") / jobs,
        })
        out.update(self.ablation(spark))
        return out

    def ablation(self, spark) -> dict:
        """Execution time per shipment layer by prefix ablation.

        ``transform_shipments`` only builds a plan; all of its execution
        runs inside the sink. So the cumulative prefixes scan -> clean ->
        derive -> summaries -> narrative -> content -> docs are each run
        into the ``noop`` sink and a layer's ``exec_s`` is the increase over
        the previous prefix. The last one is the real JSONL write of the
        same docs frame, whose increase over ``docs`` is the sink itself.
        Runs once, on a fresh day, after the timed loop. The prefixes
        mirror the body of ``plans.shipment.transform_shipments``.
        """
        from pyspark.sql import functions as F

        from jsonl_dataingestion_pipeline_spark import schema
        from jsonl_dataingestion_pipeline_spark.operators import common, content, narrative
        from jsonl_dataingestion_pipeline_spark.plans import shipment
        from jsonl_dataingestion_pipeline_spark.sources import csv, jsonl

        self.prepare(-1)
        clock = F.lit(AS_OF).cast("date")
        raw = csv.read_shipment_csv(spark, self._days[-1]["path"])
        steps = [("sources.csv.scan", raw)]
        df = shipment.clean_columns(common.parallelism_floor(raw))
        steps.append(("plans.shipment.clean", df))
        df = shipment.with_derived_columns(shipment.with_consignee(df), clock)
        steps.append(("plans.shipment.derive", df))
        df = shipment.with_summaries(df, clock)
        steps.append(("plans.shipment.summaries", df))
        df = narrative.with_milestones(df, clock)
        steps.append(("operators.narrative", df))
        df = content.combined_content(df)
        df = df.drop(*[c for c in schema.DROP_COLUMNS_AFTER_LOAD if c in df.columns])
        steps.append(("operators.content", df))
        docs = shipment.build_documents(df)
        steps.append(("operators.docs", docs))

        walls = {}
        for name, frame in steps:
            t = time.perf_counter()
            frame.write.format("noop").mode("overwrite").save()
            walls[name] = time.perf_counter() - t
        t = time.perf_counter()
        jsonl.write_documents(docs, self.out_dir(-1))
        walls["sources.jsonl.sink"] = time.perf_counter() - t
        out, prev = {}, 0.0
        for name, wall in walls.items():
            out[f"{name}.exec_s"] = wall - prev
            prev = wall
        return out


class CorpusCurate(JsonlWorkload):
    """A JSONL corpus through quarantine read, curation and the sink.

    A run curates the same corpus twice in one session, a cold job and a
    warm one, so ``run_s`` sums two jobs.
    """

    name = "corpus_curate"
    min_jobs = 2

    def __init__(self, work: str, seed: int):
        super().__init__(work, seed)
        self.corpus = None
        self.stage_counts = None
        self.quarantined = 0
        self.pair_frames: list = []
        self._stats: dict[int, list] = {}

    def prepare(self, i: int) -> None:
        if self.corpus is None:
            self.corpus = gen.write_corpus(os.path.join(self.work, "in"), self.seed)
            self.valid_ids = set(self.corpus["ids"])

    def rows(self, i: int) -> int:
        return self.corpus["docs"] + self.corpus["malformed"]

    def job(self, spark, i: int) -> None:
        from pyspark.sql.types import LongType, StringType, StructField, StructType

        from jsonl_dataingestion_pipeline_spark.plans import corpus
        from jsonl_dataingestion_pipeline_spark.sources import jsonl

        schema = StructType([
            StructField("doc_id", LongType()),
            StructField("lang", StringType()),
            StructField("text", StringType()),
        ])
        good, bad = jsonl.read_jsonl_quarantine(spark, self.corpus["path"], schema)
        self.quarantined = bad.count()
        final, stats = corpus.curate_corpus(good, target_n=gen.CORPUS_DOCS)
        self._stats[i] = [(r.stage_name, r.n_docs) for r in stats.collect()]
        jsonl.write_documents(final, self.out_dir(i), partition_by="lang")
        spark.catalog.clearCache()  # the quarantine read caches its scan

    def check(self, i: int) -> list[str]:
        failures: list[str] = []
        if self.quarantined != self.corpus["malformed"]:
            failures.append(
                f"{self.quarantined} rows quarantined, {self.corpus['malformed']} malformed planted"
            )
        seen_ids, seen_text = set(), set()
        for _, doc in _read_jsonl(self.out_dir(i), failures):
            doc_id, text = doc.get("doc_id"), doc.get("text")
            if doc_id not in self.valid_ids or doc_id in seen_ids:
                failures.append(f"survivor {doc_id!r} is not a distinct input id")
            key = gen.normalized(text or "")
            if key in seen_text:
                failures.append(f"survivor {doc_id!r} repeats another survivor's text")
            seen_ids.add(doc_id)
            seen_text.add(key)
        stats = self._stats[i]
        counts = dict(stats)
        planted = self.corpus["docs"] - self.corpus["exact_dups"]
        if counts.get("input") != self.corpus["docs"] or counts.get("exact_dedup") != planted:
            failures.append(f"stage counts {stats} miss the planted {self.corpus['docs']} "
                            f"docs / {planted} after exact dedup")
        if stats[-1][1] != len(seen_ids):
            failures.append(f"{len(seen_ids)} survivors written, stats report {stats[-1][1]}")
        if self.stage_counts is None:
            self.stage_counts = stats
        elif stats != self.stage_counts:
            failures.append(f"stage counts changed between iterations: {stats}")
        return failures + self.record_output(i, len(seen_ids))

    # -- traced run -----------------------------------------------------------

    def wrap(self, tracer) -> None:
        from jsonl_dataingestion_pipeline_spark.plans import corpus
        from jsonl_dataingestion_pipeline_spark.sources import jsonl

        tracer.wrap(jsonl, "read_jsonl_quarantine", "sources.jsonl.read")
        tracer.wrap(corpus, "curate_corpus", "plans.corpus")
        tracer.wrap(corpus, "dedup_lines", "operators.curation.dedup_lines")
        tracer.wrap(corpus, "shingle_base", "operators.dedup.shingle_base")
        tracer.wrap(
            corpus, "ngram_jaccard_pairs", "operators.dedup.jaccard_pairs",
            on_result=lambda rec, args, kw, out: self.pair_frames.append(out),
        )
        tracer.wrap(corpus, "dedup_near_duplicates", "operators.dedup.components")
        tracer.wrap(corpus, "temperature_sample", "functions.sampling.temperature")
        self.wrap_sink(tracer)

    def layers(self, spark, tracer, jobs: int) -> dict:
        """Per-layer numbers, per job unless noted."""
        out = self.sink_layers(tracer, jobs)
        for name in ("operators.curation.dedup_lines", "operators.dedup.shingle_base",
                     "operators.dedup.jaccard_pairs", "operators.dedup.components",
                     "functions.sampling.temperature", "sources.jsonl.read"):
            out[f"{name}_s"] = tracer.total_s(name) / jobs
        out["plans.corpus.self_s"] = tracer.self_time("plans.corpus") / jobs
        out["sources.jsonl.quarantined_rows"] = self.quarantined
        out["operators.dedup.pairs"] = self.pair_frames[-1].count()
        for stage, n in self.stage_counts or ():
            out[f"plans.corpus.stage_rows.{stage}"] = n
        return out


class QueryCore:
    """The frozen ``bench.CORE`` queries with a ``count()`` sink.

    One job is one query. The first pass over all queries is cold; warm
    passes follow until ``--seconds``. The query order is shuffled by the
    seed; the tables are the fixed set in ``$SPARK_GRAFT_SF_DIR`` (as for
    ``bench.py``), so the seed changes only the order. Each query's row
    count must equal the count of its DuckDB oracle, computed up front.
    """

    name = "query_core"
    E2E = {
        "setup_s": "s",
        "cold_s": "s",
        "query_s_p50": "s",
        "cpu_s": "s",
        "peak_rss_mb": "MB",
    }
    LAYERS: dict = {}
    TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings")
    PYWORKER_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
                      "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas",
                      "AggregateInPandas", "WindowInPandas")

    def __init__(self, work: str, seed: int):
        import __spark_entry__ as entry
        import bench

        self.sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "")
        if not os.path.isdir(self.sf_dir):
            raise SystemExit("query_core reads its tables from $SPARK_GRAFT_SF_DIR")
        self.order = list(bench.CORE)
        random.Random(f"core:{seed}").shuffle(self.order)
        self.min_jobs = 2 * len(self.order)  # the cold pass and one warm pass
        self.pass_len = len(self.order)
        self.queries = entry.queries_full()
        self.expected = self._oracle_counts(entry.oracle_sql_full())
        self.counts: dict[int, int] = {}

    def _oracle_counts(self, oracles: dict) -> dict:
        import duckdb

        con = duckdb.connect()
        try:
            for t in self.TABLES:
                p = os.path.join(self.sf_dir, f"{t}.parquet")
                if os.path.exists(p):
                    con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
            return {
                q: con.sql(f"SELECT count(*) FROM ({oracles[q].strip().rstrip(';')}) t")
                .fetchone()[0]
                for q in self.order
            }
        finally:
            con.close()

    def query(self, i: int) -> str:
        return self.order[i % len(self.order)]

    def prepare(self, i: int) -> None:
        pass

    def rows(self, i: int) -> int:
        return 0

    def job(self, spark, i: int) -> None:
        self.counts[i] = self.queries[self.query(i)](spark, self.sf_dir).count()

    def check(self, i: int) -> list[str]:
        q = self.query(i)
        if self.counts[i] != self.expected[q]:
            return [f"{q}: {self.counts[i]} rows, the DuckDB oracle has {self.expected[q]}"]
        return []

    def e2e(self, walls: list, rows: list) -> dict:
        """Cold pass total, and per-query latency over the warm passes: the
        median and the highest percentile with >= 10 samples above it."""
        n = len(self.order)
        warm = sorted(walls[n:])
        out = {"cold_s": sum(walls[:n]), "query_s_p50": statistics.median(warm),
               "query_samples": len(warm)}
        if len(warm) > 10:
            pct = math.floor(100 * (len(warm) - 10) / len(warm))
            out[f"query_s_p{pct}"] = warm[max(0, math.ceil(pct / 100 * len(warm)) - 1)]
        return out

    # -- traced run -----------------------------------------------------------

    def wrap(self, tracer) -> None:
        pass  # each job is one query; the loop's "job" spans are per query

    def layers(self, spark, tracer, jobs: int) -> dict:
        """Warm latency per query, and the Python-worker boundary per pass."""
        n = len(self.order)
        by_query: dict[str, list] = {}
        for s in tracer.spans:
            if s["name"] == "job" and s["run"] >= n:
                by_query.setdefault(self.query(s["run"]), []).append(s["end"] - s["start"])
        out = {f"query.{q}.s": statistics.median(v) for q, v in sorted(by_query.items())}
        passes = jobs / n
        out.update({f"pyworker.{k}": v / passes for k, v in self._pyworker(spark).items()})
        return out

    def _pyworker(self, spark) -> dict:
        """Python/Arrow UDF plan nodes and the bytes they moved, from the
        SQL metrics of every executed plan (``SQLAppStatusStore``)."""
        names = {"data sent to Python workers": "bytes_sent",
                 "data returned from Python workers": "bytes_returned"}
        store = spark._jsparkSession.sharedState().statusStore()
        totals = Counter(nodes=0, bytes_sent=0, bytes_returned=0)
        for ex in iter_seq(store.executionsList()):
            values = ex.metricValues()
            if values is None:
                continue
            for node in iter_seq(store.planGraph(ex.executionId()).allNodes()):
                if not node.name().startswith(self.PYWORKER_NODES):
                    continue
                totals["nodes"] += 1
                for m in iter_seq(node.metrics()):
                    key = names.get(m.name())
                    if key and values.contains(m.accumulatorId()):
                        totals[key] += _parse_size(values.apply(m.accumulatorId()))
        return dict(totals)


def _parse_size(text: str) -> float:
    """Bytes from a formatted size metric such as ``"total (min, med,
    max)\\n1.5 MiB (...)"`` or ``"312.0 B"``."""
    units = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
    value, unit = text.strip().splitlines()[-1].split()[:2]
    return float(value) * units[unit]


WORKLOADS = {w.name: w for w in (ShipmentIngest, CorpusCurate, QueryCore)}
