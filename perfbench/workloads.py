"""The three benchmark workloads.

Each is a closed loop: a client issues its next operation only after the
previous one returned.  A workload prepares its inputs from the seed, runs
a light warm-up probe inside each set-up repetition, runs untimed warm-up
and correctness work, and then ``measure`` runs timed operations for the
given number of seconds.  Every operation is checked; an operation that
raised or failed its check counts as failed.

In a traced run the workload installs span wrappers around the engine's
public functions it reaches, runs at least three operations (three query
cycles for ``adhoc_olap``), and traces every second one; the others give
the untraced numbers the tracing overhead is measured against.
"""

from __future__ import annotations

import contextlib
import functools
import io
import os
import random
import shutil
import statistics
import threading
import time
from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor

import checks
import gen_daily
import gen_tables
from spans import Tracer, patched, self_times, spark_counters

#: TPC-H-shaped registry queries drawn by adhoc_olap (queries.analytics and
#: queries.olap); each has a DuckDB oracle in the registry.  Ordered by
#: single-client latency on 4 cores (0.4-1.2 s); the count is odd and the
#: middle ones cluster (0.6-0.8 s), so the median latency of one cycle does
#: not flip across a gap between two queries.
ADHOC_QUERIES = (
    "selective_revenue",
    "product_profit",
    "top_parts_by_revenue",
    "unpivot_order_measures",
    "promo_revenue",
    "profile_orders",
    "priority_line_mix",
    "top_revenue_supplier",
    "order_priority_counts",
    "pricing_summary",
    "shipping_priority",
)
TPCH_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
ADHOC_CLIENTS = 2
#: untimed two-client cycles after the correctness pass: latency keeps
#: falling through the first cycles as the JIT warms (p50 by a sixth from
#: the first cycle to the second on 4 cores); a second untimed cycle cost
#: 6 s per run with no clear gain in steadiness
ADHOC_WARM_CYCLES = 1
#: timed cycles a run makes at least, so p90 is taken over 33 latencies
#: and every run holds the same mix
ADHOC_MIN_CYCLES = 3


def _median(values):
    return statistics.median(values) if values else 0.0


def _per_op(spans, names, ops, self_t):
    """Mean over traced operations of the self time of spans named ``names``."""
    total = sum(self_t[s["id"]] for s in spans if s["name"] in names)
    return total / ops if ops else 0.0


class Workload:
    name = ""
    clients = 1

    def __init__(self, work: str, seed: int, size: str, trace: bool, corrupt: bool = False):
        self.work, self.seed, self.size, self.trace = work, seed, size, trace
        # test hook: damage every operation's output before it is checked
        self.corrupt = corrupt
        self.tracer = Tracer(enabled=trace)
        self.records: list[dict] = []  # one per timed operation

    # subclasses define prepare() -> manifest, probe(spark), warm(spark),
    # run_op(spark, k, ...) -> record fields, check(record) -> errors and
    # layer_metrics(spans, self_times, counters, traced_records)

    def wrappers(self) -> list:
        return []

    def measure(self, spark, seconds: float) -> None:
        self.tracer.spark = spark
        with patched(self.wrappers() if self.trace else []):
            deadline = time.perf_counter() + seconds
            k = 0
            while k < (3 if self.trace else 1) or time.perf_counter() < deadline:
                self.records.append(self._timed(spark, k, traced=self.trace and k % 2 == 1))
                k += 1

    def _timed(self, spark, k: int, traced: bool, **op_args) -> dict:
        rec = {"op": k, "traced": traced, "errors": [], **op_args}
        t0 = time.perf_counter()
        try:
            with self.tracer.operation(self.name, k, traced):
                rec.update(self.run_op(spark, k, **op_args))
        except Exception as ex:  # noqa: BLE001 — a failed op is counted, not fatal
            rec["errors"].append(f"{type(ex).__name__}: {ex}"[:500])
        rec["latency_s"] = time.perf_counter() - t0
        rec["start"], rec["end"] = t0, t0 + rec["latency_s"]
        return rec

    def check_all(self) -> None:
        for rec in self.records:
            if not rec["errors"]:
                try:
                    if self.corrupt:
                        self.corrupt_output(rec)
                    rec["errors"] += self.check(rec)
                except Exception as ex:  # noqa: BLE001 — a broken output is a failure
                    rec["errors"].append(f"check raised {type(ex).__name__}: {ex}"[:500])
            self.cleanup(rec)

    def cleanup(self, rec: dict) -> None:
        pass

    def corrupt_output(self, rec: dict) -> None:
        pass

    # --- traced-run summary ---------------------------------------------
    def trace_report(self, spark, cores: int) -> tuple[dict, dict]:
        """(per-layer metrics, trace file payload) for the traced ops."""
        spans = self.tracer.spans
        self_t = self_times(spans)
        counters = spark_counters(spark, [s["group"] for s in spans])
        traced = [r for r in self.records if r["traced"]]
        plain = [r for r in self.records if not r["traced"]]
        n = len(traced)
        roots = [s for s in spans if s["parent"] is None]
        wall = union_seconds([(s["start"], s["end"]) for s in roots])
        total = defaultdict(int)
        for c in counters.values():
            for key, v in c.items():
                total[key] += v
        metrics = {
            "spark.jobs": total["jobs"] / n if n else 0.0,
            "spark.tasks": total["tasks"] / n if n else 0.0,
            "spark.failed_tasks": float(total["failed_tasks"]),
            "spark.executor_busy_ratio": (
                total["executor_run_ms"] / 1000.0 / (wall * cores) if wall else 0.0),
            "spark.shuffle_write_mb": total["shuffle_write_bytes"] / 2**20 / n if n else 0.0,
            "spark.spill_mb": total["spill_bytes"] / 2**20 / n if n else 0.0,
        }
        t_med = _median([r["latency_s"] for r in traced])
        p_med = _median([r["latency_s"] for r in plain])
        metrics["trace.overhead_s"] = t_med - p_med
        metrics["trace.overhead_share"] = (t_med / p_med - 1.0) if p_med else 0.0
        metrics.update(self.layer_metrics(spans, self_t, counters, traced))
        by_name = defaultdict(lambda: {"calls": 0, "self_s": 0.0, "total_s": 0.0})
        for s in spans:
            row = by_name[s["name"]]
            row["calls"] += 1
            row["self_s"] += self_t[s["id"]]
            row["total_s"] += s["end"] - s["start"]
        payload = {
            "spans": [dict(s, self_s=self_t[s["id"]], **counters[s["group"]]) for s in spans],
            "self_time_by_span": dict(by_name),
            "traced_ops": n,
            "untraced_ops": len(plain),
            "traced_op_p50_s": t_med,
            "untraced_op_p50_s": p_med,
        }
        return metrics, payload


def union_seconds(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class DailyDag(Workload):
    """The reference's daily run end to end through the CLI's ``main``."""

    name = "daily_dag"

    def prepare(self) -> dict:
        self.root, self.manifest = gen_daily.ensure_daily_inputs(self.work, self.seed, self.size)
        self.paths = gen_daily.daily_paths(self.root)
        # the warm-up day is a tiny one: it compiles the same plans
        self.warm_paths = gen_daily.daily_paths(
            gen_daily.ensure_daily_inputs(self.work, self.seed, "tiny")[0])
        self.out_base = os.path.join(self.work, "out", f"daily-{self.seed}")
        shutil.rmtree(self.out_base, ignore_errors=True)
        return self.manifest

    def probe(self, spark) -> None:
        from procurement_system_bigdata_spark.sources import readers

        readers.read_orders_csv(spark, self.warm_paths["orders"]).count()

    @staticmethod
    def run_day(paths: dict, out_root: str) -> None:
        """One daily run through the CLI entry point; its summary line on
        stdout is swallowed so the benchmark's own last line stays last."""
        from procurement_system_bigdata_spark.__main__ import main

        with contextlib.redirect_stdout(io.StringIO()):
            main(["--date", gen_daily.RUN_DATE.isoformat(), "--raw-root", paths["raw_root"],
                  "--out-root", out_root, "--init-sql", paths["init_sql"]])

    def warm(self, spark) -> None:
        out = os.path.join(self.out_base, "warm")
        self.run_day(self.warm_paths, out)
        shutil.rmtree(out, ignore_errors=True)

    def wrappers(self) -> list:
        from procurement_system_bigdata_spark import __main__ as cli
        from procurement_system_bigdata_spark.operators import pipeline
        from procurement_system_bigdata_spark.sources import master_sql, readers, sinks

        w = self.tracer.wrap
        return [
            (cli, "get_spark", w(cli.get_spark, "session.get_spark")),
            (master_sql, "master_data_frames",
             w(master_sql.master_data_frames, "master_sql.master_data_frames")),
            (readers, "read_orders_csv",
             w(readers.read_orders_csv, "readers.orders_csv", materialize=True)),
            (readers, "read_snapshots_json",
             w(readers.read_snapshots_json, "readers.snapshots_json", materialize=True)),
            (pipeline, "run_pipeline", w(pipeline.run_pipeline, "pipeline.run_pipeline")),
            (sinks, "write_single_csv", w(sinks.write_single_csv, "sinks.write_single_csv")),
            (sinks, "write_single_json", w(sinks.write_single_json, "sinks.write_single_json")),
        ]

    def run_op(self, spark, k: int) -> dict:
        out = os.path.join(self.out_base, f"op-{k}")
        self.run_day(self.paths, out)
        return {"out": out}

    @functools.cached_property
    def reference(self) -> checks.DailyReference:
        return checks.DailyReference(self.paths, gen_daily.RUN_DATE)

    def check(self, rec: dict) -> list[str]:
        rec["bytes_written"] = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, files in os.walk(rec["out"]) for f in files
        )
        return self.reference.check(rec["out"])

    def corrupt_output(self, rec: dict) -> None:
        day = gen_daily.RUN_DATE.strftime("%d-%m-%Y")
        path = os.path.join(rec["out"], "output", "supplier_orders", day, "supplier_orders.csv")
        with open(path) as f:
            lines = f.readlines()
        with open(path, "w") as f:
            f.writelines(lines[:-1])

    def cleanup(self, rec: dict) -> None:
        if "out" in rec:
            shutil.rmtree(rec["out"], ignore_errors=True)

    def layer_metrics(self, spans, self_t, counters, traced) -> dict:
        n = len(traced)
        run_groups = [s["group"] for s in spans if s["name"] == "pipeline.run_pipeline"]
        return {
            "master_sql.master_data_frames_s":
                _per_op(spans, {"master_sql.master_data_frames"}, n, self_t),
            "readers.orders_csv_s": _per_op(
                spans, {"readers.orders_csv", "readers.orders_csv.materialize"}, n, self_t),
            "readers.snapshots_json_s": _per_op(
                spans, {"readers.snapshots_json", "readers.snapshots_json.materialize"}, n,
                self_t),
            "readers.rows_in": float(self.manifest["order_lines"] + self.manifest["snapshot_rows"]),
            "pipeline.run_pipeline_s": _per_op(spans, {"pipeline.run_pipeline"}, n, self_t),
            "pipeline.jobs": sum(counters[g]["jobs"] for g in run_groups) / n if n else 0.0,
            "sinks.write_single_csv_s": _per_op(spans, {"sinks.write_single_csv"}, n, self_t),
            "sinks.write_single_json_s": _per_op(spans, {"sinks.write_single_json"}, n, self_t),
            "sinks.bytes_written": _median([r.get("bytes_written", 0) for r in traced]),
        }


class AdhocOlap(Workload):
    """Two analysts' clients drawing TPC-H-shaped registry queries."""

    name = "adhoc_olap"
    clients = ADHOC_CLIENTS

    def prepare(self) -> dict:
        self.sf_dir, manifest = gen_tables.ensure_tpch(self.work, self.seed, self.size)
        return manifest

    def probe(self, spark) -> None:
        from procurement_system_bigdata_spark import catalog

        for t in TPCH_TABLES:
            catalog.load_table(spark, self.sf_dir, t)

    def warm(self, spark) -> None:
        """Untimed pass that runs every query once and compares it with its
        registry oracle, then ``ADHOC_WARM_CYCLES`` untimed cycles of the
        timed loop, so the timed cycles start warm."""
        from procurement_system_bigdata_spark.queries.registry import REGISTRY

        oracle = checks.Oracle(self.sf_dir, TPCH_TABLES)
        expected = {q: oracle.fingerprint(REGISTRY[q].oracle) for q in ADHOC_QUERIES}
        oracle.close()

        def check_one(q):
            try:
                got = checks.spark_fingerprint(
                    REGISTRY[q].fn(spark, self.sf_dir), extra_row=self.corrupt)
            except Exception as ex:  # noqa: BLE001 — recorded as the query's failure
                return q, [f"{type(ex).__name__}: {ex}"[:500]]
            want = expected[q]
            errs = []
            if got[0] != want[0]:
                errs.append(f"{q}: {got[0]} rows, oracle {want[0]}")
            if got[1] != want[1]:
                errs.append(f"{q}: columns {got[1]}, oracle {want[1]}")
            if got[2] != want[2]:
                errs.append(f"{q}: value hash differs from the oracle")
            return q, errs

        # one thread per core: this pass is untimed, so it may use them all
        with ThreadPoolExecutor(os.cpu_count() or 2) as pool:
            self.query_errors = dict(pool.map(check_one, ADHOC_QUERIES))
        self._cycles(spark, random.Random(-self.seed - 1), ADHOC_WARM_CYCLES, 0.0, False)

    def wrappers(self) -> list:
        from procurement_system_bigdata_spark import catalog
        from procurement_system_bigdata_spark.queries import analytics, olap

        traced = self.tracer.wrap(catalog.load_table, "catalog.load_table")
        return [(m, "load_table", traced) for m in (catalog, analytics, olap)]

    def measure(self, spark, seconds: float) -> None:
        """Clients take queries from seeded permutations of the query set,
        one cycle after another; once time is up the cycle in progress is
        finished, so every run executes whole cycles and the same mix."""
        self.tracer.spark = spark
        with patched(self.wrappers() if self.trace else []):
            self.records = self._cycles(
                spark, random.Random(self.seed), ADHOC_MIN_CYCLES, seconds, self.trace)

    def _cycles(self, spark, rng, min_cycles: int, seconds: float, trace: bool) -> list[dict]:
        """Run at least ``min_cycles`` query cycles and until ``seconds``
        have passed, ``self.clients`` closed-loop clients at once; with
        ``trace`` every second cycle is traced.  Returns the records in
        issue order."""
        lock = threading.Lock()
        state = {"cycle": -1, "queue": [], "k": 0}
        records = []
        deadline = time.perf_counter() + seconds

        def next_query():
            with lock:
                if not state["queue"]:
                    done = state["cycle"] + 1 >= min_cycles
                    if done and time.perf_counter() >= deadline:
                        return None
                    order = list(ADHOC_QUERIES)
                    rng.shuffle(order)
                    state["cycle"] += 1
                    state["queue"] = [(state["cycle"], q) for q in order]
                cycle, q = state["queue"].pop(0)
                k = state["k"]
                state["k"] += 1
                return k, cycle, q

        def client():
            while True:
                item = next_query()
                if item is None:
                    return
                k, cycle, q = item
                rec = self._timed(spark, k, trace and cycle % 2 == 1, query=q)
                with lock:
                    records.append(rec)

        with ThreadPoolExecutor(self.clients) as pool:
            for future in [pool.submit(client) for _ in range(self.clients)]:
                future.result()
        return sorted(records, key=lambda r: r["op"])

    def run_op(self, spark, k: int, query: str) -> dict:
        from procurement_system_bigdata_spark.queries.registry import REGISTRY

        with self.tracer.span("queries.build"):
            df = REGISTRY[query].fn(spark, self.sf_dir)
        with self.tracer.span("queries.exec"):
            df.write.format("noop").mode("overwrite").save()
        return {}

    def check(self, rec: dict) -> list[str]:
        return list(self.query_errors.get(rec["query"], [f"{rec['query']}: never checked"]))

    def layer_metrics(self, spans, self_t, counters, traced) -> dict:
        n = len(traced)
        build = sum(s["end"] - s["start"] for s in spans if s["name"] == "queries.build")
        exec_ = sum(s["end"] - s["start"] for s in spans if s["name"] == "queries.exec")
        return {
            "catalog.load_table_s": _per_op(spans, {"catalog.load_table"}, n, self_t),
            "catalog.load_table_calls":
                sum(1 for s in spans if s["name"] == "catalog.load_table") / n if n else 0.0,
            "queries.build_s": _per_op(spans, {"queries.build"}, n, self_t),
            "queries.exec_s": _per_op(spans, {"queries.exec"}, n, self_t),
            "queries.build_share": build / (build + exec_) if build + exec_ else 0.0,
        }


class CorpusCuration(Workload):
    """MinHash pairs -> dedup clusters -> curated corpus, composed here."""

    name = "corpus_curation"

    def prepare(self) -> dict:
        root, self.manifest = gen_tables.ensure_corpus(self.work, self.seed, self.size)
        self.docs_path = os.path.join(root, "documents.parquet")
        # the warm-up pass runs on a tiny corpus: it compiles the same plans
        warm_root, _ = gen_tables.ensure_corpus(self.work, self.seed, "tiny")
        self.warm_docs_path = os.path.join(warm_root, "documents.parquet")
        self.word_counts = gen_tables.corpus_word_counts(self.seed, self.manifest["docs"])
        return self.manifest

    def probe(self, spark) -> None:
        spark.read.parquet(self.warm_docs_path).count()

    def warm(self, spark) -> None:
        self.run_op(spark, -1, self.warm_docs_path)

    def run_op(self, spark, k: int, docs_path: str | None = None) -> dict:
        from procurement_system_bigdata_spark.operators import clustering, dedup
        from procurement_system_bigdata_spark.queries import llmdata

        w = self.tracer.wrap
        docs = spark.read.parquet(docs_path or self.docs_path)
        pairs = w(dedup.minhash_lsh_pairs, "dedup.minhash_lsh_pairs", materialize=True)(
            docs, fast_hash=True)
        clusters = w(clustering.dedup_clusters, "clustering.dedup_clusters",
                     materialize=True)(docs, pairs)
        curated = w(llmdata.curate_corpus, "llmdata.curate_corpus")(
            docs, fast_hash=True, clusters=clusters)
        with self.tracer.span("llmdata.curate_corpus.materialize"):
            rows = curated.collect()
        # the pairs are collected at check time, untimed; the frame's
        # checkpointed inputs are reused
        return {"curated": [r["doc_id"] for r in rows], "pairs_frame": pairs}

    def corrupt_output(self, rec: dict) -> None:
        rec["curated"] = rec["curated"][1:]

    def check(self, rec: dict) -> list[str]:
        from procurement_system_bigdata_spark.queries.llmdata import CURATION_MIN_QUALITY

        rec["pairs"] = [(r["doc_a"], r["doc_b"]) for r in rec.pop("pairs_frame").collect()]
        errors, recall = checks.check_curation(
            self.word_counts, rec["pairs"], rec["curated"], CURATION_MIN_QUALITY)
        rec["recall"] = recall
        return errors

    def layer_metrics(self, spans, self_t, counters, traced) -> dict:
        n = len(traced)
        cl_groups = [s["group"] for s in spans if s["name"].startswith("clustering.")]
        return {
            "dedup.build_s": _per_op(spans, {"dedup.minhash_lsh_pairs"}, n, self_t),
            "dedup.exec_s": _per_op(spans, {"dedup.minhash_lsh_pairs.materialize"}, n, self_t),
            "dedup.pairs_out": _median([len(r.get("pairs", [])) for r in traced]),
            "dedup.true_pair_recall": _median([r.get("recall", 0.0) for r in traced]),
            "clustering.dedup_clusters_s": _per_op(
                spans, {"clustering.dedup_clusters", "clustering.dedup_clusters.materialize"},
                n, self_t),
            "clustering.jobs": sum(counters[g]["jobs"] for g in cl_groups) / n if n else 0.0,
            "llmdata.curate_corpus_s": _per_op(
                spans, {"llmdata.curate_corpus", "llmdata.curate_corpus.materialize"}, n,
                self_t),
            "llmdata.rows_out": _median([len(r.get("curated", [])) for r in traced]),
        }


WORKLOADS = {w.name: w for w in (DailyDag, AdhocOlap, CorpusCuration)}
