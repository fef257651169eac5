"""Generate COVERAGE.md: SURVEY §2 operator inventory -> where each operator
lives in this engine (query registry entries, source/sink modules, tests).

Run: python tools/gen_coverage.py   (rewrites COVERAGE.md at the repo root)
"""

from __future__ import annotations

import os
import sys
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from procurement_system_bigdata_spark.queries.registry import REGISTRY

# Operators covered outside the query registry (module paths + tests).
STATIC = {
    "S1": "sources/readers.read_orders_csv (copy collapses into scan); golden test",
    "S2": "sources/readers.read_stock_json; tests/test_golden_reference.py fixtures",
    "S3": "sources/readers.read_json_array; golden test (snapshot.json)",
    "S4": "sources/readers.read_snapshots_json (last-write-wins) + queries snapshot_upsert",
    "S5": "catalog.register_views (+ adhoc_sql query)",
    "S6": "catalog.register_views re-registration is idempotent (DROP/CREATE parity)",
    "S7": "sources/readers.read_orders_csv (all-VARCHAR schema + CAST); queries aggregate_orders",
    "S8": "sources/readers.read_jdbc_table (production path; parquet stand-ins in harness)",
    "S9": "operators/pipeline.inventory_for_date + queries events_date_filter",
    "S10": "queries row_counts",
    "S11": "sources/sinks.write_single_json; tests/test_sources_sinks.py",
    "S12": "sources/sinks.write_single_csv; golden daily-run flow",
    "S13": "sources/sinks.day_dir + write_partitioned (scale path)",
    "S14": "sources/sinks.write_task_log; tests/test_sources_sinks.py",
    "P13": "operators/pipeline.run_pipeline (calculation_date append)",
    "P14": "operators/pipeline.number_purchase_orders (PO-id synthesis) + queries supplier_orders",
    "D1": "operators/pipeline.run_pipeline (sequential stage composition)",
    "D2": "per-stage retries AS CODE: operators/pipeline.retry_stage "
    "(retries=2, injectable delay — reference pipeline.py:806-811) wraps "
    "run_pipeline's job-executing stages; exhausted retries degrade to the "
    "all_done 0-default summary (tests/test_retries.py)",
    "D3": "run_pipeline summary dict (XCom replacement) + queries pipeline_summary",
    "D4": "run_pipeline 0-default summary metrics + queries pipeline_summary",
    "W2-scale": "operators/ranking.with_global_sequence (single-partition-free variant)",
    "EXT-multimodal": "operators/multimodal (mapInPandas feature-extract, 1:1 resize, 1:N frame-sample); real codecs: PNG incl. Adam7 (r9), JPEG baseline + 4:2:0/4:2:2 (r9) + progressive SOF2 incl. restart markers + lossless SOF3 (r10), MP4/ISO-BMFF container + MJPEG tracks (r10), WAV incl. G.711 + IMA ADPCM (r10), PPM/BMP/RAWV; gated tail: arithmetic-coded/hierarchical JPEG, inter-frame video H.264/HEVC, perceptual audio MP3/AAC (PIL/ffmpeg seam)",
    "EXT-streaming": "streaming/events (watermarked rollup == batch; stream "
    "dedup; session_window == batch; applyInPandasWithState custom stateful "
    "accumulator == batch across micro-batches; foreachBatch MERGE upsert "
    "sink == batch snapshot_upsert; stream-static broadcast enrichment "
    "join == batch)",
    "EXT-merge": "operators/merge (keyed MERGE upsert, SCD2); tests/test_merge.py",
    "EXT-skew": "operators/skew (salted agg + hot-key salted join); tests/test_skew.py",
    "EXT-bucketing": "operators/bucketing (shuffle-free co-located join/agg "
    "layout); tests/test_bucketing.py",
}

DESCRIPTIONS = {
    "S": "Sources / sinks / DDL (SURVEY §2.1)",
    "P": "Projections / filters / scalar expressions (§2.2)",
    "J": "Joins (§2.3)",
    "A": "Aggregations (§2.4)",
    "W": "Window functions (§2.5)",
    "O": "Sorts / limits (§2.6)",
    "C": "CTEs / query composition (§2.7)",
    "D": "Orchestration-level operators (§2.10)",
    "E": "Extensions beyond the reference (north_star)",
}


def main() -> None:
    by_op: dict[str, list[str]] = defaultdict(list)
    for name, spec in REGISTRY.items():
        oracle = "oracle" if spec.oracle else "rows-only"
        for op in spec.ops:
            by_op[op].append(f"`{name}` ({oracle})")
    for op, loc in STATIC.items():
        by_op[op].append(loc)

    lines = [
        "# COVERAGE — SURVEY §2 operator inventory -> engine locations",
        "",
        "Generated by `python tools/gen_coverage.py` from the query registry;",
        "each row shows where a reference operator is implemented and how it",
        "is checked (DuckDB oracle / rows-only / tests).",
        "",
        "| Operator | Covered by |",
        "|---|---|",
    ]

    def sort_key(op: str):
        head = op.rstrip("0123456789-scale")
        num = "".join(ch for ch in op if ch.isdigit())
        return (head, int(num) if num else 0, op)

    for op in sorted(by_op, key=sort_key):
        lines.append(f"| {op} | {'; '.join(sorted(set(by_op[op])))} |")

    lines += [
        "",
        f"Registry: {len(REGISTRY)} queries "
        f"({sum(1 for s in REGISTRY.values() if s.oracle)} oracle-checked, "
        f"{sum(1 for s in REGISTRY.values() if not s.oracle)} rows-only).",
        "",
        "Golden parity against the reference's recorded outputs:",
        "`tests/test_golden_reference.py` (aggregated_orders / net_demand /",
        "supplier_orders row-for-row, 348 rows each, incl. the documented",
        "nondeterminism and float quirks).",
    ]
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "COVERAGE.md"), "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote COVERAGE.md ({len(by_op)} operators)")


if __name__ == "__main__":
    main()
