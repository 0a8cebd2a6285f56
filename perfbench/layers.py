"""Which library functions the traced run wraps, and how the recorded
spans, counts and Spark metrics become the per-layer metrics.

Every ``*_s`` layer time is a mean self time per operation (total self
time over the traced operations divided by their number), so the layer
times of an operation plus ``trace.uncovered_s`` add up to its wall time.
Counts are per operation too.  The export-source metrics are per
read-back query, which the extraction workload runs after its rounds.
"""

from __future__ import annotations

import statistics
from collections import Counter

# Span name -> per-layer metric of its mean self time per operation.
SPAN_LAYERS = {
    "plans.config_gate.check": "plans.config_gate.check_s",
    "plans.watermark.read": "plans.watermark.read_s",
    "plans.watermark.write": "plans.watermark.write_s",
    "plans.partitions.plan": "plans.partitions.plan_s",
    "functions.mappings.compile": "functions.mappings.compile_s",
    "functions.mappings.assert": "functions.mappings.assert_s",
    "extract.run_extraction": "extract.run_self_s",
    "extract.table": "extract.table_self_s",
    "extract.write_arrow": "extract.write_arrow_s",
    "extract.write_empty": "extract.write_empty_s",
    "plans.manifest.write": "plans.manifest.write_s",
    "fsio.listdir": "fsio.listdir_s",
    "operators.dedup.minhash": "operators.dedup.minhash_s",
    "operators.similarity.rerank": "operators.similarity.rerank_s",
}

PER_LAYER = [
    ("session.get_spark_s", "s"),
    *[(m, "s") for m in SPAN_LAYERS.values()],
    ("plans.partitions.cover_n", "count"),
    ("plans.partitions.delta_n", "count"),
    ("functions.mappings.rows_examined_per_row_written.incremental", "ratio"),
    ("functions.mappings.rows_examined_per_row_written.backfill", "ratio"),
    ("functions.uint256.python_s", "s"),
    ("functions.uint256.bytes_to_python", "bytes"),
    ("extract.partitions_written", "count"),
    ("extract.empty_partitions", "count"),
    ("extract.shuffle_bytes", "bytes"),
    ("plans.manifest.footers_read", "count"),
    ("fsio.listdir_calls", "count"),
    ("sources.export_source.files_scanned", "count"),
    ("sources.export_source.files_pruned_ratio", "ratio"),
    ("sources.export_source.python_s", "s"),
    ("operators.dedup.pairs_out", "count"),
    ("operators.similarity.bytes_to_python", "bytes"),
    ("spark.jobs_per_op", "count"),
    ("spark.stages_per_op", "count"),
    ("spark.shuffle_bytes_per_op", "bytes"),
    ("trace.op_s", "s"),
    ("trace.uncovered_s", "s"),
    ("trace.overhead_s", "s"),
]


def install(tracer) -> None:
    """Wrap the library's functions where they are looked up."""
    import pyarrow.parquet as pq

    from subgraph_extractor_spark import extract, fsio

    def cover(t, args, kwargs, result):
        t.count("cover_n", len(kwargs["cover"] if "cover" in kwargs else args[4]))

    def footer(t, args, kwargs, result):
        if t.inside("plans.manifest.write"):
            t.count("footers_read")

    tracer.patch(extract, "run_extraction", "extract.run_extraction")
    tracer.patch(extract, "ensure_config_unchanged", "plans.config_gate.check")
    tracer.patch(extract, "read_watermark", "plans.watermark.read")
    tracer.patch(extract, "write_watermark", "plans.watermark.write")
    tracer.patch(extract, "get_partitions", "plans.partitions.plan")
    tracer.patch(
        extract, "plan_delta", "plans.partitions.plan",
        lambda t, a, k, r: t.count("delta_n", len(r)),
    )
    tracer.patch(extract, "compile_column_mappings", "functions.mappings.compile")
    tracer.patch(extract, "enforce_assertions", "functions.mappings.assert")
    tracer.patch(extract, "extract_table", "extract.table", cover)
    tracer.patch(extract, "write_partition_files_arrow", "extract.write_arrow")
    tracer.patch(
        extract, "_write_empty_partition", "extract.write_empty",
        lambda t, a, k, r: t.count("empty_partitions"),
    )
    tracer.patch(extract, "write_consolidated_metadata", "plans.manifest.write")
    tracer.patch(
        fsio, "listdir", "fsio.listdir", lambda t, a, k, r: t.count("listdir_calls")
    )
    tracer.patch(pq, "read_metadata", None, footer)


def _node_sum(execs, prefixes, node, metric) -> float:
    return sum(
        ms.get(metric, 0.0)
        for e in execs
        if e.description.startswith(prefixes)
        for name, ms in e.nodes
        if name.startswith(node)
    )


def _examined_per_written(ops, kind: str) -> float:
    """Source rows the assertion scans read per row in the files the
    operations of ``kind`` added."""
    mine = [r for r in ops if r.kind == kind]
    written = sum(r.counts.get("rows_written", 0.0) for r in mine)
    examined = _node_sum(
        [e for r in mine for e in r.execs], ("functions.mappings.assert",),
        "Scan", "number of output rows",
    )
    return examined / written if written else 0.0


def layer_metrics(tracer, untraced_walls: list[float]) -> dict:
    """Per-layer metrics over the tracer's operations."""
    ops = tracer.records
    n = len(ops)
    ids = {r.op for r in ops}
    st = tracer.self_times(ids)
    execs = [e for r in ops for e in r.execs]
    counts = Counter()
    for r in ops:
        counts.update(r.counts)
    out = {m: st.get(span, 0.0) / n for span, m in SPAN_LAYERS.items()}

    extract_prefix = ("extract.", "functions.", "plans.")
    delta = counts.get("delta_n", 0.0)
    empty = counts.get("empty_partitions", 0.0)
    out.update(
        {
            "plans.partitions.cover_n": counts.get("cover_n", 0.0) / n,
            "plans.partitions.delta_n": delta / n,
            **{
                f"functions.mappings.rows_examined_per_row_written.{kind}":
                    _examined_per_written(ops, kind)
                for kind in ("incremental", "backfill")
            },
            "functions.uint256.python_s": _node_sum(
                execs, extract_prefix, "ArrowEvalPython", "time to run Python workers"
            ) / n,
            "functions.uint256.bytes_to_python": _node_sum(
                execs, extract_prefix, "ArrowEvalPython", "data sent to Python workers"
            ) / n,
            "extract.partitions_written": (delta - empty) / n,
            "extract.empty_partitions": empty / n,
            "extract.shuffle_bytes": _node_sum(
                execs, ("extract.",), "Exchange", "shuffle bytes written"
            ) / n,
            "plans.manifest.footers_read": counts.get("footers_read", 0.0) / n,
            "fsio.listdir_calls": counts.get("listdir_calls", 0.0) / n,
            "operators.dedup.pairs_out": counts.get("pairs_out", 0.0) / n,
            "operators.similarity.bytes_to_python": _node_sum(
                execs, ("operators.similarity",), "ArrowEvalPython",
                "data sent to Python workers",
            ) / n,
            "spark.jobs_per_op": sum(r.jobs for r in ops) / n,
            "spark.stages_per_op": sum(r.stages for r in ops) / n,
            "spark.shuffle_bytes_per_op": sum(r.shuffle_bytes for r in ops) / n,
        }
    )

    reads = [e for e in execs if e.description == "sources.export_source.read"]
    scanned, python_s = 0, 0.0
    for e in reads:
        scanned += e.first_stage_tasks
        python_s += e.first_stage_run_s
    manifest_files = counts.get("manifest_files", 0.0)
    out.update(
        {
            "sources.export_source.files_scanned": scanned / len(reads) if reads else 0.0,
            "sources.export_source.files_pruned_ratio": (
                1.0 - scanned / manifest_files if manifest_files else 0.0
            ),
            "sources.export_source.python_s": python_s / len(reads) if reads else 0.0,
        }
    )

    wall = sum(r.wall for r in ops) / n
    out["trace.op_s"] = wall
    out["trace.uncovered_s"] = st.get("op", 0.0) / n
    # Traced and untraced operations alternate and hold the same mix.
    out["trace.overhead_s"] = (
        wall - statistics.fmean(untraced_walls) if untraced_walls else 0.0
    )
    return out
