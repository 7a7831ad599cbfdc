"""Per-layer metrics of the traced run.

One row per traced iteration; the report takes the median of each
metric over those rows. ``digest`` picks the per-layer metrics named in
``BENCHMARK.json`` for the last stdout line; the full report (every
span's Spark counters) is printed on the line before it.
"""

from __future__ import annotations

import json
import statistics
from pathlib import Path

from spans import SPARK_COUNTERS

ROOT = Path(__file__).resolve().parent.parent

SAMPLER = ("prefilter_hit", "prefilter_fallback", "select_topk",
           "select_threshold")
# span -> the per-layer wall-time metric it feeds; the semi-join's sink
# action is a Parquet write too, so it also counts in write_parquet_s
WALL = {
    "sources.io.metadata_row_count": ["sources.io.metadata_row_count_s"],
    "sources.io.write_parquet": ["sources.io.write_parquet_s"],
    "operators.sample.sample_exact": ["operators.sample.sample_exact_s"],
    "operators.semijoin.exec": ["operators.semijoin.exec_s",
                                "sources.io.write_parquet_s"],
    "operators.dedup.minhash_dedup": ["operators.dedup.minhash_dedup_s"],
    "operators.similarity.embedding_neardup_pairs":
        ["operators.similarity.embedding_neardup_pairs_s"],
    "operators.similarity.semantic_dedup":
        ["operators.similarity.semantic_dedup_s"],
    "operators.quality.bigram_rarity_backoff":
        ["operators.quality.bigram_rarity_backoff_s"],
    "operators.vocab.bpe": ["operators.vocab.bpe_s"],
}
# counts that do not depend on load: equal on two runs of one seed
EXACT = ("spark.jobs", "spark.stages", "spark.tasks", "bytes_written",
         "files_written", "rows_out") + SAMPLER

def layer_row(tracer, counts: dict | None) -> dict:
    """The per-layer metrics of one traced iteration."""
    row = {m: 0.0 for ms in WALL.values() for m in ms}
    for span, wall in tracer.wall.items():
        for m in WALL.get(span, ()):
            row[m] += wall
    row.update(tracer.totals())
    row["spans"] = {
        span: {"wall_s": tracer.wall[span], **tracer.counts.get(span, {})}
        for span in tracer.wall
    }
    c = counts or {}
    row["sources.io.write_parquet_bytes"] = c.get("bytes_written", 0)
    row["sources.io.write_parquet_files"] = c.get("files_written", 0)
    for k in SAMPLER:
        row[f"operators.sample.{k}"] = c.get(k, 0)
    row["operators.semijoin.build_keys"] = c.get("build_keys", 0)
    row["operators.semijoin.selectivity"] = (
        c["reduced_rows"] / c["probe_rows"] if c.get("probe_rows") else 0.0)
    return row


def count_row(tracer, counts: dict | None) -> dict:
    """The load-independent counts of one traced iteration."""
    c = dict(counts or {})
    c.update(tracer.totals())
    return {k: c.get(k, 0) for k in EXACT}


def _median(vals):
    return float(statistics.median(vals)) if vals else 0.0


def report(rows: list[dict], session_s: float, overhead: float,
           growth_rdds: int, growth_tmp: int) -> dict:
    keys = [k for k in (rows[0] if rows else {}) if k != "spans"]
    out = {k: _median([r[k] for r in rows]) for k in keys}
    out["session.get_spark_s"] = session_s
    out["trace.overhead"] = overhead
    out["leak.persisted_rdds_growth"] = growth_rdds
    out["leak.tmp_entries_growth"] = growth_tmp
    out["traced_iterations"] = len(rows)
    spans = sorted({s for r in rows for s in r["spans"]})
    out["spans"] = {
        s: {k: _median([r["spans"][s][k] for r in rows if s in r["spans"]])
            for k in ("wall_s",) + SPARK_COUNTERS}
        for s in spans
    }
    return out


def digest(rep: dict) -> dict:
    """The per-layer metrics ``BENCHMARK.json`` lists, with its units."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())["per_layer"]
    return {m["name"]: {"value": rep.get(m["name"], 0), "unit": m["unit"]}
            for m in spec}
