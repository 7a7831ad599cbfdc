"""The benchmark's workloads: one closed-loop iteration each, plus the
output checks that run after it, outside the timed window.

Every iteration calls only the package's public functions. Spans are
named after the module that owns the function, so the traced report
reads as a per-layer split of the iteration.
"""

from __future__ import annotations

import functools
import math
import os
import shutil

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from parquet_sampler_spark import queries
from parquet_sampler_spark.operators import sample as sample_mod
from parquet_sampler_spark.operators.dedup import minhash_dedup
from parquet_sampler_spark.operators.quality import bigram_rarity_backoff
from parquet_sampler_spark.operators.sample import sample_exact
from parquet_sampler_spark.operators.semijoin import semi_join_reduce
from parquet_sampler_spark.operators.similarity import (
    embedding_neardup_pairs,
    semantic_dedup,
)
from parquet_sampler_spark.operators.vocab import bpe_encode, bpe_merge_rounds
from parquet_sampler_spark.sources.io import (
    metadata_row_count,
    read_parquet,
    write_parquet,
)

LI_KEYS = ["l_orderkey", "l_linenumber"]

# (reduced table, its key, build table, the build's foreign key): the
# reference's documented chain — orders by the sample, then customer,
# nation and region down the chain, part and supplier by the sample
STAR_CHAIN = [
    ("orders", "o_orderkey", "lineitem_sample", "l_orderkey"),
    ("customer", "c_custkey", "orders", "o_custkey"),
    ("nation", "n_nationkey", "customer", "c_nationkey"),
    ("region", "r_regionkey", "nation", "n_regionkey"),
    ("part", "p_partkey", "lineitem_sample", "l_partkey"),
    ("supplier", "s_suppkey", "lineitem_sample", "l_suppkey"),
]
STAR_TABLES = ["lineitem"] + [t for t, _, _, _ in STAR_CHAIN]
CORPUS_TABLES = ["documents", "embeddings"]

RATIOS = {"star_snapshot": 0.01, "star_snapshot_large_k": 0.5}
WORKLOADS = ("star_snapshot", "star_snapshot_large_k", "corpus_curation")
# untimed warm-up iterations after set-up's one, per workload: the star
# step time falls ~15% over the first three warm iterations; a corpus
# run times a single iteration, and one more warm-up (~17 s a run) does
# not fit the run budget
WARMUPS = {"star_snapshot": 2, "star_snapshot_large_k": 2, "corpus_curation": 0}
PAIR_THRESHOLD = 0.9


class CheckFailed(AssertionError):
    pass


def _expect(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def _stats() -> dict[str, int]:
    return {
        "prefilter_hit": sample_mod.PREFILTER_STATS["hit"],
        "prefilter_fallback": sample_mod.PREFILTER_STATS["fallback"],
        "select_topk": sample_mod.SELECT_STATS["topk"],
        "select_threshold": sample_mod.SELECT_STATS["threshold"],
    }


# ---------------------------------------------------------------------------
# star_snapshot / star_snapshot_large_k
# ---------------------------------------------------------------------------

def star_iteration(spark, tr, data: dict[str, str], out: str,
                   ratio: float, seed: int) -> dict:
    """Sample lineitem, then semi-join-reduce every dimension against the
    written sample, writing each output as one Parquet file."""
    before = _stats()
    paths = {"lineitem_sample": f"{out}/lineitem_sample"}
    paths.update({t: f"{out}/{t}" for t, _, _, _ in STAR_CHAIN})
    with tr.span("sources.io.metadata_row_count"):
        n = metadata_row_count(data["lineitem"])
    with tr.span("sources.io.read_parquet"):
        li = read_parquet(spark, data["lineitem"])
    with tr.span("operators.sample.sample_exact"):
        s = sample_exact(li, ratio, seed=seed, key_cols=LI_KEYS,
                         tie_cols=queries._LINEITEM_TIE, total_rows=n)
    with tr.span("sources.io.write_parquet"):
        write_parquet(s, paths["lineitem_sample"], single_file=True)
    for tbl, key, build, fk in STAR_CHAIN:
        with tr.span("sources.io.read_parquet"):
            probe_df = read_parquet(spark, data[tbl])
            build_df = read_parquet(spark, paths[build])
        with tr.span("operators.semijoin.semi_join_reduce"):
            red = semi_join_reduce(probe_df, key, build_df, fk)
        with tr.span("operators.semijoin.exec"):
            write_parquet(red, paths[tbl], single_file=True)
    after = _stats()
    return {"n": n, "ratio": ratio, "seed": seed, "paths": paths,
            "sampler": {k: after[k] - before[k] for k in after}}


def _files(path: str) -> list[str]:
    return sorted(
        os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")
    )


def star_check(con, data: dict[str, str], res: dict) -> dict:
    """Check one star iteration's files; return its load-independent
    counts. Runs after the timed iteration."""
    paths = res["paths"]
    counts = {"rows_out": 0, "bytes_written": 0, "files_written": 0,
              "build_keys": 0, "probe_rows": 0}
    for p in paths.values():
        files = _files(p)
        counts["files_written"] += len(files)
        counts["bytes_written"] += sum(os.path.getsize(f) for f in files)
        counts["rows_out"] += metadata_row_count(p)

    k = math.floor(res["n"] * res["ratio"])
    got = metadata_row_count(paths["lineitem_sample"])
    _expect(got == k, f"sample has {got} rows, want floor(n*ratio) = {k}")
    sample_glob = f"{paths['lineitem_sample']}/*.parquet"
    cte = queries._sample_cte(res["ratio"], res["seed"])
    diff = con.execute(
        f"""WITH lineitem AS (SELECT * FROM read_parquet('{data["lineitem"]}')),
        {cte},
        got AS (SELECT {queries._LINEITEM_COLS} FROM read_parquet('{sample_glob}'))
        SELECT (SELECT count(*) FROM (SELECT * FROM lineitem_sample
                                      EXCEPT ALL SELECT * FROM got)),
               (SELECT count(*) FROM (SELECT * FROM got
                                      EXCEPT ALL SELECT * FROM lineitem_sample))"""
    ).fetchone()
    _expect(diff == (0, 0), f"sample differs from the DuckDB oracle: {diff}")

    for tbl, key, build, fk in STAR_CHAIN:
        red = f"{paths[tbl]}/*.parquet"
        bld = f"{paths[build]}/*.parquet"
        missing, extra, n_keys = con.execute(
            f"""WITH r AS (SELECT DISTINCT {key} AS k FROM read_parquet('{red}')),
                     b AS (SELECT DISTINCT {fk} AS k FROM read_parquet('{bld}')
                           WHERE {fk} IS NOT NULL)
            SELECT (SELECT count(*) FROM b ANTI JOIN r USING (k)),
                   (SELECT count(*) FROM r ANTI JOIN b USING (k)),
                   (SELECT count(*) FROM b)"""
        ).fetchone()
        _expect(missing == 0 and extra == 0,
                f"{tbl}: reduced key set != build keys "
                f"({missing} missing, {extra} extra)")
        counts["build_keys"] += n_keys
        counts["probe_rows"] += metadata_row_count(data[tbl])
    counts["reduced_rows"] = counts["rows_out"] - got
    counts.update(res["sampler"])
    return counts


# ---------------------------------------------------------------------------
# corpus_curation
# ---------------------------------------------------------------------------

def corpus_iteration(spark, tr, data: dict[str, str], seed: int) -> dict:
    """Run every corpus operator and materialize each output by
    collecting its rows, which the checks then read."""
    docs = read_parquet(spark, data["documents"])
    emb = read_parquet(spark, data["embeddings"]).select("vec_id", "embedding")
    fold = F.pmod(F.col("doc_id") + F.lit(seed), F.lit(5))
    steps = [
        ("operators.dedup.minhash_dedup", "minhash", lambda: minhash_dedup(
            docs, "doc_id", "text", n=2, threshold=0.5, seed=seed)),
        ("operators.similarity.embedding_neardup_pairs", "pairs",
         lambda: embedding_neardup_pairs(
             emb, "vec_id", "embedding", threshold=PAIR_THRESHOLD, method="block",
             seed=seed)),
        ("operators.similarity.semantic_dedup", "semantic",
         lambda: semantic_dedup(emb, "vec_id", "embedding", nlist=16,
                                tau=0.92, seed=seed)),
        ("operators.quality.bigram_rarity_backoff", "rarity",
         lambda: bigram_rarity_backoff(
             docs.filter(fold == 0), "doc_id", "text",
             fit_df=docs.filter(fold != 0))),
        ("operators.vocab.bpe", "bpe", lambda: bpe_encode(
            docs, "text", bpe_merge_rounds(docs, "doc_id", "text", rounds=4))),
    ]
    outputs = {}
    for span, name, build in steps:
        with tr.span(span):
            outputs[name] = build().collect()
    return {"seed": seed, "outputs": outputs}


@functools.cache
def _pair_oracle(path: str) -> tuple[set, set]:
    """Brute-force cosine pairs of the embeddings file in float64:
    ``(pairs surely at or above the threshold, pairs that may be)``.
    The two differ only by pairs within 1e-6 of it, where float32
    rounding may decide either way."""
    t = pq.read_table(path, columns=["vec_id", "embedding"])
    ids = t.column("vec_id").to_numpy()
    v = np.stack(t.column("embedding").to_numpy(zero_copy_only=False)).astype(np.float64)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    cos = v @ v.T
    a, b = np.triu_indices(len(ids), 1)
    c = cos[a, b]

    def pairs(mask):
        return {(min(x, y), max(x, y)) for x, y in zip(ids[a[mask]].tolist(),
                                                       ids[b[mask]].tolist())}

    return pairs(c >= PAIR_THRESHOLD + 1e-6), pairs(c >= PAIR_THRESHOLD - 1e-6)


def corpus_check(con, data: dict[str, str], res: dict) -> dict:
    """Check the collected corpus outputs; return their load-independent
    counts. Runs after the timed iteration."""
    out = res["outputs"]
    n_docs = metadata_row_count(data["documents"])
    n_emb = metadata_row_count(data["embeddings"])
    counts = {}

    def ids(name: str, col: str, n_in: int) -> list[int]:
        got = [r[col] for r in out[name]]
        _expect(len(got) == len(set(got)), f"{name}: duplicate ids")
        _expect(all(i is not None and 0 <= i < n_in for i in got),
                f"{name}: ids outside the input")
        counts[f"{name}_rows"] = len(got)
        return got

    survivors = ids("minhash", "doc_id", n_docs)
    _expect(0 < len(survivors) < n_docs, "minhash: dropped nothing or all")
    ids("semantic", "vec_id", n_emb)
    pairs = [(r["id_a"], r["id_b"]) for r in out["pairs"]]
    _expect(all(a < b for a, b in pairs), "pairs: some id_a >= id_b")
    _expect(len(pairs) == len(set(pairs)), "pairs: duplicate pairs")
    sure, maybe = _pair_oracle(data["embeddings"])
    missing, extra = len(sure - set(pairs)), len(set(pairs) - maybe)
    _expect(missing == 0 and extra == 0, "pairs: differ from the numpy "
            f"oracle ({missing} missing, {extra} extra)")
    counts["pairs_rows"] = len(pairs)
    ids("rarity", "doc_id", n_docs)
    enc = out["bpe"]
    _expect(len(enc) == n_docs, "bpe: encode dropped or added rows")
    counts["bpe_rows"] = len(enc)
    counts["rows_out"] = sum(v for k, v in counts.items() if k.endswith("_rows"))
    counts.update({"bytes_written": 0, "files_written": 0})
    return counts


def clear_outputs(out: str) -> None:
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)
