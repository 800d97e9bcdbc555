"""A/B the within-cell pair-dot formulations of semantic_dedup (guide §1/§4).

The pair stage computes one 64-dim integer dot per candidate pair through
F.zip_with + F.aggregate — both higher-order functions, evaluated
INTERPRETED (one lambda call per element), so a ~1250-row cell pays
~128 interpreted calls x m^2/2 pairs. Variants measured here:

  hof      — shipped form (zip_with product array + aggregate fold)
  zipagg   — arrays_zip (codegen) + aggregate fold (interpreted): half the
             lambda calls
  arrow    — mapInPandas numpy einsum over the pair batch (int64-exact),
             cosine math left in Spark expressions, same output schema
  floor    — dot replaced by lit(1): the join/shuffle-only floor (results
             meaningless; isolates how much of the stage the dot costs)

All variants keep the identical pair set (same blocked_self_join) and
exact integer dots, so hof/zipagg/arrow results are compared for equality.

Usage: python scripts/prof_semantic_dot.py [sf_dir] [n_runs]
(SPARK_GRAFT_SCALING_MPB honored, as in bench_scaling.py)
"""
from __future__ import annotations

import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F
from pyspark.sql import types as T

from fund_data_pipeline_spark.operators.similarity import blocked_self_join
from fund_data_pipeline_spark.queries.registry import table
from fund_data_pipeline_spark.queries.vectors import (
    N_IVF_CELLS,
    SEMDEDUP_TAU,
    _cell_dist_arr,
    _dot,
    _quant,
    semantic_dedup,
)
from fund_data_pipeline_spark.session import get_spark


def _base(spark, sf_dir, n_cells=N_IVF_CELLS):
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", _quant("embedding").alias("qe")
    )
    cents = (
        emb.filter(F.col("vec_id") < n_cells)
        .select(F.col("vec_id").alias("cid"), "qe")
        .collect()
    )
    assigned = emb.withColumn("cell", F.array_min(_cell_dist_arr(cents))["cid"])
    return assigned.withColumn("norm2", _dot(F.col("qe"), F.col("qe")))


def _finish(pairs, threshold=SEMDEDUP_TAU):
    cosine = F.when(
        (F.col("hnorm") > 0) & (F.col("lnorm") > 0),
        F.col("dot").cast("double")
        / (F.sqrt(F.col("hnorm").cast("double")) * F.sqrt(F.col("lnorm").cast("double"))),
    )
    return (
        pairs.select("vec_id", "cell", "lo_id", cosine.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
        .groupBy("vec_id", "cell")
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.max("cosine").alias("best_cosine"),
            F.min("lo_id").alias("witness_id"),
        )
    )


def _joined(cells, block_size=4096):
    return blocked_self_join(
        cells, ["cell"], "vec_id", block_size, payload_cols=["qe", "norm2"]
    )


def v_hof(spark, sf_dir):
    j = _joined(_base(spark, sf_dir))
    pairs = j.select(
        F.col("b.vec_id").alias("vec_id"),
        F.col("b.cell").alias("cell"),
        F.col("a.vec_id").alias("lo_id"),
        _dot(F.col("b.qe"), F.col("a.qe")).alias("dot"),
        F.col("b.norm2").alias("hnorm"),
        F.col("a.norm2").alias("lnorm"),
    )
    return _finish(pairs)


def v_zipagg(spark, sf_dir):
    j = _joined(_base(spark, sf_dir))
    zipped = F.arrays_zip(F.col("b.qe").alias("x"), F.col("a.qe").alias("y"))
    dot = F.aggregate(
        zipped, F.lit(0).cast("long"), lambda acc, v: acc + v["x"] * v["y"]
    )
    pairs = j.select(
        F.col("b.vec_id").alias("vec_id"),
        F.col("b.cell").alias("cell"),
        F.col("a.vec_id").alias("lo_id"),
        dot.alias("dot"),
        F.col("b.norm2").alias("hnorm"),
        F.col("a.norm2").alias("lnorm"),
    )
    return _finish(pairs)


_ARROW_OUT = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("cell", T.LongType()),
        T.StructField("lo_id", T.LongType()),
        T.StructField("dot", T.LongType()),
        T.StructField("hnorm", T.LongType()),
        T.StructField("lnorm", T.LongType()),
    ]
)


def _pair_dot_kernel(batches):
    import numpy as np
    import pandas as pd

    for pdf in batches:
        if not len(pdf):
            continue
        a = np.stack(pdf["qe_b"].to_numpy()).astype("int64")
        b = np.stack(pdf["qe_a"].to_numpy()).astype("int64")
        dots = np.einsum("ij,ij->i", a, b)
        yield pd.DataFrame(
            {
                "vec_id": pdf["vec_id"],
                "cell": pdf["cell"],
                "lo_id": pdf["lo_id"],
                "dot": dots,
                "hnorm": pdf["hnorm"],
                "lnorm": pdf["lnorm"],
            }
        )


def v_arrow(spark, sf_dir):
    j = _joined(_base(spark, sf_dir))
    narrow = j.select(
        F.col("b.vec_id").alias("vec_id"),
        F.col("b.cell").alias("cell"),
        F.col("a.vec_id").alias("lo_id"),
        F.col("b.qe").alias("qe_b"),
        F.col("a.qe").alias("qe_a"),
        F.col("b.norm2").alias("hnorm"),
        F.col("a.norm2").alias("lnorm"),
    )
    pairs = narrow.mapInPandas(_pair_dot_kernel, _ARROW_OUT)
    return _finish(pairs)


def v_arrow32(spark, sf_dir):
    """Same Arrow kernel, half the boundary bytes: the quantized values are
    round(x*1e6) with |x| <= ~2147 for any sane embedding, so the pair
    payload casts to array<int> (ANSI: an overflow would throw loudly, not
    truncate); the kernel widens back to int64 before the product."""
    j = _joined(_base(spark, sf_dir))
    narrow = j.select(
        F.col("b.vec_id").alias("vec_id"),
        F.col("b.cell").alias("cell"),
        F.col("a.vec_id").alias("lo_id"),
        F.col("b.qe").cast("array<int>").alias("qe_b"),
        F.col("a.qe").cast("array<int>").alias("qe_a"),
        F.col("b.norm2").alias("hnorm"),
        F.col("a.norm2").alias("lnorm"),
    )
    pairs = narrow.mapInPandas(_pair_dot_kernel, _ARROW_OUT)
    return _finish(pairs)


def v_cogroup(spark, sf_dir):
    """The shipped r16 form: cogrouped block-matmul kernel — block ROWS
    cross the Arrow boundary (once per partner block), dots are one exact
    float64 matmul per block pair, only threshold-passing pairs emitted."""
    from fund_data_pipeline_spark.operators.similarity import (
        PAIR_COSINE_BLOCK,
        blocked_pair_cosine_arrow,
    )

    cells = _base(spark, sf_dir)
    qualifying = blocked_pair_cosine_arrow(
        cells, ["cell"], "vec_id", vec_col="qe", norm_col="norm2",
        threshold=SEMDEDUP_TAU, block_size=PAIR_COSINE_BLOCK,
    )
    return (
        qualifying.select(
            F.col("vec_id_b").alias("vec_id"), "cell",
            F.col("vec_id_a").alias("lo_id"), "cosine",
        )
        .groupBy("vec_id", "cell")
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.max("cosine").alias("best_cosine"),
            F.min("lo_id").alias("witness_id"),
        )
    )


def v_floor(spark, sf_dir):
    j = _joined(_base(spark, sf_dir))
    pairs = j.select(
        F.col("b.vec_id").alias("vec_id"),
        F.col("b.cell").alias("cell"),
        F.col("a.vec_id").alias("lo_id"),
        F.lit(1).cast("long").alias("dot"),
        F.col("b.norm2").alias("hnorm"),
        F.col("a.norm2").alias("lnorm"),
    )
    return _finish(pairs)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/repo/.localdata/sf1"
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    spark = get_spark("prof_semantic_dot")
    mpb = os.environ.get("SPARK_GRAFT_SCALING_MPB")
    if mpb:
        spark.conf.set("spark.sql.files.maxPartitionBytes", mpb)

    ref = sorted(tuple(r) for r in v_hof(spark, sf_dir).collect())
    print(f"ref rows: {len(ref)}", flush=True)
    checks = os.environ.get("PROF_CHECKS", "zipagg,arrow,arrow32").split(",")
    all_v = {
        "zipagg": v_zipagg,
        "arrow": v_arrow,
        "arrow32": v_arrow32,
        "cogroup": v_cogroup,
        "hof": v_hof,
        "floor": v_floor,
    }
    for name in checks:
        if name in ("hof", "floor"):
            continue
        rows = sorted(tuple(r) for r in all_v[name](spark, sf_dir).collect())
        print(f"{name} identical: {rows == ref}", flush=True)

    names = os.environ.get(
        "PROF_VARIANTS", "hof,zipagg,arrow,arrow32,floor"
    ).split(",")
    variants = [(n, all_v[n]) for n in names]
    for label, fn in variants:
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()  # warm
        runs = []
        for _ in range(n):
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            runs.append(time.perf_counter() - t0)
        print(f"{label}: min={min(runs):.2f} runs={[round(r, 2) for r in runs]}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
