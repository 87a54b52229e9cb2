"""Embedding-column maintenance ops for the vector half of a training
pipeline: L2 normalization and int8 quantization (the storage format
most ANN/serving systems ingest).

Everything is expression-only array math (transform/aggregate) — JVM
codegen, no UDF, scan-shaped (zero shuffles), so at 100 TB it is
bounded by parquet read + write bandwidth.

Determinism discipline: quantization uses ``floor(x * 127 / norm +
0.5)`` — identical IEEE double expressions on both engines — rather
than ``round()``, whose half-way tie behavior is engine-library
dependent; the quantized int array serializes via array_join for
driver-hashable output (§7.2.8).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_builder_spark.llm.similarity import norm_sql
from etl_builder_spark.registry import register
from etl_builder_spark.session import load_table


@register(
    "embed_normalize_quantize",
    oracle="""
        WITH vecs AS (
            SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        ),
        normed AS (
            SELECT vec_id, v,
                   sqrt(list_sum(list_transform(v, x -> x * x))) AS norm
            FROM vecs
        )
        SELECT vec_id,
               ROUND(norm, 6) AS norm,
               len(v) AS dim,
               array_to_string(
                   list_transform(v, x -> CAST(CAST(floor(x * 127.0 / nullif(norm, 0.0) + 0.5)
                                                   AS BIGINT) AS VARCHAR)),
                   '|') AS q8
        FROM normed
    """,
    tags=("I-embed",),
)
def embed_normalize_quantize(spark, sf_dir):
    """Per-vector L2 norm + int8 quantization of the unit-normalized
    vector (symmetric scale 127). Scan-shaped: no shuffle, no UDF."""
    e = load_table(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    # norm as a materialized projection column, NOT inlined into the
    # quantize lambda — inlined it would re-run the O(d) fold per
    # element (O(d²)/row) unless Catalyst happens to subexpress it
    base = e.select(
        "vec_id", F.size("embedding").cast("long").alias("dim"), v.alias("v")
    ).withColumn("norm", F.expr(norm_sql("v")))
    q8 = F.transform(
        F.col("v"),
        lambda x: F.floor(
            x * F.lit(127.0) / F.nullif(F.col("norm"), F.lit(0.0)) + F.lit(0.5)
        ).cast("string"),
    )
    return base.select(
        "vec_id",
        F.round("norm", 6).alias("norm"),
        "dim",
        F.array_join(q8, "|").alias("q8"),
    )


@register(
    "embed_centroid_drift",
    oracle="""
        WITH halves AS (
            SELECT CASE WHEN vec_id % 2 = 0 THEN 'ref' ELSE 'cur' END AS half,
                   label, embedding
            FROM embeddings
        ),
        cent AS (
            SELECT half, label, i AS pos,
                   COUNT(*) AS n,
                   ROUND(CAST(SUM(CAST(ROUND(CAST(embedding[i] AS DOUBLE), 9) AS DECIMAL(20,9))) AS DOUBLE) / COUNT(*), 6) AS c
            FROM halves CROSS JOIN generate_series(1, 64) AS t(i)
            GROUP BY half, label, i
        ),
        paired AS (
            SELECT r.label, r.pos, r.c AS cr, u.c AS cu, r.n AS n_ref, u.n AS n_cur
            FROM (SELECT * FROM cent WHERE half = 'ref') r
            JOIN (SELECT * FROM cent WHERE half = 'cur') u
              ON u.label = r.label AND u.pos = r.pos
        )
        SELECT label,
               MIN(n_ref) AS n_ref,
               MIN(n_cur) AS n_cur,
               ROUND(SUM(cr * cu)
                     / (sqrt(SUM(cr * cr)) * sqrt(SUM(cu * cu))), 6) AS centroid_cosine,
               ROUND(sqrt(SUM((cr - cu) * (cr - cu))), 6) AS centroid_l2_shift
        FROM paired
        GROUP BY label
    """,
    tags=("I-embdrift",),
)
def embed_centroid_drift(spark, sf_dir):
    """Embedding drift monitor: per-label centroid of a reference
    slice vs a current slice (vec_id parity stands in for the two
    snapshots), reported as centroid cosine and L2 shift — the check
    that catches a silently retrained/upgraded embedding model before
    a 100 TB re-index built on drifted vectors goes wrong.

    Same distributed layout as sim_label_centroids: centroids live as
    (label, dim) rows (never a collected vector), each centroid value
    rounded at 6 dp before the cross-slice join, so the cosine/L2
    reduction consumes identical doubles in both engines.  Two
    aggregates and one (label,dim)-keyed join — all on the same
    partitioning."""
    e = load_table(spark, sf_dir, "embeddings")
    halves = e.select(
        F.when(F.col("vec_id") % 2 == 0, "ref").otherwise("cur").alias("half"),
        "label",
        F.col("embedding").cast("array<double>").alias("emb"),
    )
    cent = (
        halves.select("half", "label", F.posexplode("emb").alias("pos0", "x"))
        .groupBy("half", "label", (F.col("pos0") + 1).alias("pos"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.round(F.col("x"), 9).cast("decimal(20,9)")).cast("double") / F.count(F.lit(1)), 6).alias("c"),
        )
    )
    r = cent.where(F.col("half") == "ref").select(
        "label", "pos", F.col("c").alias("cr"), F.col("n").alias("n_ref")
    )
    u = cent.where(F.col("half") == "cur").select(
        "label", "pos", F.col("c").alias("cu"), F.col("n").alias("n_cur")
    )
    paired = r.join(u, ["label", "pos"])
    return paired.groupBy("label").agg(
        F.min("n_ref").alias("n_ref"),
        F.min("n_cur").alias("n_cur"),
        F.round(
            F.sum(F.col("cr") * F.col("cu"))
            / (F.sqrt(F.sum(F.col("cr") * F.col("cr"))) * F.sqrt(F.sum(F.col("cu") * F.col("cu")))),
            6,
        ).alias("centroid_cosine"),
        F.round(
            F.sqrt(F.sum((F.col("cr") - F.col("cu")) * (F.col("cr") - F.col("cu")))), 6
        ).alias("centroid_l2_shift"),
    )
