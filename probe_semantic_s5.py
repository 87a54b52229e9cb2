#!/usr/bin/env python
"""Phase probe for dedup_semantic_centroids at x10: where do the 84s go?

P1: id-only pair enumeration + triangle filter (no vectors, no sim).
P2: full declared shape (vectors ride the join, HOF sim in-task).
P3: id-only fan -> repartition(64) -> broadcast-join vectors back ->
    HOF sim -> filter  (the dedup_embedding_cosine idiom).
"""
import sys
import time
import os

os.environ.setdefault("SPARK_GRAFT_CPUS", "32")
from etl_builder_spark.session import get_spark, load_table
from etl_builder_spark.llm.embed_dedup import _planted, SEM_CENT_LO, SEM_N_CENT, EMBED_DUP_TAU
from etl_builder_spark.llm.similarity import dot_sql, norm_sql
from pyspark.sql import functions as F

spark = get_spark("probe", shuffle_partitions=int(os.environ.get("SPARK_GRAFT_SHUFFLE", "8")))
DIR = sys.argv[1] if len(sys.argv) > 1 else "/tmp/etl_builder_spark_scale/x10"


def asg_frame():
    e = load_table(spark, DIR, "embeddings").select(
        "vec_id", F.expr("transform(embedding, x -> cast(x as double))").alias("v"))
    all_vecs = e.unionByName(_planted(e))
    cent = e.where(F.col("vec_id").between(SEM_CENT_LO, SEM_CENT_LO + SEM_N_CENT - 1)).select(
        (F.col("vec_id") - SEM_CENT_LO).alias("cluster_id"), F.col("v").alias("cv"))
    av = all_vecs.select("vec_id", "v", F.expr(norm_sql("v")).alias("nv"))
    cn = cent.select("cluster_id", "cv", F.expr(norm_sql("cv")).alias("ncv"))
    asg = (av.crossJoin(F.broadcast(cn))
        .withColumn("negc", F.expr(f"-ROUND({dot_sql('v', 'cv')} / (nv * ncv), 6)"))
        .groupBy("vec_id").agg(F.min(F.struct(F.col("negc"), F.col("cluster_id"))).alias("b"),
                               F.first("v").alias("v"))
        .select("vec_id", "v", F.col("b.cluster_id").alias("cluster_id")))
    return asg.withColumn("nrm", F.expr(norm_sql("v"))).persist()


asg = asg_frame()
asg.count()  # materialize the cache outside the timed phases

sim_expr = F.expr(f"ROUND({dot_sql('xv', 'yv')} / (nx * ny), 6)")

for rep in range(2):
    # P1: enumeration only
    xi = asg.select("cluster_id", F.col("vec_id").alias("keep_id"))
    yi = asg.select("cluster_id", F.col("vec_id").alias("drop_id"))
    t0 = time.time()
    n1 = xi.join(yi, "cluster_id").where(F.col("keep_id") < F.col("drop_id")).count()
    print(f"rep{rep} P1 enumerate-only: {time.time()-t0:7.2f}s pairs={n1}", flush=True)

    # P2: declared shape
    x = asg.select("cluster_id", F.col("vec_id").alias("keep_id"), F.col("v").alias("xv"),
                   F.col("nrm").alias("nx"))
    y = asg.select("cluster_id", F.col("vec_id").alias("drop_id"), F.col("v").alias("yv"),
                   F.col("nrm").alias("ny"))
    t0 = time.time()
    n2 = (x.join(y, "cluster_id").where(F.col("keep_id") < F.col("drop_id"))
          .select("cluster_id", "drop_id", "keep_id", sim_expr.alias("sim"))
          .where(F.col("sim") >= EMBED_DUP_TAU).count())
    print(f"rep{rep} P2 declared: {time.time()-t0:7.2f}s rows={n2}", flush=True)

    # P3: fan ids, repartition, join vectors back
    va = asg.select(F.col("vec_id").alias("keep_id"), F.col("v").alias("xv"), F.col("nrm").alias("nx"))
    vb = asg.select(F.col("vec_id").alias("drop_id"), F.col("v").alias("yv"), F.col("nrm").alias("ny"))
    pairs = (xi.join(yi, "cluster_id").where(F.col("keep_id") < F.col("drop_id"))
             .repartition(64, "keep_id", "drop_id"))
    t0 = time.time()
    n3 = (pairs.join(F.broadcast(va), "keep_id").join(F.broadcast(vb), "drop_id")
          .select("cluster_id", "drop_id", "keep_id", sim_expr.alias("sim"))
          .where(F.col("sim") >= EMBED_DUP_TAU).count())
    print(f"rep{rep} P3 fan+repartition+bcast: {time.time()-t0:7.2f}s rows={n3}", flush=True)
