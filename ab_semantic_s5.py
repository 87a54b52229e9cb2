#!/usr/bin/env python
"""Session-5 A/B: dedup_semantic_centroids pair-stage dot — HOF fold
(declared) vs unrolled 64-term sum (bit-identical by construction:
same left-assoc order including the 0.0D seed). Run at the dir given
in argv[1]; interleaved, min-of-N, full row-set equality first."""
import sys
import time
import os

os.environ.setdefault("SPARK_GRAFT_CPUS", "32")
from etl_builder_spark.session import get_spark, load_table
from etl_builder_spark.llm.embed_dedup import _planted, SEM_CENT_LO, SEM_N_CENT, EMBED_DUP_TAU
from etl_builder_spark.llm.similarity import dot_sql, norm_sql
from pyspark.sql import functions as F

spark = get_spark("ab", shuffle_partitions=int(os.environ.get("SPARK_GRAFT_SHUFFLE", "8")))
DIR = sys.argv[1] if len(sys.argv) > 1 else "/tmp/etl_builder_spark_scale/x10"
REPS = int(sys.argv[2]) if len(sys.argv) > 2 else 3


def build(variant):
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
    asg = asg.withColumn("nrm", F.expr(norm_sql("v"))).persist()
    x = asg.select("cluster_id", F.col("vec_id").alias("keep_id"), F.col("v").alias("xv"),
                   F.col("nrm").alias("nx"))
    y = asg.select("cluster_id", F.col("vec_id").alias("drop_id"), F.col("v").alias("yv"),
                   F.col("nrm").alias("ny"))
    if variant == "A":
        sim = F.expr(f"ROUND({dot_sql('xv', 'yv')} / (nx * ny), 6)")
    else:
        unrolled = "0.0D + " + " + ".join(f"xv[{i}]*yv[{i}]" for i in range(64))
        sim = F.expr(f"round(({unrolled}) / (nx * ny), 6)")
    return (x.join(y, "cluster_id").where(F.col("keep_id") < F.col("drop_id"))
            .select("cluster_id", "drop_id", "keep_id", sim.alias("sim"))
            .where(F.col("sim") >= EMBED_DUP_TAU))


a, b = build("A"), build("B")
diff = a.exceptAll(b).count() + b.exceptAll(a).count()
print("exceptAll diff:", diff, flush=True)
for rep in range(REPS):
    for v in ("A", "B"):
        t0 = time.time()
        n = build(v).count()
        print(f"rep{rep} {v}: {time.time()-t0:7.2f}s rows={n}", flush=True)
