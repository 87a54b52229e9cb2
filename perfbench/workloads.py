"""The benchmark's workloads: what one pass runs, and on how much data.

``sf`` is the TPC-H scale factor of the generated corpus
(``datagen.generate``); ``smoke_sf`` is the size the self-test uses.
"""

LLM_MIX_KEYS = [
    "ml_dbscan_grid",
    "embed_matryoshka_recall",
    "ml_rfm_segmentation_bucketed",
    "geo_grid_radius_join",
]

WORKLOADS = {
    # declared keys whose build (Python constructors + py4j round trips)
    # is most of a warm pass; ml_dbscan_grid also runs Spark jobs while
    # it builds.  Four keys, because a cold pass costs 2-5 s per key
    "llm_mix": {"kind": "keys", "keys": LLM_MIX_KEYS, "sf": 0.01, "smoke_sf": 0.001, "dirty": False},
    # one composed ETL job (etl.py) that ends in two partitioned
    # writes; Spark execution dominates and builds are a few percent
    "etl": {"kind": "etl", "sf": 0.05, "smoke_sf": 0.001, "dirty": True},
}
