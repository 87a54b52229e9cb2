"""The composed ETL job of the ``etl`` workload and its DuckDB reference.

One pass runs, over a corpus with duplicate and orphan lineitem rows:

1. DQ audit (``quality.audit``), orphan report
   (``quality.check_referential`` lineitem -> orders) and duplicate-row
   report (``quality.check_unique``), each fetched with ``toPandas``;
2. a relational step compiled from a declarative spec
   (``plans.pipeline.compile_spec``): exact dedup, join to orders,
   derived net price and order year, written partitioned by year;
3. document curation through the fluent ``Pipeline``: length gate,
   whitespace/case normalization, exact dedup keeping the lowest
   doc_id, token features, written partitioned by lang.

Tables are read with ``session.load_table`` and both sinks go through
``sources.writers.write_parquet_partitioned``.  ``reference`` gives the
same results computed by DuckDB over the input parquet; ``readback``
summarizes what a pass wrote, in the same form.
"""

from __future__ import annotations

import os

from etl_builder_spark import quality
from etl_builder_spark.plans.pipeline import Pipeline, compile_spec
from etl_builder_spark.session import load_table
from etl_builder_spark.sources.writers import write_parquet_partitioned

LINEITEM_COLS = (
    "l_orderkey l_partkey l_suppkey l_linenumber l_quantity l_extendedprice "
    "l_discount l_tax l_returnflag l_linestatus l_shipdate"
).split()

SALES_SPEC = {
    "source": "lineitem",
    "ops": [
        {"op": "dedup"},
        {"op": "join", "table": "orders", "on": "l_orderkey = o_orderkey"},
        {"op": "derive", "cols": {
            "net": "l_extendedprice * (1 - l_discount)",
            "year": "year(o_orderdate)",
        }},
        {"op": "select", "cols": [
            "l_orderkey", "l_linenumber", "l_partkey", "l_quantity", "net",
            "o_custkey", "o_orderpriority", "year",
        ]},
    ],
}

#: (column, DuckDB type) of each sink, in hash order; the partition
#: column comes back from the directory name, so everything is cast
SALES_COLS = [
    ("l_orderkey", "BIGINT"), ("l_linenumber", "INTEGER"), ("l_partkey", "BIGINT"),
    ("l_quantity", "DOUBLE"), ("net", "DOUBLE"), ("o_custkey", "BIGINT"),
    ("o_orderpriority", "VARCHAR"), ("year", "INTEGER"),
]
DOCS_COLS = [
    ("doc_id", "BIGINT"), ("norm", "VARCHAR"), ("source", "VARCHAR"),
    ("n_tokens", "INTEGER"), ("n_distinct", "INTEGER"), ("lang", "VARCHAR"),
]
MIN_CHARS = 50


def audit_checks():
    return [
        quality.not_null("l_orderkey"),
        quality.in_range("l_quantity", 1, 50),
        quality.in_range("l_discount", 0.0, 0.1),
        quality.in_set("l_returnflag", ("A", "N", "R")),
    ]


def curated_docs(spark, sf_dir: str):
    return (
        Pipeline(spark, sf_dir)
        .scan("documents")
        .filter(f"n_chars >= {MIN_CHARS}")
        .derive(norm="lower(regexp_replace(trim(text), '\\\\s+', ' '))")
        .window(["norm"], ["doc_id"], rn="row_number()")
        .filter("rn = 1")
        .derive(
            n_tokens="size(split(norm, ' '))",
            n_distinct="size(array_distinct(split(norm, ' ')))",
        )
        .select(*[c for c, _ in DOCS_COLS])
        .frame()
    )


def ops(spark, sf_dir: str, out_dir: str):
    """The job's steps as (name, layer, build) triples.  ``build``
    returns a DataFrame to fetch, or for a sink a (DataFrame, path,
    partition columns) triple to write."""

    def li():
        return load_table(spark, sf_dir, "lineitem")

    return [
        ("dq_audit", "quality", lambda: quality.audit(li(), audit_checks())),
        ("dq_orphans", "quality", lambda: quality.check_referential(
            li(), "l_orderkey", load_table(spark, sf_dir, "orders"), "o_orderkey")),
        ("dq_duplicates", "quality", lambda: quality.check_unique(li(), tuple(LINEITEM_COLS))),
        ("sales_by_year", "plans", lambda: (
            compile_spec(spark, sf_dir, SALES_SPEC), os.path.join(out_dir, "sales"), ("year",))),
        ("docs_by_lang", "plans", lambda: (
            curated_docs(spark, sf_dir), os.path.join(out_dir, "docs"), ("lang",))),
    ]


def write(sink) -> None:
    df, path, partition_by = sink
    write_parquet_partitioned(df, path, partition_by)


def _summary_sql(cols, rel: str) -> str:
    row = ", ".join(f"CAST({c} AS {t})" for c, t in cols)
    return f"SELECT count(*) AS n, sum(hash({row})) AS h FROM {rel}"


def reference(con) -> dict:
    """DuckDB results for every step, over views of the input tables."""
    cols = ", ".join(LINEITEM_COLS)
    return {
        "dq_audit": con.execute(
            "SELECT 'not_null:l_orderkey' AS check_name, count(*) FILTER (WHERE l_orderkey IS NULL) AS n_violations, count(*) AS n_rows FROM lineitem "
            "UNION ALL SELECT 'range:l_quantity', count(*) FILTER (WHERE NOT l_quantity BETWEEN 1 AND 50), count(*) FROM lineitem "
            "UNION ALL SELECT 'range:l_discount', count(*) FILTER (WHERE NOT l_discount BETWEEN 0.0 AND 0.1), count(*) FROM lineitem "
            "UNION ALL SELECT 'set:l_returnflag', count(*) FILTER (WHERE l_returnflag NOT IN ('A', 'N', 'R')), count(*) FROM lineitem"
        ).df(),
        "dq_orphans": con.execute(
            "SELECT l_orderkey AS orphan_key, count(*) AS n_rows FROM lineitem "
            "WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders) GROUP BY l_orderkey"
        ).df(),
        "dq_duplicates": con.execute(
            f"SELECT {cols}, count(*) AS n FROM lineitem GROUP BY {cols} HAVING count(*) > 1"
        ).df(),
        "sales_by_year": con.execute(_summary_sql(SALES_COLS, (
            "(SELECT *, l_extendedprice * (1 - l_discount) AS net, year(o_orderdate) AS year "
            "FROM (SELECT DISTINCT * FROM lineitem) JOIN orders ON l_orderkey = o_orderkey)"
        ))).fetchone(),
        "docs_by_lang": con.execute(_summary_sql(DOCS_COLS, (
            "(SELECT *, len(string_split(norm, ' ')) AS n_tokens, "
            "len(list_distinct(string_split(norm, ' '))) AS n_distinct FROM ("
            "SELECT *, lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS norm FROM documents "
            f"WHERE n_chars >= {MIN_CHARS}) QUALIFY row_number() OVER (PARTITION BY norm ORDER BY doc_id) = 1)"
        ))).fetchone(),
    }


def readback(con, sink_path: str, name: str):
    cols = SALES_COLS if name == "sales_by_year" else DOCS_COLS
    rel = f"read_parquet('{sink_path}/*/*.parquet', hive_partitioning = true)"
    return con.execute(_summary_sql(cols, rel)).fetchone()
