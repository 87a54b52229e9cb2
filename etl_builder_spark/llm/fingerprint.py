"""Document fingerprinting + token counting (training-data-pipeline
text surface): polynomial rolling hash over characters and a BPE-ish
regex tokenizer — both expression-only, both exactly mirrored in the
DuckDB oracle (list_reduce ↔ F.aggregate, regexp_extract_all ↔
regexp_extract_all).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_builder_spark.folding import fold_lower
from etl_builder_spark.functions.sketches import (
    char_codes_oracle,
    char_codes_sql,
    char_poly_hash_oracle,
    char_poly_hash_sql,
)
from etl_builder_spark.registry import register
from etl_builder_spark.session import load_table

#: BPE-ish pretokenizer: letter runs, digit runs, single punctuation.
#: Space class is explicit (corpus is ASCII) — avoids \s dialect drift.
BPE_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


@register(
    "text_token_bpeish",
    oracle=f"""
        SELECT doc_id,
               len(string_split(text, ' ')) AS n_ws_tokens,
               len(regexp_extract_all(text, '{BPE_RE}')) AS n_bpe_tokens,
               regexp_extract_all(text, '{BPE_RE}')[1] AS first_token,
               CAST(ceil(len(regexp_extract_all(text, '{BPE_RE}')) * 1.3) AS BIGINT)
                   AS est_llm_tokens
        FROM documents
    """,
    tags=("I-tokens",),
)
def text_token_bpeish(spark, sf_dir):
    """Token counting: whitespace tokens vs BPE-ish regex pretokens,
    plus the standard ~1.3× subword-expansion estimate."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.regexp_extract_all("text", F.lit(BPE_RE), 0)
    return d.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("n_ws_tokens"),
        F.size(toks).alias("n_bpe_tokens"),
        F.try_element_at(toks, F.lit(1)).alias("first_token"),
        F.ceil(F.size(toks) * 1.3).alias("est_llm_tokens"),
    )


@register(
    "doc_fingerprint",
    oracle=f"""
        SELECT doc_id,
               {char_poly_hash_oracle('text')} AS fingerprint,
               len({char_codes_oracle('text')}) AS n_chars_hashed
        FROM documents
    """,
    tags=("I-fingerprint",),
)
def doc_fingerprint(spark, sf_dir):
    """Polynomial rolling hash (base 31 mod 1e9+7) over the character
    stream — a deterministic 60-bit-safe fingerprint computable in any
    engine; the per-step mod keeps every intermediate < 2^35, so no
    overflow-wrap semantics are involved (DuckDB would error on BIGINT
    overflow where the JVM wraps)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.expr(char_poly_hash_sql("text")).alias("fingerprint"),
        F.expr(f"size({char_codes_sql('text')})").alias("n_chars_hashed"),
    )


#: Feature-hashing dimensionality (the "hashing trick" bucket count).
HASH_DIM = 64


@register(
    "ml_feature_hashing",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, token
            FROM (SELECT doc_id, unnest(string_split(replace(lower(text), 'i' || chr(775), 'i'), ' ')) AS token
                  FROM documents) t
            WHERE token <> ''
        ),
        hashed AS (
            SELECT doc_id,
                   list_reduce(list_transform(
                       list_filter(string_split_regex(substr(md5(token), 1, 8), ''),
                                   c -> c <> ''),
                       c -> CAST(instr('0123456789abcdef', c) - 1 AS BIGINT)),
                       (a, b) -> a * 16 + b) AS code
            FROM toks
        )
        SELECT doc_id,
               CAST(code % {HASH_DIM} AS INT) AS bucket,
               COUNT(*) AS tf,
               CAST(SUM(CASE WHEN (code // {HASH_DIM}) % 2 = 0 THEN 1 ELSE -1 END) AS BIGINT) AS feat_signed
        FROM hashed
        GROUP BY doc_id, bucket
    """,
    tags=("ML-feature-hash",),
)
def ml_feature_hashing(spark, sf_dir):
    """The hashing trick: fixed-dimension sparse feature vectors with
    NO vocabulary pass — each token maps straight to bucket
    h(token) mod D, with a second hash bit supplying the ± sign whose
    cancellation unbiases collisions (Weinberger et al., the
    featurization behind Vowpal-Wabbit-style linear models and
    hashing-based n-gram classifiers).  The token hash is the first
    32 bits of md5 (byte-identical across engines — fn_hash_codec),
    so buckets and signs are cross-engine exact and the key carries a
    full value oracle, unlike typical murmur-based implementations.

    100 TB posture: ZERO vocabulary state — no dictionary build, no
    broadcast, no OOV path; one explode + one hash aggregation on
    (doc_id, bucket) with map-side combine, output bounded at
    |docs| × D rows.  That statelessness is the point of the trick:
    the same expression featurizes any shard of any corpus with no
    coordination, so the operator composes with streaming ingest
    (same expression in a streaming agg) and incremental training
    batches."""
    d = load_table(spark, sf_dir, "documents")
    toks = (
        d.select("doc_id", F.explode(F.split(fold_lower("text"), " ")).alias("token"))
        .where(F.col("token") != "")
    )
    code = F.conv(F.substring(F.md5("token"), 1, 8), 16, 10).cast("long")
    return (
        toks.select("doc_id", code.alias("code"))
        .groupBy(
            "doc_id",
            (F.col("code") % HASH_DIM).cast("int").alias("bucket"),
        )
        .agg(
            F.count(F.lit(1)).alias("tf"),
            # sign bit must be independent of the bucket bits: bucket is
            # code % 64 (low 6 bits), so the sign comes from bit 6
            # (code DIV 64) % 2 — with code % 2 the sign was a function
            # of bucket parity and collision cancellation never happened
            # (ADVICE r5).
            F.sum(
                F.when(F.expr(f"(code DIV {HASH_DIM}) % 2") == 0, 1).otherwise(-1)
            ).alias("feat_signed"),
        )
    )
