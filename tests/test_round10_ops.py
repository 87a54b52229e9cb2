"""Round-10 operator tests: reference-implementation checks for the
new keys (VERDICT r9 item 5) — a plain-Python recomputation pins each
result so cross-engine parity can't hide a shared wrong formula."""

from __future__ import annotations

import duckdb

from etl_builder_spark.registry import REGISTRY, _ensure_loaded
from tests.conftest import SF_DIR

_ensure_loaded()


def test_udtf_ngram_explode_matches_python_bigrams(spark):
    """The UDTF's (doc_id, pos, bigram) rows must equal the literal
    Python definition — enumerate adjacent token pairs of split(' ')
    with 1-based positions — for every doc in the declared frame."""
    rows = REGISTRY["udtf_ngram_explode"].fn(spark, SF_DIR).collect()
    docs = duckdb.sql(
        f"SELECT doc_id, text FROM read_parquet('{SF_DIR}/documents.parquet') "
        "WHERE doc_id < 50"
    ).fetchall()
    assert docs, "fixture must contain docs below the frame bound"
    want = []
    for doc_id, text in docs:
        toks = text.split(" ")
        for i in range(len(toks) - 1):
            want.append((doc_id, i + 1, toks[i] + " " + toks[i + 1]))
    assert sorted(r[:3] for r in [(g[0], g[1], g[2]) for g in rows]) == sorted(want)
    # every doc with >= 2 tokens expands to len-1 rows (row-expanding seam)
    n_expected = sum(max(len(t.split(" ")) - 1, 0) for _, t in docs)
    assert len(rows) == n_expected


def test_udtf_ngram_explode_is_arrow_not_batcheval(spark):
    """The UDTF must cross the Python boundary as Arrow batches —
    BatchEvalPython is banned repo-wide (plan sweep invariant)."""
    plan = (
        REGISTRY["udtf_ngram_explode"]
        .fn(spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan
    assert "PythonUDTF" in plan


def test_stream_static_join_live_equals_batch_join(spark):
    """The availableNow replay of the stream-static join must emit
    exactly the batch join's row set — each event enriched once."""
    from etl_builder_spark.session import load_table

    out = REGISTRY["stream_static_join_live"].fn(spark, SF_DIR).collect()
    got = sorted(
        (r["event_id"], r["ts"], r["user_id"], r["c_mktsegment"], r["value"])
        for r in out
    )
    ev = load_table(spark, SF_DIR, "events")
    cust = load_table(spark, SF_DIR, "customer")
    batch = (
        ev.join(cust, ev["user_id"] == cust["c_custkey"])
        .select("event_id", "ts", "user_id", "c_mktsegment", "value")
        .collect()
    )
    want = sorted(
        (r["event_id"], r["ts"], r["user_id"], r["c_mktsegment"], r["value"])
        for r in batch
    )
    assert got == want
    # exactly-once per event: event_ids unique in the replayed output
    ids = [r["event_id"] for r in out]
    assert len(ids) == len(set(ids))


def test_watermark_drop_live_actually_drops(spark):
    """The J4 key must demonstrate REAL late-data dropping: the oldest
    slice arrives after the watermark passed, so the state operator
    must report numRowsDroppedByWatermark > 0, no dropped-slice window
    may reach the sink, and the surviving windows must carry exact
    counts (sum of n == number of events at or above the DERIVED
    survivor boundary, max_day - SPLIT_LO_DAYS)."""
    import datetime

    import duckdb

    from etl_builder_spark.streaming.batch_twins import (
        SPLIT_LO_DAYS,
        SPLIT_WATERMARK,
        _staged_events_timesplit,
    )
    from etl_builder_spark.streaming.runtime import (
        run_to_memory_with_progress,
        stream_events,
    )
    from pyspark.sql import functions as F

    events = stream_events(spark, _staged_events_timesplit(SF_DIR), max_files_per_trigger=1)
    agg = (
        events.withWatermark("ts", SPLIT_WATERMARK)
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )
    out, progress = run_to_memory_with_progress(agg, mode="update")
    dropped = sum(
        s.get("numRowsDroppedByWatermark", 0)
        for p in progress
        for s in p.get("stateOperators", [])
    )
    assert dropped > 0, "no rows were dropped — the fixture is not exercising J4"
    rows = out.collect()
    (max_ts,) = duckdb.sql(
        f"SELECT max(ts) FROM read_parquet('{SF_DIR}/events.parquet')"
    ).fetchone()
    cut_lo = datetime.datetime(
        max_ts.year, max_ts.month, max_ts.day
    ) - datetime.timedelta(days=SPLIT_LO_DAYS)
    assert all(r["ws"] >= cut_lo for r in rows), "a dropped-slice window leaked"
    # one row per window (the three slices touch disjoint hours)
    assert len({r["ws"] for r in rows}) == len(rows)
    (n_expected,) = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{SF_DIR}/events.parquet') "
        f"WHERE ts >= TIMESTAMP '{cut_lo:%Y-%m-%d %H:%M:%S}'"
    ).fetchone()
    assert sum(r["n"] for r in rows) == n_expected


def test_minhash_calibration_matches_python_reference(spark):
    """The calibration census recomputed in literal plain Python —
    shingles, char-poly hashes, 16 permuted minima, band buckets,
    candidate pairs, exact Jaccard — must reproduce every bin."""
    from collections import defaultdict

    from etl_builder_spark.functions.sketches import CM_P as _P
    from etl_builder_spark.llm.dedup import MINHASH_PERMS, PLANT_OFFSET

    out = {
        r["n_eq"]: r
        for r in REGISTRY["sketch_minhash_calibration"].fn(spark, SF_DIR).collect()
    }

    docs = duckdb.sql(
        f"SELECT doc_id, lower(text) FROM read_parquet('{SF_DIR}/documents.parquet') "
        "WHERE doc_id < 200"
    ).fetchall()
    corpus = {}
    for doc_id, text in docs:
        corpus[doc_id] = text
        toks = text.split(" ")
        corpus[doc_id + PLANT_OFFSET] = " ".join(toks[: max(len(toks) - 2, 1)])

    shingle_sets, sigs, band_keys = {}, {}, {}
    pow31 = (1, 31, 961, 29791)
    for doc_id, text in corpus.items():
        toks = text.split(" ")
        if len(toks) < 3:
            continue
        sh = {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}
        shingle_sets[doc_id] = sh
        hashes = []
        for s in sh:
            h = 0
            for c in s:
                h = (h * 31 + ord(c)) % _P
            hashes.append(h)
        sig = [min((a * h + b) % _P for h in hashes) for (a, b) in MINHASH_PERMS]
        sigs[doc_id] = sig
        band_keys[doc_id] = [
            sum((sig[4 * k + j] * pow31[j]) % _P for j in range(4)) % _P
            for k in range(4)
        ]

    buckets = defaultdict(list)
    for doc_id, keys in band_keys.items():
        for k, bh in enumerate(keys):
            buckets[(k, bh)].append(doc_id)
    cand = set()
    for ids in buckets.values():
        ids = sorted(ids)
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                cand.add((ids[i], ids[j]))

    bins = defaultdict(lambda: [0, 0.0, 0.0])  # n, sum(round(j,9)), sum(round(err,9))
    for ia, ib in cand:
        n_eq = sum(1 for u, v in zip(sigs[ia], sigs[ib]) if u == v)
        inter = len(shingle_sets[ia] & shingle_sets[ib])
        union = len(shingle_sets[ia]) + len(shingle_sets[ib]) - inter
        jac = inter / union
        err = abs(n_eq / 16.0 - jac)
        b = bins[n_eq]
        b[0] += 1
        b[1] += round(jac, 9)
        b[2] += round(err, 9)

    assert set(out) == set(bins)
    for n_eq, (n, sj, se) in bins.items():
        row = out[n_eq]
        assert row["n_pairs"] == n
        assert abs(row["mean_jaccard"] - sj / n) < 5e-7
        assert abs(row["mean_abs_err"] - se / n) < 5e-7
    # sanity of the estimator itself: the top bin (n_eq = 16, the
    # planted near-identical trims) must show high true Jaccard, and
    # the error must stay inside a loose binomial envelope everywhere
    top = max(out)
    assert out[top]["mean_jaccard"] > 0.7
    assert all(r["mean_abs_err"] <= 0.5 for r in out.values())


def test_binaryfile_scan_matches_hashlib(spark):
    """The binaryFile round trip must reproduce hashlib.md5 of each
    document's utf-8 bytes, cover every doc below the frame bound, and
    plan as a real binaryFile FileScan (a distributed source, not a
    driver-side file loop)."""
    import hashlib

    out = REGISTRY["scan_binaryfile_blobs"].fn(spark, SF_DIR)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "binaryFile" in plan, "not reading through the binaryFile FileFormat"
    rows = out.collect()
    docs = dict(
        duckdb.sql(
            f"SELECT doc_id, text FROM read_parquet('{SF_DIR}/documents.parquet') "
            "WHERE doc_id < 50"
        ).fetchall()
    )
    assert {r["doc_id"] for r in rows} == set(docs)
    for r in rows:
        raw = docs[r["doc_id"]].encode("utf-8")
        assert r["n_bytes"] == len(raw)
        assert r["content_md5"] == hashlib.md5(raw).hexdigest()


def test_jsonl_permissive_census_and_policies(spark):
    """The PERMISSIVE census must match a plain-Python recount of the
    staged file, and the other two malformed-line policies must behave
    per contract: DROPMALFORMED silently loses exactly the bad line,
    FAILFAST refuses the scan."""
    import json

    from etl_builder_spark.sources.jsonl import _staged_jsonl

    stage = _staged_jsonl(SF_DIR)
    rows = REGISTRY["scan_jsonl_permissive"].fn(spark, SF_DIR).collect()
    out = {r["lang"]: (r["n_docs"], r["total_chars"]) for r in rows}

    want = {}
    n_lines = 0
    with open(stage + "/docs.jsonl") as f:
        for line in f:
            n_lines += 1
            try:
                d = json.loads(line)
                n, tot = want.get(d["lang"], (0, 0))
                want[d["lang"]] = (n + 1, tot + d["n_chars"])
            except ValueError:
                n, _ = want.get("__corrupt__", (0, None))
                want["__corrupt__"] = (n + 1, None)
    assert out == want
    assert out["__corrupt__"] == (1, None)

    schema = "doc_id BIGINT, lang STRING, n_chars BIGINT"
    n_dropped = (
        spark.read.schema(schema)
        .option("mode", "DROPMALFORMED")
        .json(stage + "/docs.jsonl")
        .count()
    )
    assert n_dropped == n_lines - 1

    import pytest as _pytest

    with _pytest.raises(Exception, match="(?i)malformed|failfast"):
        spark.read.schema(schema).option("mode", "FAILFAST").json(
            stage + "/docs.jsonl"
        ).count()


def test_observe_metrics_ride_the_action(spark):
    """observe() contract: the harvested metrics describe exactly the
    rows the action consumed — n_rows equals the action's own count,
    and every metric equals a plain recomputation over the same
    filtered frame."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from etl_builder_spark.session import load_table

    li = load_table(spark, SF_DIR, "lineitem").where(
        F.col("l_shipdate") >= F.lit("1995-01-01").cast("date")
    )
    obs = Observation()
    observed = li.observe(obs, F.count(F.lit(1)).cast("bigint").alias("n_rows"))
    acted = observed.count()
    assert obs.get["n_rows"] == acted

    row = REGISTRY["dq_observe_metrics"].fn(spark, SF_DIR).collect()[0]
    ref = li.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
        .cast("bigint")
        .alias("n_returned"),
        F.sum((F.col("l_extendedprice").cast("decimal(18,2)") * 100).cast("bigint"))
        .cast("bigint")
        .alias("revenue_cents"),
        F.min(F.col("l_quantity").cast("bigint")).alias("min_qty"),
        F.max(F.col("l_quantity").cast("bigint")).alias("max_qty"),
    ).collect()[0]
    assert row.asDict() == ref.asDict()
