"""Scale-mechanics tests: partition pruning on the Iceberg-layout
table, salted aggregation equivalence, hot-band capping, and sketch
accuracy (HLL / percentile_approx) against exact values."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from pqc.fixtures import cached_images_path
from pqc.skew import capped_band_join, salted_count, with_salt


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_partition_pruning_on_part_filter(spark):
    images = spark.read.parquet(cached_images_path(spark, 2000))
    pruned = images.filter(F.col("part") == 3)
    plan = _plan(pruned.select("image_id"))
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "part" in m.group(1), plan[:1500]
    # pruning actually works: only partition-3 rows are read
    assert pruned.count() == images.filter("part = 3").count() > 0


def test_salted_count_equals_plain_count(spark):
    images = spark.read.parquet(cached_images_path(spark, 2000))
    plain = {
        r["fmt"]: r["n"]
        for r in images.groupBy("fmt").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    salted = {r["key"]: r["n_rows"] for r in salted_count(images, "fmt").collect()}
    assert salted == plain


def test_salt_is_deterministic(spark):
    images = spark.read.parquet(cached_images_path(spark, 2000)).select(
        "image_id", "fmt"
    )
    a = {r["image_id"]: r["_salt"] for r in with_salt(images).collect()}
    b = {r["image_id"]: r["_salt"] for r in with_salt(images).collect()}
    assert a == b
    assert len(set(a.values())) > 1  # actually spreads


def test_capped_band_join_drops_only_hot_buckets(spark):
    import pandas as pd

    rows = [("a", 0, 1)] * 50 + [("b", 0, 2)] * 3 + [("c", 1, 1)] * 5
    pdf = pd.DataFrame(rows, columns=["id", "band_idx", "band_val"])
    bands = spark.createDataFrame(pdf)
    cold, hot = capped_band_join(bands, cap=10)
    hot_rows = hot.collect()
    assert len(hot_rows) == 1 and hot_rows[0]["n_members"] == 50
    assert cold.count() == 8  # the two cold buckets survive


def test_hll_and_quantile_sketch_accuracy(spark):
    from pqc.stats import partition_profile

    images = spark.read.parquet(cached_images_path(spark, 2000))
    prof = partition_profile(images, part_col="part")
    totals = prof.agg(
        F.sum("n_rows").alias("n"),
        F.sum("approx_distinct_image_id").alias("approx_sum"),
    ).first()
    exact_distinct = images.select("image_id").distinct().count()
    # per-partition HLLs sum to ≈ total distinct (parts are disjoint by id hash)
    assert abs(totals["approx_sum"] - exact_distinct) / exact_distinct < 0.05
    # percentile_approx at accuracy 10k ≈ exact interpolated percentile
    one = prof.filter(F.col("part") == 0).first()
    exact_p50 = (
        images.filter("part = 0")
        .agg(F.expr("percentile(w, 0.5)").alias("p"))
        .first()["p"]
    )
    approx_p50 = one["quantiles_w"][1]
    assert abs(approx_p50 - exact_p50) <= 32  # within one size bucket


def test_near_dup_skew_guard_bounds_hot_corpus(spark):
    """A phash-degenerate (monochrome-like) corpus must not explode:
    hot buckets are diverted before collect_list, pairs stay bounded,
    and pairs sharing only non-hot band-pairs keep full recall."""
    from pqc.constraints.near_dup import candidate_pairs, hot_buckets

    n_hot = 3000
    rows = [(i, f"img_{i:012d}", i % 4, 0x1234567890AB) for i in range(n_hot)]
    # one genuine near-dup pair with a distinct phash (1 bit apart)
    rows += [
        (n_hot, f"img_{n_hot:012d}", 0, 0x0F0F0F0F0F0F0F0F),
        (n_hot + 1, f"img_{n_hot + 1:012d}", 1, 0x0F0F0F0F0F0F0F0E),
    ]
    images = spark.createDataFrame(
        rows, "seq long, image_id string, part int, phash long"
    )
    hot = hot_buckets(images, cap=100).collect()
    assert len(hot) == 28  # all 28 band-pair buckets of the hot phash
    assert all(r["n_members"] == n_hot for r in hot)

    pairs = candidate_pairs(images, cap=100).collect()
    # the distinct-phash pair survives; the 3000² hot clique is diverted
    assert {(r["seq_a"], r["seq_b"]) for r in pairs} == {(n_hot, n_hot + 1)}


def test_near_dup_cap_preserves_normal_fixture_pairs(spark):
    """Default cap leaves the healthy fixture's pair set unchanged."""
    from pqc.constraints.near_dup import candidate_pairs

    images = spark.read.parquet(cached_images_path(spark, 2000))
    capped = {
        (r["seq_a"], r["seq_b"]) for r in candidate_pairs(images).collect()
    }
    uncapped = {
        (r["seq_a"], r["seq_b"])
        for r in candidate_pairs(images, cap=10**9).collect()
    }
    assert capped == uncapped and len(capped) > 0


def test_hot_shingle_cap_bounds_boilerplate_corpus(spark, tmp_path):
    """A shared boilerplate 4-gram in every doc must not generate n²/2
    candidates: the df cap diverts it, while pairs that also share a
    rare shingle keep their true (full-set) Jaccard."""
    import pandas as pd

    from pqc.dedup import _shingle_df, capped_shingles

    boiler = "terms and conditions apply"
    docs = [(i, boiler + f" unique tail {i} {i} {i} {i}") for i in range(120)]
    # docs 200/201 share rare shingles on top of the boilerplate
    docs += [
        (200, boiler + " rare shared shingle here alpha"),
        (201, boiler + " rare shared shingle here beta"),
    ]
    pdf = pd.DataFrame(docs, columns=["doc_id", "text"])
    pdf["lang"] = "en"
    pdf["source"] = "t"
    pdf["n_chars"] = pdf["text"].str.len()
    sf = str(tmp_path)
    pdf.to_parquet(f"{sf}/documents.parquet")

    from pqc.exprs import hash64

    sh = _shingle_df(spark, sf)
    n_cold_boiler = (
        capped_shingles(sh, cap=100)
        .filter(F.col("hs") == hash64(F.lit(boiler)))
        .count()
    )
    assert n_cold_boiler == 0  # the df-122 shingle is diverted

    from pqc.dedup import ngram_jaccard_pairs

    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in
             ngram_jaccard_pairs(spark, sf).collect()}
    # 100-101 found via their rare shared shingles; true jaccard uses
    # the FULL sets (boilerplate included in sizes/intersection)
    assert (200, 201) in pairs
    assert all(k == (200, 201) for k in pairs)


# ---------------------------------------------------------------------------
# Duplicate-degenerate corpora through the MinHash / SimHash / SRP band
# joins (r4 verdict #1): m identical documents previously made ONE band
# bucket m²/2-quadratic. The representative collapse must bound the
# candidate join to distinct-fingerprint pairs while the OUTPUT stays
# the exact member-level pair set.
# ---------------------------------------------------------------------------

N_DUP = 400  # identical copies — naive banding would join 79 800 pairs


def _write_dup_docs(tmp_path) -> str:
    import pandas as pd

    copy_text = "the quick brown fox jumps over the lazy dog again and again"
    docs = [(i, copy_text) for i in range(N_DUP)]
    docs += [
        (900, "completely different subject matter about maritime navigation charts"),
        (901, "another unrelated piece concerning volcanic soil chemistry analysis"),
    ]
    pdf = pd.DataFrame(docs, columns=["doc_id", "text"])
    pdf["lang"] = "en"
    pdf["source"] = "t"
    pdf["n_chars"] = pdf["text"].str.len()
    sf = str(tmp_path)
    pdf.to_parquet(f"{sf}/documents.parquet")
    return sf


def test_minhash_dup_degenerate_corpus_bounded(spark, tmp_path):
    """400 byte-identical docs: the banded candidate join must see ONE
    representative (zero or near-zero rep pairs), while the output is
    the exact quadratic truth — every copy pair at Jaccard 1.0."""
    from pqc.dedup import (
        MINHASH_K,
        MINHASH_ROWS,
        _minhash_pairs,
        _minhash_rep_candidates,
        _shingle_df,
    )

    sf = _write_dup_docs(tmp_path)
    sh = _shingle_df(spark, sf)
    cand, membership, hot = _minhash_rep_candidates(sh, MINHASH_K, MINHASH_ROWS)
    # 3 distinct shingle sets -> at most C(3,2) candidate rep pairs
    assert cand.count() <= 3
    mem = {r["doc_id"]: r["rep_id"] for r in membership.collect()}
    assert sum(1 for v in mem.values() if v == 0) == N_DUP  # one group

    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"]
             for r in _minhash_pairs(spark, sf, MINHASH_K, MINHASH_ROWS).collect()}
    expected = {(a, b) for a in range(N_DUP) for b in range(a + 1, N_DUP)}
    assert set(pairs) == expected
    assert all(v == 1.0 for v in pairs.values())


def test_simhash_dup_degenerate_corpus_bounded(spark):
    """Identical fingerprints collapse before banding; the member pair
    set (hamming 0 within, fingerprint hamming across) is reconstructed
    exactly."""
    from pqc.dedup import _simhash_pairs, _simhash_rep_candidates

    rows = [(i, 0x12345678) for i in range(N_DUP)]
    rows += [(900, 0x12345679), (901, 0x7F0F0F0F)]  # 1-bit neighbour + far
    sig = spark.createDataFrame(rows, "doc_id long, simhash long")
    rep_pairs, _, _ = _simhash_rep_candidates(sig)
    rp = {(r["sim_a"], r["sim_b"]): r["hamming"] for r in rep_pairs.collect()}
    assert rp == {(0x12345678, 0x12345679): 1}  # 3 reps, 1 confirmed pair

    pairs = {(r["doc_a"], r["doc_b"]): r["hamming"]
             for r in _simhash_pairs(sig).collect()}
    expected_within = {(a, b): 0 for a in range(N_DUP) for b in range(a + 1, N_DUP)}
    expected_cross = {(i, 900): 1 for i in range(N_DUP)}
    assert pairs == {**expected_within, **expected_cross}


def test_srp_dup_degenerate_corpus_bounded(spark):
    """Identical vectors collapse before SRP banding; every copy pair
    comes back with the decimal-exact self-cosine, and the candidate
    join is bounded to distinct-vector pairs."""
    import numpy as np

    from pqc.similarity import EMB_DIM, _srp_pairs, _srp_rep_candidates

    rng = np.random.default_rng(7)
    v0 = rng.normal(size=EMB_DIM).tolist()
    far = (-np.asarray(v0)).tolist()  # cosine -1: never a candidate match
    rows = [(i, v0) for i in range(N_DUP)] + [(900, far)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cand, membership, _ = _srp_rep_candidates(emb)
    assert cand.count() == 0  # 2 distinct vectors, opposite half-spaces
    assert membership.filter(F.col("rep_id") == 0).count() == N_DUP

    pairs = {(r["id_a"], r["id_b"]): r["cosine"] for r in _srp_pairs(emb).collect()}
    expected = {(a, b) for a in range(N_DUP) for b in range(a + 1, N_DUP)}
    assert set(pairs) == expected
    assert all(abs(v - 1.0) < 1e-8 for v in pairs.values())


def test_part_ranges_collapse_contiguous_runs():
    from pqc.ledger import part_ranges

    assert part_ranges([]) == []
    assert part_ranges([0, 1, 2, 5, 7, 8]) == [(0, 2), (5, 5), (7, 8)]


def test_part_filter_selects_exactly_the_parts(spark):
    """Contiguous runs and a scattered remainder (more runs than the
    filter spells out as ranges) select exactly the given parts."""
    from pqc.ledger import MAX_PART_RANGES, part_filter

    parts = list(range(0, 4 * MAX_PART_RANGES, 2)) + list(range(200, 300))
    df = spark.range(400).select(F.col("id").cast("int").alias("part"))
    got = {r["part"] for r in df.filter(part_filter(parts)).collect()}
    assert got == set(parts)


class _Stop(Exception):
    pass


class _CaptureSuite:
    """Stands in for ValidationSuite: keeps the input run_with_resume
    hands it, then stops the run."""

    def run(self, ctx):
        self.images = ctx.images
        raise _Stop


def test_resume_filter_plan_is_bounded_at_10k_partitions(spark, tmp_path):
    """A resume over 10k partitions with a few already validated must
    plan a handful of part ranges, not a 10k-literal IN-list."""
    from pqc.ledger import LEDGER_SCHEMA, partition_fingerprints, run_with_resume

    n_parts = 10_000
    images = spark.range(2 * n_parts).select(
        F.format_string("img_%08d", "id").alias("image_id"),
        (F.col("id") % n_parts).cast("int").alias("part"),
        F.lit(64).alias("w"),
        F.lit(64).alias("h"),
        F.lit("png").alias("fmt"),
        F.lit("c").alias("caption"),
        F.col("id").alias("phash"),
    )
    fps = {r["part"]: r["input_fingerprint"] for r in partition_fingerprints(images).collect()}
    done = list(range(0, n_parts, 1000))
    ledger = str(tmp_path / "ledger")
    spark.createDataFrame(
        [(p, fps[p], 2, 0, True, "test", "r0", 0) for p in done], LEDGER_SCHEMA
    ).write.parquet(ledger)

    suite = _CaptureSuite()
    try:
        run_with_resume(spark, images, ledger, suite)
    except _Stop:
        pass
    # the JSON form has every expression node; toString truncates lists
    plan = suite.images._jdf.queryExecution().analyzed().toJSON()
    assert len(plan) < 20_000, f"{len(plan)} chars of plan for the part filter"
    parts = {r["part"] for r in suite.images.select("part").distinct().collect()}
    assert parts == set(range(n_parts)) - set(done)


def test_fixture_publish_replaces_stale_unfinished_dir(spark, tmp_path):
    """A fixture directory without _SUCCESS (a crashed writer's) must
    be replaced, not block every later publish and be served as is."""
    import glob
    import os

    from pqc.fixtures import ensure_generated_parquet
    from pqc.rule_packs import _serving_bulk_row

    path = str(tmp_path / "fixture")
    os.makedirs(path)
    with open(f"{path}/part-00000-stale.parquet", "w") as f:
        f.write("not parquet")
    schema = (
        "sku_id string, scope string, amount_value double, "
        "amount_unit string, serving_size_g double"
    )
    assert ensure_generated_parquet(spark, path, 20, _serving_bulk_row, schema, n_tasks=2) == path
    assert os.path.exists(f"{path}/_SUCCESS")
    assert not os.path.exists(f"{path}/part-00000-stale.parquet")
    assert spark.read.parquet(path).count() == 20
    assert glob.glob(f"{path}.build*") == []
