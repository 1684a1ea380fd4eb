"""Unit checks of the text, similarity, sampling and packing
operators: corners (NULL / blank text, ties, zero vectors, bad
arguments) that the sf0.01 oracle queries do not reach."""

from __future__ import annotations

from pyspark.sql import functions as F

from accountant_pdf_extract_spark.operators import textstats

SF = "/root/testdata/sf0.01"


def test_lang_id_units(spark):
    rows = [
        ("the cat and the dog of a house is in", "en"),
        ("der hund und die katze ist nicht ein", "de"),
        ("le chat et la maison est une des", "fr"),
        ("xyzzy qwerty plugh", "unk"),
    ]
    df = spark.createDataFrame(rows, "text string, expect string")
    got = df.select("expect", textstats.lang_id(F.col("text")).alias("g")).collect()
    for r in got:
        assert r["g"] == r["expect"], r


def test_hash_split_deterministic_and_partition_invariant(spark):
    from accountant_pdf_extract_spark.operators.sampling import hash_split

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id")
    a = {r["doc_id"]: r["split"] for r in hash_split(docs, "doc_id").collect()}
    b = {
        r["doc_id"]: r["split"]
        for r in hash_split(docs.repartition(17), "doc_id").collect()
    }
    assert a == b and len(a) == 500
    frac = sum(1 for v in a.values() if v == "train") / len(a)
    assert 0.7 < frac < 0.9  # 'cc' targets ~0.797


def test_stratified_sample_exact_k_and_stable(spark):
    from accountant_pdf_extract_spark.operators.sampling import stratified_sample

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select("label", "vec_id")
    s1 = sorted(map(tuple, stratified_sample(emb, "label", "vec_id", 7).collect()))
    s2 = sorted(
        map(tuple, stratified_sample(emb.repartition(13), "label", "vec_id", 7).collect())
    )
    assert s1 == s2
    from collections import Counter

    per = Counter(l for l, _ in s1)
    assert all(v == 7 for v in per.values())


def test_pack_token_shards_invariants(spark):
    """First-fit packing: every shard's total is < budget + its largest
    doc (the classic one-doc slack bound), assignments are
    partition-invariant, and every doc lands in exactly one shard."""
    from accountant_pdf_extract_spark.operators.packing import pack_token_shards

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "n_chars"
    )
    budget = 2000
    packed = pack_token_shards(docs, "doc_id", "n_chars", budget)
    rows = packed.collect()
    assert len(rows) == 500 and len({r["doc_id"] for r in rows}) == 500

    from collections import defaultdict

    totals = defaultdict(int)
    biggest = defaultdict(int)
    for r in rows:
        totals[r["shard_key"]] += r["n_chars"]
        biggest[r["shard_key"]] = max(biggest[r["shard_key"]], r["n_chars"])
    assert len(totals) > 16  # budget actually splits groups into shards
    for k, tot in totals.items():
        assert tot < budget + biggest[k], (k, tot)

    again = {
        r["doc_id"]: r["shard_key"]
        for r in pack_token_shards(
            docs.repartition(13), "doc_id", "n_chars", budget
        ).collect()
    }
    assert again == {r["doc_id"]: r["shard_key"] for r in rows}


def test_split_tag_rejects_non_hex_threshold(spark):
    import pytest

    from accountant_pdf_extract_spark.operators import sampling

    for bad in ("xz", "", "c-"):
        with pytest.raises(ValueError, match="lowercase hex"):
            sampling.split_tag(F.col("doc_id"), bad)

    # uppercase normalizes instead of silently skewing the split
    # (raw 'CC' compared against lowercase md5 hex gave ~62/38)
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    upper = docs.select(sampling.split_tag(F.col("doc_id"), "CC").alias("s"))
    lower = docs.select(sampling.split_tag(F.col("doc_id"), "cc").alias("s"))
    assert upper.collect() == lower.collect()


def test_grouped_stats_half_cent_rounds_away_from_zero(spark):
    """value=0.125 -> exactly 12.5 cents -> must round to 13 like the
    DuckDB oracle's round(), not pandas' banker's 12."""
    from accountant_pdf_extract_spark.operators import sessions

    ev = spark.createDataFrame(
        [(1, 0.125), (1, 0.125), (1, 0.125)], "user_id long, value double"
    )
    r = sessions.grouped_stats(ev).collect()[0]
    assert r["median_cents"] == 13.0


def test_token_identity_consistent_and_simhash_blank_drop(spark):
    """token_count uses the shared blank-filtered identity ('foo bar\\n'
    counts 2, not 3 — raw split added a phantom '' token), and simhash
    drops whitespace-only docs like its oracle (no meaningless
    0-fingerprint group of blank docs)."""
    from accountant_pdf_extract_spark.operators import dedup, textstats

    df = spark.createDataFrame(
        [("d0", "foo bar\n"), ("d1", "\n"), ("d2", None), ("d3", "x y")],
        "doc_id string, text string",
    )
    counts = {r["doc_id"]: r["n"] for r in df.select(
        "doc_id", textstats.token_count(F.col("text")).alias("n")).collect()}
    assert counts == {"d0": 2, "d1": 0, "d2": 0, "d3": 2}

    sids = sorted(r["sid"] for r in dedup.simhash16(df).collect())
    assert sids == ["d0", "d3"]  # whitespace-only and NULL dropped

    langs = {r["doc_id"]: r["lang"] for r in df.select(
        "doc_id", textstats.lang_id(F.col("text")).alias("lang")).collect()}
    assert langs["d2"] == "unk"  # NULL text -> unk (oracle coalesces to 0s)
