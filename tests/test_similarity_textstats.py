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


def test_chunk_text_windows(spark):
    from accountant_pdf_extract_spark.operators.chunking import chunk_text

    docs = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(10))), (2, "only two"),
         (3, "   "), (4, "x " * 24),  # 24 tokens = exactly one step
         (5, "y " * 25)],  # 25: token 25 is covered by the start-18
                           # window; no fully-redundant tail chunk
        "doc_id long, text string",
    )
    got = {
        (r["doc_id"], r["chunk_id"]): (r["chunk_text"], r["n_chunk_tokens"])
        for r in chunk_text(docs, chunk_tokens=8, overlap=2).collect()
    }
    # doc 1: 10 tokens, step 6 -> chunks at 0 and 6 (4-token tail kept)
    assert got[(1, 0)] == (" ".join(f"t{i}" for i in range(8)), 8)
    assert got[(1, 1)] == ("t6 t7 t8 t9", 4)
    assert got[(2, 0)] == ("only two", 2)
    assert (3, 0) not in got  # blank doc yields nothing
    # doc 4: 24 tokens, step 6 -> starts 0,6,12,18
    assert sorted(c for d, c in got if d == 4) == [0, 1, 2, 3]
    # doc 5: 25 tokens — a start-24 window would add ZERO new tokens
    # (tokens 25.. are inside the start-18 window); it must not exist
    assert sorted(c for d, c in got if d == 5) == [0, 1, 2, 3]
    assert got[(5, 3)][1] == 7  # tokens 19..25

    import pytest

    with pytest.raises(ValueError, match="overlap"):
        chunk_text(docs, chunk_tokens=8, overlap=8)


def test_quantize_embeddings_zero_vector_and_range(spark):
    from accountant_pdf_extract_spark.operators.similarity import (
        quantize_embeddings,
    )

    df = spark.createDataFrame(
        [(1, [0.5, -1.0, 0.25]), (2, [0.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    got = {r["vec_id"]: (r["q8"], r["max_abs_milli"])
           for r in quantize_embeddings(df).collect()}
    assert got[1] == ([64, -127, 32], 1000)   # round(0.5*127)=64
    assert got[2] == ([0, 0, 0], 0)
    real = quantize_embeddings(
        spark.read.parquet(f"{SF}/embeddings.parquet")
    ).collect()
    assert all(max(map(abs, r["q8"])) <= 127 for r in real)
    assert all(
        127 in r["q8"] or -127 in r["q8"]
        for r in real if r["max_abs_milli"] > 0
    )


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


def test_repetition_fold_matches_python_reference(spark):
    """The zero-shuffle run-length fold must equal a Counter-based
    reference on handcrafted repetition shapes (all-same, all-distinct,
    runs at both ends, singleton, empty)."""
    from collections import Counter

    from accountant_pdf_extract_spark.operators import textstats

    texts = [
        "a a a a",                # one token repeated: top=dup=1000
        "a b c d e",              # all distinct
        "a a b c c",              # dup runs at both ends of sorted order
        "x",                      # singleton: no bigrams
        "",                       # empty: everything 0
        "spam spam eggs spam bacon spam",
        "go go go stop go go",    # repeated bigram 'go go'
    ]
    df = spark.createDataFrame(
        [(f"d{i}", t) for i, t in enumerate(texts)], "doc_id string, text string"
    )
    got = {
        r["doc_id"]: r.asDict()
        for r in textstats.repetition_features(df).collect()
    }

    def ref(text):
        toks = [t for t in text.lower().strip().split() if t]
        bigs = [f"{a} {b}" for a, b in zip(toks, toks[1:])]

        def stats(items):
            c = Counter(items)
            best = max(c.values()) if c else 0
            dup = sum(v for v in c.values() if v >= 2)
            return best, dup

        def milli(num, den):
            return num * 1000 // den if den > 0 else 0

        tb, td = stats(toks)
        bb, bd = stats(bigs)
        n, nb = len(toks), len(bigs)
        return {
            "n_tokens": n,
            "top_token_milli": milli(tb, n),
            "dup_token_milli": milli(td, n),
            "top_bigram_milli": milli(bb, nb),
            "dup_bigram_milli": milli(bd, nb),
        }

    for i, text in enumerate(texts):
        want = ref(text)
        have = {k: got[f"d{i}"][k] for k in want}
        assert have == want, (text, have, want)


def test_oov_rate_vocab_cut_is_deterministic(spark):
    """Vocabulary = top-V by (count desc, token asc); tokens tied at
    the cut resolve alphabetically, and OOV counts follow exactly."""
    from accountant_pdf_extract_spark.operators import textstats

    # counts: a=3, b=2, c=2, d=1 -> vocab_size=2 keeps {a, b} (b beats
    # c on the alphabetical tiebreak at equal count)
    df = spark.createDataFrame(
        [("d1", "a a a b"), ("d2", "b c c d")], "doc_id string, text string"
    )
    got = {r["doc_id"]: r["oov_milli"] for r in
           textstats.oov_rate(df, vocab_size=2).collect()}
    assert got == {"d1": 0, "d2": 750}  # d2: c,c,d OOV -> 3/4


def test_null_text_tokenizes_like_empty(spark):
    """documents.text is nullable: NULL must flow through the shared
    token identity as zero tokens (n_tokens=0, all milli 0) — matching the oracle twins' 0-rows-then-coalesce,
    never a NULL that hash-diverges from the oracle's 0."""
    from accountant_pdf_extract_spark.operators import textstats

    df = spark.createDataFrame(
        [("d0", None), ("d1", "a a")], "doc_id string, text string"
    )
    rep = {r["doc_id"]: r.asDict() for r in
           textstats.repetition_features(df).collect()}
    assert rep["d0"] == {"doc_id": "d0", "n_tokens": 0, "top_token_milli": 0,
                         "dup_token_milli": 0, "top_bigram_milli": 0,
                         "dup_bigram_milli": 0}
    oov = {r["doc_id"]: (r["n_tokens"], r["oov_milli"]) for r in
           textstats.oov_rate(df, vocab_size=1).collect()}
    assert oov["d0"] == (0, 0)


def test_jsonl_shard_assignment_is_partitioning_invariant(spark, tmp_path):
    """Content-addressed sharding: the same row lands in the same
    shard no matter how the input was partitioned, and read-back with
    an explicit schema returns the exact original rows."""
    from accountant_pdf_extract_spark.sources.jsonl import (
        SHARD_COL,
        read_jsonl,
        write_jsonl_shards,
    )

    rows = [(i, f"tok{i} " * (i % 5), i % 3) for i in range(40)]
    schema = "doc_id long, text string, grp long"
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    write_jsonl_shards(spark.createDataFrame(rows, schema).repartition(1), a, 4)
    write_jsonl_shards(spark.createDataFrame(rows, schema).repartition(13), b, 4)

    def shard_map(path):
        df = spark.read.schema(schema).json(path)
        return {
            r["doc_id"]: r[SHARD_COL]
            for r in df.withColumn(SHARD_COL, F.input_file_name()).select(
                "doc_id", F.regexp_extract(F.input_file_name(), r"_shard=(\d+)", 1).alias(SHARD_COL)
            ).collect()
        }

    assert shard_map(a) == shard_map(b)

    got = sorted(
        (r["doc_id"], r["text"], r["grp"])
        for r in read_jsonl(
            spark, a, spark.createDataFrame(rows, schema).schema
        ).collect()
    )
    assert got == sorted(rows)

    import pytest

    with pytest.raises(ValueError, match="n_shards"):
        write_jsonl_shards(spark.createDataFrame(rows, schema), a, 0)


def test_repetition_fold_fuzz_300_random_docs(spark):
    """One Spark pass over 300 seeded random token sequences (skewed
    multiplicities, runs, singletons, empties) must equal the Counter
    reference on every doc — fuzz for the run-length fold's state
    machine beyond the handcrafted shapes."""
    import random
    from collections import Counter

    from accountant_pdf_extract_spark.operators import textstats

    rnd = random.Random(20260816)
    docs = []
    for i in range(300):
        n = rnd.choice([0, 1, 2, 3, 5, 8, 20, 60])
        vocab_n = rnd.choice([1, 2, 3, 8, 30])
        toks = [f"w{rnd.randrange(vocab_n)}" for _ in range(n)]
        docs.append((f"d{i:03d}", " ".join(toks)))
    df = spark.createDataFrame(docs, "doc_id string, text string")
    got = {r["doc_id"]: r.asDict() for r in
           textstats.repetition_features(df).collect()}

    def stats(items):
        c = Counter(items)
        best = max(c.values()) if c else 0
        return best, sum(v for v in c.values() if v >= 2)

    def milli(num, den):
        return num * 1000 // den if den > 0 else 0

    for doc_id, text in docs:
        toks = text.split()
        bigs = [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        tb, td = stats(toks)
        bb, bd = stats(bigs)
        n, nb = len(toks), len(bigs)
        want = {
            "doc_id": doc_id, "n_tokens": n,
            "top_token_milli": milli(tb, n),
            "dup_token_milli": milli(td, n),
            "top_bigram_milli": milli(bb, nb),
            "dup_bigram_milli": milli(bd, nb),
        }
        assert got[doc_id] == want, (doc_id, got[doc_id], want)


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
