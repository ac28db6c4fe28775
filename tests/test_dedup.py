"""Incremental cross-corpus dedup (q_dedup_incremental) contracts:
batch-size invariance and the bucketed-not-all-pairs plan shape."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from crypto_data_ingestion_script_spark.catalog import load
from crypto_data_ingestion_script_spark.llm.dedup import (
    BATCH_MOD,
    BATCH_REM,
    incremental_near_dedup,
)
from crypto_data_ingestion_script_spark.registry import load_all

SPECS = load_all()


def _rows(df):
    return sorted(
        (
            r["doc_id"],
            r["n_matches"],
            r["best_jaccard"],
            r["first_match_id"],
            r["is_novel"],
        )
        for r in df.collect()
    )


def test_incremental_dedup_is_batch_size_invariant(spark, sf_dir):
    """Each batch document's verdict depends only on itself and the
    corpus: screening HALF the batch must reproduce exactly the full
    run's rows for those documents (the recurring-crawl contract — one
    big batch or many small ones, same decisions)."""
    docs = load(spark, sf_dir).documents
    batch = docs.filter(F.col("doc_id") % BATCH_MOD == BATCH_REM)
    corpus = docs.filter(F.col("doc_id") % BATCH_MOD != BATCH_REM)
    full = _rows(incremental_near_dedup(batch, corpus))
    assert len(full) > 0
    cut = sorted(r[0] for r in full)[len(full) // 2]
    half = _rows(incremental_near_dedup(batch.filter(F.col("doc_id") < cut), corpus))
    assert half == [r for r in full if r[0] < cut]


def test_incremental_dedup_matches_are_sound(spark, sf_dir):
    """Spot-verify the match semantics: every non-novel row's
    first_match_id is a corpus doc (never in the batch), n_matches > 0
    iff not novel, and best_jaccard is in (0, 1]."""
    out = SPECS["q_dedup_incremental"].fn(spark, sf_dir).collect()
    assert len(out) > 0
    for r in out:
        if r["is_novel"]:
            assert r["n_matches"] == 0 and r["best_jaccard"] is None
            assert r["first_match_id"] is None
        else:
            assert r["n_matches"] > 0 and 0.0 < r["best_jaccard"] <= 1.0
            assert r["first_match_id"] % BATCH_MOD != BATCH_REM
            assert r["doc_id"] % BATCH_MOD == BATCH_REM


def test_incremental_dedup_is_bucketed_not_all_pairs(spark, sf_dir):
    """Candidates must come from the band-hash equi-join — never a
    batch×corpus cartesian/nested-loop enumeration."""
    df = SPECS["q_dedup_incremental"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_segment_dedup_keep_first_policy(spark):
    """Toy-corpus pin of the CCNet paragraph-dedup semantics: a segment
    duplicated across (or within) documents survives only at its
    globally-first (doc_id, position) occurrence, and each document's
    cleaned text re-assembles its surviving segments in original order."""
    from crypto_data_ingestion_script_spark.llm.dedup import segment_dedup

    docs = spark.createDataFrame(
        [
            # doc 1: two segments A B — both first occurrences.
            (1, "a b c d"),
            # doc 2: segment A again (dropped) then unique E (kept).
            (2, "a b e f"),
            # doc 3: E again (dropped), then the SAME segment twice
            # intra-doc: first copy kept, second dropped.
            (3, "e f g h g h"),
        ],
        "doc_id bigint, text string",
    )
    out = {
        r["doc_id"]: r
        for r in segment_dedup(docs, seg_len=2).collect()
    }
    assert out[1]["n_segments"] == 2 and out[1]["n_kept"] == 2
    assert out[1]["cleaned_text"] == "a b c d"
    assert out[2]["n_segments"] == 2 and out[2]["n_kept"] == 1
    assert out[2]["cleaned_text"] == "e f"
    assert out[3]["n_segments"] == 3 and out[3]["n_kept"] == 1
    assert out[3]["cleaned_text"] == "g h"
    assert out[3]["kept_frac"] == pytest.approx(1 / 3, abs=1e-6)


def test_segment_dedup_last_partial_segment_and_plan(spark):
    """The trailing sub-seg_len segment is a first-class unit (kept or
    deduped like any other), and the plan is the two-exchange shape: one
    hash-partition on the digest for the rank, one on doc_id for the
    re-assembly — never a single-partition global sort."""
    from crypto_data_ingestion_script_spark.llm.dedup import segment_dedup

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "x y c")],
        "doc_id bigint, text string",
    )
    out = {r["doc_id"]: r for r in segment_dedup(docs, seg_len=2).collect()}
    # doc 1 -> segments "a b", "c"; doc 2 -> "x y", "c" (dup, dropped).
    assert out[1]["cleaned_text"] == "a b c"
    assert out[2]["cleaned_text"] == "x y"
    plan = segment_dedup(docs)._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan


def test_stream_incremental_dedup_multi_batch_equals_single(spark, sf_dir, tmp_path):
    """Streaming delivery contract: the same new-doc batch delivered as
    TWO micro-batches (maxFilesPerTrigger=1 over two files) must append
    exactly the rows of the one-batch run — which themselves equal the
    batch operator's verdicts (shared oracle)."""
    from crypto_data_ingestion_script_spark.streaming.jobs import (
        stream_incremental_dedup,
    )

    docs = load(spark, sf_dir).documents
    batch = docs.filter(F.col("doc_id") % BATCH_MOD == BATCH_REM)
    corpus = docs.filter(F.col("doc_id") % BATCH_MOD != BATCH_REM).localCheckpoint()
    expected = _rows(incremental_near_dedup(batch, corpus))
    assert len(expected) > 0

    ids = sorted(r["doc_id"] for r in batch.select("doc_id").collect())
    cut = ids[len(ids) // 2]
    indir = str(tmp_path / "in")
    batch.filter(F.col("doc_id") < cut).coalesce(1).write.parquet(
        indir + "/a.parquet"
    )
    batch.filter(F.col("doc_id") >= cut).coalesce(1).write.parquet(
        indir + "/b.parquet"
    )
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(indir)
    )
    got = _rows(stream_incremental_dedup(stream, corpus))
    assert got == expected


def test_simhash_join_banding_equals_all_pairs(spark):
    """q_simhash_join's pigeonhole guarantee, proven on real data: the
    4x16-bit banded candidate join returns EXACTLY the pairs an
    unblocked all-pairs Hamming scan finds at radius 3 (banding is a
    recall-lossless blocking, not an approximation)."""
    from crypto_data_ingestion_script_spark.llm.dedup import (
        SIMHASH_HAM_MAX,
        simhash64,
    )
    from crypto_data_ingestion_script_spark.registry import load_all

    sf_dir = "/root/testdata/sf0.001"
    banded = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in load_all()["q_simhash_join"].fn(spark, sf_dir).collect()
    }
    sh = simhash64(load(spark, sf_dir).documents)
    a, b = sh.alias("a"), sh.alias("b")
    ham = F.bit_count(F.col("a.lo").bitwiseXOR(F.col("b.lo"))) + F.bit_count(
        F.col("a.hi").bitwiseXOR(F.col("b.hi"))
    )
    brute = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .filter(ham <= SIMHASH_HAM_MAX)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.cast("bigint").alias("hamming"),
        )
        .collect()
    }
    assert banded == brute and len(brute) > 0


def test_boilerplate_drops_all_copies_keeps_rare(spark):
    """boilerplate_filter policy pin: a segment in >= BOILER_DF distinct
    docs vanishes from EVERY doc (including the first — the difference
    from segment_dedup's keep-first), while a two-doc segment survives in
    both."""
    from crypto_data_ingestion_script_spark.llm.dedup import boilerplate_filter

    boiler = "b1 b2 b3 b4 b5 b6 b7 b8"
    rare = "r1 r2 r3 r4 r5 r6 r7 r8"
    docs = spark.createDataFrame(
        [
            (1, boiler + " " + rare),
            (2, boiler + " u1 u2 u3 u4 u5 u6 u7 u8"),
            (3, boiler + " " + rare),
        ],
        "doc_id bigint, text string",
    )
    out = {r["doc_id"]: r for r in boilerplate_filter(docs).collect()}
    assert all(boiler not in r["cleaned_text"] for r in out.values())
    assert out[1]["cleaned_text"] == rare and out[3]["cleaned_text"] == rare
    assert out[2]["cleaned_text"] == "u1 u2 u3 u4 u5 u6 u7 u8"
    assert out[1]["n_boiler"] == 1 and out[1]["n_segments"] == 2


def test_suffix_lcp_sound_and_detects_all_docs(spark):
    """q_suffix_lcp vs a quadratic python re-derivation at sf0.001, pinning
    the operator's actual guarantees: (1) SOUNDNESS — every reported
    max_lcp is at most the pair's true longest common token-substring
    (it IS a real common substring's length) and >= LCP_MIN; (2) DOC
    DETECTION — exactly the documents having some cross-doc common
    substring >= LCP_MIN appear in the output (adjacency attribution may
    route a 3-doc run to 2 pairs, so pair-level completeness is NOT
    claimed — see the docstring)."""
    import duckdb

    from crypto_data_ingestion_script_spark.llm.dedup import LCP_MIN, SUFFIX_CAP

    sf_dir = "/root/testdata/sf0.001"
    rows = duckdb.connect().execute(
        f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet'"
    ).fetchall()
    toks = {d: t.split(" ") for d, t in rows}

    def lcs(a, b):
        best = 0
        for i in range(len(a)):
            for j in range(len(b)):
                k = 0
                while (
                    i + k < len(a) and j + k < len(b) and a[i + k] == b[j + k]
                ):
                    k += 1
                best = max(best, k)
        return min(best, SUFFIX_CAP)

    # Exact LINEAR detection ground truth: a >= LCP_MIN common substring
    # exists iff some LCP_MIN-token shingle is shared across docs.
    shingle_docs = {}
    for d, tk in toks.items():
        for i in range(max(len(tk) - LCP_MIN + 1, 0)):
            shingle_docs.setdefault(tuple(tk[i : i + LCP_MIN]), set()).add(d)
    docs_expect = {
        d for ds in shingle_docs.values() if len(ds) > 1 for d in ds
    }

    got = {
        (r["doc_a"], r["doc_b"]): r["max_lcp"]
        for r in load_all()["q_suffix_lcp"].fn(spark, sf_dir).collect()
    }
    assert len(got) > 0
    for (a_id, b_id), lcp in got.items():
        assert LCP_MIN <= lcp <= lcs(toks[a_id], toks[b_id]), (a_id, b_id, lcp)
    docs_got = {d for pair in got for d in pair}
    assert docs_got == docs_expect


def test_jaccard_pairs_bitmap_collisions_match_brute_force(spark):
    """jaccard_pairs' bitmap filter must stay exact when rank keys collide
    mod 64. The shipped corpora have ~31-token vocabularies, where the
    64-bit bitmap is collision-free; this corpus draws from 800 tokens
    (>= 500 distinct in use) with planted near-duplicates — token drops,
    adds and swaps, some landing exactly on jaccard 0.9 — and the engine's
    pair list must equal a brute-force Python scan."""
    import random

    from crypto_data_ingestion_script_spark.llm.dedup import jaccard_pairs

    rng = random.Random(23)
    vocab = [f"t{i:03d}" for i in range(800)]
    docs = []
    for _ in range(60):
        base = rng.sample(vocab, rng.randint(15, 40))
        docs.append(base)
        for _ in range(rng.randint(0, 4)):
            v = list(base)
            edit = rng.choice(("copy", "drop", "add", "swap", "drop2"))
            if edit in ("drop", "drop2"):
                for _ in range(1 if edit == "drop" else 2):
                    v.remove(rng.choice(v))
            elif edit == "add":
                v.append(rng.choice(vocab))
            elif edit == "swap":
                v[rng.randrange(len(v))] = rng.choice(vocab)
            rng.shuffle(v)
            docs.append(v)
    texts = [" ".join(d) for d in docs]
    sets = [set(d) for d in docs]
    assert len(set().union(*sets)) >= 500

    expected = set()
    for i in range(len(sets)):
        for j in range(i + 1, len(sets)):
            jac = len(sets[i] & sets[j]) / len(sets[i] | sets[j])
            if jac >= 0.9:
                expected.add((i, j, round(jac, 6)))
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id bigint, text string")
    got = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in jaccard_pairs(df, 0.9).collect()
    }
    assert got == expected
    # not vacuous: near-duplicate (jaccard < 1) pairs, one exactly at 0.9
    assert any(j < 1.0 for _, _, j in expected)
    assert any(j == 0.9 for _, _, j in expected)
