"""Unit tests for text-analysis and dedup operators (SURVEY.md §7.2 M5)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from retail_sales_data_pipeline_spark.operators import dedup as D
from retail_sales_data_pipeline_spark.operators import text as X


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog", "en"),
        (2, "the quick brown fox jumps over the dog", "en"),      # near-dup of 1
        (3, "completely different words here entirely unrelated", "en"),
        (4, "the quick brown fox jumps over the lazy dog", "en"),  # exact dup of 1
        (5, "dog lazy the over jumps fox brown quick the", "en"),  # permutation of 1
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_token_counts(spark, docs):
    r = {x.doc_id: x for x in docs.select(
        "doc_id",
        X.token_count("text").alias("n"),
        X.distinct_token_count("text").alias("u"),
        X.bpe_ish_token_count("text").alias("b"),
    ).collect()}
    assert r[1].n == 9 and r[1].u == 8  # 'the' repeats
    assert r[3].n == 6
    assert r[1].b == 9  # plain words: BPE-ish == word count


def test_stopword_and_quality(spark, docs):
    r = docs.select("doc_id", *X.quality_features("text")).collect()
    by_id = {x.doc_id: x for x in r}
    assert by_id[1].n_stopwords == 2  # 'the' twice
    assert by_id[3].n_stopwords == 0
    assert 0.0 <= by_id[1].quality_score <= 1.0
    assert by_id[1].stopword_ratio == pytest.approx(2 / 9, abs=1e-6)


def test_fingerprints(spark, docs):
    r = {x.doc_id: x for x in docs.select(
        "doc_id",
        X.fingerprint_md5("text").alias("fp"),
        X.fingerprint_bag("text").alias("bag"),
    ).collect()}
    assert r[1].fp == r[4].fp          # exact dup → same md5
    assert r[1].fp != r[5].fp          # permutation → different md5
    assert r[1].bag == r[5].bag        # ...but same bag fingerprint
    assert r[1].bag != r[3].bag


def test_exact_dedup(spark, docs):
    out = {x.canonical_id: x.n_dups for x in D.exact_dedup(docs).collect()}
    assert out[1] == 2          # docs 1 and 4 collapse, canonical = min id
    assert 4 not in out
    assert out[3] == 1


def test_ngram_jaccard_finds_neardup(spark, docs):
    pairs = {(x.id_a, x.id_b): x.jaccard for x in
             D.ngram_jaccard_pairs(docs, threshold=0.3).collect()}
    assert (1, 4) in pairs and pairs[(1, 4)] == 1.0   # exact dup
    assert (1, 2) in pairs and 0.3 <= pairs[(1, 2)] < 1.0  # near dup
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_minhash_lsh_finds_neardup(spark, docs):
    pairs = {(x.id_a, x.id_b): x.jaccard for x in
             D.minhash_lsh_pairs(docs, threshold=0.3).collect()}
    assert (1, 4) in pairs and pairs[(1, 4)] == 1.0
    # identical docs share every band; near-dups are likely but
    # probabilistic — assert no false positives against doc 3
    assert all(3 not in p for p in pairs)


def test_lsh_candidates_subset_of_true_pairs(spark, docs):
    """LSH-verified pairs must be a subset of brute-force Jaccard pairs."""
    brute = {(x.id_a, x.id_b) for x in D.ngram_jaccard_pairs(docs, threshold=0.3).collect()}
    lsh = {(x.id_a, x.id_b) for x in D.minhash_lsh_pairs(docs, threshold=0.3).collect()}
    assert lsh <= brute


def test_simhash_properties(spark, docs):
    sig = {x.id: x.simhash for x in D.simhash_signatures(docs).collect()}
    assert sig[1] == sig[4]  # identical text → identical simhash
    assert sig[1] == sig[5]  # simhash is bag-of-tokens → permutation-invariant
    assert 0 <= sig[1] < 2 ** 32

    def hamming(a, b):
        return bin(a ^ b).count("1")

    # near-dup differs in few bits; unrelated differs in many
    assert hamming(sig[1], sig[2]) < hamming(sig[1], sig[3])


def test_lang_id_deterministic(spark, docs):
    out = docs.select("doc_id", *X.lang_scores("text")).withColumn(
        "pred", X.lang_predict()
    )
    r = {x.doc_id: x for x in out.collect()}
    # doc 1 has 'the' (en marker, twice) -> en beats others
    assert r[1].score_en >= 2
    assert r[1].pred == "en"
    # all-zero scores tie-break lexicographically -> 'de'
    assert r[3].pred == "de"


def test_connected_components_chain(spark):
    """A chain 1-2-3-4 collapses to one cluster rooted at 1; singleton
    and separate pair stay apart — transitivity matters (3 never pairs
    with 1 directly)."""
    nodes = spark.createDataFrame([(i,) for i in range(1, 8)], "id long")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (5, 6)], "id_a long, id_b long"
    )
    out = {r.id: r.cluster_id for r in D.connected_components(nodes, pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5, 7: 7}


def test_approx_distinct_error_bound(spark):
    """HLL++ vocab estimate stays within 5% of the exact count: the
    query's approx_ok column (|approx-exact|/exact <= 0.05) holds for
    every language, and exact_vocab agrees with an independent
    countDistinct."""
    from retail_sales_data_pipeline_spark.plans.llm_ops import corpus_approx_distinct
    from retail_sales_data_pipeline_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    out = {r.lang: r for r in corpus_approx_distinct(spark, sf).collect()}
    docs = load_table(spark, sf, "documents", ["text", "lang"])
    exact = {
        r.lang: r.v
        for r in docs.select("lang", F.explode(X.tokens("text")).alias("t"))
        .groupBy("lang")
        .agg(F.countDistinct("t").alias("v"))
        .collect()
    }
    for lang, v in exact.items():
        assert out[lang].exact_vocab == v
        assert out[lang].approx_ok, (lang, v)


def test_shingle_skew_cap(spark):
    """df_cap drops ubiquitous shingles (boilerplate guard)."""
    rows = [(i, "common boiler plate " + w, "en") for i, w in
            enumerate(["alpha beta gamma", "delta eps zeta", "eta theta iota"])]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    capped = D.ngram_jaccard_pairs(df, threshold=0.01, df_cap=2)
    uncapped = D.ngram_jaccard_pairs(df, threshold=0.01)
    assert capped.count() <= uncapped.count()


def test_planted_boilerplate_does_not_explode(spark):
    """A shingle planted in 50% of docs must not quadratically explode
    the pair count: with the cap on, the hot key contributes zero
    candidate pairs; without it, every boilerplate-sharing doc pair
    (n/2 choose 2) survives a low threshold."""
    n = 40
    boiler = "terms of service apply here"
    rows = []
    for i in range(n):
        unique = f"doc{i}a doc{i}b doc{i}c doc{i}d doc{i}e doc{i}f"
        text = f"{boiler} {unique}" if i % 2 == 0 else unique
        rows.append((i, text, "en"))
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    uncapped = D.ngram_jaccard_pairs(df, threshold=0.01).count()
    capped = D.ngram_jaccard_pairs(df, threshold=0.01, df_cap=5).count()
    assert uncapped == (n // 2) * (n // 2 - 1) // 2  # hot key went quadratic
    assert capped == 0  # cap removed the boilerplate key entirely


def test_redact_pii(spark):
    rows = [(0, "mail bob.smith@corp.io now", "en"),
            (1, "call 555-123-4567 or visit 192.168.1.1", "en"),
            (2, "clean text only", "en")]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {r.doc_id: r for r in df.select(
        "doc_id", *X.pii_counts("text"),
        X.redact_pii("text").alias("red")).collect()}
    assert out[0].n_email == 1 and out[0].red == "mail [EMAIL] now"
    assert out[1].n_phone == 1 and out[1].n_ipv4 == 1
    assert out[1].red == "call [PHONE] or visit [IP]"
    assert out[2].red == "clean text only"
    assert out[2].n_email == out[2].n_phone == out[2].n_ipv4 == 0


def test_pack_sequences_invariants(spark):
    from retail_sales_data_pipeline_spark.plans.llm_ops import (
        SEQ_LEN,
        corpus_pack_sequences,
    )

    rows = corpus_pack_sequences(spark, "/root/testdata/sf0.001").collect()
    by_lang = {}
    for r in sorted(rows, key=lambda r: (r.lang, r.doc_id)):
        by_lang.setdefault(r.lang, []).append(r)
    for lang, docs in by_lang.items():
        # start offsets are the exclusive prefix sum of token counts
        cum = 0
        for r in docs:
            assert r.start_offset == cum
            assert r.pack_id == cum // SEQ_LEN
            assert r.offset_in_pack == cum % SEQ_LEN
            cum += r.n_tokens


def test_decontaminate_flags_planted_overlap(spark):
    from retail_sales_data_pipeline_spark.operators import dedup as DD

    # doc 50 is "eval" (id % 50 == 0); doc 1 copies 6 of its tokens
    eval_text = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [(50, eval_text, "en"),
            (1, "unrelated prefix alpha beta gamma delta epsilon zeta", "en"),
            (2, "completely different content here entirely", "en")]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    train = df.where(F.col("doc_id") % 50 != 0)
    hold = df.where(F.col("doc_id") % 50 == 0)
    shared = (DD.shingle_hashes(train, n=5)
              .join(DD.shingle_hashes(hold, n=5).select("sh").distinct(), "sh")
              .groupBy("id").count().collect())
    flagged = {r.id: r["count"] for r in shared}
    assert 1 in flagged and flagged[1] == 2  # two shared 5-grams
    assert 2 not in flagged


def test_repetition_features(spark):
    rows = [
        (1, "a a a a b"),          # top token 'a' x4/5; bigrams: aa aa aa ab -> dup 'a a' x3of4
        (2, "x y z w"),            # all unique: top 1/4, no dup bigrams
        (3, "go go go go"),        # fully degenerate
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    r = {x.doc_id: x for x in df.select("doc_id", *X.repetition_features("text")).collect()}
    assert r[1].top_token_count == 4 and r[1].top_token_ratio == 0.8
    assert r[1].n_bigrams == 4 and r[1].n_distinct_bigrams == 2
    assert r[1].dup_bigram_ratio == 0.5
    assert r[2].top_token_ratio == 0.25 and r[2].dup_bigram_ratio == 0.0
    assert r[3].top_token_ratio == 1.0
    assert r[3].n_bigrams == 3 and r[3].n_distinct_bigrams == 1


def test_source_mix_weights_normalize(spark, sf_dir):
    from retail_sales_data_pipeline_spark.plans.llm_ops import corpus_source_mix

    out = corpus_source_mix(spark, sf_dir).collect()
    assert len(out) > 1
    total_w = sum(x.mix_weight for x in out)
    assert abs(total_w - 1.0) < 1e-4          # weights normalize
    assert all(0.0 < x.mix_weight < 1.0 for x in out)
    assert all(0.0 <= x.mean_quality <= 1.0 for x in out)


def test_boilerplate_ngrams_planted(spark, monkeypatch, tmp_path):
    """A footer shared by most docs must be flagged; unique text must not."""
    from retail_sales_data_pipeline_spark.plans import llm_ops

    footer = "all rights reserved worldwide"
    rows = [(i, f"unique words {i} alpha beta {footer}") for i in range(8)]
    rows.append((99, "totally original content with no shared trigrams at all"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    monkeypatch.setattr(llm_ops, "_docs", lambda s, d: df)
    out = {
        r.doc_id: r
        for r in llm_ops.corpus_boilerplate_ngrams(spark, "unused", min_docs=5).collect()
    }
    assert out[0].n_boilerplate > 0 and out[0].boilerplate_ratio > 0
    assert out[99].n_boilerplate == 0 and out[99].boilerplate_ratio == 0.0


def test_ngram_novelty_first_occurrence(spark, monkeypatch):
    """doc 1 owns all its shingles; an exact later copy owns none."""
    from retail_sales_data_pipeline_spark.plans import llm_ops

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # copy of 1
        (3, "fresh sentences never before seen anywhere else"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    monkeypatch.setattr(llm_ops, "_docs", lambda s, d: df)
    out = {r.doc_id: r for r in llm_ops.corpus_ngram_novelty(spark, "unused").collect()}
    assert out[1].novelty_ratio == 1.0
    assert out[2].novelty_ratio == 0.0
    assert out[3].novelty_ratio == 1.0


def test_keep_canonical_invariants(spark, sf_dir):
    from retail_sales_data_pipeline_spark.plans.llm_ops import (
        dedup_clusters,
        dedup_keep_canonical,
    )

    labels = dedup_clusters(spark, sf_dir)
    kept = dedup_keep_canonical(spark, sf_dir)
    n_clusters = labels.select("cluster_id").distinct().count()
    # exactly one survivor per cluster, and the survivor IS the label
    assert kept.count() == n_clusters
    assert kept.select(F.sum("cluster_size")).first()[0] == labels.count()
    # canonical = min id of its cluster: no survivor has id > its cluster_id
    joined = kept.join(labels, kept.doc_id == labels.id)
    assert joined.where(F.col("doc_id") != F.col("cluster_id")).count() == 0


def test_langid_confusion_shares(spark, sf_dir):
    from retail_sales_data_pipeline_spark.plans.llm_ops import (
        text_langid_confusion,
    )

    rows = text_langid_confusion(spark, sf_dir).collect()
    by_lang: dict = {}
    for r in rows:
        by_lang.setdefault(r.lang, 0.0)
        by_lang[r.lang] += r.share
    assert all(abs(s - 1.0) < 1e-4 for s in by_lang.values())
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert sum(r.n for r in rows) == n_docs  # every document is classified once


def test_unigram_logprob_ranks_rare_tokens_lower(spark, monkeypatch):
    from retail_sales_data_pipeline_spark.plans import llm_ops

    rows = [
        (1, "common common common common"),
        (2, "common common common rare"),
        (3, "rare unique singleton oddity"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    monkeypatch.setattr(llm_ops, "_docs", lambda s, d: df)
    out = {
        r.doc_id: r.avg_logprob
        for r in llm_ops.corpus_unigram_logprob(spark, "unused").collect()
    }
    # all-common doc scores highest; rare-token doc lowest
    assert out[1] > out[2] > out[3]
    import math
    # doc 1: every token has p = 7/12 -> avg ln(7/12)
    assert abs(out[1] - round(math.log(7 / 12), 6)) < 1e-5


def test_curation_funnel_monotone(spark, sf_dir):
    from retail_sales_data_pipeline_spark.plans.llm_ops import corpus_curation_funnel

    rows = sorted(
        corpus_curation_funnel(spark, sf_dir).collect(), key=lambda r: r.stage_idx
    )
    assert [r.stage for r in rows] == [
        "raw", "length", "quality", "repetition",
        "boilerplate", "bag_dedup", "decontaminated",
    ]
    n_docs_raw = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert rows[0].n_docs == n_docs_raw
    # each gate only removes
    for a, b in zip(rows, rows[1:]):
        assert b.n_docs <= a.n_docs and b.total_tokens <= a.total_tokens
    # the pipeline keeps something and removes something
    assert 0 < rows[-1].n_docs < n_docs_raw


def test_split_assign_is_leakage_safe(spark, sf_dir):
    """Every source lands in exactly ONE split (group-aware hashing), so
    near-duplicates clustered within a source can never straddle the
    train/test boundary; splits are exhaustive and deterministic."""
    from retail_sales_data_pipeline_spark.plans.llm_ops import corpus_split_assign
    from retail_sales_data_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents", ["doc_id", "source"])
    bucket = (
        F.conv(F.substring(F.md5(F.col("source")), 1, 8), 16, 10).cast("long")
        % 100
    )
    split = (
        F.when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test")
    )
    per_source = (
        docs.select("source", split.alias("split"))
        .groupBy("source")
        .agg(F.countDistinct("split").alias("n_splits"))
    )
    assert per_source.where(F.col("n_splits") != 1).count() == 0

    # summary is exhaustive: split doc counts sum to the corpus size
    summary = corpus_split_assign(spark, sf_dir)
    assert summary.agg(F.sum("n_docs")).collect()[0][0] == docs.count()
    # and deterministic across invocations
    a = sorted(map(tuple, summary.collect()))
    b = sorted(map(tuple, corpus_split_assign(spark, sf_dir).collect()))
    assert a == b


def test_connected_components_closes_long_chains(spark):
    """Large-star/small-star CC labels a shallow graph with each
    component's min id, and fully closes a 120-hop chain at its default
    max_iter (O(log n) rounds, not graph-diameter rounds)."""
    import warnings

    # shallow graph: two triangles + a bridge + singletons
    nodes = spark.createDataFrame([(i,) for i in range(12)], "id long")
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (5, 6), (6, 7), (7, 5), (2, 5)],
        "id_a long, id_b long",
    )
    got = {r.id: r.cluster_id for r in D.connected_components(nodes, pairs).collect()}
    assert got == {i: 0 if i in (0, 1, 2, 5, 6, 7) else i for i in range(12)}

    chain_nodes = spark.createDataFrame([(i,) for i in range(121)], "id long")
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(120)], "id_a long, id_b long"
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        full = D.connected_components(chain_nodes, chain).collect()
        # no convergence warning (unrelated ResourceWarnings may appear)
        assert not [w for w in caught if w.category is RuntimeWarning]
    assert len(full) == 121 and all(r.cluster_id == 0 for r in full)


def test_blocked_levenshtein_finds_typos_not_ngrams(spark):
    """A one-character typo costs edit distance 1 but shifts every
    3-gram containing it; the fuzzy-key pass catches what shingle
    Jaccard misses on short keys, and blocking keeps the candidate set
    to same-prefix same-length-band pairs."""
    from retail_sales_data_pipeline_spark.operators.dedup import (
        blocked_levenshtein_pairs,
    )

    rows = [
        (1, "the quick brown fox jumps"),
        (2, "the quick brawn fox jumps"),   # 1 substitution vs 1
        (3, "the quick brown fox jumped"),  # sub + insert = dist 2 vs 1
        (4, "a completely different string"),
        (5, "the quick brown dog sprints far away"),  # same prefix, other band
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {
        (r.id_a, r.id_b): r.dist
        for r in blocked_levenshtein_pairs(df, key_col="text", max_dist=3).collect()
    }
    assert pairs[(1, 2)] == 1 and pairs[(1, 3)] == 2 and pairs[(2, 3)] == 3
    assert all(4 not in p and 5 not in p for p in pairs)

    # block_cap drops oversized blocks entirely (docs 1-3 share one)
    capped = blocked_levenshtein_pairs(
        df, key_col="text", max_dist=3, block_cap=2
    ).count()
    assert capped == 0


def test_blocked_levenshtein_key_used_verbatim(spark):
    """The operator must NOT re-normalize the key: a trailing space kept
    by the caller (e.g. a 32-char truncation landing on a word boundary)
    is part of the key — it flips the length band at band-width
    multiples and costs one edit. An internal trim would diverge from
    any oracle that blocks on the caller's key (round-4 ADVICE)."""
    from retail_sales_data_pipeline_spark.operators.dedup import (
        blocked_levenshtein_pairs,
    )

    # len("abcdefg")=7 → band 0; "abcdefg "=8 → band 1 with len_band=8:
    # verbatim keys put them in DIFFERENT blocks → no pair. Keys 3,4
    # share band 1 and differ only by that space → dist 1.
    rows = [
        (1, "abcdefg"),
        (2, "abcdefg "),
        (3, "abcdefgh"),
        (4, "abcdefgh "),
        (5, "ABCDEFG"),  # case differs from 1 — dist 7 verbatim, not 0
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {
        (r.id_a, r.id_b): r.dist
        for r in blocked_levenshtein_pairs(
            df, key_col="text", max_dist=3, prefix_len=4, len_band=8
        ).collect()
    }
    assert (1, 2) not in pairs  # bands 0 vs 1 under verbatim lengths
    assert pairs.get((2, 3)) == 1  # trailing space substituted by "h"
    assert pairs.get((3, 4)) == 1  # trailing space = one edit
    assert (1, 5) not in pairs  # case not folded → dist 7 > max_dist


def test_corpus_shuffle_shard_is_a_permutation(spark):
    """The shard+pos assignment must be a bijection onto the corpus:
    every doc appears exactly once, each shard's positions are the
    contiguous 1..len(shard), shards are md5-balanced, and the whole
    assignment is reproducible (pure function of doc_id — independent
    of input partitioning)."""
    from retail_sales_data_pipeline_spark.plans.llm_ops import (
        corpus_shuffle_shard,
    )

    sf_dir = "/root/testdata/sf0.001"
    rows = corpus_shuffle_shard(spark, sf_dir).collect()
    n = len(rows)
    assert n == len({r.doc_id for r in rows})  # one row per doc
    by_shard: dict[int, list[int]] = {}
    for r in rows:
        by_shard.setdefault(r.shard, []).append(r.pos)
    assert set(by_shard) <= set(range(16))
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1)), shard
    # md5 balance: no shard more than ~3x the uniform share (50 docs /
    # 16 shards is small — this bounds gross skew, not variance)
    assert max(len(p) for p in by_shard.values()) <= 3 * max(1, n // 16)
    # reproducibility: a second build with different input partitioning
    # yields the identical assignment
    again = sorted(
        map(tuple, corpus_shuffle_shard(spark, sf_dir).repartition(7).collect())
    )
    assert again == sorted(map(tuple, rows))
