"""Corpus-curation operator tests: deterministic sampling / mixing /
splits, benchmark decontamination, PII redaction."""

import pytest
from pyspark.sql import functions as F

from my_weather_spark.llm import decontam, packing, sampling, text as text_ops


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [(i, f"doc number {i} body text", ["web", "books", "code"][i % 3])
            for i in range(300)]
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


# ----------------------------------------------------------------------
# hash_sample
def test_hash_sample_deterministic_and_stable(corpus):
    a = {r["doc_id"] for r in sampling.hash_sample(corpus, 0.3, seed="s").collect()}
    b = {r["doc_id"] for r in sampling.hash_sample(corpus, 0.3, seed="s").collect()}
    assert a == b
    # repartition-invariant: same membership under a different layout
    c = {
        r["doc_id"]
        for r in sampling.hash_sample(corpus.repartition(7), 0.3, seed="s").collect()
    }
    assert a == c
    # rate honored within binomial tolerance on n=300
    assert 0.15 < len(a) / 300 < 0.45


def test_hash_sample_nested_rates(corpus):
    # a lower-rate sample with the same seed is a subset of a
    # higher-rate one (tickets are fixed; only the cut moves).
    lo = {r["doc_id"] for r in sampling.hash_sample(corpus, 0.1, seed="s").collect()}
    hi = {r["doc_id"] for r in sampling.hash_sample(corpus, 0.5, seed="s").collect()}
    assert lo <= hi


def test_hash_sample_seed_independence(corpus):
    a = {r["doc_id"] for r in sampling.hash_sample(corpus, 0.3, seed="s1").collect()}
    b = {r["doc_id"] for r in sampling.hash_sample(corpus, 0.3, seed="s2").collect()}
    assert a != b  # astronomically unlikely to coincide


def test_hash_sample_rate_bounds(corpus):
    with pytest.raises(ValueError):
        sampling.hash_sample(corpus, 1.5)
    assert sampling.hash_sample(corpus, 0.0).count() == 0
    assert sampling.hash_sample(corpus, 1.0).count() == 300


# ----------------------------------------------------------------------
# stratified_sample
def test_stratified_rates_per_stratum(corpus):
    kept = sampling.stratified_sample(
        corpus, {"web": 1.0, "books": 0.0}, default_rate=0.5, seed="mix"
    )
    by_src = {r["source"]: r["n"] for r in
              kept.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert by_src.get("web") == 100          # keep all
    assert "books" not in by_src             # drop all
    assert 20 < by_src.get("code", 0) < 80   # ~50% of 100


def test_stratified_matches_flat_sample_per_stratum(corpus):
    # within one stratum the stratified cut IS hash_sample at that rate
    strat = sampling.stratified_sample(corpus, {"web": 0.4}, seed="z")
    flat = sampling.hash_sample(corpus.where(F.col("source") == "web"), 0.4, seed="z")
    assert {r["doc_id"] for r in strat.where(F.col("source") == "web").collect()} == {
        r["doc_id"] for r in flat.collect()
    }


# ----------------------------------------------------------------------
# split_assign
def test_split_partition_and_stability(corpus):
    out = sampling.split_assign(corpus, (0.8, 0.1, 0.1), ("train", "val", "test"))
    rows = out.collect()
    assert len(rows) == 300 and all(r["split"] in ("train", "val", "test") for r in rows)
    counts = {s: sum(1 for r in rows if r["split"] == s) for s in ("train", "val", "test")}
    assert counts["train"] > counts["val"] and counts["train"] > counts["test"]
    # growing the corpus never reassigns an existing doc
    bigger = corpus.unionByName(
        corpus.sparkSession.createDataFrame(
            [(1000 + i, "new doc", "web") for i in range(50)],
            "doc_id long, text string, source string",
        )
    )
    again = {r["doc_id"]: r["split"]
             for r in sampling.split_assign(bigger, (0.8, 0.1, 0.1),
                                            ("train", "val", "test")).collect()}
    for r in rows:
        assert again[r["doc_id"]] == r["split"]


def test_split_validations(corpus):
    with pytest.raises(ValueError):
        sampling.split_assign(corpus, (0.5, 0.4), ("a", "b", "c"))
    with pytest.raises(ValueError):
        sampling.split_assign(corpus, (0.5, 0.4), ("a", "b"))


# ----------------------------------------------------------------------
# decontamination
@pytest.fixture(scope="module")
def contaminated(spark):
    bench = spark.createDataFrame(
        [(100, "what is the capital city of france exactly")],
        "doc_id long, text string",
    )
    docs = spark.createDataFrame(
        [
            # contains benchmark 5-gram "the capital city of france"
            (0, "quiz answer the capital city of france is paris obviously"),
            (1, "a completely unrelated training document about spark plans"),
            (2, "short doc"),  # < 5 words: zero n-grams, never contaminated
        ],
        "doc_id long, text string",
    )
    return docs, bench


def test_contamination_flags(contaminated):
    docs, bench = contaminated
    flags = {r["doc_id"]: r for r in
             decontam.contamination_flags(docs, bench, n=5).collect()}
    assert len(flags) == 3
    assert flags[0]["contaminated"] and flags[0]["n_contaminated"] >= 1
    assert not flags[1]["contaminated"] and flags[1]["n_contaminated"] == 0
    assert flags[2]["n_grams"] == 0 and not flags[2]["contaminated"]
    # n_grams: len-4 sliding windows of a 10-word doc = 6 distinct
    assert flags[0]["n_grams"] == 6


def test_decontaminate_drops_only_contaminated(contaminated):
    docs, bench = contaminated
    kept = {r["doc_id"] for r in decontam.decontaminate(docs, bench, n=5).collect()}
    assert kept == {1, 2}


# ----------------------------------------------------------------------
# sequence packing
def test_pack_chunks_layout(spark):
    # explicit token counts: 60 + 50 + 30 in one group, capacity 100
    rows = [(0, "g", 60), (1, "g", 50), (2, "g", 30), (3, "h", 250)]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_tok long")
    out = {r["doc_id"]: r for r in
           packing.pack_chunks(df, capacity=100, token_col="n_tok").collect()}
    # doc0: tokens 0-59 in chunk 0
    assert (out[0]["chunk_start"], out[0]["chunk_end"], out[0]["offset_in_chunk"]) == (0, 0, 0)
    # doc1: tokens 60-109 straddles chunks 0-1, starts at offset 60
    assert (out[1]["chunk_start"], out[1]["chunk_end"], out[1]["offset_in_chunk"]) == (0, 1, 60)
    # doc2: tokens 110-139 in chunk 1
    assert (out[2]["chunk_start"], out[2]["chunk_end"], out[2]["offset_in_chunk"]) == (1, 1, 10)
    # group h is an independent stream: doc3 spans chunks 0-2 of h
    assert (out[3]["chunk_start"], out[3]["chunk_end"], out[3]["offset_in_chunk"]) == (0, 2, 0)


def test_pack_chunks_validation_and_default_tokens(spark):
    df = spark.createDataFrame(
        [(0, "g", "x" * 8)], "doc_id long, source string, text string"
    )
    with pytest.raises(ValueError):
        packing.pack_chunks(df, capacity=0)
    row = packing.pack_chunks(df, capacity=100).collect()[0]
    assert row["n_tokens"] == 2  # ceil(8 / 4)


def test_pack_bins_layout(spark):
    # capacity 100: harmonic classes k = floor(100 / t), k docs per bin
    rows = [
        (0, "g", 60),   # class 1 -> its own bin 0
        (1, "g", 55),   # class 1 -> bin 1
        (2, "g", 40),   # class 2 -+ bin 0 of class 2
        (3, "g", 34),   # class 2 -+
        (4, "g", 45),   # class 2 -> bin 1 (third class-2 doc)
        (5, "g", 10),   # class 10 -> bin 0
        (6, "g", 150),  # oversize -> class 0, singleton bin 0
        (7, "g", 180),  # oversize -> class 0, singleton bin 1
        (8, "h", 40),   # group h packs independently
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_tok long")
    out = {
        r["doc_id"]: r
        for r in packing.pack_bins(df, capacity=100, token_col="n_tok").collect()
    }
    assert (out[0]["size_class"], out[0]["bin_in_class"]) == (1, 0)
    assert (out[1]["size_class"], out[1]["bin_in_class"]) == (1, 1)
    assert (out[2]["size_class"], out[2]["bin_in_class"]) == (2, 0)
    assert (out[3]["size_class"], out[3]["bin_in_class"]) == (2, 0)
    assert (out[4]["size_class"], out[4]["bin_in_class"]) == (2, 1)
    assert (out[5]["size_class"], out[5]["bin_in_class"]) == (10, 0)
    assert (out[6]["size_class"], out[6]["bin_in_class"]) == (0, 0)
    assert (out[7]["size_class"], out[7]["bin_in_class"]) == (0, 1)
    assert (out[8]["size_class"], out[8]["bin_in_class"]) == (2, 0)


def test_pack_bins_invariants_and_scaled_parity(spark):
    import random

    rng = random.Random(7)
    rows = [
        (i, "s%d" % (i % 3), rng.randint(1, 300)) for i in range(240)
    ] + [(240, "s0", 0)]  # zero-token doc: clamped to one slot
    df = spark.createDataFrame(rows, "doc_id long, source string, n_tok long")
    packed = packing.pack_bins(df, capacity=100, token_col="n_tok").collect()

    # the scaled (ranged-sort) path is bit-identical to the window path
    scaled = packing.pack_bins(
        df, capacity=100, token_col="n_tok", scaled=True
    ).collect()
    assert sorted(map(tuple, scaled), key=lambda t: t[0]) == sorted(
        map(tuple, packed), key=lambda t: t[0]
    )

    zero = next(r for r in packed if r["doc_id"] == 240)
    assert zero["n_tokens"] == 0 and zero["size_class"] == 100

    # NULL counts take the documented zero path (ADVICE r7): a NULL
    # token_col value and a NULL text under the chars/4 estimate both
    # report n_tokens 0 and class like a 1-token doc.
    nulls = spark.createDataFrame(
        [(1, "s0", None, None), (2, "s0", 8, "eight ch")],
        "doc_id long, source string, n_tok long, text string",
    )
    by_id = {
        r["doc_id"]: r
        for r in packing.pack_bins(nulls, capacity=10, token_col="n_tok").collect()
    }
    assert by_id[1]["n_tokens"] == 0 and by_id[1]["size_class"] == 10
    assert by_id[2]["n_tokens"] == 8 and by_id[2]["size_class"] == 1
    by_id = {
        r["doc_id"]: r
        for r in packing.pack_bins(nulls, capacity=10).collect()  # chars/4
    }
    assert by_id[1]["n_tokens"] == 0 and by_id[1]["size_class"] == 10
    assert by_id[2]["n_tokens"] == 2 and by_id[2]["size_class"] == 5

    bins: dict[tuple, list] = {}
    for r in packed:
        bins.setdefault(
            (r["source"], r["size_class"], r["bin_in_class"]), []
        ).append(r)
    last = {}
    for (src, k, b), docs in bins.items():
        last[(src, k)] = max(last.get((src, k), -1), b)
    for (src, k, b), docs in bins.items():
        if k == 0:
            # oversize docs: flagged singletons, never dropped
            assert len(docs) == 1 and docs[0]["n_tokens"] > 100
            continue
        fill = sum(max(r["n_tokens"], 1) for r in docs)
        assert len(docs) <= k and fill <= 100
        if b < last[(src, k)]:  # every bin but the last per class is full
            assert len(docs) == k and fill * (k + 1) > 100 * k

    with pytest.raises(ValueError):
        packing.pack_bins(df, capacity=0, token_col="n_tok")


# ----------------------------------------------------------------------
# end-to-end curation pipeline
def test_curate_corpus_end_to_end(spark):
    from my_weather_spark.llm.pipeline import curate_corpus

    base = "the quick brown fox jumps over the lazy dog and runs far away today"
    bench_text = "what is the capital city of france and its population size"
    rows = [
        (0, base, "web"),
        (1, base, "web"),  # exact dup -> dropped
        # contaminated: shares the benchmark 5-gram
        (2, "quiz answer the capital city of france and its population grows yearly", "web"),
        (3, "completely different words about spark engines scaling large data very well", "books"),
        (4, "another long and unique training document with plenty of words inside it", "books"),
        (5, "x! y?", "web"),  # fails quality
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    bench = spark.createDataFrame([(100, bench_text)], "doc_id long, text string")
    out, rep = curate_corpus(
        docs,
        benchmark=bench,
        split_weights=(1.0,),
        min_words=5,
        jaccard_threshold=0.8,
    )
    got = {r["doc_id"]: r for r in out.collect()}
    # dup, contaminated, and low-quality docs are gone
    assert set(got) == {0, 3, 4}
    assert rep.clean.n_input == 6
    assert rep.n_after_decontam == 3
    assert rep.n_train == 3 and rep.n_val == 0 and rep.n_test == 0
    # everything is train (weights 100%) and packed from chunk 0 up
    assert all(r["split"] == "train" for r in got.values())
    assert got[0]["chunk_start"] == 0 and got[0]["offset_in_chunk"] == 0
    # books stream packs independently: doc 3 starts its own chunk 0
    assert got[3]["chunk_start"] == 0 and got[3]["offset_in_chunk"] == 0
    assert got[4]["offset_in_chunk"] == got[3]["n_tokens_est"]
    assert rep.n_chunks >= 2  # at least one chunk per source stream


def test_curate_corpus_bin_packing_mode(spark):
    from my_weather_spark.llm.pipeline import curate_corpus

    rows = [
        (0, "completely different words about spark engines scaling large data very well", "web"),
        (1, "another long and unique training document with plenty of words inside it", "web"),
        (2, "third unique document holding enough words to pass the quality gate", "books"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out, rep = curate_corpus(
        docs,
        split_weights=(1.0,),
        min_words=5,
        packing_mode="bins",
        chunk_capacity=30,
    )
    got = {r["doc_id"]: r for r in out.collect()}
    assert set(got) == {0, 1, 2}
    # bins mode emits bin coordinates, not chunk coordinates
    assert "size_class" in out.columns and "chunk_start" not in out.columns
    # ~19 est. tokens per doc, capacity 30 -> class 1 singleton bins
    assert all(r["size_class"] == 1 for r in got.values())
    assert {got[0]["bin_in_class"], got[1]["bin_in_class"]} == {0, 1}
    assert got[2]["bin_in_class"] == 0  # books packs independently
    assert rep.n_chunks == 3

    with pytest.raises(ValueError):
        curate_corpus(docs, packing_mode="shelves")


def test_curate_corpus_split_weights_must_cover(spark):
    from my_weather_spark.llm.pipeline import curate_corpus

    docs = spark.createDataFrame(
        [(0, "ten words of text padding out this quality gate fine", "web")],
        "doc_id long, text string, source string",
    )
    with pytest.raises(ValueError):
        curate_corpus(docs, split_weights=(0.5, 0.4))


# ----------------------------------------------------------------------
# epoch shuffle order
def test_shuffle_key_deterministic_per_epoch(corpus):
    k0 = {r["doc_id"]: r["shuffle_key"]
          for r in sampling.shuffle_key(corpus, seed="e0").collect()}
    k0b = {r["doc_id"]: r["shuffle_key"]
           for r in sampling.shuffle_key(corpus.repartition(5), seed="e0").collect()}
    k1 = {r["doc_id"]: r["shuffle_key"]
          for r in sampling.shuffle_key(corpus, seed="e1").collect()}
    assert k0 == k0b                      # layout-invariant
    order0 = sorted(k0, key=lambda d: (k0[d], d))
    order1 = sorted(k1, key=lambda d: (k1[d], d))
    assert order0 != order1               # epochs reshuffle
    assert len(set(k0.values())) == 300   # 60-bit keys: no collisions here


# ----------------------------------------------------------------------
# repetition signals
def test_repetition_stats(spark):
    rows = [
        (0, "spam spam spam spam"),                  # 1 distinct word, 3 identical bigrams
        (1, "all words here are fully distinct"),    # no repetition
        (2, "one"),                                  # no bigrams
        (3, ""),                                     # empty
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in text_ops.repetition_stats(df).collect()}
    assert out[0]["n_words"] == 4
    assert out[0]["dup_word_ratio"] == 0.75
    assert out[0]["top_bigram_ratio"] == 1.0
    assert out[1]["dup_word_ratio"] == 0.0
    assert out[1]["top_bigram_ratio"] == 0.2  # 5 bigrams, all unique
    assert out[2]["n_words"] == 1 and out[2]["top_bigram_ratio"] == 0.0
    assert out[3]["n_words"] == 0 and out[3]["dup_word_ratio"] == 0.0


# ----------------------------------------------------------------------
# PII redaction
def test_redact_pii_golden(spark):
    rows = [
        (0, "mail bob.smith+x@corp.example.org or 10.0.0.1 or +47-123-456-7890 now"),
        (1, "nothing sensitive here at all"),
        (2, "two mails a@b.co c@d.io"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in text_ops.redact_pii(df).collect()}
    assert out[0]["redacted"] == "mail <EMAIL> or <IP> or <PHONE> now"
    assert out[0]["n_redactions"] == 3
    assert out[1]["redacted"] == rows[1][1] and out[1]["n_redactions"] == 0
    assert out[2]["redacted"] == "two mails <EMAIL> <EMAIL>"
    assert out[2]["n_redactions"] == 2


def test_clean_corpus_counts_do_not_reexecute_chain(spark, monkeypatch):
    # The five report counts are actions; without the per-stage
    # localCheckpoint cuts each one re-plans the whole upstream
    # quality->exact->LSH->verify chain. Self-calibrating check: the
    # same pipeline with localCheckpoint no-op'd must plan strictly
    # more stages than the real (lineage-cutting) version, and the
    # real version's returned plan must scan a materialized RDD, not
    # the dedup chain.
    import sys

    from my_weather_spark.llm.pipeline import clean_corpus

    # Dup-free corpus: keeps connected-components trivial, so the
    # stage delta measured is exactly the five report counts
    # re-planning the quality->exact->LSH->verify chain. Only
    # clean_corpus's own stage cuts are no-op'd: with the dedup
    # helpers' internal checkpoints gone too, every plan repeats the
    # whole chain several times over and Catalyst planning ran for
    # more than ten minutes on Spark 4.1.
    rows = [(i, f"unique document {i} with its own words token{i} "
                f"body content here", "books") for i in range(60)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def stages_for(group):
        return sum(len(tracker.getJobInfo(j).stageIds)
                   for j in tracker.getJobIdsForGroup(group))

    # patch the CONCRETE class (pyspark.sql.classic under Spark 4+,
    # where the public DataFrame is an overridden abstract base)
    df_cls = type(docs)
    real_ckpt = df_cls.localCheckpoint

    def no_stage_cut(self, *args, **kwargs):
        if sys._getframe(1).f_code is clean_corpus.__code__:
            return self
        return real_ckpt(self, *args, **kwargs)

    monkeypatch.setattr(df_cls, "localCheckpoint", no_stage_cut)
    sc.setJobGroup("cc_nockpt", "clean_corpus without lineage cuts")
    clean_corpus(docs, min_words=5)
    monkeypatch.setattr(df_cls, "localCheckpoint", real_ckpt)
    sc.setJobGroup("cc_ckpt", "clean_corpus with lineage cuts")
    out, rep = clean_corpus(docs, min_words=5)
    sc.setJobGroup(None, None)

    assert rep.n_input == 60 and rep.n_after_near == 60
    n_nockpt, n_ckpt = stages_for("cc_nockpt"), stages_for("cc_ckpt")
    assert n_ckpt < n_nockpt, (n_ckpt, n_nockpt)
    # the survivors feeding the returned DF are a materialized scan
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan or "Scan ExistingRDD" in plan, plan[:500]


def test_clean_corpus_line_dedup_stage(spark):
    # With line_dedup_min_df set, cross-document boilerplate lines are
    # stripped BEFORE the quality gate, so a doc that only clears
    # min_words thanks to its boilerplate gets filtered out.
    from my_weather_spark.llm.pipeline import clean_corpus

    banner = "cookie banner accept all choices here now please today"
    rows = [
        (1, banner + "\none two three four five six seven eight nine ten", "web"),
        (2, banner + "\nalpha beta gamma delta epsilon zeta eta theta iota kappa", "web"),
        (3, banner + "\nred orange yellow green blue indigo violet pink brown black", "web"),
        # passes min_words=10 ONLY while the 9-word banner counts
        (4, banner + "\nshort tail", "web"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")

    out_plain, _ = clean_corpus(docs, min_words=10)
    assert {r["doc_id"] for r in out_plain.collect()} == {1, 2, 3, 4}

    out, rep = clean_corpus(docs, min_words=10, line_dedup_min_df=3)
    got = {r["doc_id"]: r for r in out.collect()}
    assert set(got) == {1, 2, 3}          # 4 fails quality once stripped
    assert rep.n_after_quality == 3
    assert all(banner not in r["text"] for r in got.values())


def test_clean_corpus_span_dedup_stage(spark):
    from my_weather_spark.llm.pipeline import clean_corpus

    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        # two docs sharing the 10-word template span verbatim but with
        # different tails: exact dedup keeps both, span stage drops both
        (0, shared + " unique tail one with extra words", "web"),
        (1, shared + " other ending entirely different here", "web"),
        (2, "a clean document with its own ten distinct words inside", "web"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out_plain, rep_plain = clean_corpus(docs, min_words=5, jaccard_threshold=0.99)
    assert rep_plain.n_after_span is None
    assert {r["doc_id"] for r in out_plain.collect()} == {0, 1, 2}
    # docs 0/1 have 16/15 words -> 7/6 distinct 10-word spans, exactly
    # one of which (the leading template) is shared: ratios 1/7 and
    # 1/6, so a 0.1 cut drops both and keeps the clean doc (ratio 0)
    out, rep = clean_corpus(
        docs, min_words=5, jaccard_threshold=0.99,
        span_dedup_max_ratio=0.1, span_dedup_n=10,
    )
    assert rep.n_after_span == 1
    assert {r["doc_id"] for r in out.collect()} == {2}


def test_curate_corpus_perplexity_stage(spark):
    from my_weather_spark.llm.pipeline import curate_corpus

    ref = spark.createDataFrame(
        [(100 + i, "the cat sat on the mat and the dog sat on the rug today") for i in range(4)],
        "doc_id long, text string",
    )
    rows = [
        (0, "the cat sat on the mat and the dog ran home", "web"),
        (1, "zq glorp wibble frobnicate snork blarg quux zomp trill vex", "web"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    # threshold between the in-model doc's ppl and the gibberish doc's
    from my_weather_spark.llm import lm

    ppls = {r["doc_id"]: r["ppl"] for r in lm.perplexity_scores(docs, ref).collect()}
    assert ppls[0] < ppls[1]
    cut = (ppls[0] + ppls[1]) / 2
    out, rep = curate_corpus(
        docs, quality_ref=ref, max_ppl=cut,
        split_weights=(1.0,), min_words=5,
    )
    assert rep.n_after_ppl == 1
    assert {r["doc_id"] for r in out.collect()} == {0}
    with pytest.raises(ValueError):
        curate_corpus(docs, max_ppl=10.0, split_weights=(1.0,), min_words=5)


def test_ppl_buckets_match_window_and_null_for_short(spark):
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from my_weather_spark.llm import lm

    ref = spark.createDataFrame(
        [(900 + i, "the cat sat on the mat and the dog sat on the rug") for i in range(3)],
        "doc_id long, text string",
    )
    rows = [
        (i, t, g)
        for g, texts in {
            "en": [
                "the cat sat on the mat today",
                "the dog sat on the rug again",
                "zq glorp wibble frobnicate snork",
                "the cat and the dog ran home",
                "blarg quux zomp trill vex snood",
            ],
            "de": ["the mat and the rug", "glorp snork blarg", "short"],
        }.items()
        for i, t in zip(
            range(0 if g == "en" else 10, 100), texts
        )
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = lm.ppl_buckets(docs, ref, group_col="lang")
    # the 1-word doc can't score: NULL ppl -> NULL bucket
    by_id = {r["doc_id"]: r for r in got.collect()}
    assert by_id[12]["ppl"] is None and by_id[12]["bucket"] is None
    # everything else matches the per-group ntile window exactly
    scores = lm.perplexity_scores(docs, ref).join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    w = W.partitionBy("lang").orderBy("ppl", "doc_id")
    want = {
        r["doc_id"]: ["head", "middle", "tail"][r["nt"] - 1]
        for r in scores.where(F.col("ppl").isNotNull())
        .select("doc_id", F.ntile(3).over(w).alias("nt"))
        .collect()
    }
    for did, r in by_id.items():
        if r["ppl"] is not None:
            assert r["bucket"] == want[did], did
    # both dispatch arms produce identical rows (the _scaled twin rule)
    base = lm.ppl_buckets(docs, ref, group_col="lang", distributed=False)
    assert base.subtract(got).count() == 0 and got.subtract(base).count() == 0
    with pytest.raises(ValueError):
        lm.ppl_buckets(docs, ref, k=3, labels=("a", "b"))
    with pytest.raises(ValueError):
        lm.ppl_bucket_filter(docs, ref, keep=("head", "torso"))


def test_ppl_buckets_distributed_attaches_bucket_in_place(spark):
    # Regression guard for the r11 optimization: the distributed path
    # must not re-attach the derived bucket column via a corpus-size
    # join (the old shape planned a SortMergeJoin of two corpus-size
    # frames by id); buckets are computed in place on the ranked rows
    # and the scoreless docs union back.
    from my_weather_spark.llm import lm

    ref = spark.createDataFrame(
        [(900, "the cat sat on the mat and the dog sat on the rug")],
        "doc_id long, text string",
    )
    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat today", "en"),
            (2, "the dog sat on the rug again", "en"),
            (3, "zq glorp wibble frobnicate snork", "en"),
            (4, "short", "en"),
        ],
        "doc_id long, text string, lang string",
    )
    got = lm.ppl_buckets(docs, ref, group_col="lang", distributed=True)
    # Execute first: under AQE the pre-action executedPlan is the
    # initial adaptive plan; the guard must hold on what actually ran
    # (AQE re-planning could otherwise reintroduce a join unseen).
    got.collect()
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan, plan[:800]
    assert "SortMergeJoin" not in plan, plan[:800]
    assert "ShuffledHashJoin" not in plan, plan[:800]
    assert "Union" in plan, plan[:800]


def test_curate_corpus_ppl_bucket_stage(spark):
    from my_weather_spark.llm.pipeline import curate_corpus

    ref = spark.createDataFrame(
        [(900 + i, "the cat sat on the mat and the dog sat on the rug") for i in range(3)],
        "doc_id long, text string",
    )
    texts = [
        "the cat sat on the mat today and then some",
        "the dog sat on the rug again and then some",
        "the cat and the dog ran all the way home",
        "zq glorp wibble frobnicate snork blarg quux zomp",
        "blarg quux zomp trill vex snood grib mawp",
        "wibble snork vex trill zomp frobnicate glorp blarg",
    ]
    docs = spark.createDataFrame(
        [(i, t, "web") for i, t in enumerate(texts)],
        "doc_id long, text string, source string",
    )
    out, rep = curate_corpus(
        docs, quality_ref=ref, ppl_keep_buckets=("head", "middle"),
        ppl_bucket_group=None, split_weights=(1.0,), min_words=5,
    )
    # 6 docs, global 3-tile: tail (the 2 worst-scoring) dropped
    assert rep.n_after_ppl == 4
    assert out.count() == 4
    with pytest.raises(ValueError):
        curate_corpus(
            docs, quality_ref=ref, max_ppl=10.0,
            ppl_keep_buckets=("head",), split_weights=(1.0,), min_words=5,
        )
    with pytest.raises(ValueError):
        curate_corpus(
            docs, ppl_keep_buckets=("head",), split_weights=(1.0,), min_words=5
        )


def test_nb_classifier_matches_replay(spark):
    import hashlib
    import math

    from my_weather_spark.llm import classifier

    dim = 1024
    rows = [
        (0, "the cat sat on the mat", True),
        (1, "the dog sat on the rug", True),
        (2, "zq glorp wibble frobnicate", False),
        (3, "the cat and the dog", False),
        (4, "blarg quux zomp", False),
        (5, "", False),  # featureless -> scores exactly the prior
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t, _ in rows], "doc_id long, text string"
    )
    pos_ids = {i for i, _, p in rows if p}
    from pyspark.sql import functions as F

    got = {
        r["doc_id"]: r
        for r in classifier.nb_scores(
            df, pos=F.col("doc_id").isin(*pos_ids), dim=dim
        ).collect()
    }

    def feats(text):
        ws = text.split()
        grams = ws + [f"{a} {b}" for a, b in zip(ws, ws[1:])]
        return [
            int(hashlib.md5(g.encode()).hexdigest()[:8], 16) % dim
            for g in grams
        ]

    pc, nc = {}, {}
    for i, t, p in rows:
        for b in feats(t):
            (pc if p else nc)[b] = (pc if p else nc).get(b, 0) + 1
    pt, nt = sum(pc.values()), sum(nc.values())
    prior = math.log(len(pos_ids) / (len(rows) - len(pos_ids)))
    for i, t, _ in rows:
        fs = feats(t)
        s = prior + sum(
            math.log((pc.get(b, 0) + 0.5) / (pt + 0.5 * dim))
            - math.log((nc.get(b, 0) + 0.5) / (nt + 0.5 * dim))
            for b in fs
        )
        r = got[i]
        assert r["n_feats"] == len(fs)
        assert r["log_odds"] == pytest.approx(round(s, 6), abs=2e-6), i
        assert r["pred_hq"] == (r["log_odds"] > 0.0)
    # featureless doc scores exactly the rounded prior
    assert got[5]["log_odds"] == pytest.approx(round(prior, 6), abs=1e-9)
    # in-model docs classify positive, gibberish negative
    assert got[0]["pred_hq"] and got[1]["pred_hq"]
    assert not got[2]["pred_hq"] and not got[4]["pred_hq"]
    # empty classes raise loudly in-plan
    import pyspark.errors

    with pytest.raises(Exception):
        classifier.nb_scores(df, pos=F.lit(True)).collect()
    with pytest.raises(Exception):
        classifier.nb_scores(df, pos=F.lit(False)).collect()


def test_curate_corpus_nb_classifier_stage(spark):
    from pyspark.sql import functions as F

    from my_weather_spark.llm.pipeline import curate_corpus

    rows = [
        (0, "the cat sat on the mat and the dog sat on the rug", "cur"),
        (1, "the cat and the dog sat on the mat again today", "cur"),
        (2, "the dog and the cat sat on the rug once more", "web"),
        (3, "zq glorp wibble frobnicate snork blarg quux zomp", "web"),
        (4, "blarg quux zomp trill vex snood grib mawp zzq", "web"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out, rep = curate_corpus(
        docs, nb_pos=F.col("source") == "cur",
        split_weights=(1.0,), min_words=5,
    )
    kept = {r["doc_id"] for r in out.collect()}
    # curated-looking web doc kept, gibberish dropped; positives score
    # positive on their own training text
    assert 2 in kept and 3 not in kept and 4 not in kept
    assert rep.n_after_nb == len(kept)


def test_curate_corpus_bm25_relevance_stage(spark):
    from my_weather_spark.llm.pipeline import curate_corpus

    rows = [
        (0, "spark shuffle join broadcast join shuffle spark plan", "web"),
        (1, "gardening soil tomato compost watering sunlight mulch pruning", "web"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    from my_weather_spark.llm import text as text_ops

    q = ["spark", "join", "shuffle"]
    scores = {r["doc_id"]: r["score"] for r in text_ops.bm25_scores(docs, q).collect()}
    assert scores[0] > scores[1]
    cut = (scores[0] + scores[1]) / 2
    out, rep = curate_corpus(
        docs, relevance_query=q, min_bm25=cut, split_weights=(1.0,), min_words=5
    )
    assert rep.n_after_bm25 == 1
    assert {r["doc_id"] for r in out.collect()} == {0}
    with pytest.raises(ValueError):
        curate_corpus(docs, min_bm25=1.0, split_weights=(1.0,), min_words=5)


def test_clean_corpus_semantic_dedup_stage(spark):
    from my_weather_spark.llm.pipeline import clean_corpus

    rows = [
        (0, "a first document about weather stations in the far north", "web"),
        (1, "something else entirely concerning music and dance halls", "web"),
        (2, "paraphrased weather station coverage for northern regions", "web"),
        (3, "a doc with no embedding at all must pass straight through", "web"),
        (4, "too short", "web"),  # quality-dropped before semdedup
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0]),
            (1, [0.0, 1.0, 0.0]),
            (2, [1.0, 0.001, 0.0]),  # semantic dup of 0 (lexically distinct)
            # doc 4 shares doc 2's direction but is quality-dropped first:
            # it must NOT be the reason doc 2 is removed — doc 0 is
            (4, [1.0, 0.002, 0.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    out_plain, rep_plain = clean_corpus(docs, min_words=5, jaccard_threshold=0.99)
    assert rep_plain.n_after_semdedup is None
    assert {r["doc_id"] for r in out_plain.collect()} == {0, 1, 2, 3}
    out, rep = clean_corpus(
        docs, min_words=5, jaccard_threshold=0.99,
        embeddings=emb, semdedup_threshold=0.9, semdedup_clusters=2,
    )
    assert rep.n_after_semdedup == 3
    assert {r["doc_id"] for r in out.collect()} == {0, 1, 3}
    with pytest.raises(ValueError):
        clean_corpus(docs, min_words=5, semdedup_threshold=0.9)


def test_clean_corpus_gopher_stage(spark):
    from my_weather_spark.llm.pipeline import clean_corpus

    rows = [
        (0, "the be to of and that have with " + "alpha " * 50, "a"),
        (1, "word word word word word word word word word word word", "a"),
        (2, "the be to of and that have with " + "beta " * 50, "b"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    # basic gate keeps all three (>= 5 words, no punct)
    out_plain, rep_plain = clean_corpus(docs, min_words=5)
    assert rep_plain.n_after_quality == 3
    # gopher gate additionally requires the stop-word rule -> doc 1 out
    out, rep = clean_corpus(docs, gopher_rules={"min_words": 5})
    assert rep.n_after_quality == 2
    assert sorted(r.doc_id for r in out.collect()) == [0, 2]


# ----------------------------------------------------------------------
# temperature-scaled mixing
def test_temperature_cuts_flatten_skew(spark):
    # skewed strata: 160 'en' vs 10 'fr' -> alpha=0.5 upweights fr
    rows = [(i, "t", "en") for i in range(160)] + [
        (1000 + i, "t", "fr") for i in range(10)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    cuts = {
        r.lang: r
        for r in sampling.temperature_cuts(
            df, target_total=85, alpha=0.5, strata_col="lang"
        ).collect()
    }
    import math

    wsum = math.sqrt(160.0) + math.sqrt(10.0)
    for lang, n in (("en", 160), ("fr", 10)):
        exp = math.floor(
            85.0 * math.sqrt(float(n)) / wsum / n * 1_000_000 + 0.5
        )
        assert cuts[lang].cut == min(1_000_000, exp)
        assert cuts[lang].n_total == n
    # flattening: fr's keep RATE exceeds en's, en keeps more docs overall
    assert cuts["fr"].cut > cuts["en"].cut


def test_temperature_sample_matches_cuts_and_is_deterministic(spark):
    rows = [(i, "t", ["a", "b", "c"][i % 3]) for i in range(90)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    s1 = {r.doc_id for r in
          sampling.temperature_sample(df, 30, strata_col="lang", seed="x").collect()}
    s2 = {r.doc_id for r in
          sampling.temperature_sample(
              df.repartition(7), 30, strata_col="lang", seed="x").collect()}
    assert s1 == s2  # repartition-invariant
    # membership is exactly ticket < stratum cut
    cuts = {r.lang: r.cut for r in
            sampling.temperature_cuts(df, 30, strata_col="lang").collect()}
    import hashlib

    def ticket(i):
        return int(hashlib.md5(f"x{i}".encode()).hexdigest()[:15], 16) % 1_000_000

    exp = {i for i, _, lang in rows if ticket(i) < cuts[lang]}
    assert s1 == exp
    # column order preserved
    out = sampling.temperature_sample(df, 30, strata_col="lang", seed="x")
    assert out.columns == ["doc_id", "text", "lang"]


def test_temperature_sample_validations(spark):
    df = spark.createDataFrame([(0, "t", "a")], "doc_id long, text string, lang string")
    with pytest.raises(ValueError, match="target_total"):
        sampling.temperature_cuts(df, -1, strata_col="lang")
    with pytest.raises(ValueError, match="alpha"):
        sampling.temperature_cuts(df, 1, alpha=0.0, strata_col="lang")
    # cut caps at 1e6 when target exceeds the corpus
    [r] = sampling.temperature_cuts(df, 100, strata_col="lang").collect()
    assert r.cut == 1_000_000


def test_curate_corpus_temperature_mix(spark):
    from my_weather_spark.llm.pipeline import curate_corpus

    rows = [(i, f"unique doc {i} body text words here now", "web" if i < 40 else "code")
            for i in range(50)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out, rep = curate_corpus(
        docs, mix_temperature_total=20, min_words=3, jaccard_threshold=0.99
    )
    assert 0 < rep.n_after_mixing < rep.n_after_decontam
    with pytest.raises(ValueError, match="mutually exclusive"):
        curate_corpus(
            docs, mixing_rates={"web": 1.0}, mix_temperature_total=20,
            min_words=3,
        )


# ----------------------------------------------------------------------
# UniMax budget allocation
def _ref_unimax(sizes, budget, epochs):
    """Paper loop (Chung et al. 2023 Alg. 1): ascending (n, stratum);
    cap at `epochs` epochs when that fits under the uniform share of
    the remaining budget, else take the share."""
    out = {}
    b_rem, l_rem = float(budget), len(sizes)
    for s, n in sorted(sizes.items(), key=lambda kv: (kv[1], kv[0])):
        share = b_rem / l_rem
        if n * epochs < share:
            a, capped = float(n * epochs), True
        else:
            a, capped = share, False
        out[s] = (n, capped, a, a / n)
        b_rem -= a
        l_rem -= 1
    return out


def _r6(x):
    import math

    return math.floor(x * 1e6 + 0.5) / 1e6


def test_unimax_matches_paper_loop(spark):
    rows = (
        [(i, "x" * 40, "en") for i in range(50)]
        + [(100 + i, "x" * 30, "fr") for i in range(10)]
        + [(200 + i, "x" * 25, "de") for i in range(4)]
    )
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = {
        r.lang: (r.n_chars, r.capped, r.alloc_chars, r.epochs)
        for r in sampling.unimax_alloc(df, epochs=2).collect()
    }
    sizes = {"en": 2000, "fr": 300, "de": 100}
    exp = _ref_unimax(sizes, sum(sizes.values()) * 7 // 4, 2)
    assert got == {
        s: (n, c, _r6(a), _r6(e)) for s, (n, c, a, e) in exp.items()
    }
    # the derived 7/4 budget caps the small strata, shares the rest
    assert got["de"][1] and got["fr"][1] and not got["en"][1]


def test_unimax_absolute_budget_and_degenerates(spark):
    df = spark.createDataFrame(
        [(0, "xx", "a"), (1, "yyyy", "b")], "doc_id long, text string, lang string"
    )
    # budget >> epochs * everything -> all capped at exactly `epochs`
    allc = {
        r.lang: (r.capped, r.alloc_chars, r.epochs)
        for r in sampling.unimax_alloc(df, epochs=3, budget_chars=1000).collect()
    }
    assert allc == {"a": (True, 6.0, 3.0), "b": (True, 12.0, 3.0)}
    # budget below one epoch of the smallest -> pure uniform split
    nonec = {
        r.lang: (r.capped, r.alloc_chars)
        for r in sampling.unimax_alloc(df, epochs=1, budget_chars=2).collect()
    }
    assert nonec == {"a": (False, 1.0), "b": (False, 1.0)}


def test_unimax_null_strata_dropped_and_validation(spark):
    df = spark.createDataFrame(
        [(0, "xx", "a"), (1, "yy", None)], "doc_id long, text string, lang string"
    )
    out = sampling.unimax_alloc(df, epochs=1, budget_chars=10).collect()
    assert [r.lang for r in out] == ["a"]
    with pytest.raises(ValueError):
        sampling.unimax_alloc(df, epochs=0)
    with pytest.raises(ValueError):
        sampling.unimax_alloc(df, budget_ratio=(0, 4))
    with pytest.raises(ValueError):
        sampling.unimax_alloc(df, budget_chars=0)
    with pytest.raises(ValueError):
        sampling.unimax_alloc(df, budget_chars=-100)


def test_unimax_zero_char_strata_dropped(spark):
    # a stratum whose texts are all empty/NULL carries nothing
    # allocatable (the paper loop would divide by its size) — it must
    # not appear in the output NOR absorb a share of the budget
    df = spark.createDataFrame(
        [(0, "xxxx", "a"), (1, "", "z"), (2, None, "z")],
        "doc_id long, text string, lang string",
    )
    out = {r.lang: r for r in
           sampling.unimax_alloc(df, epochs=1, budget_chars=2).collect()}
    assert set(out) == {"a"}
    assert out["a"].alloc_chars == 2.0  # full budget, not half


# ----------------------------------------------------------------------
# split-leakage audit
def test_split_leakage_directed(spark):
    import hashlib

    def ticket(i, seed="split"):
        return int(hashlib.md5((seed + str(i)).encode()).hexdigest()[:15], 16) % 1_000_000

    def split_of(i):
        t = ticket(i)
        return "train" if t < 900_000 else ("val" if t < 950_000 else "test")

    ids = list(range(400))
    train_ids = [i for i in ids if split_of(i) == "train"]
    eval_ids = [i for i in ids if split_of(i) != "train"]
    assert train_ids and len(eval_ids) >= 3
    shared = "alpha beta gamma delta epsilon zeta eta theta"  # one 8-gram
    rows = []
    for i in train_ids:
        rows.append((i, f"{shared} trainpad{i} " + " ".join(f"t{i}w{j}" for j in range(8))))
    leak_id, clean_id, short_id = eval_ids[0], eval_ids[1], eval_ids[2]
    for i in eval_ids:
        if i == leak_id:
            rows.append((i, f"evalpad{i} {shared} evaltail{i}"))
        elif i == short_id:
            rows.append((i, "only three words"))
        else:
            rows.append((i, " ".join(f"e{i}w{j}" for j in range(12))))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in decontam.split_leakage(df, n=8).collect()}
    assert set(out) == set(eval_ids)
    assert out[leak_id].leaked and out[leak_id].n_shared == 1
    assert not out[clean_id].leaked and out[clean_id].n_shared == 0
    assert out[short_id].n_grams == 0 and not out[short_id].leaked
    for i in eval_ids:
        assert out[i].split == split_of(i)
    with pytest.raises(ValueError):
        decontam.split_leakage(df, train_label="nope")


def test_curate_corpus_bpe_token_budgeting(spark):
    from my_weather_spark.llm import bpe as bpe_ops
    from my_weather_spark.llm.pipeline import curate_corpus
    from my_weather_spark.llm import packing

    rows = [
        (i, " ".join(f"word{j % 7} common text here" for j in range(6 + i % 5)), "web")
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out, rep = curate_corpus(
        df, split_weights=(1.0,), chunk_capacity=64,
        min_words=3, bpe_tokenizer_merges=4,
    )
    assert rep.bpe_merges_learned == 4
    # the chunk coordinates must equal pack_chunks driven by an
    # externally learned tokenizer over the same survivors
    survivors = df.join(out.select("doc_id"), "doc_id")
    _, words = bpe_ops.learn_bpe(survivors, n_merges=4)
    tok = bpe_ops.token_counts(survivors, words).select(
        "doc_id", F.col("n_tokens").alias("_t"))
    exp = {
        r.doc_id: (r.chunk_start, r.chunk_end, r.offset_in_chunk)
        for r in packing.pack_chunks(
            survivors.join(tok, "doc_id"), capacity=64, token_col="_t"
        ).collect()
    }
    got = {
        r.doc_id: (r.chunk_start, r.chunk_end, r.offset_in_chunk)
        for r in out.collect()
    }
    assert got == exp
    # default path is unchanged (estimate-budgeted, report field None)
    _, rep0 = curate_corpus(df, split_weights=(1.0,), chunk_capacity=64, min_words=3)
    assert rep0.bpe_merges_learned is None


def test_split_leakage_n_validated(spark):
    df = spark.createDataFrame([(0, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError):
        decontam.split_leakage(df, n=0)
