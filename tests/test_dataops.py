"""Unit tests for the training-data operators: planted near-duplicates
(recall), hash parity with pure Python, multimodal batch plumbing.

The oracle-parity suite (test_oracle_parity.py) checks cross-engine
bit-equality on the real corpus; these tests check *semantics* on
hand-built fixtures where ground truth is known.
"""

import hashlib

from pyspark.sql import functions as F

from logzilla_spark.functions.hashing import P31, md5_long, minhash_coeffs
from logzilla_spark.operators import dedup, multimodal, similarity, textstats

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill and the rain falls softly on the roof"
)


def _docs(spark):
    rows = [
        (1, BASE),
        (2, BASE.replace("rain", "snow")),  # near-dup of 1
        (3, BASE),  # exact dup of 1
        (4, "completely different text about spark shuffle partitions and joins"),
        (5, "another unrelated document mentioning parquet column pruning only"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_md5_long_matches_python(spark):
    df = spark.createDataFrame([("hello",), ("wörld",)], "s string")
    got = {r.s: r.h for r in df.select("s", md5_long("s").alias("h")).collect()}
    for s, h in got.items():
        assert h == int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def test_minhash_coeffs_deterministic():
    a1, b1 = minhash_coeffs(16)
    a2, b2 = minhash_coeffs(16)
    assert (a1, b1) == (a2, b2)
    assert all(0 < x < P31 for x in a1) and all(0 <= x < P31 for x in b1)


def test_exact_dedup_keeps_min_id(spark):
    groups = dedup.exact_dedup_groups(_docs(spark)).collect()
    by_keeper = {r.keeper_id: r.n_copies for r in groups}
    assert by_keeper[1] == 2  # docs 1 and 3 collapse
    assert by_keeper[4] == 1 and by_keeper[5] == 1
    surv = dedup.exact_dedup(_docs(spark)).select("doc_id").collect()
    assert sorted(r.doc_id for r in surv) == [1, 2, 4, 5]


def test_minhash_finds_planted_neardup(spark):
    pairs = {
        (r.doc_a, r.doc_b): r
        for r in dedup.minhash_lsh_pairs(_docs(spark)).collect()
    }
    assert (1, 3) in pairs and pairs[(1, 3)].jaccard == 1.0
    assert (1, 2) in pairs and pairs[(1, 2)].jaccard > 0.8
    assert (4, 5) not in pairs


def test_simhash_planted_neardup(spark):
    fps = {r.id: r.fingerprint for r in dedup.simhash_fingerprints(_docs(spark)).collect()}
    assert fps[1] == fps[3]  # identical docs -> identical fingerprints
    ham12 = bin(fps[1] ^ fps[2]).count("1")
    ham14 = bin(fps[1] ^ fps[4]).count("1")
    assert ham12 < ham14  # near-dup closer than unrelated
    pairs = {(r.doc_a, r.doc_b): r.hamming for r in dedup.simhash_pairs(_docs(spark)).collect()}
    assert pairs.get((1, 3)) == 0


def test_simhash_64_bit_sign_bit(spark):
    # bits=64 (the standard SimHash width): 1 << 63 overflows a
    # LongType literal, so the bit-63 term must be assembled as
    # -(1 << 63) — previously the plan CRASHED at construction for any
    # bits > 63 before a single row was read. With single-token docs
    # every hash-bit vote wins, so fingerprint == md5_long(token)
    # exactly (md5_long is 60-bit, so bits 60-63 vote -1 and stay 0 —
    # the sign-bit term is exercised structurally, not by data).
    from pyspark.sql import functions as F

    from logzilla_spark.functions.hashing import md5_long_expr

    df = spark.createDataFrame(
        [(i, w) for i, w in enumerate(["alpha", "bravo", "charlie"])],
        "doc_id INT, text STRING",
    )
    want = {
        r.doc_id: r.h
        for r in df.withColumn("h", F.expr(md5_long_expr("text"))).collect()
    }
    got = {
        r.id: r.fingerprint
        for r in dedup.simhash_fingerprints(df, bits=64).collect()
    }
    assert got == want


def test_simhash_null_and_empty_text_rows_survive(spark):
    # The explode/groupBy fingerprint shape must not DROP degenerate
    # docs: the nested-lambda form (and the DuckDB twin) emit
    # fingerprint 0 for NULL text (every NULL-guarded vote falls to
    # -1), and the empty string hashes like a single "" token. A plain
    # explode would silently lose the NULL-text row.
    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "   "), (4, "real text here")],
        "doc_id INT, text STRING",
    )
    fps = {r.id: r.fingerprint for r in dedup.simhash_fingerprints(df).collect()}
    assert set(fps) == {1, 2, 3, 4}
    assert fps[1] == 0
    assert fps[2] == fps[3]  # whitespace normalizes to "" -> same vote
    assert fps[4] not in (None,)


def test_ngram_jaccard_null_text_pairs_nothing(spark):
    # A NULL-text doc has no grams and must pair with NOTHING — the
    # DuckDB twin unnests its NULL gram list to zero rows. Spark's
    # concat_ws would otherwise swallow the NULL slice into an ""
    # gram and pair NULL-text docs with empty-text docs at 1.0.
    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "   "), (4, "a b c d"), (5, "a b c e")],
        "doc_id INT, text STRING",
    )
    pairs = {(r.doc_a, r.doc_b) for r in dedup.ngram_jaccard_pairs(df).collect()}
    assert all(1 not in p for p in pairs)
    assert (2, 3) in pairs  # empty normalizes equal on both sides


def test_ngram_jaccard_planted(spark):
    pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(_docs(spark)).collect()
    }
    assert pairs.get((1, 3)) == 1.0
    assert pairs.get((1, 2), 0) > 0.5
    assert (4, 5) not in pairs


def test_ngram_stop_gram_guard_default_on():
    # the scale guard must be ON by default — an opt-in guard is an
    # unsafe default at corpus scale (VERDICT r2)
    import inspect

    sig = inspect.signature(dedup.ngram_jaccard_pairs)
    assert sig.parameters["max_df"].default == dedup.MAX_GRAM_DF
    assert dedup.MAX_GRAM_DF is not None


def test_ngram_stop_gram_guard_boilerplate_corpus(spark):
    # 8 docs sharing ONLY a boilerplate footer (df=8 > max_df=3), plus
    # one planted near-dup pair with unique content (df=2 <= max_df).
    footer = "subscribe to our newsletter for weekly updates and offers"
    uniq = [
        "alpha bravo charlie delta echo foxtrot golf",
        "hotel india juliet kilo lima mike november",
        "oscar papa quebec romeo sierra tango uniform",
        "victor whiskey xray yankee zulu one two",
        "three four five six seven eight nine",
        "apple banana cherry date elderberry fig grape",
        "red orange yellow green blue indigo violet",
        "north south east west up down sideways",
    ]
    rows = [(i + 1, f"{u} {footer}") for i, u in enumerate(uniq)]
    rows += [
        (100, "the quick brown fox jumps over the lazy dog tonight"),
        (101, "the quick brown fox jumps over the lazy dog today"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc_a, r.doc_b)
        for r in dedup.ngram_jaccard_pairs(df, max_df=3).collect()
    }
    # boilerplate-only pairs are gone: their shared grams were dropped
    assert not any(a <= 8 and b <= 8 for a, b in got)
    # the genuine near-dup (unique grams, df=2) survives the guard
    assert (100, 101) in got
    # without the guard, the boilerplate pairs WOULD pair up — proves
    # the guard (not the threshold) is what removed them
    unguarded = {
        (r.doc_a, r.doc_b)
        for r in dedup.ngram_jaccard_pairs(df, max_df=None).collect()
    }
    assert any(a <= 8 and b <= 8 for a, b in unguarded)


def _emb(spark):
    dim = 64
    e1 = [1.0] + [0.0] * (dim - 1)
    e2 = [0.98] + [0.01] * (dim - 1)  # near-dup of e1
    e3 = [0.0, 1.0] + [0.0] * (dim - 2)
    e4 = [0.0] * (dim - 1) + [1.0]
    rows = [(0, e1), (1, e2), (2, e3), (3, e4)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_embedding_neardup_exact_and_lsh(spark):
    exact = {
        (r.vec_a, r.vec_b): r.cosine
        for r in dedup.embedding_neardup_pairs(_emb(spark), threshold=0.9).collect()
    }
    assert list(exact) == [(0, 1)] and exact[(0, 1)] > 0.95
    lsh = {
        (r.vec_a, r.vec_b)
        for r in similarity.embedding_neardup_lsh(_emb(spark), threshold=0.9).collect()
    }
    # sign-LSH must keep the colinear pair in one bucket
    assert (0, 1) in lsh


def test_cosine_topk_orders_neighbors(spark):
    emb = _emb(spark)
    probes = emb.filter("vec_id = 0")
    got = similarity.cosine_topk(emb, probes, k=3).collect()
    assert [r.neighbor_id for r in got] == [1, 2, 3] or [r.neighbor_id for r in got][0] == 1
    assert got[0].rank == 1 and got[0].cosine > 0.95
    # lsh top-k returns a subset of brute-force candidates, same ordering rule
    lsh = similarity.cosine_topk_lsh(emb, probes, k=3).collect()
    assert all(r.probe_id == 0 for r in lsh)
    assert [r.rank for r in lsh] == list(range(1, len(lsh) + 1))


def test_textstats_hand_row(spark):
    df = spark.createDataFrame([(7, "The cat  and THE dog 42")], "doc_id long, text string")
    tok = textstats.token_counts(df).collect()[0]
    # normalized: "the cat and the dog 42" -> 6 ws tokens; bpe: 5 words + 1 number
    assert tok.ws_tokens == 6 and tok.bpe_tokens == 6
    assert tok.n_chars == len("the cat and the dog 42")
    lid = textstats.language_id(df).collect()[0]
    assert lid.hits_en == 3 and lid.pred_lang == "en"
    fp = textstats.fingerprints(df).collect()[0]
    h = 0
    for ch in "the cat and the dog 42":
        h = (h * 31 + ord(ch)) % P31
    assert fp.fp_roll == h


def test_media_stats_and_stubs(spark):
    from logzilla_spark.testdata import generate_media_pdf

    pdf = generate_media_pdf(30)
    sdf = spark.createDataFrame(pdf)
    stats = multimodal.media_stats(sdf).collect()
    assert len(stats) == 30
    by_id = {r.media_id: r for r in stats}
    for i in (0, 2, 5):
        raw = pdf.loc[pdf.media_id == i, "payload"].iloc[0]
        assert by_id[i].byte_len == len(raw)
        assert by_id[i].checksum == sum(raw) % P31
        assert by_id[i].header in ("IMG0", "AUD0", "VID0")
    imgs = multimodal.decode_image_features(sdf).collect()
    assert all(r.decoder == "stub-deterministic" for r in imgs)
    assert all(r.width % 16 == 0 and r.height % 16 == 0 for r in imgs)
    auds = multimodal.audio_frame_sample(sdf).collect()
    n_vids = sdf.filter("kind = 'video'").count()
    assert len(imgs) + len(auds) + n_vids == 30
    assert n_vids > 0  # the fixture mixes all three kinds
    for r in auds:
        assert r.n_frames == r.duration_ms // multimodal.AUDIO_FRAME_MS


def test_minhash_pairs_plan_has_no_mandated_broadcast(spark):
    """At corpus scale the sig/shingle tables exceed any broadcast
    threshold; simulate that by disabling broadcast and assert the plan
    still builds (shuffle joins on doc id) with no BroadcastExchange —
    i.e. nothing corpus-sized is ever *mandated* to broadcast."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_aqe = spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold", None)
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        df = dedup.minhash_lsh_pairs(_docs(spark))
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastExchange" not in plan, plan
        # and it still computes the same pairs
        assert {(r.doc_a, r.doc_b) for r in df.collect()} == {
            (r.doc_a, r.doc_b) for r in dedup.minhash_lsh_pairs(_docs(spark)).collect()
        }
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        if old_aqe is not None:
            spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", old_aqe)
        else:
            spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")


def test_simhash_block_geometry():
    """60-bit fingerprints in 6 x 10-bit blocks (md5_long is 60 bits, so
    60 is the widest honest width); blocks tile the fingerprint."""
    assert dedup.SIMHASH_BITS == 60
    assert dedup.SIMHASH_BLOCKS * dedup.SIMHASH_BLOCK_BITS == dedup.SIMHASH_BITS
    assert dedup.SIMHASH_BLOCK_MASK == (1 << dedup.SIMHASH_BLOCK_BITS) - 1


def test_curate_corpus_semantics_and_plan(spark):
    """Composed curation: en-gate + quality-gate + keep-first dedup in
    one pass. Semantics on a hand corpus, and the plan must stay the
    single-pass skew-immune shape: ONE Exchange, keep-first via min_by
    hash aggregation with a MAP-SIDE partial (a window over the content
    hash would ship every copy of a hot duplicate to one reducer), and
    no Window operator at all."""
    rows = [
        # two identical high-quality english docs -> one survivor, n_copies=2
        (1, "the quick brown fox is on the hill with a friend of the pack"),
        (2, "the quick brown fox is on the hill with a friend of the pack"),
        # distinct english doc -> survives alone
        (3, "a log engine for the data of the future is on the way to you"),
        # spanish doc -> gated out by language
        (4, "el perro de la casa que corre en un parque con los gatos del barrio"),
        # digit soup -> gated out by quality
        (5, "1234567890 999 888 777 666 555 444 333 222 111 000 42 43 44 45"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.id: r for r in textstats.curate_corpus(df).collect()}
    assert set(out) == {1, 3}
    assert out[1].n_copies == 2 and out[3].n_copies == 1
    assert out[1].pred_lang == "en" and out[1].quality >= 0.4

    plan = textstats.curate_corpus(df)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") - plan.count("ReusedExchange") == 1, plan
    assert "Window" not in plan, plan
    # partial + final aggregate pair around the one exchange. NOTE:
    # 'ObjectHashAggregate' CONTAINS the substring 'HashAggregate', so
    # counting both would double-count a single node — count each node
    # exactly once via the shared substring + the disjoint SortAggregate.
    assert plan.count("HashAggregate") + plan.count("SortAggregate") >= 2, plan


def test_repetition_stats_hand_row(spark):
    """Hand-checked Gopher repetition signals."""
    rows = [
        # 3 lines, one dup pair; tokens: 'a b a b a' -> 5 tokens 2 distinct,
        # bigrams: a b, b a, a b, b a -> top 'a b' = 2 of 4
        (1, "a b\na b\na"),
        (2, "x y z"),       # no repetition: fracs 0, bigrams all unique
        (3, "solo"),        # 1 token -> no bigrams, top frac NULL
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.id: r for r in textstats.repetition_stats(df).collect()}
    r1 = got[1]
    assert r1.n_lines == 3 and r1.dup_line_frac == 1.0 / 3.0
    assert r1.n_tokens == 5 and r1.dup_token_frac == 3.0 / 5.0
    assert r1.top_bigram_frac == 2.0 / 4.0
    r2 = got[2]
    assert r2.dup_line_frac == 0.0 and r2.dup_token_frac == 0.0
    assert r2.top_bigram_frac == 1.0 / 2.0
    r3 = got[3]
    assert r3.n_tokens == 1 and r3.top_bigram_frac is None


def test_benchmark_contamination_planted(spark):
    """A training doc embedding a benchmark item's text verbatim is
    flagged against exactly that item; clean docs and NULL-text rows
    are not. Plan must broadcast the benchmark grams (corpus side never
    shuffles before the join)."""
    bench = spark.createDataFrame(
        [(1, "what is the capital of france answer paris"),
         (2, "solve for x in the quadratic equation below")],
        "bench_id long, text string",
    )
    docs = spark.createDataFrame(
        [(10, "intro text what is the capital of france answer paris outro"),
         (11, "a completely unrelated training document about cooking rice"),
         (12, None)],
        "doc_id long, text string",
    )
    out = dedup.benchmark_contamination(docs, bench)
    rows = {(r.id, r.bench_id): r.n_shared for r in out.collect()}
    assert set(rows) == {(10, 1)}
    assert rows[(10, 1)] >= 6  # all 3-grams of the embedded sentence
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    # no corpus repartition, and the ONLY shuffle is the final
    # (id, bench_id) aggregation of the contaminated minority
    # (AQE's toString appends the pre-adaptive "Initial Plan" section,
    # which repeats every node — scope the count to the final plan)
    final_plan = plan.split("== Initial Plan ==")[0]
    assert "RoundRobinPartitioning" not in final_plan, final_plan
    assert final_plan.count("Exchange hashpartitioning") == 1, final_plan


def test_benchmark_contamination_strict_grams(spark):
    """Sub-n and empty docs emit NO grams: a blank benchmark row must
    not flag empty training docs (they share zero n-grams), and a
    1-word doc cannot match via a partial gram."""
    bench = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "quick")], "bench_id long, text string"
    )
    docs = spark.createDataFrame(
        [(10, ""), (11, "   "), (12, "quick"), (13, "the quick brown fox runs")],
        "doc_id long, text string",
    )
    assert dedup.benchmark_contamination(docs, bench).count() == 0


def test_redact_pii_hand_rows(spark):
    """Planted PII: emails, IPs, phone-shaped runs; sequential
    precedence means an email's digits are never counted as a phone."""
    rows = [
        (1, "contact bob.smith+x@example.co.uk or 192.168.1.254 now"),
        (2, "call +1 (555) 123-4567 or 555 987 6543 today"),
        (3, "user123456789@host.org has no phone"),
        (4, "clean document without identifiers"),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.id: r for r in textstats.redact_pii(df).collect()}
    assert got[1].n_emails == 1 and got[1].n_ips == 1 and got[1].n_phones == 0
    assert got[1].clean_text == "contact <EMAIL> or <IP> now"
    assert got[2].n_phones == 2 and "<PHONE>" in got[2].clean_text
    # digits inside the email are redacted WITH it, not phone-counted
    assert got[3].n_emails == 1 and got[3].n_phones == 0
    assert got[4].clean_text == rows[3][1]
    assert got[5].clean_text is None and got[5].n_emails is None


def test_c4_line_filter_hand_rows(spark):
    """C4 rules on a hand corpus: terminal punctuation, min words,
    lorem-ipsum / javascript / curly-brace drops, page gate at 5."""
    good = "\n".join([f"This is a perfectly good sentence number {i}." for i in range(6)])
    rows = [
        (1, good),                                          # 6 kept -> keep_doc
        (2, good + "\nshort.\nno punct here\nhas { brace.\n"
            "Lorem Ipsum dolor sit amet.\nenable JavaScript to continue."),
        (3, "word soup with no punctuation at all"),        # 0 kept
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.id: r for r in textstats.c4_line_filter(df).collect()}
    assert got[1].n_lines_kept == 6 and got[1].keep_doc
    assert got[1].clean_text == good
    # doc 2: the 6 good lines survive; short ('short.' <3 words),
    # unpunctuated, brace, lorem-ipsum and javascript lines all drop
    assert got[2].n_lines_kept == 6 and got[2].keep_doc
    assert "{" not in got[2].clean_text and "Lorem" not in got[2].clean_text
    assert got[3].n_lines_kept == 0 and not got[3].keep_doc
    assert got[3].clean_text == ""
    assert got[4].clean_text is None and not got[4].keep_doc


def test_proportional_token_sample(spark):
    """Data-mixture sampling: unbudgeted languages excluded, oversized
    budget keeps everything, small budget keeps a strict subset, and
    the hash-threshold cut is deterministic across runs."""
    rows = [(i, "en" if i < 40 else "de", "tok " * 50) for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    # en total = 40*50 = 2000 tokens; budget 500 -> keep ~25%.
    out = textstats.proportional_token_sample(df, {"en": 500}).collect()
    assert all(r.lang == "en" for r in out)          # de has no budget
    assert 0 < len(out) < 40                         # strict subsample
    again = textstats.proportional_token_sample(df, {"en": 500}).collect()
    assert sorted(r.id for r in out) == sorted(r.id for r in again)
    # budget >= corpus -> keep rate 1.0, every en doc kept
    full = textstats.proportional_token_sample(df, {"en": 10_000}).collect()
    assert sorted(r.id for r in full) == list(range(40))
    assert all(r.n_tokens == 50 for r in full)


def test_connected_components_planted(spark):
    """Chain, clique, and singleton: min-label CC over a hand graph."""
    from logzilla_spark.operators import cluster

    pairs = spark.createDataFrame(
        # chain 1-2-3-4 (diameter 3: exercises multi-round propagation)
        [(2, 1), (2, 3), (3, 4),
         # clique 10-11-12
         (10, 11), (10, 12), (11, 12),
         # isolated edge
         (20, 21)],
        "doc_a long, doc_b long",
    )
    got = {r.id: r.cluster_id for r in cluster.connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}
    docs = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 10, 11, 12, 20, 21, 99]],
                                 "doc_id long")
    full = {r.id: (r.cluster_id, r.is_canonical)
            for r in cluster.neardup_clusters(docs, pairs).collect()}
    assert full[99] == (99, True)          # singleton: own cluster, kept
    assert full[4] == (1, False)
    assert sum(1 for _, (c, k) in full.items() if k) == 4  # 1, 10, 20, 99


def test_connected_components_max_iter_raises(spark):
    from logzilla_spark.operators import cluster

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 8)], "doc_a long, doc_b long"
    )
    try:
        cluster.connected_components(pairs, max_iter=2)
        raise AssertionError("expected RuntimeError on non-convergence")
    except RuntimeError as e:
        assert "did not converge" in str(e)


def test_chunk_sequences_hand_rows(spark):
    """Fixed-size token windows: full chunks + qualifying tail; short,
    NULL and empty docs emit nothing."""
    rows = [
        (1, " ".join(f"t{i}" for i in range(300))),  # 128+128+44
        (2, "a b c"),                                # 3 < min_tokens
        (3, None),
        (4, "   "),                                  # normalizes to ""
        (5, " ".join(f"x{i}" for i in range(128))),  # exactly one window
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = textstats.chunk_sequences(df, window=128, min_tokens=16).collect()
    by_doc = {}
    for r in got:
        by_doc.setdefault(r.id, []).append(r)
    assert set(by_doc) == {1, 5}
    c1 = sorted(by_doc[1], key=lambda r: r.chunk_id)
    assert [r.n_tokens for r in c1] == [128, 128, 44]
    assert c1[1].chunk_text.startswith("t128 ")
    assert [r.n_tokens for r in by_doc[5]] == [128]


def test_line_dedup_hand_rows(spark):
    """Corpus-level boilerplate cut: a line in >max_docs distinct docs
    is dropped everywhere (even repeated within one doc); surviving
    lines keep original order; NULL docs emit no row."""
    footer = "copyright 2026 example corp"
    rows = [
        (1, f"unique opening line\n{footer}\nsecond unique line"),
        (2, f"{footer}\nanother doc body\n{footer}"),  # footer twice in-doc
        (3, "totally original content\nno shared lines here"),
        (4, None),
        (5, f"  {footer}  "),  # trims to the shared key -> all lines dropped
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.id: r for r in textstats.line_dedup(df, max_docs=1).collect()}
    assert set(got) == {1, 2, 3, 5}
    assert got[1].n_lines == 3 and got[1].n_lines_kept == 2
    assert got[1].clean_text == "unique opening line\nsecond unique line"
    # both in-doc copies of the footer dropped; order of survivors kept
    assert got[2].n_lines == 3 and got[2].n_lines_kept == 1
    assert got[2].clean_text == "another doc body"
    assert got[3].n_lines_kept == 2 and got[3].clean_text == rows[2][1]
    assert got[5].n_lines == 1 and got[5].n_lines_kept == 0
    assert got[5].clean_text == ""
    # raising the threshold keeps everything (footer df == 3 docs)
    relaxed = {r.id: r for r in textstats.line_dedup(df, max_docs=3).collect()}
    assert all(r.n_lines == r.n_lines_kept for r in relaxed.values())


def test_url_curate_hand_rows(spark):
    """Normalization (case, ports, fragments, tracking params),
    suffix blocklist, keep-newest recrawl dedup, NULL handling."""
    from logzilla_spark.operators.urls import url_curate

    rows = [
        ("HTTPS://Hot0.Example:443/En/Page0?utm_source=x&q=1&fbclid=z#frag",
         "2024-01-02 00:00:00"),
        ("https://hot0.example/En/Page0?q=1", "2024-01-03 00:00:00"),
        ("https://ads.example/banner", "2024-01-01 00:00:00"),
        ("https://sub.ads.example/banner", "2024-01-01 00:00:00"),
        ("https://notads.example/ok", "2024-01-01 00:00:00"),  # no dot-boundary
        ("http://plain.example:80/a?utm_campaign=only", "2024-01-01 00:00:00"),
        ("no-scheme/path?ref=tw", None),
        (None, "2024-01-01 00:00:00"),
        ("https://site.example/dup", "2024-01-05 00:00:00"),
        ("https://site.example/dup", "2024-01-05 00:00:00"),
    ]
    df = spark.createDataFrame(rows, "url string, warc_ts string").selectExpr(
        "url", "try_to_timestamp(warc_ts) AS warc_ts"
    )
    got = {r.norm_url: r for r in url_curate(df).collect()}
    # case-folded host (path case kept), default port + tracking params
    # + fragment stripped; the two captures collapse to the NEWEST
    key = "https://hot0.example/En/Page0?q=1"
    assert got[key].n_crawls == 2
    assert str(got[key].warc_ts) == "2024-01-03 00:00:00"
    # blocklist: exact domain and subdomain dropped, lookalike kept
    assert not any("ads.example/banner" in k for k in got)
    assert "https://notads.example/ok" in got
    # bare '?' dropped when every param is tracking
    assert "http://plain.example/a" in got
    # scheme-less passes through; NULL ts survives; NULL url emits no row
    assert got["no-scheme/path"].domain == ""
    assert got["no-scheme/path"].warc_ts is None
    assert len(got) == 5


def test_pack_sequences_hand_rows(spark):
    """Within one stream, docs pack back to back in id order and
    straddle sequence boundaries; streams are independent."""
    from logzilla_spark.operators import textstats

    # n_groups=1 -> a single stream makes the arithmetic checkable
    rows = [(i, " ".join(f"t{j}" for j in range(50))) for i in range(1, 5)]
    rows += [(9, None), (10, "   ")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.id: r for r in textstats.pack_sequences(
        df, budget=128, n_groups=1).collect()}
    assert set(got) == {1, 2, 3, 4}
    assert all(r.grp == 0 and r.n_tokens == 50 for r in got.values())
    # prev cum: 0, 50, 100, 150 -> seq boundaries at 128
    assert (got[1].seq_no, got[1].seq_off) == (0, 0)
    assert (got[2].seq_no, got[2].seq_off) == (0, 50)
    assert (got[3].seq_no, got[3].seq_off) == (0, 100)  # straddles into seq 1
    assert (got[4].seq_no, got[4].seq_off) == (1, 22)
    # multi-group: same corpus, every doc still appears exactly once,
    # and offsets stay inside the budget
    multi = textstats.pack_sequences(df, budget=128, n_groups=8).collect()
    assert sorted(r.id for r in multi) == [1, 2, 3, 4]
    assert all(0 <= r.seq_off < 128 for r in multi)


def test_cosine_topk_ivf_assignment_and_recall(spark):
    """IVF: seeded quantizer assigns each vector to its nearest seed
    (ties -> lowest cell); probe search inside nprobe cells returns
    the true neighbor when it shares a cell."""
    emb = _emb(spark)  # e1 ~ e2 colinear; e3, e4 orthogonal axes
    seeds = similarity.ivf_seeds(emb, n_cells=2)
    picked = {r.cell: r.seed for r in seeds.collect()}
    assert set(picked) == {0, 1}  # two lowest-id vectors become seeds
    assign = {r.id: r.cell for r in similarity.ivf_assign(emb, seeds).collect()}
    # each seed is its own nearest (cos=1); vecs 2/3 have cos 0 with
    # seed 0 but a tiny positive cos with seed 1's 0.01-filled tail
    assert assign == {0: 0, 1: 1, 2: 1, 3: 1}
    probes = emb.filter("vec_id = 0")
    # nprobe=1 searches only the probe's own cell (just vec 0 itself
    # -> no candidates); nprobe=2 recovers the true neighbor — the
    # recall lever working as designed
    narrow = similarity.cosine_topk_ivf(emb, probes, k=3, n_cells=2, nprobe=1)
    assert narrow.collect() == []
    got = similarity.cosine_topk_ivf(emb, probes, k=3, n_cells=2, nprobe=2).collect()
    assert got and got[0].neighbor_id == 1 and got[0].rank == 1
    assert [r.rank for r in got] == list(range(1, len(got) + 1))


def test_kmeans_training_is_partitioning_invariant(spark):
    """r5 hash-gate property: fixed-point centroid means are BIGINT
    sums, so training is independent of Spark's partial-aggregation
    order — identical double bits under any input partitioning (a
    float F.avg loses this, which is what kept the trained paths
    rows-only through r4)."""
    import random

    rng = random.Random(7)
    dim = 16
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(60)
    ]
    base = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def seeds_of(df):
        got = similarity.ivf_train_kmeans(df, n_cells=4, n_iters=3).collect()
        return sorted((r.cell, tuple(r.seed)) for r in got)

    want = seeds_of(base.coalesce(1))
    for parts in (3, 11):
        assert seeds_of(base.repartition(parts)) == want

    def cb_of(df):
        got = similarity.pq_train_kmeans(
            df, m=4, ksub=4, dim=dim, n_iters=3
        ).collect()
        return sorted((r.sub, r.code, tuple(r.codeword)) for r in got)

    want_cb = cb_of(base.coalesce(1))
    assert cb_of(base.repartition(5)) == want_cb


def test_neardup_keep_best_planted(spark):
    """Keep-best curation: per cluster the HIGHEST-score member
    survives, ties break to the LOWEST id; singletons always kept."""
    from logzilla_spark.operators import cluster

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3),       # cluster {1,2,3}
         (10, 11)],            # cluster {10,11}
        "doc_a long, doc_b long",
    )
    docs = spark.createDataFrame(
        [(i,) for i in [1, 2, 3, 10, 11, 99]], "doc_id long"
    )
    scores = spark.createDataFrame(
        [(1, 0.2), (2, 0.9), (3, 0.9),    # tie 2 vs 3 -> keep 2
         (10, 0.5), (11, 0.4),
         (99, 0.0)],                       # singleton, lowest score: kept
        "id long, quality double",
    )
    out = {r.id: (r.cluster_id, r.is_kept)
           for r in cluster.neardup_keep_best(docs, pairs, scores).collect()}
    assert out == {
        1: (1, False), 2: (1, True), 3: (1, False),
        10: (10, True), 11: (10, False),
        99: (99, True),
    }


def test_bpe_pair_counts_hand_rows(spark):
    """BPE first-iteration pair counts: word-frequency weighting,
    within-word repeats counted per occurrence, end-of-word boundary
    pair, min_freq cut."""
    rows = [
        (1, "aa aa ab"),     # word 'aa' x2, 'ab' x1
        (2, "aa"),           # word 'aa' x1  -> 'aa' corpus freq 3
        (3, None),           # NULL text drops out entirely
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r.lhs, r.rhs): r.freq
           for r in textstats.bpe_pair_counts(df, min_freq=1).collect()}
    # 'aa' (freq 3): pairs (a,a) and (a,</w>); 'ab' (freq 1): (a,b), (b,</w>)
    assert got == {
        ("a", "a"): 3,
        ("a", textstats.BPE_EOW): 3,
        ("a", "b"): 1,
        ("b", textstats.BPE_EOW): 1,
    }
    # default min_freq=2 cuts the singleton pairs
    got2 = {(r.lhs, r.rhs) for r in textstats.bpe_pair_counts(df).collect()}
    assert got2 == {("a", "a"), ("a", textstats.BPE_EOW)}
    # unicode: split(w, '') must be CHAR-based (not byte-based), matching
    # the DuckDB twin's substring loop — CJK/accented chars are single
    # symbols (probed equal against the twin on a hand corpus)
    uni = spark.createDataFrame([(1, "日本 café")], "doc_id long, text string")
    u = {(r.lhs, r.rhs) for r in textstats.bpe_pair_counts(uni, min_freq=1).collect()}
    assert ("日", "本") in u and ("本", textstats.BPE_EOW) in u
    assert ("f", "é") in u and ("é", textstats.BPE_EOW) in u


def test_dup_passage_stats_hand_rows(spark):
    """Cross-doc duplicated windows: shared passages flag in BOTH docs,
    unique docs get fraction 0; short docs hit the one-partial-gram
    floor (n_windows == 1) and never divide by zero."""
    shared = "alpha beta gamma delta epsilon zeta eta theta"   # 8 tokens
    rows = [
        (1, shared + " unique tail one two three four five six seven"),
        (2, shared + " other ending entirely different from the first"),
        (3, "completely unrelated text with no overlap at all here now"),
        (4, "tiny"),                                            # floor doc
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.id: r for r in textstats.dup_passage_stats(df, window=8).collect()}
    assert out[1].n_dup_windows >= 1 and out[2].n_dup_windows >= 1
    # the shared 8-token prefix is one shared window in each
    assert out[1].n_dup_windows == out[2].n_dup_windows == 1
    assert out[3].n_dup_windows == 0 and out[3].dup_fraction == 0.0
    assert out[4].n_windows == 1 and out[4].dup_fraction == 0.0
    assert 0.0 < out[1].dup_fraction < 1.0


def test_neardup_keep_best_null_scores_and_missing_rows(spark):
    """NULL/NaN scores and score-less docs rank WORST (never win over a
    scored member) but are still emitted; a fully-unscored cluster
    falls back to the id tie-break instead of vanishing."""
    from logzilla_spark.operators import cluster

    pairs = spark.createDataFrame(
        [(1, 2), (10, 11)], "doc_a long, doc_b long"
    )
    docs = spark.createDataFrame(
        [(i,) for i in [1, 2, 10, 11, 99]], "doc_id long"
    )
    scores = spark.createDataFrame(
        [(1, None), (2, 0.1),          # NULL loses to a real score
         (11, float("nan"))],          # 10 missing + 11 NaN: id tie-break
        "id long, quality double",
    )
    out = {r.id: r.is_kept
           for r in cluster.neardup_keep_best(docs, pairs, scores).collect()}
    assert out == {1: False, 2: True, 10: True, 11: False, 99: True}


def test_dup_passage_stats_null_text_dropped(spark):
    """NULL-text docs drop out (the twin's semantics); empty-text docs
    stay and do NOT collide with them."""
    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "some actual words here in this doc")],
        "doc_id long, text string",
    )
    out = {r.id: r for r in textstats.dup_passage_stats(df).collect()}
    assert set(out) == {2, 3}
    assert out[2].n_dup_windows == 0


def test_substring_dedup_planted(spark):
    """Substring removal (Lee et al. action): a shared 8-token passage
    is cut from EVERY doc containing it, survivors reassemble in
    order; unique docs pass through untouched; short exact dups hit
    the whole-doc window floor and are fully removed; NULL text emits
    no row."""
    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    rows = [
        (1, shared + " unique tail one two three four five six seven"),
        (2, shared + " other ending entirely different from the first"),
        (3, "completely unrelated text with no overlap at all here now"),
        (4, "tiny doc"),
        (5, "tiny doc"),       # exact short dup of 4 (floor window)
        (6, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.id: r for r in textstats.substring_dedup(df, window=8).collect()}
    assert set(out) == {1, 2, 3, 4, 5}
    # docs 1/2: exactly the 8 shared tokens removed, tail survives
    assert out[1].n_removed == 8
    assert out[1].clean_text == "unique tail one two three four five six seven"
    assert out[2].n_removed == 8
    assert out[2].clean_text == "other ending entirely different from the first"
    # unique doc untouched
    assert out[3].n_removed == 0
    assert out[3].clean_text == "completely unrelated text with no overlap at all here now"
    # short exact dups: one whole-doc window each, fully removed
    for i in (4, 5):
        assert out[i].n_tokens == 2
        assert out[i].n_removed == 2
        assert out[i].clean_text == ""


def test_substring_dedup_overlapping_windows(spark):
    """Two duplicated windows overlapping in one doc cover the UNION of
    their positions (no double-removal, no gaps)."""
    a = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"      # 10 tokens
    rows = [
        (1, a + " tail"),                      # contains both windows
        (2, "x " + " ".join(a.split()[0:8])),  # dup of window at pos 1-8
        (3, " ".join(a.split()[2:10]) + " y"), # dup of window at pos 3-10
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.id: r for r in textstats.substring_dedup(df, window=8).collect()}
    # doc 1: positions 1-8 and 3-10 duplicated -> 1..10 covered, tail kept
    assert out[1].n_removed == 10
    assert out[1].clean_text == "tail"


def test_dsir_scores_semantics(spark):
    """DSIR: target-vocabulary docs outscore off-domain docs; n_feats
    is exactly unigrams + bigrams (2n - 1); NULL text emits no row."""
    target_text = "machine learning models train on curated text data"
    rows = [
        (1, target_text),                                     # the target itself
        (2, "learning models need curated text and training data"),  # on-domain
        (3, "9 8 7 6 5 4 3 2 1 0 banana quartz"),             # off-domain
        (4, "solo"),                                          # single token
        (5, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    target = df.filter(F.col("doc_id") == 1)
    out = {r.id: r for r in textstats.dsir_scores(df, target).collect()}
    assert set(out) == {1, 2, 3, 4}
    for i, n in [(1, 8), (2, 8), (3, 12), (4, 1)]:
        assert out[i].n_feats == 2 * n - 1
    # the target doc itself scores highest; on-domain beats off-domain
    assert out[1].logw_fp > out[2].logw_fp > out[3].logw_fp


def test_dsir_scores_log_sum_not_ratio_mean(spark):
    """The score is the paper's log-sum, not an arithmetic ratio mean:
    a doc balancing one target-heavy feature against one target-absent
    feature must score BELOW a doc whose features are neutral (product
    0.1 < 1), even though its raw ratio MEAN is far higher."""
    # raw corpus: 'aa' RARE (one doc), 'zz' dominant; target: all 'aa'
    # -> ratio(aa) ~20x, ratio(zz) ~0.02x at B=64
    rows = [(0, "aa")] + [(i + 10, "zz") for i in range(50)]
    rows += [(100, "aa zz zz zz"), (101, "mm nn oo pp")]  # mixed vs neutral
    df = spark.createDataFrame(rows, "doc_id long, text string")
    target = spark.createDataFrame(
        [(i, "aa") for i in range(50)], "doc_id long, text string"
    )
    out = {r.id: r for r in
           textstats.dsir_scores(df, target, n_buckets=64).collect()}
    # per-token sanity: the 'aa' doc looks like the target, 'zz' does not
    assert out[0].logw_fp > 0 > out[10].logw_fp
    # the mixed doc's huge 'aa' ratio must NOT drown its three 'zz'
    # penalties: log-sum puts it below the neutral doc (an arithmetic
    # mean of raw ratios would invert this — the pre-fix behavior)
    assert out[100].logw_fp < out[101].logw_fp


def test_semdedup_planted(spark):
    """SemDeDup keep-priority: within a cell, near-dup relations keep
    the member FARTHEST from the centroid (lowest centroid cosine),
    ties break to the lowest id; the max_cell guard skips oversized
    cells entirely (all members kept)."""
    rows = [
        (1, [1.0, 0.0]),   # seed of cell 0 (centroid_cos = 1.0)
        (2, [0.0, 1.0]),   # seed of cell 1 (centroid_cos = 1.0)
        (3, [1.0, 0.1]),   # cell 0, ccos ~0.995 — beats 1 and ties 4
        (4, [1.0, 0.1]),   # identical to 3 -> id tie-break, dropped
        (5, [0.1, 1.0]),   # cell 1, ccos ~0.995 — beats 2
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r.id: r for r in similarity.semdedup(
        emb, threshold=0.9, n_cells=2).collect()}
    assert {i: r.is_kept for i, r in out.items()} == {
        1: False, 2: False, 3: True, 4: False, 5: True,
    }
    assert out[1].cell == 0 and out[2].cell == 1
    assert out[1].centroid_cos == 1.0
    # guard: cell 0 has 3 members > max_cell=2 -> pairwise skipped there,
    # cell 1 (2 members) still dedups
    guarded = {r.id: r.is_kept for r in similarity.semdedup(
        emb, threshold=0.9, n_cells=2, max_cell=2).collect()}
    assert guarded == {1: True, 2: False, 3: True, 4: True, 5: True}


def _py_bpe_train(texts, n_merges, min_freq=2, batch_size=1):
    """Pure-Python reference BPE trainer (Sennrich et al. 2016 alg.1):
    same normalization, same (freq DESC, lhs ASC, rhs ASC) merge
    decision, classic left-to-right non-overlapping merge application.
    ``batch_size`` mirrors the distributed trainer's batching rule
    EXACTLY: per round, scan the top ``bpe_candidate_scan(want)``
    sorted candidates, greedily take up to ``want`` pairwise-disjoint
    pairs (no symbol shared, none equal to an earlier pick's merged
    string), apply them sequentially. Sequential application of a
    disjoint batch equals the distributed single-pass fold: a concrete
    adjacent pair matches at most one pick, and no pick's rewrite can
    create or destroy another pick's occurrences."""
    import re
    from collections import Counter

    wf = Counter()
    for t in texts:
        if t is None:
            continue
        for w in re.sub(r"\s+", " ", t.lower()).strip().split(" "):
            if w:
                wf[w] += 1
    syms = [(list(w) + [textstats.BPE_EOW], f) for w, f in wf.items()]
    merges = []
    step = 0
    while step < n_merges:
        want = min(batch_size, n_merges - step)
        pc = Counter()
        for s, f in syms:
            for i in range(len(s) - 1):
                pc[(s[i], s[i + 1])] += f
        top = sorted(
            ((p, f) for p, f in pc.items() if f >= min_freq),
            key=lambda kv: (-kv[1], kv[0][0], kv[0][1]),
        )[: textstats.bpe_candidate_scan(want)]
        picks, used = [], set()
        for (lhs, rhs), freq in top:
            if lhs in used or rhs in used or lhs + rhs in used:
                continue
            picks.append((lhs, rhs, freq))
            used.update((lhs, rhs, lhs + rhs))
            if len(picks) == want:
                break
        if not picks:
            break
        for lhs, rhs, freq in picks:
            merges.append((step, lhs, rhs, freq))
            step += 1
            nxt = []
            for s, f in syms:
                out, i = [], 0
                while i < len(s):
                    if i + 1 < len(s) and s[i] == lhs and s[i + 1] == rhs:
                        out.append(lhs + rhs)
                        i += 2
                    else:
                        out.append(s[i])
                        i += 1
                nxt.append((out, f))
            syms = nxt
    return merges


def test_bpe_train_matches_python_reference(spark):
    """The distributed merge loop reproduces the classic in-memory
    trainer exactly: same merge table (order, symbols, frequencies)
    over a corpus with repeated stems, ties, unicode and a None doc."""
    texts = [
        "low lower lowest low low",
        "newer newest new news low",
        "wider wide widest wider",
        "日本語 の 文書 日本語",
        None,
        "low lower newer wider",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "doc_id long, text string")
    got = [(r.step, r.lhs, r.rhs, r.freq)
           for r in textstats.bpe_train(df, n_merges=8).collect()]
    want = _py_bpe_train(texts, 8)
    assert got == want
    assert len(got) >= 4           # the corpus supports several merges
    # step 0 must agree with the single-step operator's argmax
    pc = textstats.bpe_pair_counts(df).collect()
    top = sorted(pc, key=lambda r: (-r.freq, r.lhs, r.rhs))[0]
    assert (got[0][1], got[0][2], got[0][3]) == (top.lhs, top.rhs, top.freq)


def test_bpe_train_batched_matches_python_reference(spark):
    """batch_size>1 (the production path: O(n_merges/batch) jobs) must
    match the reference trainer running the identical batching rule —
    AND stay internally consistent: a batched run's merge table applied
    via bpe_apply tokenizes identically to the table built by the same
    reference rule."""
    texts = [
        "low lower lowest low low",
        "newer newest new news low",
        "wider wide widest wider",
        "the cat and the hat sat on the mat with the bat",
        None,
        "low lower newer wider the cat sat",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "doc_id long, text string")
    for bs in (3, 8):
        got = [(r.step, r.lhs, r.rhs, r.freq)
               for r in textstats.bpe_train(df, n_merges=12, batch_size=bs)
               .collect()]
        want = _py_bpe_train(texts, 12, batch_size=bs)
        assert got == want, f"batch_size={bs}"
        assert len(got) >= 6
    # batch_size=1 stays the classic sequential algorithm
    classic = _py_bpe_train(texts, 12, batch_size=1)
    assert classic == _py_bpe_train(texts, 12)


def test_bpe_train_batch32_matches_python_reference(spark):
    """r4 verdict #7: the batched trainer's differential must hold at
    batch_size >= 32 — which needs a corpus rich enough to yield 64+
    merges (the toy above saturates near 12)."""
    import itertools

    words = [
        "".join(p) + s
        for p, s in zip(
            itertools.product("abcdef", "lmnopq", "rstuvw"),
            itertools.cycle(["ing", "ed", "tion", "ness", "able"]),
        )
    ][:120]
    texts = [
        " ".join(words[i::7]) + " " + " ".join(words[:10])
        for i in range(7)
    ] * 3
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = [
        (r.step, r.lhs, r.rhs, r.freq)
        for r in textstats.bpe_train(df, n_merges=64, batch_size=32).collect()
    ]
    want = _py_bpe_train(texts, 64, batch_size=32)
    assert got == want
    assert len(got) == 64  # the corpus really supports 64 merges


def test_bpe_train_min_freq_stops_early(spark):
    """All-distinct symbols -> first merge table entry exists only at
    min_freq=1; the default threshold stops before emitting singletons."""
    df = spark.createDataFrame([(1, "abc")], "doc_id long, text string")
    assert textstats.bpe_train(df, n_merges=5).count() == 0
    got = [(r.step, r.lhs, r.rhs, r.freq) for r in
           textstats.bpe_train(df, n_merges=5, min_freq=1).collect()]
    want = _py_bpe_train(["abc"], 5, min_freq=1)
    assert got == want and len(got) > 0
    # the word fully merges into one symbol: abc</w> -> no pairs left,
    # loop must stop on its own before n_merges without throwing
    assert len(got) == 3


def test_gopher_quality_filter_rules(spark):
    """Each Gopher rule trips on a purpose-built doc; a normal
    50+-word English doc passes all of them."""
    good = ("the quick brown fox jumps over the lazy dog and that "
            "is fine because we have plenty of ordinary prose here "
            "with many normal words that keep going on and on for "
            "quite a while so the word count clears fifty words "
            "easily and the mean word length stays moderate too ok")
    rows = [
        (1, good),
        (2, "short doc"),                                   # < 50 words
        (3, "\n".join("- bullet point line" for _ in range(10))
            + "\n" + good),                                 # bullets > 90%? no: good line added -> 10/11 > 0.9 fails
        (4, good.replace("fine", "fine ###### #### ##### ###### ##### "
                                 "#### ##### ###### ##### ####")),  # symbols
        (5, "\n".join(f"line trails off {i} ..." for i in range(10))),  # ellipsis + short
        (6, " ".join("12345" for _ in range(60))),          # no alpha words
        (7, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.id: r for r in textstats.gopher_quality_filter(df).collect()}
    assert out[1].keep is True
    assert out[2].keep is False and out[2].n_words < 50
    assert out[3].keep is False and out[3].bullet_frac > 0.9
    assert out[4].keep is False and out[4].symbol_ratio >= 0.1
    assert out[5].keep is False and out[5].ellipsis_frac == 1.0
    assert out[6].keep is False and out[6].alpha_word_frac == 0.0
    assert out[7].keep is False and out[7].n_words is None


def test_curation_funnel_planted_stages(spark):
    """Every funnel stage cuts exactly the doc planted to trip it, and
    the report is monotone non-increasing."""
    en = ("the quick brown fox jumps over the lazy dog and that is a "
          "perfectly ordinary sentence with plenty of common words in it "
          "which keeps the scores reasonable for this little test corpus")
    rows = [
        (1, en),                                      # survives everything
        (2, en.replace("quick", "rapid")),            # near-dup of 1 (loses: id 2 > 1, equal-ish quality)
        (3, en),                                      # exact dup of 1
        (4, "el la de que y en un los se del " * 5),  # spanish -> stage 1
        (5, "1 2 3 4 5 6 7 8 9 0 " * 6),              # digits -> quality/gopher
        (6, en + " " + " ".join(["spam spam"] * 40)), # bigram repetition
        (7, None),                                    # NULL text
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.stage: r for r in textstats.curation_funnel(
        df, gopher_min_words=20, gopher_min_stop_hits=1).collect()}
    counts = [out[i].n_docs for i in range(7)]
    assert counts[0] == 7
    assert all(a >= b for a, b in zip(counts, counts[1:]))
    assert counts[1] <= 5            # spanish + (NULL-lang behavior) cut
    assert out[4].n_docs < out[3].n_docs or out[3].n_docs < out[2].n_docs
    # exact dedup collapses 1 and 3; near-dup keep-best collapses 1 and 2
    assert counts[5] == counts[4] - 1
    assert counts[6] == counts[5] - 1
    assert [out[i].label for i in range(7)] == [
        "input", "language", "quality", "gopher_rules", "repetition",
        "exact_dedup", "neardup_keep_best",
    ]


def test_bpe_apply_matches_python_encoder(spark):
    """Encode with a trained merge table: per-doc BPE lengths equal the
    reference encoder's; merges genuinely compress (bpe_len shrinks as
    merges apply); NULL/empty docs emit no row."""
    texts = [
        "low lower lowest low low",
        "newer newest new news low",
        "wider wide widest wider",
        None,
        "",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "doc_id long, text string")
    merges = [(lhs, rhs) for _, lhs, rhs, _ in _py_bpe_train(texts, 6)]
    assert len(merges) == 6

    # reference encoder: same greedy left-to-right application
    def encode(word):
        s = list(word) + [textstats.BPE_EOW]
        for lhs, rhs in merges:
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == lhs and s[i + 1] == rhs:
                    out.append(lhs + rhs)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            s = out
        return s

    got = {r.id: (r.n_words, r.bpe_len) for r in
           textstats.bpe_apply(df, merges, checkpoint_every=4).collect()}
    want = {}
    for i, t in enumerate(texts):
        if not t:
            continue
        ws = [w for w in t.split(" ") if w]
        want[i] = (len(ws), sum(len(encode(w)) for w in ws))
    assert got == want
    # compression: with zero merges bpe_len == chars + words
    base = {r.id: r.bpe_len for r in textstats.bpe_apply(df, []).collect()}
    for i in got:
        raw = sum(len(w) + 1 for w in texts[i].split(" ") if w)
        assert base[i] == raw and got[i][1] < raw


def test_temperature_token_sample_flattens(spark):
    """alpha < 1 upsamples tail languages RELATIVE to the head: the
    kept fraction of the tiny language exceeds the head's, and a
    smaller alpha flattens harder; dyadic_pow_sql rejects non-dyadic
    alphas."""
    import pytest as _pytest

    rows = [(i, "w " * 20, "en") for i in range(400)]
    rows += [(1000 + i, "w " * 20, "xx") for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")

    def kept_frac(alpha):
        out = textstats.temperature_token_sample(
            df, total_budget=4000, alpha=alpha
        ).groupBy("lang").count().collect()
        by = {r.lang: r["count"] for r in out}
        return by.get("en", 0) / 400, by.get("xx", 0) / 20

    en_half, xx_half = kept_frac(0.5)
    assert xx_half > en_half            # tail upsampled relative to head
    en_quarter, xx_quarter = kept_frac(0.25)
    # smaller alpha -> flatter shares -> even more tail-favoring ratio
    assert xx_quarter / max(en_quarter, 1e-9) >= xx_half / max(en_half, 1e-9)
    with _pytest.raises(ValueError):
        textstats.dyadic_pow_sql("x", 0.3)


def test_corpus_report_strata(spark):
    """Strata group by the SAME predictions as the unit operators, and
    distinct_docs exposes per-stratum exact-duplicate mass."""
    rows = [
        (1, BASE), (2, BASE),                       # en dups (one hash)
        (3, BASE.replace("rain", "snow")),          # en distinct
        (4, "el la de que y en un los se del " * 3),  # es
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {(r.pred_lang, r.quality_band): r
           for r in textstats.corpus_report(df).collect()}
    langs = {r.id: r.pred_lang for r in textstats.language_id(df).collect()}
    bands = {r.id: r.quality_band for r in textstats.quality_score(df).collect()}
    # every (lang, band) combination present in the units appears, with
    # matching doc counts
    from collections import Counter
    want = Counter((langs[i], bands[i]) for i in (1, 2, 3, 4))
    assert {k: r.n_docs for k, r in out.items()} == dict(want)
    en_key = (langs[1], bands[1])
    assert out[en_key].n_docs - out[en_key].distinct_docs == 1  # docs 1+2 collapse


def test_url_curate_pre1970_order(spark, tmp_path):
    """Negative epoch micros (pre-1970 captures) must order NUMERICALLY
    in the keep-newest key: equal-length '-'-prefixed strings compare
    magnitude-reversed after lpad, so the un-offset key picked the
    OLDER capture (ADVICE r3). Spark and the DuckDB twin must agree."""
    import duckdb

    from logzilla_spark.operators.urls import url_curate
    from logzilla_spark.oracle_dataops import url_curate_sql

    rows = [
        ("https://old.example/p?a=1", "1969-12-31 22:00:00"),  # -7.2e9 us
        ("https://old.example/p?a=1&utm_source=x", "1969-12-31 23:00:00"),
        ("https://new.example/q", "1971-01-01 00:00:00"),
    ]
    df = spark.createDataFrame(rows, "url string, warc_ts string").selectExpr(
        "url", "to_timestamp(warc_ts) AS warc_ts"
    )
    got = {r.norm_url: r for r in url_curate(df).collect()}
    key = "https://old.example/p?a=1"
    assert got[key].n_crawls == 2
    # newest pre-1970 capture wins (23:00, i.e. -3.6e9 us > -7.2e9 us)
    assert str(got[key].warc_ts) == "1969-12-31 23:00:00"

    d = str(tmp_path / "pages")
    df.write.parquet(d)
    con = duckdb.connect()
    odf = con.sql(url_curate_sql(f"{d}/*.parquet")).df()
    orow = odf[odf.norm_url == key].iloc[0]
    # Spark writes INT64 TIMESTAMP_MICROS with isAdjustedToUTC=true
    # (session T25), which DuckDB surfaces as TIMESTAMPTZ — normalize
    # to the UTC wall clock before comparing to the Spark-side string.
    ots = orow.warc_ts
    if getattr(ots, "tzinfo", None) is not None:
        ots = ots.tz_convert("UTC").tz_localize(None)
    assert str(ots) == "1969-12-31 23:00:00"
    assert orow.url == got[key].url


def test_operator_cache_scope_releases_tracked_persists(spark):
    """Operators that persist internals (minhash features, semdedup
    assignment, bpe/dsir occurrence streams) register them; a scope
    frees exactly its own additions on exit (ADVICE r3 leak-by-default
    finding)."""
    import time

    from logzilla_spark.functions import caching

    def rdd_ids():
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        return {int(k) for k in jmap.keySet().toArray()}

    # earlier tests register tracked persists outside any scope —
    # drain them so the no-op check at the end sees a clean registry
    # (their async unpersists may still be in flight: compare RDD id
    # SETS, not sizes, so concurrent drains cannot mask the scope's
    # own additions)
    caching.release_operator_caches()
    base = rdd_ids()
    df = _docs(spark)
    with caching.operator_cache_scope():
        pairs = dedup.minhash_lsh_pairs(df)
        n = pairs.count()
        added = rdd_ids() - base
        assert added  # the feature persist registered and materialized
        assert n >= 1
        # a repeated call on the same input finds its plans cached:
        # no second registration, no second cache entry
        tracked = len(caching._TRACKED)
        assert dedup.minhash_lsh_pairs(df).count() == n
        assert len(caching._TRACKED) == tracked
        assert rdd_ids() - base == added
    # scope exit unpersisted the feature table (async — poll briefly)
    for _ in range(50):
        if not (rdd_ids() & added):
            break
        time.sleep(0.1)
    assert not (rdd_ids() & added)
    # release_operator_caches with nothing tracked is a no-op
    assert caching.release_operator_caches() == 0


def test_spread_gate_modes(spark, tmp_path):
    """_spread (the per-doc-compute parallelism restorer) honors its
    conf: off never exchanges, force always does, and auto exchanges
    exactly when the input has fewer files than the session's shuffle
    parallelism (r3 ADVICE: the gate must not probe the RDD — see the
    package-wide no-.rdd lint)."""
    d = str(tmp_path / "one_file")
    spark.range(100).selectExpr(
        "id AS doc_id", "CAST(id AS STRING) AS text"
    ).coalesce(1).write.parquet(d)
    one_file = spark.read.parquet(d)

    def n_exchanges(df):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        return plan.count("Repartition")

    target = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert len(one_file.inputFiles()) < target  # precondition for auto
    try:
        spark.conf.set("spark.logzilla.spread", "off")
        assert n_exchanges(dedup._spread(one_file)) == 0
        spark.conf.set("spark.logzilla.spread", "force")
        assert n_exchanges(dedup._spread(one_file)) == 1
        spark.conf.set("spark.logzilla.spread", "auto")
        assert n_exchanges(dedup._spread(one_file)) == 1  # 1 file < target
        # many-file input passes the auto gate outright (no exchange)
        dm = str(tmp_path / "many_files")
        spark.range(1000).selectExpr(
            "id AS doc_id", "CAST(id AS STRING) AS text"
        ).repartition(target).write.parquet(dm)
        many = spark.read.parquet(dm)
        assert len(many.inputFiles()) >= target
        assert n_exchanges(dedup._spread(many)) == 0
    finally:
        spark.conf.set("spark.logzilla.spread", "auto")


class TestCommittedTokenizer:
    """T80: the merge table as a snapshot-versioned catalog artifact."""

    def _docs(self, spark, extra=()):
        import pandas as pd

        texts = [
            "low low lower lowest", "new newer newest", "low new low new",
            "wide wider widest", *extra,
        ]
        return spark.createDataFrame(
            pd.DataFrame(
                [(i, t) for i, t in enumerate(texts)],
                columns=["doc_id", "text"],
            ),
            schema="doc_id long, text string",
        )

    def test_commit_load_roundtrip_and_served_equals_inline(
        self, spark, tmp_path
    ):
        from logzilla_spark.operators import textstats as T
        from logzilla_spark.sources.catalog import LocalCatalog

        cat = LocalCatalog(str(tmp_path / "wh"))
        docs = self._docs(spark)
        sid = T.commit_bpe_model(docs, cat, n_merges=6, min_freq=2)
        merges = T.load_bpe_merges(cat, spark)
        inline = T.bpe_train(docs, 6, min_freq=2, batch_size=8)
        want = [(r.lhs, r.rhs) for r in inline.orderBy("step").collect()]
        assert merges == want and merges
        got = (
            T.bpe_apply_from_catalog(docs, cat)
            .toPandas().sort_values("id").reset_index(drop=True)
        )
        direct = (
            T.bpe_apply(docs, merges)
            .toPandas().sort_values("id").reset_index(drop=True)
        )
        import pandas as pd

        pd.testing.assert_frame_equal(got, direct)
        s = cat.snapshot_summary(T.BPE_MERGES_TABLE, sid)
        assert s["kind"] == "bpe_merges" and s["n_merges"] == len(merges)
        assert s["min_freq"] == 2 and s["batch_size"] == 8

    def test_time_travel_pins_the_old_tokenizer(self, spark, tmp_path):
        from logzilla_spark.operators import textstats as T
        from logzilla_spark.sources.catalog import LocalCatalog

        cat = LocalCatalog(str(tmp_path / "wh"))
        docs_v1 = self._docs(spark)
        sid1 = T.commit_bpe_model(docs_v1, cat, n_merges=4, min_freq=2)
        m1 = T.load_bpe_merges(cat, spark)
        # retrain on a grown corpus -> head moves
        docs_v2 = self._docs(spark, extra=("deep deeper deepest",) * 3)
        T.commit_bpe_model(docs_v2, cat, n_merges=8, min_freq=2)
        assert T.load_bpe_merges(cat, spark) != m1
        # a pinned run re-encodes with EXACTLY the old tokenizer
        assert T.load_bpe_merges(cat, spark, snapshot_id=sid1) == m1
        enc_old = (
            T.bpe_apply_from_catalog(docs_v1, cat, snapshot_id=sid1)
            .toPandas().sort_values("id").reset_index(drop=True)
        )
        direct = (
            T.bpe_apply(docs_v1, m1)
            .toPandas().sort_values("id").reset_index(drop=True)
        )
        import pandas as pd

        pd.testing.assert_frame_equal(enc_old, direct)
