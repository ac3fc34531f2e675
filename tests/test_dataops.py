"""Training-data ops: dedup (exact/ngram/minhash/simhash/embedding),
text stats, similarity search, multimodal plumbing."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from kgtm.dedup import (
    embedding_neardup_pairs,
    exact_dedup,
    minhash_lsh_pairs,
    minhash_signature_series,
    ngram_jaccard_pairs,
    shingles_col,
    simhash_pairs,
    simhash_series,
)
from kgtm.multimodal import extract_features, sample_frames, synth_media_df
from kgtm.similarity import brute_topk, lsh_topk, recall_at_k
from kgtm.textstats import (
    bpe_ish_token_count_col,
    fingerprint_col,
    lang_id_col,
    quality_features,
    token_count_col,
    winnow_fingerprint_series,
)


@pytest.fixture(scope="module")
def dup_docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again ok"
    near = "the quick brown fox jumps over the lazy dog again and again yes"
    rows = [
        (0, base),
        (1, base),                     # exact dup of 0
        (2, near),                     # near dup of 0/1
        (3, "completely different text about spark shuffles and joins here"),
        (4, "the quick brown fox"),    # short, some overlap
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark, dup_docs):
    out = exact_dedup(dup_docs)
    rows = {r.keep_doc_id: r.n_dupes for r in out.collect()}
    assert rows[0] == 2  # docs 0 and 1 collapse, survivor = min id
    assert out.count() == 4


def test_shingles_col(spark):
    df = spark.createDataFrame([("a b c d",), ("a b",)], "text string")
    out = df.select(shingles_col("text", 3).alias("sh")).collect()
    assert out[0].sh == ["a b c", "b c d"]
    assert out[1].sh == []


def test_ngram_jaccard_pairs(spark, dup_docs):
    out = ngram_jaccard_pairs(dup_docs, threshold=0.5)
    pairs = {(r.id_a, r.id_b): r.jaccard for r in out.collect()}
    assert pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs and 0.5 <= pairs[(0, 2)] < 1.0
    assert (0, 3) not in pairs


def test_minhash_signature_deterministic():
    s = pd.Series([["a b c", "b c d"], [], ["x y z"]])
    a = minhash_signature_series(s, n_hashes=16)
    b = minhash_signature_series(s, n_hashes=16)
    assert a.tolist() == b.tolist()
    assert len(a[0]) == 16 and a[1] is None  # empty shingles → NULL signature


def test_minhash_lsh_finds_near_dups(spark, dup_docs):
    out = minhash_lsh_pairs(dup_docs, threshold=0.5, n_hashes=64, n_bands=16)
    pairs = {(r.id_a, r.id_b): r.est_jaccard for r in out.collect()}
    assert pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs
    assert (0, 3) not in pairs


def test_simhash_near_dup(spark, dup_docs):
    s = simhash_series(pd.Series([["a b c", "c d e"], ["a b c", "c d e"]]))
    assert s[0] == s[1]
    # thresholds calibrated to the full-64-bit hasher: the near-dup pair
    # lands at hamming 12 (it was artificially ≤10 when bits 31..63 were
    # constant zero), the unrelated pair at 38 — crisp separation
    out = simhash_pairs(dup_docs, max_hamming=16)
    pairs = {(r.id_a, r.id_b): r.hamming for r in out.collect()}
    assert pairs[(0, 1)] == 0
    assert (0, 2) in pairs and pairs[(0, 2)] <= 16
    assert (0, 3) not in pairs
    # max_hamming=0 = exact simhash equality: one 64-bit chunk, no mask
    # literal (a (1<<64)-1 lit would overflow a Java long — regression)
    exact = {(r.id_a, r.id_b) for r in simhash_pairs(dup_docs, max_hamming=0).collect()}
    assert exact == {(0, 1)}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="must be in"):
        simhash_pairs(dup_docs, max_hamming=64)


def test_shingle_hash64_three_way_parity():
    """The vectorized numpy hasher, its scalar Python reference, and the
    DuckDB HUGEINT twin must agree bit-for-bit — this is the contract that
    keeps simhash_neardup value-checkable in the driver gate. Covers every
    routing branch: short/long (> _LONG_CUTOFF), empty, NUL-bearing
    (scalar fallback), non-ASCII, heterogeneous length-sorted chunks."""
    import duckdb
    import numpy as np

    from kgtm.dedup import _LONG_CUTOFF, _hash_shingles64, hash64_py
    from kgtm.oracles import hash64_sql_ctes

    strs = [
        "a b c",
        "c d e",
        "",
        "€ döc ünïcode",
        "x" * (_LONG_CUTOFF + 100),
        "a b c",
        "the the the",
        "\x00zero",
        "trail\x00",
        "y" * 17,
        "short",
        "m" * 900,  # forces the heterogeneous length-sort branch
    ]
    vec = _hash_shingles64(strs)
    ref = np.array([hash64_py(s) for s in strs], dtype=np.uint64)
    assert (vec == ref).all()

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t(i INT, shingle VARCHAR)"
    )
    # DuckDB VARCHAR cannot hold NUL — skip those two (they take the
    # scalar-fallback path already proven equal to hash64_py above)
    sql_strs = [(i, s) for i, s in enumerate(strs) if "\x00" not in s]
    con.executemany("INSERT INTO t VALUES (?, ?)", sql_strs)
    q = (
        "WITH src AS (SELECT i, shingle FROM t), "
        + hash64_sql_ctes("src", "i")
        + " SELECT i, hv FROM hashed"
    )
    for i, hv in con.execute(q).fetchall():
        assert int(hv) == int(ref[i]), strs[i]


def test_embedding_neardup(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.99, 0.1, 0.0]),
        (2, [0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = embedding_neardup_pairs(df, threshold=0.9)
    pairs = [(r.id_a, r.id_b) for r in out.collect()]
    assert pairs == [(0, 1)]


def test_embedding_neardup_blocked_equals_brute(spark, embeddings):
    from kgtm.dedup import embedding_neardup_blocked

    brute = {
        (r.id_a, r.id_b, r.cos)
        for r in embedding_neardup_pairs(embeddings, threshold=0.45).collect()
    }
    blocked = {
        (r.id_a, r.id_b, r.cos)
        for r in embedding_neardup_blocked(
            embeddings, threshold=0.45, n_blocks=4
        ).collect()
    }
    assert brute == blocked and len(brute) > 0


# ---------------------------------------------------------------------------
# textstats
# ---------------------------------------------------------------------------


def test_token_counts(spark):
    df = spark.createDataFrame(
        [("hello world foo",), ("",), (None,), ("don't stop! 42",)], "text string"
    )
    out = df.select(
        token_count_col("text").alias("ws"),
        bpe_ish_token_count_col("text").alias("bpe"),
    ).collect()
    assert [r.ws for r in out] == [3, 0, 0, 3]
    # don ' t stop ! 42 → 6
    assert out[3].bpe == 6


def test_quality_features(spark):
    df = spark.createDataFrame(
        [(0, "the quick brown fox and a dog of note"), (1, "!!! ??? ...")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in quality_features(df).collect()}
    assert out[0].stopword_ratio > 0.2
    assert out[1].punct_ratio > 0.5
    assert out[0].quality_score > out[1].quality_score


def test_lang_id(spark):
    df = spark.createDataFrame(
        [
            ("the cat and the dog is here",),
            ("el gato de la casa que los",),
            ("der hund und die katze ist",),
            ("zzz qqq xxx",),
        ],
        "text string",
    )
    out = [r.lang for r in df.select(lang_id_col("text").alias("lang")).collect()]
    assert out == ["en", "es", "de", "und"]


def test_fingerprint_stable_under_whitespace(spark):
    df = spark.createDataFrame(
        [("Hello   World",), ("hello world",), ("hello  world ",), ("other",)],
        "text string",
    )
    fps = [r.fp for r in df.select(fingerprint_col("text").alias("fp")).collect()]
    assert fps[0] == fps[1] == fps[2] != fps[3]


def test_winnow_fingerprint_pure():
    s = pd.Series(["the quick brown fox", "the quick brown fox", "other doc", ""])
    out = winnow_fingerprint_series(s)
    assert out[0] == out[1] != out[2]
    assert out[3] == 0


# ---------------------------------------------------------------------------
# similarity
# ---------------------------------------------------------------------------


def test_brute_topk_and_lsh_recall(spark, embeddings):
    queries = embeddings.filter(F.col("vec_id") < 5)
    exact = brute_topk(embeddings, queries, k=10)
    rows = exact.collect()
    assert len(rows) == 50
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    for q, rs in by_q.items():
        cosines = [r.cos for r in sorted(rs, key=lambda r: r.rank)]
        assert cosines == sorted(cosines, reverse=True)

    approx = lsh_topk(embeddings, queries, k=10, n_tables=8, planes_per_table=6)
    rec = recall_at_k(approx, exact)
    assert rec >= 0.6, rec  # 8 tables x 6 planes, multi-probe queries

    # derandomized twin: 0 planes/table → one universal bucket per table →
    # candidates = full corpus through the SAME bucket-join machinery, so
    # the result must equal brute force EXACTLY (values, not just recall)
    exhaustive = lsh_topk(embeddings, queries, k=10, n_tables=2, planes_per_table=0)
    got = sorted(map(tuple, exhaustive.collect()))
    want = sorted(map(tuple, exact.collect()))
    assert got == want


# ---------------------------------------------------------------------------
# multimodal
# ---------------------------------------------------------------------------


def test_multimodal_features(spark, documents):
    media = synth_media_df(spark, documents)
    feats = extract_features(media)
    rows = feats.collect()
    assert len(rows) == documents.count()
    r0 = rows[0]
    assert len(r0.features) == 16
    assert abs(sum(r0.features) - 1.0) < 1e-5
    # deterministic: same content → same digest/features
    again = {r.asset_id: r for r in extract_features(media).collect()}
    assert again[r0.asset_id].content_digest == r0.content_digest


def _bmp(pixels: list[list[tuple[int, int, int]]]) -> bytes:
    """Hand-rolled 24-bit uncompressed BMP (top-down pixel rows in) — a
    deterministic fixture no codec library is needed to CREATE, that any
    real image decoder (incl. PIL) can read."""
    import struct

    h, w = len(pixels), len(pixels[0])
    row_size = (3 * w + 3) // 4 * 4
    body = b""
    for row in reversed(pixels):  # BMP stores bottom-up
        raw = b"".join(bytes([b, g, r]) for r, g, b in row)
        body += raw + b"\0" * (row_size - len(raw))
    dib = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0
    )
    hdr = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(body), 0, 0, 14 + 40)
    return hdr + dib + body


#: two deterministic image assets: solid dark 2x2 and a 4x4 gradient
BMP_DARK = _bmp([[(10, 10, 10)] * 2] * 2)
BMP_GRAD = _bmp(
    [[(16 * (4 * y + x + 1) - 1,) * 3 for x in range(4)] for y in range(4)]
)


def _has_pil() -> bool:
    try:
        import PIL  # noqa: F401

        return True
    except ImportError:
        return False


def test_multimodal_real_decode_or_stub_fallback(spark):
    """backend='auto' must route image bytes through the REAL decoder when
    PIL is importable and fall back to the stub otherwise — both branches
    keep the (16 features, L1-normalized) contract. Runs green in BOTH
    environments; the PIL-specific value assertions are guarded."""
    import pandas as pd

    from kgtm.multimodal import _decode_and_featurize

    auto_dark = _decode_and_featurize(BMP_DARK, "image", "auto")
    stub_dark = _decode_and_featurize(BMP_DARK, "image", "stub")
    assert len(auto_dark) == 16 and abs(float(auto_dark.sum()) - 1.0) < 1e-5
    if _has_pil():
        # real decode: a solid image has UNIFORM features (each of the 16
        # resampled pixels carries 1/16 of the mass) — the byte-histogram
        # stub can't produce that from BMP header bytes
        assert all(abs(float(v) - 1 / 16) < 1e-6 for v in auto_dark)
        grad = _decode_and_featurize(BMP_GRAD, "image", "auto")
        assert float(grad[0]) < float(grad[-1])  # gradient survives decode
        import pytest as _pytest

        with _pytest.raises(ValueError, match="pil"):
            _decode_and_featurize(b"not an image", "image", "pil")
    else:
        # no codecs in this environment: auto == stub, loudly-labeled fake
        assert (auto_dark == stub_dark).all()
        import pytest as _pytest

        with _pytest.raises(ValueError, match="pil"):
            _decode_and_featurize(BMP_DARK, "image", "pil")

    # end-to-end through the Spark plumbing with the fixture assets
    from kgtm.multimodal import MEDIA_SCHEMA, extract_features

    media = spark.createDataFrame(
        pd.DataFrame(
            {
                "asset_id": [1, 2],
                "media_type": ["image", "image"],
                "content": [BMP_DARK, BMP_GRAD],
                "meta_width": [2, 4],
                "meta_height": [2, 4],
                "meta_duration_ms": [None, None],
            }
        ),
        MEDIA_SCHEMA,
    )
    rows = {r.asset_id: r for r in extract_features(media).collect()}
    assert len(rows) == 2
    for r in rows.values():
        assert len(r.features) == 16
        assert abs(sum(r.features) - 1.0) < 1e-4


def test_sample_frames(spark, documents):
    media = synth_media_df(spark, documents)
    frames = sample_frames(media, every_ms=1000)
    # doc_id % 3 == 2 → video; duration (doc_id%5)*1000+500 → frames = %5 + 1
    got = frames.groupBy("asset_id").count().collect()
    for r in got:
        assert r["count"] == (r.asset_id % 5) + 1


def test_cosine_expr_matches_numpy(spark):
    import numpy as np

    from kgtm.dedup import cosine_expr

    a, b = [1.0, 2.0, 3.0], [4.0, -5.0, 6.0]
    df = spark.createDataFrame([(a, b)], "va array<float>, vb array<float>")
    got = df.select(cosine_expr("va", "vb").alias("c")).collect()[0].c
    want = float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b)))
    assert abs(got - want) < 1e-9


def test_ivf_topk_recall_and_determinism(spark, embeddings):
    from kgtm.similarity import ivf_topk

    queries = embeddings.filter(F.col("vec_id") < 5)
    exact = brute_topk(embeddings, queries, k=10)
    approx = ivf_topk(embeddings, queries, k=10, n_centroids=16, nprobe=6)
    assert recall_at_k(approx, exact) >= 0.5
    again = ivf_topk(embeddings, queries, k=10, n_centroids=16, nprobe=6)
    assert approx.exceptAll(again).count() == 0


def test_fuzzy_linking(spark):
    from kgtm.fuzzy_link import link_fuzzy

    labels = spark.createDataFrame(
        [
            ("click tracking ontology", "http://o/click"),
            ("error log ontology", "http://o/error"),
            ("purchase records vocabulary", "http://o/purchase"),
        ],
        "label string, ontology_iri string",
    )
    mentions = spark.createDataFrame(
        [
            ("the click tracking ontolgy",),   # typo'd near-match
            ("error log ontology",),           # exact
            ("zebra quantum unrelated",),      # no match
        ],
        "surface string",
    )
    out = {r.surface: r for r in link_fuzzy(mentions, labels, threshold=0.3).collect()}
    assert out["error log ontology"].matched_entity == "http://o/error"
    assert out["error log ontology"].score == 1.0
    assert out["the click tracking ontolgy"].matched_entity == "http://o/click"
    assert 0.3 <= out["the click tracking ontolgy"].score < 1.0
    assert not out["zebra quantum unrelated"].is_linked

    # deterministic across runs
    again = {r.surface: r.matched_entity for r in link_fuzzy(mentions, labels, threshold=0.3).collect()}
    assert again == {s: r.matched_entity for s, r in out.items()}


def test_contamination_pairs_flags_embedded_benchmark(spark):
    """A training doc that embeds a benchmark item verbatim (with unrelated
    text around it) must flag at containment 1.0 — the asymmetric
    denominator is the point; plain Jaccard would dilute it. Clean docs and
    partial overlap below threshold stay unflagged."""
    from kgtm.dedup import contamination_pairs

    bench_q = (
        "what is the capital city of the country that borders both the "
        "mountains and the northern sea in europe"
    )
    docs = spark.createDataFrame(
        [
            (0, "some long preamble about training data pipelines and then "
                + bench_q
                + " followed by a long discussion of the answer and more text"),
            (1, "completely unrelated document about spark partitioning and "
                "shuffle behavior during large aggregations in a cluster"),
            (2, "what is the capital city of the country that has no other "
                "overlap with the benchmark item beyond this half prefix"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(100, bench_q)], "bench_id long, text string")
    out = {
        (r.doc_id, r.bench_id): r.containment
        for r in contamination_pairs(docs, bench, n=5, threshold=0.5).collect()
    }
    assert out[(0, 100)] == 1.0
    assert (1, 100) not in out and (2, 100) not in out


# ---------------------------------------------------------------------------
# hot-shingle skew cap (default on); empty docs in sketch dedup
# ---------------------------------------------------------------------------


def test_ngram_jaccard_skew_cap_drops_stop_phrase_only(spark, capsys):
    """Every doc shares one stop phrase; one genuine near-dup pair shares
    unique shingles too. The cap must kill the stop-phrase fan-out without
    losing the genuine pair."""
    from kgtm.dedup import ngram_jaccard_pairs

    stop = "the quick brown fox jumps over the lazy dog again"
    docs = [(i, f"{stop} unique tail number {i} content {i * 7} here") for i in range(40)]
    # a genuine near-dup pair: same tail, one word differs
    docs.append((100, f"{stop} shared tail alpha beta gamma delta epsilon zeta"))
    docs.append((101, f"{stop} shared tail alpha beta gamma delta epsilon eta"))
    df = spark.createDataFrame(docs, "doc_id long, text string")

    capped = ngram_jaccard_pairs(
        df, threshold=0.4, max_shingle_df=10, log_dropped=True
    ).collect()
    uncapped = ngram_jaccard_pairs(df, threshold=0.4, max_shingle_df=None).collect()
    assert {(r.id_a, r.id_b) for r in capped} == {(100, 101)}
    # the genuine pair's EXACT jaccard differs (capped drops shared hot
    # shingles from both |∩| and the per-doc counts) but survives
    assert {(r.id_a, r.id_b) for r in uncapped} >= {(100, 101)}
    assert "dropped" in capsys.readouterr().out


def test_empty_docs_never_pair_in_sketch_dedup(spark):
    """Empty/too-short docs have empty shingle sets: exact Jaccard pairs them
    with nothing, so MinHash/SimHash must not either (their all-zero
    signatures used to pair every empty doc with every other at est=1.0 and
    form one quadratic hot bucket)."""
    from kgtm.dedup import minhash_lsh_pairs, ngram_jaccard_pairs, simhash_pairs
    from kgtm.fuzzy_link import link_fuzzy

    docs = spark.createDataFrame(
        [(0, ""), (1, ""), (2, "ab"), (3, None),
         (4, "a real document body with enough words to shingle properly"),
         (5, "a real document body with enough words to shingle nicely")],
        "doc_id long, text string",
    )
    assert {(r.id_a, r.id_b) for r in minhash_lsh_pairs(docs, threshold=0.2).collect()} == {(4, 5)}
    assert {(r.id_a, r.id_b) for r in simhash_pairs(docs, max_hamming=8).collect()} == {(4, 5)}
    assert {(r.id_a, r.id_b) for r in ngram_jaccard_pairs(docs, threshold=0.2).collect()} == {(4, 5)}

    mentions = spark.createDataFrame([("",), ("ab",), ("click",)], "surface string")
    labels = spark.createDataFrame(
        [("click", "http://h/click"), ("x", "http://h/x")], "label string, ontology_iri string"
    )
    out = {r.surface: r for r in link_fuzzy(mentions, labels, threshold=0.3).collect()}
    assert out["click"].is_linked
    assert not out[""].is_linked and not out["ab"].is_linked


# ---------------------------------------------------------------------------
# vectorized winnowing: parity with the per-character rolling-hash reference
# ---------------------------------------------------------------------------


def _winnow_reference(s: str, k: int = 5, window: int = 4) -> int:
    """The pre-vectorization per-character rolling-hash implementation."""
    if not s or len(s) < k:
        return 0
    with np.errstate(over="ignore"):
        b = np.frombuffer(s.lower().encode("utf-8", "ignore"), dtype=np.uint8)
        n = len(b) - k + 1
        base = np.uint64(257)
        h = np.zeros(n, dtype=np.uint64)
        acc = np.uint64(0)
        powk = np.uint64(1)
        for _ in range(k):
            powk *= base
        for i in range(k):
            acc = acc * base + np.uint64(b[i])
        h[0] = acc
        for i in range(1, n):
            acc = acc * base - np.uint64(b[i - 1]) * powk + np.uint64(b[i + k - 1])
            h[i] = acc
        if n <= window:
            mins = np.array([h.min()], dtype=np.uint64)
        else:
            sw = np.lib.stride_tricks.sliding_window_view(h, window)
            mins = np.unique(sw.min(axis=1))
        out = np.uint64(0)
        for m in mins:
            out ^= m * np.uint64(0x9E3779B97F4A7C15)
        return int(out.astype(np.int64))


def test_winnow_vectorized_matches_rolling_reference():
    from kgtm.textstats import winnow_fingerprint_series

    rng = np.random.default_rng(7)
    alphabet = list("abcdefg hij")
    texts = [
        "".join(rng.choice(alphabet, size=int(n)))
        for n in rng.integers(0, 200, size=60)
    ] + ["", "abc", "exact"]
    got = winnow_fingerprint_series(pd.Series(texts)).tolist()
    want = [_winnow_reference(t) for t in texts]
    assert got == want


# ---------------------------------------------------------------------------
# trigram language id on held-out sentences
# ---------------------------------------------------------------------------


def test_lang_id_trigram_on_held_out_sentences():
    """The NB classifier must identify held-out sentences (none appear in
    LANG_SAMPLES) — strictly stronger than the marker-word heuristic, which
    scores 'und' on several of these."""
    from kgtm.textstats import lang_id_trigram_series

    cases = {
        "the weather report said it would rain tomorrow afternoon": "en",
        "my neighbour bought another second hand car last week": "en",
        "la reunion de manana sera en la oficina central": "es",
        "necesito comprar verduras frescas para la cena": "es",
        "das wetter wird morgen wahrscheinlich besser werden": "de",
        "ich moechte naechste woche nach berlin fahren": "de",
        "la reunion de demain aura lieu au bureau principal": "fr",
        "je voudrais acheter des legumes frais pour le diner": "fr",
        "vorrei comprare delle verdure fresche per la cena di stasera": "it",
        "il treno per milano parte domani mattina dalla stazione": "it",
        "preciso comprar legumes frescos para o jantar de hoje": "pt",
        "o trem para lisboa sai amanha de manha da estacao": "pt",
        "ik wil volgende week met de trein naar amsterdam reizen": "nl",
        "het weer wordt morgen waarschijnlijk veel beter dan vandaag": "nl",
        "jag skulle vilja aka tag till stockholm nasta vecka": "sv",
        "vadret blir formodligen mycket battre i morgon an idag": "sv",
        "": "und",
        "xy": "und",
    }
    got = lang_id_trigram_series(pd.Series(list(cases))).tolist()
    assert got == list(cases.values()), dict(zip(cases, got))
