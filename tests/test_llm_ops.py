"""Unit tests for the LLM-data-pipeline operators on tiny hand-built
DataFrames (the oracle harness covers them at scale — these pin exact
semantics on known inputs)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from impuls_spark.llm import (
    brute_force_topk,
    exact_dedup,
    exact_duplicate_groups,
    fingerprints,
    language_id,
    lsh_candidate_pairs,
    lsh_topk,
    ngram_jaccard_pairs,
    quality_scores,
    simhash_near_duplicates,
    token_counts,
    word_shingles,
)
from impuls_spark.llm.multimodal import (
    MEDIA_SCHEMA,
    attach_binary,
    decode_media,
    extract_features,
    resize_media,
    sample_frames,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, "completely different words entirely unrelated content here"),
        (4, "the quick brown fox jumps over the lazy dog"),  # exact dupe of 1
        (5, "short text"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_word_shingles(docs):
    sh = word_shingles(docs.filter(F.col("doc_id") == 5), n=3)
    assert sh.count() == 0  # 2 words < n
    sh1 = word_shingles(docs.filter(F.col("doc_id") == 1), n=3)
    shingles = {r["shingle"] for r in sh1.collect()}
    assert "the quick brown" in shingles
    assert len(shingles) == 7  # 9 words -> 7 trigrams


def _reference_shingles(text, n, distinct):
    if text is None:
        return []
    words = text.split(" ")  # Spark's split(" ") keeps empty words too
    out = [" ".join(words[i:i + n]) for i in range(len(words) - n + 1)]
    return sorted(set(out) if distinct else out)


def test_word_shingles_matches_python_reference(spark):
    import random

    rng = random.Random(5)
    long_doc = " ".join(f"w{rng.randrange(3000)}" for _ in range(20_000))
    texts = [None, "", "one", "two words", "a  b  c d", "x\x1fy z\x1f w",
             "żółw ünï cödé 漢字 a b", " lead trail ", "a b a b a b a",
             long_doc]
    df = spark.createDataFrame(list(enumerate(texts)),
                               "doc_id long, text string")
    for n in (1, 2, 3, 5):
        for distinct in (True, False):
            got: dict = {}
            for r in word_shingles(df, n=n, distinct=distinct).collect():
                got.setdefault(r["doc_id"], []).append(r["shingle"])
            for i, text in enumerate(texts):
                assert sorted(got.get(i, [])) == _reference_shingles(
                    text, n, distinct), (n, distinct, i)


def test_word_shingles_lambda_reads_only_its_element(spark):
    """Each shingle is built from its own zipped tuple: the lambda must
    not index the split text, which would re-split the whole document
    per word (quadratic; 62 s for one 20,000-word document)."""
    df = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    plan = word_shingles(df, n=3)._jdf.queryExecution().analyzed().toString()
    bodies = []
    start = plan.find("lambdafunction(")
    while start >= 0:
        depth, end = 0, start + len("lambdafunction")
        for end in range(end, len(plan)):
            depth += {"(": 1, ")": -1}.get(plan[end], 0)
            if depth == 0:
                break
        bodies.append(plan[start:end + 1])
        start = plan.find("lambdafunction(", end)
    assert bodies
    for body in bodies:
        assert "split(" not in body and "text#" not in body, body


def test_exact_dedup(docs):
    groups = exact_duplicate_groups(docs).collect()
    assert len(groups) == 1
    assert groups[0]["canonical_id"] == 1
    assert groups[0]["n_dupes"] == 1
    kept = exact_dedup(docs)
    assert kept.count() == 4
    assert kept.filter(F.col("doc_id") == 4).count() == 0


def test_jaccard_pairs(docs):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in ngram_jaccard_pairs(docs, threshold=0.2).collect()}
    # 1 and 2 share 6 of 8 distinct trigrams; 1 and 4 identical
    assert pairs[(1, 4)] == 1.0
    assert 0.5 < pairs[(1, 2)] < 1.0
    assert (1, 3) not in pairs


def test_jaccard_max_df_cap(docs):
    """The document-frequency cap prunes candidate *generation* only:
    values are still exact, and with a cap above every shingle's df the
    output is identical to the exhaustive join."""
    base = {(r["id_a"], r["id_b"]): r["jaccard"]
            for r in ngram_jaccard_pairs(docs, threshold=0.2).collect()}
    capped = {(r["id_a"], r["id_b"]): r["jaccard"]
              for r in ngram_jaccard_pairs(docs, threshold=0.2, max_df=10).collect()}
    assert capped == base
    # a cap of 1 removes every shared shingle from candidate gen -> no pairs
    none = ngram_jaccard_pairs(docs, threshold=0.2, max_df=1).collect()
    assert none == []


def test_jaccard_parts_injection_guards(docs):
    """ADVICE r5: an injected `parts` must never be silently ignored
    (prefix path) or silently used with a mismatched max_df."""
    import pytest

    from impuls_spark.llm.dedup import _overlap_parts, word_shingles

    sh = word_shingles(docs)
    parts = _overlap_parts(sh, "doc_id", max_df=10)
    assert parts[2] == 10  # the cap travels with the frames

    # matching cap: identical output to building parts inline
    base = {(r["id_a"], r["id_b"]): r["jaccard"]
            for r in ngram_jaccard_pairs(
                docs, threshold=0.2, max_df=10).collect()}
    via_parts = {(r["id_a"], r["id_b"]): r["jaccard"]
                 for r in ngram_jaccard_pairs(
                     docs, threshold=0.2, max_df=10, parts=parts).collect()}
    assert via_parts == base

    # mismatched cap: loud error, not wrong pairs
    with pytest.raises(ValueError, match="max_df=10.*max_df=5"):
        ngram_jaccard_pairs(docs, threshold=0.2, max_df=5, parts=parts)

    # prefix-filter path (threshold >= 0.5) never consumes parts
    with pytest.raises(ValueError, match="prefix-filter"):
        ngram_jaccard_pairs(docs, threshold=0.6, parts=parts)


def test_jaccard_max_df_cap_sf001(spark):
    """d02's production cap (20) leaves sf0.01 output byte-identical to
    the exhaustive join (max shingle df there is 7 — the cap only binds
    on web-scale stop-shingles)."""
    docs = (
        spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
        .select("doc_id", "text")
    )
    base = {(r["id_a"], r["id_b"]): r["jaccard"]
            for r in ngram_jaccard_pairs(docs, threshold=0.2).collect()}
    capped = {(r["id_a"], r["id_b"]): r["jaccard"]
              for r in ngram_jaccard_pairs(docs, threshold=0.2, max_df=20).collect()}
    assert capped == base and len(base) > 0


def test_lsh_candidates(docs):
    pairs = {(r["id_a"], r["id_b"]) for r in lsh_candidate_pairs(docs).collect()}
    assert (1, 4) in pairs  # identical docs always collide
    assert (1, 3) not in pairs  # nothing shared


def test_simhash_near_duplicates(docs):
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in simhash_near_duplicates(docs).collect()}
    assert pairs[(1, 4)] == 0  # identical text -> identical simhash


def test_brute_force_topk(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0]),   # closest to 1
        (3, [0.0, 1.0, 0.0]),
        (4, [-1.0, 0.0, 0.0]),  # opposite of 1
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = brute_force_topk(emb, emb.filter(F.col("vec_id") == 1), k=3).collect()
    ranked = [r["neighbor_id"] for r in sorted(out, key=lambda r: r["rank"])]
    assert ranked == [2, 3, 4]
    assert out[0]["cosine"] <= 1.0


def test_lsh_topk_buckets(spark):
    rows = [
        (1, [1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0]),
        (2, [0.9, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0]),  # same bucket
        (3, [-1.0, -1.0, -1.0, -1.0, -1.0, -1.0, -1.0, -1.0]),  # different bucket
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = lsh_topk(emb, emb.filter(F.col("vec_id") == 1), k=5).collect()
    assert {r["neighbor_id"] for r in out} == {2}  # 3 is outside the bucket


def test_token_counts(docs):
    r = {x["doc_id"]: x for x in token_counts(docs).collect()}
    assert r[5]["n_ws_tokens"] == 2
    assert r[1]["n_ws_tokens"] == 9


def test_quality_scores(docs):
    r = {x["doc_id"]: x for x in quality_scores(docs).collect()}
    assert r[1]["n_words"] == 9
    assert r[1]["stopword_ratio"] > 0  # 'the' x2, 'over'... -> hits
    assert 0.0 <= r[1]["quality_score"] <= 1.0
    assert r[5]["quality_score"] < r[1]["quality_score"]  # too short


def test_language_id(spark):
    rows = [
        (1, "the cat is in the house and it is warm"),
        (2, "der Hund ist nicht in der Schule und das ist gut"),
        (3, "le chat est dans la maison et les chiens"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["predicted_lang"] for r in language_id(df).collect()}
    assert out == {1: "en", 2: "de", 3: "fr"}


def test_fingerprints(docs):
    fp = {r["doc_id"]: r["fingerprint"] for r in fingerprints(docs).collect()}
    assert fp[1] == fp[4]  # identical docs -> identical fingerprint
    assert fp[1] != fp[3]


def test_multimodal_pipeline(docs):
    media = attach_binary(docs, payload_col="text", id_col="doc_id", kind="image")
    decoded = {r["media_id"]: r for r in decode_media(media, codec="fake").collect()}
    assert decoded[5]["n_bytes"] == len("short text")
    assert decoded[1]["checksum"] == decoded[4]["checksum"]

    feats = {r["media_id"]: r["feature"] for r in extract_features(media).collect()}
    assert len(feats[1]) == 16
    assert abs(sum(feats[1]) - 1.0) < 1e-6  # L1-normalized
    assert feats[1] == feats[4]

    frames = sample_frames(media, every_n_bytes=8)
    n = frames.filter(F.col("media_id") == 5).count()
    assert n == 2  # 10 bytes / 8 -> 2 frames


def test_multimodal_boundary_prunes_unused_columns(docs):
    """Only the columns the batch functions read cross the Arrow
    boundary (guide §4.1, r15): the per-row ``meta`` map must not
    appear in the MapInPandas input — Spark cannot prune an opaque
    function's inputs itself, so the operators select first."""
    media = attach_binary(docs, payload_col="text", id_col="doc_id",
                          kind="image")
    for op, banned in (
        (decode_media(media, codec="fake"), ("meta",)),
        (extract_features(media), ("meta", "kind")),
        (resize_media(media, 4, 2), ("meta",)),
        (sample_frames(media), ("meta", "kind")),
    ):
        plan = op._jdf.queryExecution().executedPlan().toString()
        map_line = next(
            ln for ln in plan.splitlines() if "MapInPandas" in ln
        )
        for col in banned:
            assert col not in map_line, (col, map_line)


def test_resize_media_fake_and_callable(docs, spark):
    """Resize plumbing: fake codec truncates to the pixel budget with
    exact bytes; a callable codec plugs in; NULL payloads stay NULL."""
    media = attach_binary(docs, payload_col="text", id_col="doc_id",
                          kind="image")
    out = {r["media_id"]: r for r in resize_media(media, 4, 2).collect()}
    src = {r["media_id"]: bytes(r["data"]) for r in media.collect()}
    for mid, row in out.items():
        want = src[mid][:8]
        assert bytes(row["data"]) == want
        assert (row["width"], row["height"]) == (4, 2)
        assert row["n_bytes"] == len(want)

    def shout(b, kind, w, h):
        return None if b is None else (b.upper() + b"!")[: w * h]

    cb = resize_media(media, 3, 3, codec=shout).collect()[0]
    assert bytes(cb["data"]) == (src[cb["media_id"]].upper() + b"!")[:9]

    nulls = spark.createDataFrame(
        [(1, "image", None, {})], MEDIA_SCHEMA
    )
    r = resize_media(nulls, 4, 4).collect()[0]
    assert r["data"] is None and r["n_bytes"] == 0

    import pytest as _pt
    with _pt.raises(ValueError, match="codec must be"):
        resize_media(media, 2, 2, codec="reall")


def test_real_resize_body_with_stub_module(monkeypatch):
    """Execute the guarded ``_real_resize`` body without Pillow via a
    stub module: resize is called with the target box and the PNG
    re-encode lands in the output; video names the ffmpeg gap."""
    import sys
    import types

    from impuls_spark.llm.multimodal import _real_resize

    calls = []

    class _StubIm:
        def resize(self, box):
            calls.append(box)
            return self

        def save(self, buf, format):
            buf.write(b"PNGBYTES")

        def __enter__(self):
            return self

        def __exit__(self, *a):
            return False

    image_mod = types.ModuleType("PIL.Image")
    image_mod.open = lambda buf: _StubIm()
    pil = types.ModuleType("PIL")
    pil.Image = image_mod
    monkeypatch.setitem(sys.modules, "PIL", pil)
    monkeypatch.setitem(sys.modules, "PIL.Image", image_mod)

    assert _real_resize(b"\x89PNG...", "image", 32, 16) == b"PNGBYTES"
    assert calls == [(32, 16)]
    assert _real_resize(None, "image", 8, 8) is None
    with pytest.raises(NotImplementedError, match="ffmpeg"):
        _real_resize(b"\x00", "video", 8, 8)


def test_multimodal_real_codec_import_guard(docs):
    """codec='real' = Pillow behind an import guard for images: without
    the package an image batch fails with the install hint; video names
    the ffmpeg-class gap; non-WAV audio payloads fail in the stdlib
    wave parser (audio IS decoded for real now — see
    test_real_codec_decodes_generated_wav)."""
    try:
        import PIL  # noqa: F401
        has_pil = True
    except ImportError:
        has_pil = False

    media = attach_binary(docs, payload_col="text", id_col="doc_id",
                          kind="video")
    with pytest.raises(Exception) as ei:
        decode_media(media, codec="real").collect()
    assert "ffmpeg" in str(ei.value)

    # text bytes are not RIFF: the stdlib wave parser rejects them
    bad_audio = attach_binary(docs, payload_col="text", id_col="doc_id",
                              kind="audio")
    with pytest.raises(Exception) as ei:
        decode_media(bad_audio, codec="real").collect()
    assert "RIFF" in str(ei.value) or "Error" in type(ei.value).__name__

    if not has_pil:
        imgs = attach_binary(docs, payload_col="text", id_col="doc_id",
                             kind="image")
        with pytest.raises(Exception) as ei:
            decode_media(imgs, codec="real").collect()
        assert "Pillow" in str(ei.value)

    with pytest.raises(ValueError, match="codec must be"):
        decode_media(media, codec="reall")


def test_real_codec_decodes_generated_wav(spark):
    """VERDICT r7 item 7: the audio path of codec='real' is real — a
    WAV generated with the stdlib wave writer decodes executor-side to
    its exact duration, with every metadata column populated."""
    import io
    import wave

    def wav_bytes(n_frames: int, rate: int = 8000) -> bytes:
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(2)
            w.setframerate(rate)
            w.writeframes(b"\x00\x01" * n_frames)
        return buf.getvalue()

    rows = [(1, wav_bytes(8000)), (2, wav_bytes(2000)), (3, None)]
    media = spark.createDataFrame(
        rows, "media_id long, payload binary"
    ).select(
        "media_id",
        F.lit("audio").alias("kind"),
        F.col("payload").alias("data"),
        F.create_map(F.lit("source"), F.lit("test")).alias("meta"),
    )
    got = {r["media_id"]: r for r in decode_media(media, codec="real").collect()}
    assert got[1]["duration_ms"] == 1000   # 8000 frames @ 8 kHz
    assert got[2]["duration_ms"] == 250
    assert got[1]["n_bytes"] == len(rows[0][1])
    assert got[1]["checksum"] and got[1]["kind"] == "audio"
    # NULL payloads probe to zeros, not errors
    assert got[3]["duration_ms"] == 0 and got[3]["n_bytes"] == 0


def test_real_codec_resizes_generated_wav(spark):
    """VERDICT r8 item 7: codec='real' RESIZES WAV audio too (stdlib
    wave + audioop downsample) — the output is itself a parseable WAV
    at the reduced frame budget, within-budget payloads pass through
    verbatim, and NULLs stay NULL."""
    import io
    import wave

    from impuls_spark.llm.multimodal import resize_media

    def wav_bytes(n_frames: int, rate: int = 8000) -> bytes:
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(2)
            w.setframerate(rate)
            w.writeframes(bytes(2 * n_frames))
        return buf.getvalue()

    small = wav_bytes(50)  # within the 8x8=64-frame budget
    rows = [(1, wav_bytes(8000)), (2, small), (3, None)]
    media = spark.createDataFrame(
        rows, "media_id long, payload binary"
    ).select(
        "media_id",
        F.lit("audio").alias("kind"),
        F.col("payload").alias("data"),
        F.create_map(F.lit("source"), F.lit("test")).alias("meta"),
    )
    got = {r["media_id"]: r
           for r in resize_media(media, 8, 8, codec="real").collect()}

    with wave.open(io.BytesIO(bytes(got[1]["data"])), "rb") as w:
        assert w.getnframes() <= 64 + 1      # ratecv rounding slack
        assert w.getnframes() > 0
        assert w.getframerate() == (8000 * 64) // 8000
        assert w.getnchannels() == 1 and w.getsampwidth() == 2
    assert bytes(got[2]["data"]) == small    # pass-through under budget
    assert got[3]["data"] is None and got[3]["n_bytes"] == 0


def test_multimodal_real_codec_with_pillow(spark):
    """Skip-if-absent integration: with the public Pillow package
    installed, codec='real' reads true image dimensions."""
    PIL_Image = pytest.importorskip("PIL.Image")
    import io

    buf = io.BytesIO()
    PIL_Image.new("RGB", (7, 5)).save(buf, format="PNG")
    media = spark.createDataFrame(
        [(1, "image", bytearray(buf.getvalue()), {})], MEDIA_SCHEMA
    )
    row = decode_media(media, codec="real").collect()[0]
    assert (row["width"], row["height"]) == (7, 5)


def test_embed_real_encoder_import_guard(docs):
    """encoder='real' = sentence-transformers behind an import guard;
    unknown string modes fail fast instead of silently going fake."""
    from impuls_spark.llm import embed_texts

    with pytest.raises(ValueError, match="encoder must be"):
        embed_texts(docs, encoder="reaal")
    try:
        import sentence_transformers  # noqa: F401
    except ImportError:
        with pytest.raises(Exception) as ei:
            embed_texts(docs, encoder="real").collect()
        assert "sentence-transformers" in str(ei.value)


def test_embed_real_encoder_with_sentence_transformers(docs):
    """Skip-if-absent integration: with the public package installed,
    encoder='real' emits one L2-normalized model-width vector per doc;
    a dim that disagrees with the model width fails loudly (ADVICE r6)."""
    pytest.importorskip("sentence_transformers")
    from impuls_spark.llm import embed_texts

    with pytest.raises(Exception, match="dim"):
        embed_texts(docs, encoder="real", dim=7, batch_rows=4).collect()
    out = embed_texts(docs, encoder="real", dim=384, batch_rows=4).collect()
    assert len(out) == docs.count()
    v = out[0]["embedding"]
    assert len(v) == 384  # all-MiniLM-L6-v2 width
    assert abs(sum(x * x for x in v) - 1.0) < 1e-3


def test_real_st_encode_body_with_stub_module(monkeypatch):
    """Execute the guarded ``_real_st_encode`` body without the real
    package (VERDICT r6 item 3): a stub ``sentence_transformers``
    injected into sys.modules drives the actual normalization, dtype
    and per-worker model-caching lines."""
    import sys
    import types

    import numpy as np
    import pandas as pd

    from impuls_spark.llm import embed as E

    constructed = []

    class _StubModel:
        def __init__(self, name):
            constructed.append(name)

        def encode(self, texts, convert_to_numpy=True):
            # unnormalized float64 rows + one all-zero row: exercises
            # the normalization loop and the zero-norm guard
            out = np.zeros((len(texts), 8), dtype=np.float64)
            for i, t in enumerate(texts):
                if t:
                    out[i, : min(len(t), 8)] = [float(ord(c)) for c in
                                                t[:8]]
            return out

    stub = types.ModuleType("sentence_transformers")
    stub.SentenceTransformer = _StubModel
    monkeypatch.setitem(sys.modules, "sentence_transformers", stub)
    monkeypatch.setattr(E, "_WORKER_MODELS", {})

    vecs = E._real_st_encode(pd.Series(["abc", "", "zz"]), "stub-model")
    assert len(vecs) == 3
    assert all(v.dtype == np.float32 and v.shape == (8,) for v in vecs)
    assert abs(float(np.linalg.norm(vecs[0])) - 1.0) < 1e-6
    assert float(np.linalg.norm(vecs[1])) == 0.0  # zero-norm passthrough
    # one model handle per worker: second call must NOT reconstruct
    E._real_st_encode(pd.Series(["more"]), "stub-model")
    assert constructed == ["stub-model"]


def test_real_image_probe_body_with_stub_module(monkeypatch):
    """Execute the guarded ``_real_image_probe`` body without Pillow:
    a stub PIL returns known dimensions; video raises the documented
    NotImplementedError; None payloads probe to {}."""
    import sys
    import types

    from impuls_spark.llm.multimodal import _real_image_probe, _real_probe

    class _StubIm:
        width, height = 31, 17

        def __enter__(self):
            return self

        def __exit__(self, *a):
            return False

    image_mod = types.ModuleType("PIL.Image")
    image_mod.open = lambda buf: _StubIm()
    pil = types.ModuleType("PIL")
    pil.Image = image_mod
    monkeypatch.setitem(sys.modules, "PIL", pil)
    monkeypatch.setitem(sys.modules, "PIL.Image", image_mod)

    assert _real_probe(b"\x89PNG...", "image") == {
        "width": 31, "height": 17
    }
    assert _real_image_probe(None, "image") == {}
    with pytest.raises(NotImplementedError, match="ffmpeg"):
        _real_probe(b"\x00\x00\x00", "video")


def test_duplicate_clusters(spark):
    from impuls_spark.llm import duplicate_clusters

    # two components: a 4-node chain (diameter 3 — exercises multi-round
    # propagation) and a 2-node pair; ids deliberately unordered
    pairs = spark.createDataFrame(
        [(7, 3), (3, 9), (9, 1), (20, 15)], "id_a long, id_b long"
    )
    got = {
        (r.doc_id, r.cluster_id)
        for r in duplicate_clusters(pairs).collect()
    }
    assert got == {(1, 1), (3, 1), (7, 1), (9, 1), (15, 15), (20, 15)}


def test_hash_sample_deterministic_and_nested(spark):
    from impuls_spark.llm.sampling import hash_sample

    df = spark.range(2000).withColumnRenamed("id", "doc_id")
    s20 = hash_sample(df, 0.2)
    s50 = hash_sample(df, 0.5)
    ids20 = {r.doc_id for r in s20.collect()}
    # deterministic: identical on re-run
    assert ids20 == {r.doc_id for r in hash_sample(df, 0.2).collect()}
    # a lower rate is a subset of a higher rate (same salt => same cut)
    assert ids20 <= {r.doc_id for r in s50.collect()}
    # roughly the requested fraction
    assert 0.15 < len(ids20) / 2000 < 0.25
    # a different salt draws an (almost surely) different sample
    assert ids20 != {r.doc_id for r in hash_sample(df, 0.2, salt="v2").collect()}


def test_hash_stratified_sample_rates(spark):
    from impuls_spark.llm.sampling import hash_stratified_sample

    df = spark.createDataFrame(
        [(i, "en" if i % 2 else "fr") for i in range(2000)],
        "doc_id long, lang string",
    )
    out = hash_stratified_sample(
        df, rates={"en": 0.1}, default_rate=0.8
    ).groupBy("lang").count().collect()
    by_lang = {r.lang: r["count"] for r in out}
    assert 50 < by_lang["en"] < 150        # ~10% of 1000
    assert 700 < by_lang["fr"] < 900       # default rate ~80% of 1000


def test_vocabulary_df(spark):
    from impuls_spark.llm import vocabulary_df

    df = spark.createDataFrame(
        [(1, "a b b"), (2, "b c"), (3, "a  a")],  # double space -> \s+ split
        "doc_id long, text string",
    )
    rows = {r.token: (r.doc_freq, r.coll_freq)
            for r in vocabulary_df(df).collect()}
    assert rows == {"a": (2, 3), "b": (2, 3), "c": (1, 1)}
    top1 = vocabulary_df(df, top_n=1).collect()
    assert [r.token for r in top1] == ["a"]  # df tie (a,b) broken by token


def test_build_training_shards_end_to_end(spark, tmp_path):
    """examples/build_training_shards.py at sf0.001: packing covers
    every doc exactly once, the manifest accounts for every token, the
    shard layout is byte-deterministic across re-runs, and a different
    epoch salt yields a different (but complete) permutation."""
    import glob

    from examples.build_training_shards import build

    out = str(tmp_path / "shards")
    stats = build(spark, "/root/testdata/sf0.001", out,
                  budget=512, n_shards=16, epoch=0)
    n = stats["n_docs"]
    assert n == 500 and stats["n_shards"] == 16
    back = spark.read.parquet(out + "/shards")
    assert back.count() == n
    assert back.select("doc_id").distinct().count() == n
    # epoch order is a complete permutation 0..n-1
    pos = sorted(r["epoch_position"] for r in
                 back.select("epoch_position").collect())
    assert pos == list(range(n))
    # manifest totals match the data
    import json as _json
    mrows = []
    for f in glob.glob(out + "/manifest/part-*.json"):
        mrows += [_json.loads(ln) for ln in open(f) if ln.strip()]
    assert sum(r["n_docs"] for r in mrows) == n
    assert sum(r["n_weight"] for r in mrows) == stats["n_tokens"]
    # determinism: a second run lands identical shard membership/order
    out2 = str(tmp_path / "shards2")
    build(spark, "/root/testdata/sf0.001", out2,
          budget=512, n_shards=16, epoch=0)
    a = [tuple(r) for r in spark.read.parquet(out + "/shards")
         .select("doc_id", "shard", "shuffle_key")
         .orderBy("shard", "shuffle_key").collect()]
    b = [tuple(r) for r in spark.read.parquet(out2 + "/shards")
         .select("doc_id", "shard", "shuffle_key")
         .orderBy("shard", "shuffle_key").collect()]
    assert a == b
    # a new epoch re-permutes
    out3 = str(tmp_path / "shards3")
    build(spark, "/root/testdata/sf0.001", out3,
          budget=512, n_shards=16, epoch=1)
    p0 = {r["doc_id"]: r["epoch_position"] for r in back.collect()}
    p1 = {r["doc_id"]: r["epoch_position"]
          for r in spark.read.parquet(out3 + "/shards").collect()}
    assert sorted(p1.values()) == list(range(n))
    assert p0 != p1


def test_daily_ingest_example_end_to_end(spark, tmp_path):
    """examples/daily_ingest.py: the batch day-N pattern — day 1's
    re-crawls of day 0 are rejected (exact), only novel docs' vectors
    append to the ANN index, and the final compaction folds both
    artifacts to one file."""
    from examples.daily_ingest import run_days

    from impuls_spark.llm import AnnIndex, DedupIndex

    report = run_days(spark, str(tmp_path / "di"), days=2)
    d1 = report["days"][1]["status"]
    assert d1.get("exact", 0) + d1.get("near", 0) == 26  # re-crawl class
    assert d1["novel"] == 14
    assert report["compact"]["hashes"]["files_after"] == 1
    # the ANN artifacts grew by exactly the accepted docs
    idx = DedupIndex.load(spark, str(tmp_path / "di" / "dedup_index"))
    n_accepted = idx.hashes.count()  # seed 40 + novel days
    cells = spark.read.parquet(
        str(tmp_path / "di" / "ann_index" / "cells")
    )
    assert cells.count() == n_accepted
    assert cells.select("vec_id").distinct().count() == n_accepted


def test_daily_ingest_retrain_trigger(spark, tmp_path):
    """daily_ingest with a retrain threshold the stub embeddings always
    exceed: day 1 trips the gauge, retrain persists anchors with the
    index, and later days load without the caller's anchor frame while
    the artifact row counts stay exactly one per accepted doc."""
    from examples.daily_ingest import run_days

    from impuls_spark.llm import DedupIndex

    gone = [10_001, 10_003]  # day-1 fresh docs, accepted then removed
    report = run_days(spark, str(tmp_path / "di"), days=2,
                      retrain_above=0.0, takedown=gone)
    assert report["days"][1].get("retrained") is True
    td = report["takedown"]
    assert (td["dedup"]["hashes"]["rows_before"]
            - td["dedup"]["hashes"]["rows_after"]) == 2
    assert (td["ann"]["cells"]["rows_before"]
            - td["ann"]["cells"]["rows_after"]) == 2
    idx = DedupIndex.load(spark, str(tmp_path / "di" / "dedup_index"))
    n_accepted = idx.hashes.count()
    cells = spark.read.parquet(str(tmp_path / "di" / "ann_index" / "cells"))
    assert cells.count() == n_accepted
    assert cells.select("vec_id").distinct().count() == n_accepted
    # the removed doc's exact-hash row is gone (no longer 'exact'; it
    # may still classify 'near' through surviving docs' shared
    # template shingles — that's the shared-bucket-survives contract)
    probe = spark.createDataFrame(
        [(77, "day 1 doc 1 body alpha beta gamma delta 1")],
        "doc_id long, text string",
    )
    assert idx.classify(probe).collect()[0]["status"] != "exact"


def test_ann_serving_example_end_to_end(spark, tmp_path):
    """examples/ann_serving.py: build -> save -> load -> serve, the
    once-per-corpus index lifecycle. Top-k row counts are exact
    (|Q| x k); dedup counts are sanity-bounded only, since the two keep
    policies can produce different group shapes under chained
    pair-domination."""
    from examples.ann_serving import build_and_save, serve

    idx_dir = str(tmp_path / "idx")
    build_and_save(spark, "/root/testdata/sf0.001", idx_dir)
    stats = serve(spark, "/root/testdata/sf0.001", idx_dir, k=3)
    assert stats["approx_rows"] == 6 * 3
    assert stats["refined_rows"] == 6 * 3
    assert 0 <= stats["dups_min_id"] <= stats["n_vectors"]
    assert 0 <= stats["dups_centroid_far"] <= stats["n_vectors"]


def test_clean_corpus_end_to_end(spark):
    """examples/clean_corpus.py: full curation chain at sf0.001 —
    quality gate -> exact dedup -> LSH cluster dedup -> stratified
    sample -> stats; deterministic, so two runs agree exactly."""
    from examples.clean_corpus import clean_corpus

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    clean, stats = clean_corpus(docs, rates={"en": 0.5}, default_rate=1.0)
    n_in, n_out = docs.count(), clean.count()
    assert 0 < n_out < n_in
    # survivors carry the token-count annotations
    assert {"n_ws_tokens", "n_re_tokens"} <= set(clean.columns)
    # no exact duplicates survive
    assert clean.groupBy(F.md5("text")).count().filter("count > 1").count() == 0
    # 'en' was downsampled relative to the untouched strata
    langs_in = {r.lang: r["count"] for r in docs.groupBy("lang").count().collect()}
    langs_out = {r.lang: r["count"] for r in clean.groupBy("lang").count().collect()}
    assert langs_out["en"] < langs_in["en"]
    # deterministic end to end
    clean2, _ = clean_corpus(docs, rates={"en": 0.5}, default_rate=1.0)
    assert {r.doc_id for r in clean.select("doc_id").collect()} == \
           {r.doc_id for r in clean2.select("doc_id").collect()}
    assert stats.count() > 0


def test_ivf_nprobe_recall(spark):
    """Multi-probe IVF: recall grows with n_probe, and probing every
    cell recovers exact brute-force results."""
    from impuls_spark.llm import brute_force_topk, ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    anchors = emb.filter(F.col("vec_id") % 17 == 0).limit(6)
    queries = emb.filter(F.col("vec_id") < 10)
    exact = {(r.query_id, r.neighbor_id)
             for r in brute_force_topk(emb, queries, k=3).collect()}

    def recall(n_probe):
        got = {(r.query_id, r.neighbor_id)
               for r in ivf_topk(emb, queries, anchors, k=3,
                                 n_probe=n_probe).collect()}
        return len(got & exact) / len(exact)

    r1, r3, r6 = recall(1), recall(3), recall(6)
    assert r1 <= r3 <= r6
    assert r6 == 1.0  # probing all 6 cells == exhaustive search


def test_embed_texts_plumbing(docs):
    """Arrow-batched embedding stub: deterministic, normalized, and
    composable with the ANN operators."""
    import math

    from impuls_spark.llm import brute_force_topk, embed_texts

    emb = embed_texts(docs, dim=16, batch_rows=2)
    rows = {r.doc_id: r.embedding for r in emb.collect()}
    assert set(rows) == {1, 2, 3, 4, 5}
    assert all(len(v) == 16 for v in rows.values())
    # L2-normalized
    assert math.isclose(sum(x * x for x in rows[1]), 1.0, rel_tol=1e-5)
    # identical text -> identical embedding; different text -> different
    assert rows[1] == rows[4]
    assert rows[1] != rows[3]
    # determinism across partitionings
    emb2 = embed_texts(docs.repartition(5), dim=16, batch_rows=2)
    assert {r.doc_id: r.embedding for r in emb2.collect()} == rows
    # plugs into similarity search: doc 4 is doc 1's exact twin
    q = emb.filter(F.col("doc_id") == 1)
    top = brute_force_topk(emb, q, k=1, id_col="doc_id").collect()
    assert top[0].neighbor_id == 4 and top[0].cosine == 1.0

    with pytest.raises(Exception):
        embed_texts(docs, encoder="real").collect()


def test_pack_sequences(spark):
    from impuls_spark.llm import pack_sequences

    df = spark.createDataFrame(
        [(1, "en", 300), (2, "en", 300), (3, "en", 100), (4, "en", 600),
         (5, "fr", 512)],
        "doc_id long, lang string, n_tokens long",
    )
    rows = {r.doc_id: r for r in pack_sequences(df, token_budget=512).collect()}
    # doc 1 starts bin 0; doc 2 starts at offset 300 and overflows into bin 1
    assert (rows[1].bin_ix, rows[1].offset, rows[1].overflow) == (0, 0, False)
    assert (rows[2].bin_ix, rows[2].offset, rows[2].overflow) == (0, 300, True)
    # doc 3 starts at cumulative 600 -> bin 1 offset 88
    assert (rows[3].bin_ix, rows[3].offset) == (1, 88)
    # doc 4 (600 > budget) still gets a slot, flagged overflow
    assert rows[4].overflow
    # shards pack independently; an exact-budget doc fills bin 0 cleanly
    assert (rows[5].shard, rows[5].bin_ix, rows[5].offset,
            rows[5].overflow) == ("fr", 0, 0, False)


def test_bm25_rank_string_tokens(spark):
    """Regression: PySpark binds two-parameter HOF lambdas as
    (element, index), so a ``lambda w, t=t:`` capture silently compared
    word == array-index (BIGINT) and crashed on any non-numeric corpus.
    Multi-term query over string tokens is exactly the crashing class."""
    from impuls_spark.llm.search import bm25_rank

    rows = [
        ("key-a", "spark engine spark plan"),
        ("key-b", "spark merge"),
        ("key-c", "totally unrelated words here"),
        ("key-d", "merge merge merge conflict"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    out = bm25_rank(df, ("spark", "merge"), top_k=10).collect()
    ids = [r.doc_id for r in out]
    # only docs containing a query term score > 0
    assert "key-c" not in ids and set(ids) == {"key-a", "key-b", "key-d"}
    # scores are descending with the id tiebreak
    scores = [r.score for r in out]
    assert scores == sorted(scores, reverse=True)
    # doc-b matches BOTH terms, so it must outrank the single-term docs
    assert ids[0] == "key-b"

    # duplicate terms in the query are deduped, not double-counted
    out2 = {r.doc_id: r.score for r in
            bm25_rank(df, ("spark", "spark", "merge"), top_k=10).collect()}
    assert out2 == {r.doc_id: r.score for r in out}

    with pytest.raises(ValueError):
        bm25_rank(df, ())


def test_embed_texts_pluggable_encoder(docs):
    """Contract for plugging a real model in (README 'Plugging in a
    real encoder / codec'): the callable sees at most batch_rows texts
    per call, executor-side; its vectors flow through unchanged; a
    wrong-arity return is rejected."""
    import numpy as np

    from impuls_spark.llm.embed import embed_texts

    def mock_encoder(texts):
        # executor-side: smuggle the observed batch size out through the
        # vector payload so the driver can assert the cap held
        n = float(len(texts))
        return [np.array([n, float(len(t or ""))], dtype=np.float32)
                for t in texts]

    out = embed_texts(docs.repartition(1), dim=2, encoder=mock_encoder,
                      batch_rows=2).collect()
    assert len(out) == 5
    batch_sizes = {r.embedding[0] for r in out}
    assert max(batch_sizes) <= 2.0  # 5 rows in one partition -> 2+2+1
    by_id = {r.doc_id: r.embedding[1] for r in out}
    assert by_id[5] == float(len("short text"))

    def bad_encoder(texts):
        return [np.zeros(2, dtype=np.float32)]  # wrong count

    with pytest.raises(Exception, match="vectors"):
        embed_texts(docs, encoder=bad_encoder, batch_rows=64).collect()


def test_decode_media_pluggable_codec(docs):
    """A callable codec replaces the fake prober: it receives
    (payload_bytes, kind) per row and its dict fills the typed columns,
    with n_bytes/checksum still computed by the operator."""
    media = attach_binary(docs, "text", "doc_id", kind="image")

    def mock_codec(data, kind):
        assert kind == "image" and isinstance(data, (bytes, bytearray))
        return {"width": len(data), "height": 7}  # duration_ms omitted -> 0

    out = {r.media_id: r for r in decode_media(media, codec=mock_codec).collect()}
    assert out[5].width == len(b"short text")
    assert out[5].height == 7 and out[5].duration_ms == 0
    assert out[5].n_bytes == len(b"short text")
    # codec="real" behavior (Pillow import guard / ffmpeg gap) is
    # covered by test_multimodal_real_codec_import_guard


def test_containment_pairs_subset_doc(spark):
    """A doc whose shingle set is a strict subset of a longer doc's:
    containment 1.0 one way, partial the other — the asymmetry Jaccard
    can't see. Capped and uncapped paths must agree."""
    from impuls_spark.llm import containment_pairs

    core = "alpha beta gamma delta epsilon zeta"
    rows = [
        (1, core),                                      # the quoted core
        (2, core + " eta theta iota kappa lam mu nu"),  # core + wrapper
        (3, "totally different words with nothing shared here at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {(r.contained_id, r.container_id): r.containment
           for r in containment_pairs(df, threshold=0.3).collect()}
    assert out[(1, 2)] == 1.0          # every shingle of 1 is in 2
    assert 0.3 <= out[(2, 1)] < 1.0    # only the core fraction of 2
    assert not any(3 in k for k in out)

    capped = {(r.contained_id, r.container_id): r.containment
              for r in containment_pairs(df, threshold=0.3, max_df=5).collect()}
    assert capped == out


def test_hash_split_partition_properties(spark):
    from impuls_spark.llm import hash_split

    df = spark.createDataFrame([(i,) for i in range(400)], "doc_id long")
    out = hash_split(df, {"train": 0.8, "valid": 0.1, "test": 0.1})
    counts = {r.split: r.n for r in
              out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    # exhaustive and disjoint
    assert sum(counts.values()) == 400
    assert counts["train"] > counts.get("valid", 0)
    # deterministic: repartitioned input assigns identically
    again = {r.doc_id: r.split for r in
             hash_split(df.repartition(7),
                        {"train": 0.8, "valid": 0.1, "test": 0.1}).collect()}
    first = {r.doc_id: r.split for r in out.collect()}
    assert first == again

    with pytest.raises(ValueError):
        hash_split(df, {"a": 0.7, "b": 0.5})
    with pytest.raises(ValueError):
        hash_split(df, {})


def test_tfidf_keywords_ranks_rare_terms(spark):
    from impuls_spark.llm import tfidf_keywords

    rows = [
        (1, "common common common unicorn"),
        (2, "common words here"),
        (3, "common words there"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = tfidf_keywords(df, k=2).collect()
    top1 = {r.doc_id: r.token for r in out if r.rank == 1}
    # 'unicorn' (df=1) beats 'common' (df=3, idf=0) despite tf=3
    assert top1[1] == "unicorn"
    # 'common' appears everywhere -> idf 0 -> never a top keyword when
    # any rarer token exists
    assert top1[2] == "words" or top1[2] == "here"


def test_bigram_lm_scores_fluency_ordering(spark):
    from impuls_spark.llm import bigram_lm_scores

    # corpus 1: one fully predictable doc (each head always continues
    # the same way) + a no-bigram doc -> score exactly 0 / absent
    df1 = spark.createDataFrame(
        [(1, "a b a b a b"), (3, "x")], "doc_id long, text string"
    )
    out1 = {r.doc_id: r for r in bigram_lm_scores(df1).collect()}
    assert out1[1].lm_score == 0.0
    assert out1[1].n_bigrams == 5
    assert 3 not in out1

    # corpus 2: the model is CORPUS-trained, so a branching doc drags
    # every doc sharing its heads below 0 — and scores the branchier
    # doc lower than the repetitive one
    df2 = spark.createDataFrame(
        [(1, "a b a b a b"), (2, "a b a c a d a e")],
        "doc_id long, text string",
    )
    out2 = {r.doc_id: r.lm_score for r in bigram_lm_scores(df2).collect()}
    assert out2[2] < out2[1] < 0.0


def test_centroid_outliers_flags_planted_outlier(spark):
    from impuls_spark.llm import centroid_outliers

    rows = (
        [(i, "g1", [1.0, 0.0, 0.0, 0.0]) for i in range(4)]
        + [(9, "g1", [0.0, 1.0, 0.0, 0.0])]          # planted outlier
        + [(20, "g2", [0.0, 0.0, 1.0, 0.0])]         # singleton group
    )
    df = spark.createDataFrame(rows, "vec_id long, grp string, embedding array<float>")
    out = {r.vec_id: r.centroid_cosine for r in
           centroid_outliers(df, group_col="grp", id_col="vec_id").collect()}
    assert out[20] == 1.0                  # singleton == its own centroid
    assert out[9] < 0.5 < out[0]           # outlier far, members close
    flagged = centroid_outliers(
        df, group_col="grp", id_col="vec_id", threshold=0.5
    ).collect()
    assert [r.vec_id for r in flagged] == [9]


def test_select_by_budget_per_stratum(spark):
    from impuls_spark.llm import select_by_budget

    rows = [
        (1, "a", 400), (2, "a", 400), (3, "a", 400), (4, "a", 400),
        (5, "b", 5000),                    # single doc over budget
        (6, "c", 100),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, w long")
    kept = select_by_budget(
        df, budget=1000, weight_col="w", strata_col="source", key_col="doc_id"
    )
    by_src = {
        r.source: r.total
        for r in kept.groupBy("source").agg(F.sum("w").alias("total")).collect()
    }
    # stratum a keeps a hash-chosen prefix within budget
    assert by_src["a"] <= 1000 and by_src["a"] >= 400
    # over-budget singleton still kept (first-row guard)
    assert by_src["b"] == 5000
    assert by_src["c"] == 100
    # deterministic under repartitioning
    k1 = sorted(r.doc_id for r in kept.collect())
    k2 = sorted(
        r.doc_id
        for r in select_by_budget(
            df.repartition(5), budget=1000, weight_col="w",
            strata_col="source", key_col="doc_id",
        ).collect()
    )
    assert k1 == k2


def _budget_hash_order(ids, salt="budget"):
    """Replicate sampling._bucket ordering in plain Python."""
    import hashlib

    def bucket(i):
        return hashlib.md5(f"{salt}:{i}".encode()).hexdigest()[:8]

    return sorted(ids, key=lambda i: (bucket(i), i))


def test_select_by_budget_zero_weight_guard(spark):
    """Zero-weight rows must not let a later over-budget row pass as
    the 'stratum head' — the guard is positional (row_number == 1),
    not cum == weight."""
    from impuls_spark.llm import select_by_budget

    # find two ids that hash BEFORE a heavy id, to model zero-weight
    # rows (empty docs) preceding an over-budget document
    order = _budget_hash_order(list(range(1, 40)))
    z1, z2, heavy = order[0], order[1], order[-1]
    rows = [(z1, "s", 0), (z2, "s", 0), (heavy, "s", 50)]
    df = spark.createDataFrame(rows, "doc_id long, source string, w long")
    kept = sorted(
        r.doc_id
        for r in select_by_budget(
            df, budget=10, weight_col="w", strata_col="source",
            key_col="doc_id",
        ).collect()
    )
    # zero-weight prefix stays (cum 0 <= 10); the heavy row's cum(50)
    # equals its own weight but it is NOT row 1, so it must be dropped
    assert kept == sorted([z1, z2])
    # and a genuinely over-budget stratum head IS kept
    solo = spark.createDataFrame([(heavy, "t", 50)], "doc_id long, source string, w long")
    assert [
        r.doc_id
        for r in select_by_budget(
            solo, budget=10, weight_col="w", strata_col="source",
            key_col="doc_id",
        ).collect()
    ] == [heavy]


def test_select_by_budget_threshold_matches_bucket_histogram(spark):
    """The two-pass form keeps exactly the rows a Python replica of the
    bucket-histogram cutoff keeps, and is repartition-invariant."""
    import hashlib
    from collections import defaultdict

    from impuls_spark.llm import select_by_budget_threshold

    rows = [(i, "a" if i % 10 else "b", 10 + i % 7) for i in range(1, 200)]
    df = spark.createDataFrame(rows, "doc_id long, source string, w long")
    budget = 300

    def bucket(i):
        return hashlib.md5(f"budget:{i}".encode()).hexdigest()[:3]

    hist = defaultdict(lambda: defaultdict(int))
    for i, s, w in rows:
        hist[s][bucket(i)] += w
    keep = set()
    for s, buckets in hist.items():
        cum = 0
        for rank, b in enumerate(sorted(buckets)):
            cum += buckets[b]
            if cum <= budget or rank == 0:
                keep.add((s, b))
    expected = sorted(i for i, s, w in rows if (s, bucket(i)) in keep)

    got = sorted(
        r.doc_id
        for r in select_by_budget_threshold(
            df, budget=budget, weight_col="w", strata_col="source",
            key_col="doc_id",
        ).collect()
    )
    assert got == expected
    got_repart = sorted(
        r.doc_id
        for r in select_by_budget_threshold(
            df.repartition(7), budget=budget, weight_col="w",
            strata_col="source", key_col="doc_id",
        ).collect()
    )
    assert got_repart == expected


def test_select_by_budget_threshold_skew_plan(spark):
    """One stratum holding ~90% of rows: the fact table must never
    enter a sort or row-level window — the only Window/Sort sits above
    the (stratum × bucket) aggregate, and pass 2 is a broadcast
    semi-join (scan-stage filter)."""
    import contextlib
    import io
    import re

    from impuls_spark.llm import select_by_budget_threshold

    rows = [(i, "dominant" if i % 10 else "tail", 5) for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id long, source string, w long")
    out = select_by_budget_threshold(
        df, budget=1000, weight_col="w", strata_col="source",
        key_col="doc_id",
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert len(re.findall(r"\(\d+\) Window", plan)) == 1, plan
    # the single sort is the bucket-cutoff window's, over the aggregate
    assert len(re.findall(r"\(\d+\) Sort", plan)) == 1, plan
    assert "LeftSemi" in plan, plan
    assert "BroadcastExchange" in plan, plan
    # semantics under skew: every stratum lands within one bucket of
    # the budget (here unit bucket weights are 5·k, well under budget)
    totals = {
        r.source: r.total
        for r in out.groupBy("source").agg(F.sum("w").alias("total")).collect()
    }
    assert totals["dominant"] <= 1000
    assert totals["tail"] <= 1000


def test_mixture_rates_flattens_tail(spark):
    from impuls_spark.llm import mixture_rates

    rows = [(i, "big") for i in range(90)] + [(i + 1000, "small") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = {r.source: r for r in mixture_rates(df, alpha=0.3).collect()}
    # alpha<1 upweights the tail: small's share of the mixture far
    # exceeds its 10% share of rows
    assert out["small"].p > 0.3
    assert abs(out["big"].p + out["small"].p - 1.0) < 1e-5
    # realizing the mixture at corpus size downsamples the head and
    # saturates the tail at rate 1
    assert out["big"].rate < 1.0
    assert out["small"].rate == 1.0

    with pytest.raises(ValueError):
        mixture_rates(df, alpha=0.0)


def test_cross_split_contamination_direction(spark):
    from impuls_spark.llm.curation import cross_split_contamination
    from impuls_spark.llm.sampling import hash_split

    docs = spark.createDataFrame([(i,) for i in range(50)], "doc_id long")
    labels = {r.doc_id: r.split for r in hash_split(docs).collect()}
    train_ids = [i for i, s in labels.items() if s == "train"]
    eval_ids = [i for i, s in labels.items() if s != "train"]
    assert train_ids and eval_ids  # 50 ids: both sides populated
    t0, e0 = train_ids[0], eval_ids[0]
    pairs = spark.createDataFrame(
        [
            (t0, e0),                       # crossing pair (train first)
            (e0, t0),                       # crossing pair (train second)
            (train_ids[0], train_ids[1]),   # train-internal: ignored
            (eval_ids[0], eval_ids[1] if len(eval_ids) > 1 else eval_ids[0]),
        ],
        "id_a long, id_b long",
    )
    out = cross_split_contamination(docs, pairs).collect()
    assert all(labels[r.train_id] == "train" for r in out)
    assert all(labels[r.eval_id] != "train" for r in out)
    assert all(r.eval_split == labels[r.eval_id] for r in out)
    # both crossing orientations normalize to train-first
    assert len(out) == 2


def test_prepare_training_set_end_to_end(spark):
    """examples/clean_corpus.prepare_training_set: the clean-corpus ->
    training-shards half of the pipeline at sf0.001 — decontaminate,
    mixture-balance, split, audit leakage, pack."""
    from examples.clean_corpus import prepare_training_set

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    # eval set: clone a few real docs so decontamination has true hits
    eval_df = docs.filter(F.col("doc_id") < 3).select(
        (F.col("doc_id") + 900000).alias("doc_id"), "text"
    )
    out = prepare_training_set(
        docs, eval_df, alpha=0.5, budget_per_source=5000
    )
    kept = out["documents"]
    n_kept = kept.count()
    assert 0 < n_kept < docs.count()
    # the eval twins were decontaminated away
    assert kept.filter(F.col("doc_id") < 3).count() == 0
    # every kept doc has a split label and token count
    assert kept.filter(F.col("split").isNull()).count() == 0
    assert kept.filter(F.col("n_tokens") <= 0).count() == 0
    # budget respected per source (one over-budget doc allowed)
    per_src = kept.groupBy("source").agg(
        F.sum("n_chars").alias("tot"), F.max("n_chars").alias("mx")
    ).collect()
    assert all(r.tot <= 5000 + r.mx for r in per_src)
    # mixture table covers every source at a positive rate
    mix = {r.source: r.rate for r in out["mixture"].collect()}
    assert all(0 < v <= 1 for v in mix.values())
    # packing: offsets stay inside the budget window
    packed = out["packed"]
    assert packed.filter(
        (F.col("offset") < 0) | (F.col("offset") >= 2048)
    ).count() == 0
    # leakage audit runs (decontamination removed text twins, so any
    # remaining rows are sub-threshold LSH coincidences, not copies)
    out["leakage"].count()


def test_lsh_max_bucket_cap(spark):
    """max_bucket skips viral band buckets (the k-squared fan-out guard):
    a clone farm whose members collide in EVERY band stops pairing once
    the cap is below the farm size, while ordinary near-dups — and a cap
    above every bucket's size — are unaffected."""
    farm = [(i, "clone clone clone clone clone clone clone") for i in range(10)]
    pair = [
        (100, "regular document about spark scheduling internals here"),
        (101, "regular document about spark scheduling internals there"),
    ]
    df = spark.createDataFrame(farm + pair, "doc_id long, text string")
    base = {(r.id_a, r.id_b) for r in lsh_candidate_pairs(df).collect()}
    assert (100, 101) in base and (0, 1) in base

    capped = {(r.id_a, r.id_b)
              for r in lsh_candidate_pairs(df, max_bucket=5).collect()}
    # the 10-doc farm's buckets all exceed the cap -> its pairs vanish
    assert not any(a < 100 and b < 100 for a, b in capped)
    # the 2-doc bucket survives
    assert (100, 101) in capped

    # a cap above every bucket size is a no-op
    loose = {(r.id_a, r.id_b)
             for r in lsh_candidate_pairs(df, max_bucket=50).collect()}
    assert loose == base


def test_lsh_recall_vs_exact_jaccard(spark):
    """Calibration check at sf0.001: every exact-Jaccard pair above the
    banding scheme's high-probability region (t >= 0.7 for 3 bands of
    2) must appear among the LSH candidates — the recall contract that
    makes LSH a safe production substitute for the exact join."""
    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
    )
    exact = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(docs, threshold=0.7).collect()
    }
    cand = {(r.id_a, r.id_b) for r in lsh_candidate_pairs(docs).collect()}
    assert exact, "fixture should contain high-similarity pairs"
    missed = exact - cand
    assert not missed, f"LSH missed high-similarity pairs: {missed}"


# -- repetition rates (d32) -------------------------------------------------

def test_repetition_rates_hand_computed(spark):
    from impuls_spark.llm import repetition_rates

    docs = spark.createDataFrame(
        [(1, "a b a b c"), (2, ""), (3, "x")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in repetition_rates(docs).collect()}
    # 5 words, 3 distinct -> 2/5 dup; mode count 2 -> 2/5 coverage;
    # bigrams [a b, b a, a b, b c]: 4 total, 3 distinct -> 1/4 dup
    r1 = out[1]
    assert (r1["n_words"], r1["dup_word_frac"], r1["top_word_frac"],
            r1["dup_bigram_frac"]) == (5, 0.4, 0.4, 0.25)
    assert (out[2]["n_words"], out[2]["dup_word_frac"]) == (0, 0.0)
    # single word: zero duplication, full top-word coverage, no bigrams
    r3 = out[3]
    assert (r3["n_words"], r3["top_word_frac"], r3["dup_bigram_frac"]) == (
        1, 1.0, 0.0)


def test_repetition_rates_is_scan_stage(spark):
    """No explode/shuffle: the whole computation is one projection."""
    import contextlib
    import io

    from impuls_spark.llm import repetition_rates

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        repetition_rates(docs, via="scan").explain("formatted")
    plan = buf.getvalue()
    assert "Exchange" not in plan, plan
    assert "Generate" not in plan, plan


def test_repetition_rates_auto_dispatches_long_docs(spark):
    """via='auto' routes a 100k-word doc through the linear exploded
    path.  The scan form's mode count is O(words x distinct) per doc —
    ~5e9 comparisons for this document — so completing in seconds is
    itself the evidence that dispatch happened; equality with the
    explicit explode path pins correctness."""
    import time

    from impuls_spark.llm import repetition_rates

    # 100k words, ~50k distinct: the scan form's quadratic regime
    long_text = " ".join(f"w{i % 50_000}" for i in range(100_000))
    docs = spark.createDataFrame(
        [(1, "a b a b c"), (2, long_text)], "doc_id long, text string"
    )
    t0 = time.monotonic()
    auto = sorted(map(tuple, repetition_rates(docs).collect()))
    elapsed = time.monotonic() - t0
    expl = sorted(
        map(tuple, repetition_rates(docs, via="explode").collect())
    )
    assert auto == expl
    assert elapsed < 60, f"auto path took {elapsed:.0f}s — dispatch broken?"


def test_repetition_rates_auto_threshold_boundary(spark):
    """Docs exactly at the threshold stay on the scan path; one word
    past it crosses to explode — and both agree with via='scan'."""
    from impuls_spark.llm import repetition_rates

    at = " ".join(f"w{i}" for i in range(20))
    past = " ".join(f"w{i % 7}" for i in range(21))
    docs = spark.createDataFrame(
        [(1, at), (2, past)], "doc_id long, text string"
    )
    auto = sorted(map(tuple, repetition_rates(
        docs, explode_threshold=20).collect()))
    scan = sorted(map(tuple, repetition_rates(docs, via="scan").collect()))
    assert auto == scan


# -- n-gram novelty (d33) ---------------------------------------------------

def test_ngram_novelty_hand_computed(spark):
    from impuls_spark.llm import ngram_novelty

    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c x"), (3, "a b c d"), (4, "too short")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in ngram_novelty(docs).collect()}
    assert (out[1]["n_grams"], out[1]["novelty"]) == (2, 1.0)
    # "a b c" first seen in doc 1; "b c x" is new
    assert (out[2]["n_grams"], out[2]["novelty"]) == (2, 0.5)
    assert (out[3]["n_grams"], out[3]["novelty"]) == (2, 0.0)
    assert 4 not in out  # fewer than n words -> no grams, no row


def test_ngram_novelty_repeated_grams_count_once(spark):
    from impuls_spark.llm import ngram_novelty

    # "a b a b a" has grams [a b a, b a b, a b a] -> 2 DISTINCT grams,
    # both first here
    docs = spark.createDataFrame([(7, "a b a b a")], "doc_id long, text string")
    row = ngram_novelty(docs).collect()[0]
    assert (row["n_grams"], row["novelty"]) == (2, 1.0)


# -- incremental dedup vs corpus (d35) --------------------------------------

def test_incremental_dedup_statuses(spark):
    from impuls_spark.llm import incremental_dedup

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "completely different corpus text about spark engines"),
        ],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            # verbatim copy -> exact
            (101, "the quick brown fox jumps over the lazy dog today"),
            # one appended word: most shingles shared -> band collision
            (102, "the quick brown fox jumps over the lazy dog today extra"),
            # nothing in common -> novel
            (103, "entirely fresh content with no overlap whatsoever here"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["status"]
           for r in incremental_dedup(new, corpus).collect()}
    assert out == {101: "exact", 102: "near", 103: "novel"}


def test_incremental_dedup_exact_never_reaches_band_join(spark):
    """Exact dupes are anti-joined out before minhash — their shingles
    are never computed."""
    from impuls_spark.llm import incremental_dedup

    corpus = spark.createDataFrame(
        [(1, "a b c d e f g h")], "doc_id long, text string")
    new = spark.createDataFrame(
        [(10, "a b c d e f g h")], "doc_id long, text string")
    out = incremental_dedup(new, corpus)
    assert out.collect()[0]["status"] == "exact"


def test_incremental_dedup_precomputed_corpus_tables(spark):
    """100 TB path: the corpus side is injected as maintained hash and
    band tables; corpus_df text is never rescanned."""
    from impuls_spark.llm import incremental_dedup
    from impuls_spark.llm.dedup import _band_keys, minhash_signatures
    from pyspark.sql import functions as F

    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today")],
        "doc_id long, text string",
    )
    hashes = corpus.select(F.md5("text").alias("__h")).distinct()
    bands = _band_keys(
        minhash_signatures(corpus), "doc_id", 6, 2
    ).select("band", "key").distinct()
    new = spark.createDataFrame(
        [(101, "the quick brown fox jumps over the lazy dog today"),
         (102, "the quick brown fox jumps over the lazy dog today extra")],
        "doc_id long, text string",
    )
    poisoned = corpus.select("doc_id", F.lit(None).cast("string").alias("text"))
    out = {r["doc_id"]: r["status"] for r in incremental_dedup(
        new, poisoned, corpus_hashes=hashes, corpus_bands=bands,
    ).collect()}
    assert out == {101: "exact", 102: "near"}


def test_ingest_batch_end_to_end(spark, tmp_path):
    """examples/clean_corpus.ingest_batch: JSONL in -> quarantine +
    dedup-vs-corpus ledger + repetition gate -> accepted docs."""
    from examples.clean_corpus import ingest_batch
    from impuls_spark.sources import write_jsonl

    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog today"),  # exact
            (11, "a genuinely new document about spark physical plans"),
            (12, "spam spam spam spam spam spam spam spam spam spam"),  # repetitive
        ],
        "doc_id long, text string",
    )
    path = str(tmp_path / "batch")
    write_jsonl(
        batch.select("doc_id", "text", F.lit("en").alias("lang"),
                     F.lit("web").alias("source"),
                     F.length("text").alias("n_chars")),
        path, compression="gzip",
    )
    with open(path + "/part-bad.json", "w") as fh:
        fh.write("{broken\n")

    out = ingest_batch(spark, path, corpus)
    assert [r["doc_id"] for r in out["accepted"].collect()] == [11]
    status = {r["doc_id"]: r["status"] for r in out["status"].collect()}
    assert status == {10: "exact", 11: "novel", 12: "novel"}
    assert out["quarantine"].count() == 1
    assert [r["doc_id"] for r in out["rejected_repetitive"].collect()] == [12]


# -- repeated-block removal (d36) -------------------------------------------

def test_block_dedup_hand_computed(spark):
    import hashlib

    from impuls_spark.llm import block_dedup

    boiler = "all rights reserved"  # 3-word block shared by all docs
    docs = spark.createDataFrame(
        [
            (1, f"unique alpha one {boiler}"),
            (2, f"unique beta two {boiler}"),
            (3, f"unique gamma three {boiler} tail words here"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in
           block_dedup(docs, block_words=3, max_df=1).collect()}
    # doc 1: blocks [unique alpha one][all rights reserved] -> 1 removed
    assert (out[1]["n_blocks"], out[1]["n_removed"]) == (2, 1)
    assert out[1]["clean_hash"] == hashlib.md5(b"unique alpha one").hexdigest()
    # doc 3: 3 full blocks + no partial (9 words), middle one removed
    assert (out[3]["n_blocks"], out[3]["n_removed"]) == (3, 1)
    assert out[3]["clean_hash"] == hashlib.md5(
        b"unique gamma three tail words here").hexdigest()


def test_block_dedup_partial_tail_block(spark):
    import hashlib

    from impuls_spark.llm import block_dedup

    # 5 words, block_words=3 -> blocks of 3 and 2 (trailing partial kept)
    docs = spark.createDataFrame(
        [(1, "a b c d e")], "doc_id long, text string")
    row = block_dedup(docs, block_words=3, max_df=1).collect()[0]
    assert (row["n_blocks"], row["n_removed"]) == (2, 0)
    assert row["clean_hash"] == hashlib.md5(b"a b c d e").hexdigest()


def test_block_dedup_within_doc_repeat_not_removed(spark):
    """max_df counts DISTINCT documents: a block repeated inside one
    doc is that doc's own style, not corpus boilerplate."""
    from impuls_spark.llm import block_dedup

    docs = spark.createDataFrame(
        [(1, "x y z x y z"), (2, "p q r s t u")], "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           block_dedup(docs, block_words=3, max_df=1).collect()}
    assert out[1]["n_removed"] == 0


# -- k-means quantizer training (d37) ---------------------------------------

def test_kmeans_separates_obvious_clusters(spark):
    from impuls_spark.llm import kmeans_fit

    # two tight clusters far apart; init takes vecs 0 and 1 (one in
    # each cluster), so 3 iterations must converge to the two means
    rows = [(0, [0.0, 0.0]), (2, [1.0, 1.0]), (4, [0.5, 0.0]),
            (1, [10.0, 10.0]), (3, [11.0, 11.0]), (5, [10.0, 11.0])]
    v = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = kmeans_fit(v, k=2, n_iter=3)
    rows_out = out.collect()
    members = {r["cluster_id"]: r["n_members"] for r in rows_out}
    assert members == {0: 3, 1: 3}
    cent = {(r["cluster_id"], r["dim_ix"]): r["val"] for r in rows_out}
    assert cent[(0, 0)] == 0.5 and cent[(0, 1)] == pytest.approx(1 / 3)
    assert cent[(1, 0)] == pytest.approx(31 / 3)


def test_kmeans_empty_cluster_keeps_centroid(spark):
    from impuls_spark.llm import kmeans_fit

    # coincident init points: iteration 1 ties everything to cluster 0
    # (lower id wins), leaving cluster 1 EMPTY — it must retain its
    # init centroid [0,0], which then re-captures the two origin points
    # in iteration 2 while cluster 0's moved mean keeps only vec 2
    rows = [(0, [0.0, 0.0]), (1, [0.0, 0.0]), (2, [0.1, 0.0])]
    v = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = kmeans_fit(v, k=2, n_iter=2)
    rows_out = out.collect()
    members = {r["cluster_id"]: r["n_members"] for r in rows_out}
    assert members == {0: 1, 1: 2}
    cent = {(r["cluster_id"], r["dim_ix"]): r["val"] for r in rows_out}
    # retained-then-recaptured: cluster 1 sits at the origin; cluster 0
    # ends at vec 2 exactly (its iteration-2 sole member)
    assert (cent[(1, 0)], cent[(1, 1)]) == (0.0, 0.0)
    assert (cent[(0, 0)], cent[(0, 1)]) == (0.1, 0.0)


# -- exact length quantiles (d39) -------------------------------------------

def test_length_quantiles_hand_computed(spark):
    from impuls_spark.llm import length_quantiles

    docs = spark.createDataFrame(
        [(i, "a", [10, 20, 30, 40][i]) for i in range(4)]
        + [(9, "b", 7)],
        "doc_id long, source string, n_chars long",
    )
    out = {r["source"]: r for r in length_quantiles(
        docs, quantiles=(0.5, 0.9)).collect()}
    # interpolated: p50 of [10,20,30,40] = 25, p90 = 37
    assert (out["a"]["n"], out["a"]["q_5"], out["a"]["q_9"]) == (4, 25.0, 37.0)
    assert (out["b"]["n"], out["b"]["q_5"]) == (1, 7.0)


def test_repetition_rates_explode_path_identical(spark):
    """The book-length explode-aggregate path returns byte-identical
    results to the scan-stage path, including empty/one-word docs."""
    from impuls_spark.llm import repetition_rates

    docs = spark.createDataFrame(
        [(1, "a b a b c"), (2, ""), (3, "x"),
         (4, "w w w w w w"), (5, "p q r s t u v")],
        "doc_id long, text string",
    )
    scan = sorted(map(tuple, repetition_rates(docs).collect()))
    expl = sorted(map(tuple, repetition_rates(docs, via="explode").collect()))
    assert scan == expl

    real = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").select("doc_id", "text")
    scan_r = sorted(map(tuple, repetition_rates(real).collect()))
    expl_r = sorted(map(tuple, repetition_rates(real, via="explode").collect()))
    assert scan_r == expl_r


def test_dedup_index_build_load_classify_parity(spark, tmp_path):
    """DedupIndex (VERDICT r8 item 1): classify() through a saved-then-
    loaded index must equal incremental_dedup against the live corpus."""
    from impuls_spark.llm import DedupIndex, incremental_dedup

    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today"),
         (2, "completely different corpus text about spark engines")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(101, "the quick brown fox jumps over the lazy dog today"),
         (102, "the quick brown fox jumps over the lazy dog today extra"),
         (103, "entirely fresh content with no overlap whatsoever here")],
        "doc_id long, text string",
    )
    path = str(tmp_path / "didx")
    DedupIndex.build(corpus, path)
    idx = DedupIndex.load(spark, path)
    assert idx.meta["n_hashes"] == 6 and idx.meta["band_size"] == 2
    got = {r["doc_id"]: r["status"] for r in idx.classify(new).collect()}
    want = {r["doc_id"]: r["status"]
            for r in incremental_dedup(new, corpus).collect()}
    assert got == want == {101: "exact", 102: "near", 103: "novel"}

    # manifest-driven column validation
    import pytest as _pytest
    bad = new.withColumnRenamed("text", "body")
    with _pytest.raises(ValueError, match="text"):
        idx.classify(bad)
    with _pytest.raises(ValueError, match="unknown accept"):
        idx.ingest(new, accept=("fresh",))


def test_dedup_index_ingest_appends_survivors(spark, tmp_path):
    """ingest() appends ONLY the accepted docs' state: a later batch
    that re-crawls an accepted doc classifies 'exact', one that
    re-crawls a REJECTED doc is judged by the original corpus alone —
    and the whole chain equals incremental_dedup against
    corpus ∪ accepted(B1) (the incremental == full property)."""
    from impuls_spark.llm import DedupIndex, incremental_dedup

    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    b1_fresh = ("totally novel first batch payload one two three four "
                "five six seven eight nine ten eleven")
    b1 = spark.createDataFrame(
        [(11, "alpha beta gamma delta epsilon zeta eta theta"),  # exact
         (12, b1_fresh)],                                        # novel
        "doc_id long, text string",
    )
    b2 = spark.createDataFrame(
        [
            # re-crawl of the ACCEPTED b1 doc -> exact via the append
            (21, b1_fresh),
            # near-edit of the accepted b1 doc -> near via its bands
            # (15/16 shared shingles; all 3 bands collide for this text)
            (22, b1_fresh + " x"),
            # fresh -> novel
            (23, "unrelated second batch content alpha52 beta53 gamma54 "
                 "delta55 epsilon56 zeta57 eta58 theta59"),
        ],
        "doc_id long, text string",
    )
    path = str(tmp_path / "didx")
    DedupIndex.build(corpus, path)
    idx = DedupIndex.load(spark, path)

    s1 = idx.ingest(b1)
    assert {r["doc_id"]: r["status"] for r in s1.collect()} == {
        11: "exact", 12: "novel",
    }
    s1.unpersist()

    # a FRESHLY LOADED handle sees the appended state (it's on disk)
    idx2 = DedupIndex.load(spark, path)
    got = {r["doc_id"]: r["status"] for r in idx2.classify(b2).collect()}
    assert got == {21: "exact", 22: "near", 23: "novel"}

    # incremental == full: same statuses as classifying against the
    # corpus with B1's survivors unioned in
    full = corpus.unionByName(b1.filter(F.col("doc_id") == 12))
    want = {r["doc_id"]: r["status"]
            for r in incremental_dedup(b2, full).collect()}
    assert got == want

    # the rejected b1 doc contributed nothing: index holds exactly
    # corpus + one accepted doc
    assert idx2.hashes.count() == 2
    assert idx2.bands.count() == 6  # 3 bands per distinct doc


def test_dedup_index_accept_policy_and_empty_batch(spark, tmp_path):
    """Widened accept keeps near-docs' state too; an all-rejected batch
    appends nothing (zero-row append) and the index still reads."""
    from impuls_spark.llm import DedupIndex

    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    path = str(tmp_path / "didx")
    idx = DedupIndex.build(corpus, path)

    rej = spark.createDataFrame(
        [(31, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    idx.ingest(rej).unpersist()          # exact -> rejected, no append
    assert idx.hashes.count() == 1
    assert idx.bands.count() == 3

    near = spark.createDataFrame(
        [(41, "alpha beta gamma delta epsilon zeta eta theta extra")],
        "doc_id long, text string",
    )
    s = idx.ingest(near, accept=("novel", "near"))
    assert s.collect()[0]["status"] == "near"
    s.unpersist()
    assert idx.hashes.count() == 2       # near doc's state appended
    # and a verbatim re-crawl of it is now exact
    re = spark.createDataFrame(
        [(51, "alpha beta gamma delta epsilon zeta eta theta extra")],
        "doc_id long, text string",
    )
    assert idx.classify(re).collect()[0]["status"] == "exact"


def test_dedup_index_ingest_refuses_during_compaction(spark, tmp_path):
    """VERDICT r9 item 5: an ingest appending while a compaction holds
    the store's marker could have its fresh file deleted-but-not-folded
    by the fold's list/move/delete window — the marker turns that race
    into an error (classify stays available: semi-join membership reads
    tolerate the fold's transient duplicates)."""
    import pytest

    from impuls_spark.llm import DedupIndex
    from impuls_spark.streaming.compact import compact_marker_path

    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "the quick brown fox")],
        "doc_id int, text string",
    )
    path = str(tmp_path / "idx")
    idx = DedupIndex.build(corpus, path)
    batch = spark.createDataFrame(
        [(3, "totally novel words here")], "doc_id int, text string"
    )
    marker = compact_marker_path(f"{path}/bands")
    open(marker, "w").close()
    with pytest.raises(RuntimeError, match="_COMPACTING"):
        idx.ingest(batch)
    # reads stay available through the fold window
    assert idx.classify(batch).count() == 1
    import os
    os.remove(marker)
    assert idx.ingest(batch).count() == 1


def test_dedup_index_compact_preserves_classification(spark, tmp_path):
    """compact() folds the per-ingest small files into target_shards
    without changing ANY verdict: same statuses before/after, same
    distinct key sets, fewer files. An immediate second compact is a
    no-op (skipped)."""
    import glob

    from impuls_spark.llm import DedupIndex

    corpus = spark.createDataFrame(
        [(i, f"corpus doc {i} alpha beta gamma delta {i}") for i in range(8)],
        "doc_id long, text string",
    )
    path = str(tmp_path / "didx")
    idx = DedupIndex.build(corpus, path)
    for b in range(4):  # four appends -> four extra file sets
        batch = spark.createDataFrame(
            [(100 * (b + 1) + i,
              f"batch {b} novel doc {i} one two three four five")
             for i in range(3)],
            "doc_id long, text string",
        )
        idx.ingest(batch)

    probe = spark.createDataFrame(
        [(901, "batch 2 novel doc 1 one two three four five"),   # exact
         (902, "batch 2 novel doc 1 one two three four five x"),  # near
         (903, "wholly different probe text six seven eight")],   # novel
        "doc_id long, text string",
    )
    before = {r["doc_id"]: r["status"] for r in idx.classify(probe).collect()}
    n_hash_rows = idx.hashes.count()
    files_before = len(glob.glob(f"{path}/hashes/*.parquet"))
    assert files_before > 1

    stats = idx.compact()
    assert stats["hashes"]["files_after"] == 1
    assert stats["bands"]["files_after"] == 1
    assert len(glob.glob(f"{path}/hashes/*.parquet")) == 1
    assert not glob.glob(f"{path}/hashes.compacting*")

    after = {r["doc_id"]: r["status"] for r in idx.classify(probe).collect()}
    assert after == before == {901: "exact", 902: "near", 903: "novel"}
    assert idx.hashes.count() == n_hash_rows

    again = idx.compact()
    assert again["hashes"]["skipped"] == 1


def test_dedup_index_remove_takedown(spark, tmp_path):
    """VERDICT r9 item 4: an index built with track_ids=True supports
    per-document removal — the removed doc's content classifies novel
    again (re-acceptable), rows shared with a surviving doc survive so
    everyone else's classification is untouched, and the rewrite is
    gated by the same marker discipline as compaction."""
    import pytest

    from impuls_spark.llm import DedupIndex

    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "alpha beta gamma delta epsilon zeta"),   # same text as 1
         (3, "one two three four five six seven"),
         (4, "unique content nine ten eleven twelve")],
        "doc_id int, text string",
    )
    path = str(tmp_path / "idx")
    idx = DedupIndex.build(corpus, path, track_ids=True)

    probes = spark.createDataFrame(
        [(90, "alpha beta gamma delta epsilon zeta"),   # shared 1+2
         (91, "one two three four five six seven"),     # only doc 3
         (92, "unique content nine ten eleven twelve")],  # only doc 4
        "doc_id int, text string",
    )
    got = {r["doc_id"]: r["status"] for r in idx.classify(probes).collect()}
    assert got == {90: "exact", 91: "exact", 92: "exact"}

    # remove 1 (shares text with surviving 2) and 3 (sole owner)
    stats = idx.remove([1, 3])
    assert stats["hashes"]["rows_after"] < stats["hashes"]["rows_before"]
    got = {r["doc_id"]: r["status"] for r in idx.classify(probes).collect()}
    # doc 2 still holds the shared hash; doc 3's text is re-acceptable
    assert got[90] == "exact"
    assert got[91] == "novel"
    assert got[92] == "exact"

    # ingest tracks ids too, so later-ingested docs are removable
    batch = spark.createDataFrame(
        [(5, "fresh words thirteen fourteen fifteen sixteen")],
        "doc_id int, text string",
    )
    assert idx.ingest(batch).collect()[0]["status"] == "novel"
    assert idx.classify(batch).collect()[0]["status"] == "exact"
    idx.remove(spark.createDataFrame([(5,)], "doc_id int"))
    assert idx.classify(batch).collect()[0]["status"] == "novel"

    # compaction preserves provenance: fold, then remove still works
    idx.ingest(batch)
    idx.compact()
    idx.remove([5])
    assert idx.classify(batch).collect()[0]["status"] == "novel"

    # untracked indexes refuse with rebuild guidance
    p2 = str(tmp_path / "untracked")
    u = DedupIndex.build(corpus, p2)
    with pytest.raises(ValueError, match="track_ids=True"):
        u.remove([1])


def test_dedup_index_sequence_invariant_random(spark, tmp_path):
    """Property (seeded): for ANY batch sequence, classifying a probe
    through the index after k ingests equals incremental_dedup against
    corpus ∪ all accepted docs — the invariant that makes the stored
    index a faithful substitute for rescanning accepted text."""
    import random

    from impuls_spark.llm import DedupIndex, incremental_dedup

    words = ("alpha beta gamma delta epsilon zeta eta theta iota "
             "kappa lam mu nu xi omicron pi rho sigma tau").split()

    for seed in (3, 17, 99):
        rng = random.Random(seed)

        def text(tag):
            return " ".join(
                [tag] + [rng.choice(words) for _ in range(8)]
            )

        corpus_rows = [(i, text(f"c{seed}s{i}")) for i in range(12)]
        corpus = spark.createDataFrame(corpus_rows,
                                       "doc_id long, text string")
        path = str(tmp_path / f"didx{seed}")
        idx = DedupIndex.build(corpus, path)

        pool = [t for _, t in corpus_rows]
        accepted_texts = list(pool)
        nid = 1000
        for _ in range(3):  # three random batches
            rows = []
            for _ in range(8):
                nid += 1
                r = rng.random()
                if r < 0.35:     # re-crawl of anything seen so far
                    rows.append((nid, rng.choice(accepted_texts)))
                elif r < 0.55:   # near-edit
                    rows.append((nid, rng.choice(accepted_texts) + " zz"))
                else:            # fresh
                    t = text(f"f{seed}n{nid}")
                    rows.append((nid, t))
            batch = spark.createDataFrame(rows, "doc_id long, text string")
            st = idx.ingest(batch)
            novel_ids = {r["doc_id"] for r in st.collect()
                         if r["status"] == "novel"}
            accepted_texts += [t for i, t in rows if i in novel_ids]

        probe_rows = (
            [(9001, accepted_texts[-1]), (9002, accepted_texts[0] + " qq"),
             (9003, text(f"p{seed}"))]
        )
        probe = spark.createDataFrame(probe_rows, "doc_id long, text string")
        got = {r["doc_id"]: r["status"]
               for r in idx.classify(probe).collect()}
        full = spark.createDataFrame(
            [(i, t) for i, t in enumerate(accepted_texts)],
            "doc_id long, text string",
        )
        want = {r["doc_id"]: r["status"]
                for r in incremental_dedup(probe, full).collect()}
        assert got == want, (seed, got, want)


def test_incremental_dedup_near_recall_vs_exact(spark):
    """Recall contract for the ingest classifier at sf0.001: any new
    doc whose exact Jaccard similarity to SOME corpus doc is >= 0.7
    (the banding scheme's high-probability region) must be classified
    exact or near — never novel. The same guarantee that makes
    lsh_candidate_pairs a safe substitute for the exact join, stated
    for the batch-vs-corpus direction."""
    from impuls_spark.llm import incremental_dedup

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
    )
    corpus = docs.filter(F.col("doc_id") < 250)
    batch = docs.filter(F.col("doc_id") >= 250).select(
        (F.col("doc_id")).alias("doc_id"), "text"
    )
    # exact cross-side Jaccard >= 0.7 via the exhaustive join over the
    # union, keeping only corpus-batch pairs
    both = corpus.unionByName(batch)
    high = {
        r.id_b
        for r in ngram_jaccard_pairs(both, threshold=0.7).collect()
        if r.id_a < 250 <= r.id_b
    } | {
        r.id_a
        for r in ngram_jaccard_pairs(both, threshold=0.7).collect()
        if r.id_b < 250 <= r.id_a
    }
    assert high, "fixture should contain cross-side high-similarity docs"
    status = {r["doc_id"]: r["status"]
              for r in incremental_dedup(batch, corpus).collect()}
    leaked = {i for i in high if status[i] == "novel"}
    assert not leaked, f"high-similarity batch docs classified novel: {leaked}"


# -- duplicated spans (d41) -------------------------------------------------

def test_duplicate_spans_hand_computed(spark):
    from impuls_spark.llm import duplicate_spans

    run = "r1 r2 r3 r4 r5 r6 r7 r8"  # 8 shared words
    docs = spark.createDataFrame(
        [
            # run at offset 4 in doc 1 (a stride multiple), offset 0 in
            # doc 2 -> the run window collides across docs
            (1, f"a b c d {run} x y z w"),
            (2, f"{run} p q r s"),
            (3, "all unique words here nothing shared at all"),
            (4, "too short"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in duplicate_spans(
        docs, width=8, stride=4, max_df=1).collect()}
    assert 4 not in out  # shorter than one window
    assert out[1]["n_flagged"] == 1 and out[1]["dup_token_coverage"] == 8
    assert out[2]["n_flagged"] == 1 and out[2]["dup_token_coverage"] == 8
    assert out[3]["n_flagged"] == 0 and out[3]["dup_coverage_frac"] == 0.0
    assert out[1]["dup_coverage_frac"] == pytest.approx(8 / 16)


def test_duplicate_spans_union_coverage(spark):
    """Overlapping flagged windows count each token position once:
    identical 12-word docs flag starts [0, 4] with width 8 ->
    coverage = min(4, 8) + 8 = 12, the whole document."""
    from impuls_spark.llm import duplicate_spans

    text = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"
    docs = spark.createDataFrame(
        [(1, text), (2, text)], "doc_id long, text string")
    out = duplicate_spans(docs, width=8, stride=4, max_df=1).collect()
    for r in out:
        assert (r["n_windows"], r["n_flagged"]) == (2, 2)
        assert r["dup_token_coverage"] == 12
        assert r["dup_coverage_frac"] == 1.0


# -- product quantization (d42) ---------------------------------------------

def test_pq_codes_hand_computed(spark):
    from impuls_spark.llm import pq_codes

    # dim 4, m=2 subspaces of 2 dims; each subspace has two tight
    # clusters; vec 0/1 initialize each subspace's codebook
    rows = [
        (0, [0.0, 0.0, 10.0, 10.0]),
        (1, [5.0, 5.0, 0.0, 0.0]),
        (2, [0.1, 0.0, 0.0, 0.1]),   # sub0 near vec0, sub1 near vec1
        (3, [5.0, 4.9, 10.1, 10.0]),  # sub0 near vec1, sub1 near vec0
    ]
    v = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["vec_id"]: r for r in pq_codes(v, dim=4, m=2, k=2).collect()}
    assert len(out) == 4
    # cross assignment: subspaces are coded independently
    assert (out[2]["code_0"], out[2]["code_1"]) != (out[3]["code_0"], out[3]["code_1"])
    assert out[2]["code_0"] == out[0]["code_0"]
    assert out[2]["code_1"] == out[1]["code_1"]
    assert out[3]["code_0"] == out[1]["code_0"]
    assert out[3]["code_1"] == out[0]["code_1"]
    # every vector's reconstruction error is bounded by cluster spread
    assert all(r["recon_error"] < 1.0 for r in out.values())


def test_pq_codes_exact_centroid_zero_error(spark):
    from impuls_spark.llm import pq_codes

    # two identical vectors per cluster -> centroids land exactly on
    # them -> zero reconstruction error everywhere
    rows = [(0, [1.0, 2.0]), (1, [5.0, 6.0]),
            (2, [1.0, 2.0]), (3, [5.0, 6.0])]
    v = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = pq_codes(v, dim=2, m=1, k=2).collect()
    assert all(r["recon_error"] == 0.0 for r in out)


def test_pq_codes_rejects_indivisible_dim(spark):
    import pytest as _pytest

    from impuls_spark.llm import pq_codes

    v = spark.createDataFrame([(0, [1.0, 2.0, 3.0])],
                              "vec_id long, embedding array<double>")
    with _pytest.raises(ValueError):
        pq_codes(v, dim=3, m=2)


# -- IVF-PQ search (d43) ----------------------------------------------------

def test_ivfpq_topk_finds_exact_duplicate(spark):
    from impuls_spark.llm import ivfpq_topk

    # two well-separated groups (non-zero: cosine cell routing needs a
    # norm); 2/4/20 share the query's PQ codes, so their ADC distances
    # tie EXACTLY (asymmetric distance cannot see within-code detail -
    # the semantics to pin) and ties break by neighbor id
    rows = [
        (0, [1.0, 1.0, 1.0, 1.0]), (1, [-9.0, 9.0, -9.0, 9.0]),
        (2, [1.2, 1.0, 1.0, 1.1]), (3, [-9.1, 9.0, -9.0, 8.9]),
        (4, [1.1, 1.1, 1.0, 1.0]), (5, [-8.9, 9.1, -9.0, 9.0]),
        (20, [1.0, 1.0, 1.0, 1.0]),
    ]
    v = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    anchors = v.filter(F.col("vec_id") < 2)
    queries = v.filter(F.col("vec_id") == 0)
    out = sorted(
        ivfpq_topk(v, queries, anchors, dim=4, k=3, n_probe=1,
                   m=2, pq_k=2).collect(),
        key=lambda r: r["rank"],
    )
    # candidates only from the query's own cell; the three same-code
    # neighbors tie at the query's own quantization residual
    assert [r["neighbor_id"] for r in out] == [2, 4, 20]
    assert len({r["approx_dist"] for r in out}) == 1
    # the tied distance is the ADC floor: (query - its own codeword)^2
    assert out[0]["approx_dist"] < 0.01


def test_ivfpq_full_probe_orders_like_adc_bruteforce(spark):
    """With n_probe = |anchors| the candidate set is the whole corpus:
    ranking must equal sorting ALL vectors by ADC distance."""
    from impuls_spark.llm import ivfpq_topk, pq_train
    from impuls_spark.llm.similarity import _as_double, _sq_l2

    emb = spark.createDataFrame(
        [(i, [float((i * 7 + j * 3) % 5) for j in range(4)])
         for i in range(12)],
        "vec_id long, embedding array<double>",
    )
    anchors = emb.filter(F.col("vec_id") < 2)
    queries = emb.filter(F.col("vec_id") == 0)
    out = sorted(
        ivfpq_topk(emb, queries, anchors, dim=4, k=3, n_probe=2,
                   m=2, pq_k=2).collect(),
        key=lambda r: r["rank"],
    )
    # independent ADC reference: reconstruct each vector from its
    # codes and measure the query's distance to the reconstruction
    codes, books = pq_train(emb, dim=4, m=2, k=2)
    book = {(r["__sub"], r["__cid"]): r["__c"] for r in books.collect()}
    q = [0.0, 0.0, 0.0, 0.0]
    q = [float((0 * 7 + j * 3) % 5) for j in range(4)]
    ref = []
    for r in codes.collect():
        if r["vec_id"] == 0:
            continue
        recon = list(book[(0, r["code_0"])]) + list(book[(1, r["code_1"])])
        d = round(sum((a - b) ** 2 for a, b in zip(q, recon)), 6)
        ref.append((d, r["vec_id"]))
    ref.sort()
    assert [(r["approx_dist"], r["neighbor_id"]) for r in out] == ref[:3]


def test_ivfpq_refined_equals_bruteforce_when_pool_covers_corpus(spark):
    """Exactness law for the refine stage (d55): with every cell probed
    and k x rerank >= |corpus|-1 the candidate pool is the whole corpus,
    so the exact re-rank must reproduce true-L2 brute force top-k."""
    from impuls_spark.llm import ivfpq_topk_refined

    vecs = [
        (i, [float((i * 7 + j * 3) % 5) + 0.1 * i for j in range(4)])
        for i in range(12)
    ]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    anchors = emb.filter(F.col("vec_id") < 2)
    queries = emb.filter(F.col("vec_id") == 0)
    out = sorted(
        ivfpq_topk_refined(emb, queries, anchors, dim=4, k=3, rerank=4,
                           n_probe=2, m=2, pq_k=2).collect(),
        key=lambda r: r["rank"],
    )
    q = dict(vecs)[0]
    ref = sorted(
        (round(sum((a - b) ** 2 for a, b in zip(q, v)), 6), i)
        for i, v in vecs if i != 0
    )
    assert [(r["dist"], r["neighbor_id"]) for r in out] == ref[:3]


def test_semantic_dedup_hand_computed(spark):
    """SemDeDup semantics (d56): within a cell, a vector is a duplicate
    of the SMALLEST-id cell-mate with cosine >= threshold; dedup never
    crosses cells; survivors carry NULL dup_of."""
    from impuls_spark.llm import semantic_dedup

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),    # cell A anchor/survivor
        (1, [0.0, 1.0, 0.0, 0.0]),    # cell B anchor/survivor
        (2, [0.99, 0.1, 0.0, 0.0]),   # dup of 0 (cos ~.995)
        (3, [0.0, 0.99, 0.14, 0.0]),  # dup of 1 (cos ~.990)
        (4, [0.7, 0.0, 0.714, 0.0]),  # cell A, cos(4,0)=.70 -> survivor
        (5, [0.98, 0.19, 0.0, 0.0]),  # qualifies vs 0 AND 2 -> dup of 0
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    anchors = emb.filter(F.col("vec_id") < 2)
    out = {r["vec_id"]: r for r in semantic_dedup(
        emb, anchors, threshold=0.95).collect()}
    assert len(out) == 6
    assert out[0]["dup_of"] is None and out[1]["dup_of"] is None
    assert out[4]["dup_of"] is None
    assert out[2]["dup_of"] == 0 and out[2]["dup_cos"] > 0.99
    assert out[3]["dup_of"] == 1
    assert out[5]["dup_of"] == 0  # smallest qualifying mate, not 2
    # cells: 0,2,4,5 -> anchor 0; 1,3 -> anchor 1
    assert {v["anchor_id"] for k, v in out.items() if k in (0, 2, 4, 5)} == {0}
    assert {v["anchor_id"] for k, v in out.items() if k in (1, 3)} == {1}


def test_semantic_dedup_centroid_far_keep_policy(spark):
    """keep='centroid_far' (d57): within a duplicate group the member
    FARTHEST from the cell centroid survives — the SemDeDup paper's
    selection — while keep='min_id' keeps the smallest id. Same group,
    different survivor."""
    from impuls_spark.llm import semantic_dedup

    rows = [
        (0, [1.0, 0.0]),        # the anchor/centroid itself
        (10, [1.0, 0.0]),       # ccos = 1.0 (closest to centroid)
        (20, [0.95, 0.3122]),   # ccos = 0.95, cos(10,20) = 0.95
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    anchors = emb.filter(F.col("vec_id") == 0)

    by_id = {r["vec_id"]: r for r in semantic_dedup(
        emb, anchors, threshold=0.93).collect()}
    assert by_id[0]["dup_of"] is None          # smallest id survives
    assert by_id[10]["dup_of"] == 0
    assert by_id[20]["dup_of"] == 0

    far = {r["vec_id"]: r for r in semantic_dedup(
        emb, anchors, threshold=0.93, keep="centroid_far").collect()}
    assert far[20]["dup_of"] is None           # farthest from centroid
    assert far[10]["dup_of"] == 20             # dominated by 20
    assert far[0]["dup_of"] == 20
    assert abs(far[10]["dup_cos"] - 0.95) < 1e-3

    with pytest.raises(ValueError, match="keep must be"):
        semantic_dedup(emb, anchors, keep="paper")


def test_semantic_dedup_cell_presplit_guard(spark):
    """cell_presplit bounds a degenerate routing: one giant cell of
    near-identical vectors splits into deterministic sub-cells; within
    each sub-cell dedup still fires, the output is stable across runs,
    and cells at or below the bound behave exactly as the unsplit
    path."""
    from impuls_spark.llm import semantic_dedup

    # 40 near-identical vectors -> ONE cell; plus a small distinct cell
    rows = [(0, [1.0, 0.0])] + [
        (i, [1.0, i * 1e-6]) for i in range(1, 40)
    ] + [(100, [0.0, 1.0]), (101, [0.0, 1.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    anchors = spark.createDataFrame(
        [(0, [1.0, 0.0]), (100, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )

    split = semantic_dedup(emb, anchors, threshold=0.99,
                           cell_presplit=8).collect()
    split2 = semantic_dedup(emb, anchors, threshold=0.99,
                            cell_presplit=8).collect()
    assert sorted(map(tuple, split)) == sorted(map(tuple, split2))
    by_id = {r["vec_id"]: r for r in split}
    # every sub-cell keeps at least one survivor; most rows still dedup
    giants = [r for r in split if r["anchor_id"] == 0]
    dups = [r for r in giants if r["dup_of"] is not None]
    survivors = [r for r in giants if r["dup_of"] is None]
    assert len(survivors) <= 5 + 1  # ceil(40/8) sub-cells, each >= 1
    assert len(dups) >= 34
    # the small cell is under the bound: identical to the exact path
    assert by_id[101]["dup_of"] == 100
    exact = {r["vec_id"]: r for r in semantic_dedup(
        emb, anchors, threshold=0.99).collect()}
    assert exact[101]["dup_of"] == 100
    assert sum(1 for r in exact.values()
               if r["anchor_id"] == 0 and r["dup_of"] is None) == 1

    with pytest.raises(ValueError, match="cell_presplit"):
        semantic_dedup(emb, anchors, cell_presplit=0)


def test_ann_index_one_routing_computation_across_chain(spark):
    """AnnIndex (VERDICT r6 item 7): build once, persist, and the
    d43+d55+d56-shaped chain (topk, topk_refined, semantic_dedup)
    reuses ONE cell-routing / PQ-model computation — every consumer
    plan reads the persisted artifacts (InMemoryTableScan) and results
    match the direct per-call API bit for bit."""
    import contextlib
    import io

    from impuls_spark.llm import (
        AnnIndex,
        ivfpq_topk,
        ivfpq_topk_refined,
        semantic_dedup,
    )

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).limit(60)
    anchors = emb.filter(F.col("vec_id") < 4)
    queries = emb.filter(F.col("vec_id") < 6)

    idx = AnnIndex.build(emb, anchors, dim=64, m=4, pq_k=4).persist()
    try:
        outs = {
            "topk": idx.topk(queries, k=3, n_probe=2),
            "refined": idx.topk_refined(queries, k=3, rerank=2, n_probe=2),
            "semdedup": idx.semantic_dedup(threshold=0.35),
        }
        for name, df in outs.items():
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            assert "InMemoryTableScan" in buf.getvalue(), (
                f"{name} does not reuse the persisted index artifacts"
            )
        # parity with the per-call API (which re-derives everything)
        direct = {
            "topk": ivfpq_topk(emb, queries, anchors, dim=64, k=3,
                               n_probe=2),
            "refined": ivfpq_topk_refined(emb, queries, anchors, dim=64,
                                          k=3, rerank=2, n_probe=2),
            "semdedup": semantic_dedup(emb, anchors, threshold=0.35),
        }
        for name in outs:
            got = sorted(map(tuple, outs[name].collect()))
            want = sorted(map(tuple, direct[name].collect()))
            assert got == want, f"{name} diverges from the direct API"
    finally:
        idx.unpersist()

    with pytest.raises(ValueError, match="dim is required"):
        AnnIndex.build(emb, anchors, with_pq=True)
    cells_only = AnnIndex.build(emb, anchors, with_pq=False)
    with pytest.raises(ValueError, match="no PQ model"):
        cells_only.topk(queries)


def test_ann_index_save_load_roundtrip(spark, tmp_path):
    """A saved index reloads in a fresh consumer and serves the same
    results — the artifacts (cells, PQ codes, codebooks) travel as
    parquet; the corpus frames re-attach at load."""
    from impuls_spark.llm import AnnIndex

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).limit(60)
    anchors = emb.filter(F.col("vec_id") < 4)
    queries = emb.filter(F.col("vec_id") < 6)

    built = AnnIndex.build(emb, anchors, dim=64, m=4, pq_k=4)
    built.save(str(tmp_path / "idx"))
    loaded = AnnIndex.load(spark, str(tmp_path / "idx"), emb, anchors)
    assert (loaded.dim, loaded.id_col, loaded.vec_col) == (
        64, "vec_id", "embedding"
    )
    for name, a, b in (
        ("topk", built.topk(queries, k=3), loaded.topk(queries, k=3)),
        ("semdedup", built.semantic_dedup(0.35),
         loaded.semantic_dedup(0.35)),
    ):
        assert sorted(map(tuple, a.collect())) == sorted(
            map(tuple, b.collect())
        ), f"{name} diverges after save/load"

    # cells-only index roundtrips the absent model
    AnnIndex.build(emb, anchors, with_pq=False).save(str(tmp_path / "i2"))
    l2 = AnnIndex.load(spark, str(tmp_path / "i2"), emb, anchors)
    assert l2.model is None


def test_pq_encode_matches_train_final_pass(spark):
    """pq_encode(A, books) where (codes, books) = pq_train(A) must
    reproduce codes bit for bit — encode IS train's final assignment,
    so appended vectors get exactly the codes a rebuild would give
    them (modulo codebook drift, which recon_error surfaces)."""
    from impuls_spark.llm import pq_encode, pq_train

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).limit(40)
    codes, books = pq_train(emb, dim=64, m=4, k=4)
    re_encoded = pq_encode(emb, books, dim=64, m=4)
    assert sorted(map(tuple, codes.collect())) == sorted(
        map(tuple, re_encoded.collect())
    )
    import pytest as _pytest
    with _pytest.raises(ValueError, match="divisible"):
        pq_encode(emb, books, dim=64, m=5)


def test_ann_index_append_matches_fresh_build(spark, tmp_path):
    """VERDICT-r8-style day-N ingest for ANN: appending the odd half
    to an index built on the even half yields the same cells AND codes
    as building over everything with the same anchors — because the
    append routes to the existing anchors and encodes with the
    existing codebooks... which only holds when anchors/books derive
    from the SAME day-0 data, so we pin against a fresh build that
    reuses them. Also proves the at-rest append (path=) survives a
    reload, and that search over the appended index can return
    appended vectors."""
    from impuls_spark.llm import AnnIndex, ivf_assign, pq_encode

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).limit(80)
    day0 = emb.filter(F.col("vec_id") % 2 == 0)
    day1 = emb.filter(F.col("vec_id") % 2 == 1)
    anchors = emb.filter(F.col("vec_id") < 4)

    path = str(tmp_path / "idx")
    built = AnnIndex.build(day0, anchors, dim=64, m=4, pq_k=4)
    built.save(path)
    idx = AnnIndex.load(spark, path, day0, anchors)
    appended = idx.append(day1, path=path)

    # in-memory handle == day-0 artifacts + day-1 routed/encoded alike
    want_cells = sorted(map(tuple, built.cells.unionByName(
        ivf_assign(day1, anchors)).collect()))
    assert sorted(map(tuple, appended.cells.collect())) == want_cells
    codes0, books = built.model
    want_codes = sorted(map(tuple, codes0.unionByName(
        pq_encode(day1, books, dim=64, m=4)).collect()))
    assert sorted(map(tuple, appended.model[0].collect())) == want_codes

    # the on-disk artifacts carry the appended rows into a fresh load
    reloaded = AnnIndex.load(spark, path, emb, anchors)
    assert sorted(map(tuple, reloaded.cells.collect())) == want_cells
    assert sorted(
        map(tuple, reloaded.model[0].collect())
    ) == want_codes

    # and the appended index actually SERVES day-1 vectors: querying
    # with a day-1 vector finds itself excluded but its cell populated
    q = day1.limit(2)
    hits = reloaded.topk_refined(q, k=3, rerank=6)
    assert hits.count() > 0


def test_ann_index_append_persisted_handle_no_double_count(
    spark, tmp_path
):
    """VERDICT r9 item 1: the class docstring advertises persist() for
    artifact reuse, and a persisted cells/codes frame is re-cached
    against the NEW files by Spark's recacheByPath when append(path=)
    writes the dirs the frame scans — a union with it would then count
    the appended batch twice. The handle returned by append(path=) must
    match a fresh load even when the pre-append handle was persisted."""
    from impuls_spark.llm import AnnIndex

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).limit(60)
    day0 = emb.filter(F.col("vec_id") % 2 == 0)
    day1 = emb.filter(F.col("vec_id") % 2 == 1)
    anchors = emb.filter(F.col("vec_id") < 4)
    path = str(tmp_path / "idx")
    AnnIndex.build(day0, anchors, dim=64, m=4, pq_k=4).save(path)

    idx = AnnIndex.load(spark, path, day0, anchors).persist()
    # force the cache to actually materialize (persist alone is lazy)
    idx.cells.count(), idx.model[0].count()
    try:
        appended = idx.append(day1, path=path)
        fresh = AnnIndex.load(spark, path, emb, anchors)
        assert sorted(map(tuple, appended.cells.collect())) == sorted(
            map(tuple, fresh.cells.collect())
        )
        assert sorted(map(tuple, appended.model[0].collect())) == sorted(
            map(tuple, fresh.model[0].collect())
        )
        # each appended id appears exactly once, not twice
        n_day1 = day1.count()
        assert appended.cells.count() == day0.count() + n_day1
        assert appended.model[0].count() == day0.count() + n_day1
    finally:
        idx.unpersist()


def test_ann_index_refuses_load_and_append_during_compaction(
    spark, tmp_path
):
    """VERDICT r9 item 5 / ADVICE r9: a _COMPACTING marker on an
    artifact dir (in-flight maintenance, or a crashed fold that may
    have left duplicate serving rows) fails load() and append(path=)
    fast instead of racing the move/delete window; a completed
    compact(force=True) clears it and serving resumes."""
    import pytest

    from impuls_spark.llm import AnnIndex
    from impuls_spark.streaming.compact import compact_marker_path

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).limit(40)
    anchors = emb.filter(F.col("vec_id") < 4)
    path = str(tmp_path / "idx")
    AnnIndex.build(emb, anchors, dim=64, m=4, pq_k=4).save(path)

    marker = compact_marker_path(f"{path}/cells")
    open(marker, "w").close()
    with pytest.raises(RuntimeError, match="_COMPACTING"):
        AnnIndex.load(spark, path, emb, anchors)
    import os
    os.remove(marker)
    idx = AnnIndex.load(spark, path, emb, anchors)
    open(marker, "w").close()
    with pytest.raises(RuntimeError, match="_COMPACTING"):
        idx.append(emb.limit(2), path=path)
    # force refuses a marker inside the liveness floor (its holder may
    # be ALIVE — ADVICE r10); once it has aged (heartbeat stopped =
    # crashed), a COMPLETED forced compact sweeps it; load works again
    with pytest.raises(RuntimeError, match="ALIVE"):
        AnnIndex.compact(spark, path, force=True)
    import time
    old = time.time() - 120
    os.utime(marker, (old, old))
    AnnIndex.compact(spark, path, force=True)
    assert not os.path.exists(marker)
    AnnIndex.load(spark, path, emb, anchors)


def test_ann_index_retrain_lowers_drift_and_matches_fresh_build(
    spark, tmp_path
):
    """VERDICT r9 item 3: after appending a DRIFTED batch (shifted
    embedding distribution the day-0 anchors/codebooks never saw),
    retrain() re-derives anchors (kmeans_fit) + codebooks (pq_train)
    from the accreted corpus: mean recon_error drops, the rewritten
    artifacts equal a fresh build with the same (stored) anchors, and
    load() now resolves anchors from disk without the caller."""
    from impuls_spark.llm import AnnIndex

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select("vec_id", "embedding").limit(60)
    day0 = emb.filter(F.col("vec_id") % 2 == 0)
    drifted = emb.filter(F.col("vec_id") % 2 == 1).select(
        "vec_id",
        F.transform("embedding", lambda x: x + F.lit(5.0)).alias(
            "embedding"),
    )
    anchors = emb.filter(F.col("vec_id") < 4)
    path = str(tmp_path / "idx")
    AnnIndex.build(day0, anchors, dim=64, m=4, pq_k=4).save(path)
    idx = AnnIndex.load(spark, path, day0, anchors)
    appended = idx.append(drifted, path=path)

    def mean_err(codes):
        return codes.agg(F.avg("recon_error").alias("e")).collect()[0]["e"]

    before = mean_err(appended.model[0])
    retrained = appended.retrain(path=path)
    after = mean_err(retrained.model[0])
    assert after < before, (before, after)

    # artifacts equal a fresh build over the accreted corpus with the
    # SAME anchors (kmeans_fit/pq_train are deterministic)
    full = day0.unionByName(drifted)
    fresh = AnnIndex.build(full, retrained.anchors, dim=64, m=4, pq_k=4)
    assert sorted(map(tuple, retrained.cells.collect())) == sorted(
        map(tuple, fresh.cells.collect())
    )
    assert sorted(map(tuple, retrained.model[0].collect())) == sorted(
        map(tuple, fresh.model[0].collect())
    )

    # load() without anchors resolves the stored set; serving agrees
    loaded = AnnIndex.load(spark, path, full)
    q = drifted.limit(2)
    assert sorted(map(tuple, loaded.topk_refined(q, k=2).collect())) == \
        sorted(map(tuple, fresh.topk_refined(q, k=2).collect()))

    # save() stores anchors too: a freshly built+saved index loads
    # without the anchor frame and serves identically
    p2 = str(tmp_path / "idx2")
    built = AnnIndex.build(day0, anchors, dim=64, m=4, pq_k=4)
    built.save(p2)
    loaded2 = AnnIndex.load(spark, p2, day0)
    probe = day0.limit(2)
    assert sorted(
        map(tuple, loaded2.topk_refined(probe, k=2).collect())
    ) == sorted(map(tuple, built.topk_refined(probe, k=2).collect()))

    # a LEGACY layout (pre-anchor-storing save) still demands explicit
    # anchors: strip the flag and the stored set
    import json
    import shutil

    legacy = json.loads(
        spark.read.parquet(f"{p2}/manifest").collect()[0]["manifest"]
    )
    legacy.pop("anchors_stored")
    spark.createDataFrame(
        [(json.dumps(legacy),)], "manifest string"
    ).coalesce(1).write.mode("overwrite").parquet(f"{p2}/manifest")
    shutil.rmtree(f"{p2}/anchors")
    import pytest
    with pytest.raises(ValueError, match="stores no anchors"):
        AnnIndex.load(spark, p2, day0)


def test_ann_index_retrain_marker_blocks_serving(spark, tmp_path):
    """A crashed retrain leaves the root _COMPACTING marker: load and
    append fail fast (half-rewritten artifacts must not serve), and a
    forced re-run converges and clears it."""
    import pytest

    from impuls_spark.llm import AnnIndex
    from impuls_spark.streaming.compact import compact_marker_path

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).limit(40)
    anchors = emb.filter(F.col("vec_id") < 4)
    path = str(tmp_path / "idx")
    AnnIndex.build(emb, anchors, dim=64, m=4, pq_k=4).save(path)
    idx = AnnIndex.load(spark, path, emb, anchors)

    marker = compact_marker_path(path)
    open(marker, "w").close()
    with pytest.raises(RuntimeError, match="_COMPACTING"):
        AnnIndex.load(spark, path, emb, anchors)
    with pytest.raises(RuntimeError, match="_COMPACTING"):
        idx.append(emb.limit(2), path=path)
    # fresh marker = possibly-alive holder: refused even under force
    with pytest.raises(RuntimeError, match="ALIVE"):
        idx.retrain(path=path)
    with pytest.raises(RuntimeError, match="ALIVE"):
        idx.retrain(path=path, force=True)

    # load(force=True) is the cross-session recovery escape (ADVICE
    # r10): it hands back a handle SOLELY to drive the forced re-run
    recovered = AnnIndex.load(spark, path, emb, anchors, force=True)
    import os
    import time
    old = time.time() - 120
    os.utime(marker, (old, old))  # heartbeat long stopped = crashed
    retrained = recovered.retrain(path=path, force=True)
    assert not os.path.exists(marker)
    loaded = AnnIndex.load(spark, path, emb)  # anchors now stored
    assert sorted(map(tuple, loaded.cells.collect())) == sorted(
        map(tuple, retrained.cells.collect())
    )


def test_ann_index_compact_preserves_serving(spark, tmp_path):
    """AnnIndex.compact folds append-accreted artifact files without
    changing a single cell or code — identical-duplicate fold, pinned
    by comparing full artifact contents and a served query."""
    import glob

    from impuls_spark.llm import AnnIndex

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).limit(60)
    anchors = emb.filter(F.col("vec_id") < 4)
    path = str(tmp_path / "idx")
    AnnIndex.build(
        emb.filter(F.col("vec_id") % 3 == 0), anchors, dim=64, m=4, pq_k=4
    ).save(path)
    for part in (1, 2):  # two appends -> extra files in both artifacts
        idx = AnnIndex.load(
            spark, path, emb.filter(F.col("vec_id") % 3 == 0), anchors
        )
        idx.append(emb.filter(F.col("vec_id") % 3 == part), path=path)
    assert len(glob.glob(f"{path}/cells/*.parquet")) > 1

    before_cells = sorted(map(tuple, spark.read.parquet(
        f"{path}/cells").collect()))
    before_codes = sorted(map(tuple, spark.read.parquet(
        f"{path}/pq_codes").collect()))
    q = emb.filter(F.col("vec_id") % 3 == 1).limit(2)
    served_before = sorted(map(tuple, AnnIndex.load(
        spark, path, emb, anchors).topk_refined(q, k=2).collect()))

    stats = AnnIndex.compact(spark, path)
    assert stats["cells"]["files_after"] == 1
    assert stats["pq_codes"]["files_after"] == 1

    assert sorted(map(tuple, spark.read.parquet(
        f"{path}/cells").collect())) == before_cells
    assert sorted(map(tuple, spark.read.parquet(
        f"{path}/pq_codes").collect())) == before_codes
    assert sorted(map(tuple, AnnIndex.load(
        spark, path, emb, anchors).topk_refined(q, k=2).collect()
    )) == served_before


def test_ann_index_remove_takedown(spark, tmp_path):
    """AnnIndex.remove: per-vector takedown on the saved artifacts —
    removed ids vanish from cells and codes, stop appearing as top-k
    candidates, and everyone else's rows are byte-identical."""
    from impuls_spark.llm import AnnIndex

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select("vec_id", "embedding").limit(50)
    anchors = emb.filter(F.col("vec_id") < 4)
    path = str(tmp_path / "idx")
    AnnIndex.build(emb, anchors, dim=64, m=4, pq_k=4).save(path)

    gone = [5, 7, 11]
    keep_cells = sorted(map(tuple, spark.read.parquet(f"{path}/cells")
                            .filter(~F.col("vec_id").isin(gone)).collect()))
    keep_codes = sorted(map(tuple, spark.read.parquet(f"{path}/pq_codes")
                            .filter(~F.col("vec_id").isin(gone)).collect()))
    stats = AnnIndex.remove(spark, path, gone)
    assert stats["cells"]["rows_before"] - stats["cells"]["rows_after"] == 3
    assert sorted(map(tuple, spark.read.parquet(
        f"{path}/cells").collect())) == keep_cells
    assert sorted(map(tuple, spark.read.parquet(
        f"{path}/pq_codes").collect())) == keep_codes

    survivors = emb.filter(~F.col("vec_id").isin(gone))
    idx = AnnIndex.load(spark, path, survivors, anchors)
    hits = idx.topk_refined(emb.limit(3), k=5, rerank=10)
    got_ids = {r["neighbor_id"] for r in hits.collect()}
    assert got_ids and not (set(gone) & got_ids)

    # DataFrame-shaped ids work too, and idempotent re-run is a no-op
    stats2 = AnnIndex.remove(
        spark, path, spark.createDataFrame([(5,), (7,)], "vec_id int")
    )
    assert stats2["cells"]["rows_before"] == stats2["cells"]["rows_after"]


def test_ivfpq_refined_recall_beats_plain(spark):
    """VERDICT r5 item 6's done-bar: recall@3 against true-L2 brute
    force on the sf0.001 embeddings must strictly improve over plain
    ivfpq_topk at equal k (measured 0.167 vs 0.100 at pin time).  The
    pool-superset argument makes >= structural; the strict gap is what
    the refine stage is for."""
    import numpy as np

    from impuls_spark.llm import ivfpq_topk, ivfpq_topk_refined

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    anchors = emb.filter(F.col("vec_id") < 4)
    queries = emb.filter(F.col("vec_id") < 10)
    pdf = emb.toPandas()
    V = np.stack(pdf["embedding"].values).astype(float)
    ids = pdf["vec_id"].values
    truth = {}
    for q in range(10):
        qi = int(np.where(ids == q)[0][0])
        d = ((V - V[qi]) ** 2).sum(1)
        order = sorted(range(len(ids)), key=lambda j: (d[j], ids[j]))
        truth[q] = set([ids[j] for j in order if ids[j] != q][:3])

    def recall(df):
        got: dict = {}
        for r in df.collect():
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return sum(len(got.get(q, set()) & truth[q]) for q in truth) / (
            3 * len(truth)
        )

    plain = recall(ivfpq_topk(emb, queries, anchors, dim=64, k=3, n_probe=2))
    refined = recall(ivfpq_topk_refined(
        emb, queries, anchors, dim=64, k=3, rerank=3, n_probe=2))
    assert refined > plain, (refined, plain)


# -- importance-weighted sampling (d45) -------------------------------------

def test_weighted_sample_proportional_and_deterministic(spark):
    from impuls_spark.llm import weighted_sample

    rows = [(i, float(1 + (i % 10))) for i in range(4000)]
    df = spark.createDataFrame(rows, "doc_id long, w double")
    kept = weighted_sample(df, rate=0.3, weight_col="w").collect()
    frac = len(kept) / 4000
    assert 0.25 < frac < 0.35, frac  # expected fraction ~rate
    # keep probability scales with weight: the heavy decile must be
    # kept far more often than the light one
    heavy = sum(1 for r in kept if r["w"] == 10.0) / 400
    light = sum(1 for r in kept if r["w"] == 1.0) / 400
    assert heavy > 2.5 * light, (heavy, light)
    # deterministic across runs
    kept2 = weighted_sample(df, rate=0.3, weight_col="w").collect()
    assert sorted(r["doc_id"] for r in kept) == sorted(r["doc_id"] for r in kept2)


def test_weighted_sample_clamped_rows_always_kept(spark):
    from impuls_spark.llm import weighted_sample

    # one row's weight dwarfs the mean: clamp hits 1.0 -> always kept
    rows = [(i, 1.0) for i in range(100)] + [(999, 1000.0)]
    df = spark.createDataFrame(rows, "doc_id long, w double")
    kept = {r["doc_id"] for r in
            weighted_sample(df, rate=0.1, weight_col="w").collect()}
    assert 999 in kept

    # injected corpus statistic bypasses the aggregate entirely
    kept2 = {r["doc_id"] for r in weighted_sample(
        df, rate=0.1, weight_col="w", mean_weight=10.9).collect()}
    assert 999 in kept2


# ---------------------------------------------------------------------------
# BPE pair counts / source dup-rate / shard manifest (r5 additions)
# ---------------------------------------------------------------------------


def test_bpe_pair_counts_exact(spark):
    # "abab" x2 + "ab": pair "ab" occurs 2 inside abab (x2 words of freq
    # 2 and 1)... spelled out: vocab = {abab: 2, ab: 1, x: 1}
    df = spark.createDataFrame(
        [(1, "abab ab x"), (2, "abab")], "doc_id long, text string"
    )
    from impuls_spark.llm.text import bpe_pair_counts

    rows = {r["pair"]: r for r in bpe_pair_counts(df).collect()}
    # 1-char word "x" contributes nothing (no descending-sequence pairs)
    assert "x" not in {p[0] for p in rows} or all(len(p) == 2 for p in rows)
    # "abab" (freq 2) pairs: ab, ba, ab -> ab weight 2*2=4, ba 2
    # "ab" (freq 1) pairs: ab -> +1
    assert rows["ab"]["weight"] == 5
    assert rows["ab"]["n_word_forms"] == 2  # abab and ab
    assert rows["ba"]["weight"] == 2
    assert rows["ba"]["n_word_forms"] == 1


def test_bpe_pair_counts_top_n_deterministic(spark):
    df = spark.createDataFrame(
        [(1, "aa bb aa cc")], "doc_id long, text string"
    )
    from impuls_spark.llm.text import bpe_pair_counts

    top = bpe_pair_counts(df, top_n=2).collect()
    # aa weight 2; bb/cc weight 1 -> tiebreak by pair asc picks bb
    assert [r["pair"] for r in top] == ["aa", "bb"]


def test_dup_rate_by_source(spark):
    from impuls_spark.llm.curation import dup_rate_by_source

    df = spark.createDataFrame(
        [
            (1, "same text", "a"),
            (2, "same text", "b"),      # dup of 1 (cross-source)
            (3, "unique one", "b"),
            (4, "same text", "b"),      # dup of 1
        ],
        "doc_id long, text string, source string",
    )
    rows = {r["source"]: r for r in dup_rate_by_source(df).collect()}
    assert rows["a"]["n_dupes"] == 0          # canonical lives in a
    assert rows["a"]["dup_rate"] == 0.0
    assert rows["b"]["n_docs"] == 3
    assert rows["b"]["n_dupes"] == 2
    assert rows["b"]["dup_rate"] == pytest.approx(2 / 3, abs=1e-6)


def test_shard_manifest_partitions_exhaustively(spark):
    from impuls_spark.llm.sampling import shard_assignment, shard_manifest

    df = spark.createDataFrame(
        [(i, i * 10) for i in range(200)], "doc_id long, n_chars long"
    )
    man = shard_manifest(df, n_shards=16, weight_col="n_chars").collect()
    assert sum(r["n_docs"] for r in man) == 200
    assert sum(r["n_weight"] for r in man) == sum(i * 10 for i in range(200))
    assert all(len(r["shard"]) == 1 for r in man)
    # deterministic: same input -> identical manifest
    again = shard_manifest(df, n_shards=16, weight_col="n_chars").collect()
    assert sorted(map(tuple, man)) == sorted(map(tuple, again))
    # id range is a completeness envelope
    assert min(r["min_id"] for r in man) == 0
    assert max(r["max_id"] for r in man) == 199
    # assignment column agrees with the manifest totals
    assigned = (
        df.withColumn("shard", shard_assignment(F.col("doc_id"), 16))
        .groupBy("shard").count().collect()
    )
    assert {(r["shard"], r["count"]) for r in assigned} == {
        (r["shard"], r["n_docs"]) for r in man
    }
    with pytest.raises(ValueError):
        shard_manifest(df, n_shards=100)


# ---------------------------------------------------------------------------
# BPE tokenizer train/encode (driver-side loop over distributed counts)
# ---------------------------------------------------------------------------


def test_bpe_train_known_merges(spark):
    from impuls_spark.llm.tokenizer import EOW, bpe_train

    # "aaab" x3, "ab" x1: first merge must be ('a','a') (count 6 in
    # aaab*3... spelled: aaab has pairs aa,aa,ab,b-EOW -> aa counts 2*3=6)
    df = spark.createDataFrame(
        [(1, "aaab aaab ab"), (2, "aaab")], "doc_id long, text string"
    )
    merges = bpe_train(df, n_merges=3)
    assert merges[0] == ("a", "a")
    # after aa: aaab -> [aa,a,b,EOW]; pairs: (aa,a)x3,(a,b)x3+1,(b,EOW)x4
    # best count 4 -> tie between ('a','b')? no: (a,b) is 3+1=4, (b,EOW)=4
    # tie broken lexicographically: ('a','b') < ('b',EOW)
    assert merges[1] == ("a", "b")
    assert len(merges) == 3


def test_bpe_encode_roundtrip(spark):
    from impuls_spark.llm.tokenizer import EOW, bpe_encode, bpe_train

    df = spark.createDataFrame(
        [(1, "hello hello world"), (2, "hello world world")],
        "doc_id long, text string",
    )
    merges = bpe_train(df, n_merges=200)
    out = {r["doc_id"]: r for r in bpe_encode(df, merges).collect()}
    # enough merges -> every word collapses to a single symbol
    assert out[1]["bpe_tokens"] == [f"hello{EOW}", f"hello{EOW}", f"world{EOW}"]
    assert out[1]["n_bpe_tokens"] == 3
    # concatenating tokens reconstructs the text (EOW marks word ends)
    rebuilt = "".join(out[2]["bpe_tokens"]).replace(EOW, " ").strip()
    assert rebuilt == "hello world world"


def test_bpe_encode_partial_merges(spark):
    from impuls_spark.llm.tokenizer import EOW, bpe_encode, bpe_train

    df = spark.createDataFrame([(1, "abc abd")], "doc_id long, text string")
    merges = bpe_train(df, n_merges=1)
    assert merges == [("a", "b")]  # count 2 beats everything else's 1
    out = bpe_encode(df, merges).collect()[0]
    assert out["bpe_tokens"] == ["ab", "c", EOW, "ab", "d", EOW]


def test_bpe_train_determinism_and_cap(spark):
    from impuls_spark.llm.tokenizer import bpe_train, word_frequencies

    df = spark.createDataFrame(
        [(i, "zz yy xx ww vv") for i in range(20)],
        "doc_id long, text string",
    )
    m1 = bpe_train(df, n_merges=5)
    m2 = bpe_train(df, n_merges=5)
    assert m1 == m2  # equal counts everywhere -> lexicographic order
    assert m1[0] == ("v", "v")
    # the cap bounds what the driver collects
    capped = word_frequencies(df, max_word_forms=2).collect()
    assert len(capped) == 2


def test_chunk_token_stream_exact(spark):
    from impuls_spark.llm.packing import chunk_token_stream

    df = spark.createDataFrame(
        [
            (1, "en", ["a", "b", "c"]),
            (2, "en", ["d", "e"]),
            (3, "en", ["f"]),
            (4, "de", ["x", "y", "z"]),
        ],
        "doc_id long, lang string, tokens array<string>",
    )
    rows = {
        (r["shard"], r["seq_ix"]): r
        for r in chunk_token_stream(df, seq_len=4).collect()
    }
    # en stream: a b c | d e | f -> rows of 4: [a b c d], [e f]
    assert rows[("en", 0)]["text"] == "a b c d"
    assert rows[("en", 0)]["n_tokens"] == 4
    assert rows[("en", 1)]["text"] == "e f"
    assert rows[("en", 1)]["n_tokens"] == 2
    # de stream independent
    assert rows[("de", 0)]["text"] == "x y z"
    assert len(rows) == 3


def test_chunk_token_stream_skips_empty_docs(spark):
    from impuls_spark.llm.packing import chunk_token_stream

    df = spark.createDataFrame(
        [(1, "en", ["a", "b"]), (2, "en", []), (3, "en", ["c"])],
        "doc_id long, lang string, tokens array<string>",
    )
    out = chunk_token_stream(df, seq_len=2).collect()
    texts = {r["seq_ix"]: r["text"] for r in out}
    assert texts == {0: "a b", 1: "c"}


def test_emit_training_shards_end_to_end(spark, tmp_path):
    """examples/clean_corpus.emit_training_shards: cleaned corpus ->
    BPE tokenizer -> fixed-length rows -> hash shards + manifest."""
    import glob

    from examples.clean_corpus import emit_training_shards

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = str(tmp_path / "shards")
    man = emit_training_shards(
        docs, out, n_merges=50, seq_len=32, n_shards=16
    )
    rows = spark.read.parquet(out)
    # every training row is exactly seq_len tokens except stream tails
    n_short = rows.filter(F.col("n_tokens") != 32).count()
    lang_streams = docs.select("lang").distinct().count()
    assert n_short <= lang_streams  # one tail max per lang stream
    # manifest bookkeeping matches what's on disk
    m = {r["shard"]: r["n_docs"] for r in man.collect()}
    g = {r["shard"]: r["count"] for r in rows.groupBy("shard").count().collect()}
    assert m == g
    assert sum(m.values()) == rows.count()
    # shard dirs exist on disk
    assert len(glob.glob(out + "/shard=*")) == len(m)


# ---------------------------------------------------------------------------
# round-5 additions: inverted index, normalization, order, quotas
# ---------------------------------------------------------------------------

def test_inverted_index_postings(spark):
    from impuls_spark.llm.search import inverted_index

    df = spark.createDataFrame(
        [(1, "a b a"), (2, "b c"), (3, "b x")], ["doc_id", "text"]
    )
    out = {
        r["token"]: r
        for r in inverted_index(df).collect()
    }
    assert out["a"]["doc_freq"] == 1 and out["a"]["total_tf"] == 2
    assert out["b"]["doc_freq"] == 3 and out["b"]["postings"] == "1,2,3"
    # min_df drops hapax, max_df drops the stop-token
    kept = {
        r["token"]
        for r in inverted_index(df, min_df=2, max_df=2).collect()
    }
    assert kept == set()  # 'b' has df 3 > 2; a/c/x have df 1 < 2
    kept2 = {r["token"] for r in inverted_index(df, min_df=2).collect()}
    assert kept2 == {"b"}


def test_normalize_text_contract(spark):
    from impuls_spark.llm.curation import normalize_text

    df = spark.createDataFrame(
        [(1, "  Hello\t World \n"), (2, "already clean")],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in normalize_text(df).collect()}
    assert rows[1]["changed"] is True
    assert rows[2]["changed"] is False
    assert rows[1]["n_chars_norm"] == len("hello world")
    # idempotent: hash of a clean row equals md5 of its own text
    assert rows[2]["norm_hash"] == (
        df.filter("doc_id = 2").select(F.md5("text")).first()[0]
    )


def test_training_order_is_global_permutation(spark):
    from pyspark.sql import Window
    from impuls_spark.llm.sampling import training_order

    df = spark.range(0, 157).withColumnRenamed("id", "doc_id")
    out = training_order(df, salt="e0", prefix_digits=1)
    got = {r["doc_id"]: r["position"] for r in out.collect()}
    assert sorted(got.values()) == list(range(157))
    # bucketed enumeration == the naive single-partition global window
    h = F.md5(F.concat_ws(":", F.lit("e0"), F.col("doc_id").cast("string")))
    naive = df.select(
        "doc_id",
        (F.row_number().over(Window.orderBy(h, "doc_id")) - 1).alias("p"),
    )
    want = {r["doc_id"]: r["p"] for r in naive.collect()}
    assert got == want
    # independent of input partitioning
    got4 = {
        r["doc_id"]: r["position"]
        for r in training_order(
            df.repartition(7), salt="e0", prefix_digits=1
        ).collect()
    }
    assert got4 == want


def test_cap_per_group_quota(spark):
    from impuls_spark.llm.sampling import cap_per_group

    rows = [(i, "big" if i < 40 else "small") for i in range(50)]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    out = cap_per_group(df, n=5, group_col="source")
    counts = {
        r["source"]: r["n"]
        for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    assert counts == {"big": 5, "small": 5}
    # deterministic: same kept set under a different partitioning
    a = {r["doc_id"] for r in out.collect()}
    b = {
        r["doc_id"]
        for r in cap_per_group(df.repartition(9), n=5, group_col="source").collect()
    }
    assert a == b
    # a cap above the group size keeps everything
    assert cap_per_group(df, n=100, group_col="source").count() == 50


def test_cap_per_group_threshold(spark):
    from impuls_spark.llm.sampling import cap_per_group_threshold

    rows = [(i, "big" if i < 400 else "small") for i in range(430)]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    out = cap_per_group_threshold(df, n=40, group_col="source")
    counts = {
        r["source"]: r["n"]
        for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    # group at/under the cap keeps everything; the oversized group
    # keeps ~n (binomial around 40, spread ~sqrt(40))
    assert counts["small"] == 30
    assert 20 <= counts["big"] <= 60
    # deterministic under repartitioning
    a = {r["doc_id"] for r in out.collect()}
    b = {
        r["doc_id"]
        for r in cap_per_group_threshold(
            df.repartition(11), n=40, group_col="source"
        ).collect()
    }
    assert a == b
    # consistent with the exact form's ordering law: within each group
    # the threshold form keeps a PREFIX of the same hash order the
    # window form uses — so re-running the exact form with n set to the
    # threshold form's actual per-group kept count must reproduce the
    # kept set EXACTLY (not merely contain it; ADVICE r5 flagged the
    # old superset check as vacuous at n=group size)
    from impuls_spark.llm.sampling import cap_per_group

    kept_big = counts["big"]
    assert kept_big < 400  # the law is only exercised by a real cut
    big = df.filter(F.col("source") == "big")
    exact_prefix = {
        r["doc_id"]
        for r in cap_per_group(big, n=kept_big, group_col="source").collect()
    }
    threshold_big = {
        r["doc_id"] for r in out.filter(F.col("source") == "big").collect()
    }
    assert threshold_big == exact_prefix


def test_dedup_index_remove_crash_between_folds_fail_fasts(
    spark, tmp_path, monkeypatch
):
    """VERDICT r10 item 2: DedupIndex.remove holds ONE root-level
    _COMPACTING marker across BOTH artifact folds. Injected crash
    between the hashes fold and the bands fold (the window where a
    removed doc's hash rows are gone but its band rows still collide):
    classify/ingest/compact/load all fail fast on the root marker, and
    a load(force=True) + remove(force=True) re-run converges."""
    import os
    import time

    import pytest

    import impuls_spark.streaming.compact as sc
    from impuls_spark.llm import DedupIndex
    from impuls_spark.streaming.compact import compact_marker_path

    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "alpha beta gamma delta epsilon zeta"),
         (3, "one two three four five six seven"),
         (4, "unique content nine ten eleven twelve")],
        "doc_id int, text string",
    )
    path = str(tmp_path / "idx")
    idx = DedupIndex.build(corpus, path, track_ids=True)
    probes = spark.createDataFrame(
        [(90, "alpha beta gamma delta epsilon zeta"),
         (91, "one two three four five six seven"),
         (92, "unique content nine ten eleven twelve")],
        "doc_id int, text string",
    )

    real = sc.compact_flat_dir

    def boom(spark_, path_, *a, **k):
        if path_.endswith("/bands"):
            raise RuntimeError("injected crash between folds")
        return real(spark_, path_, *a, **k)

    monkeypatch.setattr(sc, "compact_flat_dir", boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        idx.remove([1, 3])
    monkeypatch.setattr(sc, "compact_flat_dir", real)

    # the hashes fold completed, the bands fold never ran — the root
    # marker is the ONLY thing signalling the inconsistency
    root_marker = compact_marker_path(path)
    assert os.path.exists(root_marker)
    with pytest.raises(RuntimeError, match="_COMPACTING"):
        idx.classify(probes)
    with pytest.raises(RuntimeError, match="_COMPACTING"):
        idx.ingest(probes)
    with pytest.raises(RuntimeError, match="_COMPACTING"):
        idx.compact()
    with pytest.raises(RuntimeError, match="_COMPACTING"):
        DedupIndex.load(spark, path)

    # cross-session recovery: force-load a handle, force-rerun remove
    recovered = DedupIndex.load(spark, path, force=True)
    old = time.time() - 120  # heartbeat long dead == genuinely crashed
    os.utime(root_marker, (old, old))
    recovered.remove([1, 3], force=True)
    assert not os.path.exists(root_marker)
    got = {r["doc_id"]: r["status"]
           for r in recovered.classify(probes).collect()}
    # converged to exactly the completed-takedown state: doc 2 still
    # holds the shared text, doc 3's text is re-acceptable
    assert got == {90: "exact", 91: "novel", 92: "exact"}


def test_ann_index_remove_crash_between_folds_fail_fasts(
    spark, tmp_path, monkeypatch
):
    """VERDICT r10 item 2, ANN side: AnnIndex.remove holds the root
    marker across the cells and pq_codes folds; a crash between them
    (cells purged, codes still carrying the removed vector) fail-fasts
    load/append until a forced re-run converges."""
    import os
    import time

    import pytest

    import impuls_spark.streaming.compact as sc
    from impuls_spark.llm import AnnIndex
    from impuls_spark.streaming.compact import compact_marker_path

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select("vec_id", "embedding").limit(40)
    anchors = emb.filter(F.col("vec_id") < 4)
    path = str(tmp_path / "idx")
    AnnIndex.build(emb, anchors, dim=64, m=4, pq_k=4).save(path)

    real = sc.compact_flat_dir

    def boom(spark_, path_, *a, **k):
        if path_.endswith("/pq_codes"):
            raise RuntimeError("injected crash between folds")
        return real(spark_, path_, *a, **k)

    monkeypatch.setattr(sc, "compact_flat_dir", boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        AnnIndex.remove(spark, path, [5, 7])
    monkeypatch.setattr(sc, "compact_flat_dir", real)

    root_marker = compact_marker_path(path)
    assert os.path.exists(root_marker)
    # cells no longer has 5/7 but pq_codes still does — serving must
    # not resume on that half-removed state
    assert spark.read.parquet(f"{path}/cells").filter(
        F.col("vec_id").isin([5, 7])).count() == 0
    assert spark.read.parquet(f"{path}/pq_codes").filter(
        F.col("vec_id").isin([5, 7])).count() == 2
    with pytest.raises(RuntimeError, match="_COMPACTING"):
        AnnIndex.load(spark, path, emb, anchors)
    idx_for_append = AnnIndex.load(spark, path, emb, anchors, force=True)
    with pytest.raises(RuntimeError, match="_COMPACTING"):
        idx_for_append.append(emb.limit(2), path=path)

    old = time.time() - 120
    os.utime(root_marker, (old, old))
    AnnIndex.remove(spark, path, [5, 7], force=True)
    assert not os.path.exists(root_marker)
    assert spark.read.parquet(f"{path}/pq_codes").filter(
        F.col("vec_id").isin([5, 7])).count() == 0
    survivors = emb.filter(~F.col("vec_id").isin([5, 7]))
    hits = AnnIndex.load(spark, path, survivors, anchors).topk_refined(
        emb.limit(3), k=5, rerank=10)
    assert not ({5, 7} & {r["neighbor_id"] for r in hits.collect()})


def test_ann_index_append_checks_all_markers_before_first_write(
    spark, tmp_path
):
    """ADVICE r10: append(path=) verifies root, cells AND pq_codes
    markers BEFORE its first write — a marker sitting only on pq_codes
    must not let the cells append land (a routed vector with no code,
    then duplicate cells rows on the retry)."""
    import os

    import pytest

    from impuls_spark.llm import AnnIndex
    from impuls_spark.streaming.compact import compact_marker_path

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select("vec_id", "embedding").limit(40)
    anchors = emb.filter(F.col("vec_id") < 4)
    path = str(tmp_path / "idx")
    AnnIndex.build(emb, anchors, dim=64, m=4, pq_k=4).save(path)
    idx = AnnIndex.load(spark, path, emb, anchors)

    cells_files = sorted(os.listdir(f"{path}/cells"))
    marker = compact_marker_path(f"{path}/pq_codes")
    open(marker, "w").close()
    with pytest.raises(RuntimeError, match="_COMPACTING"):
        idx.append(emb.limit(2), path=path)
    # nothing landed in cells: the failed call left no partial state
    assert sorted(os.listdir(f"{path}/cells")) == cells_files
