"""LLM-operator behavior tests beyond the oracle gate: ANN quality and
multimodal plumbing."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from tutorial_apache_beam_spark.catalog import load_table
from tutorial_apache_beam_spark.operators.multimodal import (
    decode_metadata,
    media_table,
    sample_frames,
)
from tutorial_apache_beam_spark.operators.similarity import cosine_topk, srp_ann_topk


def test_srp_ann_scores_match_exact_and_recall_positive(spark):
    """Every (probe, neighbor) the ANN returns must carry the same cosine
    as the exact computation, and bucket recall must be non-trivial."""
    emb = load_table(spark, SF_DIR, "embeddings")
    probes = emb.filter(F.col("vec_id") % 100 == 0)
    exact = cosine_topk(emb, probes, k=5).withColumnRenamed("cos", "cos_exact")
    ann = srp_ann_topk(emb, probes, k=5)
    joined = ann.join(exact, ["probe_id", "vec_id"], "inner")
    n_ann = ann.count()
    n_matching = joined.filter(
        F.abs(F.col("cos") - F.col("cos_exact")) < 1e-9
    ).count()
    # Scores for overlapping pairs are identical.
    assert n_matching == joined.count()
    # LSH recall: at least one true top-5 neighbor found per average probe.
    assert joined.count() >= probes.count()
    assert n_ann > 0


def test_multimodal_decode_is_deterministic_and_typed(spark):
    docs = load_table(spark, SF_DIR, "documents")
    media = media_table(docs)
    out1 = decode_metadata(media)
    assert dict(out1.dtypes) == {
        "doc_id": "bigint",
        "media_type": "string",
        "n_bytes": "bigint",
        "width": "int",
        "height": "int",
        "duration_ms": "int",
    }
    rows1 = sorted(map(tuple, out1.collect()))
    rows2 = sorted(map(tuple, decode_metadata(media_table(docs)).collect()))
    assert rows1 == rows2  # deterministic stub decode
    assert all(r[3] >= 64 and r[4] >= 64 for r in rows1)  # plausible dims
    imgs = [r for r in rows1 if r[1] == "image"]
    assert imgs and all(r[5] == 0 for r in imgs)  # images have no duration


def test_frame_sampling_expands_video_rows_only(spark):
    docs = load_table(spark, SF_DIR, "documents")
    media = media_table(docs)
    frames = sample_frames(media, every_ms=10000)
    meta = decode_metadata(media)
    n_videos = meta.filter(F.col("media_type") == "video").count()
    per_doc = frames.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"), F.max("frame_idx").alias("mx")
    )
    assert per_doc.count() == n_videos  # only video rows expand
    # frame_idx is dense 0..n-1
    assert per_doc.filter(F.col("n") != F.col("mx") + 1).count() == 0
    # expected counts from the stub duration
    expected = meta.filter(F.col("media_type") == "video").select(
        "doc_id", (F.floor(F.col("duration_ms") / 10000) + 1).alias("n_exp")
    )
    bad = per_doc.join(expected, "doc_id").filter(F.col("n") != F.col("n_exp"))
    assert bad.count() == 0


def test_ivf_ann_scores_match_exact(spark):
    from tutorial_apache_beam_spark.operators.similarity import ivf_ann_topk

    emb = load_table(spark, SF_DIR, "embeddings")
    probes = emb.filter(F.col("vec_id") % 100 == 0)
    exact = cosine_topk(emb, probes, k=5).withColumnRenamed("cos", "cos_exact")
    ann = ivf_ann_topk(emb, probes, k=5, nprobe=2)
    assert ann.count() > 0
    joined = ann.join(exact, ["probe_id", "vec_id"], "inner")
    bad = joined.filter(F.abs(F.col("cos") - F.col("cos_exact")) >= 1e-9).count()
    assert bad == 0
    # every probe returns k candidates (buckets are non-empty at nprobe=2)
    per_probe = ann.groupBy("probe_id").count().collect()
    assert all(r["count"] == 5 for r in per_probe)


def test_ivf_kmeans_centroids_recall_at_least_sampled(spark):
    """Spherical-k-means-trained centroids must not lose recall vs the
    every-Nth sampled init (VERDICT round-1 item: k-means for IVF).

    Probes are deliberately NOT aligned with the every-50th centroid
    sample (vec_id % 100 == 7, not == 0): the fixture's default probe set
    is a subset of the sampled centroids, which makes each probe's bucket
    centered on itself and its planted near-dups — a degenerate recall of
    1.0 that no trained quantizer can match. Unaligned probes measure the
    quantization quality both methods actually provide.
    """
    from tutorial_apache_beam_spark.operators.similarity import (
        ann_recall_vs_exact,
        cosine_topk,
        ivf_ann_topk,
        kmeans_centroids,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    probes = emb.filter(F.col("vec_id") % 100 == 7)
    exact = cosine_topk(emb, probes, k=5).persist()

    def recall(ann_df):
        row = ann_recall_vs_exact(exact, ann_df).first()
        assert row["n_exact"] > 0
        return row["recall"]

    sampled = recall(ivf_ann_topk(emb, probes, k=5, nprobe=2))
    trained_cents = kmeans_centroids(emb, n_centroids=4, iters=3)
    trained = recall(
        ivf_ann_topk(emb, probes, k=5, nprobe=2, centroids=trained_cents)
    )
    exact.unpersist()
    assert trained >= sampled, (trained, sampled)
    assert trained > 0.2, trained


def test_benchmark_contamination_flags_shingle_overlap(spark):
    """Docs sharing >= min_overlap distinct n-gram shingles with the
    benchmark set are flagged; others are not; benchmark-only shingles
    never flag the benchmark docs themselves (they are not in `docs`)."""
    from tutorial_apache_beam_spark.operators.dedup import (
        benchmark_contamination,
    )

    rows = [
        # doc 1: two distinct shingles shared with bench ("a b c", "b c d")
        (1, "a b c d"),
        # doc 2: one shared shingle only ("a b c")
        (2, "a b c x y"),
        # doc 3: nothing shared
        (3, "p q r s t"),
    ]
    bench = [(100, "a b c d e")]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    benchmark = spark.createDataFrame(bench, "doc_id LONG, text STRING")
    got = {
        r["doc_id"]: r["bench_hits"]
        for r in benchmark_contamination(docs, benchmark, min_overlap=2).collect()
    }
    assert got == {1: 2}
    # min_overlap=1 also catches doc 2
    got1 = {
        r["doc_id"]
        for r in benchmark_contamination(docs, benchmark, min_overlap=1).collect()
    }
    assert got1 == {1, 2}


def test_text_quality_signals_hand_computed(spark):
    """Gopher-style repetition/word-shape signals against hand-computed
    values on a tiny corpus."""
    from tutorial_apache_beam_spark.queries.llm import text_analysis_suite
    import tempfile

    rows = [
        # 6 tokens: "ab ab ab cd cd ef" -> mean len 2.0, max 2,
        # 4 3-grams ("ab ab ab","ab ab cd","ab cd cd","cd cd ef") all
        # distinct -> dup frac 0.0; top token "ab" 3/6 = 0.5
        (0, "ab ab ab cd cd ef", "en"),
        # repetition: "x y x y x y" -> 4 3-grams, 2 distinct -> 0.5
        (1, "x y x y x y", "en"),
        (2, "", "en"),  # empty: zero tokens -> zeroed signals
    ]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows, "doc_id LONG, text STRING, lang STRING"
        ).write.parquet(f"{d}/documents.parquet")
        out = {
            r["doc_id"]: r for r in text_analysis_suite(spark, d).collect()
        }
    assert out[0]["mean_word_len"] == 2.0
    assert out[0]["max_word_len"] == 2
    assert out[0]["dup_3gram_frac"] == 0.0
    assert out[0]["top_token_frac"] == 0.5
    assert out[1]["dup_3gram_frac"] == 0.5
    assert out[2]["mean_word_len"] == 0.0
    assert out[2]["max_word_len"] == 0
    assert out[2]["dup_3gram_frac"] == 0.0
    assert out[2]["top_token_frac"] == 0.0


def test_cosine_topk_string_ids(spark):
    # The operator is id-type generic: string content-hash ids flow
    # through scoring, self-exclusion, and ranking unchanged.
    emb = load_table(spark, SF_DIR, "embeddings")
    named = emb.withColumn("vec_id", F.concat(F.lit("doc-"), F.col("vec_id")))
    probes = named.filter(F.col("vec_id").isin("doc-0", "doc-7"))
    out = cosine_topk(named, probes, k=3)
    rows = out.collect()
    assert {r["probe_id"] for r in rows} == {"doc-0", "doc-7"}
    assert all(isinstance(r["vec_id"], str) for r in rows)
    assert all(r["vec_id"] != r["probe_id"] for r in rows)
    per_probe = {}
    for r in rows:
        per_probe.setdefault(r["probe_id"], []).append(r["cos"])
    assert all(len(v) == 3 for v in per_probe.values())

    # Same neighbors as the integer-id form, modulo the prefix.
    base = cosine_topk(
        emb, emb.filter(F.col("vec_id").isin(0, 7)), k=3
    ).collect()
    want = {(f"doc-{r['probe_id']}", f"doc-{r['vec_id']}") for r in base}
    got = {(r["probe_id"], r["vec_id"]) for r in rows}
    assert got == want


def test_ngram_containment_flags_excerpts(spark):
    """A short doc made of another doc's text must clear containment even
    though its Jaccard vs the long doc is tiny."""
    from tutorial_apache_beam_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    long_text = " ".join(f"tok{i}" for i in range(200))
    excerpt = " ".join(f"tok{i}" for i in range(40, 60))  # 20 tokens inside
    other = " ".join(f"z{i}" for i in range(200))
    df = spark.createDataFrame(
        [(1, long_text), (2, excerpt), (3, other)], "doc_id long, text string"
    )
    cont = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in ngram_containment_pairs(df, threshold=0.5).collect()
    }
    # excerpt ⊂ long: containment(2→1) == 1.0; the reverse direction is
    # ~18/198 and must NOT appear; unrelated docs must not appear.
    assert cont == {(2, 1): 1.0}
    jac = ngram_jaccard_pairs(df, threshold=0.5).collect()
    assert jac == []  # Jaccard misses the excerpt at the same threshold


def test_semantic_dup_clusters(spark):
    """Embedding-space transitive clusters: A~B and B~C land in one
    component with min-id canonical, even without an A~C edge."""
    from tutorial_apache_beam_spark.operators.similarity import (
        semantic_dup_clusters,
    )

    base = [1.0] + [0.0] * 7
    tilt = [0.97, 0.24] + [0.0] * 6   # cos(base,tilt) ~= 0.97
    tilt2 = [0.88, 0.47] + [0.0] * 6  # cos(tilt,tilt2) ~= 0.97, cos(base,tilt2)=0.88
    ortho = [0.0] * 7 + [1.0]
    df = spark.createDataFrame(
        [(1, base), (2, tilt), (3, tilt2), (4, ortho)],
        "vec_id long, embedding array<double>",
    )
    rows = {
        r["vec_id"]: (r["component"], r["is_canonical"])
        for r in semantic_dup_clusters(df, threshold=0.9).collect()
    }
    # 1-2-3 chain collapses to component 1 (2~1 and 3~2 edges; 3~1 is
    # below threshold); 4 is isolated and absent.
    assert rows == {1: (1, True), 2: (1, False), 3: (1, False)}


def test_similarity_ops_accept_string_ids(spark):
    """r6 review regression: the blocked pair generator, the IVF centroid
    sampler, and the centroid-assignment UDF all hard-coded int64 ids —
    string ids (content hashes, the other id type the module advertises
    via cosine_topk and connected_components) crashed in the executor or
    silently produced empty centroid sets. They now flow through with the
    id type preserved; unsupported id types raise at the API boundary."""
    import pytest
    from pyspark.sql import functions as F

    from tutorial_apache_beam_spark.operators.similarity import (
        embedding_neardup_pairs,
        ivf_ann_topk,
        semantic_dup_clusters,
    )

    base = [1.0] + [0.0] * 7
    tilt = [0.97, 0.24] + [0.0] * 6
    tilt2 = [0.88, 0.47] + [0.0] * 6
    ortho = [0.0] * 7 + [1.0]
    df = spark.createDataFrame(
        [("ha", base), ("hb", tilt), ("hc", tilt2), ("hd", ortho)],
        "vec_id string, embedding array<double>",
    )
    pairs = embedding_neardup_pairs(df, threshold=0.9, id_col="vec_id")
    assert pairs.schema.simpleString() == (
        "struct<id_a:string,id_b:string,cos:double>"
    )
    assert {(r.id_a, r.id_b) for r in pairs.collect()} == {
        ("ha", "hb"),
        ("hb", "hc"),
    }
    rows = {
        r["vec_id"]: (r["component"], r["is_canonical"])
        for r in semantic_dup_clusters(
            df, threshold=0.9, id_col="vec_id"
        ).collect()
    }
    assert rows == {
        "ha": ("ha", True),
        "hb": ("ha", False),
        "hc": ("ha", False),
    }
    # IVF centroid sampling must not null out on string ids (`id % N`).
    ivf = ivf_ann_topk(
        df, df.limit(2), k=2, id_col="vec_id", every_nth_centroid=1
    )
    assert ivf.count() > 0
    with pytest.raises(TypeError, match="numeric or string"):
        embedding_neardup_pairs(
            df.select(F.struct("vec_id").alias("vec_id"), "embedding"),
            threshold=0.9,
        )


def test_neardup_mode_selector_and_bucketed_tier(spark):
    """r13 (VERDICT r12 item 3): the size-thresholded near-dup selector
    and the SRP-bucketed tier. Selector: exact at or below the measured
    row threshold, bucketed above (and bucketed when auto has no count —
    the scale-safe default). Bucketed tier: every emitted pair is a
    SUBSET of the exact tier's pairs with the IDENTICAL rounded score
    (the trade is recall, never precision), and on a corpus of tight
    near-dup clusters the buckets recover every pair (near-identical
    vectors project to the same signs in every table)."""
    import numpy as np
    import pytest

    from tutorial_apache_beam_spark.operators.similarity import (
        EXACT_ALLPAIRS_ROW_THRESHOLD,
        embedding_neardup_pairs,
        embedding_neardup_pairs_bucketed,
        select_neardup_impl,
        srp_bucket_planes,
    )

    assert select_neardup_impl("exact", 10**9) == "exact"
    assert select_neardup_impl("bucketed", 1) == "bucketed"
    assert (
        select_neardup_impl("auto", EXACT_ALLPAIRS_ROW_THRESHOLD) == "exact"
    )
    assert (
        select_neardup_impl("auto", EXACT_ALLPAIRS_ROW_THRESHOLD + 1)
        == "bucketed"
    )
    assert select_neardup_impl("auto", None) == "bucketed"
    with pytest.raises(ValueError, match="unknown near-dup mode"):
        select_neardup_impl("fast", 1)
    # Plane count scales with log(corpus/target): fixed floor below the
    # target, +1 plane per doubling above it, capped.
    assert srp_bucket_planes(500) == 4
    assert srp_bucket_planes(512 * 64) == 6
    assert srp_bucket_planes(10**9, max_planes=16) == 16

    # 40 tight clusters of 3 near-identical vectors (plus deterministic
    # jitter): exact finds the 3 within-cluster pairs per cluster.
    rng = np.random.RandomState(7)
    dirs = rng.normal(size=(40, 16))
    rows = []
    for c, d in enumerate(dirs):
        for j in range(3):
            v = d + rng.normal(scale=0.01, size=16)
            rows.append((c * 10 + j, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    exact = {
        (r.id_a, r.id_b): r.cos
        for r in embedding_neardup_pairs(df, threshold=0.95).collect()
    }
    bucketed = {
        (r.id_a, r.id_b): r.cos
        for r in embedding_neardup_pairs_bucketed(
            df, threshold=0.95, target_bucket_rows=8
        ).collect()
    }
    assert set(bucketed) <= set(exact)
    for pair, cos in bucketed.items():
        assert cos == exact[pair]  # identical rounded score math
    # Near-identical vectors share buckets in every table: full recall
    # on the within-cluster pairs here.
    assert set(bucketed) == set(exact)
    # The auto path on a small corpus IS the exact tier.
    auto = {
        (r.id_a, r.id_b): r.cos
        for r in embedding_neardup_pairs(
            df, threshold=0.95, mode="auto"
        ).collect()
    }
    assert auto == exact


def test_wav_features_real_decode(spark):
    """The audio tier decodes REAL PCM WAV (stdlib wave, r5): stdlib-
    synthesized sine/square fixtures round-trip through the Arrow
    mapInPandas path with exact header metadata and analytically-known
    RMS/peak; corrupt RIFF and non-RIFF bytes are dropped, and
    decode_metadata prefers the real duration over the md5 stub for
    decodable audio rows."""
    import io
    import math
    import struct
    import wave

    from tutorial_apache_beam_spark.operators.multimodal import (
        decode_metadata,
        parse_wav,
        wav_features,
    )

    def make_wav(freq_hz, seconds, rate=8000, amp=0.5, channels=1):
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(channels)
            w.setsampwidth(2)
            w.setframerate(rate)
            n = int(rate * seconds)
            frames = bytearray()
            for i in range(n):
                v = int(amp * 32767 * math.sin(2 * math.pi * freq_hz * i / rate))
                frames += struct.pack("<h", v) * channels
            w.writeframes(bytes(frames))
        return buf.getvalue()

    sine = make_wav(440, 1.0)              # rms ~ amp/sqrt(2)
    stereo = make_wav(100, 0.5, channels=2)
    silence = make_wav(0, 0.25)            # all zeros
    corrupt = b"RIFF" + b"\x00" * 20       # claims RIFF, unreadable
    rows = [
        (1, "audio", bytearray(sine)),
        (2, "audio", bytearray(stereo)),
        (3, "audio", bytearray(silence)),
        (4, "audio", bytearray(corrupt)),
        (5, "audio", bytearray(b"not a wav at all")),
        (6, "image", bytearray(sine)),  # image rows never take the wav path
    ]
    media = spark.createDataFrame(
        rows, "doc_id BIGINT, media_type STRING, content BINARY"
    )

    got = {r["doc_id"]: r for r in wav_features(media).collect()}
    assert set(got) == {1, 2, 3, 6}  # decodable WAV bytes regardless of tag
    r1 = got[1]
    assert (r1["channels"], r1["sample_rate"], r1["duration_ms"]) == (1, 8000, 1000)
    assert abs(r1["rms"] - 0.5 / math.sqrt(2)) < 0.01
    assert abs(r1["peak"] - 0.5) < 0.01
    assert got[2]["channels"] == 2
    assert got[2]["duration_ms"] == 500
    assert got[3]["rms"] == 0.0 and got[3]["peak"] == 0.0

    # header-only parse agrees, and rejects the corrupt/non-RIFF bytes
    assert parse_wav(sine) == (1, 8000, 1000)
    assert parse_wav(corrupt) is None
    assert parse_wav(b"junk") is None

    # decode_metadata: REAL duration for decodable audio, stub otherwise
    meta = {r["doc_id"]: r for r in decode_metadata(media).collect()}
    assert meta[1]["duration_ms"] == 1000 and meta[1]["width"] == 0
    assert meta[4]["duration_ms"] >= 1000  # stub fallback (md5-derived)
    assert meta[6]["width"] > 0  # image row stays on the stub path


def test_image_header_real_decode(spark):
    """Image dimensions decode FOR REAL from container headers (r5):
    hand-built minimal PNG/GIF/BMP/JPEG byte strings with known
    dimensions parse exactly; truncated/foreign bytes return None and
    stay on the stub path in decode_metadata."""
    import struct

    from tutorial_apache_beam_spark.operators.multimodal import (
        decode_metadata,
        parse_image_header,
    )

    png = (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", 13) + b"IHDR"
        + struct.pack(">II", 640, 480) + b"\x08\x02\x00\x00\x00" + b"\x00" * 4
    )
    # Minimal spec-complete GIF: 13-byte logical screen descriptor
    # (no GCT, background 0, aspect 0) followed by the trailer 0x3B.
    gif = b"GIF89a" + struct.pack("<HH", 320, 200) + b"\x00\x00\x00" + b"\x3b"
    # With a global color table: packed 0x80|N=0 -> 6-byte GCT, then
    # the trailer introducer right after it.
    gif_gct = (
        b"GIF89a" + struct.pack("<HH", 16, 8)
        + b"\x80\x00\x00" + b"\x00" * 6 + b"\x3b"
    )
    bmp = (
        b"BM" + b"\x00" * 12
        + struct.pack("<I", 40)          # BITMAPINFOHEADER size (validated)
        + struct.pack("<ii", 800, -600)  # top-down DIB: negative height
        + b"\x00" * 6
    )
    # JPEG: SOI, APP0 (len 4), SOF0 with height=240 width=352
    jpeg = (
        b"\xff\xd8"
        + b"\xff\xe0" + struct.pack(">H", 4) + b"\x00\x00"
        + b"\xff\xc0" + struct.pack(">H", 11) + b"\x08"
        + struct.pack(">HH", 240, 352) + b"\x03" + b"\x00\x00\x00"
    )
    assert parse_image_header(png) == ("png", 640, 480)
    assert parse_image_header(gif) == ("gif", 320, 200)
    assert parse_image_header(gif_gct) == ("gif", 16, 8)
    assert parse_image_header(bmp) == ("bmp", 800, 600)
    assert parse_image_header(jpeg) == ("jpeg", 352, 240)
    assert parse_image_header(b"\x89PNG\r\n\x1a\nXXXX") is None
    assert parse_image_header(b"plain text") is None
    # English text starting 'BM' must NOT parse as BMP (DIB-size check)
    assert parse_image_header(b"BMW dealerships reported record sales") is None
    # English text starting 'GIF89a' must NOT parse as GIF (logical-
    # screen-descriptor guard: the data stream must continue with a
    # valid introducer — and a '!' in text position 13 still fails the
    # extension-label check)
    assert parse_image_header(b"GIF89a came out in 1989, notes the doc") is None
    assert parse_image_header(b"GIF89a format! A 1989 classic format") is None
    # Spec-valid GIF with a JUNK background byte and no GCT (the spec
    # says ignore that field; some encoders emit nonzero) must parse.
    gif_junk_bg = (
        b"GIF89a" + struct.pack("<HH", 320, 200)
        + b"\x00\x03\x00"           # packed=no GCT, background=3 (junk)
        + b"\x2c" + b"\x00" * 9     # image descriptor (fits)
    )
    assert parse_image_header(gif_junk_bg) == ("gif", 320, 200)
    # Graphic-control extension after the header also passes the label
    # check.
    gif_ext = (
        b"GIF89a" + struct.pack("<HH", 64, 64)
        + b"\x00\x00\x00" + b"\x21\xf9"
    )
    assert parse_image_header(gif_ext) == ("gif", 64, 64)
    # OS/2 BITMAPCOREHEADER (dib_size 12): uint16 dimensions at 18-22
    bmp_core = (
        b"BM" + b"\x00" * 12
        + struct.pack("<I", 12)
        + struct.pack("<HH", 100, 200)
        + struct.pack("<HH", 1, 24)  # planes, bit depth
        + b"\x00" * 4
    )
    assert parse_image_header(bmp_core) == ("bmp", 100, 200)
    # JPEG 0xFF fill padding between segments is legal and must be skipped
    jpeg_padded = (
        b"\xff\xd8"
        + b"\xff\xff\xff"  # fill bytes before the marker
        + b"\xe0" + struct.pack(">H", 4) + b"\x00\x00"
        + b"\xff\xc0" + struct.pack(">H", 11) + b"\x08"
        + struct.pack(">HH", 64, 128) + b"\x03" + b"\x00\x00\x00"
    )
    assert parse_image_header(jpeg_padded) == ("jpeg", 128, 64)

    media = spark.createDataFrame(
        [
            (1, "image", bytearray(png)),
            (2, "image", bytearray(jpeg)),
            (3, "image", bytearray(b"not an image")),
            (4, "audio", bytearray(png)),  # audio rows skip the image path
        ],
        "doc_id BIGINT, media_type STRING, content BINARY",
    )
    meta = {r["doc_id"]: r for r in decode_metadata(media).collect()}
    assert (meta[1]["width"], meta[1]["height"]) == (640, 480)
    assert (meta[2]["width"], meta[2]["height"]) == (352, 240)
    assert meta[1]["duration_ms"] == 0 and meta[2]["duration_ms"] == 0
    assert meta[3]["width"] >= 64  # stub fallback range
    assert meta[4]["duration_ms"] >= 1000  # audio stub (png isn't RIFF)


def test_media_header_parsers_never_raise_on_arbitrary_bytes():
    """Robustness: the real header parsers are fed raw corpus bytes at
    scale, so they must return None (never raise) on ANY input —
    including truncated containers, magic-only prefixes, and random
    binary. Seeded random + adversarial prefixes."""
    import random

    from tutorial_apache_beam_spark.operators.multimodal import (
        parse_image_header,
        parse_wav,
    )

    rng = random.Random(4242)
    prefixes = [
        b"", b"RIFF", b"RIFF\x00\x00\x00\x00WAVE", b"\x89PNG\r\n\x1a\n",
        b"GIF89a", b"BM", b"\xff\xd8", b"\xff\xd8\xff", b"\x89PNG",
    ]
    for i in range(300):
        body = bytes(rng.randrange(256) for _ in range(rng.randrange(0, 64)))
        data = prefixes[i % len(prefixes)] + body
        r1 = parse_wav(data)
        r2 = parse_image_header(data)
        for r in (r1, r2):
            if r is not None:
                assert all(isinstance(x, (str, int)) for x in r)
                # dimensions/duration from random bytes must still be
                # non-negative ints, never garbage types
                assert all(x >= 0 for x in r if isinstance(x, int))


def test_lexical_gate_fusion_matches_standalone_operators(spark):
    """The r5 fusion (one both-directions _counting_pair_stats feeding
    both the jaccard and containment branches) must be row-identical to
    the standalone operators it replaced — the shared-join rewrite is an
    execution optimization, never a semantics change."""
    from tutorial_apache_beam_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )
    from tutorial_apache_beam_spark.queries.llm import lexical_neardup_pairs

    gate = lexical_neardup_pairs(spark, SF_DIR)
    got_ng = {
        (r["id_a"], r["id_b"], r["score"])
        for r in gate.filter("method = 'ngram'").collect()
    }
    got_ct = {
        (r["id_a"], r["id_b"], r["score"])
        for r in gate.filter("method = 'containment'").collect()
    }
    docs = load_table(spark, SF_DIR, "documents")
    want_ng = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in ngram_jaccard_pairs(
            docs, threshold=0.2, max_doc_freq=100
        ).collect()
    }
    want_ct = {
        (r["id_a"], r["id_b"], r["containment"])
        for r in ngram_containment_pairs(
            docs, threshold=0.5, max_doc_freq=100
        ).collect()
    }
    assert got_ng == want_ng and len(want_ng) > 0
    assert got_ct == want_ct and len(want_ct) > 0


def test_kmeans_driver_and_distributed_paths_agree(spark):
    """r6: small training sets run Lloyd's in the driver (FAISS-style
    sample training); forcing the distributed loop on the same data must
    give the same centroids up to fp summation order — the threshold is
    an execution choice, never a semantics change."""
    import numpy as np

    from tutorial_apache_beam_spark.operators.similarity import (
        kmeans_centroids,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    fast = kmeans_centroids(emb, n_centroids=4, iters=2)  # driver path
    slow = kmeans_centroids(
        emb, n_centroids=4, iters=2, driver_train_threshold=0
    )  # distributed loop
    a = {r["centroid_id"]: r["cv"] for r in fast.collect()}
    b = {r["centroid_id"]: r["cv"] for r in slow.collect()}
    assert a.keys() == b.keys()
    for cid in a:
        assert np.allclose(a[cid], b[cid], atol=1e-9), cid


def test_kmeans_training_sample_cap_bounds_the_training_set(spark):
    """kmeans_centroids trains on a deterministic hash-sample once the
    corpus exceeds training_sample_cap (the 100 TB coarse-quantizer
    recipe): capped training must still produce k unit-norm centroids,
    be deterministic across calls, and keep ivf_ann_topk recall
    reasonable on the fixture."""
    import math

    from tutorial_apache_beam_spark.operators.similarity import (
        ann_recall_vs_exact,
        cosine_topk,
        ivf_ann_topk,
        kmeans_centroids,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    cents1 = kmeans_centroids(
        emb, n_centroids=4, iters=2, training_sample_cap=100
    ).collect()
    cents2 = kmeans_centroids(
        emb, n_centroids=4, iters=2, training_sample_cap=100
    ).collect()
    assert len(cents1) == 4
    # deterministic: hash-sample + hash-ordered init, no RNG
    assert sorted(map(str, cents1)) == sorted(map(str, cents2))
    for r in cents1:
        norm = math.sqrt(sum(x * x for x in r["cv"]))
        assert abs(norm - 1.0) < 1e-9

    probes = emb.filter(F.col("vec_id") % 100 == 7)
    exact = cosine_topk(emb, probes, k=5)
    trained = ivf_ann_topk(
        emb,
        probes,
        k=5,
        nprobe=2,
        centroids=spark.createDataFrame(
            cents1, "centroid_id INT, cv ARRAY<DOUBLE>"
        ),
    )
    row = ann_recall_vs_exact(exact, trained).first()
    assert row["n_exact"] > 0
    assert row["recall"] > 0.2  # sample-trained quantizer still useful


def test_cosine_topk_probe_cap_guards_driver(spark):
    """The exact tier's probe collect is limit-probed like every other
    driver materialization: an unbounded probe set raises with
    remediation instead of OOMing the driver."""
    import pytest

    emb = load_table(spark, SF_DIR, "embeddings")
    with pytest.raises(ValueError, match="max_probes"):
        cosine_topk(emb, emb, k=3, max_probes=10)  # corpus-as-probes
    # bounded sets work as before
    assert cosine_topk(emb, emb.limit(5), k=3, max_probes=10).count() == 15


def test_ann_duplicate_corpus_id_takes_two_topk_slots(spark):
    """The documented id-uniqueness contract of srp_ann_topk/ivf_ann_topk:
    both key their dedup and re-join on `id_col`, so a corpus id stored
    twice (here with identical vectors) is scored once per stored row —
    two (probe, id) rows unranked, two of the probe's k slots ranked."""
    import random

    from tutorial_apache_beam_spark.operators.similarity import (
        HYPERPLANE_TABLES,
        ivf_ann_topk,
    )

    dim = len(HYPERPLANE_TABLES[0][0])
    rnd = random.Random(3)
    corpus = [(i, [rnd.uniform(-1, 1) for _ in range(dim)]) for i in range(60)]
    corpus.append(corpus[7])  # vec_id 7 stored twice
    probe = [(200, [2 * x for x in corpus[7][1]])]  # cosine 1.0 with id 7
    schema = "vec_id long, embedding array<double>"
    c, p = spark.createDataFrame(corpus, schema), spark.createDataFrame(probe, schema)
    for name, ann in (
        ("srp", srp_ann_topk),
        ("ivf", lambda c, p, **kw: ivf_ann_topk(c, p, nprobe=2, **kw)),
    ):
        pairs = ann(c, p, k=3, rank=False).filter("vec_id = 7").collect()
        assert [(r.probe_id, r.cos) for r in pairs] == [(200, 1.0)] * 2, name
        top = ann(c, p, k=3).orderBy(F.desc("cos"), "vec_id").collect()
        assert [r.vec_id for r in top][:2] == [7, 7], name
        assert len(top) == 3 and top[2].vec_id != 7, name
