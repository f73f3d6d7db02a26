"""IVF ANN, video frame sampling, odd-size-page robustness."""

import os

import numpy as np
import pandas as pd
import pytest

from png_fixtures import FIXTURE_DIR
from tuatara_spark import fixtures as fx
from tuatara_spark.ops import multimodal, similarity
from tuatara_spark.ref import pipeline as pl


def test_ivf_topk_finds_near_neighbor(spark):
    rng = np.random.default_rng(5)
    # clustered data so IVF cells are meaningful
    centers = rng.standard_normal((4, 16)) * 4
    vecs = np.concatenate([
        centers[i] + rng.standard_normal((100, 16)) * 0.5 for i in range(4)
    ]).astype(np.float32)
    pdf = pd.DataFrame({"vec_id": range(400),
                        "embedding": [v.tolist() for v in vecs],
                        "label": 0})
    df = spark.createDataFrame(pdf)
    cent = similarity.ivf_centroids(df, n_centroids=4, sample=400)
    assert cent.shape == (4, 16)
    q = vecs[42].astype(np.float64)
    got = [r.vec_id for r in
           similarity.ivf_topk(df, q, cent, k=5, n_probe=1).collect()]
    assert got and got[0] == 42
    # determinism
    cent2 = similarity.ivf_centroids(df, n_centroids=4, sample=400)
    assert (cent == cent2).all()


def test_ivf_cell_assignment_covers_all(spark):
    rng = np.random.default_rng(6)
    vecs = rng.standard_normal((50, 8)).astype(np.float32)
    df = spark.createDataFrame(pd.DataFrame(
        {"vec_id": range(50), "embedding": [v.tolist() for v in vecs]}))
    cent = similarity.ivf_centroids(df, n_centroids=3, sample=50)
    cells = [r.ivf_cell for r in
             similarity.with_ivf_cell(df, cent).collect()]
    assert all(0 <= c < 3 for c in cells)


def test_frame_sample(spark, weights):
    f1, _ = fx.render_page("a", 128, 128, 4)
    f2, _ = fx.render_page("c", 128, 128, 4)
    f3, _ = fx.render_page("e", 128, 128, 4)
    video = multimodal.encode_tpgv([f1, f2, f3])
    df = spark.createDataFrame(pd.DataFrame(
        [{"url": "v1", "html": video},
         {"url": "bad", "html": b"NOTVIDEO"}]))
    rows = multimodal.frame_sample(df, every_k=2).collect()
    got = {(r.url, r.frame_idx) for r in rows}
    assert got == {("v1", 0), ("v1", 2)}  # every 2nd frame; bad skipped
    # sampled frames decode back to the original rasters
    by_idx = {r.frame_idx: r for r in rows}
    assert (fx.decode_tpage(bytes(by_idx[0].frame)) == f1).all()
    assert (fx.decode_tpage(bytes(by_idx[2].frame)) == f3).all()


def test_odd_size_page_extraction(weights):
    # 200x296 page: not square, not a multiple of 32 → pad-to-32 path
    img, lines = fx.render_page("OddSize", 200, 296, 4)
    r = pl.extract_page(img, weights)
    assert r["text"] == "\n".join(lines)


def test_tall_narrow_page(weights):
    img, lines = fx.render_page("ab", 512, 160, 4)
    r = pl.extract_page(img, weights)
    assert r["text"] == "\n".join(lines)


def test_ngram_prefix_filter_lossless_vs_bruteforce(spark):
    """The prefix-filtered candidate join must return EXACTLY the pairs a
    quadratic all-pairs Jaccard finds — the losslessness theorem checked
    on adversarial + randomized corpora (dup-heavy, short texts, empty
    strings, sub-k texts)."""
    import itertools
    import numpy as np
    from tuatara_spark.ops import dedup

    def grams(t, k=3):
        lc = t.lower()
        if len(lc) < k:
            return {lc}
        return {lc[i:i + k] for i in range(len(lc) - k + 1)}

    def brute(texts, t):
        out = {}
        for (i, a), (j, b) in itertools.combinations(enumerate(texts), 2):
            ga, gb = grams(a), grams(b)
            inter = len(ga & gb)
            jac = inter / (len(ga) + len(gb) - inter)
            if jac >= t:
                out[(i, j)] = round(jac, 9)
        return out

    rng = np.random.default_rng(7)
    corpora = [
        ["", "a", "ab", "abc", "abc", "abcd", "xyz"],          # sub-k edge
        ["the cat sat", "the cat sat!", "a dog ran", "the cat sat",
         "THE CAT SAT", "unrelated words entirely"],           # dups + case
    ]
    for _ in range(3):                                          # randomized
        n = int(rng.integers(5, 12))
        base = ["".join(rng.choice(list("abcdef "), size=12)) for _ in range(3)]
        corpora.append([
            (base[int(rng.integers(0, 3))]
             + ("" if rng.random() < 0.5 else str(int(rng.integers(0, 10)))))
            for _ in range(n)])

    for texts in corpora:
        for thr in (0.1, 0.3, 0.5, 0.55, 0.8):
            pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
            df = spark.createDataFrame(pdf)
            got = {(r.id_a, r.id_b): round(r.jaccard, 9)
                   for r in dedup.ngram_jaccard_pairs(
                       df, k=3, threshold=thr).collect()}
            assert got == brute(texts, thr), (texts, thr)


def test_image_features_all_formats(spark, weights):
    """Decode → feature-extract over TPAGE, TPBIT and scan PNG payloads:
    ink bbox matches the known fixture geometry; undecodable rows skipped."""
    img, _ = fx.render_page("Xy", 256, 256, 4)
    rows = [("tpage", bytearray(fx.encode_tpage(img))),
            ("tpbit", bytearray(fx.encode_tpbit(img))),
            ("junk", bytearray(b"NOPE" + b"0" * 16))]
    with open(os.path.join(FIXTURE_DIR, "scan_rgb.png"), "rb") as f:
        rows.append(("png", bytearray(f.read())))
    df = spark.createDataFrame(rows, "url string, html binary")
    feats = {r.url: r for r in multimodal.image_features(df).collect()}
    assert set(feats) == {"tpage", "tpbit", "png"}   # junk skipped
    for u in ("tpage", "tpbit"):
        r = feats[u]
        # calibration mark origin at (s, s) = (4, 4)
        assert (r.ink_x0, r.ink_y0) == (4, 4)
        assert r.ink_ratio > 0 and r.ink_x1 > r.ink_x0
    # identical page → identical features regardless of wire format
    a, b = feats["tpage"].asDict(), feats["tpbit"].asDict()
    a.pop("url"), b.pop("url")
    assert a == b
    assert feats["png"].ink_ratio > 0                # real document ink


def test_encode_tpbit_rejects_nonbinary_without_optin():
    """TPBIT is 1-bit: silent binarization of grayscale content would be a
    silent data loss (ADVICE round 2) — must raise unless threshold= opts
    in explicitly."""
    gray = np.full((16, 16, 3), 100, dtype=np.uint8)
    with pytest.raises(ValueError, match="lossy"):
        fx.encode_tpbit(gray)
    # explicit opt-in: 100 < 128 → all ink
    buf = fx.encode_tpbit(gray, threshold=128)
    out = fx.decode_payload(buf)
    assert (np.asarray(out) == 0).all()
    # binary pages keep working with no opt-in and round-trip exactly
    img, _ = fx.render_page("a", 128, 128, 4)
    assert (np.asarray(fx.decode_payload(fx.encode_tpbit(img))) == img).all()


def test_dedup_release_caches(spark):
    """Pair operators register their persisted intermediates and
    cluster_ids its local checkpoints; release_caches() frees them all
    (long-lived-session hygiene): after consume + release no RDD the
    operators persisted is left in the block manager's registry."""
    from tuatara_spark.ops import dedup as dd
    pdf = pd.DataFrame({"doc_id": range(20),
                        "text": [f"document number {i} body text" for i in range(10)] * 2})
    df = spark.createDataFrame(pdf)
    dd.release_caches()

    def persistent():
        return set(spark.sparkContext._jsc.getPersistentRDDs())

    baseline = persistent()
    pairs = dd.minhash_lsh_pairs(df, threshold=0.5)
    clusters = dd.cluster_ids(df, pairs)
    got = {r.doc_id: r.cluster_id for r in clusters.collect()}
    assert sorted(got) == list(range(20))
    assert all(got[i] == got[i + 10] <= i for i in range(10))
    assert dd._LIVE_CACHES and persistent() - baseline
    released = dd.release_caches()
    assert released >= 3 and not dd._LIVE_CACHES
    # a subset, not equality: Spark's cleaner may drop unrelated RDDs
    assert persistent() <= baseline


def test_batched_scorers_match_catalyst(spark):
    """The pandas_udf scale-path twins (lsh bucket / ivf cell) must
    agree with the oracle-checked Catalyst forms on the real
    embeddings fixture — pinning the 'Catalyst for oracles, NumPy for
    scale' policy with an equality, not a claim."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    dim = len(emb.select("embedding").first()[0])

    planes = similarity.hyperplanes(dim, n_planes=8, seed=7)
    a = {r.vec_id: r.bucket
         for r in similarity.with_lsh_bucket(emb, planes).collect()}
    b = {r.vec_id: r.bucket
         for r in similarity.with_lsh_bucket_batched(emb, planes).collect()}
    assert a == b

    cent = similarity.ivf_centroids(emb, n_centroids=8, sample=512)
    a = {r.vec_id: r.ivf_cell
         for r in similarity.with_ivf_cell(emb, cent).collect()}
    b = {r.vec_id: r.ivf_cell
         for r in similarity.with_ivf_cell_batched(emb, cent).collect()}
    assert a == b


def test_wav_pcm_round_trip_and_meta(spark):
    """ops/audio.py: RIFF/WAVE PCM16 round trip (mono + stereo), unknown
    chunks skipped, malformed → error row, non-PCM → stubbed row."""
    import struct
    from tuatara_spark.ops import audio

    rng = np.random.default_rng(9)
    mono = (rng.standard_normal(5000) * 8000).astype(np.int16)
    stereo = (rng.standard_normal((3000, 2)) * 8000).astype(np.int16)
    b_mono = audio.encode_wav_pcm16(mono, 16000)
    b_st = audio.encode_wav_pcm16(stereo, 44100)
    r, ch, pcm, fmt = audio.decode_wav(b_mono)
    assert (r, ch, fmt) == (16000, 1, "wav_pcm16") and (pcm[:, 0] == mono).all()
    r, ch, pcm, fmt = audio.decode_wav(b_st)
    assert (r, ch) == (44100, 2) and (pcm == stereo).all()
    # unknown chunk before fmt (odd length → word-aligned skip)
    extra = b"LIST" + struct.pack("<I", 3) + b"abc\x00"
    body = b"WAVE" + extra + b_mono[12:]   # [12:] = original chunk list
    patched = b"RIFF" + struct.pack("<I", len(body)) + body
    r, ch, pcm, _ = audio.decode_wav(patched)
    assert r == 16000 and (pcm[:, 0] == mono).all()
    # non-PCM format tag → NotImplementedError (stub path)
    mutated = bytearray(b_mono)
    mutated[20:22] = struct.pack("<H", 85)  # MP3 tag
    with pytest.raises(NotImplementedError):
        audio.decode_wav(bytes(mutated))

    rows = pd.DataFrame({
        "url": ["m", "s", "mp3", "bad"],
        "html": [b_mono, b_st, bytes(mutated), b"RIFFjunk"],
    })
    got = {r.url: r for r in audio.extract_audio_meta(
        spark.createDataFrame(rows)).collect()}
    assert got["m"].format == "wav_pcm16" and got["m"].n_samples == 5000
    assert got["m"].duration_ms == 5000 * 1000 // 16000
    assert got["m"].peak == int(np.abs(mono).max())
    assert got["m"].rms == pytest.approx(
        float(np.sqrt((mono.astype(np.float64) ** 2).mean())), rel=1e-6)
    assert got["s"].n_channels == 2
    assert got["mp3"].format == "stubbed"
    assert got["bad"].format == "error"


def test_thumbnail_all_formats_and_jpeg_output(spark):
    """thumbnail decodes every real payload format and can emit JPEG-coded
    thumbnails (decodable, right size, ~much smaller than raw)."""
    from tuatara_spark.ref import jpeg as J
    from tuatara_spark.ref.png import encode_png

    img, _ = fx.render_page("ab", 256, 256, 4)
    rows = pd.DataFrame({
        "url": ["tpage", "tpbit", "png", "jpeg", "bad"],
        "html": [fx.encode_tpage(img), fx.encode_tpbit(img),
                 encode_png(img), J.encode_jpeg(img, quality=95),
                 b"JUNK...."],
    })
    df = spark.createDataFrame(rows)
    raw = {r.url: r for r in multimodal.thumbnail(df, 32, 32).collect()}
    assert set(raw) == {"tpage", "tpbit", "png", "jpeg"}   # bad skipped
    assert all(len(r.thumb) == 32 * 32 * 3 for r in raw.values())
    # TPAGE and TPBIT payloads are the same pixels → identical thumbnails
    assert bytes(raw["tpage"].thumb) == bytes(raw["tpbit"].thumb)

    jp = {r.url: r for r in
          multimodal.thumbnail(df, 32, 32, out_format="jpeg").collect()}
    for r in jp.values():
        dec = J.decode_jpeg(bytes(r.thumb))
        assert dec.shape == (32, 32, 3)
        assert len(r.thumb) < 32 * 32 * 3 / 2     # actually compressed


def test_html_strip_and_main_block(spark):
    """ops/htmlx.py on adversarial pages: nested boilerplate, comments
    hiding tags, attributes with '>', link-heavy blocks losing to the
    text block, tie-break to the first block; plans stay JVM-only."""
    from tuatara_spark.ops import htmlx

    pages = pd.DataFrame({
        "url": ["a", "b", "c", "d"],
        "html": [
            # plain: nav+style stripped, p text kept
            '<html><style>.x{}</style><nav><a href="/">H</a></nav>'
            '<p>Main content here</p></html>',
            # comment containing a fake tag; attribute quoting
            '<!-- <p>ghost</p> --><div data-x="1">Real   text</div>',
            # link farm vs short honest paragraph
            '<div><a>1</a><a>2</a><a>3</a><a>4</a>linkfarm</div>'
            '<p>short</p>',
            # nested boilerplate inside kept block
            '<div>keep <script>var x=1;</script>me</div>',
        ]})
    df = spark.createDataFrame(pages)
    got = {r.url: r.main_text
           for r in htmlx.strip_boilerplate(df).collect()}
    assert got["a"] == "Main content here"
    assert got["b"] == "Real text"
    assert got["c"] == "1 2 3 4 linkfarm short"
    assert got["d"] == "keep me"

    best = {r.url: (r.block_text, r.score)
            for r in htmlx.main_block(df).collect()}
    assert best["a"][0] == "Main content here"
    assert best["c"][0] == "short"          # link farm penalized away
    assert best["d"][0] == "keep me"
    # JVM-only: no Python evaluation node in either plan
    for op in (htmlx.strip_boilerplate(df), htmlx.main_block(df)):
        plan = op._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan


def test_fuzz_wav_round_trip():
    """Property-ish sweep: PCM16 arrays of varied lengths/channels/rates
    round-trip exactly through the WAV writer/parser."""
    from tuatara_spark.ops import audio
    rng = np.random.default_rng(4)
    for n in (0, 1, 7, 1024):
        for ch in (1, 2):
            for rate in (8000, 48000):
                s = (rng.standard_normal((n, ch)) * 12000).astype(np.int16)
                r, c, pcm, _ = audio.decode_wav(
                    audio.encode_wav_pcm16(s if ch > 1 else s[:, 0], rate))
                assert (r, c) == (rate, ch)
                assert pcm.shape == (n, ch) and (pcm == s).all()


def test_cluster_ids_merges_chains(spark):
    """a–b and b–c pairs must land a, b, c in ONE cluster (pairwise
    keep-smallest would under-merge the chain), singletons self-cluster,
    and two disjoint clusters stay apart."""
    from tuatara_spark.ops import dedup as dd
    docs = pd.DataFrame({"doc_id": [1, 2, 3, 7, 8, 9],
                         "text": ["x"] * 6})
    pairs = pd.DataFrame({"id_a": [1, 2, 8], "id_b": [2, 3, 9]})
    out = {r.doc_id: r.cluster_id for r in dd.cluster_ids(
        spark.createDataFrame(docs),
        spark.createDataFrame(pairs)).collect()}
    dd.release_caches()
    assert out == {1: 1, 2: 1, 3: 1, 7: 7, 8: 8, 9: 8}


def test_asof_and_range_join_edges(spark):
    """As-of: same-instant right row IS visible (>=), no-prior row → NULL,
    latest-of-several wins. Range join: start inclusive, end exclusive,
    cross-bucket intervals matched (no bucket-boundary misses)."""
    import datetime as dt
    from tuatara_spark.ops import joins
    T = lambda s: dt.datetime(2024, 1, 1, *s)
    left = pd.DataFrame({
        "event_id": [1, 2, 3],
        "user_id": [10, 10, 10],
        "ts": [T((0, 30)), T((2, 0)), T((0, 5))],
    })
    right = pd.DataFrame({
        "user_id": [10, 10, 10],
        "ts": [T((0, 10)), T((0, 30)), T((1, 0))],
        "value": [1.0, 2.0, 3.0],
    })
    out = {r.event_id: r.value_asof for r in joins.asof_join(
        spark.createDataFrame(left), spark.createDataFrame(right),
        key="user_id", ts="ts").collect()}
    assert out[1] == 2.0          # same-instant right row visible (>=)
    assert out[2] == 3.0          # latest prior wins
    assert out[3] is None         # 0:05 precedes every right row → NULL

    points = pd.DataFrame({
        "click_id": [1, 2, 3, 4],
        "user_id": [10] * 4,
        "ts": [T((1, 0)), T((2, 59, 59)), T((3, 0)), T((0, 59, 59))],
    })
    iv = pd.DataFrame({
        "iv_id": [100],
        "user_id": [10],
        "start": [T((1, 0))],
        "end": [T((3, 0))],      # [1:00, 3:00): crosses two hour buckets
    })
    got = sorted((r.click_id, r.iv_id) for r in joins.range_join(
        spark.createDataFrame(points), spark.createDataFrame(iv),
        key="user_id", bucket_width=3600).collect())
    assert got == [(1, 100), (2, 100)]   # start incl, end excl, pre-start out


def test_top_terms_ranking_and_exact_score(spark):
    """top_terms: rarity dominates frequency; ties break lexicographically;
    the score is exact integer arithmetic (tf * 1e6 div df)."""
    from tuatara_spark.ops import textstats
    docs = spark.createDataFrame(
        [(1, "common common common rare common"),
         (2, "common zeta alpha"),
         (3, "common other words here")],
        ["doc_id", "text"])
    out = {(r.doc_id, r.rank): r for r in textstats.top_terms(docs, k=2).collect()}
    # doc 1: 'common' (tf=4, df=3 → 4_000_000 div 3 = 1_333_333) outranks
    # 'rare' (tf=1, df=1 → 1_000_000); pin the exact integer scores.
    assert out[(1, 1)].token == "common" and out[(1, 1)].score == 1_333_333
    assert out[(1, 2)].token == "rare" and out[(1, 2)].score == 1_000_000
    # doc 2: alpha and zeta tie (tf=1, df=1) — lexicographic break
    assert out[(2, 1)].token == "alpha" and out[(2, 2)].token == "zeta"


def test_main_chain_merges_adjacent_content(spark):
    """main_chain: two adjacent mid-size paragraphs outscore one larger
    isolated block; a no-content doc yields no row; linky blocks never
    chain."""
    from tuatara_spark.ops import htmlx
    pages = [
        # chain {0,1} (25+25=50) must beat isolated block 3 (len 40)
        ("a", "<p>" + "x" * 25 + "</p><p>" + "y" * 25 + "</p>"
              "<div><a>1</a><a>2</a><a>3</a></div><p>" + "z" * 40 + "</p>"),
        # every block below min_score → doc absent from output
        ("b", "<p>tiny</p><div><a>l</a>link</div>"),
    ]
    out = {r.url: r for r in htmlx.main_chain(
        spark.createDataFrame(pages, ["url", "html"])).collect()}
    assert set(out) == {"a"}
    r = out["a"]
    assert (r.chain_start, r.chain_len, r.chain_score) == (0, 2, 50)
    assert r.chain_text == "x" * 25 + " " + "y" * 25


def test_wav_all_encodings_round_trip_and_units(spark):
    """pcm8/pcm16/pcm24/f32/f64 (plain + EXTENSIBLE headers) round-trip in
    native units; extract_audio_meta reports rms/peak in PCM16-equivalent
    units so the same waveform scores identically at every encoding."""
    from tuatara_spark.ops import audio
    rng = np.random.default_rng(11)
    n = 2000
    cases = [
        ("pcm8", rng.integers(-128, 128, n).astype(np.int16)),
        ("pcm16", (rng.standard_normal(n) * 8000).astype(np.int16)),
        ("pcm24", rng.integers(-(2**23), 2**23, n).astype(np.int32)),
        ("f32", (rng.standard_normal(n) * 0.25).astype(np.float32)),
        ("f64", (rng.standard_normal(n) * 0.25).astype(np.float64)),
    ]
    for fmt, src in cases:
        for ext in (False, True):
            r, c, pcm, label = audio.decode_wav(
                audio.encode_wav(src, 22050, fmt, extensible=ext))
            assert (r, c, label) == (22050, 1, f"wav_{fmt}")
            assert (pcm[:, 0] == src).all(), fmt
    # the same square wave at every encoding → same PCM16-unit peak/rms
    amp, amp8 = 1200, 1200 // 256
    def square(a, dtype):
        s = np.empty(n, dtype)
        s[0::2], s[1::2] = a, -a
        return s
    payloads = {
        "p16": audio.encode_wav(square(amp, np.int16), 16000, "pcm16"),
        "p8": audio.encode_wav(square(amp8, np.int16), 16000, "pcm8"),
        "p24": audio.encode_wav(square(amp * 256, np.int32), 16000, "pcm24"),
        "f32": audio.encode_wav(square(amp / 32767.0, np.float32),
                                16000, "f32"),
    }
    df = spark.createDataFrame(pd.DataFrame(
        {"url": list(payloads), "html": list(payloads.values())}))
    got = {r.url: r for r in audio.extract_audio_meta(df).collect()}
    for u in ("p16", "p24", "f32"):
        assert got[u].peak == amp, u
        assert abs(got[u].rms - amp) < 0.01, u
    assert got["p8"].peak == amp8 * 256


def test_gopher_quality_rules(spark):
    """Each Gopher rule flips on its crafted counterexample; a clean
    50-word doc with stop words passes everything."""
    from tuatara_spark.ops import textstats
    good = ("the cat and the dog have words to say about that house with "
            + " ".join(f"word{i}" for i in range(40)))
    docs = spark.createDataFrame([
        (0, good),
        (1, "short doc with the and of"),                     # word count
        (2, "the of and " + "a " * 60),                       # mean wlen < 3
        (3, "the of and " + "# # # # # # # " + "w " * 50),    # symbols
        (4, "the of and " + "1 2 3 4 5 6 7 8 9 10 " * 6),     # alpha ratio
        (5, " ".join(f"word{i}" for i in range(60))),         # no stop words
        (6, "the of and\n" + "\n".join("- b" for _ in range(30))),  # bullets
        (7, "the of and\n" + "\n".join("trailing..." for _ in range(9))),
    ], ["doc_id", "text"])
    rows = {r.doc_id: r for r in textstats.gopher_quality(docs).collect()}
    assert rows[0].gopher_pass
    assert not rows[1].ok_word_count
    assert not rows[2].ok_mean_wlen
    assert not rows[3].ok_symbol_ratio
    assert not rows[4].ok_alpha_ratio
    assert not rows[5].ok_stop_words
    assert not rows[6].ok_bullets
    assert not rows[7].ok_ellipsis and rows[7].n_ellipsis_lines == 9


def test_html_entities_and_metadata(spark):
    """Entity decode happens AFTER the tag strip (&lt;b&gt; surfaces as
    literal '<b>'); page_metadata pulls title/lang/canonical/robots with
    quote/case variants and returns empty-string/false when absent."""
    from tuatara_spark.ops import htmlx
    pages = [
        ("a", "<p>Q&amp;A &lt;b&gt; &quot;x&quot;&nbsp;&mdash;&hellip;</p>"),
        ("b", '<HTML LANG="en-GB"><head><title>T1</title>'
              '<meta name=robots content="NOINDEX">'
              '<link rel=canonical href="https://e.x/c"></head>'
              "<body><p>hi</p></body></html>"),
        ("c", "<html><body>no head at all</body></html>"),
    ]
    df = spark.createDataFrame(pages, ["url", "html"])
    stripped = {r.url: r.main_text
                for r in htmlx.strip_boilerplate(df).collect()}
    assert stripped["a"] == 'Q&A <b> "x" —…'
    meta = {r.url: r for r in htmlx.page_metadata(df).collect()}
    b = meta["b"]
    assert (b.title, b.lang_attr, b.canonical_href) == \
        ("T1", "en-GB", "https://e.x/c")
    assert b.noindex and not b.nofollow
    c = meta["c"]
    assert (c.title, c.lang_attr, c.canonical_href) == ("", "", "")
    assert not c.noindex and not c.nofollow


def test_scene_changes_real_frames(spark):
    """scene_changes on rendered (non-solid) frames matches a NumPy
    brute-force SAD; a repeated frame yields sad=0 / no cut, a content
    change yields a cut; junk payloads are skipped."""
    from tuatara_spark.ops import multimodal
    f1, _ = fx.render_page("a", 128, 128, 4)
    f2, _ = fx.render_page("z", 128, 128, 4)
    clip = multimodal.encode_tpgv([f1, f1, f2])
    df = spark.createDataFrame(
        pd.DataFrame([{"url": "v", "html": clip},
                      {"url": "junk", "html": b"NOPE"}]))
    rows = {r.frame_idx: r for r in
            multimodal.scene_changes(df, thr_e2=100).collect()}
    assert set(rows) == {1, 2}
    assert rows[1].sad == 0 and not rows[1].is_cut
    want = int(np.abs(f2.astype(np.int64) - f1.astype(np.int64)).sum())
    assert rows[2].sad == want
    npx = 128 * 128 * 3
    assert rows[2].mean_diff_e4 == want * 10_000 // npx
    assert rows[2].is_cut == (want * 100 >= 100 * npx)


def test_crawl_pipeline_dedup_noindex_interaction(spark):
    """Composed crawl pipeline: when the NEWER snapshot of a canonical
    url is noindex-dropped, the older snapshot must win the keep-latest
    dedup (winner parity check over the synthesized corpus)."""
    from tuatara_spark.queries import q_crawl_pipeline_docs
    rows = q_crawl_pipeline_docs(spark, "/root/testdata/sf0.001").collect()
    by_pair = {r.doc_id // 2: r.doc_id for r in rows}
    for k, winner in by_pair.items():
        newer = 2 * k + 1
        assert winner == (2 * k if newer % 5 == 0 else newer)
    # every kept winner is indexable and pairs are unique
    assert all(w % 5 != 0 for w in by_pair.values())
    assert len(by_pair) == len(rows)


def test_redact_pii_order_and_counts(spark):
    """redact_pii: typed tokens replace each span; counts follow
    replacement order (no double counting once a span is redacted);
    clean text passes through untouched."""
    from tuatara_spark.ops import textstats
    docs = spark.createDataFrame([
        (0, "write to a.b+c@ex-1.co or b@x.io from 192.168.0.1"),
        (1, "call +1 (415) 555-0123 now"),
        (2, "clean text with no pii at all"),
    ], ["doc_id", "text"])
    rows = {r.doc_id: r for r in textstats.redact_pii(docs).collect()}
    assert rows[0].n_email == 2 and rows[0].n_ipv4 == 1
    assert rows[0].redacted == "write to <EMAIL> or <EMAIL> from <IPV4>"
    assert rows[1].n_phone == 1 and "<PHONE>" in rows[1].redacted
    r2 = rows[2]
    assert (r2.n_email, r2.n_ipv4, r2.n_phone) == (0, 0, 0)
    assert r2.redacted == "clean text with no pii at all"


def test_adversarial_header_dims_rejected_fast():
    """A payload whose header claims billions of pixels must raise
    IMMEDIATELY (no multi-GB allocation, no hour-long MCU loop) — the
    crawl-robustness guard shared by all ref codecs."""
    import struct
    import time as _t
    import zlib as _z
    from tuatara_spark.ref import bmp as B, gif as G, jpeg as J
    from tuatara_spark.ref import png as P, tiff as T
    t0 = _t.time()
    # GIF: 65535x65535 logical screen
    gif = (b"GIF89a" + struct.pack("<HHBBB", 65535, 65535, 0, 0, 0)
           + b"\x2c" + struct.pack("<HHHHB", 0, 0, 1, 1, 0) + b"\x02\x00\x3b")
    with pytest.raises(ValueError, match="implausible"):
        G.decode_gif(gif)
    # PNG: huge IHDR
    ihdr = struct.pack(">IIBBBBB", 100000, 100000, 8, 2, 0, 0, 0)
    png = (P.PNG_MAGIC + struct.pack(">I", len(ihdr)) + b"IHDR" + ihdr
           + struct.pack(">I", _z.crc32(b"IHDR" + ihdr))
           + struct.pack(">I", 0) + b"IEND" + struct.pack(">I", 0))
    with pytest.raises(ValueError, match="implausible"):
        P.decode_png(png)
    # JPEG: 65535x65535 SOF0
    sof = struct.pack(">BHHB", 8, 65535, 65535, 1) + bytes([1, 0x11, 0])
    jpg = (b"\xff\xd8\xff\xc0" + struct.pack(">H", len(sof) + 2) + sof
           + b"\xff\xd9")
    with pytest.raises(ValueError, match="implausible"):
        J.decode_jpeg(jpg)
    # BMP: huge dims
    bmp = (b"BM" + struct.pack("<IHHI", 100, 0, 0, 54)
           + struct.pack("<IiihHIIiiII", 40, 90000, 90000, 1, 24, 0, 0,
                         0, 0, 0, 0))
    with pytest.raises(ValueError, match="implausible"):
        B.decode_bmp(bmp)
    # TIFF: huge dims via LONG tags
    ifd = bytearray(b"II*\x00" + struct.pack("<I", 8) + struct.pack("<H", 4))
    for tag, val in ((256, 100000), (257, 100000), (273, 8), (279, 1)):
        ifd += struct.pack("<HHII", tag, 4, 1, val)
    ifd += struct.pack("<I", 0)
    with pytest.raises(ValueError, match="implausible"):
        T.decode_tiff(bytes(ifd))
    assert _t.time() - t0 < 5.0      # all five rejected without work


def test_segment_dedup_semantics(spark):
    from tuatara_spark.ops import dedup
    rows = [
        # "x y z" chunk repeats across docs 1 and 2 -> dropped from both
        (1, "x y z a b c"),
        (2, "x y z d e f"),
        # doc 3: "g h i" also occurs as doc 5's whole text -> cross-doc drop
        (3, "g h i j k l"),
        # doc 4: same segment twice WITHIN one doc counts globally -> both go
        (4, "m n o m n o"),
        # doc 5: everything repeated -> rebuilt empty but row kept
        (5, "g h i"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in
           dedup.segment_dedup(df, seg_tokens=3, min_count=2).collect()}
    assert out[1].text_dedup == "a b c" and out[1].n_kept == 1
    assert out[2].text_dedup == "d e f"
    assert out[3].text_dedup == "j k l" and out[3].n_kept == 1
    assert out[4].text_dedup == "" and out[4].n_kept == 0
    assert out[5].text_dedup == "" and out[5].n_segs == 1
    # tail chunk shorter than seg_tokens is its own segment
    df2 = spark.createDataFrame([(1, "a b c d"), (2, "d")],
                                "doc_id long, text string")
    out2 = {r.doc_id: r for r in
            dedup.segment_dedup(df2, seg_tokens=3, min_count=2).collect()}
    assert out2[1].n_segs == 2 and out2[1].text_dedup == "a b c"
    assert out2[2].text_dedup == ""


def test_segment_dedup_drop_join_is_broadcast(spark):
    from tuatara_spark.ops import dedup
    df = spark.createDataFrame([(i, "w x y z") for i in range(50)],
                               "doc_id long, text string")
    plan = dedup.segment_dedup(df)._jdf.queryExecution().executedPlan() \
        .toString()
    assert "BroadcastHashJoin" in plan or "broadcast" in plan.lower(), plan


def test_phash_near_dup_detection(spark, weights):
    """aHash: identical pages collide at Hamming 0; a small overlay stays
    within a few bits; a different page is far away."""
    import numpy as np
    from tuatara_spark.ops import multimodal as mm
    img1, _ = fx.render_page("hellopage", 256, 256, 4)
    img2 = img1.copy()
    img2[200:208, 200:208] = 0          # tiny 8x8 ink blot overlay
    # different sparse TEXT pages can land near in aHash (mostly-white
    # pages share their block-mean structure) — the discriminative case
    # for block-mean hashing is structural: half the page inked
    img3, _ = fx.render_page("othertext", 256, 256, 4)
    img3 = img3.copy()
    img3[:, :128] = 0
    rows = [("a", bytearray(fx.encode_tpage(img1))),
            ("b", bytearray(fx.encode_tpage(img1))),
            ("c", bytearray(fx.encode_tpage(img2))),
            ("d", bytearray(fx.encode_tpage(img3))),
            ("junk", bytearray(b"NOPE"))]
    df = spark.createDataFrame(rows, "url string, html binary")
    sigs = {r.url: r.phash for r in mm.phash64(df).collect()}
    assert set(sigs) == {"a", "b", "c", "d"}      # junk skipped
    assert sigs["a"] == sigs["b"]
    ham = lambda x, y: bin((x ^ y) & (2**64 - 1)).count("1")
    assert 0 <= ham(sigs["a"], sigs["c"]) <= 3    # overlay: few bits
    assert ham(sigs["a"], sigs["d"]) > 3          # different page: far
    pairs = {(r.id_a, r.id_b): r.hamming for r in
             mm.phash_dup_pairs(df, max_hamming=3,
                                max_bucket=None).collect()}
    assert ("a", "b") in pairs and pairs[("a", "b")] == 0
    assert ("a", "c") in pairs and ("b", "c") in pairs
    assert not any("d" in p for p in pairs)


def test_hamming_pairs64_matches_bruteforce(spark):
    """The banded join over arbitrary 64-bit signatures returns exactly
    the brute-force Hamming<=t pairs (banding is lossless for t<=3)."""
    import itertools
    import numpy as np
    from tuatara_spark.ops import dedup as dd
    rng = np.random.default_rng(3)
    base = rng.integers(-2**63, 2**63 - 1, size=6, dtype=np.int64)
    sigs = []
    for i, b in enumerate(base):
        sigs.append((f"s{i}", int(b)))
        flip = int(b) ^ (1 << int(rng.integers(0, 64)))   # 1-bit neighbor
        sigs.append((f"s{i}x", np.int64(flip).item()))
    df = spark.createDataFrame(sigs, "doc_id string, simhash long")
    got = {(r.id_a, r.id_b): r.hamming for r in
           dd.hamming_pairs64(df, id_col="doc_id", max_hamming=3,
                              max_bucket=None).collect()}
    want = {}
    for (ia, sa), (ib, sb) in itertools.combinations(sigs, 2):
        h = bin((sa ^ sb) & (2**64 - 1)).count("1")
        if h <= 3:
            want[tuple(sorted((ia, ib)))] = h
    assert got == want


def test_extract_links_edges(spark):
    from tuatara_spark.ops import htmlx
    html = ('<body><a href=\'/single-quoted\'>sq</a>'
            '<area href="/not-an-anchor">'
            '<A HREF="/caps" target="_b">CAPS <i>inner</i></A>'
            '<a class="y" href="/attr-before">attrs</a>'
            '<a href=/unquoted rel=x>bare</a>'
            '<a href="/real" data-href="/tracker">first-wins</a>'
            '<a data-href="/only">no real href</a>'
            '<a href="/empty"></a></body>')
    df = spark.createDataFrame([("u1", html)], "url string, html string")
    rows = htmlx.extract_links(df).orderBy("link_pos").collect()
    assert [(r.href, r.anchor) for r in rows] == [
        ("/single-quoted", "sq"),
        ("/caps", "CAPS inner"),
        ("/attr-before", "attrs"),
        ("/unquoted", "bare"),          # bare attribute value
        ("/real", "first-wins"),        # data-href must not shadow href
        ("/empty", ""),                 # <a data-href> alone: no row
    ]
    assert [r.link_pos for r in rows] == [0, 1, 2, 3, 4, 5]
    plan = htmlx.extract_links(df)._jdf.queryExecution().executedPlan() \
        .toString()
    for bad in ("BatchEvalPython", "ArrowEvalPython"):
        assert bad not in plan, plan


def test_mp3_header_walk_metadata(spark):
    """ops/audio.py MP3 frame-header walk: version/layer/bitrate/rate/
    channels/frames/duration from headers alone (ISO 11172-3 / 13818-3),
    ID3v2 skip, truncation tolerance, garbage rejection — and the Spark
    meta op routes MP3 payloads through it (NULL rms/peak, no decode)."""
    from tuatara_spark.ops import audio

    # MPEG-1 Layer III, 128 kbps @ 44100, stereo: frame len = 417,
    # 1152 samples/frame
    b = audio.encode_mp3_fixture(n_frames=38, bitrate_kbps=128,
                                 rate=44100, version="1", layer=3)
    m = audio.parse_mp3_meta(b)
    assert m == {"format": "mp3v1L3", "bitrate_kbps": 128,
                 "sample_rate": 44100, "n_channels": 2, "n_frames": 38,
                 "n_samples": 38 * 1152,
                 "duration_ms": 38 * (1152 * 1_000_000 // 44100) // 1000}
    # ID3v2 tag skipped via syncsafe size
    b_id3 = audio.encode_mp3_fixture(n_frames=5, id3_bytes=300)
    assert audio.parse_mp3_meta(b_id3)["n_frames"] == 5
    # MPEG-2 Layer III mono: 576 samples/frame, LSF bitrate table
    b2 = audio.encode_mp3_fixture(n_frames=10, bitrate_kbps=64,
                                  rate=22050, version="2", layer=3,
                                  channels=1)
    m2 = audio.parse_mp3_meta(b2)
    assert (m2["format"], m2["n_channels"], m2["n_samples"]) == (
        "mp3v2L3", 1, 5760)
    # Layer I: 384 samples/frame, 4-byte-slot frame length
    b1 = audio.encode_mp3_fixture(n_frames=4, bitrate_kbps=256,
                                  rate=48000, version="1", layer=1)
    assert audio.parse_mp3_meta(b1)["n_samples"] == 4 * 384
    # truncated final frame: counted frames only, no raise
    assert audio.parse_mp3_meta(b[:-100])["n_frames"] == 37
    with pytest.raises(ValueError):
        audio.parse_mp3_meta(b"\x00" * 64)

    rows = pd.DataFrame({"url": ["a", "b"],
                         "html": [b, b"\xff\xe0garbage-not-a-frame"]})
    got = {r.url: r for r in audio.extract_audio_meta(
        spark.createDataFrame(rows)).collect()}
    assert got["a"].format == "mp3v1L3"
    assert got["a"].sample_rate == 44100 and got["a"].n_samples == 38 * 1152
    assert got["a"].rms is None and got["a"].peak is None
    assert got["b"].format == "error"  # synced but no valid frame

    assert fx.sniff_format(audio.encode_mp3_fixture(2, id3_bytes=16)) == "mp3"


def test_flac_ogg_header_metadata(spark):
    """FLAC STREAMINFO (RFC 9639) + Ogg Vorbis/Opus id headers
    (RFC 3533 / Vorbis I / RFC 7845): real metadata rows with NULL
    rms/peak; malformed variants become error rows."""
    from tuatara_spark.ops import audio
    m = audio.parse_flac_meta(audio.encode_flac_fixture(44100, 2, 16,
                                                        88200))
    assert m == {"format": "flac", "sample_rate": 44100, "n_channels": 2,
                 "bits_per_sample": 16, "n_samples": 88200,
                 "duration_ms": 2000}
    assert audio.parse_ogg_meta(
        audio.encode_ogg_fixture("vorbis", 22050, 1)) == {
        "format": "ogg_vorbis", "sample_rate": 22050, "n_channels": 1}
    assert audio.parse_ogg_meta(
        audio.encode_ogg_fixture("opus", 48000, 2)) == {
        "format": "ogg_opus", "sample_rate": 48000, "n_channels": 2}
    with pytest.raises(ValueError):
        audio.parse_flac_meta(b"fLaC\x00\x00")
    with pytest.raises(ValueError):
        audio.parse_ogg_meta(b"OggS" + b"\x00" * 40)

    rows = pd.DataFrame({
        "url": ["f", "v", "o", "badf"],
        "html": [audio.encode_flac_fixture(48000, 1, 24, 96000),
                 audio.encode_ogg_fixture("vorbis", 44100, 2),
                 audio.encode_ogg_fixture("opus", 16000, 1),
                 b"fLaC\x7f\x00\x00"]})
    got = {r.url: r for r in audio.extract_audio_meta(
        spark.createDataFrame(rows)).collect()}
    assert got["f"].format == "flac" and got["f"].duration_ms == 2000
    assert got["f"].rms is None
    assert got["v"].format == "ogg_vorbis" and got["v"].sample_rate == 44100
    assert got["o"].format == "ogg_opus" and got["o"].n_channels == 1
    assert got["badf"].format == "error"

    fmts = {u: fx.sniff_format(b) for u, b in zip(rows["url"], rows["html"])}
    assert fmts["f"] == "flac" and fmts["v"] == "ogg"


def test_gopher_repetition_hand_computed(spark):
    from tuatara_spark.ops import textstats
    docs = spark.createDataFrame(
        [(1, "aa bb\naa bb\ncc\n\naa bb\naa bb\ncc"),
         (2, "x y z"),
         (3, "")],
        "doc_id long, text string")
    rows = {r.doc_id: r for r in
            textstats.gopher_repetition(docs).collect()}
    r1 = rows[1]
    # lines: "aa bb"x4 + "cc"x2 -> 6 total, 4 beyond-first
    assert (r1.n_lines, r1.n_dup_lines) == (6, 4)
    assert (r1.line_chars, r1.dup_line_chars) == (4 * 5 + 2 * 2,
                                                  3 * 5 + 1 * 2)
    # paragraphs: the 14-char block twice
    assert (r1.n_paras, r1.n_dup_paras) == (2, 1)
    assert (r1.para_chars, r1.dup_para_chars) == (28, 14)
    # top 2-gram "aa bb" x4 over 20 token chars -> frac 0.8 fails 0.20
    assert (r1.top2_gram, r1.top2_count, r1.top2_chars) == ("aa bb", 4, 16)
    assert r1.token_chars == 20
    assert not r1.ok_top2 and not r1.repetition_pass
    # 3-gram tie at count 2 resolves to the LEXICOGRAPHICALLY GREATEST
    # gram ("bb aa bb"): chars = 2 x 6
    assert r1.top3_chars == 12
    # 4-gram tie ("aa bb aa bb" vs "bb aa bb cc") -> greater wins: 2 x 8
    assert r1.top4_chars == 16
    r2 = rows[2]
    assert (r2.n_lines, r2.n_dup_lines, r2.n_paras) == (1, 0, 1)
    assert (r2.top2_gram, r2.top2_chars, r2.token_chars) == ("y z", 2, 3)
    # ("x y" and "y z" tie at count 1; the greater gram wins). A 3-token
    # doc trivially FAILS the top-gram fraction gates (2/3 > 0.20) — by
    # design: Gopher pairs these with the word-count gate for shorts.
    assert not r2.ok_top2 and not r2.repetition_pass
    assert r2.ok_dup_lines and r2.ok_dup_paras
    r3 = rows[3]   # empty text: all-zero counters, null gram, passes
    assert (r3.n_lines, r3.token_chars, r3.top2_gram) == (0, 0, None)
    assert r3.repetition_pass


def test_pagerank_hand_computed(spark):
    from tuatara_spark.ops import dedup, linkgraph
    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "a")], "src string, dst string")
    got = {r.node: r.rank for r in
           linkgraph.pagerank(edges, iters=3).collect()}
    dedup.release_caches()
    # hand-run of the integer recurrence (scale 1e9, base 0.15e9,
    # dangling c contributes to no one):
    #   i1: a=1e9, b=c=575000000
    #   i2: a=638750000, b=c=575000000
    #   i3: a=638750000, b=c=150000000+(85*319375000)//100=421468750
    assert got == {"a": 638750000, "b": 421468750, "c": 421468750}


def test_frontier_schedule_politeness(spark):
    from tuatara_spark.ops import frontier
    urls = spark.createDataFrame(
        [("a.com", "/z", 1), ("a.com", "/a", 1), ("a.com", "/m", 9),
         ("b.com", "/x", 0)],
        "host string, url string, pri int")
    out = frontier.schedule(urls, priority_col="pri", delay_ms=250,
                            n_slots=8).collect()
    a = sorted([r for r in out if r.host == "a.com"],
               key=lambda r: r.fetch_rank)
    # priority desc first, then url asc; offsets spaced by delay_ms
    assert [(r.url, r.fetch_rank, r.fetch_offset_ms) for r in a] == [
        ("/m", 1, 0), ("/a", 2, 250), ("/z", 3, 500)]
    # one slot per host: all of a.com's rows share it, in [0, n_slots)
    slots = {r.slot for r in a}
    assert len(slots) == 1 and 0 <= slots.pop() < 8
    b = [r for r in out if r.host == "b.com"]
    assert b[0].fetch_rank == 1 and b[0].fetch_offset_ms == 0


def test_anchor_stats_topk_and_ties(spark):
    from tuatara_spark.ops import linkgraph
    links = spark.createDataFrame(
        [("s1", "/t", "home"), ("s2", "/t", "home"), ("s2", "/t", "blog"),
         ("s3", "/t", "blog"), ("s3", "/t", "about"), ("s1", "/t", ""),
         ("s1", "/u", "")],
        "url string, href string, anchor string")
    out = linkgraph.anchor_stats(links, k=2).collect()
    t = sorted([r for r in out if r.dst == "/t"], key=lambda r: r.anchor_rank)
    assert t[0].in_degree == 6 and t[0].n_sources == 3
    # home(2) and blog(2) tie on count -> anchor ASC: blog first
    assert [(r.anchor_rank, r.anchor, r.anchor_n) for r in t] == [
        (1, "blog", 2), (2, "home", 2)]      # k=2 drops about(1)
    u = [r for r in out if r.dst == "/u"]    # only empty anchors
    assert [(u[0].in_degree, u[0].anchor_rank, u[0].anchor)] == [(1, 0, "")]


def test_sitemap_parse_urlset_index_and_malformed(spark):
    from tuatara_spark.ops import frontier
    urlset = ("<urlset><url><loc> https://a.com/p1 </loc>"
              "<lastmod>2024-02-03</lastmod><priority>0.8</priority></url>"
              "<url><loc>https://a.com/p2</loc>"
              "<changefreq>daily</changefreq></url></urlset>")
    index = ('<?xml version="1.0"?><sitemapindex><sitemap>'
             "<loc>https://b.com/more.xml</loc>"
             "<lastmod>2024-01-01</lastmod></sitemap></sitemapindex>")
    docs = spark.createDataFrame(
        [("a.com", urlset), ("b.com", index),
         ("c.com", "<urlset><url><lastmod>x</lastmod></url></urlset>"),
         ("d.com", "not xml at all")],
        "host string, sitemap_xml string")
    out = frontier.parse_sitemaps(docs).collect()
    a = sorted([r for r in out if r.host == "a.com"],
               key=lambda r: r.doc_pos)
    # whitespace inside <loc> is trimmed; absent fields come back empty
    assert [(r.doc_pos, r.is_index, r.loc, r.lastmod, r.changefreq,
             r.priority) for r in a] == [
        (0, False, "https://a.com/p1", "2024-02-03", "", "0.8"),
        (1, False, "https://a.com/p2", "", "daily", "")]
    b = [r for r in out if r.host == "b.com"]
    assert [(r.is_index, r.loc, r.lastmod) for r in b] == [
        (True, "https://b.com/more.xml", "2024-01-01")]
    # a <url> with no <loc>, and a non-XML doc, yield no rows (never fail)
    assert not [r for r in out if r.host in ("c.com", "d.com")]


def test_bm25_rank_hand_computed(spark):
    from tuatara_spark.ops import search
    # 2 docs: doc 1 has the term twice in 4 tokens, doc 2 once in 2
    docs = spark.createDataFrame(
        [(1, "apple pie apple tart"), (2, "apple cake"), (3, "no hit")],
        "doc_id long, text string")
    out = search.bm25_rank(docs, ["apple"], limit=10).collect()
    assert [r.doc_id for r in out] == [1, 2]   # tf=2 beats the length penalty
    # hand-run: N=3, total=8, avgdl_e3=2666; df(apple)=2
    # idf_e6 = ((2*1+1)*1e6)//5 = 600000
    # doc1: tf=2, dl=4 -> (600000*22*2*2666)//(10*2*2666+3*2666+9*4000)
    got = {r.doc_id: (r.n_terms_hit, r.score_e6) for r in out}
    idf = ((2 * (3 - 2) + 1) * 10**6) // (2 * 2 + 1)
    a = 2666
    d1 = (idf * 22 * 2 * a) // (10 * 2 * a + 3 * a + 9 * 4 * 1000)
    d2 = (idf * 22 * 1 * a) // (10 * 1 * a + 3 * a + 9 * 2 * 1000)
    assert got == {1: (1, d1), 2: (1, d2)}
    assert 3 not in got                        # zero-hit docs excluded


def test_dup_ngram_coverage_hand_computed(spark):
    from tuatara_spark.ops import textstats
    docs = spark.createDataFrame(
        [(1, "a b c d e f a b c d e f"),   # dup 5-grams cover ALL tokens
         (2, "x y z w v"),                 # 5 distinct tokens: no dups
         (3, "x y")],                      # shorter than n: no grams
        "doc_id long, text string")
    rows = {r.doc_id: r for r in
            textstats.dup_ngram_coverage(docs, n=5).collect()}
    r1 = rows[1]
    # "a b c d e" at p0/p6, "b c d e f" at p1/p7 -> union covers 0..11
    assert (r1.n_tokens, r1.covered_tokens, r1.covered_chars) == (12, 12, 12)
    assert not r1.ok_dup_ngram            # 100% > 15%
    assert (rows[2].covered_tokens, rows[2].ok_dup_ngram) == (0, True)
    assert (rows[3].n_tokens, rows[3].covered_tokens) == (2, 0)


def test_bpe_train_classic_and_overlap(spark):
    from tuatara_spark.ops import dedup, search
    rows = [(["a", "a", "b"],)] * 3 + [(["a", "a", "c"],)] * 3 \
        + [(["b", "c"],)] * 2
    df = spark.createDataFrame(rows, "syms array<string>")
    assert search.bpe_train(df, k=3) == [
        (1, "a", "a", "aa"), (2, "aa", "b", "aab"), (3, "aa", "c", "aac")]
    dedup.release_caches()
    # leftmost-first non-overlap: "a a a" yields ONE (a,a) merge site,
    # and after the merge no (a,a) pair remains -> round 2 merges (aa,a)
    df2 = spark.createDataFrame([(["a", "a", "a"],)] * 2,
                                "syms array<string>")
    assert search.bpe_train(df2, k=2) == [
        (1, "a", "a", "aa"), (2, "aa", "a", "aaa")]
    dedup.release_caches()
    # exhaustion: fewer pairs than k rounds stops early
    df3 = spark.createDataFrame([(["x", "y"],)], "syms array<string>")
    assert search.bpe_train(df3, k=5) == [(1, "x", "y", "xy")]
    dedup.release_caches()


def _bpe_ref(toks, merges):
    """Independent python reference: rank-ordered leftmost-first
    non-overlapping merge passes."""
    toks = list(toks)
    for _, left, right, _ in sorted(merges):
        out = []
        for t in toks:
            if out and out[-1] == left and t == right:
                out[-1] = left + right
            else:
                out.append(t)
        toks = out
    return toks


def test_bpe_encode_hand_computed(spark):
    from tuatara_spark.ops import search
    merges = [(1, "a", "a", "aa"), (2, "aa", "b", "aab")]
    rows = [
        (0, ["a", "a", "a"]),        # one merge site, then no (aa,b)
        (1, ["a", "a", "a", "a"]),   # two non-overlapping sites
        (2, ["a", "a", "b"]),        # multi-level: aa then aab
        (3, ["b", "a", "a", "b"]),   # interior merge + rule-2 chain
        (4, ["a", "ab"]),            # token identity: no merge
        (5, ["ba", "a"]),            # token identity: no merge
        (6, []),                     # empty stays empty
        (7, ["x"]),                  # single symbol untouched
    ]
    df = spark.createDataFrame(rows, "doc_id long, syms array<string>")
    got = {r.doc_id: r.tokens
           for r in search.bpe_encode(df, merges).collect()}
    assert got == {
        0: ["aa", "a"], 1: ["aa", "aa"], 2: ["aab"], 3: ["b", "aab"],
        4: ["a", "ab"], 5: ["ba", "a"], 6: [], 7: ["x"]}


def test_bpe_encode_matches_train_fold_and_arrow(spark):
    """The standalone encoder must reproduce bpe_train's between-round
    folds exactly on a random corpus."""
    import random
    from tuatara_spark.ops import dedup, search
    rng = random.Random(7)
    rows = [(i, [rng.choice("abct h") for _ in range(rng.randint(0, 14))])
            for i in range(80)]
    df = spark.createDataFrame(rows, "doc_id long, syms array<string>")
    merges = search.bpe_train(df, k=4)
    dedup.release_caches()
    assert len(merges) == 4
    cat = {r.doc_id: r.tokens
           for r in search.bpe_encode(df, merges).collect()}
    ref = {i: _bpe_ref(s, merges) for i, s in rows}
    assert cat == ref


def test_bpe_encode_plan_is_shuffle_free_projection(spark):
    import contextlib
    import io
    from tuatara_spark.ops import search
    df = spark.createDataFrame([(1, ["a", "a"])],
                               "doc_id long, syms array<string>")
    out = search.bpe_encode(df, [(1, "a", "a", "aa")])
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain(mode="simple")
    plan = buf.getvalue()
    for bad in ("Exchange", "BatchEvalPython", "ArrowEvalPython"):
        assert bad not in plan


def _bloom_shuffle_probe(candidates, bloom, m_bits, k):
    """Reference probe: explode each candidate to its k (word_idx, bit)
    positions, shuffle-join them against the word table, regroup."""
    from pyspark.sql import functions as F
    from tuatara_spark.ops import frontier
    probes = candidates.select(
        F.col("url").alias("_v"), F.explode(F.array(
            *frontier._bloom_positions(F.col("url"), m_bits, k))).alias("p"))
    probes = probes.select(
        "_v", F.expr("p div 64").alias("word_idx"),
        (F.col("p") % 64).cast("int").alias("bit"))
    hit = (probes.join(bloom, "word_idx", "left")
           .select("_v", F.expr(
               "shiftright(coalesce(bits, cast(0 as bigint)), bit) % 2 != 0")
               .alias("_set")))
    return (hit.groupBy("_v")
            .agg(F.min("_set").alias("possibly_seen"))
            .select(F.col("_v").alias("url"), "possibly_seen"))


def test_bloom_seen_set_membership_and_path_agreement(spark):
    from tuatara_spark.ops import frontier
    seen = spark.range(80).selectExpr("concat('u', id) AS url")
    cand = spark.range(160).selectExpr("concat('u', id) AS url")
    bloom = frontier.bloom_build(seen, m_bits=1 << 13, k=4).persist()
    try:
        a = {r.url: r.possibly_seen for r in frontier.bloom_might_contain(
            cand, bloom, m_bits=1 << 13, k=4).collect()}
        b = {r.url: r.possibly_seen for r in _bloom_shuffle_probe(
            cand, bloom, m_bits=1 << 13, k=4).collect()}
        # no false negatives, ever; the broadcast map probe agrees
        # exactly with the shuffle-join reference
        assert all(a[f"u{i}"] for i in range(80))
        assert a == b
        # tiny saturation (320 bits in 8192) → the unseen half is
        # overwhelmingly reported new (FP bound, not an exact count)
        fp = sum(a[f"u{i}"] for i in range(80, 160))
        assert fp <= 4
    finally:
        bloom.unpersist()


def test_bloom_tiny_filter_saturates_to_all_seen(spark):
    from tuatara_spark.ops import frontier
    seen = spark.range(300).selectExpr("concat('x', id) AS url")
    cand = spark.range(300, 310).selectExpr("concat('x', id) AS url")
    bloom = frontier.bloom_build(seen, m_bits=64, k=4)  # 1 word, saturated
    out = frontier.bloom_might_contain(cand, bloom, m_bits=64, k=4)
    assert all(r.possibly_seen for r in out.collect())


def test_bigram_lm_hand_computed(spark):
    from tuatara_spark.ops import lm
    docs = spark.createDataFrame(
        [(0, "the cat sat on the mat"), (1, "the cat sat"),
         (2, "zzz qqq vvv"), (3, "the"), (4, "")],
        "doc_id long, text string")
    model = lm.train_bigram_lm(docs.where("doc_id < 2"))
    m = {(r.w1, r.w2): (r.pair_count, r.left_count)
         for r in model.collect()}
    # P(cat|the)=2/3, P(sat|cat)=2/2, P(mat|the)=1/3, chain 1/1s
    assert m == {("the", "cat"): (2, 3), ("cat", "sat"): (2, 2),
                 ("the", "mat"): (1, 3), ("sat", "on"): (1, 1),
                 ("on", "the"): (1, 1)}
    got = {r.doc_id: (r.n_bigrams, r.n_oov, r.score_e6)
           for r in lm.score_bigram_lm(docs, model).collect()}
    # doc 0: (666666+1000000+1000000+1000000+333333) div 5
    assert got == {0: (5, 0, 799999), 1: (2, 0, 833333),
                   2: (2, 2, 0)}  # 3 and 4 have no bigram -> absent


def test_bigram_lm_min_count_prunes_pairs_not_denominators(spark):
    from tuatara_spark.ops import lm
    docs = spark.createDataFrame(
        [(0, "a b a b a c")], "doc_id long, text string")
    model = lm.train_bigram_lm(docs, min_count=2)
    m = {(r.w1, r.w2): (r.pair_count, r.left_count)
         for r in model.collect()}
    # a-c (count 1) pruned from the table, but a's left_count still 3
    assert m == {("a", "b"): (2, 3), ("b", "a"): (2, 2)}
    got = {r.doc_id: (r.n_oov, r.score_e6)
           for r in lm.score_bigram_lm(docs, model).collect()}
    # 5 bigrams: a-b 666666 ×2, b-a 1000000 ×2, a-c OOV
    assert got == {0: (1, (666666 * 2 + 1000000 * 2) // 5)}


def test_hits_hand_computed(spark):
    from tuatara_spark.ops import linkgraph
    S = 10 ** 9
    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c")], "src string, dst string")
    got = {r.node: (r.hub, r.auth)
           for r in linkgraph.hits(edges, iters=2).collect()}
    # iter1: a_raw={b:S, c:2S} -> a={b:S/2, c:S}; h_raw={a:1.5S, b:S}
    #        -> h={a:S, b:666666666, c:0}
    # iter2: a_raw={b:S, c:1666666666} -> a={b:600000000, c:S}
    #        h_raw={a:1600000000, b:S} -> h={a:S, b:625000000, c:0}
    assert got == {"a": (S, 0), "b": (625000000, 600000000),
                   "c": (0, S)}


def test_hits_empty_and_no_edges_nodes(spark):
    from tuatara_spark.ops import linkgraph
    empty = spark.createDataFrame([], "src string, dst string")
    assert linkgraph.hits(empty, iters=1).count() == 0
    # a node with only in-edges keeps hub 0; only out-edges, auth 0
    one = spark.createDataFrame([("x", "y")], "src string, dst string")
    got = {r.node: (r.hub, r.auth)
           for r in linkgraph.hits(one, iters=2).collect()}
    S = 10 ** 9
    assert got == {"x": (S, 0), "y": (0, S)}


def test_inverted_index_hand_computed(spark):
    from tuatara_spark.ops import search
    docs = spark.createDataFrame(
        [(1, "a b a"), (2, "b c"), (3, "a"), (4, "")],
        "doc_id long, text string")
    got = {r.term: (r.doc_freq, r.total_tf, r.postings)
           for r in search.inverted_index(docs).collect()}
    assert got == {"a": (2, 3, "1:0,2 3:0"), "b": (2, 2, "1:1 2:0"),
                   "c": (1, 1, "2:1")}
    pruned = {r.term for r in
              search.inverted_index(docs, max_df=1).collect()}
    assert pruned == {"c"}


def test_tier_by_score_rank_arithmetic(spark):
    from tuatara_spark.ops import lm
    scored = spark.createDataFrame(
        [(i, 100 - 10 * i) for i in range(7)],
        "doc_id long, score_e6 long")
    got = {r.doc_id: r.tier
           for r in lm.tier_by_score(scored, k=3).collect()}
    # ranks 0..6 best-first; tier = (rank*3) div 7 + 1 -> 3,2,2 split
    assert got == {0: 1, 1: 1, 2: 1, 3: 2, 4: 2, 5: 3, 6: 3}
    # ties broken by doc_id: equal scores stay deterministic
    tied = spark.createDataFrame(
        [(i, 5) for i in range(6)], "doc_id long, score_e6 long")
    got2 = {r.doc_id: r.tier
            for r in lm.tier_by_score(tied, k=3).collect()}
    assert got2 == {0: 1, 1: 1, 2: 2, 3: 2, 4: 3, 5: 3}


def test_langid_hand_computed(spark):
    from tuatara_spark.ops import langid
    train = spark.createDataFrame(
        [(0, "de", "ababa"), (1, "en", "cdcdc")],
        "doc_id long, lang string, text string")
    prof = langid.train_charngram_profiles(train)
    p = {(r.lang, r.gram): r.rank for r in prof.collect()}
    assert p == {("de", "aba"): 1, ("de", "bab"): 2,
                 ("en", "cdc"): 1, ("en", "dcd"): 2}
    test = spark.createDataFrame(
        [(10, "aba"), (11, "babab"), (12, "xxx"), (13, "ab")],
        "doc_id long, text string")
    got = {r.doc_id: (r.pred_lang, r.distance)
           for r in langid.classify_charngram(test, prof).collect()}
    # 10: aba matches de rank1 exactly -> dist 0 vs en 100
    # 11: profile bab(1), aba(2) -> de |1-2|+|2-1|=2, en 200
    # 12: unknown gram -> 100 both -> tie broken by lang asc ("de")
    # 13: shorter than one trigram -> absent
    assert got == {10: ("de", 0), 11: ("de", 2), 12: ("de", 100)}


def test_langid_separable_corpus_recovers_labels(spark):
    from tuatara_spark.ops import langid
    rows = []
    for i in range(40):
        lang, words = (("aa", ["alpha", "beta", "gamma"]) if i % 2 == 0
                       else ("zz", ["zulu", "yankee", "xray"]))
        rows.append((i, lang, " ".join(words[j % 3]
                                       for j in range(i, i + 12))))
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    prof = langid.train_charngram_profiles(docs.where("doc_id < 20"))
    pred = langid.classify_charngram(docs.where("doc_id >= 20"), prof)
    joined = pred.join(docs.select("doc_id", "lang"), "doc_id")
    assert all(r.pred_lang == r.lang for r in joined.collect())


def test_langid_whitespace_normalization_shared_with_training(spark):
    from tuatara_spark.ops import langid
    # tabs/newlines collapse to single spaces BEFORE gramming, so
    # formatting never shifts the profile
    a = spark.createDataFrame([(0, "xx", "ab  cd\n\nef")],
                              "doc_id long, lang string, text string")
    b = spark.createDataFrame([(0, "xx", "ab cd ef")],
                              "doc_id long, lang string, text string")
    pa = {(r.gram, r.rank) for r in
          langid.train_charngram_profiles(a).collect()}
    pb = {(r.gram, r.rank) for r in
          langid.train_charngram_profiles(b).collect()}
    assert pa == pb


def test_to_markdown_hand_computed(spark):
    from tuatara_spark.ops import htmlx
    html = ('<html><head><title>T</title></head><body>'
            '<h1>Title</h1><h3 class="x">Sub</h3>'
            '<p>One <b>two</b> and <em>three</em>.</p>'
            "<ul><li>first</li><li><a href='http://a/b'>lnk</a></li></ul>"
            '<p>x<br/>y &amp; z</p></body></html>')
    df = spark.createDataFrame([(1, html)], "doc_id long, html string")
    out = htmlx.to_markdown(df).collect()[0].markdown
    assert out == ("# Title\n\n### Sub\n\nOne **two** and *three*.\n\n"
                   "- first\n- [lnk](http://a/b)\n\nx\ny & z")


def test_to_markdown_source_newlines_not_structural(spark):
    from tuatara_spark.ops import htmlx
    # raw newlines in source html are inline whitespace, never output
    # structure; entities decode after tag handling (&lt;p&gt; stays
    # literal text)
    df = spark.createDataFrame(
        [(1, "<p>a\n\n\nb</p><p>&lt;p&gt;</p>")],
        "doc_id long, html string")
    out = htmlx.to_markdown(df).collect()[0].markdown
    assert out == "a b\n\n<p>"


def test_exact_substr_spans_hand_computed(spark):
    """ExactSubstr (Lee et al. 2021 family): keep-first canonical,
    maximal span merge, internal repetition, full-document trim."""
    from tuatara_spark.ops import dedup
    rows = [
        (0, "a b c d e f g h tail0"),            # canonical copy kept
        (1, "x y a b c d e f g h tail1"),        # shared 8-run at pos 2
        (2, "p q r s t u v w"),                  # canonical for 3 and 5
        (3, "p q r s t u v w p q r s t u v w"),  # both copies duplicate
        (4, "one two three"),                    # shorter than L: no-op
        (5, "m n o p q r s t u v w z"),          # run mid-document
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in
           dedup.exact_substr_dedup(df, min_tokens=8).collect()}
    assert (got[0].n_spans, got[0].dedup_text) == (0, "a b c d e f g h tail0")
    assert (got[1].spans_str, got[1].dedup_text) == ("2:10", "x y tail1")
    assert got[2].n_spans == 0
    # doc 3: both its copies duplicate doc 2's canonical -> whole doc out
    assert (got[3].spans_str, got[3].n_removed, got[3].dedup_text) == \
        ("0:16", 16, "")
    assert got[4].n_spans == 0
    assert (got[5].spans_str, got[5].dedup_text) == ("3:11", "m n o z")


def test_exact_substr_internal_repetition_and_overlap_merge(spark):
    from tuatara_spark.ops import dedup
    # one doc, phrase of 10 tokens repeated -> second copy trimmed via
    # 3 overlapping duplicate shingles merging into one maximal span
    phrase = "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10"
    df = spark.createDataFrame([(0, phrase + " " + phrase)],
                               "doc_id long, text string")
    got = dedup.exact_substr_dedup(df, min_tokens=8).collect()[0]
    assert (got.n_spans, got.spans_str) == (1, "10:20")
    assert got.dedup_text == phrase
    # whitespace-normalization: tabs/newlines don't shift positions
    df2 = spark.createDataFrame([(0, phrase + "\n\t " + phrase)],
                                "doc_id long, text string")
    assert dedup.exact_substr_dedup(df2, min_tokens=8).collect()[0] \
        .spans_str == "10:20"


def test_exact_substr_plan_no_pairs(spark):
    """The scale contract: no pair stage anywhere — no cartesian, no
    self-join fan-out, no Python; the canonical groupBy partial-
    aggregates map-side before its shuffle."""
    import contextlib
    import io
    from tuatara_spark.ops import dedup
    df = spark.createDataFrame([(0, "a b c d e f g h")],
                               "doc_id long, text string")
    out = dedup.exact_substr_dedup(df, min_tokens=8)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain(mode="simple")
    plan = buf.getvalue()
    for bad in ("CartesianProduct", "BroadcastNestedLoopJoin",
                "BatchEvalPython", "ArrowEvalPython"):
        assert bad not in plan
    assert "partial_min_by" in plan or "partial" in plan


def test_justext_hand_computed(spark):
    """JusText classification: link-density bad, stopword-density good,
    short-block promotion by nearest non-short neighbor, no promotion
    between bad neighbors."""
    from tuatara_spark.ops import htmlx
    html = ('<html><body>'
            '<div><a href="/">home</a> <a href="/a">about</a></div>'
            '<p>the cat sat on the mat and it was a fine day for all'
            ' of us</p>'
            '<p>tiny caption here</p>'
            '<p>x1 x2 x3 x4 x5 x6 x7 x8 x9 x10</p>'
            '<p>stranded bit</p>'
            '<div>c 2026 <a href="/t">terms</a></div>'
            '</body></html>')
    df = spark.createDataFrame([("u", html)], "url string, html string")
    r = htmlx.justext_extract(df).collect()[0]
    # good: the prose block; promoted: 'tiny caption here' (prev good);
    # NOT promoted: 'stranded bit' (prev = stopword-free bad, next =
    # link-dense bad); 6 non-empty blocks total
    assert (r.n_blocks, r.n_good) == (6, 2)
    assert r.main_text == ("the cat sat on the mat and it was a fine"
                           " day for all of us tiny caption here")


def test_justext_next_neighbor_promotion_and_empty_doc(spark):
    from tuatara_spark.ops import htmlx
    # short block BEFORE the good block promotes via the NEXT neighbor
    html = ('<p>short lead</p>'
            '<p>this is a fine piece of prose that it was for the'
            ' reader</p>')
    df = spark.createDataFrame(
        [("a", html), ("b", "<p></p><p> </p>")],
        "url string, html string")
    got = {r.url: r for r in htmlx.justext_extract(df).collect()}
    assert got["a"].n_good == 2
    assert got["a"].main_text.startswith("short lead this is a fine")
    # all-empty doc: no non-empty blocks -> no row (both engines drop)
    assert "b" not in got


def test_justext_plan_shapes(spark):
    """One url-keyed exchange feeds both context windows and the final
    aggregation; no Python, no cartesian."""
    import contextlib
    import io
    import re
    from tuatara_spark.ops import htmlx
    df = spark.createDataFrame([("u", "<p>a b c</p>")],
                               "url string, html string")
    out = htmlx.justext_extract(df)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain(mode="simple")
    plan = buf.getvalue()
    for bad in ("BatchEvalPython", "ArrowEvalPython", "CartesianProduct",
                "BroadcastNestedLoopJoin"):
        assert bad not in plan
    # exactly one exchange hashes on the url key: windows + final
    # groupBy all reuse it
    assert len(re.findall(r"hashpartitioning\(url#\d+, \d+\)", plan)) == 1


def _tier_fixture(spark):
    """Five hand-designed pages exercising every pipeline disposition.
    A and X share NO bigrams, so A's LM score is exactly computable and
    X (scored under the A-only trained model) is all-OOV → 0."""
    A = "this tree is green and green is this tree here by this"
    X = "the cat sat on the mat and it was a fine day for all of us"
    rows = [
        (10, "en", f"<p>{A}</p>"),                      # unique prose
        (11, "en", f"<p>{X}</p>"),                      # dup keeper
        (13, "en", f"<p>{X}</p>"),                      # dup copy
        (14, "fr", f"<p>{X}</p>"),                      # wrong lang
        (15, "en", '<div><a href="/">x</a> nav</div>'),  # link-dense
    ]
    return spark.createDataFrame(
        rows, "doc_id long, lang string, html string")


def test_tier_extract_hand_computed(spark):
    """All five stages verified value-for-value: JusText gate, language
    gate, dedup keep-first, LM training on the even-id survivor (10),
    integer scores (A: 8e6 div 11 bigram instances = 727272; X: all
    OOV = 0) and the 2-survivor rank split head/middle."""
    from tuatara_spark.ops import tier
    got = {r.doc_id: r for r in
           tier.tier_extract(_tier_fixture(spark)).collect()}
    assert len(got) == 5
    assert (got[10].n_words, got[10].score_e6, got[10].tier) == \
        (12, 727272, "head")
    assert (got[11].n_words, got[11].score_e6, got[11].tier) == \
        (16, 0, "middle")
    assert (got[13].score_e6, got[13].tier) == (-1, "dropped_dup")
    assert (got[14].score_e6, got[14].tier) == (-1, "dropped_lang")
    assert (got[15].n_words, got[15].score_e6, got[15].tier) == \
        (0, -1, "dropped_quality")


def test_tier_extract_min_words_guard(spark):
    import pytest as _pt
    from tuatara_spark.ops import tier
    with _pt.raises(ValueError):
        tier.tier_extract(_tier_fixture(spark), min_words=1)


def test_tier_extract_plan_shapes(spark):
    """The composed pipeline stays JVM-side end-to-end: no Python
    evaluation, no cartesian products, and the pruned LM joins back as
    a broadcast."""
    import contextlib
    import io
    from tuatara_spark.ops import tier
    out = tier.tier_extract(_tier_fixture(spark))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain(mode="simple")
    plan = buf.getvalue()
    for bad in ("BatchEvalPython", "ArrowEvalPython", "CartesianProduct"):
        assert bad not in plan
    assert "BroadcastHashJoin" in plan
    # the single nested-loop join is tier_by_score's documented 1-ROW
    # corpus-count broadcast (ops/lm.py), not a data cross join
    assert plan.count("BroadcastNestedLoopJoin") <= 1


def test_revisit_records_hand_computed(spark):
    """First capture by (ts, url) stays response; identical payloads
    later become revisits pointing at it; distinct payloads never
    cross-link."""
    from tuatara_spark.sources import warc as W
    rows = [
        ("u/a", "2024-01-02T00:00:00Z", "same"),
        ("u/b", "2024-01-01T00:00:00Z", "same"),   # earliest -> original
        ("u/c", "2024-01-03T00:00:00Z", "same"),
        ("u/d", "2024-01-01T00:00:00Z", "other"),
    ]
    df = spark.createDataFrame(rows, "url string, warc_ts string, html string")
    got = {r.url: r for r in W.revisit_records(df).collect()}
    assert got["u/b"].record_type == "response"
    assert got["u/b"].refers_to_url is None
    for u in ("u/a", "u/c"):
        assert got[u].record_type == "revisit"
        assert (got[u].refers_to_url, got[u].refers_to_ts) == \
            ("u/b", "2024-01-01T00:00:00Z")
    assert got["u/d"].record_type == "response"
    assert got["u/a"].payload_digest == got["u/b"].payload_digest
    assert got["u/d"].payload_digest != got["u/b"].payload_digest


def test_revisit_ts_tie_breaks_by_url(spark):
    from tuatara_spark.sources import warc as W
    rows = [("u/z", "2024-01-01T00:00:00Z", "x"),
            ("u/a", "2024-01-01T00:00:00Z", "x")]
    df = spark.createDataFrame(rows, "url string, warc_ts string, html string")
    got = {r.url: r for r in W.revisit_records(df).collect()}
    assert got["u/a"].record_type == "response"
    assert got["u/z"].refers_to_url == "u/a"


def test_script_detect_hand_computed(spark):
    """Counts per Unicode block, dominant with alphabetical tie-break,
    unknown when nothing scripted matches."""
    from tuatara_spark.ops import langid
    rows = [
        (1, "привет мир abcdefghi"),   # 9 cyr vs 9 lat -> cyrillic (tie)
        (2, "こんにちは世界です"),        # kana 7 > han 2
        (3, "12345 —!?"),              # unknown
        (4, "café Grüße"),             # accented latin counts in latin
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in langid.script_detect(df).collect()}
    assert (got[1].n_cyrillic, got[1].n_latin, got[1].script) == \
        (9, 9, "cyrillic")
    assert (got[2].n_kana, got[2].n_han, got[2].script) == (7, 2, "kana")
    assert got[3].script == "unknown"
    assert (got[4].n_latin, got[4].script) == (9, "latin")


def test_script_detect_plan_is_projection(spark):
    import contextlib
    import io
    from tuatara_spark.ops import langid
    df = spark.createDataFrame([(1, "abc")], "doc_id long, text string")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        langid.script_detect(df).explain(mode="simple")
    plan = buf.getvalue()
    for bad in ("Exchange", "BatchEvalPython", "ArrowEvalPython"):
        assert bad not in plan


def test_dom_depth_hand_computed(spark):
    """<div><p>ab c</p></div><nav>xy</nav>: text 'ab c' (3 non-ws
    chars) sits at depth 2, 'xy' at depth 1 -> max 2, chars 5,
    centroid (100*(3*2+2*1)) div 5 = 160."""
    from tuatara_spark.ops import htmlx
    rows = [
        ("a", "<div><p>ab c</p></div><nav>xy</nav>"),
        ("b", "no tags at all"),          # depth 0 everywhere
        ("c", "<div><div></div></div>"),  # textless: centroid 0
        ("d", "<DIV>X</DIV>"),            # case-insensitive containers
        ("e", "<span>zz</span>"),         # non-container: depth stays 0
    ]
    df = spark.createDataFrame(rows, "url string, html string")
    got = {r.url: r for r in htmlx.dom_depth_stats(df).collect()}
    assert (got["a"].max_depth, got["a"].text_chars,
            got["a"].centroid_depth_e2) == (2, 5, 160)
    assert (got["b"].max_depth, got["b"].text_chars,
            got["b"].centroid_depth_e2) == (0, 11, 0)
    assert (got["c"].max_depth, got["c"].text_chars,
            got["c"].centroid_depth_e2) == (2, 0, 0)
    assert (got["d"].max_depth, got["d"].text_chars,
            got["d"].centroid_depth_e2) == (1, 1, 100)
    assert (got["e"].max_depth, got["e"].centroid_depth_e2) == (0, 0)


def test_dom_depth_plan_is_projection(spark):
    import contextlib
    import io
    from tuatara_spark.ops import htmlx
    df = spark.createDataFrame([("u", "<div>x</div>")],
                               "url string, html string")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        htmlx.dom_depth_stats(df).explain(mode="simple")
    plan = buf.getvalue()
    for bad in ("Exchange", "BatchEvalPython", "ArrowEvalPython"):
        assert bad not in plan


def test_revisit_schedule_hand_computed(spark):
    """Cho & Garcia-Molina scheduling: a page that changed every
    interval re-crawls at base_days; a static page backs off linearly
    with the evidence; the clamp caps pathological histories."""
    from tuatara_spark.ops import frontier
    rows = (
        # u1: captures d1,d1,d2 -> 1 change / 2 intervals
        [("u1", "t1", "d1"), ("u1", "t2", "d1"), ("u1", "t3", "d2")]
        # u2: single capture -> rate 0, base interval
        + [("u2", "t1", "d")]
        # u3: 10 captures, never changes -> 7*10 div 1 = 70 days
        + [("u3", f"t{i:02d}", "same") for i in range(10)]
        # u4: 10 captures, changes every time -> 70 div 10 = 7 days
        + [("u4", f"t{i:02d}", f"d{i}") for i in range(10)]
        # u5: 60 static captures -> 420 clamps to 365
        + [("u5", f"t{i:02d}", "s") for i in range(60)])
    df = spark.createDataFrame(
        rows, "url string, warc_ts string, payload_digest string")
    got = {r.url: r for r in frontier.revisit_schedule(df).collect()}
    assert (got["u1"].n_captures, got["u1"].n_changes,
            got["u1"].change_rate_e6, got["u1"].next_days) == \
        (3, 1, 500000, 10)
    assert (got["u2"].n_captures, got["u2"].change_rate_e6,
            got["u2"].next_days) == (1, 0, 7)
    assert (got["u3"].n_changes, got["u3"].next_days) == (0, 70)
    assert (got["u4"].n_changes, got["u4"].change_rate_e6,
            got["u4"].next_days) == (9, 1000000, 7)
    assert got["u5"].next_days == 365


def test_revisit_schedule_plan_one_url_exchange(spark):
    """The lag window and the follow-up groupBy share ONE url-keyed
    exchange; no Python, no cartesian."""
    import contextlib
    import io
    import re
    from tuatara_spark.ops import frontier
    df = spark.createDataFrame(
        [("u", "t", "d")],
        "url string, warc_ts string, payload_digest string")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        frontier.revisit_schedule(df).explain(mode="simple")
    plan = buf.getvalue()
    for bad in ("BatchEvalPython", "ArrowEvalPython", "CartesianProduct",
                "BroadcastNestedLoopJoin"):
        assert bad not in plan
    assert len(re.findall(r"hashpartitioning\(url#\d+, \d+\)", plan)) == 1


def test_host_line_dedup_hand_computed(spark):
    """Lines in >= min_pages distinct pages of a host are removed;
    under-threshold and unique lines survive in original order;
    other hosts are unaffected."""
    from tuatara_spark.ops import dedup
    boiler = "subscribe to our newsletter"
    rows = [
        (1, "a", f"{boiler}\nunique one\n{boiler}"),   # dup line IN-doc
        (2, "a", f"{boiler}\nunique two"),
        (3, "a", f"rare\n{boiler}\nunique three"),
        (4, "a", "rare\nunique four"),                 # rare: 2 docs < 3
        (5, "b", f"{boiler}\nother host keeps it"),    # host b: 1 doc
    ]
    df = spark.createDataFrame(rows, "doc_id long, host string, text string")
    got = {r.doc_id: r for r in dedup.host_line_dedup(df).collect()}
    # host a: boiler appears in docs 1,2,3 -> removed everywhere there
    assert (got[1].n_lines, got[1].n_removed,
            got[1].text_clean) == (3, 2, "unique one")
    assert got[2].text_clean == "unique two"
    assert got[3].text_clean == "rare\nunique three"   # rare kept, order kept
    assert got[4].n_removed == 0
    # host b never crossed the bar
    assert got[5].n_removed == 0 and boiler in got[5].text_clean


def test_host_line_dedup_plan_no_text_in_count_stage(spark):
    """The counting side moves only hashes; no Python, no cartesian."""
    import contextlib
    import io
    from tuatara_spark.ops import dedup
    df = spark.createDataFrame([(1, "h", "a\nb")],
                               "doc_id long, host string, text string")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        dedup.host_line_dedup(df).explain(mode="simple")
    plan = buf.getvalue()
    for bad in ("BatchEvalPython", "ArrowEvalPython", "CartesianProduct",
                "BroadcastNestedLoopJoin"):
        assert bad not in plan


def test_extract_tables_hand_computed(spark):
    from tuatara_spark.ops import htmlx
    html = ('<p>x</p><table><tr><th>a</th><th> b </th></tr>'
            '<tr><td><b>c</b> d</td><td></td></tr></table>'
            '<TABLE><TR><TD>e</TD></TR></TABLE>')
    df = spark.createDataFrame([("u", html), ("v", "no tables here")],
                               "url string, html string")
    got = sorted(htmlx.extract_tables(df).collect(),
                 key=lambda r: (r.url, r.table_idx, r.row_idx))
    assert [r.url for r in got] == ["u", "u", "u"]  # v yields no rows
    r0, r1, r2 = got
    assert (r0.table_idx, r0.row_idx, r0.is_header,
            r0.n_cells, r0.cells_str) == (0, 0, True, 2, "a|b")
    assert (r1.is_header, r1.n_cells, r1.cells_str) == (False, 2, "c d|")
    assert (r2.table_idx, r2.row_idx, r2.cells_str) == (1, 0, "e")


def test_chunk_text_hand_computed(spark):
    """10 tokens, max 4, stride 3 -> starts 0,3,6,9; last chunk len 1;
    empty doc yields no rows."""
    from tuatara_spark.ops import training
    df = spark.createDataFrame(
        [(1, "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9"), (2, "   "), (3, "solo")],
        "doc_id long, text string")
    out = training.chunk_text(df, max_tokens=4, stride=3).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert 2 not in by_doc
    c1 = sorted(by_doc[1], key=lambda r: r.chunk_idx)
    assert [(r.start_token, r.n_chunk_tokens) for r in c1] == \
        [(0, 4), (3, 4), (6, 4), (9, 1)]
    assert c1[1].chunk_text == "t3 t4 t5 t6"
    assert c1[3].chunk_text == "t9"
    assert by_doc[3][0].chunk_text == "solo"


def test_template_fingerprint_hand_computed(spark):
    """Same tag stream, different text -> same md5; different structure
    or case-normalized tags -> verified stream semantics."""
    import hashlib
    from tuatara_spark.ops import htmlx
    df = spark.createDataFrame(
        [("a", "<html><BODY><p>hello</p></BODY></html>"),
         ("b", "<html><body><p>совершенно other text</p></body></html>"),
         ("c", "<html><body><ul><li>x</li></ul></body></html>"),
         ("d", "plain text")],
        "url string, html string")
    got = {r.url: r for r in htmlx.template_fingerprint(df).collect()}
    assert got["a"].template_md5 == got["b"].template_md5  # text-invariant
    assert got["a"].template_md5 != got["c"].template_md5
    stream = "html,body,p,/p,/body,/html"
    assert got["a"].template_md5 == hashlib.md5(stream.encode()).hexdigest()
    assert got["a"].n_tags == 6
    assert (got["d"].n_tags,
            got["d"].template_md5) == (0, hashlib.md5(b"").hexdigest())


def test_feed_parse_hand_computed(spark):
    from tuatara_spark.ops import frontier
    rss = ('<rss><channel><item><link>https://e/1</link>'
           '<title> T1 </title></item>'
           '<item><title>nolink</title></item></channel></rss>')
    atom = ('<feed><entry><link rel="alt" href="https://e/2"/>'
            '<title>A</title></entry>'
            '<entry><link href="https://e/3"/></entry></feed>')
    df = spark.createDataFrame([("r", rss), ("a", atom)],
                               "url string, xml string")
    got = sorted(frontier.feed_parse(df).collect(),
                 key=lambda r: (r.url, r.item_idx))
    a0, a1, r0, r1 = got
    assert (r0.kind, r0.link, r0.title) == ("rss", "https://e/1", "T1")
    assert (r1.kind, r1.link, r1.title) == ("rss", "", "nolink")
    assert (a0.kind, a0.link, a0.title) == ("atom", "https://e/2", "A")
    assert (a1.kind, a1.link, a1.title) == ("atom", "https://e/3", "")


def test_round5b_ops_plans_shuffle_free(spark):
    """extract_tables, chunk_text, template_fingerprint and feed_parse
    are all Generate/projection chains: no Exchange, no Python."""
    import contextlib
    import io
    from tuatara_spark.ops import frontier, htmlx, training
    checks = [
        htmlx.extract_tables(spark.createDataFrame(
            [("u", "<table><tr><td>x</td></tr></table>")],
            "url string, html string")),
        training.chunk_text(spark.createDataFrame(
            [(1, "a b c")], "doc_id long, text string")),
        htmlx.template_fingerprint(spark.createDataFrame(
            [("u", "<p>x</p>")], "url string, html string")),
        frontier.feed_parse(spark.createDataFrame(
            [("u", "<rss/>")], "url string, xml string")),
    ]
    for out in checks:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            out.explain(mode="simple")
        plan = buf.getvalue()
        for bad in ("Exchange", "BatchEvalPython", "ArrowEvalPython"):
            assert bad not in plan, plan


def test_soft404_hand_computed(spark):
    """Marker + brevity scoring: 3 markers short -> flagged; 1 marker
    long -> not; markers behind a real 404 status -> not soft."""
    from tuatara_spark.ops import textstats
    long_pad = "word " * 80
    rows = [
        (1, "Error 404 - Page Not Found.", 200),      # 3 markers, short
        (2, f"This page does not exist. {long_pad}", 200),  # 1 marker, long
        (3, "Error 404 - Page Not Found.", 404),      # real 404
        (4, "perfectly fine content here", 200),
        (5, "it does not exist and was been removed", 200),  # 2 markers
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, status int")
    got = {r.doc_id: r for r in textstats.soft404_score(df).collect()}
    assert (got[1].n_markers, got[1].is_short,
            got[1].soft404_score, got[1].is_soft404) == (3, True, 7, True)
    assert (got[2].n_markers, got[2].is_soft404) == (1, False)
    assert (got[3].soft404_score, got[3].is_soft404) == (7, False)
    assert (got[4].n_markers, got[4].is_soft404) == (0, False)
    assert (got[5].n_markers, got[5].is_soft404) == (2, True)


def test_crawl_trap_hand_computed(spark):
    """Repeated segment, depth and parameter-count signals roll up to
    a majority host flag."""
    from tuatara_spark.ops import textstats
    deep = "https://t.com/" + "d/" * 13 + "x"
    rows = [
        ("t", "https://t.com/a/a/b"),            # repeated segment
        ("t", deep),                             # depth 14 > 12
        ("t", "https://t.com/p?a=1&b=2&c=3&d=4"),  # 4 params > 3
        ("t", "https://t.com/ok/page"),          # clean
        ("u", "https://u.com/x/y?a=1"),          # clean host
        ("u", "https://u.com/"),                 # depth 0
    ]
    df = spark.createDataFrame(rows, "host string, url string")
    got = {r.host: r for r in textstats.crawl_trap_stats(df).collect()}
    assert (got["t"].n_urls, got["t"].n_trap_urls,
            got["t"].trap_pct_e6, got["t"].is_trap_host) == \
        (4, 3, 750000, True)
    assert (got["u"].n_trap_urls, got["u"].is_trap_host) == (0, False)


def test_soft404_trap_plan_shapes(spark):
    """soft404 is a pure projection; trap stats is one
    map-side-combinable host groupBy; no Python anywhere."""
    import contextlib
    import io
    from tuatara_spark.ops import textstats
    s4 = textstats.soft404_score(spark.createDataFrame(
        [(1, "x", 200)], "doc_id long, text string, status int"))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        s4.explain(mode="simple")
    plan = buf.getvalue()
    for bad in ("Exchange", "BatchEvalPython", "ArrowEvalPython"):
        assert bad not in plan
    tr = textstats.crawl_trap_stats(spark.createDataFrame(
        [("h", "https://h/x")], "host string, url string"))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        tr.explain(mode="simple")
    plan = buf.getvalue()
    assert plan.count("Exchange") == 1  # the single host rollup
    for bad in ("BatchEvalPython", "ArrowEvalPython"):
        assert bad not in plan


def test_meta_robots_gate_hand_computed(spark):
    """Restrictive combination across meta + header; 'none' shorthand;
    case/whitespace-insensitive tokens."""
    from tuatara_spark.ops import robots
    rows = [
        (1, "index, follow", ""),
        (2, "NOINDEX , follow", ""),
        (3, "all", "noindex"),        # header overrides
        (4, "none", ""),              # none = noindex+nofollow
        (5, "", "noarchive"),
        (6, "index", "NOFOLLOW"),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, meta_robots string, x_robots_tag string")
    got = {r.doc_id: r for r in robots.meta_robots_gate(df).collect()}
    assert (got[1].can_index, got[1].can_follow,
            got[1].noarchive) == (True, True, False)
    assert (got[2].can_index, got[2].can_follow) == (False, True)
    assert (got[3].can_index, got[3].can_follow) == (False, True)
    assert (got[4].can_index, got[4].can_follow) == (False, False)
    assert (got[5].can_index, got[5].noarchive) == (True, True)
    assert (got[6].can_index, got[6].can_follow) == (True, False)


def test_canonical_collapse_hand_computed(spark):
    """url==target wins over smaller id; canonical-less pages are their
    own targets; many-to-one external targets keep min id."""
    from tuatara_spark.ops import textstats
    rows = [
        (10, "https://s/a", "https://s/a"),   # self-canonical
        (11, "https://s/b", "https://s/a"),   # alias of a (smaller id NOT kept)
        (5, "https://s/c", "https://s/a"),    # alias of a, smallest id overall
        (20, "https://s/d", ""),              # no canonical -> own target
        (30, "https://s/e", "https://ext/t"),  # external target
        (31, "https://s/f", "https://ext/t"),  # min id kept
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, url string, canonical string")
    got = {r.target_url: r for r in
           textstats.canonical_collapse(df).collect()}
    assert (got["https://s/a"].kept_id,
            got["https://s/a"].n_aliases) == (10, 3)
    assert (got["https://s/d"].kept_id,
            got["https://s/d"].n_aliases) == (20, 1)
    assert (got["https://ext/t"].kept_id,
            got["https://ext/t"].n_aliases) == (30, 2)


def test_meta_robots_canonical_plan_shapes(spark):
    """Gate is a pure projection; collapse is ONE partial-aggregating
    groupBy; no Python."""
    import contextlib
    import io
    from tuatara_spark.ops import robots, textstats
    g = robots.meta_robots_gate(spark.createDataFrame(
        [(1, "all", "")],
        "doc_id long, meta_robots string, x_robots_tag string"))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        g.explain(mode="simple")
    plan = buf.getvalue()
    for bad in ("Exchange", "BatchEvalPython", "ArrowEvalPython"):
        assert bad not in plan
    c = textstats.canonical_collapse(spark.createDataFrame(
        [(1, "u", "")], "doc_id long, url string, canonical string"))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        c.explain(mode="simple")
    plan = buf.getvalue()
    assert plan.count("Exchange") == 1
    assert "partial_min" in plan or "partial" in plan.lower() \
        or "HashAggregate" in plan
    for bad in ("BatchEvalPython", "ArrowEvalPython"):
        assert bad not in plan


def test_extraction_pr_gate_query(spark):
    """The corpus-level extraction P/R gate: one row, counts
    consistent, precision/recall in (0, 1e6], and the known chrome
    leak/miss structure keeps both below perfection but far above
    chance on the sf0.001 corpus."""
    from tuatara_spark.queries import q_extraction_pr_gate
    r = q_extraction_pr_gate(spark, "/root/testdata/sf0.001").collect()
    assert len(r) == 1
    row = r[0]
    assert row.tp > 0
    assert 0 < row.precision_e6 <= 1_000_000
    assert 0 < row.recall_e6 <= 1_000_000
    assert row.precision_e6 == (1_000_000 * row.tp) // (row.tp + row.fp)
    assert row.recall_e6 == (1_000_000 * row.tp) // (row.tp + row.fn)
    # both error mechanisms actually fire: the raw-prose half is
    # largely below the stopword bar (recall < 1 but the enriched half
    # keeps it above 0.5) and the planted short chrome block gets
    # neighbor-promoted (fp > 0 → precision < 1)
    assert row.recall_e6 > 500_000
    assert row.fp > 0 and row.precision_e6 < 1_000_000
    assert row.precision_e6 > 900_000


def test_domain_mix_hand_computed(spark):
    """sqrt weighting: a 100-doc host and a 4-doc host get weights
    10 and 2; rates realize the target under the mixture with the
    small host oversampled (capped at 1.0)."""
    from tuatara_spark.ops import training
    rows = ([(i, "big") for i in range(100)]
            + [(1000 + i, "tiny") for i in range(4)])
    df = spark.createDataFrame(rows, "doc_id long, host string")
    got = {r.host: r for r in training.domain_mix(df).collect()}
    assert (got["big"].n_docs, got["big"].weight) == (100, 10)
    assert (got["tiny"].n_docs, got["tiny"].weight) == (4, 2)
    # shares: 10/12 and 2/12 of the mixture
    assert got["big"].share_e6 == (1_000_000 * 10) // 12
    assert got["tiny"].share_e6 == (1_000_000 * 2) // 12
    # tiny host: target*share // max(1, 1e6*4//104) -> way over 1e6, capped
    assert got["tiny"].keep_rate_e6 == 1_000_000
    assert got["tiny"].n_kept == 4
    big_rate = min(1_000_000,
                   (500_000 * got["big"].share_e6)
                   // max(1, (1_000_000 * 100) // 104))
    assert got["big"].keep_rate_e6 == big_rate
    assert 0 < got["big"].n_kept < 100


def test_domain_mix_plan_shapes(spark):
    """Host rollups partial-aggregate; totals are a 1-row broadcast
    (BroadcastNestedLoopJoin on purpose); no Python, no cartesian of
    real tables."""
    import contextlib
    import io
    from tuatara_spark.ops import training
    df = spark.createDataFrame([(1, "h")], "doc_id long, host string")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        training.domain_mix(df).explain(mode="simple")
    plan = buf.getvalue()
    for bad in ("BatchEvalPython", "ArrowEvalPython", "CartesianProduct"):
        assert bad not in plan
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row totals only


def test_tier_extract_deterministic_across_partitionings(spark):
    """Every tie in the pipeline is broken by id (dedup keep-first,
    rank, train split), so tier_extract is partition-invariant — the
    local[8]-vs-local[32] determinism the driver's repartition-happy
    cluster requires."""
    from tuatara_spark.ops import dedup, tier
    rows = [(i, "en" if i % 3 else "fr",
             f"<p>the fine prose of document {i % 6} is here for all "
             f"of us to read {i}</p>")
            for i in range(30)]
    base = spark.createDataFrame(rows, "doc_id long, lang string, "
                                       "html string")
    a = sorted(map(tuple, tier.tier_extract(base.repartition(3))
                   .collect()))
    dedup.release_caches()
    b = sorted(map(tuple, tier.tier_extract(base.repartition(17))
                   .collect()))
    dedup.release_caches()
    assert a == b


def test_chunk_text_properties(spark):
    """Property over random documents: with stride == max_tokens the
    chunks partition the token stream exactly (concat == normalized
    text); with overlap, every chunk starts at chunk_idx·stride and
    the last chunk reaches the final token."""
    from hypothesis import given, settings
    from hypothesis import strategies as st
    from tuatara_spark.ops import training

    @settings(max_examples=10, deadline=None)
    @given(st.lists(st.integers(0, 99), min_size=1, max_size=40),
           st.integers(1, 8), st.integers(1, 8))
    def prop(word_ids, max_tokens, stride):
        text = " ".join(f"w{k}" for k in word_ids)
        df = spark.createDataFrame([(1, text)],
                                   "doc_id long, text string")
        out = sorted(training.chunk_text(
            df, max_tokens=max_tokens, stride=stride).collect(),
            key=lambda r: r.chunk_idx)
        n = len(word_ids)
        assert [r.start_token for r in out] == \
            list(range(0, n, stride))
        assert out[-1].start_token + out[-1].n_chunk_tokens == n \
            or out[-1].n_chunk_tokens == max_tokens
        # stride == max_tokens ⇒ exact partition
        if stride == max_tokens:
            assert " ".join(r.chunk_text for r in out) == text

    prop()


def test_host_line_dedup_idempotent(spark):
    """Second pass removes nothing: counts of surviving lines are
    unchanged by the removal (every doc keeps its unique line, so no
    new shared empty lines appear)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st
    from tuatara_spark.ops import dedup

    @settings(max_examples=8, deadline=None)
    @given(st.lists(st.lists(st.integers(0, 4), min_size=0, max_size=4),
                    min_size=2, max_size=8))
    def prop(docs):
        rows = [(i, "h", "\n".join([f"shared{k}" for k in ks]
                                   + [f"unique{i}"]))
                for i, ks in enumerate(docs)]
        df = spark.createDataFrame(rows,
                                   "doc_id long, host string, text string")
        once = {r.doc_id: r for r in dedup.host_line_dedup(df).collect()}
        again_in = spark.createDataFrame(
            [(i, "h", once[i].text_clean) for i, _ in enumerate(docs)],
            "doc_id long, host string, text string")
        twice = {r.doc_id: r
                 for r in dedup.host_line_dedup(again_in).collect()}
        for i in range(len(docs)):
            assert twice[i].n_removed == 0
            assert twice[i].text_clean == once[i].text_clean

    prop()


def test_wordpiece_hand_computed(spark):
    """BERT greedy longest-match-first: multi-piece splits, chained
    single-char continuations, [UNK] on no-match and on over-length
    words; longest match wins over shorter prefixes."""
    from tuatara_spark.ops import search
    vocab = ["the", "un", "##believ", "##able", "play", "##ing",
             "walk", "##s", "##ed", "jump", "r", "##u", "##n",
             "walkab"]
    df = spark.createDataFrame(
        [(1, "the unbelievable playing"), (2, "walks jumped xyz"),
         (3, "run"), (4, "a" * 20), (5, "  the   run  ")],
        "doc_id long, text string")
    got = {r.doc_id: r
           for r in search.wordpiece_encode(df, vocab).collect()}
    assert got[1].tokens_str == "the un ##believ ##able play ##ing"
    assert got[2].tokens_str == "walk ##s jump ##ed [UNK]"
    assert (got[2].n_words, got[2].n_tokens) == (3, 5)
    assert got[3].tokens_str == "r ##u ##n"
    assert got[4].tokens_str == "[UNK]"       # > MAX_WORD chars
    assert got[5].n_words == 2                # ws-split robust
    # longest-first: 'walkab' (6) would beat 'walk' (4) but leaves
    # 'le' unencodable -> greedy fails -> [UNK] (BERT semantics: no
    # backtracking)
    got2 = search.wordpiece_encode(
        spark.createDataFrame([(1, "walkable")],
                              "doc_id long, text string"),
        vocab).collect()[0]
    assert got2.tokens_str == "[UNK]"


def test_wordpiece_plan_is_projection(spark):
    import contextlib
    import io
    from tuatara_spark.ops import search
    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        search.wordpiece_encode(df, ["x"]).explain(mode="simple")
    plan = buf.getvalue()
    for bad in ("Exchange", "BatchEvalPython", "ArrowEvalPython"):
        assert bad not in plan


def test_split_sentences_hand_computed(spark):
    """Boundary = >=2-char lowercase word + terminal punct + space +
    capital; 'Dr.' and 'e.g.' never match the guard; trailing
    unterminated text is its own sentence."""
    from tuatara_spark.ops import textstats
    df = spark.createDataFrame(
        [(1, "This is one. And two! Dr. Smith stays. But e.g. not."),
         (2, "no boundaries here"),
         (3, "")],
        "doc_id long, text string")
    got = {}
    for r in textstats.split_sentences(df).collect():
        got.setdefault(r.doc_id, []).append((r.sent_idx, r.sentence,
                                             r.n_words))
    assert [s for _, s, _ in sorted(got[1])] == [
        "This is one.", "And two!", "Dr. Smith stays.",
        "But e.g. not."]
    assert got[2] == [(0, "no boundaries here", 3)]
    assert got[3] == [(0, "", 0)]


def test_split_sentences_plan_is_projection(spark):
    import contextlib
    import io
    from tuatara_spark.ops import textstats
    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        textstats.split_sentences(df).explain(mode="simple")
    plan = buf.getvalue()
    for bad in ("Exchange", "BatchEvalPython", "ArrowEvalPython"):
        assert bad not in plan


def test_trustrank_hand_computed(spark):
    """Seeded trust propagation: teleport mass lands only on the seed,
    so trust decays geometrically (×0.85) with link distance from it.
    Hand-run of the integer recurrence on a→b→c with seed {a}:
    i1: a=0.15e9, b=0.85e9, c=0; i2: b=127500000, c=722500000;
    i3: a=150000000, b=127500000, c=(85*127500000)//100=108375000."""
    from tuatara_spark.ops import dedup, linkgraph
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "src string, dst string")
    got = {r.node: r.trust for r in
           linkgraph.trustrank(edges, seeds=["a"], iters=3).collect()}
    dedup.release_caches()
    assert got == {"a": 150000000, "b": 127500000, "c": 108375000}


def test_generation_diff_classification(spark):
    from tuatara_spark.sources import cdx
    old = spark.createDataFrame(
        [("u1", "d1"), ("u2", "d2"), ("u3", "d3")],
        "url string, digest string")
    new = spark.createDataFrame(
        [("u2", "d2"), ("u3", "dX"), ("u4", "d4")],
        "url string, digest string")
    got = {r.key: (r.status, r.old_digest, r.new_digest)
           for r in cdx.generation_diff(old, new).collect()}
    assert got == {"u1": ("removed", "d1", ""),
                   "u2": ("unchanged", "d2", "d2"),
                   "u3": ("changed", "d3", "dX"),
                   "u4": ("added", "", "d4")}


def test_c4_filter_rules(spark):
    """Each C4 §2.2 rule exercised once: short line, unterminated line,
    javascript line, lorem-ipsum page, curly-brace page, badword page,
    and the <3-retained-sentences page floor."""
    from tuatara_spark.ops import textstats
    good = ("alpha bravo charlie delta echo one.\n"
            "alpha bravo charlie delta echo two.\n"
            "alpha bravo charlie delta echo three.")
    rows = [
        (1, good + "\ntiny line here.\nno terminal punct at all"),
        (2, good + "\nplease enable JavaScript in your browser today."),
        (3, good + "\nlorem ipsum dolor sit amet."),
        (4, good + "\nif (x) { return y; } is code."),
        (5, good + "\nwin big at the casino tonight friends."),
        (6, "alpha bravo charlie delta echo one.\n"
            "alpha bravo charlie delta echo two."),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in textstats.c4_filter(df).collect()}
    # doc 1: the two trailing junk lines drop, the three good ones stay
    assert (got[1].n_lines, got[1].n_kept, got[1].page_kept) == (5, 3, 1)
    assert got[1].cleaned == good
    # doc 2: javascript LINE drops (case-insensitive), page survives
    assert (got[2].n_kept, got[2].page_kept) == (3, 1)
    # docs 3-5: page-level kills (lorem ipsum / '{' / badword)
    assert [got[i].page_kept for i in (3, 4, 5)] == [0, 0, 0]
    # doc 3's trigger line itself passes the LINE rules (5 words,
    # terminal period) — the kill is page-level
    assert got[3].n_kept == 4
    # doc 6: lines are clean but only 2 sentences remain -> page drops
    assert (got[6].n_kept, got[6].n_sentences, got[6].page_kept) == (2, 2, 0)


def test_readability_hand_computed(spark):
    """W=9 words, S=3 sentence runs, Y=9 vowel groups:
    flesch = 206835 - (1015*9)//3 - (84600*9)//9 = 119190;
    fk = (390*9)//3 + (11800*9)//9 - 15590 = -2620. Empty text clamps
    both denominators."""
    from tuatara_spark.ops import textstats
    df = spark.createDataFrame(
        [(1, "the cat sat. it ran fast. we go now."), (2, "")],
        "doc_id long, text string")
    got = {r.doc_id: r for r in textstats.readability(df).collect()}
    r1 = got[1]
    assert (r1.n_words, r1.n_sentences, r1.n_syllables) == (9, 3, 9)
    assert r1.flesch_milli == 119190
    assert r1.fk_grade_milli == -2620
    r2 = got[2]
    assert (r2.n_words, r2.n_syllables) == (0, 0)
    assert r2.flesch_milli == 206835  # no words: both ratio terms 0


def test_fix_mojibake_inverts_cp1252_misdecode(spark):
    """The semantic pin the driver oracle can't give (it replays the
    same chain): corruptions built independently with Python's codecs
    — clean.encode('utf-8').decode('windows-1252') — are exactly
    inverted, a second pass is a no-op, and untouched text reports
    changed=0."""
    from tuatara_spark.ops import encoding
    # every char here is in MOJIBAKE_TARGETS (cp1252-mappable UTF-8
    # bytes; U+201D ” is deliberately absent — its 0x9D byte is
    # unmapped in cp1252 and would not round-trip)
    clean = "don’t say «café» at 20° — it’s “fine‘…"
    corrupted = clean.encode("utf-8").decode("windows-1252")
    assert corrupted != clean
    df = spark.createDataFrame(
        [(1, corrupted), (2, "plain ascii stays."), (3, clean)],
        "doc_id long, text string")
    got = {r.doc_id: r for r in encoding.fix_mojibake(df).collect()}
    assert got[1].text_fixed == clean and got[1].changed == 1
    assert got[2].text_fixed == "plain ascii stays." and got[2].changed == 0
    # already-clean text: no rule's corruption appears in any target,
    # so the pass is idempotent
    assert got[3].text_fixed == clean and got[3].changed == 0


def test_host_components_chains_and_singleton_star(spark):
    """A 3-chain, a star, and lexicographic (not numeric) min labels:
    h10 < h2 in binary collation — pinned so the oracle's collation
    assumption is explicit."""
    from tuatara_spark.ops import dedup, linkgraph
    edges = spark.createDataFrame(
        [("h2", "h10"),            # lexicographic min is h10, not h2
         ("a", "b"), ("b", "c"),   # chain -> all 'a'
         ("s", "t")],
        "src string, dst string")
    got = {r.host: r.component_id
           for r in linkgraph.host_components(edges).collect()}
    dedup.release_caches()
    assert got == {"h2": "h10", "h10": "h10",
                   "a": "a", "b": "a", "c": "a",
                   "s": "s", "t": "s"}


def test_kn_score_hand_computed(spark):
    """Train on {a b a b, a c}: pairs (a,b):2 (b,a):1 (a,c):1, T=3;
    lefts a:(c1=3,f1=2) b:(1,1); rights a/b/c f2=1. Scoring 'a b x a':
    (a,b) -> (1e6*(max(8-3,0)*3+3*2*1))//(4*3*3) = 583333;
    (b,x) -> discount-only with f2(x)=0 -> 0 (counts as OOV);
    (x,a) -> unseen left context backs off to f2(a)/T -> 333333.
    Mean: 916666 // 3 = 305555."""
    from tuatara_spark.ops import dedup, lm
    train = spark.createDataFrame([(0, "a b a b"), (2, "a c")],
                                  "doc_id long, text string")
    model = lm.train_kn_bigram_lm(train)
    to_score = spark.createDataFrame([(7, "a b x a")],
                                     "doc_id long, text string")
    got = lm.score_kn_bigram_lm(to_score, model).collect()[0]
    dedup.release_caches()
    assert (got.n_bigrams, got.n_oov, got.kn_score_e6) == (3, 2, 305555)


def test_fold_accents_semantics_vs_duckdb(spark):
    """Generated-table folding agrees with DuckDB's independent
    strip_accents on the 1:1 range, and the curated expansions handle
    what NFD can't (ß, Æ, Ø have no decomposition)."""
    import duckdb
    from tuatara_spark.ops import encoding
    s_single = "café crème brûlée São ñandú Ångström"
    df = spark.createDataFrame(
        [(1, s_single), (2, "Łódź große Æon ØRE Þing ĳs"), (3, "plain")],
        "doc_id long, text string")
    got = {r.doc_id: r for r in encoding.fold_accents(df).collect()}
    duck = duckdb.connect().execute(
        "select strip_accents(?)", [s_single]).fetchone()[0]
    assert got[1].text_folded == duck  # independent implementation
    assert got[2].text_folded == "Lodz grosse AEon ORE THing ijs"
    assert (got[3].text_folded, got[3].changed) == ("plain", 0)
    # idempotent: folding folded text is a no-op
    refold = encoding.fold_accents(spark.createDataFrame(
        [(9, got[2].text_folded)], "doc_id long, text string")).collect()[0]
    assert refold.changed == 0


def test_exact_percentiles_nearest_rank(spark):
    """Lower nearest-rank rule on [10,20,30,40]: rank_p=((n-1)*p)//100
    -> p25:rank0=10, p50:rank1=20, p75:rank2=30, p95:rank2=30."""
    from tuatara_spark.ops import textstats
    df = spark.createDataFrame(
        [(1, 20), (2, 40), (3, 10), (4, 30)], "doc_id long, v int")
    got = {r.pctl: r.value
           for r in textstats.exact_percentiles(df, "v").collect()}
    assert got == {25: 10, 50: 20, 75: 30, 95: 30}


def test_mojibake_randomized_inversion(spark):
    """200 seeded random strings over the target alphabet + ASCII:
    corrupt with Python's codecs (the independent reference), fix with
    the op, expect the original back — one Spark job, per-row check."""
    import random
    from tuatara_spark.ops import encoding
    rng = random.Random(1234)
    alpha = list(encoding.MOJIBAKE_TARGETS) + list(
        "abc XYZ 09.,!?-/()")
    rows = []
    for i in range(200):
        clean = "".join(rng.choice(alpha) for _ in range(rng.randint(0, 40)))
        rows.append((i, clean.encode("utf-8").decode("windows-1252"), clean))
    df = spark.createDataFrame(rows, "doc_id long, text string, want string")
    got = encoding.fix_mojibake(df).collect()
    want = {r[0]: r[2] for r in rows}
    assert all(r.text_fixed == want[r.doc_id] for r in got)


def test_fold_accents_randomized_vs_python(spark):
    """300 seeded random strings over the fold domain + ASCII: the op
    must equal the Python reference built directly from the same
    tables (replace chain then str.translate)."""
    import random
    from tuatara_spark.ops import encoding
    rng = random.Random(99)
    alpha = (list(encoding.FOLD_FROM)
             + [b for b, _ in encoding.FOLD_SPECIALS]
             + list("plain text 123 !?"))
    tr = str.maketrans(encoding.FOLD_FROM, encoding.FOLD_TO)

    def ref(s: str) -> str:
        for b, g in encoding.FOLD_SPECIALS:
            s = s.replace(b, g)
        return s.translate(tr)

    rows = [(i, "".join(rng.choice(alpha)
                        for _ in range(rng.randint(0, 30))))
            for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = encoding.fold_accents(df).collect()
    want = {i: ref(s) for i, s in rows}
    assert all(r.text_folded == want[r.doc_id] for r in got)


def test_c4_filter_randomized_vs_python(spark):
    """150 seeded random multi-line pages (word soup with planted
    javascript/brace/lorem/badword/short/unterminated lines): every
    output column must equal a from-scratch Python reference of the
    documented rules."""
    import random
    import re
    from tuatara_spark.ops import textstats

    rng = random.Random(7)
    words = ["alpha", "bravo", "code", "data", "echo", "javascript",
             "lorem", "ipsum", "casino", "x{y", "end"]

    def mk_line():
        n = rng.randint(1, 8)
        line = " ".join(rng.choice(words) for _ in range(n))
        return line + rng.choice([".", "!", "?", '"', "", " ", "x"])

    def ref(text):
        lines = text.split("\n")
        kept = [ln for ln in lines
                if re.search(r'[.!?"]$', ln.strip(" "))
                and len(re.split(" +", ln.strip(" "))) >= 5
                and "javascript" not in ln.lower()]
        cleaned = "\n".join(kept)
        n_sent = len(re.findall(r"[.!?]+", cleaned))
        low = text.lower()
        pg = not ("lorem ipsum" in low or "{" in text
                  or any(b in low for b in textstats.C4_BADWORDS))
        return (len(lines), len(kept), n_sent,
                int(pg and n_sent >= 3), cleaned)

    rows = [(i, "\n".join(mk_line() for _ in range(rng.randint(1, 8))))
            for i in range(150)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.n_lines, r.n_kept, r.n_sentences, r.page_kept,
                      r.cleaned)
           for r in textstats.c4_filter(df).collect()}
    want = {i: ref(t) for i, t in rows}
    assert got == want


def test_cross_corpus_prefix_filter_lossless(spark):
    """The asymmetric (new-side-only) prefix filter must be byte-equal
    to the brute-force new×old quadratic join at every threshold —
    seeded random word-soup corpora with planted cross-corpus
    near-dups."""
    import random
    from pyspark.sql import functions as F
    from tuatara_spark.ops import dedup
    rng = random.Random(42)
    words = ["spark", "scan", "merge", "sort", "join", "row", "data"]

    def txt():
        return " ".join(rng.choice(words) for _ in range(rng.randint(3, 12)))

    old_rows = [(i, txt()) for i in range(40)]
    # plant: half the new docs are light edits of old docs
    new_rows = []
    for i in range(100, 120):
        if i % 2 == 0:
            base_txt = old_rows[(i * 7) % 40][1]
            new_rows.append((i, base_txt + " tail"))
        else:
            new_rows.append((i, txt()))
    old = spark.createDataFrame(old_rows, "doc_id long, text string")
    new = spark.createDataFrame(new_rows, "doc_id long, text string")
    for t in (0.1, 0.3, 0.4, 0.55, 0.6, 0.8):
        got = {(r.id_new, r.id_old, round(r.jaccard, 9)) for r in
               dedup.cross_corpus_jaccard_pairs(old, new, k=3,
                                                threshold=t).collect()}
        dedup.release_caches()

        def grams(s):
            s = s.lower()
            return ({s} if len(s) < 3
                    else {s[i:i + 3] for i in range(len(s) - 2)})
        want = set()
        for ni, nt in new_rows:
            for oi, ot in old_rows:
                a, b = grams(nt), grams(ot)
                j = len(a & b) / len(a | b)
                if j >= t:
                    want.add((ni, oi, round(j, 9)))
        assert got == want, f"threshold {t}"


def test_opic_hand_computed(spark):
    """Synchronous OPIC on a<->b, a->c (init 10^9//3 = 333333333):
    r1: cash a=333333333 (from b), b=c=166666666; history all
    333333333. r2: cash a,b,c = 166666666; history a=666666666,
    b=c=499999999. r3: cash a=166666666, b=c=83333333; history
    a=833333332, b=c=666666665. Dangling c banks but sends nothing."""
    from tuatara_spark.ops import dedup, linkgraph
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("a", "c")], "src string, dst string")
    got = {r.node: (r.cash, r.history) for r in
           linkgraph.opic(edges, iters=3).collect()}
    dedup.release_caches()
    assert got == {"a": (166666666, 833333332),
                   "b": (83333333, 666666665),
                   "c": (83333333, 666666665)}


def test_spam_features_hand_computed(spark):
    """Link-farm vs prose page: anchor fraction near 1000 for the
    farm; title words counted; visible fraction = len(visible) over
    raw length with floor division."""
    from tuatara_spark.ops import htmlx
    farm = ('<html><head><title>buy cheap stuff now</title></head><body>'
            '<a href="/1">cheap pills</a> <a href="/2">fast money</a>'
            '</body></html>')
    prose = ('<html><head><title>essay</title></head><body><p>'
             'a plain essay about nothing with words</p></body></html>')
    df = spark.createDataFrame([(1, farm), (2, prose)],
                               "doc_id long, html string")
    got = {r.doc_id: r for r in
           htmlx.spam_features(df, key_col="doc_id").collect()}
    f = got[1]
    # visible text includes the title (head/title are not boilerplate
    # blocks): 4 title words + 4 anchor words
    assert f.n_words == 8 and f.title_words == 4
    assert f.anchor_word_fraction_milli == 1000 * 4 // 8
    p = got[2]
    assert p.n_words == 8 and p.title_words == 1
    assert p.anchor_word_fraction_milli == 0
    vis = "essay a plain essay about nothing with words"
    assert p.visible_fraction_milli == 1000 * len(vis) // len(prose)
    wc = len(vis.replace(" ", ""))
    assert p.avg_word_len_milli == 1000 * wc // 8


def test_winnow_matches_reference_and_guarantee(spark):
    """Exact (pos, fp) set equality against a from-scratch Python
    winnowing (same md5-prefix hash, rightmost-min tie rule), plus the
    paper's guarantee: two documents sharing a substring of length
    >= w + k - 1 share at least one fingerprint."""
    import hashlib
    import random
    from tuatara_spark.ops import textstats

    def ref(s, k=8, w=8):
        lc = s.lower()
        n = max(len(lc) - k + 1, 1)
        hs = [int(hashlib.md5(lc[p:p + k].encode()).hexdigest()[:8], 16)
              for p in range(n)]
        sel = set()
        for t in range(max(len(hs) - w + 1, 1)):
            sl = hs[t:t + w]
            m = min(sl)
            j = len(sl) - 1 - sl[::-1].index(m)   # rightmost min
            sel.add((t + j + 1, m))
        return sel

    rng = random.Random(5)
    shared = "the quick brown fox jumps over"     # 30 >= w + k - 1 = 15

    def noise(n):
        return "".join(rng.choice("abcdefgh ") for _ in range(n))

    rows = [(1, noise(40) + shared + noise(30)),
            (2, noise(25) + shared + noise(45)),
            (3, "tiny"),                           # shorter than k
            (4, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {}
    for r in textstats.winnow_fingerprints(df, k=8, w=8).collect():
        got.setdefault(r.doc_id, set()).add((r.pos, r.fp))
    for i, t in rows:
        assert got[i] == ref(t), f"doc {i}"
    assert {fp for _, fp in got[1]} & {fp for _, fp in got[2]}


def test_winnow_long_document_bounded(spark):
    """Long-document stress (round-6): a ~50k-position document runs
    through winnowing with narrow rows (no O(n·w) array plan) and
    matches the from-scratch reference exactly."""
    import hashlib
    import random
    from tuatara_spark.ops import textstats

    rng = random.Random(11)
    text = "".join(rng.choice("abcdefgh ") for _ in range(50_000))

    def ref(s, k=8, w=8):
        lc = s.lower()
        n = max(len(lc) - k + 1, 1)
        hs = [int(hashlib.md5(lc[p:p + k].encode()).hexdigest()[:8], 16)
              for p in range(n)]
        sel = set()
        for t in range(max(len(hs) - w + 1, 1)):
            sl = hs[t:t + w]
            m = min(sl)
            j = len(sl) - 1 - sl[::-1].index(m)
            sel.add((t + j + 1, m))
        return sel

    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    got = {(r.pos, r.fp)
           for r in textstats.winnow_fingerprints(df, k=8, w=8).collect()}
    assert got == ref(text)


def test_bpe_encode_replace_equivalence(spark):
    """bpe_encode_replace (the codegen'd double-delimiter replace
    chain) is bit-equivalent to the Catalyst fold bpe_encode over
    random corpora — same rank order, same leftmost-first
    non-overlapping pass — including empty docs, and rejects rules
    containing the delimiter."""
    import random

    import pytest as _pytest

    from tuatara_spark.ops import search

    rng = random.Random(7)
    alpha = "abcd "
    rows = [(i, [rng.choice(alpha) for _ in range(rng.randint(0, 30))])
            for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, syms array<string>")
    merges = [(1, "a", "a", "aa"), (2, "aa", "a", "aaa"),
              (3, "b", "c", "bc"), (4, "aa", "aa", "aaaa"),
              (5, "bc", "d", "bcd"), (6, " ", "a", " a"),
              (7, "d", "d", "dd"), (8, "aaa", "b", "aaab")]
    a = sorted((r.doc_id, tuple(r.tokens))
               for r in search.bpe_encode(df, merges).collect())
    b = sorted((r.doc_id, tuple(r.tokens))
               for r in search.bpe_encode_replace(df, merges).collect())
    assert a == b
    with _pytest.raises(ValueError):
        search.bpe_encode_replace(df, [(1, "a|", "b", "a|b")])


def test_classify_charngram_rejects_deep_doc_profiles(spark):
    """top_m > top_k would silently change predictions vs the
    documented out-of-place semantics (the gram-only join's zero-match
    elimination needs |dr - rank| < top_k) — guarded with ValueError."""
    import pytest as _pytest

    from tuatara_spark.ops import langid

    docs = spark.createDataFrame([(1, "en", "abcdef")],
                                 "doc_id long, lang string, text string")
    prof = langid.train_charngram_profiles(docs)
    with _pytest.raises(ValueError):
        langid.classify_charngram(docs, prof, top_k=10, top_m=11)


def test_jaccard_verify_integer_exact(spark):
    """The verify filters accept ``inter·den >= union·num`` over the same
    decimal rational as the prefix bound. With 1-grams (distinct letters):
    "abc"/"abcde" is J = 3/5 exactly and is kept at 0.6; "vw"/"vwxyz" is
    J = 2/5 = 3/5 − 1/union and is dropped. A threshold written with more
    digits than the 10**6 denominator resolves, 0.4000000001, is the
    rational 2/5: the J = 2/5 pair is kept, where the float comparison
    (0.4 >= 0.4000000001) would drop it although the prefix bound
    generated it."""
    from tuatara_spark.ops import dedup

    docs = spark.createDataFrame(
        [(1, "abc"), (2, "abcde"), (3, "vw"), (4, "vwxyz")],
        "doc_id long, text string")
    old = docs.filter("doc_id IN (2, 4)")
    new = docs.filter("doc_id IN (1, 3)")
    for t, want in ((0.6, {(1, 2)}), (0.4000000001, {(1, 2), (3, 4)})):
        got = {(r.id_a, r.id_b) for r in
               dedup.ngram_jaccard_pairs(docs, k=1, threshold=t).collect()}
        assert got == want, (t, got)
        got = {(r.id_new, r.id_old) for r in dedup.cross_corpus_jaccard_pairs(
            old, new, k=1, threshold=t).collect()}
        assert got == want, (t, got)
        # one row per band: a J >= 2/5 pair misses all 32 bands with
        # probability <= 0.6**32
        got = {(r.id_a, r.id_b): r.jaccard for r in dedup.minhash_lsh_pairs(
            docs, k=1, num_perm=32, bands=32, threshold=t).collect()}
        assert set(got) == want, (t, got)
        assert got[(1, 2)] == 0.6
    dedup.release_caches()


def test_prefix_bound_integer_exact(spark):
    """The lossless-prefix size must use the exact ceiling of the
    DECIMAL rational the caller wrote. The float formulation
    ceil(t * n) overshoots the true ceiling where n*t rounds just
    above an integer — concretely t=0.55, n=100: 100*0.55 ==
    55.000000000000007, float ceil 56 vs exact 55 — shrinking the
    prefix by one gram and risking dropped J == t pairs;
    _prefix_bound must not. For the shipped thresholds (0.5, 0.6)
    the integer bound must agree with the old float bound for every
    n — the declared queries' candidate sets are unchanged."""
    import math
    from fractions import Fraction

    from pyspark.sql import functions as F

    from tuatara_spark.ops.dedup import _prefix_bound

    ns = spark.range(1, 1001).select(F.col("id").cast("long").alias("_n"))
    for t in (0.1, 0.3, 0.5, 0.55, 0.6, 0.8):
        fr = Fraction(t).limit_denominator(10 ** 6)
        got = {r["_n"]: r["b"] for r in
               ns.select("_n", _prefix_bound(t).alias("b")).collect()}
        for n in range(1, 1001):
            exact = n - (-(-n * fr.numerator // fr.denominator)) + 1
            assert got[n] == exact, (t, n, got[n], exact)
    # the demonstrating case: the old float ceil shrinks the t=0.55
    # prefix at n=100 (and would have dropped boundary candidates)...
    assert math.ceil(100 * 0.55) == 56 and -(-100 * 11 // 20) == 55
    # ...while at the shipped thresholds both formulations agree for
    # every n, so declared-query candidate sets are unchanged
    for t in (0.5, 0.6):
        fr = Fraction(t).limit_denominator(10 ** 6)
        for n in range(1, 1001):
            assert (n - math.ceil(n * t) + 1
                    == n - (-(-n * fr.numerator // fr.denominator)) + 1), (t, n)
