"""Training-data ops: dedup (exact/minhash/simhash), ANN, textstats,
multimodal plumbing — semantics pinned with planted fixtures."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from tuatara_spark.ops import dedup, multimodal, similarity, textstats


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog while data flows"
    rows = [
        (0, base, "en"),
        (1, base, "en"),                                  # exact dup of 0
        (2, base.replace("quick", "quik"), "en"),         # near dup of 0
        (3, "completely different text about spark engines and parquet files", "en"),
        (4, "el rapido zorro marron salta sobre el perro perezoso cada dia", "es"),
        (5, "short text", "en"),
        (6, base + " with a small suffix appended", "en"),  # near dup
    ]
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text", "lang"]))


def test_exact_dedup(docs):
    groups = dedup.exact_groups(docs).collect()
    dup = [g for g in groups if g.n_dups > 1]
    assert len(dup) == 1 and dup[0].keep_id == 0 and dup[0].n_dups == 2
    kept = sorted(r.doc_id for r in dedup.keep_first(docs).collect())
    assert kept == [0, 2, 3, 4, 5, 6]


def test_minhash_lsh_finds_near_dups(docs):
    pairs = {(r.id_a, r.id_b): r.jaccard
             for r in dedup.minhash_lsh_pairs(docs, threshold=0.5).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] == 1.0   # exact dup
    assert (0, 2) in pairs                            # near dup
    assert (0, 6) in pairs                            # suffix near dup
    assert not any({a, b} & {3, 4} and {a, b} != {3, 4} and j > 0.9
                   for (a, b), j in pairs.items())


def test_simhash_semantics(spark, docs):
    sh = {r.doc_id: r.simhash for r in dedup.simhash64(docs).collect()}
    assert sh[0] == sh[1]                             # identical texts
    ham_near = bin(sh[0] ^ sh[2]).count("1")
    ham_far = bin(sh[0] ^ sh[3]).count("1")
    assert ham_near < ham_far                         # near dup closer
    pairs = {(r.id_a, r.id_b): r.hamming
             for r in dedup.simhash_pairs(docs, max_hamming=10,
                                 strict=False).collect()}
    assert pairs.get((0, 1)) == 0


def test_ann_cosine_topk_matches_numpy(spark):
    rng = np.random.default_rng(3)
    vecs = rng.standard_normal((200, 16)).astype(np.float32)
    q = rng.standard_normal(16)
    pdf = pd.DataFrame({"vec_id": range(200),
                        "embedding": [v.tolist() for v in vecs],
                        "label": 0})
    df = spark.createDataFrame(pdf)
    got = [r.vec_id for r in similarity.cosine_topk(df, q, k=10).collect()]
    cos = (vecs @ q) / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(q))
    want = list(np.argsort(-cos)[:10])
    assert got == [int(w) for w in want]
    # the batched pandas_udf scale path agrees with the Catalyst form
    batched = {r.vec_id: r.cosine
               for r in similarity.cosine_topk_batched(df, q, k=10).collect()}
    exact = {r.vec_id: r.cosine
             for r in similarity.cosine_topk(df, q, k=10).collect()}
    assert batched.keys() == exact.keys()
    for vid in exact:
        assert abs(batched[vid] - exact[vid]) < 1e-9


def test_ann_lsh_recall(spark):
    rng = np.random.default_rng(4)
    vecs = rng.standard_normal((400, 16)).astype(np.float32)
    q = vecs[7].astype(np.float64)  # query near an existing vector
    pdf = pd.DataFrame({"vec_id": range(400),
                        "embedding": [v.tolist() for v in vecs],
                        "label": 0})
    df = spark.createDataFrame(pdf)
    approx = [r.vec_id for r in
              similarity.lsh_topk(df, q, k=5, n_planes=8).collect()]
    assert approx and approx[0] == 7  # the true nearest neighbor survives LSH


def test_textstats(docs):
    tc = {r.doc_id: r.ws_tokens for r in textstats.token_count(docs).collect()}
    assert tc[5] == 2
    lm = {r.doc_id: r.pred_lang for r in textstats.lang_markers(docs).collect()}
    assert lm[0] == "en" and lm[4] == "es"
    fp = {r.doc_id: r for r in textstats.fingerprint(docs).collect()}
    assert fp[0].text_md5 == fp[1].text_md5
    assert fp[0].min_kgram_md5 is not None
    q = {r.doc_id: r for r in textstats.quality_score(docs).collect()}
    assert 0 < q[0].alpha_ratio < 1


def test_multimodal_meta_and_thumbnail(spark, weights):
    from tuatara_spark import fixtures as fx
    pages = fx.make_pages(4, seed=9)
    pages["html"] = pages["html"].map(bytes)
    sdf = spark.createDataFrame(pages[["url", "html"]])
    meta = {r.url: r for r in multimodal.extract_media_meta(sdf).collect()}
    for _, row in pages.iterrows():
        m = meta[row["url"]]
        assert m.format == "tpage" and m.width == 256 and m.height == 256
        assert m.n_bytes == len(row["html"])
        assert 0 < m.mean_luma < 255
    import pandas as pd
    mixed = pd.concat([pages[["url", "html"]], pd.DataFrame(
        [{"url": "x", "html": b"\x89PNG\r\n" + b"0" * 10},
         {"url": "p", "html": b"%PDF-1.4 x"},
         {"url": "w", "html": b"RIFFxxxxWAVE"},
         {"url": "wp", "html": b"RIFFxxxxWEBPdata"},
         {"url": "r", "html": b"RIFFxxxxAVI LIST"},
         {"url": "h", "html": b"<html><body>y"},
         {"url": "v", "html": b"TPV1\x01\x00"}])])
    # PNG and JPEG decode for real now (ref/png.py, ref/jpeg.py): a
    # MALFORMED payload of either must come back as an error row, a VALID
    # jpeg as a real decode, and a format with no codec (audio) as a stub
    from tuatara_spark.ref import jpeg as J
    page_img = fx.decode_payload(pages["html"][0])
    mixed2 = pd.concat([mixed, pd.DataFrame(
        [{"url": "j", "html": b"\xff\xd8\xff" + b"0" * 10},
         {"url": "jv", "html": J.encode_jpeg(page_img, quality=95)},
         {"url": "au", "html": b"RIFF" + b"0" * 10}])])
    meta2 = {r.url: r.format for r in multimodal.extract_media_meta(
        spark.createDataFrame(mixed2)).collect()}
    assert meta2["x"] == "error"
    assert meta2["j"] == "error"
    assert meta2["jv"] == "jpeg"
    assert meta2["au"] == "stubbed"
    thumbs = multimodal.thumbnail(sdf, 16, 16).collect()
    assert len(thumbs) == 4
    assert all(len(t.thumb) == 16 * 16 * 3 for t in thumbs)


def test_both_sniffers_read_one_table():
    """``fixtures.sniff_format`` names one payload per ``FORMATS`` row, a
    RIFF of another form, an untagged MP3, a buffer shorter than every
    4-byte magic, an empty one and junk."""
    from tuatara_spark import fixtures as fx
    from tuatara_spark.ops import audio
    cases = {}
    for i, (magic, form, name) in enumerate(fx.FORMATS):
        body = magic.ljust(8, b"\0") + (form or b"") + b"payload"
        cases[f"{i}:{name}"] = (body, name)
    cases["riff_avi"] = (b"RIFF\0\0\0\0AVI LIST", "riff")
    # an untagged MP3 starts with a bare frame sync (ff fb 90 00)
    cases["mp3_untagged"] = (audio.encode_mp3_fixture(n_frames=2), "mp3")
    cases["short"] = (b"TP", "unknown")
    cases["empty"] = (b"", "unknown")
    cases["junk"] = (b"\x00junk-not-a-format", "unknown")
    for key, (buf, name) in cases.items():
        assert fx.sniff_format(buf) == name, key


def test_utf16_page_is_not_mp3():
    """A bare 0xFF-led frame sync is MP3 only when its 4-byte header is
    valid: a UTF-16LE page's BOM (ff fe 3c 00) is not, so the page sniffs
    "unknown" with or without the BOM, while a real untagged MP3 (ff fb
    90 00) still sniffs "mp3"."""
    from tuatara_spark import fixtures as fx
    from tuatara_spark.ops import audio
    page = "<html><body>hello</body></html>".encode("utf-16-le")
    assert fx.sniff_format(b"\xff\xfe" + page) == "unknown"
    assert fx.sniff_format(page) == "unknown"
    mp3 = audio.encode_mp3_fixture(n_frames=2)
    assert mp3[:4] == b"\xff\xfb\x90\x00"
    assert fx.sniff_format(mp3) == "mp3"
