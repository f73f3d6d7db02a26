"""The benchmark workloads: seeded input generators, one pass each through
the shipped public entry points, and output checkers.

Each generator is a pure function of its seed. It writes the inputs the
program reads plus a ``truth.json.gz`` beside them that only the checker
reads.

* ``ocr_skew``: ``job.run_extract`` with the CLI defaults (64 buckets,
  4 groups, ``num_tasks`` = 2 x parallelism) over TPBIT page rasters.
* ``crawl_dedup``: ``job.run_crawl`` with the same defaults over WARC
  containers, then ``ops.dedup.minhash_lsh_pairs`` (threshold 0.6) over
  the committed main text and ``ops.dedup.cluster_ids`` over the written
  pairs.
"""

from __future__ import annotations

import gzip
import json
import os
import shutil
from fractions import Fraction

import numpy as np

NUM_BUCKETS = 64
GROUPS = 4
DEDUP_THRESHOLD = Fraction(3, 5)
DEDUP_SHINGLE_K = 5
# planted near-dup pairs with exact Jaccard >= RECALL_MIN_JACCARD must be
# found at a rate >= RECALL_FLOOR (32 perms in 8 bands find a J = 0.8
# pair with probability 0.985)
RECALL_MIN_JACCARD = Fraction(4, 5)
RECALL_FLOOR = 0.9

# Input size per workload. A pass processes the whole input once.
SIZES = {
    "ocr_skew": {"pages": 384, "large": 6, "poison": 1, "files": 16},
    "crawl_dedup": {"pages": 1024, "files": 64},
}
WORKLOADS = tuple(SIZES)

# Bumped whenever a generator's output changes, so cached inputs of an
# older generator are never reused (the cache key also holds the sizes).
GENERATOR_VERSION = 3


# --------------------------------------------------------------------------
# generators
# --------------------------------------------------------------------------

def gen_ocr(seed: int, out_dir: str, pages: int, files: int,
            large: int = 0, poison: int = 0) -> dict:
    """256² TPBIT pages with Zipf hosts (``fixtures.make_pages``) plus
    ``large`` 2048² skew pages, shuffled, with ``poison`` small pages
    truncated mid-payload. Written as ``files`` parquet files. Ground
    truth: url → rendered text, or None for a poison page (which must come
    back as a ``decode:`` error row)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from tuatara_spark import fixtures as fx
    df = fx.make_pages(pages, seed=seed, n_large=large, payload="tpbit")
    rng = np.random.default_rng(seed + 1)
    df = df.iloc[rng.permutation(len(df))].reset_index(drop=True)
    truth = dict(zip(df["url"], df["text"]))
    small = np.flatnonzero(df["html"].map(len).to_numpy() < 65536)
    for i in rng.choice(small, size=poison, replace=False):
        payload = df.at[i, "html"]
        df.at[i, "html"] = payload[:8 + (len(payload) - 8) // 2]
        truth[df.at[i, "url"]] = None
    table = pa.Table.from_pandas(df.drop(columns=["text"]),
                                 preserve_index=False)
    for f in range(files):
        lo, hi = len(df) * f // files, len(df) * (f + 1) // files
        pq.write_table(table.slice(lo, hi - lo),
                       os.path.join(out_dir, f"part-{f:04d}.parquet"),
                       coerce_timestamps="us")
    return {"rows": len(df), "text": truth}


# Crawl pages: visible text is drawn from a large synthetic vocabulary (so
# unrelated pages share few shingles) plus words that need the page's
# declared charset; entity units check the strip-then-decode order.
_VOCAB = tuple(f"w{j:x}{'abcdefgh'[j % 8]}" for j in range(20_000))
_CHARSET_WORDS = {
    "utf-8": ("東京", "π≈3.14", "Ωmega", "naïve", "κόσμος", "日本語"),
    "iso-8859-1": ("café", "über", "niño", "straße", "déjà", "façade",
                   "señor", "grün", "mañana", "açaí"),
    "windows-1252": ("€uro", "“quoted”", "it’s", "—dash", "naïve",
                     "œuvre", "café", "straße"),
}
_CHARSET_WORDS["utf-8-bom"] = _CHARSET_WORDS["utf-8"]
_ENTITY_UNITS = (("&amp;", "&"), ("&lt;b&gt;", "<b>"),
                 ("&quot;q&quot;", '"q"'), ("a&nbsp;b", "a b"),
                 ("&mdash;", "—"))
_CHARSETS = ("utf-8", "utf-8-bom", "iso-8859-1", "windows-1252")
_ENCODE = {"utf-8": "utf-8", "utf-8-bom": "utf-8",
           "iso-8859-1": "latin-1", "windows-1252": "cp1252"}


def _unit(rng: np.random.Generator, cs: str) -> tuple[str, str]:
    """One visible token as (html source, text after the strip rules)."""
    r = rng.random()
    if r < 0.08:
        words = _CHARSET_WORDS[cs]
        w = words[int(rng.integers(0, len(words)))]
        return w, w
    if r < 0.10:
        return _ENTITY_UNITS[int(rng.integers(0, len(_ENTITY_UNITS)))]
    w = _VOCAB[int(rng.integers(0, len(_VOCAB)))]
    return w, w


def _content(rng: np.random.Generator, cs: str) -> list[list[tuple]]:
    """Title units, then 1-3 paragraphs of 10-40 units."""
    return ([[_unit(rng, cs) for _ in range(int(rng.integers(2, 6)))]]
            + [[_unit(rng, cs) for _ in range(int(rng.integers(10, 41)))]
               for _ in range(int(rng.integers(1, 4)))])


def _near_copy(rng: np.random.Generator, content, cs: str):
    """``content`` with 5 % of its units substituted."""
    flat = [(i, j) for i, part in enumerate(content)
            for j in range(len(part))]
    out = [list(part) for part in content]
    for k in rng.choice(len(flat), size=max(1, len(flat) // 20),
                        replace=False):
        i, j = flat[int(k)]
        out[i][j] = _unit(rng, cs)
    return out


def _crawl_page(rng: np.random.Generator, i: int, cs: str,
                content) -> tuple[dict, str]:
    """One WARC page dict for ``encode_warc`` and its expected main text:
    the title and paragraphs survive the strip; the script, style, nav,
    header, comment, aside and footer blocks must not."""
    junk = " ".join(_VOCAB[int(j)] for j in
                    rng.integers(0, len(_VOCAB), int(rng.integers(3, 30))))
    title, paras = content[0], content[1:]
    meta = ("" if cs == "utf-8-bom"
            else f'<meta charset="{cs}">' if rng.random() < 0.5
            else '<meta http-equiv="Content-Type" '
                 f'content="text/html; charset={cs}">')
    html = ("<!DOCTYPE html><html><head>" + meta
            + "<title>" + " ".join(h for h, _ in title) + "</title>"
            + f"<script>var x = '{junk}';</script>"
            + "<style>.c { color: red }</style></head><body>"
            + f'<nav><a href="/">{junk}</a></nav>'
            + f"<header>{junk}</header><!-- {junk} -->"
            + "\n".join('<p class="c">' + " ".join(h for h, _ in p)
                        + "</p>" for p in paras)
            + f"<aside>{junk}</aside><footer>{junk} &copy;</footer>"
            + "</body></html>")
    body = html.encode(_ENCODE[cs])
    if cs == "utf-8-bom":
        body = b"\xef\xbb\xbf" + body
    host = min(int(rng.zipf(2.0)), 40)
    page = {"url": f"https://site{host}.test/c/{i:07d}",
            "date": f"2026-01-{1 + i % 28:02d}T00:00:00Z",
            "status": 200, "content_type": "text/html", "body": body,
            "chunked": i % 3 == 1, "gzip_body": i % 3 == 2}
    return page, " ".join(t for part in content for _, t in part)


def gen_crawl(seed: int, out_dir: str, pages: int, files: int) -> dict:
    """``files`` .warc.gz containers (one gzip member per record) holding
    ``pages`` HTML responses in four charsets; a third of the bodies are
    chunked and a third gzip-encoded. 30 % of the pages are planted
    near-duplicate mirrors (clusters of 2-8 copies, 5 % of the words
    substituted per copy) and 3 % (at least 60, above the LSH
    ``max_bucket`` of 50) share one boilerplate text. Ground truth: url →
    main text after the strip rules of ``ops.htmlx.strip_boilerplate``,
    and url → planted cluster (>= 0 for a near-dup mirror)."""
    from tuatara_spark.sources import warc as W
    rng = np.random.default_rng(seed)
    specs: list[tuple[str, list, int]] = []  # (charset, content, cluster)
    n_planted = int(pages * 0.30)
    cid = 0
    while len(specs) + 2 <= n_planted:
        cs = _CHARSETS[int(rng.integers(0, len(_CHARSETS)))]
        base = _content(rng, cs)
        copies = min(int(rng.integers(2, 9)), n_planted - len(specs))
        specs += [(cs, _near_copy(rng, base, cs), cid)
                  for _ in range(copies)]
        cid += 1
    boiler = _content(rng, "utf-8")
    specs += [("utf-8", boiler, -1)] * max(int(pages * 0.03), 60)
    while len(specs) < pages:
        cs = _CHARSETS[int(rng.integers(0, len(_CHARSETS)))]
        specs.append((cs, _content(rng, cs), -2 - len(specs)))
    order = [int(k) for k in rng.permutation(len(specs))]
    built = [_crawl_page(rng, i, *specs[k][:2]) for i, k in enumerate(order)]
    for f in range(files):
        with open(os.path.join(out_dir, f"part-{f:04d}.warc.gz"),
                  "wb") as fh:
            fh.write(W.encode_warc([p for p, _ in built[f::files]]))
    return {"rows": len(built),
            "text": {p["url"]: t for p, t in built},
            "planted": {p["url"]: specs[k][2]
                        for (p, _), k in zip(built, order)}}


def generate(workload: str, seed: int, cache_root: str) -> str:
    """Generate (or reuse) the inputs of ``workload`` for ``seed``.
    Returns the directory: ``input/`` is the program's input and
    ``truth.json.gz`` the ground truth."""
    size = "-".join(f"{k}{v}" for k, v in sorted(SIZES[workload].items()))
    d = os.path.join(cache_root,
                     f"{workload}-s{seed}-v{GENERATOR_VERSION}-{size}")
    if os.path.exists(os.path.join(d, "DONE")):
        return d
    shutil.rmtree(d, ignore_errors=True)
    inp = os.path.join(d, "input")
    os.makedirs(inp)
    gen = gen_ocr if workload == "ocr_skew" else gen_crawl
    truth = gen(seed, inp, **SIZES[workload])
    with open(os.path.join(d, "truth.json.gz"), "wb") as raw, \
            gzip.GzipFile(fileobj=raw, mode="wb", mtime=0) as f:
        f.write(json.dumps(truth, sort_keys=True).encode())
    open(os.path.join(d, "DONE"), "w").close()
    return d


def load_truth(gen_dir: str) -> dict:
    with gzip.open(os.path.join(gen_dir, "truth.json.gz"), "rt") as f:
        return json.load(f)


# --------------------------------------------------------------------------
# one pass
# --------------------------------------------------------------------------

def run_pass(spark, workload: str, input_dir: str, out_root: str) -> dict:
    """One pass over the whole input into the fresh ``out_root``.
    Returns the job summary."""
    from tuatara_spark import job
    num_tasks = spark.sparkContext.defaultParallelism * 2
    if workload == "ocr_skew":
        return job.run_extract(spark, input_dir, out_root,
                               num_buckets=NUM_BUCKETS, groups=GROUPS,
                               num_tasks=num_tasks)
    from tuatara_spark.catalog import Catalog
    from tuatara_spark.ops import dedup
    crawl_root = os.path.join(out_root, "crawl")
    summary = job.run_crawl(spark, input_dir, crawl_root,
                            num_buckets=NUM_BUCKETS, groups=GROUPS,
                            num_tasks=num_tasks)
    docs = Catalog(crawl_root).read_table(spark).select("url", "main_text")
    pairs = dedup.minhash_lsh_pairs(docs, text_col="main_text", id_col="url",
                                    threshold=float(DEDUP_THRESHOLD))
    pairs.write.parquet(os.path.join(out_root, "pairs"))
    clusters = dedup.cluster_ids(
        docs, spark.read.parquet(os.path.join(out_root, "pairs")),
        id_col="url")
    clusters.write.parquet(os.path.join(out_root, "clusters"))
    dedup.release_caches()
    return summary


# --------------------------------------------------------------------------
# output checks
# --------------------------------------------------------------------------

def read_parquet_dir(path: str, columns: list[str]) -> dict[str, list]:
    """Columns of every parquet file under ``path`` (hive partition dirs
    included), read on the driver without Spark."""
    import pyarrow.parquet as pq
    out: dict[str, list] = {c: [] for c in columns}
    for root, _, names in sorted(os.walk(path)):
        for name in sorted(names):
            if name.endswith(".parquet"):
                t = pq.read_table(os.path.join(root, name), columns=columns)
                for c in columns:
                    out[c].extend(t.column(c).to_pylist())
    return out


def data_bytes(out_root: str) -> int:
    """Bytes of the data files (parquet) under ``out_root``."""
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _, fs in os.walk(out_root)
               for f in fs if f.endswith(".parquet"))


def shingles(text: str, k: int = DEDUP_SHINGLE_K) -> set[str]:
    """The character k-gram set ``ops.dedup.shingle_tokens`` builds."""
    lc = text.lower()
    return {lc[i:i + k] for i in range(max(len(lc) - k + 1, 1))}


def jaccard(a: set, b: set) -> Fraction:
    inter = len(a & b)
    return Fraction(inter, len(a) + len(b) - inter)


def check_pass(workload: str, truth: dict, out_root: str,
               summary: dict) -> tuple[int, list[str]]:
    """Compare one pass's outputs with the ground truth. Returns (rows
    whose output is wrong or missing, problem descriptions); any problem
    fails the run."""
    from tuatara_spark.catalog import Catalog
    root = out_root if workload == "ocr_skew" else os.path.join(out_root,
                                                                "crawl")
    bad: list[str] = []
    if summary.get("resumed") is not False:
        bad.append(f"pass reported resumed={summary.get('resumed')!r}")
    done = Catalog(root).committed_buckets()
    if done != set(range(NUM_BUCKETS)):
        bad.append(f"{NUM_BUCKETS - len(done)} of {NUM_BUCKETS} buckets "
                   "left uncommitted")
    text_col = "text" if workload == "ocr_skew" else "main_text"
    cols = ["url", text_col] + (["error"] if workload == "ocr_skew" else [])
    out = read_parquet_dir(os.path.join(root, "data"), cols)
    got = dict(zip(out["url"], out[text_col]))
    errors = dict(zip(out["url"], out.get("error", [])))
    expect = truth["text"]
    wrong = abs(len(out["url"]) - len(expect))
    if wrong:
        bad.append(f"{len(out['url'])} output rows for {len(expect)} "
                   "input rows")
    for url, want in expect.items():
        if want is None:  # planted poison page: a decode error row
            ok = (url in errors and got[url] is None
                  and str(errors[url]).startswith("decode:"))
        else:
            ok = got.get(url) == want and errors.get(url) is None
        if not ok:
            wrong += 1
            if len(bad) < 8:
                bad.append(f"{url}: expected {want!r}, got "
                           f"{got.get(url)!r} (error {errors.get(url)!r})")
    if workload == "crawl_dedup":
        w, msgs = check_dedup(truth, out_root)
        wrong += w
        bad += msgs
    return wrong, bad


def check_dedup(truth: dict, out_root: str) -> tuple[int, list[str]]:
    """Every reported pair has exact Jaccard >= 0.6 (recomputed here from
    the expected main text), planted pairs with Jaccard >= 0.8 are
    recalled at >= 0.9, and ``cluster_id`` equals union-find over the
    reported pairs."""
    bad: list[str] = []
    wrong = 0
    sh = {u: shingles(t) for u, t in truth["text"].items()}
    out = read_parquet_dir(os.path.join(out_root, "pairs"),
                           ["id_a", "id_b", "jaccard"])
    pairs = list(zip(out["id_a"], out["id_b"], out["jaccard"]))
    seen: set[tuple[str, str]] = set()
    for a, b, jac in pairs:
        exact = jaccard(sh[a], sh[b])
        if (a >= b or (a, b) in seen or exact < DEDUP_THRESHOLD
                or abs(float(exact) - jac) > 1e-6):
            wrong += 1
            if len(bad) < 8:
                bad.append(f"pair ({a}, {b}): jaccard {jac}, exact "
                           f"{float(exact):.6f}")
        seen.add((a, b))
    members: dict[int, list[str]] = {}
    for u, c in truth["planted"].items():
        if c >= 0:
            members.setdefault(c, []).append(u)
    want = found = 0
    for urls in members.values():
        urls.sort()
        for i, a in enumerate(urls):
            for b in urls[i + 1:]:
                if jaccard(sh[a], sh[b]) >= RECALL_MIN_JACCARD:
                    want += 1
                    found += (a, b) in seen
    if found < RECALL_FLOOR * want:
        wrong += want - found
        bad.append(f"planted-pair recall {found}/{want} is below "
                   f"{RECALL_FLOOR}")
    # union-find over the reported pairs; the smallest id is the root
    parent = {u: u for u in sh}

    def find(x: str) -> str:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b, _ in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    out = read_parquet_dir(os.path.join(out_root, "clusters"),
                           ["url", "cluster_id"])
    got = dict(zip(out["url"], out["cluster_id"]))
    if len(out["url"]) != len(sh):
        wrong += abs(len(out["url"]) - len(sh))
        bad.append(f"{len(out['url'])} cluster rows for {len(sh)} pages")
    for u in sh:
        if got.get(u) != find(u):
            wrong += 1
            if len(bad) < 8:
                bad.append(f"{u}: cluster {got.get(u)!r}, expected "
                           f"{find(u)!r}")
    return wrong, bad
