"""Seeded inputs for every workload.

Everything a workload feeds the program is made here from ``--seed``,
except the six CC0 photos under ``data/photos`` (see the README for
their provenance).  The same seed always gives the same bytes;
``run.py --inputs`` prints their checksums.
"""

from __future__ import annotations

import hashlib
import os
import struct
import zlib

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
PHOTO_DIR = os.path.join(HERE, "data", "photos")

# Long sides and aspect ratios of the generated PNGs, one pair per pool
# slot: the seed jitters them and draws contents and orientation, so
# every seed carries the same pixel work to within a few percent.
PNG_LONG_SIDES = (400, 528, 656, 784, 912, 1008)
PNG_ASPECTS = (0.92, 0.6, 0.84, 0.68, 1.0, 0.76)
# spatial frequencies (cycles per image) of the four waves per channel
WAVE_FREQS = ((0.7, 1.1), (1.9, 0.8), (2.6, 3.3), (4.4, 1.7))


# ---------------------------------------------------------------------------
# images
# ---------------------------------------------------------------------------


PNG_FILTERS = ("none", "sub", "up", "average", "paeth")


def png_filter_rows(rgb: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Per-row adaptive filtering as libpng does it by default: every row
    is filtered all five ways and keeps the filter whose output has the
    smallest sum of absolute values, bytes read as signed (first filter
    on ties).  Returns (filter type per row, filtered rows as uint8)."""
    h, w, c = rgb.shape
    x = rgb.reshape(h, w * c).astype(np.int16)
    up = np.zeros_like(x)
    up[1:] = x[:-1]
    left = np.zeros_like(x)
    left[:, c:] = x[:, :-c]
    upleft = np.zeros_like(x)
    upleft[:, c:] = up[:, :-c]
    p = left + up - upleft
    pa, pb, pc = np.abs(p - left), np.abs(p - up), np.abs(p - upleft)
    paeth = np.where((pa <= pb) & (pa <= pc), left, np.where(pb <= pc, up, upleft))
    cand = np.stack([x, x - left, x - up, x - ((left + up) >> 1), x - paeth]) & 0xFF
    cost = np.minimum(cand, 256 - cand).sum(axis=2)  # (5, h)
    kind = cost.argmin(axis=0)
    return kind, cand[kind, np.arange(h)].astype(np.uint8)


def encode_png(rgb: np.ndarray) -> bytes:
    """RGB uint8 -> PNG with stdlib zlib, rows filtered adaptively
    (``png_filter_rows``)."""
    h, w, _ = rgb.shape
    kind, rows = png_filter_rows(rgb)
    body = np.concatenate([kind.astype(np.uint8)[:, None], rows], axis=1).tobytes()

    def chunk(typ: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + typ
            + body
            + struct.pack(">I", zlib.crc32(typ + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(body, 6))
        + chunk(b"IEND", b"")
    )


def png_filter_shares(images: list[bytes]) -> dict[str, float]:
    """Share of each row filter over all rows of 8-bit RGB PNGs, read
    from the files themselves."""
    counts = dict.fromkeys(PNG_FILTERS, 0)
    for data in images:
        w, h = struct.unpack(">II", data[16:24])
        pos, idat = 8, b""
        while pos < len(data):
            (n,) = struct.unpack(">I", data[pos : pos + 4])
            if data[pos + 4 : pos + 8] == b"IDAT":
                idat += data[pos + 8 : pos + 8 + n]
            pos += 12 + n
        raw = zlib.decompress(idat)
        for y in range(h):
            counts[PNG_FILTERS[raw[y * (3 * w + 1)]]] += 1
    total = sum(counts.values())
    return {k: round(v / total, 4) for k, v in counts.items()}


def smooth_image(rng: np.random.Generator, w: int, h: int, grain: float = 3.0) -> np.ndarray:
    """A photo-like RGB image: a few low-frequency waves and a ramp per
    channel plus mild grain, so re-encoding and resizing behave as they
    do on camera images rather than on flat colour or white noise."""
    y = np.linspace(0.0, 1.0, h)[:, None]
    x = np.linspace(0.0, 1.0, w)[None, :]
    out = np.empty((h, w, 3), dtype=np.float64)
    for c in range(3):
        acc = 128.0 + 60.0 * (rng.random() - 0.5) * (x + y)
        for fx, fy in WAVE_FREQS:
            sx, sy = rng.choice((-1.0, 1.0), size=2)
            ph = rng.uniform(0, 2 * np.pi)
            acc = acc + 20.0 * np.sin(2 * np.pi * (sx * fx * x + sy * fy * y) + ph)
        out[:, :, c] = acc
    out += rng.normal(0.0, grain, size=out.shape)
    return np.clip(np.rint(out), 0, 255).astype(np.uint8)


def sof_dimensions(data: bytes) -> tuple[int, int, int]:
    """(width, height, SOF marker) of a JPEG, read from its frame header."""
    i = 2
    while i + 9 < len(data):
        if data[i] != 0xFF:
            i += 1
            continue
        marker = data[i + 1]
        if marker in (0xD8, 0x01, 0xFF) or 0xD0 <= marker <= 0xD7:
            i += 1 if marker == 0xFF else 2
            continue
        (seg_len,) = struct.unpack(">H", data[i + 2 : i + 4])
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            h, w = struct.unpack(">HH", data[i + 5 : i + 9])
            return w, h, marker
        i += 2 + seg_len
    raise ValueError("no SOF marker")


def photo_pool() -> list[dict]:
    """The shipped CC0 photos, in name order."""
    pool = []
    for name in sorted(os.listdir(PHOTO_DIR)):
        if not name.endswith(".jpg"):
            continue
        with open(os.path.join(PHOTO_DIR, name), "rb") as fh:
            data = fh.read()
        w, h, _ = sof_dimensions(data)
        pool.append({"name": name, "ext": "jpg", "data": data, "width": w, "height": h,
                     "pixels": None})
    if len(pool) != 6:
        raise FileNotFoundError(f"expected 6 photos in {PHOTO_DIR}, found {len(pool)}")
    return pool


def pixels_pool(seed: int) -> list[dict]:
    """Six photos plus six seeded PNGs of 400-1024 px."""
    rng = np.random.default_rng([seed, 1])
    pool = photo_pool()
    for i, (side, aspect) in enumerate(zip(PNG_LONG_SIDES, PNG_ASPECTS)):
        long_side = int(side + rng.integers(0, 17))
        short_side = int(long_side * min(1.0, aspect + rng.uniform(-0.02, 0.02)))
        w, h = (long_side, short_side) if rng.random() < 0.5 else (short_side, long_side)
        rgb = smooth_image(rng, w, h)
        pool.append(
            {"name": f"gen{i}.png", "ext": "png", "data": encode_png(rgb),
             "width": w, "height": h, "pixels": rgb}
        )
    return pool


def ingest_pool(seed: int, n: int = 64) -> list[dict]:
    """Small grainy seeded PNGs (112-144 px, ~40 KB) for the passthrough
    workload."""
    rng = np.random.default_rng([seed, 2])
    pool = []
    for i in range(n):
        w, h = (int(v) for v in rng.integers(112, 145, size=2))
        rgb = smooth_image(rng, w, h, grain=12.0)
        pool.append({"name": f"s{i}.png", "data": encode_png(rgb)})
    return pool


def url_rows(base: str, pool: list[dict], call: int, rounds: int) -> list[dict]:
    """``rounds`` passes over ``pool``, each image behind a URL no other
    row or call uses.  URLs sort in pool order, so the program's range
    sharding places the same images together in every call and seed."""
    rows = []
    for r in range(rounds):
        for j, item in enumerate(pool):
            tag = f"{call:04d}-{r:03d}-{j:03d}"
            rows.append(
                {"url": f"{base}/img/{tag}/{item['name']}",
                 "caption": f"caption {tag} {item['name']}",
                 "_item": j}
            )
    return rows


# ---------------------------------------------------------------------------
# vectors
# ---------------------------------------------------------------------------


def ann_corpus(seed: int, n: int, dim: int = 64, clusters: int = 64, intrinsic: int = 6):
    """Clustered vectors of low intrinsic dimension: cluster centres and
    offsets live in a random ``intrinsic``-dimensional subspace of
    R^dim, plus small isotropic noise.  Returns (ids, vectors, queries)."""
    rng = np.random.default_rng([seed, 3])
    basis = np.linalg.qr(rng.normal(size=(dim, intrinsic)))[0].T  # intrinsic x dim
    centres = rng.normal(0.0, 1.0, size=(clusters, intrinsic))

    def draw(m):
        lab = rng.integers(0, clusters, size=m)
        z = centres[lab] + rng.normal(0.0, 0.25, size=(m, intrinsic))
        return z @ basis + rng.normal(0.0, 0.01, size=(m, dim))

    vecs = draw(n)
    queries = draw(64)
    ids = np.arange(n, dtype=np.int64)
    return ids, vecs, queries


# ---------------------------------------------------------------------------
# documents
# ---------------------------------------------------------------------------

STOP = ["the", "a", "of", "and", "to", "in", "is", "it", "that"]
SOURCES = ("src0", "src1", "src2", "src3")
# supply per source (before planting); the mixture target is 40/20/20/20
SOURCE_WEIGHTS = (0.25, 0.25, 0.25, 0.25)


def _vocab(rng, n: int = 3000) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < n:
        k = int(rng.integers(4, 9))
        words.add("".join(rng.choice(letters, size=k)))
    return sorted(words)


def _clean_text(rng, vocab) -> list[str]:
    m = int(rng.integers(45, 75))
    toks = []
    for _ in range(m):
        if rng.random() < 0.25:
            toks.append(STOP[int(rng.integers(0, len(STOP)))])
        else:
            toks.append(vocab[int(rng.integers(0, len(vocab)))])
    return toks


# Near-duplicate groups (a base and a copy with one word replaced).  They
# are drawn from a fixed generator, not from --seed: minhash_lsh_pairs
# misses some of them (see the README), and on fixed inputs it misses the
# same ones in every run, so the misses count as failed operations in the
# same share on every seed.
NEAR_GROUPS = 100
NEAR_SEED = 20240601


def near_duplicate_texts() -> list[tuple[str, str, str]]:
    """(base, edited copy, source) per near-duplicate group."""
    rng = np.random.default_rng(NEAR_SEED)
    vocab = _vocab(rng)
    out = []
    for g in range(NEAR_GROUPS):
        toks = _clean_text(rng, vocab)
        edit = list(toks)
        pos = int(rng.integers(0, len(toks)))
        while edit[pos] == toks[pos]:
            edit[pos] = vocab[int(rng.integers(0, len(vocab)))]
        out.append((" ".join(toks), " ".join(edit), SOURCES[g % 4]))
    return out


def documents(seed: int, n_clean: int = 720, n_bench: int = 24):
    """Seeded corpus with planted structure, plus the fixed
    near-duplicate groups.  The number of documents is the same for
    every seed.

    Returns (docs, bench, plant) where docs/bench are lists of dicts
    (doc_id, text, source) and ``plant`` names the planted groups:
    ``dup_groups`` (lists of ids: a base document and its exact copies),
    ``near_groups`` (a base document and its one-word edit),
    ``low_quality`` ids and ``contaminated`` ids (corpus copies of
    benchmark texts)."""
    rng = np.random.default_rng([seed, 4])
    vocab = _vocab(rng)

    def clean_text():
        return _clean_text(rng, vocab)

    texts: list[tuple[str, str]] = []  # (text, source)
    plant = {"dup_groups": [], "low_quality": [], "contaminated": []}

    def add(text, source):
        texts.append((text, source))
        return len(texts) - 1

    for _ in range(n_clean):
        src = SOURCES[int(rng.choice(4, p=SOURCE_WEIGHTS))]
        add(" ".join(clean_text()), src)
    # exact duplicate groups: a base plus 1, 2 or 3 copies
    for g in range(n_clean // 12):
        base = " ".join(clean_text())
        src = SOURCES[int(rng.integers(0, 4))]
        group = [add(base, src)]
        for _ in range(1 + g % 3):
            group.append(add(base, src))
        plant["dup_groups"].append(group)
    # low quality: too short, one token repeated, or symbol soup
    for i in range(n_clean // 20):
        kind = i % 3
        if kind == 0:
            text = " ".join(clean_text()[:12])
        elif kind == 1:
            w = vocab[int(rng.integers(0, len(vocab)))]
            text = " ".join([w] * 30 + clean_text()[:20])
        else:
            text = " ".join(t + "!!#" for t in clean_text())
        plant["low_quality"].append(add(text, SOURCES[int(rng.integers(0, 4))]))
    bench_texts = [" ".join(clean_text()) for _ in range(n_bench)]
    for t in bench_texts:
        plant["contaminated"].append(add(t, SOURCES[int(rng.integers(0, 4))]))

    # seeded ids are a seeded permutation so planted rows are not
    # clustered by id; the fixed near-duplicate groups follow them
    perm = rng.permutation(len(texts))
    docs = [
        {"doc_id": int(perm[i]), "text": t, "source": s}
        for i, (t, s) in enumerate(texts)
    ]
    remap = {i: int(perm[i]) for i in range(len(texts))}
    plant = {
        "dup_groups": [[remap[i] for i in g] for g in plant["dup_groups"]],
        "low_quality": [remap[i] for i in plant["low_quality"]],
        "contaminated": [remap[i] for i in plant["contaminated"]],
        "near_groups": [],
    }
    for base, edit, src in near_duplicate_texts():
        group = []
        for text in (base, edit):
            group.append(len(docs))
            docs.append({"doc_id": len(docs), "text": text, "source": src})
        plant["near_groups"].append(group)
    bench = [
        {"doc_id": 10_000_000 + i, "text": t, "source": "bench"}
        for i, t in enumerate(bench_texts)
    ]
    return docs, bench, plant


# ---------------------------------------------------------------------------
# checksums
# ---------------------------------------------------------------------------


def checksums(workload: str, seed: int) -> dict:
    """sha256 of every generated input of one workload and seed, and for
    PNG inputs the share of each row filter."""
    h = lambda b: hashlib.sha256(b).hexdigest()  # noqa: E731
    if workload in ("pixels", "ingest"):
        pool = pixels_pool(seed) if workload == "pixels" else ingest_pool(seed)
        pngs = [p["data"] for p in pool if p["name"].endswith(".png")]
        return {**{p["name"]: h(p["data"]) for p in pool},
                "png_row_filters": png_filter_shares(pngs)}
    if workload == "ann":
        from perfbench.workloads import ANN_N

        ids, vecs, queries = ann_corpus(seed, ANN_N)
        return {"corpus": h(vecs.tobytes()), "queries": h(queries.tobytes())}
    if workload == "curate":
        docs, bench, _ = documents(seed)
        return {
            "documents": h("\n".join(f"{d['doc_id']}\t{d['source']}\t{d['text']}" for d in docs).encode()),
            "benchmark": h("\n".join(d["text"] for d in bench).encode()),
        }
    raise ValueError(f"unknown workload {workload!r}")
