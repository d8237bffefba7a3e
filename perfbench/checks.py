"""Output checkers, one per workload.

Each checker compares the program's output with facts computed here,
apart from the program: the bytes the server sent, the generator's own
pixels, a numpy IVF-PQ search over the written artifacts, and the
planted structure of the documents.  A checker returns a list of error
strings; an empty list is a pass.  ``selftest.py`` feeds each one a
corrupted output to show it can fail.
"""

from __future__ import annotations

import glob
import hashlib
import json
import math
import os
import tarfile

import numpy as np
import pyarrow.parquet as pq

from perfbench.inputs import sof_dimensions

IMAGE_SIZE = 256
PSNR_FLOOR_DB = 30.0
QUANT = 1 << 20
MIX_TARGET = {"src0": 0.4, "src1": 0.2, "src2": 0.2, "src3": 0.2}
MIX_TOLERANCE = 0.06


# ---------------------------------------------------------------------------
# download outputs
# ---------------------------------------------------------------------------


def load_download_output(out_dir: str) -> dict:
    """Stats sidecars, metadata rows and tar members of one output folder."""
    stats = []
    for p in sorted(glob.glob(os.path.join(out_dir, "*_stats.json"))):
        with open(p) as fh:
            stats.append(json.load(fh))
    meta = []
    shards = {}
    for p in sorted(glob.glob(os.path.join(out_dir, "*.parquet"))):
        rows = pq.read_table(p).to_pylist()
        shards[os.path.basename(p)] = rows
        meta.extend(rows)
    members = {}
    for p in sorted(glob.glob(os.path.join(out_dir, "*.tar"))):
        with tarfile.open(p) as tar:
            for m in tar.getmembers():
                if m.name in members:  # a repeated member fails the member-set check
                    members[m.name + "#repeated"] = b""
                members[m.name] = tar.extractfile(m).read()
    return {"stats": stats, "meta": meta, "shards": shards, "members": members}


def dir_bytes(out_dir: str) -> int:
    return sum(os.path.getsize(p) for p in glob.glob(os.path.join(out_dir, "*")))


def area_resize(img: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Box-filter resize by exact fractional coverage, written with
    prefix sums (float64 result)."""

    def axis(a: np.ndarray, n_out: int, ax: int) -> np.ndarray:
        n_in = a.shape[ax]
        a = np.moveaxis(a, ax, 0)
        pref = np.concatenate([np.zeros((1,) + a.shape[1:]), np.cumsum(a, axis=0)])
        edges = np.arange(n_out + 1) * (n_in / n_out)
        lo = np.minimum(np.floor(edges).astype(int), n_in - 1)
        frac = (edges - lo)[(...,) + (None,) * (a.ndim - 1)]
        integral = pref[lo] + frac * a[lo]
        out = (integral[1:] - integral[:-1]) / (n_in / n_out)
        return np.moveaxis(out, 0, ax)

    return axis(axis(img.astype(np.float64), out_h, 0), out_w, 1)


def border_reference(pixels: np.ndarray, size: int = IMAGE_SIZE) -> np.ndarray:
    """The reference's border mode: fit the long side to ``size`` with an
    area resize, then centre on a white square canvas."""
    h, w = pixels.shape[:2]
    s = size / max(w, h)
    sw, sh = max(1, int(w * s + 0.5)), max(1, int(h * s + 0.5))
    small = np.clip(np.rint(area_resize(pixels, sw, sh)), 0, 255)
    canvas = np.full((size, size) + pixels.shape[2:], 255.0)
    top, left = (size - sh) // 2, (size - sw) // 2
    canvas[top : top + sh, left : left + sw] = small
    return canvas


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    mse = float(np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2))
    return float("inf") if mse == 0 else 10 * math.log10(255.0**2 / mse)


def check_pixels(out: dict, rows: list[dict], pool: list[dict], psnr_rows=None) -> list[str]:
    """``rows`` are the call's input rows (url, caption, _item); ``pool``
    the served images.  ``psnr_rows`` limits the decode-and-compare step
    to those urls (all PNG-sourced rows when None)."""
    from img2dataset_spark.functions.jpeg import decode_jpeg

    errs: list[str] = []
    by_url = {r["url"]: r for r in rows}
    meta = out["meta"]
    if sum(s["count"] for s in out["stats"]) != len(rows):
        errs.append("stats counts do not sum to the input rows")
    if sum(s["successes"] for s in out["stats"]) != len(rows):
        errs.append("stats successes do not equal the input rows")
    if sorted(m["url"] for m in meta) != sorted(by_url):
        errs.append("metadata urls differ from the input urls")
    expected_members = set()
    for m in meta:
        r = by_url.get(m["url"])
        if r is None:
            continue
        item = pool[r["_item"]]
        key = m["key"]
        if m["status"] != "success":
            errs.append(f"{key}: status {m['status']} ({m['error_message']})")
            continue
        if m["sha256"] != hashlib.sha256(item["data"]).hexdigest():
            errs.append(f"{key}: sha256 differs from the served bytes")
        if (m["width"], m["height"]) != (IMAGE_SIZE, IMAGE_SIZE):
            errs.append(f"{key}: size {m['width']}x{m['height']} is not the border geometry")
        if (m["original_width"], m["original_height"]) != (item["width"], item["height"]):
            errs.append(f"{key}: original size differs from the generator's")
        expected_members |= {f"{key}.jpg", f"{key}.txt", f"{key}.json"}
        jpg = out["members"].get(f"{key}.jpg")
        if jpg is None:
            errs.append(f"{key}: no .jpg in the tar")
            continue
        if jpg[:2] != b"\xff\xd8" or jpg[-2:] != b"\xff\xd9":
            errs.append(f"{key}: .jpg lacks SOI/EOI")
            continue
        try:
            w, h, _ = sof_dimensions(jpg)
        except (ValueError, IndexError):
            errs.append(f"{key}: .jpg has no readable SOF")
            continue
        if (w, h) != (m["width"], m["height"]):
            errs.append(f"{key}: SOF {w}x{h} differs from the metadata")
        txt = out["members"].get(f"{key}.txt")
        if txt is not None and txt.decode() != r["caption"]:
            errs.append(f"{key}: caption differs")
        js = out["members"].get(f"{key}.json")
        if js is not None and json.loads(js).get("key") != key:
            errs.append(f"{key}: json key differs")
        wanted = item["pixels"] is not None and (psnr_rows is None or m["url"] in psnr_rows)
        if wanted:
            try:
                got = decode_jpeg(jpg)
            except Exception as e:  # a decode failure is a check failure
                errs.append(f"{key}: .jpg does not decode ({e})")
                continue
            p = psnr(got, border_reference(item["pixels"]))
            if p < PSNR_FLOOR_DB:
                errs.append(f"{key}: PSNR {p:.1f} dB below {PSNR_FLOOR_DB}")
    if set(out["members"]) != expected_members:
        extra = sorted(set(out["members"]) ^ expected_members)[:3]
        errs.append(f"tar members differ from one .jpg/.txt/.json per success: {extra}")
    return errs


def shard_key(shard: int, idx: int, n: int, oom_shard: int = 5) -> str:
    width = max(1, int(math.ceil(math.log10(max(n, 2)))))
    return f"{shard:0{oom_shard}d}{idx:0{width}d}"


def check_ingest(out: dict, rows: list[dict], images: dict[str, bytes], per_shard: int) -> list[str]:
    """Passthrough parquet output: payloads byte-identical to the served
    bytes, contiguous shards of ``per_shard`` rows in url order with the
    reference key formula, and stats that sum to the input."""
    errs: list[str] = []
    urls = sorted(r["url"] for r in rows)
    n_shards = -(-len(urls) // per_shard)
    want_files = {f"{s:05d}.parquet" for s in range(n_shards)}
    if set(out["shards"]) != want_files:
        errs.append(f"shard files {sorted(out['shards'])[:3]}... differ from {n_shards} expected")
    for s in range(n_shards):
        got = out["shards"].get(f"{s:05d}.parquet", [])
        want = urls[s * per_shard : (s + 1) * per_shard]
        if [g["url"] for g in sorted(got, key=lambda g: g["key"])] != want:
            errs.append(f"shard {s}: rows are not urls [{s * per_shard}, {(s + 1) * per_shard})")
            continue
        for i, g in enumerate(sorted(got, key=lambda g: g["key"])):
            if g["key"] != shard_key(s, i, per_shard):
                errs.append(f"shard {s}: key {g['key']} != {shard_key(s, i, per_shard)}")
                break
            if g["status"] != "success":
                errs.append(f"{g['key']}: status {g['status']}")
                break
            if g["jpg"] != images[g["url"].rsplit("/", 1)[-1]]:
                errs.append(f"{g['key']}: payload differs from the served bytes")
                break
    if sum(s["count"] for s in out["stats"]) != len(urls):
        errs.append("stats counts do not sum to the input rows")
    if sum(s["successes"] for s in out["stats"]) != len(urls):
        errs.append("stats successes do not equal the input rows")
    return errs


# ---------------------------------------------------------------------------
# ANN
# ---------------------------------------------------------------------------


def _quant(x: np.ndarray) -> np.ndarray:
    return np.floor(np.asarray(x, dtype=np.float64) * QUANT + 0.5).astype(np.int64)


class IvfPqReference:
    """IVF-PQ search in numpy over the artifacts as written: the nprobe
    nearest cells by quantized L2 (ties to the smaller cell), exact int64
    ADC sums over the probed cells' codes, top-k by (distance, id)."""

    def __init__(self, art_dir: str):
        ivf = pq.read_table(os.path.join(art_dir, "ivf")).to_pylist()
        pqc = pq.read_table(os.path.join(art_dir, "pq")).to_pylist()
        idx = pq.read_table(os.path.join(art_dir, "index"))
        self.cells = np.array([r["cell"] for r in ivf], dtype=np.int64)
        self.cent_q = _quant(np.array([r["centroid"] for r in ivf]))
        self.nprobe = math.isqrt(len(self.cells) - 1) + 1
        m = max(r["subspace"] for r in pqc) + 1
        self.books = []
        for j in range(m):
            rows = sorted((r["cell"], r["centroid"]) for r in pqc if r["subspace"] == j)
            q = _quant(np.array([c for _, c in rows]))
            self.books.append((np.array([c for c, _ in rows], dtype=np.int64), q))
        self.sub_dim = self.books[0][1].shape[1]
        self.ids = idx.column("vec_id").to_numpy()
        self.row_cell = idx.column("cell").to_numpy().astype(np.int64)
        self.codes = np.array(idx.column("codes").to_pylist(), dtype=np.int64)

    def topk(self, qvec, k: int = 10) -> list[tuple[int, int]]:
        qq = _quant(qvec)
        d = ((self.cent_q - qq[None, :]) ** 2).sum(axis=1)
        order = sorted(range(len(self.cells)), key=lambda i: (int(d[i]), int(self.cells[i])))
        probed = {int(self.cells[i]) for i in order[: self.nprobe]}
        mask = np.isin(self.row_cell, list(probed))
        total = np.zeros(int(mask.sum()), dtype=np.int64)
        codes = self.codes[mask]
        for j, (cell_ids, qc) in enumerate(self.books):
            s = qq[j * self.sub_dim : (j + 1) * self.sub_dim]
            table = (s * s).sum() + (qc * qc).sum(axis=1) - 2 * (qc @ s)
            pos = np.searchsorted(cell_ids, codes[:, j])
            total += table[pos]
        ids = self.ids[mask]
        top = sorted(zip(total.tolist(), ids.tolist()))[:k]
        return [(int(i), int(dist)) for dist, i in top]


def check_ann(ref: IvfPqReference, queries: np.ndarray, single: dict, batched: dict, k: int = 10) -> list[str]:
    """``single``/``batched``: query index -> [(id, dist)] as returned."""
    errs: list[str] = []
    if not single or not batched:
        errs.append("no query results")
    for qi, got in single.items():
        want = ref.topk(queries[qi], k)
        if got != want:
            errs.append(f"query {qi}: single top-{k} differs from the numpy IVF-PQ search")
    for qi, got in batched.items():
        if qi in single and got != single[qi]:
            errs.append(f"query {qi}: batched top-{k} differs from the single-query result")
        elif qi not in single and got != ref.topk(queries[qi], k):
            errs.append(f"query {qi}: batched top-{k} differs from the numpy IVF-PQ search")
    return errs


def recall_at_k(vecs: np.ndarray, queries: np.ndarray, results: dict, k: int = 10) -> float:
    hits = 0
    for qi, got in results.items():
        d = ((vecs - queries[qi][None, :]) ** 2).sum(axis=1)
        truth = set(np.argsort(d, kind="stable")[:k].tolist())
        hits += len(truth & {i for i, _ in got[:k]})
    return hits / (k * max(1, len(results)))


# ---------------------------------------------------------------------------
# curation
# ---------------------------------------------------------------------------


def check_curate(survivors: list[tuple[int, str]], dedup_ids: set[int], docs: list[dict],
                 plant: dict) -> list[str]:
    """``survivors``: (doc_id, source) written by the composition;
    ``dedup_ids``: the ids out of its dedup stage.  Near-duplicate groups
    that keep two members are not errors here: ``near_duplicates_kept``
    counts them as failed operations."""
    errs: list[str] = []
    src_of = {d["doc_id"]: d["source"] for d in docs}
    ids = [i for i, _ in survivors]
    if not ids:
        return ["no survivors"]
    if len(set(ids)) != len(ids):
        errs.append("a document survives twice")
    bad = [i for i, s in survivors if src_of.get(i) != s]
    if bad:
        errs.append(f"{len(bad)} survivors are not input rows, e.g. {bad[0]}")
    alive = set(ids)
    if not alive <= dedup_ids:
        errs.append(f"{len(alive - dedup_ids)} survivors did not survive the dedup stage")
    for stage, kept in (("dedup", dedup_ids), ("output", alive)):
        for g in plant["dup_groups"]:
            if len(kept & set(g)) > 1:
                errs.append(f"{stage}: duplicate group {g} keeps {len(kept & set(g))} members")
    for g in plant["near_groups"]:
        if not dedup_ids & set(g):
            errs.append(f"dedup: near-duplicate group {g} keeps no member")
    for name in ("contaminated", "low_quality"):
        left = alive & set(plant[name])
        if left:
            errs.append(f"{len(left)} planted {name} documents survive")
    for src, frac in MIX_TARGET.items():
        share = sum(1 for _, s in survivors if s == src) / len(survivors)
        if abs(share - frac) > MIX_TOLERANCE:
            errs.append(f"{src} share {share:.3f} is not within {MIX_TOLERANCE} of {frac}")
    return errs


def near_duplicates_kept(dedup_ids: set[int], plant: dict) -> int:
    """Members beyond the first that the dedup stage keeps, summed over
    the planted near-duplicate groups."""
    return sum(max(0, len(dedup_ids & set(g)) - 1) for g in plant["near_groups"])
