"""Checker self-test: every checker must reject deliberately corrupted
copies of a real output.  A checker that cannot fail proves nothing.
"""

from __future__ import annotations

import copy

from perfbench import checks


def _first_png_keys(out, rows, pool):
    by_url = {r["url"]: r for r in rows}
    keys = [m["key"] for m in sorted(out["meta"], key=lambda m: m["key"])
            if pool[by_url[m["url"]]["_item"]]["ext"] == "png"]
    return keys[0], keys[1]


def pixels_cases(w) -> dict[str, list[str]]:
    call = max(w.calls)
    c = w.calls[call]
    base = checks.load_download_output(c["out"])
    k1, k2 = _first_png_keys(base, c["rows"], w.pool)
    psnr_rows = {m["url"] for m in base["meta"] if m["key"] in (k1, k2)}

    def run(mutate):
        out = copy.deepcopy(base)
        mutate(out)
        return checks.check_pixels(out, c["rows"], w.pool, psnr_rows=psnr_rows)

    def truncate(out):
        out["members"][f"{k1}.jpg"] = out["members"][f"{k1}.jpg"][: len(out["members"][f"{k1}.jpg"]) // 2]

    def swap(out):
        m = out["members"]
        m[f"{k1}.jpg"], m[f"{k2}.jpg"] = m[f"{k2}.jpg"], m[f"{k1}.jpg"]

    def drop_txt(out):
        del out["members"][f"{k1}.txt"]

    def bad_hash(out):
        out["meta"][0]["sha256"] = "0" * 64

    return {"clean": run(lambda out: None), "truncated_jpeg": run(truncate),
            "swapped_payload": run(swap), "missing_txt": run(drop_txt),
            "wrong_sha256": run(bad_hash)}


def ingest_cases(w) -> dict[str, list[str]]:
    from perfbench.workloads import INGEST_PER_SHARD

    call = max(w.calls)
    c = w.calls[call]
    base = checks.load_download_output(c["out"])
    first = sorted(base["shards"])[0]

    def run(mutate):
        out = copy.deepcopy(base)
        mutate(out)
        return checks.check_ingest(out, c["rows"], w.images, INGEST_PER_SHARD)

    def swap(out):
        rows = out["shards"][first]
        a = next(i for i, r in enumerate(rows) if r["jpg"] != rows[0]["jpg"])
        rows[0]["jpg"], rows[a]["jpg"] = rows[a]["jpg"], rows[0]["jpg"]

    def rekey(out):
        out["shards"][first][0]["key"] = "9" + out["shards"][first][0]["key"][1:]

    def stats(out):
        out["stats"][0]["count"] += 1

    return {"clean": run(lambda out: None), "swapped_payload": run(swap),
            "wrong_key": run(rekey), "stats_off": run(stats)}


def ann_cases(w) -> dict[str, list[str]]:
    ref = checks.IvfPqReference(w.art)

    def run(mutate):
        single, batched = copy.deepcopy(w.single), copy.deepcopy(w.batched)
        mutate(single, batched)
        return checks.check_ann(ref, w.queries, single, batched)

    q = min(w.single)

    def perturb(single, batched):
        top = single[q]
        top[0], top[1] = (top[1][0], top[0][1]), (top[0][0], top[1][1])

    def batch_only(single, batched):
        batched[q] = batched[q][:-1] + [(10**9, batched[q][-1][1])]

    def short(single, batched):
        single[q] = single[q][:-1]

    return {"clean": run(lambda s, b: None), "perturbed_topk": run(perturb),
            "batched_differs": run(batch_only), "short_topk": run(short)}


def curate_cases(w) -> dict[str, list[str]]:
    surv = w._survivors(w.outputs[max(w.outputs)])
    dedup = w.dedup_ids()
    kept = checks.near_duplicates_kept(dedup, w.plant)
    src_of = {d["doc_id"]: d["source"] for d in w.docs}
    alive = {i for i, _ in surv}

    def run(mutate, mutate_dedup=lambda d: None):
        s, d = list(surv), set(dedup)
        mutate(s)
        mutate_dedup(d)
        errs = checks.check_curate(s, d, w.docs, w.plant)
        if checks.near_duplicates_kept(d, w.plant) != kept:
            errs.append("near-duplicate copies kept changed")
        return errs

    def dup_left_in(s):
        g = next(g for g in w.plant["dup_groups"] if alive & set(g))
        extra = next(i for i in g if i not in alive)
        s.append((extra, src_of[extra]))

    def near_left_in(d):
        g = next(g for g in w.plant["near_groups"] if len(d & set(g)) == 1)
        d.update(g)

    def contaminated(s):
        i = w.plant["contaminated"][0]
        s.append((i, src_of[i]))

    def skew(s):
        s[:] = [x for x in s if x[1] != "src0"]

    return {"clean": run(lambda s: None), "duplicate_left_in": run(dup_left_in),
            "near_duplicate_left_in": run(lambda s: None, near_left_in),
            "contaminated_left_in": run(contaminated), "mixture_skewed": run(skew)}


CASES = {"pixels": pixels_cases, "ingest": ingest_cases, "ann": ann_cases, "curate": curate_cases}


def verdict(cases: dict[str, list[str]]) -> dict:
    """Clean must pass and every corruption must be rejected."""
    ok = not cases["clean"] and all(errs for name, errs in cases.items() if name != "clean")
    return {"ok": ok, "cases": {name: errs[:2] for name, errs in cases.items()}}
