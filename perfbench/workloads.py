"""The four workloads.  Each runs against the public API of
``img2dataset_spark`` in this process, with one SparkSession.

A workload has these phases, driven by ``run.py``:

- ``prepare()``: input generation, before the session starts.
- ``setup()``: everything else before timing, counted in ``setup_s``
  with the session start.
- ``measure(seconds)``: whole operations for ``seconds``; returns the
  per-operation records.
- ``check()``: independent correctness checks (``checks.py``).

In a traced run ``probe()`` then measures the layers one at a time, and
``probe_other_layers()`` the layers the workload does not exercise.

``attempted`` counts the items of every timed operation (images,
queries, documents); ``failed(recs)`` the items that failed.
"""

from __future__ import annotations

import dataclasses
import os
import shutil
import statistics
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import checks, inputs
from perfbench.tracing import plan_bytes, python_eval_nodes

ANN_N = 20000
ANN_TRAIN = 2048
ANN_M, ANN_CODES = 8, 256  # byte codes, 8 bytes per vector
ANN_K = 10
ANN_BATCH = 8
PIXELS_ROUNDS = 1  # passes over the 12-image pool per call
INGEST_ROUNDS = 32  # passes over the 64-image pool per call: 2048 rows
INGEST_PER_SHARD = 500


class Context:
    """What every workload shares: seed, work dir, session, tracer,
    event log, Py4J counter and the number of cores Spark runs on."""

    def __init__(self, seed, work, cores, tracer, eventlog=None):
        self.seed, self.work, self.cores = seed, work, cores
        self.tracer, self.eventlog = tracer, eventlog
        self.spark = None
        self.py4j = None
        self.server = None


class Workload:
    name = ""
    warmups = 3

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.layer: dict[str, float] = {}
        self.warmup_walls: list[float] = []

    def prepare(self):
        """Input generation; runs before the session starts."""

    def setup(self):
        raise NotImplementedError

    def op(self, i: int) -> dict:
        raise NotImplementedError

    def warm_up(self):
        """Untimed operations before measuring.  The first starts the
        Python workers and loads classes; the rest give the JIT time to
        compile the hot paths, without which the first timed operations
        run 30-40% slower and the level they settle at varies per run."""
        for i in range(self.warmups):
            t0 = time.perf_counter()
            self.op(-1 - i)
            self.warmup_walls.append(time.perf_counter() - t0)

    def measure(self, seconds: float) -> list[dict]:
        """Whole operations while the next one is expected to end within
        ``seconds`` (at least one)."""
        recs = []
        t0 = time.perf_counter()
        i = 0
        while True:
            recs.append(self.op(i))
            i += 1
            spent = time.perf_counter() - t0
            if spent + spent / len(recs) > seconds:
                return recs

    def summary(self, recs: list[dict]) -> dict:
        """items_per_s and bytes_per_item over ``recs``, plus any figures
        of the workload's own (printed with the contention evidence)."""
        raise NotImplementedError

    def failed(self, recs: list[dict]) -> int:
        """Items of ``recs`` that failed; call after ``check()``."""
        return sum(r["items"] - r["ok"] for r in recs)

    def check(self) -> list[str]:
        raise NotImplementedError

    def probe(self, since: float = 0.0):
        """Per-layer measurements for a traced run (fills self.layer),
        from the spans of operations started at or after ``since``."""

    def cleanup(self):
        pass


# ---------------------------------------------------------------------------
# download workloads
# ---------------------------------------------------------------------------


class _Download(Workload):
    """Shared by ``pixels`` and ``ingest``: one ``download()`` call per
    operation over a fresh url parquet, each into its own folder."""

    def __init__(self, ctx):
        super().__init__(ctx)
        self.calls: dict[int, dict] = {}
        self.thread_count = 1

    def rows_for_call(self, call: int) -> list[dict]:
        raise NotImplementedError

    def config(self, url_path: str, out: str):
        raise NotImplementedError

    def sink_rows(self, rows: list[dict]) -> list[dict]:
        """The rows of the shard the sink probe writes."""
        return rows

    def _write_urls(self, call: int, rows: list[dict] | None = None) -> tuple[str, list[dict]]:
        rows = self.rows_for_call(call) if rows is None else rows
        path = os.path.join(self.ctx.work, "in", f"call{call:04d}.parquet")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(
            pa.table({"url": [r["url"] for r in rows], "caption": [r["caption"] for r in rows]}),
            path,
        )
        return path, rows

    def setup(self):
        # spark tasks x fetch threads <= cores: one fetch thread per task
        self.thread_count = max(1, len(os.sched_getaffinity(0)) // self.ctx.cores)
        self.warm_up()

    def op(self, i: int) -> dict:
        from img2dataset_spark import download

        path, rows = self._write_urls(i)
        out = os.path.join(self.ctx.work, "out", f"call{i:04d}")
        cfg = self.config(path, out)
        with self.ctx.tracer.span("download", call=i):
            t0 = time.perf_counter()
            stats = download(cfg, spark=self.ctx.spark)
            dt = time.perf_counter() - t0
        ok = sum(int(s["successes"]) for s in stats)
        rec = {"call": i, "wall_s": dt, "items": len(rows), "ok": ok,
               "bytes": checks.dir_bytes(out)}
        self.calls[i] = {"rows": rows, "out": out, "cfg": cfg, "path": path}
        return rec

    def summary(self, recs):
        ok = sum(r["ok"] for r in recs)
        return {
            "items_per_s": ok / sum(r["wall_s"] for r in recs),
            "bytes_per_item": sum(r["bytes"] for r in recs) / max(1, ok),
        }

    # -- traced probes -----------------------------------------------------

    def probe(self, since: float = 0.0):
        from pyspark.sql import functions as F

        from img2dataset_spark import build_pipeline, load
        from img2dataset_spark.functions.fetch import make_fetch_udf
        from img2dataset_spark.operators.sharding import with_shard_id
        from img2dataset_spark.sinks.shard_writer import make_shard_writer

        spark, tr, ev = self.ctx.spark, self.ctx.tracer, self.ctx.eventlog
        call = max(self.calls)
        c = self.calls[call]
        cfg = c["cfg"]
        n = len(c["rows"])

        with tr.span("sources.load") as s:
            df = load(spark, c["path"], input_format="parquet", caption_col="caption")
            df.count()
        self.layer["sources.load_ms"] = _ms(s)

        with tr.span("sharding") as s:
            sharded = with_shard_id(df, cfg.number_sample_per_shard, order_col="url")
        self.layer["sharding.ms"] = _ms(s)
        self.layer["sharding.jobs"] = ev.within(s["start"], s["end"])["jobs"]
        parts = sharded.groupBy(F.spark_partition_id().alias("p")).count().collect()
        self.layer["sharding.max_partition_share"] = max(r["count"] for r in parts) / n
        self.placement = {
            "measured_share": self.layer["sharding.max_partition_share"],
            "share_from_bucket_count": placement_share(spark.sparkContext.defaultParallelism),
            "partition_rows": sorted(r["count"] for r in parts),
        }

        fetch = make_fetch_udf(timeout=cfg.timeout, thread_count=cfg.thread_count)
        with tr.span("fetch") as s:
            got = df.select(fetch(F.col("url")).alias("f")).agg(
                F.sum(F.length("f.data")).alias("b")
            ).collect()[0]
        fx = ev.within(s["start"], s["end"])
        self.layer["fetch.request_ms"] = fx["run_s"] * 1e3 / n
        self.layer["fetch.bytes"] = float(got["b"] or 0)

        with tr.span("plans.build") as s:
            built = build_pipeline(spark, cfg)
        self.layer["plans.build_ms"] = _ms(s)
        self.layer["plans.build_jobs"] = ev.within(s["start"], s["end"])["jobs"]

        sink_path, _ = self._write_urls(9999, self.sink_rows(c["rows"]))
        sink_built = build_pipeline(spark, dataclasses.replace(cfg, url_list=sink_path))
        pdf = sink_built.where(F.col("shard_id") == 0).toPandas()
        sink_cfg = dataclasses.replace(cfg, output_folder=os.path.join(self.ctx.work, "probe_sink"))
        writer = make_shard_writer(sink_cfg)
        with tr.span("sinks.shard") as s:
            writer(pdf)
        self.layer["sinks.shard_ms"] = _ms(s)
        self.layer["sinks.bytes_written"] = float(checks.dir_bytes(sink_cfg.output_folder))

        jobs = ev.read()
        spans = tr.named("download", since)
        per = [ev.within(x["start"], x["end"], jobs) for x in spans]
        walls = [x["end"] - x["start"] for x in spans]
        k = max(1, len(per))
        self.layer["download.jobs"] = sum(p["jobs"] for p in per) / k
        self.layer["download.tasks"] = sum(p["tasks"] for p in per) / k
        self.layer["download.shuffle_bytes"] = sum(p["shuffle_bytes"] for p in per) / k
        run_s = sum(p["run_s"] for p in per)
        self.layer["download.executor_run_s"] = run_s / k
        self.layer["download.core_util"] = run_s / (sum(walls) * self.ctx.cores) if walls else 0.0

    def cleanup(self):
        shutil.rmtree(os.path.join(self.ctx.work, "out"), ignore_errors=True)
        shutil.rmtree(os.path.join(self.ctx.work, "probe_sink"), ignore_errors=True)


class Pixels(_Download):
    """Real pixels: decode -> border resize to 256 -> jpg q95 -> webdataset."""

    name = "pixels"
    warmups = 1  # the pixel work runs in Python workers, which need no JIT

    def prepare(self):
        self.pool = inputs.pixels_pool(self.ctx.seed)
        self.images = {p["name"]: p["data"] for p in self.pool}

    def rows_for_call(self, call):
        return inputs.url_rows(self.ctx.server.base, self.pool, call, PIXELS_ROUNDS)

    def config(self, url_path, out):
        from img2dataset_spark import PipelineConfig

        return PipelineConfig(
            url_list=url_path, input_format="parquet", caption_col="caption",
            output_folder=out, output_format="webdataset", thread_count=self.thread_count,
        )

    def sink_rows(self, rows):
        """The photos of a call: a shard the probe can build without
        decoding the large PNGs again."""
        return [r for r in rows if self.pool[r["_item"]]["ext"] == "jpg"]

    def check(self):
        """Every timed call; the decode-and-PSNR step (~0.1 s per image)
        on the first timed call only."""
        errs = []
        timed = sorted(call for call in self.calls if call >= 0)
        for call in timed:
            c = self.calls[call]
            out = checks.load_download_output(c["out"])
            psnr_rows = None if call == timed[0] else set()
            errs += [f"call {call}: {e}"
                     for e in checks.check_pixels(out, c["rows"], self.pool, psnr_rows)]
        return errs

    def probe(self, since: float = 0.0):
        super().probe(since)
        from img2dataset_spark.functions.jpeg import decode_jpeg, encode_jpeg
        from img2dataset_spark.functions.png import decode_png
        from img2dataset_spark.functions.resample import pad_center, resize

        tr = self.ctx.tracer
        dec, rsz, enc = [], [], []
        for item in self.pool:
            with tr.span("image.decode", image=item["name"]) as s:
                img = (decode_png if item["ext"] == "png" else decode_jpeg)(item["data"])
            dec.append(_ms(s))
            h, w = img.shape[:2]
            scale = 256 / max(w, h)
            sw, sh = max(1, int(w * scale + 0.5)), max(1, int(h * scale + 0.5))
            with tr.span("image.resize", image=item["name"]) as s:
                small = pad_center(resize(img, sw, sh, "area"), 256, 256, value=255)
            rsz.append(_ms(s))
            with tr.span("image.encode", image=item["name"]) as s:
                encode_jpeg(small, 95)
            enc.append(_ms(s))
        self.layer["image.decode_ms"] = statistics.mean(dec)
        self.layer["image.resize_ms"] = statistics.mean(rsz)
        self.layer["image.encode_ms"] = statistics.mean(enc)
        # what the program's transform wrote, per image of the last call
        out = checks.load_download_output(self.calls[max(self.calls)]["out"])
        self.layer["image.out_bytes"] = statistics.mean(
            len(v) for k, v in out["members"].items() if k.endswith(".jpg"))


class Ingest(_Download):
    """Passthrough: no decode or re-encode, parquet output, several shards."""

    name = "ingest"

    def prepare(self):
        self.pool = inputs.ingest_pool(self.ctx.seed)
        self.images = {p["name"]: p["data"] for p in self.pool}

    def rows_for_call(self, call):
        return inputs.url_rows(self.ctx.server.base, self.pool, call, INGEST_ROUNDS)

    def config(self, url_path, out):
        from img2dataset_spark import PipelineConfig

        return PipelineConfig(
            url_list=url_path, input_format="parquet", caption_col="caption",
            output_folder=out, output_format="parquet", disable_all_reencoding=True,
            number_sample_per_shard=INGEST_PER_SHARD, thread_count=self.thread_count,
        )

    def check(self):
        errs = []
        for call, c in sorted(self.calls.items()):
            if call < 0:
                continue
            out = checks.load_download_output(c["out"])
            errs += [f"call {call}: {e}" for e in
                     checks.check_ingest(out, c["rows"], self.images, INGEST_PER_SHARD)]
        return errs


# ---------------------------------------------------------------------------
# ANN
# ---------------------------------------------------------------------------


class Ann(Workload):
    """IVF-PQ: fit and index in setup; single-query then batched search."""

    name = "ann"
    warmups = 4  # each query plans and compiles new code; the JIT needs rounds

    def prepare(self):
        self.ids, self.vecs, self.queries = inputs.ann_corpus(self.ctx.seed, ANN_N)
        self.art = os.path.join(self.ctx.work, "ann")
        path = os.path.join(self.art, "corpus.parquet")
        os.makedirs(self.art, exist_ok=True)
        pq.write_table(
            pa.table({"vec_id": self.ids, "embedding": list(self.vecs)}), path
        )
        self.corpus_path = path
        # the codebooks are trained on a seeded sample, as is usual for IVF-PQ
        pick = np.sort(np.random.default_rng([self.ctx.seed, 5]).choice(ANN_N, ANN_TRAIN, replace=False))
        self.train_path = os.path.join(self.art, "train.parquet")
        pq.write_table(
            pa.table({"vec_id": self.ids[pick], "embedding": list(self.vecs[pick])}),
            self.train_path,
        )
        self.single: dict[int, list] = {}
        self.batched: dict[int, list] = {}

    def setup(self):
        from img2dataset_spark.operators.pq import ivfpq_fit, ivfpq_index
        from img2dataset_spark.operators.similarity import recommended_num_cells

        spark = self.ctx.spark
        df = spark.read.parquet(self.corpus_path)
        train = spark.read.parquet(self.train_path)
        ivf, pqc = ivfpq_fit(train, num_cells=recommended_num_cells(ANN_N),
                             num_subspaces=ANN_M, num_codes=ANN_CODES)
        ivf.write.mode("overwrite").parquet(os.path.join(self.art, "ivf"))
        pqc.write.mode("overwrite").parquet(os.path.join(self.art, "pq"))
        ivfpq_index(df, ivf, pqc).write.mode("overwrite").partitionBy("cell").parquet(
            os.path.join(self.art, "index"))
        self.index = spark.read.parquet(os.path.join(self.art, "index"))
        self.ivf = spark.read.parquet(os.path.join(self.art, "ivf"))
        self.pq = spark.read.parquet(os.path.join(self.art, "pq"))
        self.index_bytes = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(os.path.join(self.art, "index")) for f in fs
        )
        self.warm_up()

    def _single(self, qi: int) -> tuple[list, float]:
        from img2dataset_spark.operators.pq import ivfpq_topk
        from img2dataset_spark.operators.similarity import literal_query_frame

        tr, ctr = self.ctx.tracer, self.ctx.py4j
        c0 = ctr.calls if ctr else 0
        with tr.span("ann.single", q=qi):
            t0 = time.perf_counter()
            with tr.span("ann.build") as sb:
                qdf = literal_query_frame(self.ctx.spark, self.queries[qi])
                res = ivfpq_topk(self.index, self.ivf, self.pq, qdf, k=ANN_K)
            if sb:
                sb["py4j"] = (ctr.calls if ctr else 0) - c0
            with tr.span("ann.exec"):
                rows = res.collect()
            dt = time.perf_counter() - t0
        self.last_single = res
        return [(int(r["vec_id"]), int(r["adc_dist"])) for r in rows], dt

    def _batch(self, qis: list[int]) -> tuple[dict, float]:
        from img2dataset_spark.operators.pq import ivfpq_multi_topk
        from img2dataset_spark.operators.similarity import literal_multi_query_frame

        tr = self.ctx.tracer
        with tr.span("ann.batch", q=len(qis)):
            t0 = time.perf_counter()
            with tr.span("ann.batch_build"):
                qdf = literal_multi_query_frame(self.ctx.spark, [self.queries[q] for q in qis])
                res = ivfpq_multi_topk(self.index, self.ivf, self.pq, qdf, k=ANN_K)
            with tr.span("ann.batch_exec"):
                rows = res.collect()
            dt = time.perf_counter() - t0
        out: dict[int, list] = {}
        for r in sorted(rows, key=lambda r: (r["qid"], r["adc_dist"], r["vec_id"])):
            out.setdefault(qis[int(r["qid"])], []).append((int(r["vec_id"]), int(r["adc_dist"])))
        return out, dt

    def op(self, i: int) -> dict:
        """One round: ANN_BATCH single queries, then the same queries as
        one batch."""
        nq = len(self.queries)
        qis = [((i % (nq // ANN_BATCH)) * ANN_BATCH + j) % nq for j in range(ANN_BATCH)]
        lat = []
        for q in qis:
            got, dt = self._single(q)
            lat.append(dt)
            if i >= 0:
                self.single[q] = got
        got, bdt = self._batch(qis)
        if i >= 0:
            for q, v in got.items():
                self.batched[q] = v
        return {"call": i, "single_s": lat, "batch_s": bdt, "wall_s": sum(lat) + bdt,
                "items": 2 * len(qis), "ok": 2 * len(qis)}

    def summary(self, recs):
        lat = [x for r in recs for x in r["single_s"]]
        return {
            "items_per_s": ANN_BATCH * len(recs) / sum(r["batch_s"] for r in recs),
            "query_p50_ms": statistics.median(lat) * 1e3,
            "bytes_per_item": self.index_bytes / ANN_N,
        }

    def check(self):
        ref = checks.IvfPqReference(self.art)
        self.recall = checks.recall_at_k(self.vecs, self.queries, self.single, ANN_K)
        return checks.check_ann(ref, self.queries, self.single, self.batched, ANN_K)

    def probe(self, since: float = 0.0):
        tr, ev = self.ctx.tracer, self.ctx.eventlog
        jobs = ev.read()
        builds = tr.named("ann.build", since)
        self.layer["ann.build_ms"] = statistics.mean(_ms(s) for s in builds)
        self.layer["ann.build_jobs"] = statistics.mean(
            ev.within(s["start"], s["end"], jobs)["jobs"] for s in builds)
        self.layer["ann.py4j_calls"] = statistics.mean(s["py4j"] for s in builds)
        self.layer["ann.plan_bytes"] = float(plan_bytes(self.last_single))
        self.layer["ann.exec_ms"] = statistics.mean(_ms(s) for s in tr.named("ann.batch_exec", since))
        self.layer["ann.recall_at_10"] = self.recall


# ---------------------------------------------------------------------------
# curation
# ---------------------------------------------------------------------------


def curation(docs, bench):
    """The composition: minhash LSH pairs -> connected components ->
    representatives -> quality filter -> decontamination -> mixture.
    Returns each stage's surviving frame."""
    from pyspark.sql import functions as F

    from img2dataset_spark.operators.decontaminate import contamination_scores
    from img2dataset_spark.operators.dedup import minhash_lsh_pairs
    from img2dataset_spark.operators.graph import connected_components_auto, dedup_representatives
    from img2dataset_spark.operators.mixture import resample_mixture
    from img2dataset_spark.operators.quality import quality_flags

    pairs = minhash_lsh_pairs(docs, k=3, num_hashes=32, num_bands=8, jaccard_threshold=0.3)
    cc = connected_components_auto(pairs, src="id_a", dst="id_b")
    dedup = dedup_representatives(docs, cc)
    passed = quality_flags(docs).filter("passed").select("doc_id")
    quality = dedup.join(passed, "doc_id", "left_semi")
    scores = contamination_scores(docs, bench, k=3)
    dirty = scores.where(F.col("contamination") >= 0.9).select("doc_id")
    clean = quality.join(dirty, "doc_id", "left_anti")
    mixed = resample_mixture(clean, checks.MIX_TARGET, group_col="source", id_col="doc_id")
    return {"dedup": dedup, "quality": quality, "decontaminate": clean, "mixture": mixed}


class Curate(Workload):
    name = "curate"
    warmups = 3  # the first is long (worker start, JIT); the later ones settle the JIT

    def prepare(self):
        self.docs, self.bench, self.plant = inputs.documents(self.ctx.seed)
        self.dir = os.path.join(self.ctx.work, "curate")
        os.makedirs(self.dir, exist_ok=True)
        for name, rows in (("docs", self.docs), ("bench", self.bench)):
            pq.write_table(pa.Table.from_pylist(rows), os.path.join(self.dir, f"{name}.parquet"))
        self.outputs: dict[int, str] = {}

    def setup(self):
        spark = self.ctx.spark
        self.d = spark.read.parquet(os.path.join(self.dir, "docs.parquet"))
        self.b = spark.read.parquet(os.path.join(self.dir, "bench.parquet"))
        self.warm_up()

    def op(self, i: int) -> dict:
        tr, ctr = self.ctx.tracer, self.ctx.py4j
        out = os.path.join(self.dir, f"out{i:04d}")
        c0 = ctr.calls if ctr else 0
        with tr.span("curate", call=i):
            t0 = time.perf_counter()
            with tr.span("curate.build") as sb:
                stages = curation(self.d, self.b)
            if sb:
                sb["py4j"] = (ctr.calls if ctr else 0) - c0
            with tr.span("curate.exec"):
                stages["mixture"].write.mode("overwrite").parquet(out)
            dt = time.perf_counter() - t0
        self.outputs[i] = out
        self.last = stages
        n_out = pq.read_table(out).num_rows
        return {"call": i, "wall_s": dt, "items": len(self.docs), "ok": len(self.docs),
                "bytes": checks.dir_bytes(out), "survivors": n_out}

    def summary(self, recs):
        return {
            "items_per_s": sum(r["items"] for r in recs) / sum(r["wall_s"] for r in recs),
            "bytes_per_item": sum(r["bytes"] for r in recs) / max(1, sum(r["survivors"] for r in recs)),
        }

    def _survivors(self, path):
        t = pq.read_table(path)
        return sorted(zip(t.column("doc_id").to_pylist(), t.column("source").to_pylist()))

    def dedup_ids(self) -> set[int]:
        return {r["doc_id"] for r in self.last["dedup"].select("doc_id").collect()}

    def check(self):
        """Every call must write the same survivors; the first call's are
        checked against the planted structure, with the dedup stage's ids
        (from the last call's plan, which is the same composition over the
        same input)."""
        errs = []
        first = None
        dedup = self.dedup = self.dedup_ids()
        self.near_kept = checks.near_duplicates_kept(dedup, self.plant)
        for call, path in sorted(self.outputs.items()):
            surv = self._survivors(path)
            if first is None:
                first = surv
                errs += checks.check_curate(surv, dedup, self.docs, self.plant)
            elif surv != first:
                errs.append(f"call {call}: survivors differ from the first call's")
        return errs

    def failed(self, recs):
        """The near-duplicate copies the dedup stage keeps, in every call."""
        return self.near_kept * len(recs)

    def probe(self, since: float = 0.0):
        tr, ev = self.ctx.tracer, self.ctx.eventlog
        jobs = ev.read()
        builds, execs = tr.named("curate.build", since), tr.named("curate.exec", since)
        self.layer["curate.build_ms"] = statistics.mean(_ms(s) for s in builds)
        self.layer["curate.build_jobs"] = statistics.mean(
            ev.within(s["start"], s["end"], jobs)["jobs"] for s in builds)
        self.layer["curate.py4j_calls"] = statistics.mean(s["py4j"] for s in builds)
        self.layer["curate.exec_ms"] = statistics.mean(_ms(s) for s in execs)
        self.layer["curate.shuffle_bytes"] = statistics.mean(
            ev.within(s["start"], s["end"], jobs)["shuffle_bytes"] for s in execs)
        self.layer["curate.python_eval_nodes"] = float(python_eval_nodes(self.last["mixture"]))
        self.layer["curate.dedup.rows_out"] = float(len(self.dedup))
        for stage in ("quality", "decontaminate"):
            self.layer[f"curate.{stage}.rows_out"] = float(self.last[stage].count())
        self.layer["curate.mixture.rows_out"] = float(len(self._survivors(self.outputs[max(self.outputs)])))
        self.layer["curate.dedup.near_dups_kept"] = float(self.near_kept)

    def cleanup(self):
        for path in self.outputs.values():
            shutil.rmtree(path, ignore_errors=True)


# ---------------------------------------------------------------------------


def _ms(span: dict) -> float:
    return (span["end"] - span["start"]) * 1e3


def _murmur3_int(value: int, seed: int = 42) -> int:
    """Murmur3 x86_32 of one 4-byte int, as Spark's ``hash()`` computes
    it for an int column."""
    def rotl(x, r):
        return ((x << r) | (x >> (32 - r))) & 0xFFFFFFFF

    k = (value & 0xFFFFFFFF) * 0xCC9E2D51 & 0xFFFFFFFF
    k = rotl(k, 15) * 0x1B873593 & 0xFFFFFFFF
    h = seed ^ k
    h = (rotl(h, 13) * 5 + 0xE6546B64) & 0xFFFFFFFF
    h ^= 4
    h ^= h >> 16
    h = h * 0x85EBCA6B & 0xFFFFFFFF
    h ^= h >> 13
    h = h * 0xC2B2AE35 & 0xFFFFFFFF
    h ^= h >> 16
    return h - (1 << 32) if h & 0x80000000 else h


def placement_share(nbuckets: int) -> float:
    """Largest partition's share of rows when ``nbuckets`` equal buckets
    are hash-placed into ``nbuckets`` partitions (Spark's
    HashPartitioning: pmod(murmur3(bucket), n))."""
    counts: dict[int, int] = {}
    for b in range(nbuckets):
        p = _murmur3_int(b) % nbuckets
        counts[p] = counts.get(p, 0) + 1
    return max(counts.values()) / nbuckets


WORKLOADS = {"pixels": Pixels, "ingest": Ingest, "ann": Ann, "curate": Curate}

# A traced run prints every per-layer metric of BENCHMARK.json, so it
# also measures the layers its own workload does not exercise, with the
# probes of the workloads that own them.
LAYER_OWNERS = (Pixels, Ann, Curate)


def probe_other_layers(w: Workload) -> list[str]:
    """For each owner of layers other than ``w``: its set-up without
    warm-up, one operation, its check and its probe, keeping the layer
    values ``w`` did not measure, so they are taken from a cold first
    operation.  Returns the checks' errors."""
    errs = []
    for cls in LAYER_OWNERS:
        if isinstance(w, cls):
            continue
        other = cls(w.ctx)
        other.warmups = 0
        other.prepare()
        w.ctx.server.add(getattr(other, "images", {}))
        other.setup()
        t0 = time.time()
        other.op(0)
        errs += [f"{other.name} probe: {e}" for e in other.check()]
        other.probe(since=t0)
        for name, value in other.layer.items():
            w.layer.setdefault(name, value)
        other.cleanup()
    return errs
