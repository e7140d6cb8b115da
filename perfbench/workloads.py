"""The workloads. Each one builds its inputs from the seed, runs
untimed warm iterations, then a closed loop of iterations (one caller: the
next iteration starts when the previous one returned), checks every
output, and in a traced run records spans around the public calls it makes.

- ``clip_label``: cold ``Pipeline.run`` on a fresh warehouse, manifest
  mode, one commit group, ``n_partitions = 2 * nproc``.
- ``doc_dedup``: the dedup and curation operators over a seeded documents
  table, in a session whose dedup keep-list index was built cold in set-up.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
import traceback

# the repository's own oracle comparator: dtype normalisation and an
# order-insensitive value hash of a frame
from tools.verify_oracles import norm, value_hash

# the labeled columns the output checks compare
PIPELINE_OUT_COLS = (
    "clip_id", "lang", "lang_conf", "ppl", "scrubbed_transcript", "scrub_hits",
    "tox_hits", "rms_db", "silence_ratio", "clip_ratio", "keep", "reasons",
)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _p90(xs):
    if not xs:
        return 0.0
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(0.9 * len(xs)))]


class Workload:
    """Shared closed loop. Subclasses implement ``setup`` (inputs,
    once per process), ``prepare`` (once per session), ``warm``,
    ``iteration`` and ``verify``."""

    name = ""
    # rows one iteration processes (for rows-per-second figures)
    rows = 0
    has_input = False
    commit_groups = 0  # per iteration
    # job-description prefix: "warm" for the warm iterations, "bench" in
    # the measured loop, "after" for the traced run's extra probes
    stage = "warm"
    warm_iterations = 1

    def __init__(self, ctx):
        self.ctx = ctx
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.samples: dict[str, list[float]] = {}
        self.timings: list[dict] = []  # RunResult.timings of measured runs

    def prepare(self, spark) -> None:
        pass

    def warm(self, spark) -> None:
        """Untimed iterations before the loop (checked like the rest)."""
        for k in range(self.warm_iterations):
            self.iteration(spark, -1 - k)

    # -- bookkeeping ------------------------------------------------------

    def record(self, key: str, seconds: float) -> None:
        self.samples.setdefault(key, []).append(seconds)

    def check(self, ok: bool, what: str) -> None:
        """Count one checked operation; a wrong result is a failure."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)

    def tag(self, spark, what: str) -> None:
        if self.ctx.tracer.enabled:
            spark.sparkContext.setJobDescription(f"{self.stage}:{what}")

    def loop(self, spark, seconds: float) -> None:
        """Closed loop: iterations back to back until ``seconds`` passed.
        Each iteration records its timed part as ``iter_s``; the output
        checks inside an iteration are not timed."""
        self.samples.clear()
        self.timings.clear()
        self.stage = "bench"
        t_start = time.monotonic()
        i = 0
        while i == 0 or time.monotonic() - t_start < seconds:
            try:
                with self.ctx.tracer.span(f"{self.name}.iteration", i=i):
                    self.iteration(spark, i)
            except Exception:  # noqa: BLE001 - a failed operation is counted, not fatal
                self.check(False, f"iteration {i} raised:\n{traceback.format_exc()}")
            i += 1
        self.stage = "after"
        self.tag(spark, "idle")
        if not self.samples.get("iter_s"):
            raise RuntimeError(f"no iteration completed: {self.errors[-1:]}")

    def layer_metrics(self, spark) -> dict[str, float]:
        """Workload-specific per-layer figures of the traced run."""
        return {}


# ------------------------------------------------------------------ clips


class ClipLabel(Workload):
    name = "clip_label"
    # measured on local[4]: the second run of a session is still 10-25%
    # slower than the later ones, which level off
    warm_iterations = 2

    def __init__(self, ctx):
        from curator_spark.config import PipelineConfig

        super().__init__(ctx)
        self.n_clips = self.rows = max(64, int(4000 * ctx.scale))
        # more files than partition keys, so every key gets rows
        self.n_files = 4 * ctx.nproc
        self.cfg = PipelineConfig(
            n_partitions=2 * ctx.nproc, commit_batches=1, scan_mode="manifest"
        )
        self.input = os.path.join(ctx.work, "clips")
        self.commit_groups = self.cfg.commit_batches
        self.digests: list[str] = []

    def setup(self, spark) -> None:
        from curator_spark import manifest

        from . import inputs

        with self.ctx.tracer.span("setup.input"):
            inputs.write_clips(spark, self.ctx.seed, self.n_clips, self.n_files, self.input)
        self.has_input = True
        self.manifest = manifest.build_manifest(self.input, self.cfg.n_partitions)
        rows = self.manifest.rows_per_key
        self.empty_keys = sum(1 for v in rows.values() if v == 0)
        self.check(self.empty_keys == 0 and sum(rows.values()) == self.n_clips,
                   f"input: {self.empty_keys} partition keys without rows")

    def iteration(self, spark, i: int) -> None:
        from curator_spark.catalog import ParquetCatalog
        from curator_spark.pipeline import Pipeline

        wh = os.path.join(self.ctx.work, "wh_label")
        shutil.rmtree(wh, ignore_errors=True)
        pipe = Pipeline(spark, ParquetCatalog(spark, wh), self.cfg)
        self.tag(spark, "pipeline.run")
        t0 = time.monotonic()
        with self.ctx.tracer.span("pipeline.run"):
            res = pipe.run(self.input)
        wall = time.monotonic() - t0
        self.record("iter_s", wall)
        self.timings.append({**res.timings, "_wall": wall})
        self.tag(spark, "check")
        out = pipe.output().select(*PIPELINE_OUT_COLS).toPandas()
        self.digests.append(value_hash(out))
        self.check(res.groups_run == [0] and not res.cached and len(out) == self.n_clips,
                   f"iteration {i}: groups {res.groups_run}, {len(out)} rows out")
        self.last_pipe = pipe

    def verify(self, spark) -> None:
        """Every iteration's output equals the pure-Python oracle
        (``oracle.label_row``) over the input rows, run in Spark tasks
        only as a process pool."""
        import pandas as pd

        from curator_spark import oracle

        cfg = self.cfg
        cols = list(PIPELINE_OUT_COLS)

        def _label(it):
            for pdf in it:
                yield pd.DataFrame([oracle.label_row(r, cfg) for r in pdf.to_dict("records")])[cols]

        schema = (
            "clip_id string, lang string, lang_conf double, ppl double, "
            "scrubbed_transcript string, scrub_hits int, tox_hits int, rms_db double, "
            "silence_ratio double, clip_ratio double, keep boolean, reasons array<string>"
        )
        gold = spark.read.parquet(self.input).mapInPandas(_label, schema=schema).toPandas()
        want = value_hash(gold)
        self.check(len(gold) == self.n_clips, f"oracle: {len(gold)} rows")
        for i, d in enumerate(self.digests):
            self.check(d == want, f"iteration {i}: output differs from oracle.label_row")

    def kernel_probe(self) -> dict[str, float]:
        """Out-of-Spark kernel probe over this workload's own row groups:
        read -> to_pandas -> decode -> langid -> ppl, then the fused
        ``stages.score_clip_pdf`` on the same rows. Single core, us/row."""
        import pyarrow.parquet as pq

        from curator_spark import manifest, stages
        from curator_spark.scoring import audio, langid, lm

        splits = self.manifest.splits.head(4)
        t = dict.fromkeys(("read", "to_pandas", "decode", "langid", "lm", "fused"), 0.0)
        n = 0
        out_cols = [c for c in manifest.CLIP_COLUMNS if c != "bytes"]
        # the first split, once more in front, warms the models untimed
        paths = [splits["path"].iloc[0], *splits["path"]]
        rgs = [splits["row_group"].iloc[0], *splits["row_group"]]
        for k, (path, rg) in enumerate(zip(paths, rgs)):
            t0 = time.perf_counter()
            tab = pq.ParquetFile(path).read_row_group(int(rg), columns=manifest.CLIP_COLUMNS)
            t1 = time.perf_counter()
            pdf = tab.to_pandas()
            t2 = time.perf_counter()
            for b, c, sr, d in zip(pdf["bytes"], pdf["codec"], pdf["sr_hz"], pdf["dur_ms"]):
                audio.decode_features(b, c, sr, d)
            t3 = time.perf_counter()
            texts = [x if isinstance(x, str) else "" for x in pdf["transcript"]]
            langs, _ = langid.score_batch(texts)
            t4 = time.perf_counter()
            lm.ppl_batch(texts, langs)
            t5 = time.perf_counter()
            stages.score_clip_pdf(pdf, out_cols)
            t6 = time.perf_counter()
            if k == 0:
                continue
            for key, (a, b) in zip(t, [(t0, t1), (t1, t2), (t2, t3), (t3, t4), (t4, t5), (t5, t6)]):
                t[key] += b - a
            n += len(pdf)
        us = {k: v / n * 1e6 for k, v in t.items()}
        return {
            "manifest.read_us_per_row": us["read"],
            "manifest.to_pandas_us_per_row": us["to_pandas"],
            "scoring.audio.decode_us_per_row": us["decode"],
            "scoring.langid.us_per_row": us["langid"],
            "scoring.lm.us_per_row": us["lm"],
            "stages.score_clip_pdf_us_per_row": us["fused"],
            "stages.score_clip_pdf_other_us_per_row": us["fused"] - us["decode"] - us["langid"] - us["lm"],
        }

    def layer_cuts(self, spark) -> tuple[float, float, float]:
        """The fused stage, the Catalyst suffix and the partitioned write
        run as one Spark stage. Time them apart by cutting the plan at each
        public boundary: seconds to drain ``decode_score_splits``, then
        ``catalyst_suffix`` of it, into the no-op sink, and to write the
        latter with ``overwrite_partitions``. Medians of two."""
        from curator_spark import manifest, stages
        from curator_spark.catalog import ParquetCatalog

        wh = os.path.join(self.ctx.work, "wh_layers")
        cat = ParquetCatalog(spark, wh)
        cuts = {"fused": [], "suffix": [], "write": []}
        for _ in range(2):
            shutil.rmtree(wh, ignore_errors=True)
            scored = manifest.decode_score_splits(spark, self.manifest.splits)
            labeled = stages.catalyst_suffix(scored, self.cfg.rules)
            for cut, sink in (
                ("fused", lambda: scored.write.format("noop").mode("overwrite").save()),
                ("suffix", lambda: labeled.write.format("noop").mode("overwrite").save()),
                ("write", lambda: cat.overwrite_partitions(labeled, "out", "part_key")),
            ):
                self.tag(spark, f"layers.{cut}")
                t0 = time.monotonic()
                with self.ctx.tracer.span(f"layers.{cut}"):
                    sink()
                cuts[cut].append(time.monotonic() - t0)
        self.tag(spark, "idle")
        return tuple(_median(cuts[c]) for c in ("fused", "suffix", "write"))

    def layer_metrics(self, spark) -> dict[str, float]:
        n = self.n_clips
        out = self.kernel_probe()
        out["manifest.empty_keys"] = self.empty_keys
        ts = self.timings
        for step in ("write", "audit", "checkpoint"):
            xs = [v * 1000 for t in ts for k, v in t.items() if k.startswith(f"{step}_g")]
            out[f"pipeline.{step}_ms.p50"] = _median(xs)
            out[f"pipeline.{step}_ms.p90"] = _p90(xs)
        out["pipeline.untimed_ms"] = _median(
            [(t["_wall"] - sum(v for k, v in t.items() if k != "_wall")) * 1000 for t in ts])
        out["pipeline.resume_scan_ms"] = _median([t["resume_scan"] * 1000 for t in ts])
        out["manifest.plan_ms"] = _median([t["plan_manifest"] * 1000 for t in ts])

        table = f"clips_labeled/run_fp={self.last_pipe.last_fingerprint}"
        files = nbytes = 0
        for d, _dirs, names in os.walk(self.last_pipe.catalog.path(table)):
            for f in names:
                if f.endswith(".parquet"):
                    files += 1
                    nbytes += os.path.getsize(os.path.join(d, f))
        t0 = time.monotonic()
        self.last_pipe.catalog.snapshot_id(table)
        out["catalog.snapshot_id_ms"] = (time.monotonic() - t0) * 1000
        out["catalog.files_written"] = files
        out["catalog.bytes_written_per_row"] = nbytes / n

        fused, suffix, write = self.layer_cuts(spark)
        out["stages.fused_stage_us_per_row"] = fused / n * 1e6
        out["stages.catalyst_suffix_us_per_row"] = (suffix - fused) / n * 1e6
        out["catalog.overwrite_partitions_us_per_row"] = (write - suffix) / n * 1e6

        # Attribution of the median run's wall time. Its own
        # RunResult.timings give plan / write / audit / checkpoint; the
        # write step is split by the cuts above into the fused stage, the
        # Catalyst suffix and the file write; the fused stage by the kernel
        # probe (single-core us/row spread over nproc cores), the rest of it
        # being Spark task and Arrow overhead.
        t = sorted(ts, key=lambda x: x["_wall"])[len(ts) // 2]
        w = t["write_g0"]
        kern = {k: max(out[m], 0.0) * n / 1e6 / self.ctx.nproc for k, m in (
            ("read", "manifest.read_us_per_row"), ("to_pandas", "manifest.to_pandas_us_per_row"),
            ("decode", "scoring.audio.decode_us_per_row"), ("langid", "scoring.langid.us_per_row"),
            ("lm", "scoring.lm.us_per_row"), ("fused_other", "stages.score_clip_pdf_other_us_per_row"))}
        attrib = {
            "plan": t["resume_scan"] + t["plan_manifest"],
            **kern,
            "spark_stage_overhead": w * fused / write - sum(kern.values()),
            "catalyst_suffix": w * (suffix - fused) / write,
            "write": w * (write - suffix) / write,
            "audit": t["audit_g0"] + t["rows_in_g0"],
            "checkpoint": t["checkpoint_g0"],
        }
        attrib["unattributed"] = t["_wall"] - sum(attrib.values())
        for k, v in attrib.items():
            out[f"attrib.{k}_frac"] = v / t["_wall"]
        self.attribution = attrib
        return out

    def end_to_end_extra(self) -> dict[str, float]:
        return {"clips_per_s": self.n_clips / _median(self.samples["iter_s"])}


# -------------------------------------------------------------- documents


DOC_QUERIES = (
    # query names in __spark_entry__.queries / oracle_sql. Left out:
    # audio_dup_pairs, whose oracle decodes audio in SQL (~8 s of CPU per
    # run), and image/video_dup_pairs, which read neither the documents nor
    # the seed but a fixed media fixture, and would take a third of a pass.
    # simhash_near_pairs runs the same banded-Hamming pair construction.
    "curation_final_selection",
    "curation_from_index",
    "simhash_near_pairs",
    "minhash_dup_pairs",
)


class DocDedup(Workload):
    name = "doc_dedup"

    def __init__(self, ctx):
        super().__init__(ctx)
        self.n_docs = max(60, int(60 * ctx.scale))
        self.rows = self.n_docs
        self.sf_dir = os.path.join(ctx.work, "docs")
        self.results: dict[str, list[str]] = {q: [] for q in DOC_QUERIES}

    def setup(self, spark) -> None:
        from . import inputs

        with self.ctx.tracer.span("setup.input"):
            inputs.write_documents(self.ctx.seed, self.n_docs, self.sf_dir)
        self.has_input = True

    def prepare(self, spark) -> None:
        """Cold build of the dedup keep-list into a benchmark-owned
        directory, in the first session; ``curation_from_index`` is served
        from it. The index is plain parquet, so a traced second session
        reads the same one."""
        from curator_spark.ops import dedup

        keep_list = os.path.join(self.ctx.work, "dedup_index", "keep_list")
        if not os.path.isdir(keep_list):
            with self.ctx.tracer.span("setup.index_build"):
                dedup.build_dedup_index(spark, self.sf_dir, os.path.dirname(keep_list))
        # the operator looks its index up through ensure_dedup_index,
        # whose cache root is fixed; point it at the index built above
        dedup.ensure_dedup_index = lambda _spark, _sf_dir: keep_list

    def iteration(self, spark, i: int) -> None:
        from curator_spark.ops import dedup, text

        fns = {
            "curation_final_selection": text.curation_final_selection,
            "curation_from_index": text.curation_from_index,
            "simhash_near_pairs": dedup.simhash_near_pairs,
            "minhash_dup_pairs": dedup.minhash_dup_pairs,
        }
        total = 0.0
        for q in DOC_QUERIES:
            dedup.clear_session_cache(spark)  # every pass does the full work
            self.tag(spark, f"ops.{q}")
            t0 = time.monotonic()
            with self.ctx.tracer.span(f"ops.{q}"):
                got = fns[q](spark, self.sf_dir).toPandas()
            took = time.monotonic() - t0
            total += took
            self.record(f"query_s.{q}", took)
            self.results[q].append(value_hash(norm(got)))
        self.record("iter_s", total)

    def verify(self, spark) -> None:
        """Every pass's results against the DuckDB oracles. These take
        about 10 s of the benchmark's own multi-threaded CPU, so they run
        here, after every timed part of the run, never beside one."""
        want = oracle_digests(self.sf_dir, os.path.join(self.ctx.work, "oracle_fixtures"),
                              [q for q in DOC_QUERIES if q != "curation_from_index"])
        for q, digests in self.results.items():
            for i, d in enumerate(digests):
                self.check(d == want[q], f"pass {i}: {q} differs from its DuckDB oracle")
        for i, (a, b) in enumerate(zip(self.results["curation_from_index"],
                                       self.results["curation_final_selection"])):
            self.check(a == b, f"pass {i}: curation_from_index != curation_final_selection")

    def end_to_end_extra(self) -> dict[str, float]:
        return {f"query_s.{q}": _median(self.samples[f"query_s.{q}"]) for q in DOC_QUERIES}


def oracle_digests(sf_dir: str, fixture_dir: str, queries: list[str]) -> dict[str, str]:
    """Digest of each query's DuckDB oracle (``__spark_entry__.oracle_sql``)
    over ``sf_dir/documents.parquet``. Oracle fixtures go to
    ``fixture_dir``; the documents table is the oracle scale."""
    import warnings

    import duckdb

    from curator_spark.scoring import audio_sql, image_sql, mm_sql, video_sql

    for mod in (audio_sql, image_sql, mm_sql, video_sql):
        mod.FIXTURE_DIR = fixture_dir
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = sf_dir
    import __spark_entry__ as entry

    with warnings.catch_warnings():
        # no embeddings table here: the ANN oracles degrade, unused
        warnings.simplefilter("ignore")
        oracles = entry.oracle_sql()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{os.path.join(sf_dir, 'documents.parquet')}'")
    out = {}
    for q in queries:
        out[q] = value_hash(norm(con.sql(oracles[q]).df()))
    out["curation_from_index"] = out["curation_final_selection"]
    con.close()
    return out


WORKLOADS = {w.name: w for w in (ClipLabel, DocDedup)}
