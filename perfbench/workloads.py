"""The benchmark's workloads.

Each workload builds its inputs from the seed (``gen``), does its set-up
once, then runs one job per :meth:`Workload.job` call. Jobs run as a
closed loop, one at a time. A job returns its fully materialised result
(collected to the driver), which :meth:`Workload.check` verifies
untimed.

Why these two (see ``BENCHMARK.json``): ``incremental_append`` runs the
dedup engine's sketch, pairs and cluster layers through the checkpoint
layer, with writes beside reads; ``postings_ops`` runs the training-data
operators (``ops``), whose ``minhash_clusters`` is the in-memory
``dedup_pipeline`` including the label join of ``cluster_stage``.
"""

from __future__ import annotations

import importlib
import os
import shutil

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from . import checks, gen, layers

#: scan splits per input table and core; scan splits are the sketch's
#: parallelism, so a scan runs in >= 4 waves
SPLITS_PER_CORE = 5
#: pages run through the O(n^2) pure-Python oracle
ORACLE_SLICE = 160


class Context:
    def __init__(self, spark, work: str, seed: int, cores: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.splits = SPLITS_PER_CORE * cores
        #: facts recorded in the report line (input sizes, scan splits)
        self.report: dict = {}

    def write(self, pdf: pd.DataFrame, name: str) -> str:
        """A directory of small parquet files that the session, under its
        own split settings, scans as ``self.splits`` splits. Spark packs
        files into a split charging each one ``openCostInBytes`` on top
        of its size, so ``maxPartitionBytes // openCostInBytes`` small
        files fill one split. Records the split count the scan plans."""
        conf = self.spark._jsparkSession.sessionState().conf()
        per_split = max(1, conf.filesMaxPartitionBytes() // conf.filesOpenCostInBytes())
        path = os.path.join(self.work, name)
        os.makedirs(path)
        table = pa.Table.from_pandas(pdf, preserve_index=False)
        bounds = np.linspace(0, len(pdf), self.splits * per_split + 1).astype(int)
        for i, (lo, hi) in enumerate(zip(bounds[:-1], bounds[1:])):
            pq.write_table(table.slice(lo, hi - lo), os.path.join(path, f"part-{i:05d}.parquet"))
        size = sum(os.path.getsize(os.path.join(path, f)) for f in os.listdir(path))
        self.report.setdefault("inputs", {})[name] = {
            "rows": len(pdf),
            "bytes": size,
            "files": len(bounds) - 1,
            "scan_splits": self.spark.read.parquet(path).rdd.getNumPartitions(),
        }
        return path


def oracle_clusters(pages: pd.DataFrame, params) -> pd.DataFrame:
    """(url, cluster_id) from ``jam_spark.oracle`` — O(n^2) pairs — plus
    the exact-duplicate collapse ``dedup_pipeline`` runs before banding.
    ``oracle.all_pairs`` pairs identical texts only through a shared
    hash, so identical texts whose sketch is empty (fewer than ``k``
    tokens, or no shingle under ``max_hash``) would stay apart there,
    against the rule that identical texts share a cluster."""
    from jam_spark import oracle

    sketches = [oracle.sketch_text(t, params, name=u) for u, t in zip(pages["url"], pages["text"])]
    rep = pages.groupby("text")["url"].transform("min")
    same_text = [(r, u) for r, u in zip(rep, pages["url"]) if r != u]
    labels = oracle.cluster(list(pages["url"]), oracle.all_pairs(sketches, params) + same_text)
    return pd.DataFrame({"url": list(labels), "cluster_id": list(labels.values())})


def oracle_slice(pages: pd.DataFrame, n: int) -> pd.DataFrame:
    """The first multi-member families (so the slice has pairs to find)
    topped up with singletons, ``n`` rows at most."""
    sizes = pages.groupby("family")["url"].transform("size")
    fam = pages[sizes > 1]
    keep = fam[fam["family"].isin(fam["family"].unique()[: n // 6])]
    rest = pages[sizes == 1].head(max(0, n - len(keep)))
    return pd.concat([keep, rest]).head(n)


class Workload:
    name = ""
    #: input docs one job processes (docs_per_s numerator)
    docs = 0

    def __init__(self, ctx: Context):
        self.ctx = ctx

    def setup(self) -> None:
        raise NotImplementedError

    def before_job(self) -> None:
        """Untimed per-job preparation."""

    def job(self):
        raise NotImplementedError

    def check(self, result) -> list[str]:
        raise NotImplementedError

    def final_checks(self) -> list[str]:
        """Untimed checks run once after the measured jobs."""
        return []


class IncrementalAppend(Workload):
    """``CheckpointedDedup.run`` appends a 10% delta of web pages to a
    checkpoint holding the other 90%. The base is built in set-up and
    restored (untimed) before each job."""

    name = "incremental_append"
    N_PAGES = 1000
    DELTA = 0.10

    def setup(self) -> None:
        from jam_spark._persist import release_all
        from jam_spark.checkpoint import CheckpointedDedup
        from jam_spark.params import SketchParams
        from jam_spark.pipeline import dedup_pipeline

        ctx = self.ctx
        self.params = SketchParams()
        self.truth = gen.web_pages(ctx.seed, self.N_PAGES)
        n_base = int(round(self.N_PAGES * (1 - self.DELTA)))
        self.docs = self.N_PAGES - n_base
        cols = ["url", "text", "lang"]
        base = ctx.write(self.truth[cols][:n_base], "base")
        self.full = ctx.write(self.truth[cols], "full")
        self.base_root = os.path.join(ctx.work, "ckpt_base")
        self.job_root = os.path.join(ctx.work, "ckpt_job")
        CheckpointedDedup(ctx.spark, self.base_root, self.params).run(ctx.spark.read.parquet(base)).count()
        release_all()
        self.reference = dedup_pipeline(ctx.spark.read.parquet(self.full), self.params).toPandas()
        release_all()
        # JIT warm-up: one untimed append, the job each sample times
        self.before_job()
        self.job()
        release_all()

    def before_job(self) -> None:
        shutil.rmtree(self.job_root, ignore_errors=True)
        shutil.copytree(self.base_root, self.job_root)

    def job(self):
        from jam_spark.checkpoint import CheckpointedDedup

        ctx = self.ctx
        pages = ctx.spark.read.parquet(self.full)
        return CheckpointedDedup(ctx.spark, self.job_root, self.params).run(pages).toPandas()

    def check(self, result) -> list[str]:
        return checks.check_clusters(result, self.truth) + checks.same_labels(
            result, self.reference, "url", "the from-scratch run"
        )

    def final_checks(self) -> list[str]:
        from jam_spark._persist import release_all
        from jam_spark.pipeline import dedup_pipeline

        errs = checks.check_clusters(self.reference, self.truth)
        sl = oracle_slice(self.truth, ORACLE_SLICE)
        got = dedup_pipeline(self.ctx.spark.createDataFrame(sl[["url", "text"]]), self.params).toPandas()
        release_all()
        return errs + checks.same_labels(got, oracle_clusters(sl, self.params), "url", "oracle.cluster")


class PostingsOps(Workload):
    """One job is one pass of four operators over a ``documents`` and an
    ``embeddings`` table with the sf0.1 schema: the postings self-joins
    over winnow fingerprints, n-grams and LSH buckets, and
    ``minhash_clusters`` (the in-memory minhash dedup pipeline, whose
    band postings are the fourth self-join)."""

    name = "postings_ops"
    N_DOCS = 600
    N_VECS = 300
    #: operators with a DuckDB twin in the program (``<name>_sql``)
    SQL_TWINS = ("winnow_dup_pairs", "ngram_jaccard_pairs")

    def setup(self) -> None:
        from jam_spark._persist import release_all

        ctx = self.ctx
        self.truth = gen.documents(ctx.seed, self.N_DOCS)
        self.embs = gen.embeddings(ctx.seed, self.N_VECS)
        self.docs = self.N_DOCS
        doc_cols = ["doc_id", "text", "lang", "source", "n_chars"]
        self.paths = {
            "documents": ctx.write(self.truth[doc_cols], "documents"),
            "embeddings": ctx.write(self.embs, "embeddings"),
        }
        # JIT warm-up: the first pass runs slower and burns compiler CPU
        # (after a pass over a slice of the tables, the next pass still does)
        self.job()
        release_all()
        self.first: dict | None = None

    def job(self):
        tables = {k: self.ctx.spark.read.parquet(p) for k, p in self.paths.items()}
        out = {}
        for mod, name in layers.OPS:
            table = tables["embeddings" if mod.endswith("similarity") else "documents"]
            out[name] = getattr(importlib.import_module(mod), name)(table).toPandas()
        return out

    def check(self, result) -> list[str]:
        errs = []
        for name in ("winnow_dup_pairs", "ngram_jaccard_pairs"):
            errs += [f"{name}: {e}" for e in checks.check_pairs(result[name], "doc_a", "doc_b")]
        # minhash collapses exact duplicates before banding, so identical
        # texts must share a cluster; it promises no recall on 1-2 token
        # edits of 10-100 token documents
        errs += [
            f"minhash_clusters: {e}"
            for e in checks.check_clusters(result["minhash_clusters"], self.truth, "doc_id", min_recall=None)
        ]
        errs += [f"ann_lsh_topk: {e}" for e in checks.check_topk(result["ann_lsh_topk"], self.embs, k=5)]
        if self.first is None:
            self.first = result
        else:
            for name, df in result.items():
                errs += [f"{name}: {e}" for e in checks.same_rows(df, self.first[name], "the first job")]
        return errs

    def _against_twins(self, result) -> list[str]:
        """Compare with the program's DuckDB twins. Run after the measured
        jobs: DuckDB keeps the memory it used, which would raise the
        driver's resident baseline under later jobs."""
        from jam_spark.ops import dedup

        con = duckdb.connect()
        try:
            con.sql("SET enable_progress_bar = false")
            docs = os.path.join(self.paths["documents"], "*.parquet")
            con.sql(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs}')")
            errs = []
            for name in self.SQL_TWINS:
                want = con.sql(getattr(dedup, f"{name}_sql")()).df()
                errs += [f"{name}: {e}" for e in checks.same_rows(result[name], want, "its DuckDB twin")]
            return errs
        finally:
            con.close()

    def final_checks(self) -> list[str]:
        """The oracle slice must not join what ``oracle.cluster`` keeps
        apart. Equality is checked on ``incremental_append``'s web pages
        only: the band layout promises recall >= 0.99 on web text
        (``SketchParams``), and these 10-100-token documents carry a
        handful of hashes each, so banding can miss a pair whose one
        shared hash scores 100%. The recall seen is reported."""
        from jam_spark._persist import release_all
        from jam_spark.ops.dedup import minhash_clusters
        from jam_spark.params import SketchParams

        pages = self.truth.assign(url=self.truth["doc_id"].map(lambda d: f"{d:012d}"))
        sl = oracle_slice(pages, ORACLE_SLICE)
        got = minhash_clusters(self.ctx.spark.createDataFrame(sl[["doc_id", "text"]])).toPandas()
        release_all()
        got["url"] = got["doc_id"].map(lambda d: f"{d:012d}")
        got["cluster_id"] = got["cluster_id"].map(lambda d: f"{d:012d}")
        errs, recall = checks.refines(got, oracle_clusters(sl, SketchParams()), "url", "oracle.cluster")
        self.ctx.report["oracle_slice_pair_recall"] = recall
        return errs + (self._against_twins(self.first) if self.first is not None else [])


WORKLOADS = {w.name: w for w in (IncrementalAppend, PostingsOps)}
