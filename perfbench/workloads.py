"""The benchmark's workloads.  Each drives the program only through its
public plan entry points — the ``ERPipeline`` stage methods and
``CurationPipeline.stage(name)`` — and checks its own output.

A workload has ``setup()`` (its inputs, once per run) and
``run_pass(pass_id, call)``, which runs and checks one pass and returns
its F1; ``call(stage, fn)`` runs one stage call, inside a span and a
Spark job group when the pass is traced.  A failed check raises
:class:`CheckFailed`.  After a traced pass, outside its timing,
``layer_metrics()`` reads that pass's warehouse and ``resume_probe()``
re-runs it under a changed config.
"""

from __future__ import annotations

import hashlib
import json
import shutil
from dataclasses import replace
from pathlib import Path

from entity_resolution_pipeline_spark.config import MatchingConfig, PipelineConfig
from entity_resolution_pipeline_spark.operators.evaluate import pairwise_f1
from entity_resolution_pipeline_spark.operators.extract import rid_expr
from entity_resolution_pipeline_spark.plans.curate import (
    STAGE_ORDER as CURATE_STAGES,
    CurationConfig,
    CurationPipeline,
)
from entity_resolution_pipeline_spark.plans.pipeline import STAGES, ERPipeline
from entity_resolution_pipeline_spark.sources.catalog import TableCatalog
from entity_resolution_pipeline_spark.sources.synth import labeled_pairs

from gen import SPAN_K, er_pages, web_corpus, write_web_corpus

ER_STAGES = (*STAGES[1:], "evaluate")  # extract, block, score, cluster, evaluate
ALL_STAGES = (*ER_STAGES, *CURATE_STAGES)

#: input sizes: every planted case occurs many times, and both workloads'
#: runs fit the benchmark's time budget
ER_PAGES = 640  # about 300 planted entities
WEB_BASE_DOCS = 300  # plus about 90 planted pages

#: every table each checkpointed ER stage writes; the last is its ``rows_out``
_ER_TABLES = {
    "extract": ("extracted",),
    "block": ("postings", "block_stats", "pairs"),
    "score": ("matched",),
    "cluster": ("representatives", "clustered"),
}

#: the reference's weight grid (evaluate_pipeline.py): the balanced vector
#: must reach F1 0.99, a skewed one the reference's own grid floor
BALANCED, SKEWED = (0.33, 0.33, 0.33), (0.7, 0.3, 0.0)
F1_FLOOR = {BALANCED: 0.99, SKEWED: 0.9677}


class CheckFailed(RuntimeError):
    pass


def _meta(catalog: TableCatalog, table: str) -> Path:
    return catalog.warehouse / f"{table}._meta.json"


def _rows(catalog: TableCatalog, table: str) -> int:
    p = _meta(catalog, table)
    return json.loads(p.read_text())["rows"] if p.exists() else 0


def _tree_bytes(root: Path) -> int:
    return sum(p.stat().st_size for p in root.rglob("*") if p.is_file())


def _rewritten(catalog: TableCatalog, groups: dict[str, tuple[str, ...]], run) -> int:
    """Run ``run()``; → how many stages had a checkpoint rewritten."""
    def stamps():
        return {
            t: (_meta(catalog, t).stat().st_mtime_ns if _meta(catalog, t).exists() else 0)
            for ts in groups.values()
            for t in ts
        }

    before = stamps()
    run()
    after = stamps()
    return sum(any(after[t] != before[t] for t in ts) for ts in groups.values())


class _Workload:
    def __init__(self, spark, work: Path, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.records = 0  # input pages
        self.digest = ""  # of the generated input
        self.last_wh: Path | None = None

    def _fresh_warehouse(self, pass_id: int) -> Path:
        if self.last_wh is not None:
            shutil.rmtree(self.last_wh, ignore_errors=True)
        self.last_wh = self.work / f"wh-{pass_id}"
        return self.last_wh


class ERPipelineWorkload(_Workload):
    """extract → block → score → cluster → evaluate in a fresh warehouse,
    pages copied in from the set-up checkpoint."""

    def setup(self) -> None:
        self.records = ER_PAGES
        pages, picked = er_pages(self.spark, self.seed, self.records)
        self.entities = len(picked)
        self.digest = hashlib.sha256(repr((self.records, picked)).encode()).hexdigest()
        # the stages read the pages table straight from its path
        self.template = self.work / "er_pages"
        pages.write.parquet(str(self.template / "pages"))

    def run_pass(self, pass_id: int, call) -> float:
        wh = self._fresh_warehouse(pass_id)
        shutil.copytree(self.template, wh)
        cat = TableCatalog(self.spark, str(wh))
        pipe = ERPipeline(self.spark, cat, PipelineConfig())
        for stage in STAGES[1:]:
            call(stage, getattr(pipe, stage))
        pm = call("evaluate", pipe.evaluate)
        if pm.f1 < F1_FLOOR[BALANCED]:
            raise CheckFailed(f"pairwise F1 {pm.f1:.4f} below 0.99 ({pm})")
        n = cat.read("clustered").select("entity_cluster").distinct().count()
        if n != self.entities:
            raise CheckFailed(f"{n} clusters for {self.entities} planted entities")
        self.predicted = pm.tp + pm.fp
        return pm.f1

    def layer_metrics(self) -> dict[str, float]:
        cat = TableCatalog(self.spark, str(self.last_wh))
        m = {f"{s}.rows_out": _rows(cat, t[-1]) for s, t in _ER_TABLES.items()}
        m["evaluate.rows_out"] = self.predicted
        id_bits = PipelineConfig().id_bits
        gold = labeled_pairs(cat.read("pages")).select(
            rid_expr("url1", id_bits).alias("id1"), rid_expr("url2", id_bits).alias("id2")
        )
        m["block.pair_recall"] = pairwise_f1(cat.read("pairs"), gold).recall
        m["block.pair_yield"] = m["score.rows_out"] / max(1, m["block.rows_out"])
        m["catalog.bytes_written"] = _tree_bytes(self.last_wh) - _tree_bytes(self.template)
        return m

    def resume_probe(self) -> int:
        """One step of the reference's weight sweep: re-run the last pass's
        warehouse under a skewed weight vector; → stages rewritten."""
        cat = TableCatalog(self.spark, str(self.last_wh))
        pipe = ERPipeline(
            self.spark, cat, PipelineConfig(matching=MatchingConfig(weights=SKEWED))
        )
        n = _rewritten(cat, _ER_TABLES, lambda: pipe.run(stages=STAGES[1:]))
        f1 = pipe.evaluate().f1
        if f1 < F1_FLOOR[SKEWED]:
            raise CheckFailed(f"re-weighted pairwise F1 {f1:.4f} below {F1_FLOOR[SKEWED]}")
        return n


class CurateWebWorkload(_Workload):
    """Every stage of the curation chain over a seeded web crawl in a fresh
    warehouse, checked against the planted removals."""

    def setup(self) -> None:
        self.corpus = web_corpus(self.seed, WEB_BASE_DOCS)
        self.records = len(self.corpus.docs)
        self.digest = self.corpus.digest()
        self.input_path = str(self.work / "web_docs.parquet")
        self.bench_path = str(self.work / "web_bench.parquet")
        write_web_corpus(self.corpus, self.input_path, self.bench_path)
        self.cfg = CurationConfig(
            rates=self.corpus.rates,
            default_rate=0.0,
            url_col="url",
            ts_col="ts",
            line_filter=True,
            boilerplate=True,
            span_k=SPAN_K,
            benchmark_path=self.bench_path,
        )

    def run_pass(self, pass_id: int, call) -> float:
        from pyspark.sql import functions as F

        cat = TableCatalog(self.spark, str(self._fresh_warehouse(pass_id)))
        pipe = CurationPipeline(self.spark, cat, self.input_path, self.cfg)
        if pipe.stages() != CURATE_STAGES:
            raise CheckFailed(f"enabled chain {pipe.stages()} != {CURATE_STAGES}")
        for stage in CURATE_STAGES:
            call(stage, lambda s=stage: pipe.stage(s))

        corpus = self.corpus
        for stage, want in corpus.expected_funnel().items():
            got = self.records if stage == "input" else _rows(cat, stage)
            if got != want:
                raise CheckFailed(f"funnel[{stage}] = {got}, planted {want}")
        kept = dict(cat.read("decontaminate").select("doc_id", "lang").collect())
        removed = {d[0] for d in corpus.docs} - kept.keys()
        planted = corpus.removed_before_sample()
        f1 = 2 * len(removed & planted) / (len(removed) + len(planted))
        if f1 < 1.0:
            raise CheckFailed(f"removed-doc F1 {f1:.4f} < 1")
        sampled = {r.doc_id for r in cat.read("sample").select("doc_id").collect()}
        if sampled != corpus.expected_sample(kept):
            raise CheckFailed("stratified sample differs from the rate rule")
        spans = cat.read("spans")
        for para in corpus.syndicated:
            n = spans.where(F.col("text").contains(para)).count()
            if n != 1:
                raise CheckFailed(f"a shared paragraph survived in {n} docs, want 1")
        if cat.read("boilerplate").where(F.col("text").contains("copyright ")).count():
            raise CheckFailed("a domain footer survived boilerplate removal")
        return f1

    def layer_metrics(self) -> dict[str, float]:
        cat = TableCatalog(self.spark, str(self.last_wh))
        m = {f"{s}.rows_out": _rows(cat, s) for s in CURATE_STAGES}
        m["catalog.bytes_written"] = _tree_bytes(self.last_wh)
        return m

    def resume_probe(self) -> int:
        """Change only the sample rates on the last pass's warehouse;
        → stages rewritten (only ``sample`` should be)."""
        cat = TableCatalog(self.spark, str(self.last_wh))
        rates = {lang: rate / 2 for lang, rate in self.cfg.rates.items()}
        pipe = CurationPipeline(
            self.spark, cat, self.input_path, replace(self.cfg, rates=rates)
        )
        groups = {s: (s,) for s in CURATE_STAGES}
        return _rewritten(cat, groups, lambda: pipe.stage("sample"))


WORKLOADS = {
    "er_pipeline": ERPipelineWorkload,
    "curate_web": CurateWebWorkload,
}
