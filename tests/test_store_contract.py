"""The micro-batch store protocol (streaming/store_compaction.py), checked
on every store class: re-publishing an unfolded batch id overwrites its
part, a replay of a folded batch is dropped, and ``compact()`` leaves
every serve unchanged. ``STORES`` is also the parameter list of
``tests/test_streaming_restart.py::test_all_grid_stores_serve_before_first_batch``
(the empty-store check), and ``test_store_protocol_lives_in_one_module``
keeps the protocol from being copied back into a store."""

from __future__ import annotations

import ast
from collections.abc import Callable
from dataclasses import dataclass
from pathlib import Path

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from real_time_scraping_and_predicting_time_series_data_spark import streaming
from real_time_scraping_and_predicting_time_series_data_spark.catalog import load_table
from real_time_scraping_and_predicting_time_series_data_spark.ml.forecast import _ar2_complete_rows
from real_time_scraping_and_predicting_time_series_data_spark.operators.corpus import _synth_url_spark
from real_time_scraping_and_predicting_time_series_data_spark.operators.text import _BM25_PANEL
from real_time_scraping_and_predicting_time_series_data_spark.streaming.ann_ingest import (
    IvfStreamIndex,
    seed_centroids,
)
from real_time_scraping_and_predicting_time_series_data_spark.streaming.bm25_stream import Bm25StreamIndex
from real_time_scraping_and_predicting_time_series_data_spark.streaming.cm_stream import CmStreamSketch
from real_time_scraping_and_predicting_time_series_data_spark.streaming.continuous_agg import ContinuousAggregate
from real_time_scraping_and_predicting_time_series_data_spark.streaming.corpus_ingest import IncrementalCorpusStore
from real_time_scraping_and_predicting_time_series_data_spark.streaming.dfindex_stream import NgramDfStreamIndex
from real_time_scraping_and_predicting_time_series_data_spark.streaming.drift_stream import DriftStreamMonitor
from real_time_scraping_and_predicting_time_series_data_spark.streaming.dsir_stream import DsirStreamModel
from real_time_scraping_and_predicting_time_series_data_spark.streaming.experiment_stream import (
    ExperimentStreamMonitor,
)
from real_time_scraping_and_predicting_time_series_data_spark.streaming.forecast_stream import ForecastGramStore
from real_time_scraping_and_predicting_time_series_data_spark.streaming.kmv_stream import KmvStreamSketch
from real_time_scraping_and_predicting_time_series_data_spark.streaming.model_quality_stream import (
    ModelQualityStreamMonitor,
)
from real_time_scraping_and_predicting_time_series_data_spark.streaming.neardup_ingest import NearDupCorpusStore
from real_time_scraping_and_predicting_time_series_data_spark.streaming.pca_stream import GramStreamAccumulator
from real_time_scraping_and_predicting_time_series_data_spark.streaming.quantile_stream import (
    QuantileStreamAccumulator,
)
from real_time_scraping_and_predicting_time_series_data_spark.streaming.seasonality_stream import (
    SeasonalityStreamMonitor,
)
from real_time_scraping_and_predicting_time_series_data_spark.streaming.semantic_ingest import SemanticDedupStore
from real_time_scraping_and_predicting_time_series_data_spark.streaming.sketch_stream import CmsStreamAccumulator
from real_time_scraping_and_predicting_time_series_data_spark.streaming.sprt_stream import SprtStreamMonitor
from real_time_scraping_and_predicting_time_series_data_spark.streaming.url_frontier import UrlFrontierStore

SF = "/root/testdata/sf0.001"
STREAMING = Path(streaming.__file__).parent


def _table(name: str, key: str | None = None, below: int | None = None):
    """A stream relation: the sf0.001 table, optionally cut to key < below."""

    def data(spark):
        df = load_table(spark, SF, name)
        return df if key is None else df.filter(F.col(key) < below)

    return data


_docs = _table("documents", "doc_id", 120)
_events = _table("events", "event_id", 400)
_embeddings = _table("embeddings", "vec_id", 80)


def _centroids(spark):
    return seed_centroids(load_table(spark, SF, "embeddings"), 8)


def _queries(store):
    emb = load_table(store.centroids.sparkSession, SF, "embeddings")
    return emb.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("query_id"), "embedding")


@dataclass(frozen=True)
class StoreCase:
    """One store class: how to build it, the stream relation it ingests
    (split into batches 0 and 1 on ``split`` parity), and its serves.
    ``global_aggs`` names serves that are global aggregates, which may
    return one row even for an empty store; ``args`` gives a serve's
    arguments."""

    name: str
    make: Callable
    data: Callable
    split: str
    serves: tuple[str, ...]
    global_aggs: tuple[str, ...] = ()
    args: dict[str, Callable] | None = None

    def serve(self, store, name: str) -> DataFrame:
        args = (self.args or {}).get(name, lambda store: ())
        return getattr(store, name)(*args(store))


STORES = [
    StoreCase(
        "ContinuousAggregate",
        ContinuousAggregate,
        lambda spark: _events(spark).select("user_id", "ts", "value"),
        "user_id",
        ("serve", "partials"),
    ),
    StoreCase(
        "DriftStreamMonitor",
        DriftStreamMonitor,
        _docs,
        "doc_id",
        ("serve_ks", "serve_mann_whitney", "serve_psi", "serve_jsd"),
        global_aggs=("serve_psi", "serve_jsd"),
    ),
    StoreCase(
        "QuantileStreamAccumulator",
        QuantileStreamAccumulator,
        _events,
        "event_id",
        ("serve_quantiles",),
    ),
    StoreCase(
        "SeasonalityStreamMonitor",
        SeasonalityStreamMonitor,
        _events,
        "event_id",
        ("serve_periodogram", "serve_var_es", "serve_spectral_entropy"),
        global_aggs=("serve_spectral_entropy",),
    ),
    StoreCase("CmsStreamAccumulator", CmsStreamAccumulator, _docs, "doc_id", ("serve",)),
    StoreCase("CmStreamSketch", CmStreamSketch, _docs, "doc_id", ("merged",)),
    StoreCase(
        "KmvStreamSketch",
        lambda spark, d: KmvStreamSketch(spark, d, k=64),
        _table("lineitem"),
        "l_orderkey",
        ("serve_sketch",),
        global_aggs=("serve_sketch",),
    ),
    StoreCase(
        "ExperimentStreamMonitor",
        ExperimentStreamMonitor,
        _events,
        "event_id",
        ("serve_bits", "serve_readout"),
    ),
    StoreCase(
        "SprtStreamMonitor",
        SprtStreamMonitor,
        _table("orders"),
        "o_orderkey",
        ("serve_grid", "serve_trajectory"),
    ),
    StoreCase(
        "ModelQualityStreamMonitor",
        lambda spark, d: ModelQualityStreamMonitor(spark, d, -1.0, 0.002, 0.5),
        _docs,
        "n_chars",  # an even-doc_id batch holds no src1 (positive) document
        ("serve_roc_auc", "serve_pr_auc"),
    ),
    StoreCase(
        "GramStreamAccumulator",
        GramStreamAccumulator,
        _embeddings,
        "vec_id",
        ("serve_gram", "serve_pca"),
    ),
    StoreCase(
        "ForecastGramStore",
        ForecastGramStore,
        lambda spark: _ar2_complete_rows(load_table(spark, SF, "events")),
        "event_id",
        ("serve_moments", "coefficients"),
        global_aggs=("serve_moments",),
    ),
    StoreCase(
        "Bm25StreamIndex",
        Bm25StreamIndex,
        _docs,
        "doc_id",
        ("serve_topk",),
        args={"serve_topk": lambda store: (_BM25_PANEL,)},
    ),
    StoreCase(
        "NgramDfStreamIndex",
        lambda spark, d: NgramDfStreamIndex(spark, d, threshold=2),
        _docs,
        "doc_id",
        ("serve_df", "serve_boilerplate"),
    ),
    StoreCase(
        "DsirStreamModel",
        lambda spark, d: DsirStreamModel(spark, d, F.col("lang") == "en"),
        _docs,
        "doc_id",
        ("serve_model", "serve_weights"),
    ),
    StoreCase(
        "IncrementalCorpusStore",
        IncrementalCorpusStore,
        lambda spark: _docs(spark).select("doc_id", "text", "source"),
        "doc_id",
        ("serve",),
    ),
    StoreCase(
        "NearDupCorpusStore",
        NearDupCorpusStore,
        lambda spark: _docs(spark).select("doc_id", "text", "source"),
        "doc_id",
        ("serve",),
    ),
    StoreCase(
        "UrlFrontierStore",
        UrlFrontierStore,
        lambda spark: _docs(spark).select("doc_id", _synth_url_spark().alias("url")),
        "doc_id",
        ("accepted",),
    ),
    StoreCase(
        "SemanticDedupStore",
        lambda spark, d: SemanticDedupStore(spark, d, _centroids(spark), threshold=0.25),
        lambda spark: _embeddings(spark).select("vec_id", "embedding"),
        "vec_id",
        ("serve",),
    ),
    StoreCase(
        "IvfStreamIndex",
        lambda spark, d: IvfStreamIndex(spark, d, _centroids(spark)),
        _embeddings,
        "vec_id",
        ("corpus", "serve_topk"),
        args={"serve_topk": lambda store: (_queries(store),)},
    ),
]

_FOLD_KEYS = {"folded_batches", "upto", "dirs_before", "dirs_after"}


def _canon(v):
    if isinstance(v, float):
        return round(v, 9)
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    return v


def _served(case: StoreCase, store) -> dict[str, list]:
    out = {}
    for name in case.serves:
        rows = case.serve(store, name).collect()
        out[name] = sorted((_canon(tuple(r)) for r in rows), key=repr)
    return out


def _listing(store_dir: Path) -> list[str]:
    """Every directory up to three levels under the store."""
    return sorted(
        str(p.relative_to(store_dir))
        for p in store_dir.glob("**/*")
        if p.is_dir() and len(p.relative_to(store_dir).parts) <= 3
    )


@pytest.mark.parametrize("case", STORES, ids=[c.name for c in STORES])
def test_store_protocol_contract(spark, tmp_path, case):
    store_dir = tmp_path / "store"
    store = case.make(spark, str(store_dir))
    data = case.data(spark)
    b0 = data.filter(F.col(case.split) % 2 == 0)
    b1 = data.filter(F.col(case.split) % 2 == 1)

    store.ingest_batch(b0, 0)
    only_b0 = _served(case, store)
    store.ingest_batch(b1, 1)
    both = _served(case, store)
    assert both != only_b0, "batch 1 must change some serve for the checks below to bite"

    # re-publishing an unfolded batch id overwrites its part
    store.ingest_batch(b1.filter(F.lit(False)), 1)
    assert _served(case, store) == only_b0
    store.ingest_batch(b1, 1)
    assert _served(case, store) == both

    # compact() leaves every serve unchanged
    rep = store.compact()
    assert _served(case, store) == both

    # a replay of a folded batch is dropped
    listing = _listing(store_dir)
    store.ingest_batch(b1, 1)
    assert _served(case, store) == both
    assert _listing(store_dir) == listing

    # every fold reports the same keys
    folds = rep.values() if isinstance(store.parts, dict) else [rep]
    for fold in folds:
        assert set(fold) == _FOLD_KEYS and fold["folded_batches"] == 2 and fold["upto"] == 1


def _string_literals(tree: ast.AST):
    """Every string constant and f-string part outside docstrings."""
    docstrings = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
            body = node.body
            if body and isinstance(body[0], ast.Expr) and isinstance(body[0].value, ast.Constant):
                docstrings.add(id(body[0].value))
    for node in ast.walk(tree):
        if isinstance(node, ast.Constant) and isinstance(node.value, str):
            if id(node) not in docstrings:
                yield node.value


def _is_write_stream(node: ast.AST) -> bool:
    return isinstance(node, ast.Attribute) and node.attr == "writeStream"


def test_store_protocol_lives_in_one_module():
    """Only store_compaction.py names parts, renames directories, defines
    attach/compact or starts a foreachBatch query; ForecastPipeline.start
    is the one other writeStream caller. No streaming/ module calls a
    ``.start()`` of its own: every stream starts through
    ``session.start_stream``, which gives it one state partition per core."""
    offenders = []
    for path in sorted(STREAMING.glob("*.py")):
        tree = ast.parse(path.read_text())
        for node in ast.walk(tree):
            if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
                if node.func.attr == "start":
                    offenders.append(f"{path.name}:{node.lineno}: calls .start()")
        if path.name == "store_compaction.py":
            continue
        for s in _string_literals(tree):
            if "batch_id=" in s or "compacted_upto=" in s:
                offenders.append(f"{path.name}: formats {s!r}")
        for node in ast.walk(tree):
            if isinstance(node, ast.FunctionDef) and node.name in ("attach", "compact"):
                offenders.append(f"{path.name}: defines {node.name}")
            if isinstance(node, ast.Attribute) and node.attr in ("rename", "replace"):
                if isinstance(node.value, ast.Name) and node.value.id == "os":
                    offenders.append(f"{path.name}: calls os.{node.attr}")
        uses = [n for n in ast.walk(tree) if _is_write_stream(n)]
        if path.name == "pipeline.py":
            start = next(
                f
                for c in tree.body
                if isinstance(c, ast.ClassDef) and c.name == "ForecastPipeline"
                for f in c.body
                if isinstance(f, ast.FunctionDef) and f.name == "start"
            )
            allowed = {id(n) for n in ast.walk(start) if _is_write_stream(n)}
            uses = [n for n in uses if id(n) not in allowed]
        offenders += [f"{path.name}:{n.lineno}: calls writeStream" for n in uses]
    assert offenders == []
