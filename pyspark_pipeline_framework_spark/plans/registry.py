"""Operator registry: names → callables ``(spark, catalog, **params) ->
DataFrame | None``. Replaces the reference's importlib class-path
loading (runtime/loader.py:15-137) as the primary lookup; the dotted
``class_path`` escape hatch is kept for user extensions. Ops that only
adapt a package function to the catalog are rows of :data:`BINDINGS`;
the rest are hand-written below."""

from __future__ import annotations

import importlib
import logging
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession

from pyspark_pipeline_framework_spark.io.readers import Catalog, SourceConfig, read_source
from pyspark_pipeline_framework_spark.io.writers import SinkConfig, write_sink

logger = logging.getLogger(__name__)

Operator = Callable[..., "DataFrame | None"]


def operator(name: str):
    """Mark a function as a discoverable operator for
    :meth:`OperatorRegistry.scan_package` — usable in user packages
    without importing any registry instance."""

    def deco(f: Operator) -> Operator:
        f.__operator_name__ = name  # type: ignore[attr-defined]
        return f

    return deco


class OperatorRegistry:
    def __init__(self) -> None:
        self._ops: dict[str, Operator] = {}

    def register(self, name: str, fn: Operator | None = None):
        if fn is not None:
            self._ops[name] = fn
            return fn

        def deco(f: Operator) -> Operator:
            self._ops[name] = f
            return f

        return deco

    def get(self, name: str) -> Operator:
        if name not in self._ops:
            raise KeyError(f"unknown operator {name!r}; known: {sorted(self._ops)}")
        return self._ops[name]

    def names(self) -> list[str]:
        return sorted(self._ops)

    def scan_package(self, package: str) -> list[str]:
        """Import every module under ``package`` and register all
        callables marked with :func:`operator` — package-scan component
        discovery (reference runtime/loader.py:114-137), so users drop
        operator modules into a package instead of listing dotted paths.
        Returns the newly registered names; a name already registered
        to a DIFFERENT callable raises (silent override would mask
        collisions between scanned modules)."""
        import pkgutil

        pkg = importlib.import_module(package)
        modules = [pkg]
        if hasattr(pkg, "__path__"):
            for info in pkgutil.walk_packages(pkg.__path__, prefix=pkg.__name__ + "."):
                modules.append(importlib.import_module(info.name))
        found: list[str] = []
        for mod in modules:
            for attr in list(vars(mod).values()):
                name = getattr(attr, "__operator_name__", None)
                if not name or not callable(attr):
                    continue
                existing = self._ops.get(name)
                if existing is attr:
                    continue  # same function re-exported elsewhere
                if existing is not None:
                    raise ValueError(
                        f"operator {name!r} from {mod.__name__} conflicts with an "
                        f"already-registered operator"
                    )
                self._ops[name] = attr
                found.append(name)
        return sorted(found)


def load_class_path(path: str) -> Any:
    """Dotted-path import (``pkg.mod.attr``) — the escape hatch."""
    mod_path, _, attr = path.rpartition(".")
    if not mod_path:
        raise ValueError(f"class_path {path!r} must be dotted")
    mod = importlib.import_module(mod_path)
    try:
        return getattr(mod, attr)
    except AttributeError as e:
        raise ImportError(f"{attr!r} not found in {mod_path!r}") from e


# ---------------------------------------------------------------------------
# built-in operator vocabulary (reference §2.1 components, Spark-first)
# ---------------------------------------------------------------------------

default_registry = OperatorRegistry()


@default_registry.register("read")
def op_read(spark: SparkSession, catalog: Catalog, *, output: str, **params) -> DataFrame:
    """Read a source (parquet/csv/json/orc/delta/iceberg/table) into the catalog."""
    df = read_source(spark, SourceConfig(**params))
    return catalog.put(output, df)


@default_registry.register("sql")
def op_sql(spark: SparkSession, catalog: Catalog, *, output: str, sql: str, **_) -> DataFrame:
    """SqlTransform parity: SQL over registered datasets; stays lazy so
    chained SQL stages fuse into one Catalyst plan."""
    return catalog.put(output, catalog.sql(sql))


@default_registry.register("transform")
def op_transform(
    spark: SparkSession, catalog: Catalog, *, output: str, input: str,
    filter: str | None = None, select: list[str] | None = None,
    with_columns: dict[str, str] | None = None, **_,
) -> DataFrame:
    """Declarative projection/filter/computed-columns stage."""
    from pyspark.sql import functions as F

    df = catalog.get(input)
    if filter:
        df = df.filter(filter)
    for name, expr in (with_columns or {}).items():
        df = df.withColumn(name, F.expr(expr))
    if select:
        df = df.selectExpr(*select)
    return catalog.put(output, df)


@default_registry.register("write")
def op_write(spark: SparkSession, catalog: Catalog, *, input: str, **params) -> None:
    """Write a dataset to a sink (format/mode/partitioning per SinkConfig)."""
    write_sink(catalog.get(input), SinkConfig(**params))
    return None


# -- config-declarable LLM-data and event operators (SURVEY §2.8) -----------

_PKG = "pyspark_pipeline_framework_spark"

#: Pure adapters: op name → (``"module:function"`` under the package,
#: catalog-input parameter names). :func:`bind` turns each row into an
#: operator; the target's own docstring and signature are the op's
#: contract (``tools/gendocs.py`` renders them).
BINDINGS: dict[str, tuple[str, tuple[str, ...]]] = {
    "quality_filter": ("llm.text:quality_filter", ("input",)),
    "language_id": ("llm.text:language_id", ("input",)),
    "dedup_exact": ("llm.dedup:exact_text_dedup", ("input",)),
    "dedup_minhash_pairs": ("llm.dedup:minhash_candidate_pairs", ("input",)),
    "minhash_bands": ("llm.dedup:minhash_bands", ("input",)),
    "dedup_incremental_pairs": (
        "llm.dedup:incremental_candidate_pairs", ("new_bands", "corpus_bands"),
    ),
    "jaccard_verify": ("llm.dedup:jaccard_verify", ("input", "candidates")),
    "dedup_clusters": ("llm.dedup:dedup_clusters", ("input", "pairs")),
    "duplicated_spans": ("llm.dedup:duplicated_spans", ("input",)),
    "cut_spans": ("llm.dedup:cut_spans", ("input", "spans")),
    "decontaminate": ("llm.dedup:decontaminate", ("input", "eval_set")),
    "bloom_decontaminate": ("llm.dedup:bloom_decontaminate", ("input", "eval_set")),
    "global_shuffle": ("llm.packing:global_shuffle", ("input",)),
    "token_budget_sample": ("llm.packing:sample_to_token_budget", ("input",)),
    "sample_stratified": ("llm.packing:stratified_sample", ("input",)),
    "sample_domain_mix": ("llm.packing:domain_mix_sample", ("input",)),
    "sample_weighted": ("llm.packing:weighted_sample", ("input",)),
    "split_by_hash": ("llm.packing:split_by_hash", ("input",)),
    "pack_sequences": ("llm.packing:pack_sequences", ("input",)),
    "chunk_documents": ("llm.packing:chunk_documents", ("input",)),
    "media_probe": ("llm.multimodal:probe_media", ("input",)),
    "quantize_embeddings": ("llm.similarity:quantize_embeddings", ("input",)),
    "semantic_dedup_pairs": ("llm.similarity:semantic_dedup_pairs", ("input",)),
    "ivf_add": ("llm.similarity:ivf_add", ("input", "centroids")),
    "ivf_search": ("llm.similarity:ivf_search", ("assigned", "centroids", "queries")),
    "pq_encode": ("llm.pq:pq_encode", ("input", "codebooks")),
    "pq_search": ("llm.pq:pq_search_adc", ("codes", "codebooks", "queries")),
    "ivfpq_add": ("llm.pq:ivfpq_add", ("input", "centroids", "codebooks")),
    "ivfpq_search": (
        "llm.pq:ivfpq_search", ("store", "centroids", "codebooks", "queries"),
    ),
    "robust_outliers": ("operators.events:robust_outliers", ("input",)),
    "funnel": ("operators.events:funnel_counts", ("input",)),
    "retention": ("operators.events:cohort_retention", ("input",)),
    "range_frame": ("operators.windows:global_range_frame", ("input",)),
}


def resolve(target: str) -> Callable[..., DataFrame]:
    """``"llm.text:quality_filter"`` → the package function it names."""
    module, _, name = target.partition(":")
    return load_class_path(f"{_PKG}.{module}.{name}")


def bind(name: str, target: str, inputs: tuple[str, ...]) -> Operator:
    """One :data:`BINDINGS` row as an operator: each named input is
    popped from the params, looked up in the catalog and passed
    positionally; every other param is passed by keyword; the result is
    stored under ``output``. The target is imported on first call, so
    loading the registry imports no ``llm`` module (nor pandas/pyarrow).
    ``output`` stays a declared parameter: the runner injects it only
    into operators that declare it."""

    def op(spark: SparkSession, catalog: Catalog, *, output: str, **params) -> DataFrame:
        for n in inputs:
            if n not in params:
                raise TypeError(
                    f"{op.__name__}() missing 1 required keyword-only argument: {n!r}"
                )
        frames = [catalog.get(params.pop(n)) for n in inputs]
        return catalog.put(output, resolve(target)(*frames, **params))

    op.__name__ = op.__qualname__ = f"op_{name}"
    op.target, op.inputs = target, inputs  # type: ignore[attr-defined]
    return op


for _name, (_target, _inputs) in BINDINGS.items():
    default_registry.register(_name, bind(_name, _target, _inputs))


# -- hand-written operators: contracts beyond a pure adapter -----------------


@default_registry.register("dedup_ngram_pairs")
def op_dedup_ngram_pairs(
    spark: SparkSession, catalog: Catalog, *, output: str, input: str, **params
) -> DataFrame:
    """Exact n-gram Jaccard pairs via inverted index -- llm.dedup.ngram_jaccard_pairs.

    Declarative contract (r9 VERDICT item 2): ``max_doc_freq`` is
    REQUIRED — without a hot-shingle cap the in-list pair emission is
    quadratic in posting-list length, which on a production corpus is
    an unbounded-shuffle outage, not a default anyone should inherit
    silently. Opting out of the cap must be explicit:
    ``max_doc_freq: null`` (logged as a warning). The Python API
    (``llm.dedup.ngram_jaccard_pairs``) keeps ``None`` as its default
    for oracle-exact small-corpus use."""
    from pyspark_pipeline_framework_spark.llm.dedup import ngram_jaccard_pairs

    if "max_doc_freq" not in params:
        raise ValueError(
            "op dedup_ngram_pairs requires max_doc_freq: the uncapped "
            "inverted index emits O(posting_list^2) pairs per shingle "
            "(boilerplate shingles make this an unbounded shuffle at "
            "corpus scale). Set max_doc_freq: <N> — or opt out "
            "EXPLICITLY with max_doc_freq: null for exact small-corpus "
            "runs."
        )
    if params["max_doc_freq"] is None:
        logger.warning(
            "op dedup_ngram_pairs: max_doc_freq=null — running the "
            "UNCAPPED quadratic inverted index; acceptable only on "
            "small corpora or pre-filtered candidates"
        )
    return catalog.put(output, ngram_jaccard_pairs(catalog.get(input), **params))


@default_registry.register("substring_grams")
def op_substring_grams(
    spark: SparkSession, catalog: Catalog, *, output: str, input: str, **params,
) -> DataFrame:
    """The persistable gram-position store behind incremental
    exact-substring dedup: (id, p, gh) per overlapping min_tokens-gram
    -- llm.dedup.substring_gram_stream. Pass counts_output to also
    emit the mergeable partial-count store (gh, cnt)."""
    from pyspark_pipeline_framework_spark.llm.dedup import (
        substring_count_partials,
        substring_gram_stream,
    )

    counts_output = params.pop("counts_output", None)
    grams = substring_gram_stream(catalog.get(input), **params)
    if counts_output is not None:
        catalog.put(counts_output, substring_count_partials(grams))
    return catalog.put(output, grams)


@default_registry.register("dedup_incremental_spans")
def op_dedup_incremental_spans(
    spark: SparkSession,
    catalog: Catalog,
    *,
    output: str,
    new_grams: str,
    corpus_grams: str,
    corpus_counts: str | None = None,
    prior_spans: str | None = None,
    **params,
) -> DataFrame:
    """Incremental ExactSubstr: spans for the documents the new batch
    touches (new + affected old), computed against the persisted gram
    stores — llm.dedup.incremental_duplicated_spans. With
    ``prior_spans`` set, the updated docs are folded into the prior
    span table (merge_span_tables), yielding the full corpus-current
    span table."""
    from pyspark_pipeline_framework_spark.llm.dedup import (
        incremental_duplicated_spans,
        merge_span_tables,
    )

    upd = incremental_duplicated_spans(
        catalog.get(new_grams),
        catalog.get(corpus_grams),
        catalog.get(corpus_counts) if corpus_counts is not None else None,
        **params,
    )
    if prior_spans is not None:
        upd = merge_span_tables(
            catalog.get(prior_spans), upd,
            id_col=params.get("id_col", "doc_id"),
        )
    return catalog.put(output, upd)


@default_registry.register("ivf_train")
def op_ivf_train(
    spark: SparkSession, catalog: Catalog, *, output: str, input: str, dim: int, **params
) -> DataFrame:
    """Train the IVF coarse quantizer once; persist the (nlist-row)
    centroid table and grow the index forever with ``op: ivf_add``."""
    from pyspark_pipeline_framework_spark.llm.similarity import (
        centroids_to_df,
        drop_corrupt_vectors,
        ivf_train_centroids,
        ivf_train_centroids_exact,
    )

    mode = params.pop("mode", "fast")
    trainer = ivf_train_centroids_exact if mode == "exact" else ivf_train_centroids
    vec_col = params.get("vec_col", "embedding")
    corpus = drop_corrupt_vectors(catalog.get(input), vec_col, dim)
    return catalog.put(output, centroids_to_df(spark, trainer(corpus, dim, **params)))


@default_registry.register("pq_train")
def op_pq_train(
    spark: SparkSession, catalog: Catalog, *, output: str, input: str, dim: int, **params
) -> DataFrame:
    """Train PQ codebooks once (exact-integer Lloyd per subspace);
    persist the (m_sub*ksub)-row codebook table and encode batches
    forever with ``op: pq_encode`` -- llm.pq.pq_train_codebooks_exact."""
    from pyspark_pipeline_framework_spark.llm.pq import (
        codebooks_to_df,
        pq_train_codebooks_exact,
    )
    from pyspark_pipeline_framework_spark.llm.similarity import drop_corrupt_vectors

    vec_col = params.get("vec_col", "embedding")
    corpus = drop_corrupt_vectors(catalog.get(input), vec_col, dim)
    return catalog.put(
        output, codebooks_to_df(spark, pq_train_codebooks_exact(corpus, dim, **params))
    )


@default_registry.register("compact_store")
def op_compact_store(
    spark: SparkSession, catalog: Catalog, *, store: str, out: str,
    output: str | None = None, remove_ids_input: str | None = None, **params,
) -> DataFrame | None:
    """Fold a batch_id-per-micro-batch incremental store (MinHash band
    store, IVF vector store) into one baseline partition at a NEW path
    — the small-files fix; see io.compaction.compact_batch_store.
    Tombstones (``remove_ids``/``remove_id_col``) and retention
    (``min_batch_id``) pass through; ``remove_ids_input`` instead
    resolves the tombstone set from the pipeline CATALOG (an id frame
    computed by an earlier stage — the declarative
    right-to-be-forgotten shape), mutually exclusive with
    ``remove_ids``."""
    from pyspark_pipeline_framework_spark.io.compaction import compact_batch_store

    if remove_ids_input is not None:
        if "remove_ids" in params:
            raise ValueError(
                "compact_store: pass remove_ids (a path/list) OR "
                "remove_ids_input (a catalog name), not both"
            )
        params["remove_ids"] = catalog.get(remove_ids_input)
    df = compact_batch_store(spark, store, out, **params)
    return catalog.put(output, df) if output else None


@default_registry.register("bm25_topk")
def op_bm25_topk(
    spark: SparkSession,
    catalog: Catalog,
    *,
    output: str,
    input: str,
    queries: str,
    **params,
) -> DataFrame:
    """Top-k BM25 keyword search (queries = small catalog frame) --
    llm.retrieval.bm25_topk. Default idf_mode='ln' (classic
    Robertson); 'rational' is the cross-engine-exact variant."""
    from pyspark_pipeline_framework_spark.llm.retrieval import bm25_topk

    params.setdefault("idf_mode", "ln")
    return catalog.put(
        output, bm25_topk(catalog.get(input), catalog.get(queries), **params)
    )


@default_registry.register("tfidf_terms")
def op_tfidf_terms(
    spark: SparkSession, catalog: Catalog, *, output: str, input: str, **params
) -> DataFrame:
    """Top-n characteristic terms per doc -- llm.retrieval.tfidf_topk_terms."""
    from pyspark_pipeline_framework_spark.llm.retrieval import tfidf_topk_terms

    params.setdefault("idf_mode", "ln")
    return catalog.put(output, tfidf_topk_terms(catalog.get(input), **params))


@default_registry.register("stream")
def op_stream(spark: SparkSession, catalog: Catalog, **params) -> None:
    """Config-declared Structured Streaming pipeline (source →
    optional SQL transform over view `stream` → sink); blocks until
    the trigger completes (available_now/once = bounded batch-like
    run). See streaming/config.py."""
    from pyspark_pipeline_framework_spark.streaming.config import run_stream_component

    params.pop("output", None)
    run_stream_component(spark, **params)
    return None
