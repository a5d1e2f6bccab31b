"""End-to-end KG-construction pipeline.

The Spark analog of the reference's ``build_graph.py:10-38`` run:
extract_raw_tuples → preprocess_raw_tuples → cluster_entities →
output_to_openke (SURVEY.md §3.1), declared as one lazy DataFrame DAG so
Catalyst sees the whole plan (filter pushdown through the UDF stages'
column pruning, broadcast joins for every dictionary-sized side).

The chain is declared once, in ``run_pipeline``. How its stage points
are materialized is the caller's choice of ``stage`` hook, not a
separate plan: lazy (the default), lineage parquet with resume
(``run_materialized``), or any other ``stage(name, build)`` function
such as a timed ``localCheckpoint``.
"""

from __future__ import annotations

from collections.abc import Mapping
from dataclasses import dataclass
from functools import cache
from typing import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.clean import clean_text_stage
from ..functions.fused import fused_extract_stage
from ..functions.html_text import extract_text_stage
from ..functions.normalize import normalize_triples
from ..functions.parse import parse_stage
from ..functions.svo import extract_triples_stage
from ..operators import canon, materialize
from ..sources import vocab
from . import lineage

# The tables a stager materializes, in dependency order: touching them
# in this order builds each one exactly once, upstream first.
STAGE_POINTS = ("sentences", "triples", "unique_entities",
                "entity_clusters", "final_triples", "entities",
                "relations", "edges", "type_constraints")

# stage(name, build) → the DataFrame downstream tables read for `name`
Stager = Callable[[str, Callable[[], DataFrame]], DataFrame]


@dataclass
class PipelineConfig:
    top_n_ent: int | None = materialize.TOP_N_ENT
    top_n_rel: int | None = materialize.TOP_N_REL
    clust_dist_threshold: float = canon.DEFAULT_THRESHOLD
    char_limit: int = canon.CHAR_LIMIT
    lang_filter: str | None = "en"
    # optional coref resolution, off by default like the reference
    # (coref_opt=False, rdf_graph.py:24)
    coref: bool = False
    # optional relation clustering, off by default like the reference
    # (cluster_relations flag, rdf_extract.py:102-104,119-122)
    cluster_relations: bool = False
    # which extraction path: 'rdf_parse' = the Phase-I substitute_rdfs
    # twin (fused, default); 'textacy' = the Phase-II RDFExtractor twin
    # (rdf_extract.py:767-833, functions/svo_textacy.py)
    extractor: str = "rdf_parse"
    # optional expand_rdfs mention widening (rdf_parse.py:214-226 —
    # declared in the reference but never called, so off by default):
    # 'ner' = rule-NER entitymentions twin, 'chunks' = NP-chunk
    # inventory. Rides the fused pass (staged when combined with coref).
    expand_mentions: str | None = None
    # RegexNER-style gazetteer (term → label) for expand_mentions='ner'
    gazetteer: dict | None = None


def default_lexicons() -> tuple[dict[str, str], dict[str, str]]:
    lex = vocab.pos_lexicon()
    lemmas = dict(vocab.verb_lemma_table())
    for concept, variants in vocab.noun_variants().items():
        for v in variants:
            lemmas.setdefault(v, concept)
    return lex, lemmas


def _lazy(name: str, build: Callable[[], DataFrame]) -> DataFrame:
    return build()


class LazyTables(Mapping):
    """Mapping of table name → DataFrame where each value is built (and
    memoized) on FIRST ACCESS; stage points are built through ``stage``.
    Constructing the mapping schedules zero Spark jobs — the clustering
    stages (which are eager by design: bounded dictionary collect +
    union-find, canon.py) only run when a caller touches a
    clustering-dependent table. Job-count-listener pinned in
    tests/test_query_mapping.py."""

    def __init__(self, thunks: dict[str, Callable[[], DataFrame]],
                 stage: Stager):
        self._thunks = thunks
        self._stage = stage
        self._cache: dict[str, DataFrame] = {}

    def __getitem__(self, key: str) -> DataFrame:
        if key not in self._cache:
            build = self._thunks[key]
            self._cache[key] = (self._stage(key, build)
                                if key in STAGE_POINTS else build())
        return self._cache[key]

    def __iter__(self) -> Iterator[str]:
        return iter(self._thunks)

    def __len__(self) -> int:
        return len(self._thunks)


def run_pipeline(spark: SparkSession,
                 documents: DataFrame,
                 embeddings: DataFrame,
                 cfg: PipelineConfig | None = None,
                 stage: Stager | None = None) -> Mapping[str, DataFrame]:
    """documents(url, warc_ts, html, text, lang) + embeddings(token,
    vector) → all intermediate and final tables, lazily: building the
    mapping runs no job; extraction-side tables are plain lazy
    DataFrames; canonicalization-side tables materialize on first
    access (their clustering kernel is a deliberate bounded-dictionary
    driver pass, canon.cluster_entities).

    Each of ``STAGE_POINTS`` is built as ``stage(name, build)``, and
    every table reads its inputs back through the mapping, so what
    ``stage`` returns is what downstream consumes (a lineage stager's
    re-read parquet, a checkpoint). ``None`` is the lazy identity."""
    cfg = cfg or PipelineConfig()
    lex, lemmas = default_lexicons()
    lexset = frozenset(lex)

    def extracted() -> DataFrame:
        out = extract_text_stage(documents)
        if cfg.lang_filter:
            out = out.filter(F.col("lang") == cfg.lang_filter)
        return out

    def cleaned() -> DataFrame:
        out = clean_text_stage(t["extracted"], lexset)
        if cfg.coref:
            # coref rewrites feed the staged path; the fused path below
            # is only taken when coref is off (the default, as in the
            # reference)
            from ..functions.coref import resolve_coref_stage
            out = resolve_coref_stage(out, lex, lemmas)
        return out

    def sentences() -> DataFrame:
        # a *product* table; without coref it comes from the single-
        # Arrow-pass fused stage (extract+clean+parse in one crossing);
        # with coref the staged path is required because the resolver
        # rewrites the cleaned text. Parity of the two paths is
        # pytest-pinned.
        if cfg.coref:
            return parse_stage(t["cleaned"], lex, lemmas)
        from ..functions.parse import fused_sentences_stage
        return fused_sentences_stage(documents, lex, lemmas,
                                     cfg.lang_filter)

    def raw_triples() -> DataFrame:
        if cfg.extractor == "textacy":
            from ..functions.svo_textacy import extract_triples_textacy_stage
            return extract_triples_textacy_stage(t["sentences"])
        if cfg.coref:
            return extract_triples_stage(
                t["sentences"], mention_source=cfg.expand_mentions,
                gazetteer=cfg.gazetteer)
        # expand_mentions rides the fused pass — no extra Arrow crossing
        return fused_extract_stage(
            documents, lex, lemmas, cfg.lang_filter,
            mention_source=cfg.expand_mentions, gazetteer=cfg.gazetteer)

    def clusters() -> DataFrame:
        return canon.cluster_entities(
            t["unique_entities"].select("mention"), embeddings,
            threshold=cfg.clust_dist_threshold, char_limit=cfg.char_limit)

    def canon_inputs() -> tuple[DataFrame, DataFrame]:
        """(triples_for_canon, uniq_rels_final)."""
        if not cfg.cluster_relations:
            return t["triples"], t["unique_relations"]
        # same machinery over predicates (rdf_extract.py:119-122); the
        # substitution maps each pred to its cluster representative
        rel_clusters = canon.cluster_entities(
            t["unique_relations"].select(F.col("pred").alias("mention")),
            embeddings,
            threshold=cfg.clust_dist_threshold, char_limit=cfg.char_limit)
        pred_map = F.broadcast(rel_clusters.select(
            F.col("mention").alias("pred"), F.col("rep").alias("pred_rep")))
        mapped = (t["triples"].join(pred_map, "pred", "left")
                  .withColumn("pred", F.coalesce("pred_rep", "pred"))
                  .drop("pred_rep"))
        # re-apply the top-N truncation on the clustered predicates: the
        # reference still restricts to the top-relation list *after*
        # clustering (rdf_extract.py:119-122 → rdf_graph top-N), so the
        # coalesce above must not let unmapped preds bypass the cut.
        return mapped, materialize.top_relations(mapped, cfg.top_n_rel)

    def final_triples() -> DataFrame:
        triples_for_canon, uniq_rels_final = canon_inputs()
        return canon.canonicalize_triples(
            triples_for_canon.select("subj", "pred", "obj"),
            t["entity_clusters"], uniq_rels_final)

    @cache
    def graph() -> dict[str, DataFrame]:
        return materialize.build_graph_tables(t["final_triples"])

    t = LazyTables({
        "extracted": extracted,
        "cleaned": cleaned,
        "sentences": sentences,
        "raw_triples": raw_triples,
        "triples": lambda: normalize_triples(
            t["raw_triples"], vocab.verb_lemma_table(), lex),
        "unique_entities": lambda: materialize.top_entities(
            t["triples"], cfg.top_n_ent),
        "unique_relations": lambda: materialize.top_relations(
            t["triples"], cfg.top_n_rel),
        "entity_clusters": clusters,
        "final_triples": final_triples,
        "entities": lambda: graph()["entities"],
        "relations": lambda: graph()["relations"],
        "edges": lambda: graph()["edges"],
        "type_constraints": lambda: materialize.type_constraints(
            t["edges"]),
    }, stage or _lazy)
    return t


def run_materialized(spark: SparkSession,
                     documents: DataFrame,
                     embeddings: DataFrame,
                     out_dir: str,
                     run_id: str = "run0",
                     cfg: PipelineConfig | None = None
                     ) -> Mapping[str, DataFrame]:
    """``run_pipeline`` under ``lineage.stager``: every stage point is
    written as parquet + lineage manifest before this returns, and a
    rerun with the same (out_dir, run_id) re-reads completed stages
    instead of recomputing them (FIXTURES.md invariant #4). The
    ``spark-submit --py-files`` job entry (plans/packaging.py)."""
    t = run_pipeline(spark, documents, embeddings, cfg,
                     lineage.stager(spark, out_dir, run_id))
    for name in STAGE_POINTS:
        t[name]
    return t
