"""End-to-end pipeline + resume invariant (FIXTURES.md #4): a rerun with
the same run_id reproduces identical tables without recomputing, and no
duplicate lineage rows appear for completed stages."""

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from multivac_spark.plans.pipeline import (STAGE_POINTS, PipelineConfig,
                                           run_materialized, run_pipeline)
from multivac_spark.sources import corpus


@pytest.fixture(scope="module")
def out_dir():
    with tempfile.TemporaryDirectory() as d:
        yield d


@pytest.fixture(scope="module")
def first_run(spark, out_dir):
    docs = corpus.documents_df(spark, 120, partitions=4)
    emb = corpus.embeddings_df(spark)
    cfg = PipelineConfig(top_n_ent=2000, top_n_rel=50)
    return run_materialized(spark, docs, emb, out_dir, "runA", cfg), cfg


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_pipeline_end_to_end(spark, first_run):
    tables, _ = first_run
    n_triples = tables["triples"].count()
    n_final = tables["final_triples"].count()
    n_edges = tables["edges"].count()
    assert n_triples > 100
    assert 0 < n_final <= n_triples
    assert n_edges == n_final
    # every edge id resolves
    ents = tables["entities"]
    assert (tables["edges"]
            .join(ents, F.col("head_id") == F.col("entity_id"), "left_anti")
            .count()) == 0
    # canonicalization actually merged variant mentions
    n_mentions = tables["entity_clusters"].count()
    n_clusters = tables["entity_clusters"].select("label").distinct().count()
    assert n_clusters < n_mentions


def test_every_stage_point_written(out_dir, first_run):
    for name in STAGE_POINTS:
        assert os.path.exists(os.path.join(out_dir, name, "_SUCCESS")), name
    # edges land in the bucketed layout (plans/tables.bucket_edges)
    assert any(p.startswith("rel_bucket=")
               for p in os.listdir(os.path.join(out_dir, "edges")))


def test_resume_reproduces_identical_tables(spark, out_dir, first_run):
    tables, cfg = first_run
    before = {k: _rows(tables[k])
              for k in ("triples", "final_triples", "edges", "entities")}

    # resume: same run_id; documents arg is a *poisoned* DataFrame that
    # would fail if any stage recomputed from scratch
    poison = spark.createDataFrame([], corpus.DOCUMENTS_SCHEMA)
    emb = corpus.embeddings_df(spark)
    resumed = run_materialized(spark, poison, emb, out_dir, "runA", cfg)
    after = {k: _rows(resumed[k])
             for k in ("triples", "final_triples", "edges", "entities")}
    assert before == after


def test_no_duplicate_lineage_markers(spark, out_dir, first_run):
    m = spark.read.parquet(f"{out_dir}/_lineage")
    dup = (m.filter("complete").groupBy("run_id", "stage")
           .count().filter("count > 1").count())
    assert dup == 0


def test_crash_retry_converges(spark):
    """Crash between parquet write and marker append, then retry: the
    retry's full manifest set must validate against its OWN marker
    (latest attempt), not the union of both attempts' rows — resume
    must report complete and stop recomputing (VERDICT r1 'what's
    wrong' — lineage self-defeat)."""
    from multivac_spark.plans import lineage

    df = spark.range(100).withColumnRenamed("id", "k")
    with tempfile.TemporaryDirectory() as d:
        # attempt 1: simulate crash AFTER partition stats were appended
        # but BEFORE the marker row — write the stats slice by hand.
        import time as _t
        out = f"{d}/stg"
        df.write.mode("overwrite").parquet(out)
        back = spark.read.parquet(out)
        stats = (lineage.partition_stats(back)
                 .select(F.lit("r").alias("run_id"),
                         F.lit("stg").alias("stage"),
                         F.lit(_t.time_ns()).alias("attempt_id"),
                         "partition_id", "row_count",
                         F.lit(False).alias("complete"),
                         F.lit(0).alias("wall_ms")))
        stats.write.mode("append").parquet(f"{d}/_lineage")
        # crashed attempt alone: NOT complete (no marker for newest)
        assert not lineage.stage_complete(spark, d, "r", "stg")

        # attempt 2: full retry through the real API
        calls = []
        lineage.run_or_resume(spark, d, "r", "stg",
                              lambda: (calls.append(1), df)[1])
        assert calls == [1]
        # the manifest now holds both attempts' rows; completeness must
        # hold (latest attempt validates against its own marker)...
        assert lineage.stage_complete(spark, d, "r", "stg")
        # ...so a third run resumes without recomputing
        calls2 = []
        got = lineage.run_or_resume(spark, d, "r", "stg",
                                    lambda: (calls2.append(1), df)[1])
        assert calls2 == []
        assert got.count() == 100


def test_staged_run_honours_config(spark, first_run, tmp_path):
    """The resumable stager runs the same declared chain as the lazy
    one, so a non-default config reaches the materialized tables too
    (expand_mentions was once dropped on the staged path)."""
    tables, base_cfg = first_run
    docs = corpus.documents_df(spark, 120, partitions=4)
    emb = corpus.embeddings_df(spark)
    cfg = PipelineConfig(top_n_ent=base_cfg.top_n_ent,
                         top_n_rel=base_cfg.top_n_rel,
                         expand_mentions="chunks")
    lazy = _rows(run_pipeline(spark, docs, emb, cfg)["final_triples"])
    # the config changes the output, so equality below is not vacuous
    assert lazy != _rows(tables["final_triples"])
    staged = run_materialized(spark, docs, emb, str(tmp_path), "runC", cfg)
    assert _rows(staged["final_triples"]) == lazy
