#!/usr/bin/env python
"""Measurement harness next to the frozen bench.py. Prints to stdout;
writes nothing into the repo except ``plans``' plan dumps.

Subcommands:
  plans <suffix>          dump .explain("formatted") for every bench query
                          to plans/r07/<name>_<suffix>.txt
  steps                   per-sub-step timing of the composite bench
                          phases (KG pipeline at sf0.1, curation) with
                          noop sinks
  query <name> [n]        time one registry query n times (noop sink)
  kg --docs N [--cores C] the declared KG pipeline (plans/pipeline.py)
                          over an N-document parquet corpus with every
                          stage point timed and localCheckpointed; one
                          JSON line of per-stage seconds and counts.
                          ``--docs 100000`` is the sf1.0 ladder point.
  scaling [--docs N] [--cores C]
                          ``kg`` at C and 4C cores, each in a fresh
                          process over one parquet corpus; one JSON line
                          with both runs and (T_C / T_4C) / 4. Exits
                          non-zero if the two runs' counts differ.

Cores default to SPARK_GRAFT_CPUS, else the cores this process may use.
"""
from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from multivac_spark.plans.pipeline import STAGE_POINTS, run_pipeline
from multivac_spark.session import get_spark
from multivac_spark.sources import corpus

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS")
           or len(os.sched_getaffinity(0)))
CORPUS_PARTITIONS = 128
COUNTS = ("triples", "sentences", "edges")

BENCH_QUERIES = [
    "relational_forms", "topn_digest", "broadcast_join_agg",
    "window_topk", "distinct_dedup", "degree_centrality",
    "text_signals",
    "minhash_signature", "simhash_dup_pairs", "ngram_jaccard",
    "ann_topk", "embedding_near_dups", "exact_dedup",
    "session_agg", "curation_pipeline", "repeated_spans",
    "quality_classifier", "subword_tokens",
]


def spark_session(cores: int = CPUS):
    spark = get_spark(app_name="bench-extra", master=f"local[{cores}]",
                      shuffle_partitions=str(max(cores, 8)))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def dump_plans(suffix: str):
    spark = spark_session()
    qmap = entrymod.queries()
    for name in BENCH_QUERIES:
        df = qmap[name](spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        with open(f"plans/r07/{name}_{suffix}.txt", "w") as f:
            f.write(plan)
        print("dumped", name)
    spark.stop()


def timed(spark, label, fn):
    spark.sparkContext.setJobDescription(label)
    t0 = time.time()
    out = fn()
    dt = time.time() - t0
    print(f"{label:45s} {dt:7.3f}s")
    spark.sparkContext.setJobDescription(None)
    return out


def checkpoint_timer(spark, timings: dict[str, float]):
    """stage(name, build) hook for run_pipeline: localCheckpoint each
    stage point and record the seconds its build + checkpoint took."""
    def stage(name, build):
        spark.sparkContext.setJobDescription(f"kg:{name}")
        t0 = time.time()
        df = build().localCheckpoint()
        timings[name] = round(time.time() - t0, 3)
        spark.sparkContext.setJobDescription(None)
        return df
    return stage


def corpus_table(spark, n_docs: int, path: str):
    """The documents table at ``path``, generated there first if
    absent: the timed pipeline READS the corpus, as a real run would."""
    if not os.path.exists(path):
        (corpus.documents_df(spark, n_docs, partitions=CORPUS_PARTITIONS)
         .write.mode("overwrite").parquet(path))
    return spark.read.parquet(path)


def kg_tables(spark, docs, emb, timings: dict[str, float]):
    """Warm the Python workers on a 200-doc slice, then run the KG
    pipeline with every stage point timed, touched in dependency order
    so each stage's seconds are its own."""
    small = run_pipeline(spark, docs.limit(200).localCheckpoint(), emb)
    noop(small["triples"])
    noop(small["sentences"])
    tables = run_pipeline(spark, docs, emb,
                          stage=checkpoint_timer(spark, timings))
    for name in STAGE_POINTS:
        tables[name]
    return tables


def kg(n_docs: int, cores: int, corpus_path: str | None) -> dict:
    spark = spark_session(cores)
    with tempfile.TemporaryDirectory(prefix="bx_kg_") as tmp:
        t0 = time.time()
        docs = corpus_table(spark, n_docs,
                            corpus_path or os.path.join(tmp, "documents"))
        corpus_s = round(time.time() - t0, 3)
        timings: dict[str, float] = {}
        tables = kg_tables(spark, docs, corpus.embeddings_df(spark),
                           timings)
        out = {"docs": n_docs, "cores": cores, "corpus_s": corpus_s,
               "stages_s": timings,
               "kg_s": round(sum(timings.values()), 3),
               **{k: tables[k].count() for k in COUNTS}}
    spark.stop()
    out["triples_per_s"] = round(out["triples"] / out["kg_s"], 2)
    return out


def scaling(n_docs: int, cores: int) -> int:
    """Same corpus, fresh JVM per parallelism level, so neither run
    inherits the other's warmed state."""
    with tempfile.TemporaryDirectory(prefix="bx_scaling_") as tmp:
        path = os.path.join(tmp, "documents")
        runs = []
        for c in (cores, 4 * cores):
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "kg",
                 "--docs", str(n_docs), "--cores", str(c),
                 "--corpus", path],
                capture_output=True, text=True)
            lines = [ln for ln in proc.stdout.splitlines()
                     if ln.startswith("{")]
            if proc.returncode or not lines:
                sys.stderr.write(proc.stderr[-2000:])
                return 1
            runs.append(json.loads(lines[-1]))
    n, n4 = runs
    same = all(n[k] == n4[k] for k in COUNTS)
    print(json.dumps({
        f"local{cores}": n, f"local{4 * cores}": n4,
        "scaling_efficiency": round(n["kg_s"] / n4["kg_s"] / 4, 3),
        "counts_match": same}))
    return 0 if same else 1


def steps():
    spark = spark_session()
    with tempfile.TemporaryDirectory(prefix="bx_docs_") as tmp:
        docs = timed(spark, "corpus gen+write", lambda: corpus_table(
            spark, corpus.n_docs_for_sf(0.1), f"{tmp}/documents"))
        timings: dict[str, float] = {}
        kg_tables(spark, docs, corpus.embeddings_df(spark), timings)
        for name, sec in timings.items():
            print(f"{'kg: ' + name + '+ckpt':45s} {sec:7.3f}s")
        curation_and_heavies(spark)
    spark.stop()


def curation_and_heavies(spark):
    # ---- curation pipeline sub-steps ----
    from multivac_spark.operators import dedup, textops
    ddocs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    kept = textops.filter_blocklist(ddocs, ["src1", "src3"],
                                    key=F.col("source"))
    capped = textops.cap_per_domain(kept, 10, key=F.col("source"))
    lm = timed(spark, "cur: train_bigram_lm", lambda:
               textops.train_bigram_lm(
                   capped.filter(F.col("doc_id") % 2 == 0)))
    scored = timed(spark, "cur: lm_score+ckpt", lambda:
                   textops.lm_score(capped, lm)
                   .select("doc_id", "lm_score_e4").localCheckpoint())
    quality = (capped.join(scored, "doc_id")
               .withColumn("dup3_e4",
                           textops.dup_ngram_fraction(F.col("text"), 3)))
    survivors = timed(spark, "cur: survivors+ckpt", lambda:
                      quality.filter((F.col("lm_score_e4") >= -34500)
                                     & (F.col("dup3_e4") < 500))
                      .localCheckpoint())
    pairs = timed(spark, "cur: minhash_dup_pairs(def)", lambda:
                  dedup.minhash_dup_pairs(survivors, bands=4, rows=2))
    timed(spark, "cur: anti-join+noop", lambda: noop(
        survivors.join(pairs.select(F.col("b").alias("doc_id")).distinct(),
                       "doc_id", "left_anti")
        .select("doc_id", F.col("source").alias("domain"),
                "lm_score_e4", "dup3_e4")))

    # ---- other heavies, isolated ----
    qmap = entrymod.queries()
    for name in ["repeated_spans", "simhash_dup_pairs",
                 "embedding_near_dups", "degree_centrality",
                 "text_signals", "minhash_signature"]:
        timed(spark, f"q:{name}", lambda n=name: noop(qmap[n](spark, SF_DIR)))


def one_query(name: str, n: int = 3):
    spark = spark_session()
    qmap = entrymod.queries()
    for i in range(n):
        timed(spark, f"{name}#{i}", lambda: noop(qmap[name](spark, SF_DIR)))
    spark.stop()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="mode", required=True)
    sub.add_parser("plans").add_argument("suffix")
    sub.add_parser("steps")
    q = sub.add_parser("query")
    q.add_argument("name")
    q.add_argument("n", nargs="?", type=int, default=3)
    k = sub.add_parser("kg")
    k.add_argument("--docs", type=int, required=True)
    k.add_argument("--cores", type=int, default=CPUS)
    k.add_argument("--corpus", help="documents parquet: read if present, "
                   "else generated there (shared by scaling's runs)")
    s = sub.add_parser("scaling")
    s.add_argument("--docs", type=int, default=6000)
    s.add_argument("--cores", type=int, default=max(1, CPUS // 4))
    a = ap.parse_args()
    if a.mode == "plans":
        dump_plans(a.suffix)
    elif a.mode == "steps":
        steps()
    elif a.mode == "query":
        one_query(a.name, a.n)
    elif a.mode == "kg":
        print(json.dumps(kg(a.docs, a.cores, a.corpus)))
    elif a.mode == "scaling":
        return scaling(a.docs, a.cores)
    return 0


if __name__ == "__main__":
    sys.exit(main())
