"""Self-tests of the benchmark's own machinery.

    python3 -m pytest perfbench/ -q
"""

import json
import os
import sys
import threading

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

from measure import (nearest_rank, seed_range, seed_start,  # noqa: E402
                     tail_percentile)
from spans import (Tracer, attribute, covered,  # noqa: E402
                   layer_metric_units, layer_metrics, parse_event_log)


def test_tail_percentile_keeps_ten_samples_beyond():
    assert tail_percentile(100) == 0.90      # p90 has 10 beyond
    assert tail_percentile(1000) == 0.90     # never above the asked p
    assert tail_percentile(50) == 0.80       # p90 would leave 5
    assert tail_percentile(20) == 0.50
    assert tail_percentile(11) == 0.09       # rank 1, ten beyond
    assert tail_percentile(10) is None       # no rank leaves ten
    for n in range(11, 300):
        p = tail_percentile(n)
        rank = nearest_rank(list(range(n)), p) + 1
        assert n - rank >= 10


def test_nearest_rank():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert nearest_rank(xs, 0.5) == 3.0
    assert nearest_rank(xs, 0.9) == 5.0
    assert nearest_rank(xs, 0.01) == 1.0


def test_seed_ranges_are_disjoint():
    from multivac_spark.sources import corpus

    assert seed_start(0) == 0 and seed_start(3) == 3 * 10**7
    a, b = seed_range(0, 10**7), seed_range(1, 10**7)
    assert a.stop == b.start                  # adjacent, never shared
    urls = {s: {corpus.gen_document(i)["url"] for i in seed_range(s, 20)}
            for s in (0, 1, 7)}
    assert not (urls[0] & urls[1]) and not (urls[1] & urls[7])
    with pytest.raises(ValueError):
        seed_range(0, 10**7 + 1)
    with pytest.raises(ValueError):
        seed_start(-1)


def test_covered_merges_and_clips():
    assert covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert covered([(0, 2), (1, 3)], 1.5, 2.5) == 1
    assert covered([(4, 5)], 0, 3) == 0


def test_attribution_by_group_time_and_none():
    spans = [{"id": 0, "name": "op", "parent": None, "start": 0, "end": 10},
             {"id": 1, "name": "x", "parent": 0, "start": 2, "end": 5}]
    items = [{"group": "perfbench-span-0", "submit": 8},
             {"group": "a-streaming-run-id", "submit": 3},
             {"group": "a-streaming-run-id", "submit": 11},
             {"group": None, "submit": 4}]
    by, loose = attribute(spans, items)
    assert by[0] == [items[0]] and by[1] == [items[1]]
    assert loose == [items[2], items[3]]


def test_metric_names_match_benchmark_json():
    import run

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    units = layer_metric_units()
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == units
    assert len(units) <= 128


def test_event_log_two_stage_job_with_shuffle_and_pandas_udf(tmp_path):
    """A traced job (pandas UDF, then a shuffle) lands on its span with
    Python and shuffle metrics; an untagged job stays unattributed."""
    from pyspark.sql import SparkSession, functions as F

    events = tmp_path / "events"
    events.mkdir()
    spark = (SparkSession.builder.master("local[2]")
             .appName("perfbench-selftest")
             .config("spark.ui.enabled", "false")
             .config("spark.sql.shuffle.partitions", "2")
             .config("spark.sql.adaptive.enabled", "false")
             .config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", str(events))
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false")
             .getOrCreate())
    try:
        def passthrough(batches):
            for b in batches:
                yield b

        tr = Tracer(spark.sparkContext)
        tr.run_id = 0
        with tr.span("op", kind="t"):
            with tr.span("work"):
                (spark.range(0, 2000, numPartitions=2)
                 .mapInPandas(passthrough, "id long")
                 .groupBy((F.col("id") % 7).alias("k")).count().collect())
            # a job from a thread the tracer never tagged
            untagged = threading.Thread(
                target=lambda: spark.range(10).count())
            untagged.start()
            untagged.join(timeout=120)
            assert not untagged.is_alive()
        tr.run_id = None
    finally:
        spark.stop()

    (log,) = list(events.iterdir())
    jobs, stages = parse_event_log(str(log))
    by, loose = attribute(tr.spans, stages)
    work = by[1]
    assert len(work) >= 2 and 0 not in by
    py = sum(s["metrics"].get("time to run Python workers", 0) for s in work)
    sent = sum(s["metrics"].get("data sent to Python workers", 0)
               for s in work)
    shuffled = sum(s["metrics"].get(
        "internal.metrics.shuffle.write.bytesWritten", 0) for s in work)
    assert py > 0 and sent > 0 and shuffled > 0
    assert loose and all(s["group"] is None for s in loose)
    assert all(j["group"] == "perfbench-span-1" for j in jobs[:1])

    m = layer_metrics(tr, jobs, stages)
    assert m["spark.unattributed_s"] > 0
    assert 0 <= m["op.self_s"] < tr.spans[0]["end"] - tr.spans[0]["start"]
