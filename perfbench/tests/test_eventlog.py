"""The event-log parser on a small recorded log.

``data/eventlog/trace`` is a traced pass over four keys on the sf0.001
tables at 2 cores, trimmed to the fields the parser reads; ``phases.json``
holds the phase intervals the worker recorded for it. The expected counts
were checked against the log by hand: each key's job groups, its streaming
job, and its stage and task events.
"""

import json
import os

from perfbench.eventlog import Phase, key_layers, layer_metrics, read_events, workload_layers

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def _parsed():
    with open(os.path.join(DATA, "phases.json")) as fh:
        phases = [Phase(**p) for p in json.load(fh)]
    return key_layers(read_events(os.path.join(DATA, "eventlog")), phases)


def test_jobs_stages_and_tasks_are_attributed_to_their_keys():
    per_key, _ = _parsed()
    assert "" not in per_key  # nothing ran outside a phase
    counts = {k: (v["jobs"], v.get("build.jobs", 0), v["stages"], v["tasks"]) for k, v in per_key.items()}
    assert counts == {
        # one build job, one collect job and the micro-batch job, which runs
        # under the query's run id and is placed by its submission time
        "stream_tumbling": (3, 2, 4, 12),
        "sim_topk_cosine": (5, 3, 5, 5),
        "sample_coreset_kcenter": (11, 10, 11, 12),
        "join_multiway_star": (7, 0, 7, 7),
    }


def test_layer_counters():
    per_key, spans = _parsed()
    stream = per_key["stream_tumbling"]
    assert (stream["stream.batches"], stream["stream.batch_ms"], stream["stream.state_rows"]) == (1, 2154, 868)
    assert (stream["write.files"], stream["write.bytes"]) == (8, 22549)
    py = per_key["sim_topk_cosine"]
    assert (py["python.bytes_sent"], py["python.bytes_returned"]) == (287536, 31200)
    star = per_key["join_multiway_star"]
    assert (star["cand.attempted"], star["cand.useful"], star["result.rows"]) == (920, 1, 1)
    assert "cand.attempted" not in per_key["sample_coreset_kcenter"]
    kinds = sorted(kind for kind, *_ in spans["stream_tumbling"])
    assert kinds == ["batch", "job", "job", "job"]


def test_build_self_time_excludes_its_jobs():
    per_key, spans = _parsed()
    for key, raw in per_key.items():
        assert 0 <= raw["build.self_s"] <= raw["build.s"]
    k = per_key["sample_coreset_kcenter"]
    job_s = sum(b - a for kind, phase, a, b in spans["sample_coreset_kcenter"]
                if kind == "job" and phase == "build") / 1000
    assert abs(k["build.self_s"] - (k["build.s"] - job_s)) < 0.01  # its jobs ran one at a time


def test_workload_sums_and_units():
    per_key, _ = _parsed()
    total = workload_layers(per_key)
    assert (total["jobs"], total["stages"], total["tasks"]) == (26, 27, 36)
    assert total["result.rows"] == 977
    assert abs(total["exec.cpu_share"] - total["exec.cpu_s"] / total["exec.run_s"]) < 1e-12
    assert set(total) == set(layer_metrics({}))


def test_benchmark_json_lists_every_reported_metric():
    from perfbench.run import LAYER_UNITS, end_to_end

    with open(os.path.join(DATA, "..", "..", "..", "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == LAYER_UNITS
    assert set(LAYER_UNITS) == set(layer_metrics({})) | {
        "cold_pass_s", "warm_pass_s", "cold_pass_cpu_s", "warm_pass_cpu_s",
        "peak_rss_mb", "session.start_s", "trace.overhead"}
    run = {"cold_pass_cpu_s": 40.0, "warm_passes_cpu_s": [12.0, 11.0], "references_cpu_s": [[1.8], [1.9], [1.7]]}
    reported = {name: m["unit"] for name, m in end_to_end(run, [9.0, 10.0]).items()}
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == reported
