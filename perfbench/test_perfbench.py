"""Self-tests of the benchmark's own parts; no Spark session needed.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import time

import pandas as pd
import pytest

from perfbench import checks, eventlog, gen, layers, probes

HERE = os.path.dirname(os.path.abspath(__file__))


@pytest.mark.parametrize(
    "make",
    [
        lambda s: gen.web_pages(s, 300),
        lambda s: gen.documents(s, 300),
        lambda s: gen.embeddings(s, 100),
    ],
)
def test_generator_is_deterministic_per_seed(make):
    a, b, c = make(7), make(7), make(8)
    pd.testing.assert_frame_equal(a, b)
    assert not a.equals(c)


def _truth_clusters(pages: pd.DataFrame) -> pd.DataFrame:
    """The planted answer: each family is one cluster labelled by its min url."""
    return pd.DataFrame({"url": pages["url"], "cluster_id": pages.groupby("family")["url"].transform("min")})


@pytest.fixture(scope="module")
def pages():
    return gen.web_pages(3, 400)


def test_checker_accepts_the_planted_clusters(pages):
    assert checks.check_clusters(_truth_clusters(pages), pages) == []


def test_checker_rejects_corrupted_cluster_tables(pages):
    good = _truth_clusters(pages)
    fam = pages[pages.groupby("family")["url"].transform("size") > 2].sort_values("url")
    first = fam[fam["family"] == fam["family"].iloc[0]]

    not_min = good.copy()  # a whole cluster labelled by its second member
    not_min.loc[not_min["url"].isin(first["url"]), "cluster_id"] = first["url"].iloc[1]
    dropped = good.iloc[1:]
    doubled = pd.concat([good, good.iloc[:1]])
    dup_text = pages[pages.duplicated("text", keep="first")].iloc[0]
    split = good.copy()  # one exact copy moved to a cluster of its own
    split.loc[split["url"] == dup_text["url"], "cluster_id"] = dup_text["url"]
    for bad in (not_min, dropped, doubled, split):
        assert checks.check_clusters(bad, pages), bad
    assert checks.same_labels(not_min, good, "url", "truth")


def test_checker_rejects_low_family_recall(pages):
    low = pages.assign(cluster_id=pages["url"])[["url", "cluster_id"]]
    errs = checks.check_clusters(low, pages)
    assert any("recall" in e for e in errs)


def test_oracle_reference_keeps_identical_texts_with_empty_sketches_together():
    from jam_spark.params import SketchParams

    from perfbench.workloads import oracle_clusters

    short = "too short to shingle"  # fewer tokens than k: empty sketch
    pages = pd.DataFrame({"url": ["c", "a", "b"], "text": [short, short, "another short text"]})
    got = oracle_clusters(pages, SketchParams())
    assert dict(zip(got["url"], got["cluster_id"])) == {"a": "a", "b": "b", "c": "a"}


def test_refinement_check_rejects_a_merge_and_reports_recall(pages):
    good = _truth_clusters(pages)
    assert checks.refines(good, good, "url", "truth") == ([], 1.0)
    singletons = good.assign(cluster_id=good["url"])
    errs, recall = checks.refines(singletons, good, "url", "truth")
    assert errs == [] and recall == 0.0
    errs, _ = checks.refines(good.assign(cluster_id=good["url"].min()), good, "url", "truth")
    assert errs


def test_cpu_and_rss_probes_return_positive_values():
    before = probes.tree_cpu_seconds()
    t = time.process_time()
    while time.process_time() - t < 0.2:
        sum(range(10_000))
    after = probes.tree_cpu_seconds()
    assert after > before > 0
    probes.reset_peak_rss()
    assert probes.peak_rss_mb() > 0


def test_eventlog_parser_on_fixture():
    costs = eventlog.parse(os.path.join(HERE, "fixtures", "tiny_eventlog.jsonl"))
    # the two undescribed jobs at the end of the log are left out
    assert set(costs) == {"layer.a@0", "layer.b@0"}
    a, b = costs["layer.a@0"], costs["layer.b@0"]
    assert (a.jobs, a.stages, a.tasks) == (4, 4, 13)
    assert (b.jobs, b.stages, b.tasks) == (2, 2, 5)
    assert a.cpu_s == pytest.approx(0.54956, abs=1e-5)
    assert a.shuffle_write_mb * 1024 * 1024 == pytest.approx(1154)
    # layer.b ran a Python UDF: its run time is mostly outside JVM CPU
    assert b.udf_s > 10 * b.cpu_s
    assert 0 < a.job_wall_s < 2 and a.task_skew >= 1


def test_benchmark_json_lists_the_reported_metrics():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == layers.metric_specs()
    from perfbench import run, workloads

    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END_UNITS
    assert [w["name"] for w in bench["workloads"]] == list(workloads.WORKLOADS)


def test_tracer_gives_nested_calls_their_own_span_and_restores_bindings(monkeypatch):
    import sys
    import types

    from perfbench.tracer import Target, Tracer

    mod = types.ModuleType("fake_layers")

    def inner(x):
        time.sleep(0.02)
        return x

    def outer(x):
        return mod.inner(x) + 1

    mod.inner, mod.outer = inner, outer
    monkeypatch.setitem(sys.modules, "fake_layers", mod)
    descriptions = []
    sc = types.SimpleNamespace(setJobDescription=descriptions.append)
    tracer = Tracer(types.SimpleNamespace(sparkContext=sc))
    with tracer.installed([Target("fake_layers", "outer", "a.outer"), Target("fake_layers", "inner", "b.inner")]):
        assert mod.outer(1) == 2 and tracer.spans == []  # disabled: no spans
        tracer.enabled = True
        assert mod.outer(1) == 2
    assert (mod.outer, mod.inner) == (outer, inner)
    assert [(s.name, s.parent) for s in tracer.spans] == [("a.outer", None), ("b.inner", 0)]
    assert descriptions == ["a.outer#0", "b.inner#1", "a.outer#0", None]
    outer_span = tracer.spans[0]
    assert 0 <= tracer.self_seconds(0) < (outer_span.end - outer_span.start) - 0.015
