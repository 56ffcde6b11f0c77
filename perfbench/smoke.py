"""Smoke tests of the benchmark itself: generators, metric names, and every
workload at its smoke size, untraced and traced, on one Spark session.

    python3 -m pytest perfbench/smoke.py -q

The file name keeps these tests out of a bare ``pytest`` run from the
repository root; they run only when named.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
    BENCHMARK = json.load(f)


def test_metric_names_match_benchmark_json():
    declared = [(m["name"], m["unit"], m["better"]) for m in BENCHMARK["per_layer"]]
    assert declared == spans.per_layer_names()
    assert len(declared) <= 128
    assert [w["name"] for w in BENCHMARK["workloads"]] == list(workloads.WORKLOADS)


def test_generators_are_seeded():
    a = gen.wide_vocabulary(3, 500)
    assert a == gen.wide_vocabulary(3, 500)
    assert a != gen.wide_vocabulary(4, 500)
    lex, truth = gen.wide_lexicon(3, a, 90)
    assert len({frozenset(r[1].split()) for r in a}) == len(a)
    assert sorted(k for k, _ in truth.values()) == ["exact"] * 30 + ["reordered"] * 30 + ["typo"] * 30
    forms = [e["mention_text"] for e in lex]
    turns = gen.wide_transcripts(3, forms, 100)
    assert turns == gen.wide_transcripts(3, forms, 100)
    assert all(any(f in t[3] for t in turns) for f in forms)


def test_fold_batches_bring_withheld_forms():
    forms = [f"form {i}" for i in range(20)]
    base, withheld = gen.fold_split(5, forms, 4, set(forms[:15]))
    assert not set(base) & set(withheld) and forms[:gen.HOT_FORMS] == base[:gen.HOT_FORMS]
    news = [gen.fold_batch(5, base, withheld, b, 100 + 10 * b, 5)[1] for b in range(8)]
    assert news == [[withheld[0]], [], [withheld[1]], [], [withheld[2]], [], [withheld[3]], []]
    # an operation folds batches 2k+1, 2k+2: the second brings a new form
    cycles = [news[b:b + gen.NEW_FORM_EVERY] for b in (1, 3, 5)]
    assert [[len(n) for n in c] for c in cycles] == [[0, 1]] * 3


@pytest.fixture(scope="module")
def session(tmp_path_factory):
    # start_spark points the process's environment at its scratch
    # directory; the session is stopped but the JVM gateway is left up, so
    # a later session in the same process can still start
    env, path = dict(os.environ), list(sys.path)
    work = str(tmp_path_factory.mktemp("perfbench"))
    spark = run.start_spark(work)
    yield spark, work
    spark.stop()
    os.environ.clear()
    os.environ.update(env)
    sys.path[:] = path


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", list(workloads.WORKLOADS))
def test_smoke_run(session, workload, trace):
    spark, root = session
    work = os.path.join(root, f"{workload}-{trace}")
    os.makedirs(work)
    with spans.RssSampler() as rss:
        result = run.run(spark, workload, 7, 1.0, bool(trace), "smoke", work, 0.0, rss)
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    section = "per_layer" if trace else "end_to_end"
    assert list(result["metrics"]) == [m["name"] for m in BENCHMARK[section]]
    assert all(isinstance(v["value"], float) for v in result["metrics"].values())
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
    else:
        m = {k: v["value"] for k, v in result["metrics"].items()}
        assert m["op.jobs"] > 0
        top = spans.STAGE_SPANS[:4] if workload == "build_wide" else ["runner.run_incremental"]
        assert 0 < sum(m[f"{s}.wall_s"] for s in top) <= m["op.wall_s"]
        if workload == "build_wide":
            assert m["knn.link_mentions_file_index.rows_out"] > 0
            assert all(m[f"ops.{q}.jobs"] > 0 for q in spans.OP_QUERIES)
        else:
            assert m["fold.jobs_per_fold"] > 0 and m["catalog.commit.jobs"] > 0
