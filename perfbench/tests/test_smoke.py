"""Tiny-scale run of every workload, traced, with all of its checks."""

import os
import shutil
import uuid

import pytest

from perfbench import metrics, run
from perfbench.spans import Tracer
from perfbench.workloads import CurateDeliver, Migrate


@pytest.fixture(scope="module")
def traced_spark():
    work = os.path.join(run.ROOT, ".perfbench", "test-" + uuid.uuid4().hex[:8])
    run.configure_env(work)
    events = os.path.join(work, "eventlog")
    os.makedirs(events)
    from mriya_spark.session import get_spark

    spark = get_spark(app_name="perfbench-smoke", extra_conf=run.spark_conf(work, events))
    yield spark, work, events
    spark.stop()
    shutil.rmtree(work, ignore_errors=True)


def test_tiny_workloads_pass_checks_and_attribute_spans(traced_spark):
    spark, work, events = traced_spark
    runs = []
    for wl, seed in ((Migrate(n_rows=300), 5),
                     (CurateDeliver(n_docs=300, n_stream_docs=400, stream_files=4), 6)):
        inputs = wl.prepare(seed, os.path.join(work, wl.name, "in"))
        tracer = Tracer(True, spark.sparkContext)
        outcomes = [wl.run(spark, inputs, os.path.join(work, wl.name, f"out{i}"), tracer)
                    for i in range(2)]
        runs.append((wl, tracer, outcomes))
        for o in outcomes:
            assert o.checks and all(o.checks.values()), o.checks
        assert outcomes[0].fingerprint == outcomes[1].fingerprint
    (mig, _, mo), (cur, _, co) = runs
    assert all(o.failed == 0 and o.items == 300 for o in mo)
    assert mo[0].counts["connector.write_rows"] == 600
    # the only failures a delivery may show are keys delivered twice
    for o in co:
        assert o.counts["streaming.delivered_rows"] >= 400
        assert o.counts["streaming.delivered_rows"] - 400 == o.failed
        assert o.counts["curation.docs_kept"] < 300
    app_id = spark.sparkContext.applicationId
    spark.stop()
    log = os.path.join(events, app_id)
    for wl, tracer, outcomes in runs:
        values = run._per_layer(tracer, log, outcomes, [1.0, 1.0], 0.5)
        assert set(values) == {n for n, _, _ in metrics.per_layer()}
        assert values["iteration.jobs"] > 0 and values["iteration.tasks"] > 0
        assert 0 <= values["iteration.driver_gap_s"] <= values["iteration_s"]
        assert values["iteration.self_s"] <= values["iteration_s"]
        if wl.name == "migrate":
            assert values["connector.write.jobs"] >= 1
            assert values["mapping.backfill.jobs"] >= 1
            assert values["streaming.drain_s"] == 0
        else:
            assert values["text.bpe_train.jobs"] >= 1
            assert values["streaming.drain.jobs"] >= values["streaming.batches"] == 2
            assert values["connector.write_s"] == 0
