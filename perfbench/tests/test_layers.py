import json
from types import SimpleNamespace

import pytest

from layers import PER_LAYER, per_layer_metrics
from tracing import Tracer


class FakeContext:
    def setJobGroup(self, group, description):
        pass

    def setLocalProperty(self, key, value):
        pass


def test_per_layer_metrics_from_spans_and_event_log(tmp_path):
    tr = Tracer(FakeContext())
    with tr.span("encode", 1) as enc:
        enc.counts.update(edges_in=100, triples_out=80)
    with tr.span("fixpoint", 1) as fix:
        fix.counts.update(rounds=4, new_facts=30)
    log = tmp_path / "events"
    log.write_text(
        "\n".join(
            json.dumps({"Event": "SparkListenerJobStart", "Job ID": j, "Stage IDs": [j],
                        "Properties": {"spark.jobGroup.id": g}})
            for j, g in enumerate([enc.group, fix.group, fix.group, fix.group, fix.group])
        )
    )
    loop = SimpleNamespace(
        times=[2.0, 1.0], traced_times=[1.7], traced_ops=[1],
        cache_mb=3.5, rdds_held=2, steal=[1, 100],
    )
    process = {"gc_s": 0.5, "live_heap_mb": 90.0, "peak_rss_mb": 900.0}
    m = per_layer_metrics(tr, str(log), loop, process)
    assert list(m) == list(PER_LAYER)
    v = {k: x["value"] for k, x in m.items()}
    assert v["encode.keep_ratio"] == pytest.approx(0.8)
    assert (v["encode.jobs"], v["fixpoint.jobs"], v["fixpoint.rounds"]) == (1, 4, 4)
    assert v["fixpoint.jobs_per_round"] == 1
    assert v["fixpoint.round_s"] == pytest.approx(fix.seconds / 4)
    assert v["query.jobs_per_query"] == 0 and v["ingest.batch_s"] == 0  # layers not called
    assert v["trace.overhead_s"] == pytest.approx(0.2)
    assert v["trace.layers_busy_s"] == pytest.approx(enc.seconds + fix.seconds)
    assert v["process.steal_share"] == pytest.approx(0.01)
    assert v["caches.cache_mb"] == 3.5
