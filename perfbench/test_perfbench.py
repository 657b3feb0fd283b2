"""Self-test of the benchmark: generators, output checks, span bookkeeping
and the metric list in BENCHMARK.json.

Run from the repository root::

    python3 -m pytest perfbench -q

The last test starts a small local Spark session and runs every workload
at a tiny size, untraced and traced (about a minute).
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import probe  # noqa: E402
import run  # noqa: E402


def _read_rows(path: str) -> list[dict]:
    import pyarrow.parquet as pq

    return pq.read_table(path).to_pylist()


def test_generators_are_seeded(tmp_path):
    for seed in (1, 2):
        for k in ("a", "b"):
            gen.gen_subjects(seed, 300, str(tmp_path / f"s{seed}{k}"))
            gen.gen_documents(seed, 50, 3, str(tmp_path / f"d{seed}{k}"))
            gen.gen_nightly(seed, 300, str(tmp_path / f"n{seed}{k}"), "t")
    for kind in "sdn":
        d1a, d1b, d2 = (gen.digest_dir(str(tmp_path / f"{kind}{s}"))
                        for s in ("1a", "1b", "2a"))
        assert d1a == d1b
        assert d1a != d2


def test_nightly_truth_matches_files(tmp_path):
    truth = gen.gen_nightly(7, 500, str(tmp_path), "t")

    def entities(version):
        out: dict[str, set] = {}
        for r in _read_rows(str(tmp_path / version)):
            out.setdefault(r["canonical_id"], set()).add((r["prop"], r["value"]))
        return out

    prev, curr = entities("prev"), entities("curr")
    assert len(curr) == truth["entities"]
    assert truth["delta"] == {
        "ADD": len(curr.keys() - prev.keys()),
        "DEL": len(prev.keys() - curr.keys()),
        "MOD": sum(1 for e in curr.keys() & prev.keys() if curr[e] != prev[e]),
    }
    assert min(truth["delta"].values()) > 0


def test_subject_and_document_truth(tmp_path):
    truth = gen.gen_subjects(3, 500, str(tmp_path / "s"))
    rows = {r["id"]: r for r in _read_rows(str(tmp_path / "s"))}
    assert len(rows) == truth["subjects"]
    for members in truth["groups"]:
        sids = {tuple(rows[m]["strong_ids"]) for m in members}
        assert len(sids) == 1 and len(members) >= 2
    assert all(f in rows and s in rows for f, s in truth["fuzzy"])
    docs = gen.gen_documents(3, 100, 3, str(tmp_path / "d"))
    texts = {}
    for w in range(3):
        for r in _read_rows(str(tmp_path / "d" / f"wave-{w}")):
            texts[r["doc_id"]] = r["text"]
    assert len(texts) == docs["documents"]
    originals = {t: i for i, t in sorted(texts.items(), reverse=True)}
    for i in docs["exact_ids"]:
        # every planted exact copy repeats an earlier document's text
        assert originals[texts[i]] < i


class _FakeTracker:
    def getJobIdsForGroup(self, group):
        return []


class _FakeContext:
    def __init__(self):
        self.props: dict = {}

    def getLocalProperty(self, key):
        return self.props.get(key)

    def setLocalProperty(self, key, value):
        if value is None:
            self.props.pop(key, None)
        else:
            self.props[key] = value

    def setJobGroup(self, group, desc):
        self.props.update({"spark.jobGroup.id": group,
                           "spark.job.description": desc})

    def statusTracker(self):
        return _FakeTracker()


def test_span_bookkeeping(tmp_path):
    sc = _FakeContext()
    sc.setJobGroup("outer-group", "stream")
    tracer = probe.Tracer(sc)
    tracer.op_id = 4
    with tracer.span("a") as c:
        c["rows"] = 3
        with tracer.span("b"):
            assert sc.props["spark.jobGroup.id"] == "perfbench-1"
        assert sc.props["spark.jobGroup.id"] == "perfbench-0"
    assert sc.props["spark.jobGroup.id"] == "outer-group"
    tracer.record("engine", 10.0, 12.5, {"jobs": 2})
    a, b, e = tracer.spans
    assert (a["parent"], b["parent"], e["parent"]) == (None, 0, None)
    assert {s["op"] for s in tracer.spans} == {4}
    assert a["counters"]["rows"] == 3 and a["counters"]["jobs"] == 0
    assert a["start"] <= b["start"] <= b["end"] <= a["end"]
    assert e["counters"] == {"jobs": 2, "wall_s": 2.5}
    values = run._layer_values(tracer, 4, "w")
    assert values["a.rows"] == 3 and values["engine.jobs"] == 2
    assert values["jvm.w.gc_s"] == 0
    tracer.write(str(tmp_path / "t.json"))
    assert len(json.load(open(tmp_path / "t.json"))) == 3


def test_benchmark_json_lists_every_metric():
    from workloads import WORKLOADS

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == (
        run.per_layer_metrics(WORKLOADS)
    )
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)


def test_nightly_check_flags_wrong_counts():
    from workloads import NightlyRun

    wl = NightlyRun(None, "", 1)
    wl.truth = {"entities": 10, "delta": {"ADD": 1, "MOD": 2, "DEL": 3}}
    assert wl._check(10, {"ADD": 1, "MOD": 2, "DEL": 3}) is None
    assert "entity_count" in wl._check(9, {"ADD": 1, "MOD": 2, "DEL": 3})
    assert "delta" in wl._check(10, {"ADD": 1, "MOD": 2})


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    pytest.importorskip("pyspark")
    work = str(tmp_path_factory.mktemp("spark"))
    os.environ["SPARK_GRAFT_CPUS"] = "2"
    session = probe.start_session(work, 2)
    yield session
    run._stop(session)


def test_workloads_end_to_end_tiny(spark, tmp_path, monkeypatch):
    """Every workload at a tiny size: untraced ops pass their checks, a
    deliberately wrong truth fails them, and a traced op fills every
    per-layer metric of that workload."""
    from workloads import NightlyRun, StreamCurate, WORKLOADS, XrefResolve

    monkeypatch.setattr(NightlyRun, "n_entities", 400)
    monkeypatch.setattr(XrefResolve, "n_base", 500)
    monkeypatch.setattr(StreamCurate, "n_per_wave", 150)
    tracer = probe.Tracer(spark.sparkContext)
    names = {n for n, _, _ in run.per_layer_metrics(WORKLOADS)}
    seen: set[str] = set()
    for name, cls in WORKLOADS.items():
        wl = cls(spark, str(tmp_path), 5)
        _, digest = run._setup(wl)
        assert digest
        for i in range(2):
            op = run._one_op(wl, i, probe)
            assert op["err"] is None, op["err"]
            assert op["out"] > 0
        traced = run._traced_op(wl, 2, tracer, probe)
        assert traced["err"] is None, traced["err"]
        seen |= set(run._layer_values(tracer, traced["op_id"], name))
        # a wrong planted truth must fail the check
        if name == "nightly_run":
            wl.truth = dict(wl.truth, entities=wl.truth["entities"] + 1)
        elif name == "xref_resolve":
            truth = wl.truth
            wl.truth = dict(truth, groups=[["s0", "s1"]])
            assert run._one_op(wl, 4, probe)["err"] is not None
            wl.truth = dict(truth, fuzzy=[("f0", "s-none")] + truth["fuzzy"])
            wl.fuzzy_floor = 1.0
        else:
            wl.corpus_digest = (0, "0")
        assert run._one_op(wl, 3, probe)["err"] is not None
    assert names - {"trace.overhead_s"} <= seen
