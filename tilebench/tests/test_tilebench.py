"""The benchmark harness's own tests, at tiny sizes.

    python3 -m pytest tilebench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(0, ROOT)

import gen  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402


def test_generator_is_seeded():
    a, b, c = gen.points(3, 500), gen.points(3, 500), gen.points(4, 500)
    assert a["table"].equals(b["table"])
    assert not a["table"].equals(c["table"])
    r1, r2 = gen.regions(3, 100), gen.regions(3, 100)
    assert r1["table"].equals(r2["table"])


def test_every_seed_has_the_same_mix():
    """Kinds and sizes are fixed multisets: the seed moves rows, not work."""
    for n in (100, 800):
        a, b = gen.mix(gen.rng_for(1, "m"), (0.35, 0.2, 0.45), n), gen.mix(gen.rng_for(2, "m"), (0.35, 0.2, 0.45), n)
        assert np.array_equal(np.bincount(a), np.bincount(b)) and len(a) == n
        assert np.allclose(np.sort(gen.log_grid(gen.rng_for(1, "g"), 1.0, 9.0, n)),
                           np.sort(gen.log_grid(gen.rng_for(2, "g"), 1.0, 9.0, n)))


def test_parse_metric():
    assert tracing.parse_metric("total (min, med, max (stageId: taskId))\n6.1 s (1 s, 2 s)") == 6.1
    assert tracing.parse_metric("391 ms") == pytest.approx(0.391)
    assert tracing.parse_metric("1.5 min") == 90.0
    assert tracing.parse_metric("1613.6 KiB") == pytest.approx(1613.6 * 1024)
    assert tracing.parse_metric("50,000") == 50000


def test_python_exclusive_subtracts_same_stage_upstream():
    node = lambda i, name, t, kids: {  # noqa: E731
        "exec": 0, "id": i, "name": name, "children": kids,
        "metrics": {tracing.PY_TIME: t} if t is not None else {}}
    nodes = [
        node(0, "MapInArrow", 9.0, [1]),       # decode, chained after fold
        node(1, "MapInPandas", 7.0, [2]),      # fold, fed by a sort
        node(2, "Sort", None, [3]),
        node(3, "Exchange", None, [4]),
        node(4, "MapInPandas", 5.0, [5]),      # encode, in the stage below
        node(5, "Scan parquet ", None, []),
    ]
    got = {p["inclusive"]: p for p in tracing.python_exclusive(nodes)}
    assert got[9.0]["exclusive"] == 2.0 and not got[9.0]["grouped"]
    assert got[7.0]["exclusive"] == 7.0 and got[7.0]["grouped"]
    assert got[5.0]["exclusive"] == 5.0


def test_self_times():
    t = tracing.Tracer()
    with t.span("root"):
        with t.span("a"):
            pass
        with t.span("b"):
            pass
    st = t.self_times()
    spans = {s["name"]: s for s in t.spans}
    dur = lambda n: spans[n]["end"] - spans[n]["start"]  # noqa: E731
    assert st["root"] == pytest.approx(dur("root") - dur("a") - dur("b"))
    assert [s["parent"] for s in t.export()] == [None, 0, 0]


def test_layer_map_covers_every_per_layer_metric():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    with open(os.path.join(BENCH, "layer_map.json")) as f:
        lmap = json.load(f)
    names = {m["name"] for m in bench["per_layer"]}
    assert names == set(lmap) - {"_doc"}
    wl = {w["name"] for w in bench["workloads"]}
    assert wl == set(workloads.WORKLOADS)
    assert all(set(v["workloads"]) <= wl for k, v in lmap.items() if k != "_doc")


def test_kernel_pin():
    import kernels

    with open(os.path.join(BENCH, "pins.json")) as f:
        pin = json.load(f)["kernels"]["pbf.out_bytes"]
    m, errs = kernels.run(pin)
    assert errs == [] and m["pbf.out_bytes"] == pin
    assert kernels.run(pin + 1)[1] != []


def test_exits_nonzero_without_the_engine(tmp_path):
    """In a directory holding only BENCHMARK.json and tilebench/, the
    benchmark fails before printing a result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "tilebench", ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "tilebench/run.py", "--workload", "pip_join", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""


# --- Spark ----------------------------------------------------------------------


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    import run

    work = str(tmp_path_factory.mktemp("tilebench"))
    run.prepare_env(work)
    s = run.start_session(work)
    yield s
    s.stop()


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_workload_tiny(spark, tmp_path, name):
    """Job output passes its check, a perturbed output fails it, the
    staged (traced) run gives the same output as the job, and the counts
    it shares with the job's own plan agree."""
    wl = workloads.WORKLOADS[name]
    inp = wl.generate(5, wl.tiny, str(tmp_path))
    before = tracing.last_execution_id(spark)
    out = wl.job(spark, inp)
    plan = wl.plan_counts(tracing.plan_nodes(spark, before))
    exp = wl.expected(inp)
    assert wl.check(out, exp) == []
    assert wl.out_bytes(out) > 0
    bad = dict(out)
    key = {"points_pyramid": "nf_digest", "polygons_pyramid": "features_z13", "pip_join": "sample"}[name]
    bad[key] = {1: 1} if key == "sample" else bad[key] + 10**9
    assert wl.check(bad, exp) != []
    staged, layer = wl.staged(spark, inp, tracing.Tracer())
    assert staged == out
    assert all(v >= 0 for v in layer.values())
    assert plan and all(v is not None and layer[k] == v for k, v in plan.items()), (plan, layer)


def test_chained_python_node_time_is_inclusive(spark):
    """The measurement behind python_exclusive: a pass-through
    mapInPandas fed by one that sleeps reports the sleeper's time."""
    def slow(batches):
        import time

        for b in batches:
            time.sleep(0.5)
            yield b

    def passthrough(batches):
        yield from batches

    df = spark.range(0, 400, 1, 4).mapInPandas(slow, "id long").mapInPandas(passthrough, "id long")
    df.count()  # start the workers
    before = tracing.last_execution_id(spark)
    df.count()
    py = tracing.python_exclusive(tracing.plan_nodes(spark, before))
    assert len(py) == 2
    down = max(py, key=lambda p: p["inclusive"] - p["exclusive"])
    up = next(p for p in py if p is not down)
    assert up["inclusive"] >= 4 * 0.5
    assert down["inclusive"] >= up["inclusive"] * 0.9
    assert down["exclusive"] < 0.5 * up["inclusive"]


def test_polygon_pin_applies_to_its_seed_at_the_benchmark_size(tmp_path):
    wl = workloads.PolygonsPyramid()
    wl.size = 40
    inp = wl.generate(5, 40, str(tmp_path))
    wl.pin = {"seed": 5, "summary": {"tiles": -1}}
    assert wl.expected(inp)["pin"] == {"tiles": -1}
    wl.pin = {"seed": 6, "summary": {"tiles": -1}}
    assert "pin" not in wl.expected(inp)
    wl.size, wl.pin = 41, {"seed": 5, "summary": {"tiles": -1}}
    assert "pin" not in wl.expected(inp)


def test_polygon_check_bounds_each_zoom(tmp_path):
    wl = workloads.PolygonsPyramid()
    inp = wl.generate(5, 40, str(tmp_path))
    exp = wl.expected(inp)
    ok = {"tiles": 1, "min_features": 1, **{f"features_z{z}": 40 for z in wl.ZOOMS}}
    assert wl.check(ok, exp) == []
    assert wl.check({**ok, "features_z13": 39}, exp) != []
    assert wl.check({**ok, "features_z6": exp["max_pairs"][6] + 1}, exp) != []
