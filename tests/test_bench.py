"""bench.py's outputs, checked without Spark: the headline line stays a
compact JSON object, and BENCH.md carries only the run that wrote it."""

import importlib
import json
import os

import bench


def _run():
    times = {"ext_flagship": [2.882]}
    for i, name in enumerate(bench.HEADLINE):
        times[name] = [0.1 + 0.037 * i + 0.011 * r for r in range(3)]
    extraction = {"docs": 40000, "elapsed_s": 2.882,
                  "docs_per_sec": 13878.34, "total_text_chars": 78010143}
    return times, extraction


def test_headline_is_compact_json_with_all_queries():
    assert len(bench.HEADLINE) == 75
    times, extraction = _run()
    line = bench.headline(times, extraction, "0.1", cores=32, nproc=4)
    assert "\n" not in line
    assert len(line) < 2000
    h = json.loads(line)
    assert h["value"] == round(sum(bench.medians(times).values()), 3)
    assert h["unit"] == "sec" and h["sf"] == "0.1"
    assert (h["cores"], h["nproc"]) == (32, 4)
    assert h["extraction_docs_per_sec"] == 13878.34
    assert "metric" in h and "query_median_s" in h


def test_bench_md_holds_only_this_run(tmp_path):
    times, extraction = _run()
    path = tmp_path / "BENCH.md"
    bench.write_bench_md(str(path), times, extraction, cores=32, nproc=4)
    text = path.read_text()
    for name in times:
        assert f"| {name} |" in text
    assert "13878.34 docs/sec" in text
    lowered = text.lower()
    for stale in ("best", "scaling efficiency", "local[2]", "local[8]",
                  "probe_mp_scaling", "stress"):
        assert stale not in lowered, stale
    assert "perfbench/run.py" in text


def test_cpus_default_to_host_cores(monkeypatch):
    with monkeypatch.context() as m:
        m.delenv("SPARK_GRAFT_CPUS", raising=False)
        assert importlib.reload(bench).CPUS == os.cpu_count()
        m.setenv("SPARK_GRAFT_CPUS", "3")
        assert importlib.reload(bench).CPUS == 3
    importlib.reload(bench)
