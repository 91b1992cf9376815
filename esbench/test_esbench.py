"""The benchmark's own tests, at tiny input sizes.

    python3 -m pytest esbench/test_esbench.py -q

They check that the generators are seeded, that every metric named in
``BENCHMARK.json`` is emitted with its unit in both modes, that every
output check passes on the current tree, that a wrong expected answer is
counted as a failure, and that the command refuses to run without the
engine next to it.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import gen  # noqa: E402
import run  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def _digest(table, path) -> str:
    gen.write_parquet(table, path)
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


@pytest.mark.parametrize("make", [
    lambda s: gen.lineitem(s, 500),
    lambda s: gen.events(s, 300),
    lambda s: gen.documents(s, 100),
    lambda s: gen.embeddings(s, 50),
    lambda s: gen.corpus_table(gen.corpus_docs(gen.rng(s, "corpus"), range(1, 201), gen.boilerplate(s), {})[0]),
    lambda s: gen.planted_vectors(s, 100, 2)[0],
])
def test_generators_are_seeded(make, tmp_path):
    a = _digest(make(7), tmp_path / "a.parquet")
    b = _digest(make(7), tmp_path / "b.parquet")
    c = _digest(make(8), tmp_path / "c.parquet")
    assert a == b
    assert a != c


def test_spec_names_every_metric():
    assert [w["name"] for w in SPEC["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == run.PER_LAYER


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    import tracing

    os.environ["TZ"] = "UTC"
    s = tracing.start_spark(str(tmp_path_factory.mktemp("spark")))
    yield s
    tracing.stop_spark(s)


def _run(spark, tmp_path, workload, trace):
    args = run.parse_args([
        "--workload", workload, "--seed", "3", "--seconds", "1",
        "--trace", str(trace), "--size", "tiny",
    ])
    return run.execute(spark, args, str(tmp_path), session_s=1.0)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_every_metric_emitted_and_checks_pass(spark, tmp_path, workload, trace):
    result, lines = _run(spark, tmp_path, workload, trace)
    assert result["correct"], lines
    assert result["failed"] == 0
    assert result["attempted"] >= 1
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], float)
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
    if trace:
        touched = {k for k, v in result["metrics"].items() if v["value"]}
        if workload == "search_mix":
            assert not {k for k in touched if k.startswith(("catalog.", "operators.", "ingest."))}
            assert {"search.build_ms", "aggs_dsl.build_ms", "esql.build_ms", "sources.read_docs_ms"} <= touched
        else:
            assert not {k for k in touched if k.startswith(("search.", "aggs_dsl.", "esql.", "sources."))}
            assert {"catalog.write_index_ms", "ingest.compile_ms", "operators.minhash_lsh_ms"} <= touched
        assert result["metrics"]["trace.breakdown_error"]["value"] < 0.1


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_wrong_expected_answer_counts_as_failure(spark, tmp_path, monkeypatch, workload):
    cls = type(run.make_workload(workload, spark, 3, "tiny"))
    real = cls.expected

    def corrupted(self, typ, params):
        """The real answer with one count off (or one extra row)."""
        exp = real(self, typ, params)
        if isinstance(exp, dict):
            return {**exp, "count": exp["count"] + 1}
        if isinstance(exp, tuple):
            return (exp[0] + 1,) + exp[1:]
        return exp + exp[:1] if exp else [None]

    monkeypatch.setattr(cls, "expected", corrupted)
    result, lines = _run(spark, tmp_path, workload, 0)
    assert not result["correct"]
    assert result["failed"] > 0
    assert any(line.startswith("# error_rate") and not line.startswith("# error_rate 0.000000")
               for line in lines)


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "esbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    p = subprocess.run(
        SPEC["command"] + ["--workload", "search_mix", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0
    assert "metrics" not in p.stdout
