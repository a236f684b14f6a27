"""The benchmark's own tests.

    python3 -m pytest perfbench/ -q

* a smoke run of every workload, untraced and traced, with the
  benchmark's own command and sizes, that must print every metric
  ``BENCHMARK.json`` names, with its unit;
* a deliberately perturbed result, which the correctness gate must
  reject and the run must count as a failure.

The smoke runs start a Spark driver each (about a minute apiece).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

from workloads import WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def _run(*args: str) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--seed", "7", "--seconds", "1", *args],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_smoke_prints_every_metric(workload: str, trace: int) -> None:
    out = _run("--workload", workload, "--trace", str(trace))
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    named = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {m["name"]: m["unit"] for m in named} == {
        k: v["unit"] for k, v in out["metrics"].items()
    }
    assert all(isinstance(v["value"], float) for v in out["metrics"].values())


def _perturb(pdf: pd.DataFrame) -> pd.DataFrame:
    """Change one value of a result, as a broken slug would."""
    out = pdf.copy()
    if out.empty:
        return pd.concat([out, out.head(0).reindex([0])])
    col = out.columns[-1]
    first = out.index[0]
    if pd.api.types.is_numeric_dtype(out[col]):
        out.loc[first, col] = out.loc[first, col] + 1
    else:
        out.loc[first, col] = f"{out.loc[first, col]}~"
    return out


def _write_counts(out_dir, counts: dict[str, int]) -> str:
    out_dir.mkdir()
    lines = [json.dumps({"key": k, "value": str(v)}) for k, v in counts.items()]
    (out_dir / "part-00000").write_text("\n".join(lines) + "\n")
    return str(out_dir)


def test_perturbed_results_are_counted_as_failures(tmp_path) -> None:
    """Runner.check counts a wrong slug frame, a wrong word count and a
    raised call as failed, and passes the right answers (no Spark)."""
    from gen import generate
    from run import Call, Runner
    from tools.check_correctness import duck_con

    from mapreduce_rust_spark.registry import oracle_sql

    wl = WORKLOADS["corpus_prep"]
    manifest = generate(str(tmp_path / wl.name), wl.name, 3, wl.warmup)
    slug = wl.slugs[0]
    good = duck_con(manifest["tables_dir"]).execute(oracle_sql()[slug]).df()
    calls = [Call(slug, 1, result=good), Call(slug, 1, result=_perturb(good)), Call(slug, 1, error="RuntimeError: x")]
    assert Runner(None, wl, manifest, None, None).check(calls) == 2

    wl = WORKLOADS["mr_wordcount"]
    manifest = generate(str(tmp_path / wl.name), wl.name, 3, wl.warmup)
    counts = dict(manifest["word_counts"])
    right = _write_counts(tmp_path / "right", counts)
    counts[next(iter(counts))] += 1
    wrong = _write_counts(tmp_path / "wrong", counts)
    calls = [Call(wl.name, 1, result=right), Call(wl.name, 1, result=wrong)]
    assert Runner(None, wl, manifest, None, None).check(calls) == 1


def test_gate_rejects_a_perturbed_slug_result(tmp_path) -> None:
    """The gate passes the oracle's own answer and fails it with one
    value changed, for every slug the benchmark runs (no Spark)."""
    from check import Gate
    from gen import generate

    from mapreduce_rust_spark.registry import oracle_sql

    for name in ("corpus_prep", "events_stream"):
        wl = WORKLOADS[name]
        manifest = generate(str(tmp_path / name), name, 3, wl.warmup)
        gate = Gate(manifest["tables_dir"])
        for slug in wl.slugs:
            expected = gate._con.execute(oracle_sql()[slug]).df()
            assert gate.check_slug(slug, expected) is None, slug
            assert gate.check_slug(slug, _perturb(expected)) is not None, slug


def test_generator_is_deterministic(tmp_path) -> None:
    from gen import generate

    wl = WORKLOADS["mr_wordcount"]
    a = generate(str(tmp_path / "a"), wl.name, 11, wl.warmup)
    b = generate(str(tmp_path / "b"), wl.name, 11, wl.warmup)
    c = generate(str(tmp_path / "c"), wl.name, 12, wl.warmup)
    assert a["sha256"] == b["sha256"] != c["sha256"]
    assert sum(a["word_counts"].values()) == wl.warmup["words"]
