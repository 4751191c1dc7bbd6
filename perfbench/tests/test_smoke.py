"""sf0.001 smoke runs: every workload emits every metric the benchmark
declares, with its unit, and passes its output checks. Also pins the
pure-Python input derivation against the Spark originals in
``sources.from_documents``. Slow: each run starts a JVM."""

import json
import os
import subprocess
import sys

import pytest

from conftest import BENCH, ROOT

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _run(workload, trace):
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload, "--seed", "5",
         "--seconds", "1", "--trace", str(trace), "--sf", "0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["bulk_build", "kb_large", "stream_ingest"])
def test_smoke_run_emits_every_metric(workload, trace):
    result = _run(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    declared = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    for m in declared:
        assert m["name"] in result["metrics"], m["name"]
        assert result["metrics"][m["name"]]["unit"] == m["unit"], m["name"]
        assert isinstance(result["metrics"][m["name"]]["value"], (int, float))


def test_input_port_matches_sources(tmp_path):
    from information_extraction_spark.session import get_spark
    from information_extraction_spark.sources.from_documents import (
        kb_from_documents,
        transcripts_from_documents,
    )

    import inputs

    docs = inputs.documents(9, 40)
    inputs.write_table(docs, __import__("pyarrow").schema([("doc_id", "int64"), ("text", "string")]),
                       str(tmp_path / "documents.parquet"))
    spark = get_spark(master="local[2]")
    try:
        want = {tuple(r) for r in transcripts_from_documents(spark, str(tmp_path), replicate=2).collect()}
        got = set(inputs.transcripts(docs, 2))
        assert {r[:5] + (r[5].replace(tzinfo=None),) for r in got} == {
            r[:5] + (r[5].replace(tzinfo=None),) for r in want}
        kb, schemas = kb_from_documents(spark, str(tmp_path))
        port_kb, port_schemas = inputs.base_kb(docs)
        assert sorted(tuple(r) for r in kb.collect()) == port_kb
        assert sorted(tuple(r) for r in schemas.collect()) == sorted(port_schemas)
    finally:
        spark.stop()
