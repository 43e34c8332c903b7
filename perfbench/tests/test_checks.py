"""Smoke test of the benchmark's output checks.

    python -m pytest perfbench/tests -q

Runs small rounds of each workload on a local Spark session: the checks
must pass on the engine's real outputs, and the ingest checks must fail
once the expected outputs are perturbed. It also pins that the stream's
violation rows equal batch ``validate()`` plus the table checks run on
the same micro-batch rows.
"""

import os
import sys
from collections import Counter

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path[:0] = [os.path.dirname(HERE), ROOT]

import inputs  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402


@pytest.fixture(scope="module")
def pool(tmp_path_factory):
    return inputs.ensure_pool(str(tmp_path_factory.mktemp("pool")))


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("spark"))
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(f"{work}/{d}")
    cwd = os.getcwd()
    os.chdir(ROOT)  # the ruleset paths are relative to the repository
    s = run.start_session(work, 0)
    yield s
    s.stop()
    run.shutdown_jvm()
    os.chdir(cwd)


def test_schedule_holds_whole_rounds():
    s = workloads.StreamMicrobatch.schedule(6, 3)
    assert s == ["first", "warm", "warm", "timed"]
    assert workloads.StreamMicrobatch.schedule(0, 4) == ["first"] + ["timed"] * 2
    assert workloads.Ingest.schedule(2, 3) == ["first"] + ["warm"] * 2 + [
        "timed"] * 3


def test_model_counts_fixture_defects(pool):
    rows = inputs.make_rows(pool, inputs.seed_base(3), 1200, inputs.N_PARTS)
    e = inputs.expected(rows)
    # 12 defect classes in every 200 indices; each row-level class is 6 rows
    assert e.per_check["clip:/codec:enum"] == 6
    assert e.per_check["clip:/transcript:maxLength"] == 6
    assert e.n_dangling == 6
    assert sum(v[0] for v in e.verdicts.values()) == 1200


def test_expect_raises_on_mismatch():
    with pytest.raises(workloads.CheckFailed):
        workloads._expect("x", Counter(a=1), Counter(a=2))


def _round(wl, k=0):
    wl.prepare_round(k)
    r = wl.round(k)
    wl.check(k, r)
    return r


def test_ingest_checks_pass_then_catch_a_wrong_split(spark, pool, tmp_path):
    class Small(workloads.Ingest):
        N = 400

    wl = Small(str(tmp_path), pool, 6, tracing.Tracer(), 1)
    wl.register(spark)
    r = _round(wl)
    wl.exp.split[wl.pending[0]][0] -= 1
    with pytest.raises(workloads.CheckFailed):
        wl.check(0, r)


def test_stream_equals_batch_validate_on_the_same_rows(spark, pool,
                                                       tmp_path):
    import pyarrow.parquet as pq

    from remark_lint_frontmatter_schema_spark import validate
    from remark_lint_frontmatter_schema_spark.operators.table_checks import \
        table_check_violations

    class Small(workloads.StreamMicrobatch):
        ROWS_PER_FILE = 10
        BATCHES_PER_ROUND = 2

    wl = Small(str(tmp_path), pool, 7, tracing.Tracer(), 2)
    wl.register(spark)
    _round(wl, 0)  # round 0 is one micro-batch
    r = _round(wl, 1)
    assert len(r.op_s) == 2
    key = ("row_id", "constraint_id", "message")
    streamed = Counter(tuple(r[k] for k in key) for r in pq.read_table(
        f"{tmp_path}/out/1/violations").to_pylist())

    files = sorted(f for f in os.listdir(f"{tmp_path}/in")
                   if f.startswith("r001_"))
    compiled = workloads.compile_(wl.doc, wl.schema)
    batched = Counter()
    for b in range(0, len(files), wl.FILES_PER_BATCH):
        df = spark.read.schema(wl.schema).parquet(
            *[f"{tmp_path}/in/{f}" for f in files[b:b + wl.FILES_PER_BATCH]])
        rows = validate(df, compiled, row_id="clip_id",
                        partition_col="part_date").violations.collect()
        rows += table_check_violations(
            df, compiled, row_id="clip_id",
            dims={"speakers": wl.speakers}).collect()
        batched.update(tuple(r[k] for k in key) for r in rows)
    assert streamed and streamed == batched
