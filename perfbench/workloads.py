"""The two workloads. Each one prepares its inputs in plain Python,
registers them with a Spark session, runs rounds of ops through the
package's public API, and checks every round's outputs against the
expected outputs of ``inputs.expected``.

A round is one op for ``ingest``, and one ``validate_stream`` drain of
several micro-batches for ``stream_microbatch``, where one op is one
micro-batch.
"""

from __future__ import annotations

import copy
import datetime as dt
import os
import random
import shutil
import time
from collections import Counter
from dataclasses import dataclass, field

import pyarrow.parquet as pq

import inputs
from remark_lint_frontmatter_schema_spark import (bundle, compile_ruleset,
                                                  ingest_corpus)
from remark_lint_frontmatter_schema_spark.functions import audio
from remark_lint_frontmatter_schema_spark.manifest import (STATUS_INGESTED,
                                                           Manifest)
from remark_lint_frontmatter_schema_spark.operators import \
    table_checks as table_checks_mod
from remark_lint_frontmatter_schema_spark.sources import fixtures as fx

RULESET = "rulesets/clip.schema.yaml"
SNAPSHOT = "snap_0"


class CheckFailed(Exception):
    pass


def lint_ruleset() -> dict:
    """clip.schema.yaml + codec_header x-spark-check + x-unique clip_id +
    x-ref speaker_id -> speakers."""
    return {"allOf": [bundle(RULESET), {"properties": {
        "bytes": {"x-spark-check": "codec_header"},
        "clip_id": {"x-unique": True},
        "speaker_id": {"x-ref": {"dim": "speakers", "key": "speaker_id"}},
    }}]}


def ingest_ruleset() -> dict:
    """clip.schema.yaml + codec_header, with x-severity error on the nodes
    behind ``inputs.ERROR_CHECKS``; no table checks."""
    doc = copy.deepcopy(bundle(RULESET))
    props = doc["allOf"][1]["properties"]
    props["codec"]["x-severity"] = "error"
    props["sr_hz"]["x-severity"] = "error"
    return {"allOf": [doc, {"properties": {
        "bytes": {"x-spark-check": "codec_header", "x-severity": "error"}}}]}


def compile_(doc: dict, schema):
    return compile_ruleset(doc, schema, name=inputs.RULESET_ID,
                           extra_checks=audio.register_audio_checks())


@dataclass
class Round:
    op_s: list            # seconds per op
    clips: list           # clips per op
    windows: list         # (start, end) epoch seconds per op
    bytes_out: int = 0
    extra: dict = field(default_factory=dict)


def du(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _counts(path: str) -> Counter:
    """Violation rows per constraint_id in a parquet output directory."""
    if not os.path.exists(path):
        return Counter()
    return Counter(pq.read_table(path, columns=["constraint_id"])
                   .column("constraint_id").to_pylist())


def _expect(what: str, got, want) -> None:
    if got != want:
        raise CheckFailed(f"{what}: got {got!r}, want {want!r}")


def _check_verdicts(path: str, want: dict) -> None:
    t = pq.read_table(path).to_pylist()
    got: dict = {}
    for r in t:
        v = got.setdefault(r["partition_id"], [0, 0, 0, 0, 0])
        for j, k in enumerate(("n_rows", "n_violations", "n_failed_rows",
                               "n_errors", "n_warnings")):
            v[j] += r[k]
        if r["passed"] != (r["n_failed_rows"] == 0):
            raise CheckFailed(f"verdict passed flag wrong: {r}")
    _expect("verdicts", got, want)


class Workload:
    name = ""
    warm_ops = 0          # untimed ops after the first op
    nominal_op_s = 1.0    # sizes the timed window: ops = seconds / this

    def __init__(self, work: str, pool: list, seed: int, tracer,
                 n_rounds: int):
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.n_rounds = n_rounds
        self.spark = None
        self.prepare(pool)

    @classmethod
    def timed_ops(cls, seconds: int) -> int:
        return max(3, round(seconds / cls.nominal_op_s))

    @classmethod
    def ops_in_round(cls, k: int) -> int:
        return 1

    @classmethod
    def schedule(cls, warm_ops: int, timed_ops: int) -> list[str]:
        """The role of every round: ``first`` (holds the first op in the
        fresh JVM), then whole ``warm`` rounds until ``warm_ops`` more ops
        ran, then whole ``timed`` rounds until ``timed_ops`` ops ran."""
        roles = ["first"]
        left = warm_ops - (cls.ops_in_round(0) - 1)
        for role, left in (("warm", left), ("timed", timed_ops)):
            while left > 0:
                left -= cls.ops_in_round(len(roles))
                roles.append(role)
        return roles

    def register(self, spark) -> None:
        self.spark = spark

    def wrap(self, tracer) -> None:
        """Swap in spanning wrappers for layers reached only through
        another public function (traced runs only)."""

    def prepare_round(self, k: int) -> None:
        """Lay out round ``k``'s inputs, outside its timing and tracing."""

    def finish_round(self, k: int) -> None:
        """Free what a round left behind, outside its timing."""


class StreamMicrobatch(Workload):
    """validate_stream (availableNow) draining a backlog of small files.
    Each round moves a fresh backlog into the input directory and drains
    it with one query on the same checkpoint. Round 0 is one micro-batch,
    so the first op, and the codegen counted for it, is one whole drain."""
    name = "stream_microbatch"
    FILES_PER_BATCH = 16   # validate_stream's maxFilesPerTrigger
    ROWS_PER_FILE = 25
    BATCHES_PER_ROUND = 3
    warm_ops = 3           # round 1
    nominal_op_s = 2.2

    @classmethod
    def ops_in_round(cls, k):
        return 1 if k == 0 else cls.BATCHES_PER_ROUND

    def prepare(self, pool):
        per_batch = self.FILES_PER_BATCH * self.ROWS_PER_FILE
        start = inputs.seed_base(self.seed)
        self.rounds_exp = []
        mtime = 1.7e9
        for r in range(self.n_rounds):
            n = per_batch * self.ops_in_round(r)
            rows = inputs.make_rows(pool, start, n, inputs.N_PARTS)
            start += n
            chunks = inputs.write_files(rows, f"{self.work}/stage/{r}",
                                        self.ROWS_PER_FILE, mtime)
            mtime += len(chunks)
            batches = [sum(chunks[b:b + self.FILES_PER_BATCH], [])
                       for b in range(0, len(chunks), self.FILES_PER_BATCH)]
            whole = inputs.expected(rows)
            tables = Counter()
            for b in batches:
                tables.update(inputs.expected(b).table_checks())
            self.rounds_exp.append((whole, tables, [len(b) for b in batches]))
        inputs.write_speakers(f"{self.work}/speakers.parquet")
        os.makedirs(f"{self.work}/in")
        self.doc = lint_ruleset()

    @classmethod
    def timed_ops(cls, seconds):
        n = super().timed_ops(seconds)
        return -(-n // cls.BATCHES_PER_ROUND) * cls.BATCHES_PER_ROUND

    def register(self, spark):
        from pyspark.sql.types import _parse_datatype_string
        super().register(spark)
        self.schema = _parse_datatype_string(fx.CLIPS_SCHEMA)
        self.speakers = spark.read.parquet(f"{self.work}/speakers.parquet")
        self.speakers.createOrReplaceTempView("speakers")

    def wrap(self, tracer):
        from pyspark.sql.readwriter import DataFrameWriter

        from remark_lint_frontmatter_schema_spark.streaming import incremental
        tracer.wrap(incremental, "validate", "validate.build")
        tracer.wrap(table_checks_mod, "table_check_violations",
                    "table_checks.build")
        tracer.wrap(DataFrameWriter, "parquet", "sinks.write")

    def prepare_round(self, k):
        stage = f"{self.work}/stage/{k}"
        for f in sorted(os.listdir(stage)):
            os.rename(f"{stage}/{f}", f"{self.work}/in/r{k:03d}_{f}")

    def round(self, k: int) -> Round:
        from remark_lint_frontmatter_schema_spark.streaming.incremental import \
            validate_stream
        out = f"{self.work}/out/{k}"
        t0, w0 = time.perf_counter(), time.time()
        with self.tracer.span("plans.compile"):
            compiled = compile_(self.doc, self.schema)
        q = validate_stream(
            self.spark, f"{self.work}/in", self.schema, compiled,
            row_id="clip_id", partition_col="part_date",
            violations_sink=f"{out}/violations",
            verdicts_sink=f"{out}/verdicts",
            checkpoint=f"{self.work}/checkpoint",
            dims={"speakers": self.speakers})
        q.awaitTermination()
        round_s = time.perf_counter() - t0
        prog = [p for p in q.recentProgress if p["numInputRows"] > 0]
        op_s, windows, plan_s, add_s = [], [], [], []
        for p in prog:
            d = p["durationMs"]
            start = dt.datetime.fromisoformat(
                p["timestamp"].replace("Z", "+00:00")).timestamp()
            op_s.append(d["triggerExecution"] / 1000)
            windows.append((start, start + d["triggerExecution"] / 1000))
            add_s.append(d.get("addBatch", 0) / 1000)
            plan_s.append((d["triggerExecution"] - d.get("addBatch", 0))
                          / 1000)
        if op_s:
            # the round's time outside its batches' triggers (compile,
            # query start and stop) is charged to its first batch
            op_s[0] += round_s - sum(op_s)
            windows[0] = (w0, windows[0][1])
        # numInputRows counts every scan of the batch (each write re-reads
        # it), so clips per batch come from the files the batch took
        clips = self.rounds_exp[k][2][:len(op_s)]
        return Round(op_s, clips, windows, du(out),
                     {"stream.plan_s": plan_s, "stream.add_batch_s": add_s,
                      "round_s": [round_s]})

    def check(self, k: int, r: Round) -> None:
        whole, tables, sizes = self.rounds_exp[k]
        out = f"{self.work}/out/{k}"
        _expect("micro-batches", len(r.op_s), len(sizes))
        got = _counts(f"{out}/violations")
        _expect("row violations",
                Counter({c: n for c, n in got.items()
                         if c.startswith(inputs.RULESET_ID + ":")}),
                whole.per_check)
        _expect("table violations",
                Counter({c: n for c, n in got.items()
                         if not c.startswith(inputs.RULESET_ID + ":")}),
                tables)
        _check_verdicts(f"{out}/verdicts", whole.verdicts)

    def finish_round(self, k):
        shutil.rmtree(f"{self.work}/out/{k}", ignore_errors=True)


class Ingest(Workload):
    """ingest_corpus behind an error-severity gate, with some partitions
    already recorded INGESTED in the manifest."""
    name = "ingest"
    N = 1_000
    N_SKIPPED = 2
    warm_ops = 2
    nominal_op_s = 3.3

    def prepare(self, pool):
        rows = inputs.make_rows(pool, inputs.seed_base(self.seed), self.N,
                                inputs.N_PARTS)
        inputs.write_partitioned(rows, f"{self.work}/clips")
        parts = sorted({r["part_date"].isoformat() for r in rows})
        self.skipped = sorted(random.Random(self.seed)
                              .sample(parts, self.N_SKIPPED))
        self.pending = [p for p in parts if p not in self.skipped]
        self.exp = inputs.expected(rows, severity_error=inputs.ERROR_CHECKS)
        self.n_clips = sum(self.exp.verdicts[p][0] for p in self.pending)
        # the canonicalizer emits no row for payloads it cannot decode
        # (Opus entropy decode is out of the engine's scope)
        self.n_corpus = sum(
            1 for r in rows if r["part_date"].isoformat() in self.pending
            and r["codec"] != "opus"
            and not any(inputs.ROW_CHECKS[c](r, fx.defect_class(r["_i"]))
                        for c in inputs.ERROR_CHECKS))
        self.doc = ingest_ruleset()

    def register(self, spark):
        super().register(spark)
        clips = spark.read.parquet(f"{self.work}/clips")
        clips.createOrReplaceTempView("clips")
        self.schema = clips.schema
        self.ruleset_hash = compile_(self.doc, self.schema).ruleset_hash

    def wrap(self, tracer):
        from remark_lint_frontmatter_schema_spark.operators import \
            ingest as ingest_mod
        tracer.wrap(ingest_mod.sinks, "write_split", "sinks.write")
        tracer.wrap(ingest_mod, "list_partitions", "manifest")
        tracer.wrap(Manifest, "load", "manifest")
        tracer.wrap(Manifest, "save", "manifest")

    def prepare_round(self, k):
        """A manifest that already records the skipped partitions."""
        m = Manifest(f"{self.work}/manifest/{k}.json", {})
        for p in self.skipped:
            m.record(SNAPSHOT, p, self.ruleset_hash, STATUS_INGESTED)
        m.save()

    def round(self, k: int) -> Round:
        out = f"{self.work}/out/{k}"
        manifest = f"{self.work}/manifest/{k}.json"
        t0, w0 = time.perf_counter(), time.time()
        with self.tracer.span("plans.compile"):
            compiled = compile_(self.doc, self.schema)
        with self.tracer.span("ingest"):
            res = ingest_corpus(
                self.spark, f"{self.work}/clips", compiled,
                partition_col="part_date", out_path=out,
                manifest_path=manifest, snapshot_id=SNAPSHOT,
                run_id=f"ingest_{k}")
        op_s = time.perf_counter() - t0
        return Round([op_s], [self.n_clips], [(w0, time.time())], du(out),
                     {"ingest.partitions_skipped": [len(res["skipped"])],
                      "result": res})

    def check(self, k: int, r: Round) -> None:
        res = r.extra["result"]
        _expect("ingested", sorted(res["ingested"]), self.pending)
        _expect("skipped", sorted(res["skipped"]), self.skipped)
        split = {p: self.exp.split[p] for p in self.pending}
        _expect("accepted", res["accepted"], sum(a for a, _ in split.values()))
        _expect("quarantined", res["quarantined"],
                sum(q for _, q in split.values()))
        m = Manifest.load(f"{self.work}/manifest/{k}.json")
        got = {e["partition_id"]: [e["metrics"].get("n_accepted"),
                                   e["metrics"].get("n_quarantined")]
               for e in m.entries.values() if e["partition_id"] in split}
        _expect("manifest split", got, {p: list(v) for p, v in split.items()})
        n_corpus = pq.ParquetDataset(
            f"{self.work}/out/{k}/corpus").read(columns=["clip_id"]).num_rows
        _expect("corpus rows", n_corpus, self.n_corpus)

    def finish_round(self, k):
        shutil.rmtree(f"{self.work}/out/{k}", ignore_errors=True)


WORKLOADS = {w.name: w for w in (StreamMicrobatch, Ingest)}
