"""Benchmark inputs: a payload pool made once per checkout, per-seed tables
built from it, and the expected outputs derived from the fixture index.

Row ``i`` carries the package fixture's metadata for index ``i``
(``sources.fixtures._make_row``) and the payload of pool slot
``i % POOL_SIZE``. ``POOL_SIZE`` is a multiple of 600, the period of the
fixture's codec (``i % 3``), sample rate (``i % 5``) and defect class
(``i % 200``), so the pooled payload has exactly the codec, rate and
header defect that row ``i``'s own payload would have. The pool exists
because the fixture's FLAC stub costs about 3.7 ms per clip in pure
Python, too slow to make hundreds of thousands of payloads per run.

The seed picks the index window: row ``k`` of a table is index
``seed_base(seed) + k``. Everything here is plain Python and pyarrow;
no JVM is started.
"""

from __future__ import annotations

import datetime as dt
import os
import re
from collections import Counter
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

from remark_lint_frontmatter_schema_spark.sources import fixtures as fx

POOL_SIZE = 3000
AUDIO_MS = 40
N_PARTS = 8
# _make_row puts index i in partition i * 8 // n_rows and lengthens dur_ms
# by 1.6x in its last partition; an n_rows this large keeps every window
# in its partition 0, so the drift never fires and dur_ms stays in range
# except for the injected range_dur rows. Partitions are assigned here.
_VIRTUAL_ROWS = 10 ** 12

RULESET_ID = "clip"
ID_UNIQUE = "unique:clip_id"
ID_REF = "ref:speaker_id->speaker_id"

# the row-level constraints of rulesets/clip.schema.yaml plus the
# codec_header x-spark-check, keyed by the compiler's constraint ids
_PATTERN = re.compile(r"^[A-Za-z0-9 ,.'?!-]+$")
_INT = re.compile(r"^-?[0-9]+$")
_HEADER_DEFECTS = {"corrupt_bytes", "codec_header_mismatch", "enum_codec"}
ROW_CHECKS = {
    "clip:/:required": lambda r, d: r["clip_id"] is None,
    "clip:/:required#2": lambda r, d: r["transcript"] is None,
    "clip:/transcript:maxLength":
        lambda r, d: r["transcript"] is not None and len(r["transcript"]) > 400,
    "clip:/transcript:pattern":
        lambda r, d: (r["transcript"] is not None
                      and not _PATTERN.match(r["transcript"])),
    "clip:/:required#3": lambda r, d: r["codec"] is None,
    "clip:/:required#4": lambda r, d: r["sr_hz"] is None,
    "clip:/codec:enum": lambda r, d: r["codec"] not in fx.CODECS,
    "clip:/sr_hz:minimum": lambda r, d: r["sr_hz"] < 8000,
    "clip:/sr_hz:maximum": lambda r, d: r["sr_hz"] > 48000,
    "clip:/dur_ms:minimum": lambda r, d: r["dur_ms"] < 200,
    "clip:/dur_ms:maximum": lambda r, d: r["dur_ms"] > 30000,
    "clip:/props:required": lambda r, d: "lang" not in r["props"],
    "clip:/props/lang:enum":
        lambda r, d: "lang" in r["props"] and r["props"]["lang"] not in fx.LANGS,
    "clip:/props/take:type":
        lambda r, d: "take" in r["props"] and not _INT.match(r["props"]["take"]),
    # a range_sr row keeps an 8 kHz payload under sr_hz=3; only the PCM
    # container states its rate, so only PCM rows fail the header check
    "clip:/bytes:x-spark-check":
        lambda r, d: (d in _HEADER_DEFECTS
                      or (d == "range_sr" and r["codec"] == "pcm_s16le")),
}

# The ingest gate: x-severity error on the constraints a training corpus
# cannot take (undecodable or mislabelled audio). The
# shipped clip.schema.yaml is all warning, so without these the gate
# accepts every row.
ERROR_CHECKS = {"clip:/codec:enum", "clip:/sr_hz:minimum",
                "clip:/sr_hz:maximum", "clip:/bytes:x-spark-check"}

CLIPS_ARROW = pa.schema([
    ("clip_id", pa.string()), ("bytes", pa.binary()), ("sr_hz", pa.int32()),
    ("dur_ms", pa.int32()), ("codec", pa.string()),
    ("transcript", pa.string()), ("speaker_id", pa.string()),
    ("props", pa.map_(pa.string(), pa.string())),
    ("part_date", pa.date32()), ("ruleset_id", pa.string()),
])
_COLS = [f.name for f in CLIPS_ARROW]


def seed_base(seed: int) -> int:
    """First fixture index of a seed's window (10-digit clip ids hold it)."""
    return (seed % 9973) * 1_000_000


def part_date(p: int) -> dt.date:
    return dt.date(2026, 1, 1) + dt.timedelta(days=p)


def pool_path(root: str) -> str:
    return os.path.join(root, f"pool-{POOL_SIZE}x{AUDIO_MS}ms.parquet")


def ensure_pool(root: str) -> list[bytes]:
    """Payload pool, generated once per checkout and then read back."""
    path = pool_path(root)
    if not os.path.exists(path):
        os.makedirs(root, exist_ok=True)
        payloads = [fx._make_row(j, _VIRTUAL_ROWS, AUDIO_MS, True, 0)[1]
                    for j in range(POOL_SIZE)]
        tmp = f"{path}.{os.getpid()}.tmp"
        pq.write_table(pa.table({"bytes": pa.array(payloads, pa.binary())}),
                       tmp)
        os.replace(tmp, path)
    return pq.read_table(path).column("bytes").to_pylist()


def make_rows(pool: list[bytes], start: int, n: int, n_parts: int) -> list[dict]:
    """Rows for indices start .. start+n-1; row k goes to partition
    k * n_parts // n."""
    rows = []
    for k in range(n):
        i = start + k
        t = fx._make_row(i, _VIRTUAL_ROWS, AUDIO_MS, False, 0)
        r = dict(zip(_COLS, t))
        r["bytes"] = pool[i % POOL_SIZE]
        r["part_date"] = part_date(k * n_parts // n)
        r["_i"] = i
        rows.append(r)
    return rows


def _table(rows: list[dict], drop=()) -> pa.Table:
    cols = [c for c in _COLS if c not in drop]
    schema = pa.schema([CLIPS_ARROW.field(c) for c in cols])
    return pa.table({c: [r[c] if c != "props" else list(r[c].items())
                         for r in rows] for c in cols}, schema=schema)


def write_partitioned(rows: list[dict], path: str) -> None:
    """Hive layout ``part_date=YYYY-MM-DD/part-0.parquet``, one file per
    partition (the partition value lives in the directory name)."""
    by_part: dict = {}
    for r in rows:
        by_part.setdefault(r["part_date"], []).append(r)
    for d, rs in sorted(by_part.items()):
        sub = os.path.join(path, f"part_date={d.isoformat()}")
        os.makedirs(sub, exist_ok=True)
        pq.write_table(_table(rs, drop=("part_date",)),
                       os.path.join(sub, "part-0.parquet"))


def write_files(rows: list[dict], path: str, rows_per_file: int,
                mtime0: float) -> list[list[dict]]:
    """Flat directory of small files for the file stream source, named and
    timestamped in row order so micro-batches take them in that order."""
    os.makedirs(path, exist_ok=True)
    chunks = [rows[k:k + rows_per_file]
              for k in range(0, len(rows), rows_per_file)]
    for n, chunk in enumerate(chunks):
        f = os.path.join(path, f"f{n:06d}.parquet")
        pq.write_table(_table(chunk), f)
        os.utime(f, (mtime0 + n, mtime0 + n))
    return chunks


def write_speakers(path: str) -> None:
    ids = [f"spk_{i:06d}" for i in range(fx.N_SPEAKERS)]
    pq.write_table(pa.table({
        "speaker_id": ids,
        "name": [f"Speaker {i}" for i in range(fx.N_SPEAKERS)],
        "lang": [fx.LANGS[i % len(fx.LANGS)] for i in range(fx.N_SPEAKERS)],
    }), path)


def _known_speaker(s: str) -> bool:
    return s is not None and s.startswith("spk_0") and len(s) == 10


@dataclass
class Expected:
    """What the engine must produce for a set of rows."""
    per_check: Counter = field(default_factory=Counter)
    # partition -> [n_rows, n_violations, n_failed_rows, n_errors, n_warnings]
    verdicts: dict = field(default_factory=dict)
    n_dup_keys: int = 0
    n_dangling: int = 0
    # partition -> [accepted, quarantined] under the ingest gate
    split: dict = field(default_factory=dict)

    def table_checks(self) -> Counter:
        c = Counter()
        if self.n_dup_keys:
            c[ID_UNIQUE] = self.n_dup_keys
        if self.n_dangling:
            c[ID_REF] = self.n_dangling
        return c


def expected(rows: list[dict], *, severity_error=frozenset()) -> Expected:
    """Expected outputs for ``rows`` validated as one unit. Row-level checks
    come from the metadata and ``defect_class(i)``; the table checks count
    duplicated clip ids (one violation per key) and unknown speakers."""
    e = Expected()
    ids = Counter(r["clip_id"] for r in rows)
    e.n_dup_keys = sum(1 for n in ids.values() if n > 1)
    for r in rows:
        d = fx.defect_class(r["_i"])
        fired = [cid for cid, f in ROW_CHECKS.items() if f(r, d)]
        e.per_check.update(fired)
        p = r["part_date"].isoformat()
        v = e.verdicts.setdefault(p, [0, 0, 0, 0, 0])
        n_err = sum(1 for cid in fired if cid in severity_error)
        v[0] += 1
        v[1] += len(fired)
        v[2] += bool(fired)
        v[3] += n_err
        v[4] += len(fired) - n_err
        s = e.split.setdefault(p, [0, 0])
        s[0 if n_err == 0 else 1] += 1
        if not _known_speaker(r["speaker_id"]):
            e.n_dangling += 1
    return e
