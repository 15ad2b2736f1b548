"""Workload definitions and seeded input generation.

Every conversation is generated from its own ``random.Random`` seeded by
(seed, conversation index), the scheme ``fixtures.transcripts.
distributed_transcripts`` uses, so the same seed always gives the same
table. Generation runs in the calling process, single-threaded, before any
timed region; the result is cached under the work directory keyed by
workload, size and seed.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass

N_FILES = 8  # parquet files per input: two scan splits per core
SAMPLE_PER_KIND = 24  # oracle-checked turns per payload kind


@dataclass(frozen=True)
class Workload:
    name: str
    turns: int  # conversations are added until the input holds this many turns
    include_real_pdf: bool
    skew_factor: int  # conversation 0 has 30 * skew_factor turns


WORKLOADS = {
    w.name: w
    for w in [
        Workload("transcripts-mixed", turns=16_000, include_real_pdf=False, skew_factor=20),
        Workload("transcripts-realpdf", turns=6_000, include_real_pdf=True, skew_factor=20),
    ]
}

# --size tiny: the self-test shape, seconds per run instead of tens
TINY = {"transcripts-mixed": (600, 5), "transcripts-realpdf": (300, 5)}


def sized(w: Workload, size: str) -> Workload:
    if size == "full":
        return w
    turns, skew = TINY[w.name]
    return Workload(w.name, turns, w.include_real_pdf, skew)


def _conversations(seed: int, w: Workload) -> list[list[dict]]:
    """Conversation 0 is the skew conversation (30 * skew_factor turns);
    the rest follow until the input holds ``w.turns`` turns."""
    from pdf_extraction_ai_agent_spark.fixtures.transcripts import conv_rows

    convs: list[list[dict]] = []
    n = 0
    while n < w.turns:
        rng = random.Random(seed * 1_000_003 + len(convs))
        convs.append(conv_rows(len(convs), rng, True, w.skew_factor, w.include_real_pdf))
        n += len(convs[-1])
    return convs


def _table(rows: list[dict]):
    import pyarrow as pa

    schema = pa.schema([
        ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
        ("text", pa.string()), ("tool", pa.string()), ("ts", pa.timestamp("us", tz="UTC")),
    ])
    return pa.Table.from_pylist(rows, schema=schema)


def _kind(text: str, tool: str) -> str:
    from pdf_extraction_ai_agent_spark.oracle.reference_extractor import sniff_payload_kind

    return sniff_payload_kind(text, tool)


def generate(w: Workload, seed: int, work_dir: str) -> str:
    """Write the workload's transcripts under ``work_dir`` and return the
    input directory. Holds ``transcripts/`` (N_FILES parquet parts) and
    ``sample.json``: a seeded sample of rows covering every payload kind,
    each with its ``oracle.extract_turn`` result."""
    import pyarrow.parquet as pq

    out = os.path.join(work_dir, "inputs", f"{w.name}-t{w.turns}-k{w.skew_factor}-s{seed}")
    marker = os.path.join(out, "_DONE")
    if os.path.exists(marker):
        return out
    tdir = os.path.join(out, "transcripts")
    os.makedirs(tdir, exist_ok=True)
    convs = _conversations(seed, w)
    # the skew conversation gets a file of its own
    bounds = [0, 1] + [1 + (len(convs) - 1) * (k + 1) // (N_FILES - 1) for k in range(N_FILES - 1)]
    rng = random.Random(seed)
    by_kind: dict[str, list] = {}
    seen: dict[str, int] = {}
    n_rows = 0
    for part, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
        rows = [r for c in convs[lo:hi] for r in c]
        n_rows += len(rows)
        pq.write_table(_table(rows), os.path.join(tdir, f"part-{part:03d}.parquet"))
        for r in rows:
            # one reservoir sample per kind, so every kind is covered
            k = _kind(r["text"], r["tool"])
            cap = SAMPLE_PER_KIND
            if k == "pdf_real" and "/AESV3" in r["text"]:
                # AES-256: the oracle's password KDF costs ~2.5 s a document
                k, cap = "pdf_real_aes256", 1
            lst = by_kind.setdefault(k, [])
            seen[k] = seen.get(k, 0) + 1
            if len(lst) < cap:
                lst.append(r)
            else:
                j = rng.randrange(seen[k])
                if j < cap:
                    lst[j] = r
    from pdf_extraction_ai_agent_spark.oracle import extract_turn

    sample = [
        {"conv_id": r["conv_id"], "turn_idx": r["turn_idx"], "ts": r["ts"].isoformat(),
         "kind": k, "expected": extract_turn(r["text"], r["tool"])}
        for k, lst in sorted(by_kind.items()) for r in lst
    ]
    with open(os.path.join(out, "sample.json"), "w") as f:
        json.dump({"rows": n_rows, "sample": sample}, f)
    open(marker, "w").close()
    return out
