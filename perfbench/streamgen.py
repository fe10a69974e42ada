"""Open-loop load generator for the stream phase of a traced sink_fanout run.

A single-threaded process that writes one NDJSON chunk file into the
replay directory every ``CHUNK_MS`` on a fixed schedule, whatever the
sink is doing. Each record is stamped with its due time; a chunk file
appears when its last record is due (written aside, then renamed so the
file source never sees a partial file). On SIGTERM or after
``--seconds`` it prints how late it ran, as JSON, and exits.

    python3 perfbench/streamgen.py --dir D --seed 1 --start T --seconds 20
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import datagen  # noqa: E402

RATE = 2000  # records per second, tombstones included
CHUNK_MS = 200
PARTITIONS = 16
TOMBSTONES = 0.05  # share of null-value records


def chunk_lines(seed: int, n: int, start: float, offsets: list) -> list[str]:
    """Lines of chunk ``n``; ``offsets`` holds the next offset per partition."""
    rng = np.random.default_rng([seed, n])
    per_chunk = RATE * CHUNK_MS // 1000
    t0 = start + n * CHUNK_MS / 1000.0
    lines = []
    for i in range(per_chunk):
        seq = n * per_chunk + i
        p = int(rng.integers(0, PARTITIONS))
        due = t0 + (i / per_chunk) * CHUNK_MS / 1000.0
        lines.append(datagen.stream_record(rng, seq, due, p, offsets[p], bool(rng.random() < TOMBSTONES)))
        offsets[p] += 1
    return lines


def write_chunk(directory: str, n: int, lines: list[str]) -> None:
    tmp = os.path.join(directory, f".chunk-{n:06d}.tmp")
    with open(tmp, "w", encoding="utf-8") as f:
        f.write("\n".join(lines) + "\n")
    os.rename(tmp, os.path.join(directory, f"chunk-{n:06d}.json"))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--dir", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--start", type=float, required=True, help="due time of the first record (epoch s)")
    ap.add_argument("--seconds", type=float, required=True)
    args = ap.parse_args()

    stop = []
    signal.signal(signal.SIGTERM, lambda *_: stop.append(1))
    offsets = [0] * PARTITIONS
    n_chunks = int(args.seconds * 1000 // CHUNK_MS)
    late = []
    for n in range(n_chunks):
        lines = chunk_lines(args.seed, n, args.start, offsets)
        due = args.start + (n + 1) * CHUNK_MS / 1000.0
        while not stop and time.time() < due:
            time.sleep(min(0.01, max(0.0, due - time.time())))
        if stop:
            break
        write_chunk(args.dir, n, lines)
        late.append(time.time() - due)
    print(json.dumps({"chunks": len(late), "late_max_ms": 1000 * max(late, default=0.0),
                      "late_mean_ms": 1000 * sum(late) / max(1, len(late))}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
