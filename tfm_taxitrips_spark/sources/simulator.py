"""Stream simulator — the Kafka producer analog (SURVEY.md §2.2 K6).

The reference replays a trips CSV as JSON Kafka messages at ~20 msg/s
(/root/reference/kafkaTaxiTripsProducer.py:26-51, ``time.sleep(0.05)``).
For a Kafka-free test path this writes the same JSON payloads as
JSON-lines files dropped into a directory in batches — the file-stream
source picks each drop up as a micro-batch.
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterable, Mapping


def replay_rows_as_json(
    rows: Iterable[Mapping[str, object]],
    out_dir: str,
    batch_size: int = 100,
    prefix: str = "batch",
) -> list[str]:
    """Write rows as JSON-lines files of ``batch_size`` rows each; returns
    the file paths in drop order. Every value is stringified except None —
    matching the reference producer, which emits the CSV's raw strings
    (/root/reference/kafkaTaxiTripsProducer.py:33-47)."""
    os.makedirs(out_dir, exist_ok=True)
    paths: list[str] = []
    batch: list[str] = []
    n = 0

    def flush() -> None:
        nonlocal batch, n
        if not batch:
            return
        name = f"{prefix}-{n:05d}.json"
        path = os.path.join(out_dir, name)
        # written under a hidden name, then renamed into place: a polling
        # file source skips hidden files, so it never lists a partial batch
        with open(os.path.join(out_dir, "." + name), "w") as f:
            f.write("\n".join(batch))
        os.replace(f.name, path)
        paths.append(path)
        batch = []
        n += 1

    for row in rows:
        payload = {
            k: (None if v is None else v if isinstance(v, str) else str(v))
            for k, v in row.items()
        }
        batch.append(json.dumps(payload))
        if len(batch) >= batch_size:
            flush()
    flush()
    return paths
