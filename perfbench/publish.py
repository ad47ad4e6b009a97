#!/usr/bin/env python3
"""The stream-ingest generator process: single-threaded and open-loop, it
appends each message of a schedule (written by gen.py) to its TopicLog
channel file at its due time, however far the consumer has got, and logs
(channel, byte offset, due time, write time) per message.

    publish.py --schedule F --root DIR --log F --start-epoch T [--part I --parts N]

It imports nothing beyond the standard library, so it starts in a fraction
of the time gen.py (numpy, pyarrow) would take before its first due time.
"""
import argparse
import json
import sys
import time
from pathlib import Path


def publish(schedule: Path, root: Path, log: Path, start_epoch: float,
            part: int = 0, parts: int = 1) -> int:
    """Publish the schedule from `start_epoch` on. With parts > 1 only the
    part-th contiguous share of it, due times rebased to its first
    message."""
    root.mkdir(parents=True, exist_ok=True)
    lines = schedule.read_text().splitlines()
    lines = lines[part * len(lines) // parts:(part + 1) * len(lines) // parts]
    base = json.loads(lines[0])["due"] if lines else 0.0
    files, offsets, out = {}, {}, []
    try:
        for line in lines:
            m = json.loads(line)
            due = start_epoch + m["due"] - base
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            ch = m["channel"]
            if ch not in files:
                files[ch] = open(root / f"{ch}.log", "ab", buffering=0)
                offsets[ch] = files[ch].tell()
            data = (m["msg"] + "\n").encode()
            files[ch].write(data)
            out.append([ch, offsets[ch], round(due, 6), round(time.time(), 6)])
            offsets[ch] += len(data)
    finally:
        for f in files.values():
            f.close()
    log.write_text(json.dumps(out))
    return 0


def main(argv) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--schedule", type=Path, required=True)
    ap.add_argument("--root", type=Path, required=True)
    ap.add_argument("--log", type=Path, required=True)
    ap.add_argument("--start-epoch", type=float, required=True)
    ap.add_argument("--part", type=int, default=0)
    ap.add_argument("--parts", type=int, default=1)
    a = ap.parse_args(argv)
    return publish(a.schedule, a.root, a.log, a.start_epoch, a.part, a.parts)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
