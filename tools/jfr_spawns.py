"""Count the child processes a JVM started, from a JFR recording.

Hadoop's local filesystem forks ``readlink``, ``chmod`` and ``rm`` when
``libhadoop`` is missing; this says how many, for which files, from
which threads. Record your own Spark driver JVM (``jcmd -l`` lists it as
``SparkSubmit``) and print the recording's spawn events:

    jcmd <pid> JFR.start duration=10s settings=profile filename=/tmp/rec.jfr
    jfr print --events jdk.ProcessStart /tmp/rec.jfr > /tmp/spawns.txt
    python tools/jfr_spawns.py /tmp/spawns.txt      # or - for stdin

It prints the spawn count, then the counts by command, by path pattern
(numbers and UUIDs folded to N and UUID) and by thread (numbers folded).
"""

from __future__ import annotations

import collections
import re
import sys

_UUID = re.compile(r"[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}")
_NUM = re.compile(r"\d+")


def _fold(s: str) -> str:
    return _NUM.sub("N", _UUID.sub("UUID", s))


def spawns(lines) -> list[tuple[str, str]]:
    """(command line, thread name) of each ``jdk.ProcessStart`` event."""
    out = []
    for line in lines:
        key, _, value = line.strip().partition(" = ")
        if key == "command":
            out.append([value.strip('"'), ""])
        elif key == "eventThread" and out:
            out[-1][1] = value.split('"')[1] if '"' in value else value
    return [tuple(e) for e in out]


def main(argv: list[str]) -> None:
    if argv[1:] in ([], ["-"]):
        events = spawns(sys.stdin)
    else:
        with open(argv[1]) as fh:
            events = spawns(fh)
    print(f"spawns: {len(events)}")
    tables = {
        "command": (cmd.split()[0] for cmd, _ in events),
        "path": (_fold(cmd.split()[-1].removeprefix("file:"))
                 for cmd, _ in events),
        "thread": (_fold(thread) for _, thread in events),
    }
    for name, keys in tables.items():
        print(f"\nby {name}:")
        for key, n in collections.Counter(keys).most_common(15):
            print(f"{n:8d}  {key}")


if __name__ == "__main__":
    main(sys.argv)
