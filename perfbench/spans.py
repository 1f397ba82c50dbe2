"""In-memory spans recorded around calls into the engine's layers.

A span has a name, start and end (epoch seconds, the clock Spark's status
store also uses), a parent span and the pass it belongs to. Spans stay in
memory and are written once, when the run ends. A layer's self time is
its spans' durations minus the part their children cover.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from typing import Dict, Iterator, List, Tuple


def union_length(intervals: List[Tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    def __init__(self) -> None:
        self.spans: List[dict] = []

    def add(self, name: str, start: float, end: float, parent: int | None,
            pass_id: int | None) -> int:
        self.spans.append({"id": len(self.spans), "name": name, "start": start,
                           "end": end, "parent": parent, "pass": pass_id})
        return len(self.spans) - 1

    @contextmanager
    def span(self, name: str, parent: int | None = None,
             pass_id: int | None = None) -> Iterator[int]:
        sid = self.add(name, time.time(), float("nan"), parent, pass_id)
        try:
            yield sid
        finally:
            self.spans[sid]["end"] = time.time()

    def children(self, sid: int) -> List[dict]:
        return [s for s in self.spans if s["parent"] == sid]

    def self_time(self, sid: int) -> float:
        sp = self.spans[sid]
        covered = union_length(
            [(c["start"], c["end"]) for c in self.children(sid)], sp["start"], sp["end"]
        )
        return sp["end"] - sp["start"] - covered

    def self_times(self) -> Dict[str, float]:
        """Total self time per span name."""
        out: Dict[str, float] = {}
        for sp in self.spans:
            out[sp["name"]] = out.get(sp["name"], 0.0) + self.self_time(sp["id"])
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = f"{path}.tmp"
        with open(tmp, "w") as fh:
            json.dump({"spans": self.spans, "self_s": self.self_times()}, fh)
        os.replace(tmp, path)
