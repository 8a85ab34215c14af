"""In-memory spans for a traced run, and per-layer self time.

A span is one interval at a layer boundary: pass, query, build (the
catalog query function), execute (the action), Spark job and stage. Spans
are held in a list and written out once, when the run ends.
"""

from __future__ import annotations

from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    parent: int | None
    kind: str
    name: str
    start: float  # epoch seconds
    end: float


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []

    def add(self, parent: int | None, kind: str, name: str, start: float, end: float) -> int:
        sid = len(self.spans)
        self.spans.append(Span(sid, parent, kind, name, start, end))
        return sid

    def as_dicts(self) -> list[dict]:
        return [asdict(s) for s in self.spans]

    def self_time(self, root: int) -> dict[str, float]:
        """Seconds per span kind under ``root`` not covered by a child span.

        Children can overlap (a stage's tasks run in parallel with other
        stages), so the covered part is the union of the children's
        intervals clipped to the parent.
        """
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        todo = [self.spans[root]]
        while todo:
            span = todo.pop()
            kids = children.get(span.id, [])
            todo.extend(kids)
            covered = _union_length(
                [(max(k.start, span.start), min(k.end, span.end)) for k in kids]
            )
            out[span.kind] = out.get(span.kind, 0.0) + max(0.0, span.end - span.start - covered)
        return out


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
