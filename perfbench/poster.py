"""In-process KV poster for the batch workload's KV sink fork.

Kept in its own dependency-free module: it is pickled into every Python
worker, which re-imports it by name.
"""

from __future__ import annotations


class CountingPoster:
    """Counts payloads and calls through Spark accumulators instead of
    sending them anywhere, and flags any call above the batch limit."""

    def __init__(self, sc, limit: int):
        self.limit = limit
        self.payloads = sc.accumulator(0)
        self.calls = sc.accumulator(0)
        self.oversize = sc.accumulator(0)

    def __call__(self, batch: list[str]) -> None:
        self.payloads.add(len(batch))
        self.calls.add(1)
        if len(batch) > self.limit:
            self.oversize.add(1)
