"""Job workers the queue workloads register.  They run in Spark's Python
workers, which import this module by name (the benchmark puts its own
directory on PYTHONPATH).

A job's args are `[payload, token]`.  An empty token succeeds at once; a
non-empty token fails the first attempt and succeeds on the retry, which
the worker tells apart by a marker file named after the token.
"""

from __future__ import annotations

import os


def _first_attempt(marker_dir: str, token: str) -> bool:
    """True (and leaves the marker) if this token has not been seen."""
    try:
        fd = os.open(os.path.join(marker_dir, token), os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError:
        return False
    os.close(fd)
    return True


class SingleJob:
    """Single-dispatch worker: `perform(payload, token)`."""

    def __init__(self, marker_dir: str):
        self.marker_dir = marker_dir

    def __call__(self, payload: str, token: str = "") -> None:
        if token and _first_attempt(self.marker_dir, token):
            raise RuntimeError(f"planned first-attempt failure {token}")


class BatchJob:
    """Bulk worker: `perform([[payload, token], ...])`.  The batch fails
    (all-or-nothing) if any of its tokens is on its first attempt."""

    def __init__(self, marker_dir: str):
        self.marker_dir = marker_dir

    def __call__(self, batch: list) -> None:
        fresh = [tok for _, tok in batch if tok and _first_attempt(self.marker_dir, tok)]
        if fresh:
            raise RuntimeError(f"planned first-attempt failure {fresh[0]}")
