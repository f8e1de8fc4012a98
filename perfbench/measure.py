"""Measurement helpers with no Spark dependency.

- ``Tally``: operations attempted and failed, where a raised
  exception or a failed oracle check both count as a failure and
  neither aborts the run;
- process-tree CPU, taken from the repository's ``bench.py``: this
  process plus every live descendant (in local mode that is the Python
  driver, the JVM and the Python workers), so deltas do not see other
  processes on a loaded host;
- metric-name validation.
"""

from __future__ import annotations

import os
import re
import statistics
import sys
import traceback
from contextlib import contextmanager

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from bench import _tree_cpu_delta as tree_cpu_delta  # noqa: E402,F401
from bench import _tree_cpu_sample as tree_cpu_sample  # noqa: E402

METRIC_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def valid_metric_name(name: str) -> bool:
    return METRIC_NAME.fullmatch(name) is not None


def median(values: list[float]) -> float | None:
    return statistics.median(values) if values else None


class Op:
    """One attempted operation; ``check`` marks it failed when an
    oracle disagrees, also after the operation's block has closed."""

    def __init__(self, tally: "Tally", name: str):
        self.tally = tally
        self.name = name
        self.failed = False
        self.closed = False

    def check(self, ok: bool, what: str) -> bool:
        if not ok and not self.failed:
            self.failed = True
            self.tally.errors.append(f"{self.name}: {what}")
            if self.closed:
                self.tally.failed += 1
        return ok


class Tally:
    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    @contextmanager
    def op(self, name: str):
        """Count one operation. An exception inside the block is
        recorded as a failure and swallowed, so the run goes on."""
        op = Op(self, name)
        self.attempted += 1
        try:
            yield op
        except Exception as exc:  # boundary: record and keep running
            if not op.failed:
                op.failed = True
                self.errors.append(f"{name}: {type(exc).__name__}: {exc}")
            traceback.print_exc(file=sys.stderr)
        finally:
            op.closed = True
            if op.failed:
                self.failed += 1

    @property
    def failed_ratio(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


def descendants() -> list[int]:
    """Pids of live descendants of this process."""
    return [pid for pid, _ in tree_cpu_sample() if pid != os.getpid()]
