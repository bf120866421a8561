"""What every workload provides to the runner."""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable


@dataclass
class Op:
    """One closed-loop operation.  ``kind`` is ``query`` for reads (the
    latency percentiles are taken over these), anything else for writes
    and batch work."""

    kind: str
    name: str
    fn: Callable


class Workload:
    """Lifecycle: ``prepare`` (inputs and oracle answers, untimed) →
    ``setup`` (timed as set-up, repeated) → ``warm`` (untimed) →
    ``cycle(i)`` (the measured operations, deterministic per index) →
    ``check``."""

    def __init__(self, name: str, seed: int):
        self.name = name
        self.seed = seed
        self.tracer = None  # set by the runner during the traced pass

    def prepare(self) -> None:
        pass

    def setup(self, spark) -> None:
        """The workload's own set-up."""

    def warm(self, spark) -> None:
        pass

    def reset(self, spark) -> None:
        """Return to the post-set-up state before a replay of the same
        cycles (only stateful workloads need it)."""

    def cycle(self, i: int) -> list[Op]:
        raise NotImplementedError

    def check(self) -> list[str]:
        """One reason per failed output; run after timing."""
        raise NotImplementedError

    def report(self) -> dict:
        """Workload-specific end-to-end figures (e.g. recall, storage)."""
        return {}

    def layer_report(self, spark, tracer) -> dict:
        """Workload-specific per-layer figures for the traced run."""
        return {}
