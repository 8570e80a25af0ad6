"""Adaptive micro-batch sizing (backpressure) for the ingest replay loop.

Why this exists: micro-batch size is the single biggest throughput lever
this engine has measured — resizing the round-3 bench stream from 6 small
epochs to 3x1.1M-event batches was a 2.9-3.8x events/s improvement
(BENCH/BASELINE.md), because every epoch pays fixed costs (JVM job launch,
codegen reuse misses, a table commit, checkpoint writes) that amortize
over the batch. But the right size is workload- and host-dependent: too
large and an epoch overshoots executor memory / latency SLOs, too small
and fixed costs dominate. Kafka-ecosystem runtimes solve this with rate
controllers (Spark's own streaming backpressure, Connect's poll sizing);
this module is the engine-native equivalent for the file-tail source.

Design: a deterministic AIMD-style controller over COMMITTED batch walls.
The pipeline groups ``size`` pending source epochs into one commit; after
each commit the controller observes the wall and adjusts:

- wall < target*(1-deadband): multiplicative increase (``grow``), capped —
  fixed costs dominate, amortize harder;
- wall > target*(1+deadband): multiplicative decrease (``shrink``),
  floored at 1 — the batch overshot the latency target;
- inside the deadband: hold (hysteresis — no oscillation between two
  adjacent sizes whose walls straddle the target).

Growth is also clamped by observed per-epoch cost: the next size never
exceeds what the LAST observed per-epoch wall projects to fit in
``target_sec`` (``ceil`` of target over per-epoch wall), so one
pathological grow step cannot produce a batch 8x over target before the
shrink path reacts. All arithmetic is pure and deterministic — unit tests
feed synthetic walls; no wall-clock reads happen in this module.

Exactly-once composes unchanged: a grouped commit is ONE table commit
whose ``committed_epoch`` is the group's max source epoch, so the replay
guard (skip epoch <= committed) holds under any grouping, and the
batch-misalignment invariant (resolution is a pure function of
(key, op_seq) — any split of the stream into micro-batches converges to
the same table) makes the grouping semantically invisible. Crash-resume
restores the learned size from a checkpoint-dir state file written with
the same atomic-rename contract as the lineage log.

Reference framing: Kafka Connect sizes SMT input by consumer poll
(``max.poll.records``); the reference transform is batch-size-agnostic
(Transform.java apply() is per-record). The engine owns the runtime, so
it owns the sizing.
"""

from __future__ import annotations

import json
import math
import os
from dataclasses import dataclass, field

from cdcrypt.table.commitfile import atomic_write_json


@dataclass
class BatchSizeController:
    """Deterministic AIMD controller for epochs-per-commit.

    ``observe(size, wall_sec)`` returns the next size. State is two
    numbers (current size, last per-epoch wall) — trivially serializable.
    """

    target_sec: float = 8.0
    min_size: int = 1
    max_size: int = 64
    grow: float = 2.0
    shrink: float = 0.5
    deadband: float = 0.25
    size: int = 1
    last_epoch_sec: float | None = field(default=None)

    def __post_init__(self) -> None:
        if self.target_sec <= 0:
            raise ValueError("target_sec must be > 0")
        if not (1 <= self.min_size <= self.max_size):
            raise ValueError("need 1 <= min_size <= max_size")
        if self.grow <= 1.0 or not (0.0 < self.shrink < 1.0):
            raise ValueError("grow must be > 1 and 0 < shrink < 1")
        if not (0.0 <= self.deadband < 1.0):
            raise ValueError("deadband must be in [0, 1)")
        self.size = self._clamp(self.size)

    # ---------- core ----------
    def observe(self, size: int, wall_sec: float) -> int:
        """Record a committed batch of ``size`` epochs taking ``wall_sec``
        and return the size for the next batch."""
        if size < 1 or wall_sec < 0:
            raise ValueError("size >= 1 and wall_sec >= 0 required")
        self.last_epoch_sec = wall_sec / size if wall_sec > 0 else None
        lo = self.target_sec * (1.0 - self.deadband)
        hi = self.target_sec * (1.0 + self.deadband)
        if wall_sec > hi:
            nxt = math.floor(size * self.shrink)
        elif wall_sec < lo:
            nxt = math.ceil(size * self.grow)
            if self.last_epoch_sec is not None:
                # cost-projected cap: don't grow past what the observed
                # per-epoch wall says fits in the target
                fit = math.ceil(self.target_sec / self.last_epoch_sec)
                nxt = min(nxt, max(fit, size))
        else:
            nxt = size
        self.size = self._clamp(nxt)
        return self.size

    def _clamp(self, n: int) -> int:
        return max(self.min_size, min(self.max_size, int(n)))

    # ---------- persistence (atomic, crash-safe like the lineage log) ----
    @staticmethod
    def _state_path(checkpoint_dir: str) -> str:
        return os.path.join(checkpoint_dir, "batch_size_state.json")

    def save(self, checkpoint_dir: str) -> None:
        os.makedirs(checkpoint_dir, exist_ok=True)
        atomic_write_json(self._state_path(checkpoint_dir),
                          {"size": self.size,
                           "last_epoch_sec": self.last_epoch_sec,
                           "target_sec": self.target_sec})

    def load(self, checkpoint_dir: str) -> "BatchSizeController":
        """Restore the learned size (not the tuning constants — those are
        code, and a restart may legitimately retune them)."""
        p = self._state_path(checkpoint_dir)
        if os.path.exists(p):
            with open(p) as f:
                st = json.load(f)
            self.size = self._clamp(int(st.get("size", self.size)))
            le = st.get("last_epoch_sec")
            self.last_epoch_sec = float(le) if le is not None else None
        return self

    # ---------- structured-driver bridge ----------
    def files_per_trigger(self, files_per_epoch: int = 1) -> int:
        """The learned size expressed as ``maxFilesPerTrigger`` for the
        Structured Streaming driver: a restart of an availableNow stream
        picks up where the manual loop's controller (or a previous stream
        run) converged."""
        return max(1, self.size * max(1, files_per_epoch))
