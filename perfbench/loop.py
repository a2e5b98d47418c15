"""The closed loop every workload runs: one client, each operation sent
when the previous one has returned."""

from __future__ import annotations

import time


def closed_loop(n_ops: int, seconds: float, op) -> dict:
    """Calls ``op(batch, i)`` for ``i`` in ``range(n_ops)``, in whole
    batches, until ``seconds`` have passed; at least one batch runs.
    Only whole batches keep every operation's share of the samples the
    same from run to run.  Returns every operation's latency and every
    batch's time, in seconds."""
    ops, batches = [], []
    deadline = time.perf_counter() + seconds
    while not batches or time.perf_counter() < deadline:
        t0 = time.perf_counter()
        for i in range(n_ops):
            t = time.perf_counter()
            op(len(batches), i)
            ops.append(time.perf_counter() - t)
        batches.append(time.perf_counter() - t0)
    return {"ops_s": ops, "batches_s": batches}
