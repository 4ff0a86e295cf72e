"""The closed loop: one client, next operation only after the last one.

An operation ``op(i)`` sends one request, waits for the whole answer and
returns ``(kind, queries_answered, verify)``; only that much is timed,
in wall-clock time and, when a ``cpu`` clock is given, in CPU time.
``verify()`` then checks the answer outside the timed span and returns
``(problems, recalls)``. Latencies are kept per kind. An operation that
raises, or whose answer has problems, counts as failed and the loop goes
on. If the Spark driver is gone, the loop stops and every operation that
would have run until the deadline counts as failed, so a dead driver
still yields a complete result.
"""

from __future__ import annotations

import math
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field


@dataclass
class Outcome:
    latencies_s: dict[str, list[float]] = field(default_factory=dict)
    cpu_s: dict[str, list[float]] = field(default_factory=dict)
    queries: dict[str, list[int]] = field(default_factory=dict)
    recalls: list[list[float]] = field(default_factory=list)  # per operation, in order
    attempted: int = 0
    failed: int = 0
    wall_s: float = 0.0
    driver_dead: bool = False


def closed_loop(
    op,
    alive,
    seconds: float = math.inf,
    first: int = 0,
    min_ops: int = 0,
    max_ops: int | None = None,
    clock=time.perf_counter,
    cpu=None,
) -> Outcome:
    """Run ``op(first)``, ``op(first + 1)``, ... until ``seconds`` have
    passed and at least ``min_ops`` ran, or until ``max_ops`` ran."""
    out = Outcome()
    t0 = clock()
    deadline = t0 + seconds
    done = 0
    while (done < min_ops or clock() < deadline) and (max_ops is None or done < max_ops):
        i = first + done
        cpu_start = cpu() if cpu else 0.0
        start = clock()
        out.attempted += 1
        done += 1
        try:
            kind, queries, verify = op(i)
            latency = clock() - start
            cpu_used = cpu() - cpu_start if cpu else 0.0
            problems, recalls = verify()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            out.failed += 1
            out.recalls.append([])
            if not alive():
                out.driver_dead = True
                if max_ops is not None:
                    lost = max_ops - done
                else:
                    lat = [x for v in out.latencies_s.values() for x in v]
                    typical = statistics.median(lat) if lat else clock() - start
                    left = max(0.0, deadline - clock())
                    lost = math.ceil(left / typical) if typical > 0 else 0
                out.attempted += lost
                out.failed += lost
                break
            continue
        out.latencies_s.setdefault(kind, []).append(latency)
        out.cpu_s.setdefault(kind, []).append(cpu_used)
        out.queries.setdefault(kind, []).append(queries)
        out.recalls.append(recalls)
        if problems:
            print(f"op {i} failed its check: {problems[:3]}", file=sys.stderr)
            out.failed += 1
    out.wall_s = clock() - t0
    return out
