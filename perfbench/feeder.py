"""Live-phase event generator, run as its own process.

Plays a scripted websocket: after the go file appears, ``recv()`` hands
out one event frame per ``1/rate`` seconds on a fixed schedule (an open
loop: a frame is due at its slot whether or not the engine keeps up),
and the engine's :class:`WebsocketJournalFeeder` appends each one to
the sharded journal. Each event's ``ts`` is its due time, rounded to
the microsecond, so a late generator's delay counts in the latency.

    python3 perfbench/feeder.py --journal DIR --shards 4 --rate 100 \
        --count 750 --first-id 10000 --users 150 --seed 1 \
        --ready FILE --go FILE --out FILE

Writes ``{"t0", "written", "lag_p99_ms"}`` to ``--out`` at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


class ScriptedSocket:
    """The socket-client contract of :class:`WebsocketJournalFeeder`
    (``connect``/``send``/``recv``/``close``), serving a seeded event
    schedule that starts at ``t0``."""

    def __init__(self, args, t0: float):
        rng = np.random.default_rng([args.seed, 1])
        self._users = rng.integers(0, args.users, args.count)
        self._types = rng.integers(0, len(EVENT_TYPES), args.count)
        self._values = np.round(rng.exponential(50.0, args.count), 2)
        self._props = rng.integers(0, 100, args.count)
        self._args = args
        self._t0 = t0
        self._k = 0
        self.lags: list[float] = []

    def connect(self) -> None:
        pass

    def send(self, text: str) -> None:
        pass  # the subscribe frame; this server delivers every type

    def recv(self) -> str | None:
        k = self._k
        if k >= self._args.count:
            return None
        due = self._t0 + k / self._args.rate
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        self.lags.append(max(0.0, time.time() - due))
        self._k += 1
        payload = {
            "event_id": self._args.first_id + k,
            "ts": round(due * 1e6) / 1e6,
            "user_id": int(self._users[k]),
            "event_type": EVENT_TYPES[self._types[k]],
            "value": float(self._values[k]),
            "props": f'{{"k": {int(self._props[k])}}}',
        }
        return json.dumps({"service": "event", "type": "serviceMessage", "payload": payload})

    def close(self) -> None:
        pass


def main() -> int:
    ap = argparse.ArgumentParser()
    for name in ("journal", "ready", "go", "out"):
        ap.add_argument(f"--{name}", required=True)
    for name in ("shards", "count", "first-id", "users", "seed"):
        ap.add_argument(f"--{name}", type=int, required=True)
    ap.add_argument("--rate", type=float, required=True)
    args = ap.parse_args()

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from streamclient_spark.sources.transport import WebsocketJournalFeeder

    with open(args.ready, "w") as f:
        f.write("ready\n")
    deadline = time.time() + 150
    while not os.path.exists(args.go):
        if time.time() > deadline:
            return 3
        time.sleep(0.002)
    t0 = time.time()
    sock = ScriptedSocket(args, t0)
    written = WebsocketJournalFeeder(sock, args.journal, n_shards=args.shards).run()
    with open(args.out, "w") as f:
        json.dump(
            {
                "t0": t0,
                "written": written,
                "lag_p99_ms": float(np.percentile(sock.lags, 99)) * 1e3 if sock.lags else 0.0,
            },
            f,
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
