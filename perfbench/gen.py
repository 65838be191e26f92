"""Open-loop Riemann TCP load generator, run as its own process.

Frames are encoded from the seed before the clock starts. Frame ``k`` is
due at ``t0 + k * per_frame / rate`` and is sent then, whether or not
earlier frames were acknowledged; a reader thread takes the in-order
acks off the same connection. A third thread scrapes ``GET /metrics``
once a second. Three threads and one TCP connection, never more than
``nproc``.

Writes one JSON record: ``t0_wall``, per frame ``[due, sent, ack, ok,
events]`` (wall-clock seconds) and the scrape times in ms.
"""

from __future__ import annotations

import argparse
import http.client
import json
import os
import socket
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import inputs  # noqa: E402
from sut import LIVE_HOSTS, LIVE_PER_FRAME, LIVE_RATE, RAMP_S, read_frame  # noqa: E402

OK_MSG = b"\x10\x01"  # Msg{ok: true}
LEAD_S = 0.2  # first frame is due this long after the clock starts


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tcp-port", type=int, required=True)
    ap.add_argument("--http-port", type=int, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    sched = inputs.live_schedule(args.seed, LIVE_RATE, RAMP_S + args.seconds, LIVE_HOSTS)
    frames = inputs.live_frames(sched, LIVE_PER_FRAME)
    sizes = [min(LIVE_PER_FRAME, len(sched["due_us"]) - i * LIVE_PER_FRAME)
             for i in range(len(frames))]
    sent = [0.0] * len(frames)
    acks: list[tuple[float, bool]] = []
    scrapes: list[float] = []
    sock = socket.create_connection(("127.0.0.1", args.tcp_port), timeout=120)
    t0 = time.time() + LEAD_S
    # a frame leaves once its last event exists, so batching delay
    # counts against latency like any other wait
    due = [t0 + sched["due_us"][min((i + 1) * LIVE_PER_FRAME, len(sched["due_us"])) - 1] / 1e6
           for i in range(len(frames))]
    done = threading.Event()

    def read_acks() -> None:
        for _ in frames:
            body = read_frame(sock)
            acks.append((time.time(), body == OK_MSG))

    def scrape() -> None:
        t = t0
        while not done.is_set():
            t += 1.0
            if done.wait(max(t - time.time(), 0)):
                return
            a = time.time()
            c = http.client.HTTPConnection("127.0.0.1", args.http_port, timeout=30)
            try:
                c.request("GET", "/metrics")
                c.getresponse().read()
            finally:
                c.close()
            scrapes.append((time.time() - a) * 1000.0)

    reader = threading.Thread(target=read_acks)
    scraper = threading.Thread(target=scrape)
    reader.start()
    scraper.start()
    try:
        for i, frame in enumerate(frames):
            wait = due[i] - time.time()
            if wait > 0:
                time.sleep(wait)
            sent[i] = time.time()
            sock.sendall(frame)
        reader.join(timeout=120)
    finally:
        done.set()
        scraper.join(timeout=60)
        sock.close()
    if reader.is_alive() or len(acks) != len(frames):
        print("generator: acks missing", file=sys.stderr)
        return 1
    with open(args.out, "w") as f:
        json.dump({
            "t0_wall": t0,
            "frames": [[due[i], sent[i], acks[i][0], acks[i][1], sizes[i]]
                       for i in range(len(frames))],
            "scrapes_ms": scrapes,
        }, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
