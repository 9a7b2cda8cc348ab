"""Load generator: one process, separate from the engine.

``python3 loadgen.py SPEC.json OUT.json``

Traffic runs for ``warm_s + seconds`` from ``t0``; the first
``warm_s`` are warm-up, which the engine side leaves out of its figures.

- sender: open loop over one TCP connection. Group ``g`` is due at
  ``t0 + g / groups_per_s``; a late generator sends at once and records
  how late it was, so a stall in the engine never slows the schedule.
- readers: ``readers`` closed-loop HTTP clients (each sends its next
  request when the previous answer arrived) from ``t0`` to the end of
  the traffic. Without ``panels`` they cycle the request-type ``mix``
  over fresh random series and the last ``recent_s`` seconds, so
  requests rarely repeat; with ``panels`` they replay that fixed panel
  set, Zipf skewed, so requests repeat.

Threads: one sender plus the readers, never more than the CPU count.
"""

from __future__ import annotations

import json
import os
import random
import socket
import sys
import threading
import time
import urllib.error
import urllib.parse
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import panels as _panels  # noqa: E402
from corpus import Corpus  # noqa: E402


def _sleep_until(t: float) -> None:
    while True:
        d = t - time.time()
        if d <= 0:
            return
        time.sleep(min(d, 0.05))


def send_groups(spec: dict, corpus: Corpus) -> list[list]:
    gps, n = spec["groups_per_s"], spec["per_group"]
    count = int((spec["warm_s"] + spec["seconds"]) * gps)
    t0 = spec["t0"]
    payloads = []
    for g in range(count):
        due = t0 + g / gps
        lines = corpus.live_group(g, n, int(due))
        payloads.append(("\n".join(text for text, _ in lines) + "\n").encode())
    out, cum = [], 0
    with socket.create_connection(("127.0.0.1", spec["rx_port"])) as sock:
        for g, payload in enumerate(payloads):
            due = t0 + g / gps
            _sleep_until(due)
            start = time.time()
            sock.sendall(payload)
            cum += n
            out.append([due, start, time.time(), n, cum])
    return out


def read_loop(spec: dict, corpus: Corpus, reader: int, out: list) -> None:
    """Closed loop. The sequence of request types is the same for every
    seed (panel ranks drawn from a fixed generator, or the mix cycled
    in order); the seed picks the series."""
    rng = random.Random(spec["seed"] * 104_729 + reader)
    ranks = random.Random(104_729 + reader)
    base = f"http://127.0.0.1:{spec['api_port']}"
    t_end = spec["t0"] + spec["warm_s"] + spec["seconds"]
    panel_set = spec.get("panels")
    weights = _panels.zipf_weights(len(panel_set)) if panel_set else None
    mix = spec["mix"]
    _sleep_until(spec["t0"])
    n = 0
    while time.time() < t_end:
        if panel_set:
            req = dict(ranks.choices(panel_set, weights)[0])
        else:
            kind = mix[(n * spec["readers"] + reader) % len(mix)]
            now = int(time.time())
            req = _panels.build(
                corpus, kind, rng, (now - spec["recent_s"], now), spec["rolled_window"]
            )
        url = base + req["endpoint"] + "?" + urllib.parse.urlencode(req["params"])
        rec = {"reader": reader, **req, "t_start": time.time()}
        try:
            with urllib.request.urlopen(url, timeout=spec["timeout_s"]) as resp:
                rec["status"] = resp.status
                rec["body"] = json.loads(resp.read())
        except urllib.error.HTTPError as e:
            rec["status"] = e.code
            rec["error"] = e.read()[:300].decode("utf-8", "replace")
        except (OSError, ValueError) as e:  # timeouts, resets, bad JSON
            rec["status"] = 0
            rec["error"] = repr(e)[:300]
        rec["t_end"] = time.time()
        out.append(rec)
        n += 1


def main(spec_path: str, out_path: str) -> None:
    with open(spec_path) as fh:
        spec = json.load(fh)
    if spec["readers"] + 1 > (os.cpu_count() or 1):
        raise SystemExit("loadgen: more threads than CPUs")
    corpus = Corpus(spec["seed"], *spec["shape"])
    requests: list[dict] = []
    readers = [
        threading.Thread(target=read_loop, args=(spec, corpus, r, requests))
        for r in range(spec["readers"])
    ]
    for t in readers:
        t.start()
    groups = send_groups(spec, corpus)
    for t in readers:
        t.join()
    with open(out_path, "w") as fh:
        json.dump({"groups": groups, "requests": requests}, fh)


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
