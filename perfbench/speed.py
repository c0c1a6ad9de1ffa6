"""Machine-speed calibration: every timing the benchmark reports is
rescaled to a reference machine speed.

On a shared host one CPU's speed for the same Python code flips between
two levels, about 1.9x apart, from one second to the next, and the share
of time spent at each level drifts over minutes.  Raw timings follow the
host, not the code.  So the benchmark times a fixed calibration kernel
that uses only the standard library (``html.parser`` over a fixed page and
a ``json`` round trip; nothing from the library under test) next to what
it measures, and rescales to the reference speed at which one kernel pass
takes ``REF_S``:

* ``service-single`` brackets every request with the kernel:
  ``raw * REF_S / mean(kernel before, kernel after)``.  Over 60 s of
  alternating kernel and extraction calls on a 4-core VM, the raw latency
  of the same five pages moved between 1.43 and 2.03 ms (5 s medians)
  while their ratio to the kernel stayed within 3.41-3.53.
* Set-up and the Spark passes run the kernel every 20 ms and scale by
  ``REF_S / mean(kernel times)``.  Each CPU changes speed on its own, so
  the kernel runs where the measured work runs: from a timer signal on
  the main thread of the single-threaded ``service-single`` set-up probe
  (``probe.py``), and on a ``Sampler`` thread pinned to each CPU in turn
  while Spark keeps every CPU busy.

What this cannot see: a change that slows the kernel itself, such as
global interpreter state the library leaves behind, would be divided out.
The kernel runs with the cyclic GC off so that garbage left by a request
is not collected on the kernel's clock.  Every run prints the raw timings
next to the scaled ones.
"""

from __future__ import annotations

import gc
import json
import os
import statistics
import threading
import time
from html.parser import HTMLParser

REF_S = 0.5e-3  # one kernel pass at the reference speed: about the slower,
# more common of the two levels of a 4-core VM


def _page() -> str:
    """A fixed ~1.3 KB content page, built without the library."""
    words = (
        "signal content reader dense column stream engine corpus page rank "
        "shuffle block spark filter scan broadcast join window batch order"
    ).split()
    parts = ['<html><head><title>calibration</title></head><body><main>']
    for k in range(4):
        w = [words[(k * 7 + j) % len(words)] for j in range(24)]
        parts.append(
            f'<div class="section"><h2>{" ".join(w[:3])}</h2>'
            f'<p>{" ".join(w)}</p><ul><li>{w[4]}</li><li>{w[5]}</li></ul>'
            f'<picture><img src="/media/{k}.png" alt="{w[6]}"></picture></div>'
        )
    parts.append("</main></body></html>")
    return "".join(parts)


PAGE = _page()


class _Counter(HTMLParser):
    def __init__(self) -> None:
        super().__init__()
        self.tags = 0
        self.chars = 0

    def handle_starttag(self, tag, attrs) -> None:
        self.tags += 1

    def handle_data(self, data) -> None:
        self.chars += len(data)


def kernel(clock=time.perf_counter) -> float:
    """Seconds one pass of the calibration kernel takes now, on ``clock``."""
    enabled = gc.isenabled()
    gc.disable()
    try:
        t = clock()
        p = _Counter()
        p.feed(PAGE)
        p.close()
        json.loads(json.dumps(PAGE.split()))
        return clock() - t
    finally:
        if enabled:
            gc.enable()


class Sampler:
    """Runs the kernel on a background thread every ``every`` seconds
    while active, on each CPU in turn: each CPU changes speed on its own,
    and the Spark passes keep all of them busy.  The kernel is timed on
    the thread's own CPU clock, which leaves out the time the sampler
    waits for the CPU it is pinned to."""

    def __init__(self, every: float = 0.02) -> None:
        self.every = every
        self.samples: list = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        cpus = sorted(os.sched_getaffinity(0))
        while not self._stop.wait(self.every):
            os.sched_setaffinity(0, {cpus[len(self.samples) % len(cpus)]})
            self.samples.append(kernel(time.thread_time))

    def start(self) -> "Sampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()

    def __enter__(self) -> "Sampler":
        return self.start()

    def __exit__(self, *exc) -> None:
        self.stop()

    def scale(self) -> float:
        """REF_S / the mean kernel time while active."""
        return REF_S / statistics.mean(self.samples)
