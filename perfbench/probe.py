"""One ``service-single`` set-up probe, run in a fresh interpreter:

    python3 -m perfbench.probe <seed>

Imports the service, generates the request pool and warms up, then
prints one JSON line: ``ready``, the wall clock when the service could
answer, ``kernel_s``, the calibration time spent inside the set-up, and
``scale``, the factor to the reference speed.  The calibration kernel is
sampled for the whole set-up, imports included, because a set-up of a
second or two can span both speed levels of a shared CPU (see
``speed.py``).  It runs from a 20 ms timer signal on the main thread, so
it times the CPU the set-up runs on; a sampler thread is scheduled on
whichever CPU is idle, and each CPU changes speed on its own.
"""

import json
import signal
import statistics
import sys
import time

from perfbench import speed

samples: list = []


def _sample(signum, frame) -> None:
    samples.append(speed.kernel())


signal.signal(signal.SIGALRM, _sample)
signal.setitimer(signal.ITIMER_REAL, 0.02, 0.02)
from perfbench import service  # noqa: E402

seed = int(sys.argv[1])
service.request_pool(seed)
service._warm_up(seed)
ready = time.time()
signal.setitimer(signal.ITIMER_REAL, 0)
print(json.dumps({
    "ready": ready, "kernel_s": sum(samples), "scale": speed.REF_S / statistics.mean(samples),
}))
