"""Run environment: core count, box noise, and session parity with Bench."""
import os
import re
import threading
import time

# BENCH.md: launch loadavg above 0.2, or a steal burst above ~5%, marks a
# run whose numbers may be environment rather than code
LAUNCH_LOAD_LIMIT = 0.2
STEAL_LIMIT = 0.05


def cores():
    return len(os.sched_getaffinity(0))


def _stat():
    with open("/proc/stat") as f:
        parts = f.readline().split()[1:]
    vals = [int(x) for x in parts]
    steal = vals[7] if len(vals) > 7 else 0
    return steal, sum(vals[:8])


class StealSampler:
    """Samples the share of CPU time stolen by the hypervisor, per interval."""

    def __init__(self, interval=1.0):
        self.interval = interval
        self.samples = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        prev = _stat()
        while not self._stop.wait(self.interval):
            cur = _stat()
            total = cur[1] - prev[1]
            if total > 0:
                self.samples.append(round((cur[0] - prev[0]) / total, 4))
            prev = cur

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def noise(launch_load, steal_samples):
    reasons = []
    if launch_load > LAUNCH_LOAD_LIMIT:
        reasons.append(f"launch loadavg {launch_load:.2f} > {LAUNCH_LOAD_LIMIT}")
    burst = max(steal_samples, default=0.0)
    if burst > STEAL_LIMIT:
        reasons.append(f"steal burst {burst:.1%} > {STEAL_LIMIT:.0%}")
    return reasons


def bench_config(root, n_cores):
    """The session config `graft.Bench` sets, read from Bench.scala itself,
    with `cpus` standing for the core count and each `sys.env.getOrElse`
    taking its default."""
    src = open(os.path.join(root, "src", "main", "scala", "graft", "Bench.scala")).read()
    want = {}
    m = re.search(r'\.master\(s"local\[\$cpus\]"\)', src)
    if m:
        want["spark.master"] = f"local[{n_cores}]"
    for key, val in re.findall(r'\.config\("([^"]+)",\s*([^)]*\)?)\)', src):
        val = val.strip()
        if val.count(")") > val.count("("):
            val = val[:-1].strip()
        if val == "cpus":
            want[key] = str(n_cores)
        elif val.startswith('"'):
            want[key] = val.strip('"')
        else:
            d = re.search(r'getOrElse\("[^"]*",\s*"([^"]*)"', val)
            want[key] = d.group(1) if d else val
    return want


def parity(root, n_cores, conf):
    """Keys where the benchmark's session differs from Bench's."""
    want = bench_config(root, n_cores)
    return {k: (v, conf.get(k)) for k, v in want.items() if conf.get(k) != v}
