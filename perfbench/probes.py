"""Outside-in probes: a /proc process-tree sampler, a Spark status-store
reader keyed by job group, a counting LLM client factory, and an
in-memory span recorder. None of them touches library internals."""

from __future__ import annotations

import json
import os
import threading
import time

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> tuple[int, float, int] | None:
    """(ppid, cpu seconds incl. reaped children, rss bytes) of ``pid``."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces: fields resume after the last ')'
    fields = raw[raw.rindex(")") + 2:].split()
    ppid = int(fields[1])
    ticks = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ppid, ticks / _CLK, int(fields[21]) * _PAGE


def host_steal_s() -> float:
    """CPU-seconds the hypervisor has withheld from this machine's
    vCPUs since boot (``steal`` in /proc/stat), summed over vCPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _CLK


class ProcTree:
    """CPU-seconds and RSS of this process and every descendant (the
    Spark JVM, the Python worker daemon and its forked workers).
    Descendants that already exited are counted through their
    parent's cutime/cstime once reaped. A background thread samples
    RSS so ``peak_rss_mb`` sees short peaks."""

    def __init__(self, interval_s: float = 0.1) -> None:
        self.root = os.getpid()
        self.peak_rss = 0
        self._lock = threading.Lock()  # the sampler thread also updates
        self._stop = threading.Event()
        self._interval = interval_s
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _tree(self) -> list[tuple[float, int]]:
        stats = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(int(name))
                if st is not None:
                    stats[int(name)] = st
        children: dict[int, list[int]] = {}
        for pid, (ppid, _, _) in stats.items():
            children.setdefault(ppid, []).append(pid)
        out, todo = [], [self.root]
        while todo:
            pid = todo.pop()
            if pid in stats:
                out.append(stats[pid][1:])
            todo.extend(children.get(pid, ()))
        return out

    def sample(self) -> tuple[float, int]:
        """(tree CPU seconds, tree RSS bytes) right now."""
        tree = self._tree()
        rss = sum(r for _, r in tree)
        with self._lock:
            self.peak_rss = max(self.peak_rss, rss)
        return sum(c for c, _ in tree), rss

    def cpu_s(self) -> float:
        return self.sample()[0]

    def _run(self) -> None:
        while not self._stop.wait(self._interval):
            self.sample()

    def start(self) -> "ProcTree":
        self.sample()
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class StatusStore:
    """Per-job-group counters read from Spark's own status store
    (``AppStatusStore``), through py4j: jobs, stages and tasks that
    ran, executor run/CPU/GC time, shuffle bytes, spill, and the
    wall intervals during which at least one job was running."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.store = sc._jsc.sc().statusStore()
        self.bus = sc._jsc.sc().listenerBus()

    def group(self, group: str, wall_s: float) -> dict[str, float]:
        # the listener bus updates the store asynchronously: drain it
        # so the last stage's task metrics are in
        self.bus.waitUntilEmpty()
        out = dict.fromkeys(
            ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
             "gc_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb"), 0.0)
        spans = []
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            job = self.store.job(jid)
            out["jobs"] += 1
            t0, t1 = _opt_ms(job.submissionTime()), _opt_ms(job.completionTime())
            if t0 is not None and t1 is not None:
                spans.append((t0, t1))
            ids = job.stageIds()
            for i in range(ids.size()):
                try:
                    st = self.store.lastStageAttempt(ids.apply(i))
                except Exception:  # stage evicted or never submitted
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                out["executor_run_s"] += st.executorRunTime() / 1e3
                out["executor_cpu_s"] += st.executorCpuTime() / 1e9
                out["gc_s"] += st.jvmGcTime() / 1e3
                out["shuffle_read_mb"] += (
                    st.shuffleLocalBytesRead() + st.shuffleRemoteBytesRead()
                ) / 2**20
                out["shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
                out["spill_mb"] += (
                    st.memoryBytesSpilled() + st.diskBytesSpilled()
                ) / 2**20
        # union of job intervals: wall time with at least one job running
        busy, end = 0.0, None
        for t0, t1 in sorted(spans):
            if end is None or t0 > end:
                busy += t1 - t0
                end = t1
            elif t1 > end:
                busy += t1 - end
                end = t1
        out["driver_only_s"] = max(wall_s - busy, 0.0)
        return out

    def persistent_rdds(self) -> int:
        return self.sc._jsc.getPersistentRDDs().size()


class CountingClient:
    """Delegates to an inner client; counts the three extraction
    calls into a Spark accumulator."""

    def __init__(self, inner, acc) -> None:
        self._inner = inner
        self._acc = acc

    def extract_patient(self, note):
        self._acc.add(1)
        return self._inner.extract_patient(note)

    def extract_practitioner(self, note):
        self._acc.add(1)
        return self._inner.extract_practitioner(note)

    def extract_immunizations(self, note):
        self._acc.add(1)
        return self._inner.extract_immunizations(note)

    def __getattr__(self, name):
        return getattr(self._inner, name)


class CountingClientFactory:
    """Zero-arg, picklable ``client_factory`` for the extraction
    operator: builds a :class:`CountingClient` around the mock on
    the executor. ``calls`` reads the driver-side total."""

    def __init__(self, sc) -> None:
        self.acc = sc.accumulator(0)

    def __call__(self):
        from odsc_agentic_ai_summit_2025_spark.llm.client import MockLLMClient

        return CountingClient(MockLLMClient(), self.acc)

    @property
    def calls(self) -> int:
        return int(self.acc.value)


class Recorder:
    """In-memory spans (name, start, end, parent, request id), plus
    status-store counters per request; written as one JSON file when
    the run ends. With ``enabled=False`` it only keeps time."""

    def __init__(self, enabled: bool, store: StatusStore | None) -> None:
        self.enabled = enabled
        self.store = store
        self.spans: list[dict] = []
        self.counters: dict[str, dict[str, float]] = {}
        self._stack: list[int] = []
        self.t0 = time.perf_counter()

    def span(self, name: str, request: str | None = None):
        rec = self

        class _Ctx:
            def __enter__(self):
                self.t0 = time.perf_counter()
                self.idx = len(rec.spans)
                parent = rec._stack[-1] if rec._stack else None
                rec.spans.append({
                    "name": name,
                    "parent": parent,
                    "request": request if request is not None else (
                        rec.spans[parent]["request"] if parent is not None
                        else None),
                    "start_s": self.t0 - rec.t0,
                    "end_s": None,
                })
                rec._stack.append(self.idx)
                self.dt = None
                return self

            def __exit__(self, *exc):
                t1 = time.perf_counter()
                rec._stack.pop()
                rec.spans[self.idx]["end_s"] = t1 - rec.t0
                self.dt = t1 - self.t0
                if not rec.enabled:
                    rec.spans.pop()  # keep nothing when untraced
                return False

        return _Ctx()

    def request(self, group: str, wall_s: float) -> dict[str, float] | None:
        """Status-store counters of one job group (traced runs only)."""
        if not self.enabled:
            return None
        c = self.store.group(group, wall_s)
        c["persistent_rdds_after"] = self.store.persistent_rdds()
        self.counters[group] = c
        return c

    def self_times(self) -> dict[str, float]:
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end_s"] - s["start_s"]
        out: dict[str, float] = {}
        for s, c in zip(self.spans, child):
            out[s["name"]] = out.get(s["name"], 0.0) + (
                s["end_s"] - s["start_s"] - c)
        return out

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({
                **extra,
                "spans": self.spans,
                "self_times_s": self.self_times(),
                "job_groups": self.counters,
            }, f, indent=1)
